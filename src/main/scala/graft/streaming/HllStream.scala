package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

/** Cross-batch DISTINCT-COUNT tracking — the last missing member of the
  * streamed sketch family (counts [[CountMinStream]], frequent items
  * [[HeavyHitterStream]], membership [[BloomStream]], samples
  * [[SampleStream]]/[[WeightedSampleStream]], quantiles
  * [[DDSketchStream]] — and now cardinality): "how many distinct
  * users/tokens/grams has this stream EVER carried" as bounded
  * committed state, built on Spark's own Apache DataSketches HLL
  * aggregate family (`hll_sketch_agg` / `hll_union` /
  * `hll_sketch_estimate` — the one sketch in this family the engine
  * already ships; re-implementing the register array would be
  * redundant, what the engine does NOT provide is the PERSISTED
  * cross-batch state and its replay discipline, which is exactly this
  * store).
  *
  * The state is ONE binary sketch row (4 KB-class at lgK = 12) plus a
  * meta row. Per batch: one `hll_sketch_agg` job over the batch's
  * items (a partial+final aggregate — the exchange carries sketch
  * partials, never the item stream), then a scalar `hll_union` with
  * the committed sketch. HLL unions are register-wise max, so union of
  * sketches IS the sketch of the unioned streams — the idempotent end
  * of the mergeable-summaries spectrum, like [[BloomStream]]'s bit
  * union: re-seen items cannot inflate the estimate, which is what
  * makes a DISTINCT counter safe under at-least-once delivery in a way
  * no additive counter can be.
  *
  * Replay discipline (the family contract, uniform even though the
  * union is idempotent): a replay of the committed high-water batch
  * skips and re-emits — the guard protects the meta row's exact
  * row-total accounting; a batch below the high-water throws. lgK is
  * committed with the state and validated (DataSketches can union
  * mixed-lgK sketches by downgrading — silently changing the error
  * bound mid-stream; a monitor that sized alerts for lgK = 14 must not
  * quietly degrade to 10, so a mismatch refuses).
  *
  * This is the STREAMED face of q_rel10b's carve-out: the estimate
  * itself stays engine-specific (no DuckDB oracle — the documented
  * HLL carve-out), but stream ≡ one-shot `hll_union_agg` over the
  * per-batch sketches is spec-pinned EXACTLY (identical register
  * state ⇒ identical estimate). The one honest asymmetry: a DIRECTLY
  * built single-pass sketch can differ by a few counts, because
  * DataSketches applies the sharper HIP estimator only to sketches
  * that saw every update first-hand and the composite estimator to
  * union results — both inside the lgK error bound (the spec pins the
  * envelope); q_rel10d's audit covers the accuracy story batch-side.
  */
object HllStream {

  /** State rows: one META row (`sk` null — exact row total, high-water
    * batch id, lgK) plus one sketch row.
    */
  private val stateSchema = StructType(Seq(
    StructField("sk", BinaryType), StructField("total", LongType),
    StructField("batch_id", LongType), StructField("lgk", LongType)))

  private val store = new GenStore.Folded("hll", stateSchema, 1,
      Some("sk"))(m => (m.getLong(1), m.getLong(2), m.getLong(3).toInt))

  /** The committed meta under `stateDir`: (rowTotal, high-water
    * batch_id, lgK); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int)] = store.meta(spark, stateDir)

  /** The committed sketch row (single binary), None for a fresh dir. */
  private def sketchRow(spark: SparkSession, stateDir: String)
      : Option[Array[Byte]] =
    store.rows(spark, stateDir).collect() match {
      case Array() => None // fresh, or all-empty batches so far
      case Array(r) => Some(r.getAs[Array[Byte]](0))
      case rows => throw new IllegalStateException(
        s"hll state at $stateDir has ${rows.length} sketch rows, not " +
          "one — foreign or corrupt state")
    }

  /** lgK is committed with the state: a mixed union silently changes
    * the error bound.
    */
  private def checkLgK(what: String, stateDir: String, lgK: Int)(
      m: (Long, Long, Int)): Unit =
    if (m._3 != lgK) throw new IllegalStateException(
      s"$what state at $stateDir was sketched at lgK=${m._3}; this " +
        s"pipeline runs lgK=$lgK — a mixed union silently changes the " +
        "error bound mid-stream, refusing")

  /** One foreachBatch handler over batches carrying an `item` column.
    * `onBatch(batchId, estimate, rowTotal)` fires after the commit (or
    * replay skip) with the distinct estimate and exact row total now in
    * force.
    */
  def pipeline(stateDir: String, lgK: Int = 12,
      onBatch: (Long, Long, Long) => Unit = (_, _, _) => ())
      : (DataFrame, Long) => Unit = {
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = checkLgK("hll", stateDir, lgK), replay = _._1) {
        (prior, gen) =>
        // One partial+final sketch aggregate + the exact row count in
        // the same job (1-row bounded pin).
        val agg = batch.agg(
          hll_sketch_agg(col("item"), lit(lgK)).as("sk"),
          count(col("item")).as("n")).head()
        val bSketch = agg.getAs[Array[Byte]](0)
        val total = prior.map(_._1).getOrElse(0L) + agg.getLong(1)
        // Register-wise max union with the committed sketch — a
        // scalar expression over two 4 KB-class literals; the merged
        // sketch IS the sketch of the concatenated stream. An empty
        // batch sketches to null and contributes nothing.
        val merged = (sketchRow(spark, stateDir), Option(bSketch)) match {
          case (prev, None) => prev
          case (None, b) => b
          case (Some(prev), Some(b)) => Some(
            spark.range(1).select(hll_union(lit(prev), lit(b)).as("sk"))
              .head().getAs[Array[Byte]](0))
        }
        gen.writeWithMeta(spark.createDataFrame(
            merged.map(Row(_)).toSeq.asJava, StructType(stateSchema.take(1))),
          total, batchId, lgK.toLong)
        total
      }
      onBatch(batchId, estimate(spark, stateDir), total)
    }
  }

  /** The whole-stream distinct estimate from the committed state; 0
    * for a fresh stream.
    */
  def estimate(spark: SparkSession, stateDir: String): Long =
    sketchRow(spark, stateDir) match {
      case None => 0L
      case Some(sk) =>
        spark.range(1).select(hll_sketch_estimate(lit(sk)).as("est"))
          .head().getLong(0)
    }

  // ------------------------------------------------------------------
  // KEYED form — the streamed per-key distinct-count table, symmetric
  // with [[DDSketchStream.pipelineBy]]'s per-key quantile state: one
  // independent HLL sketch PER KEY as committed state ("distinct
  // devices per event type over everything the stream has ever
  // carried" — the reference's per-series cardinality panels, OpenSearch
  // `cardinality` aggregations split by term, answered off bounded
  // state instead of a history re-scan). State ≤ keys sketch rows
  // (4 KB-class each at lgK = 12) + one meta row; per batch ONE grouped
  // partial+final `hll_sketch_agg` job (the exchange carries sketch
  // partials, never items) and ONE distributed `groupBy(key)
  // .agg(hll_union_agg)` merge with the committed rows — the key just
  // joins the grouping, exactly the additive fold's keyed extension,
  // except the merge here is register-wise max (idempotent), so
  // per-key redelivery cannot inflate any key's estimate.
  //
  // Estimator discipline: EVERY committed sketch — including a key
  // seen in only one batch — has passed through `hll_union_agg` at
  // least once, so reads always price the composite estimator, the
  // same one a one-shot grouped union over per-batch sketches uses.
  // Without this a single-batch key would carry a direct (HIP) sketch
  // and the stream ≡ one-shot law would quietly fail on exactly the
  // rare keys where nobody would look.
  // ------------------------------------------------------------------

  private val keyedSchema = StructType(Seq(
    StructField("key", org.apache.spark.sql.types.StringType),
    StructField("sk", BinaryType), StructField("total", LongType),
    StructField("batch_id", LongType), StructField("lgk", LongType)))

  // The meta row is the one with `sk` null (a null KEY is a legal
  // group, so key-nullness cannot be the discriminator).
  private val keyedStore = new GenStore.Folded("keyed hll", keyedSchema, 2,
      Some("sk"))(m => (m.getLong(2), m.getLong(3), m.getLong(4).toInt))

  /** Committed keyed meta: (rowTotal, high-water batch_id, lgK). */
  def readKeyedMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int)] = keyedStore.meta(spark, stateDir)

  /** The committed keyed sketch table (key, sk) — ≤ keys rows; empty
    * for a fresh dir.
    */
  def keyedSketches(spark: SparkSession, stateDir: String): DataFrame =
    keyedStore.rows(spark, stateDir)

  /** One foreachBatch handler over (key, item) batches — the keyed
    * [[pipeline]] with the identical replay/stale/lgK discipline.
    * `onBatch(batchId, rowTotal)` fires after the commit (or replay
    * skip).
    */
  def pipelineBy(stateDir: String, lgK: Int = 12,
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = keyedStore.step(spark, stateDir, batchId)(
        check = checkLgK("keyed hll", stateDir, lgK), replay = _._1) {
        (prior, gen) =>
        // One grouped partial+final sketch job; ≤ keys rows out.
        val bSketch = batch
          .select(col("key").cast("string").as("key"), col("item"))
          .groupBy("key")
          .agg(hll_sketch_agg(col("item"), lit(lgK)).as("sk"),
            count(col("item")).as("n"))
        // Batch row total off the ≤ keys grouped rows (bounded pin).
        val bTotal = bSketch.agg(coalesce(sum("n"), lit(0L)))
          .head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        // Distributed register-max merge: ≤ 2 sketches per key in,
        // one out. Every survivor passes through hll_union_agg, so
        // all committed sketches price the composite estimator.
        gen.writeWithMeta(keyedSketches(spark, stateDir)
            .unionByName(bSketch.select("key", "sk"))
            .groupBy("key").agg(hll_union_agg(col("sk")).as("sk")),
          total, batchId, lgK.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** Per-key distinct estimates against the committed keyed state —
    * the live cardinality table: (key, distinct_est) for every key the
    * stream has ever carried; empty for a fresh stream.
    */
  def estimateBy(spark: SparkSession, stateDir: String): DataFrame =
    keyedSketches(spark, stateDir)
      .select(col("key"), hll_sketch_estimate(col("sk")).as("distinct_est"))
}
