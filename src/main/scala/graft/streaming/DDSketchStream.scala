package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.DDSketch

/** Cross-batch quantile tracking — the streaming face of [[DDSketch]],
  * completing the streamed-sketch family next to [[CountMinStream]]
  * (point counts), [[HeavyHitterStream]] (frequent items),
  * [[BloomStream]] (membership) and [[SampleStream]] /
  * [[WeightedSampleStream]] (samples): value rows arrive on a stream,
  * their log-γ bucket counts fold into a committed ≤ #buckets table,
  * and [[quantiles]] answers "p99 of everything the stream has ever
  * carried" with DDSketch's relative-error guarantee intact — because
  * summed bucket counts ARE the sketch of the concatenated stream
  * (elementwise addition, [[CountMinStream]]'s law exactly).
  *
  * Why this member matters operationally: Spark's own
  * `percentile_approx` is an in-query aggregate — its state cannot be
  * PERSISTED and merged across micro-batches, so before this store the
  * streamed family had counts, frequent items, membership and samples
  * but no quantiles; a latency/price SLO monitor over a kappa pipeline
  * had to re-scan history. The state law is the generation protocol:
  * per batch ONE partial-aggregate job buckets the batch's values
  * (exchange ≤ #buckets rows per task), the prior generation unions
  * in, and a distributed `groupBy(bucket).sum` writes the next
  * generation. Driver pins: the 1-row meta read and the 1-row batch
  * count.
  *
  * Replay discipline (the family contract): a replay of the committed
  * high-water batch SKIPS the merge and re-emits (adding twice would
  * double the replayed values' mass and silently bias every quantile
  * toward them); a batch below the high-water throws. The accuracy α
  * is committed with the state (µ-scaled to keep the meta row
  * integer) and validated on every batch and read — buckets indexed at
  * a different γ are a different log grid entirely, so a mismatch
  * refuses instead of merging apples into oranges.
  *
  * The optional collapsing cap (`maxBuckets`, [[DDSketch.collapse]] —
  * Masson et al. §2.4) hard-bounds the committed state at m rows
  * (≤ keys·m keyed) against pathological value ranges, and is itself
  * committed + validated in the meta (two streams collapsed at
  * different m have genuinely different low-bucket resolution — they
  * refuse to merge). Per-batch collapsing loses nothing the one-shot
  * cap would keep: collapse is merge-compatible ([[DDSketch.collapse]]
  * — cutoffs only rise under union, pooled mass re-pools), so the
  * committed table equals collapse(one-shot sketch, m) CELL FOR CELL
  * for any slicing, and every quantile whose answer lands above the
  * cutoff is exactly the uncapped stream's, α intact
  * (DDSketchStreamSpec pins both on a planted wide-range corpus).
  */
object DDSketchStream {

  /** State rows: one META row (`bucket` null — exact positive-value
    * total, high-water batch id, α·10⁶) plus one row per non-empty
    * bucket.
    */
  private val stateSchema = StructType(Seq(
    StructField("bucket", LongType), StructField("n", LongType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("alpha_micro", LongType),
    StructField("max_buckets", LongType)))

  private def alphaMicro(alpha: Double): Long = math.round(alpha * 1e6)

  private val store = new GenStore.Folded("ddsketch", stateSchema, 2,
      Some("bucket"))(m =>
    (m.getLong(2), m.getLong(3), m.getLong(4), m.getLong(5)))

  /** The committed meta under `stateDir`: (total, high-water batch_id,
    * alphaMicro, maxBuckets — 0 = uncapped); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long, Long)] = store.meta(spark, stateDir)

  /** The committed bucket table (bucket, n) — ≤ #buckets rows; empty
    * for a fresh dir.
    */
  def buckets(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** Structural check shared by both forms: α and the collapse cap are
    * committed with the state.
    */
  private def checkGrid(what: String, stateDir: String, alpha: Double,
      maxBuckets: Int)(m: (Long, Long, Long, Long)): Unit = {
    val (_, _, pam, pmb) = m
    if (pam != alphaMicro(alpha)) throw new IllegalStateException(
      s"$what state at $stateDir was bucketed at alpha=${pam / 1e6}; " +
        s"this pipeline runs alpha=$alpha — different γ grids cannot " +
        "merge, refusing")
    if (pmb != maxBuckets.toLong) throw new IllegalStateException(
      s"$what state at $stateDir was capped at m=$pmb buckets; " +
        s"this pipeline runs m=$maxBuckets — collapse levels cannot " +
        "merge, refusing")
  }

  /** One foreachBatch handler over batches carrying a `value` column
    * (positives sketch; non-positive rows are outside the log grid and
    * are dropped, as in the batch operator). `onBatch(batchId, total)`
    * fires after the commit (or replay skip) with the stream's
    * positive-value total now in force.
    */
  def pipeline(stateDir: String, alpha: Double = 0.01,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      maxBuckets: Int = 0)
      : (DataFrame, Long) => Unit = {
    val am = alphaMicro(alpha)
    DDSketch.gamma(alpha) // validates alpha eagerly
    require(maxBuckets == 0 || maxBuckets >= 2,
      s"maxBuckets must be 0 (uncapped) or >= 2, got $maxBuckets")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = checkGrid("ddsketch", stateDir, alpha, maxBuckets),
        replay = _._1) { (prior, gen) =>
        val bSketch = DDSketch.sketch(batch.select("value"), alpha)
        // Batch positive-value total — a 1-row bounded pin.
        val bTotal = bSketch.agg(coalesce(sum("n"), lit(0L)))
          .head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        // Distributed merge: summed bucket counts ARE the sketch of
        // the concatenated stream. <= #buckets rows in and out.
        val folded = buckets(spark, stateDir)
          .unionByName(bSketch)
          .groupBy("bucket").agg(sum("n").as("n"))
        // The collapsing cap (DDSketch.collapse): committed state is
        // hard-bounded at m rows; mass only moves UP, so every
        // quantile answered above the cutoff stays exactly what the
        // uncapped stream would answer.
        gen.writeWithMeta(
          if (maxBuckets >= 2) DDSketch.collapse(folded, maxBuckets)
          else folded,
          total, batchId, am, maxBuckets.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** Quantile estimates against the committed state: α comes from the
    * state's own meta row, so a caller cannot mis-grid. Empty result
    * for a fresh stream (no values, no quantiles).
    */
  def quantiles(spark: SparkSession, stateDir: String, qs: Seq[Double])
      : DataFrame = {
    readMeta(spark, stateDir) match {
      case None =>
        import spark.implicits._
        Seq.empty[(Double, Double, Long)].toDF("q", "est", "n_total")
      case Some((_, _, am, _)) =>
        DDSketch.quantiles(buckets(spark, stateDir), am / 1e6, qs)
    }
  }

  // ------------------------------------------------------------------
  // KEYED form — the streamed per-metric SLO table: one independent
  // quantile sketch PER KEY as committed state ([[DDSketch.sketchBy]]'s
  // grouped relation under the generation protocol; ≤ keys · buckets
  // rows, merged with the same distributed additive fold — the key just
  // joins the grouping). "p99 temperature per sensor over everything
  // the stream has ever carried" is the reference's own dashboard
  // question (OpenSearch percentile panels per series), answerable
  // here without re-scanning history.
  // ------------------------------------------------------------------

  private val keyedSchema = StructType(Seq(
    StructField("key", org.apache.spark.sql.types.StringType),
    StructField("bucket", LongType), StructField("n", LongType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("alpha_micro", LongType),
    StructField("max_buckets", LongType)))

  private val keyedStore = new GenStore.Folded("keyed ddsketch",
      keyedSchema, 3, Some("bucket"))(m =>
    (m.getLong(3), m.getLong(4), m.getLong(5), m.getLong(6)))

  /** Committed keyed meta: (total, high-water batch_id, alphaMicro,
    * maxBuckets — 0 = uncapped). */
  def readKeyedMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long, Long)] = keyedStore.meta(spark, stateDir)

  /** The committed keyed bucket table (key, bucket, n). */
  def keyedBuckets(spark: SparkSession, stateDir: String): DataFrame =
    keyedStore.rows(spark, stateDir)

  /** One foreachBatch handler over (key, value) batches — the keyed
    * [[pipeline]] with the identical replay/stale/α discipline.
    */
  def pipelineBy(stateDir: String, alpha: Double = 0.01,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      maxBuckets: Int = 0)
      : (DataFrame, Long) => Unit = {
    val am = alphaMicro(alpha)
    DDSketch.gamma(alpha) // validates alpha eagerly
    require(maxBuckets == 0 || maxBuckets >= 2,
      s"maxBuckets must be 0 (uncapped) or >= 2, got $maxBuckets")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = keyedStore.step(spark, stateDir, batchId)(
        check = checkGrid("keyed ddsketch", stateDir, alpha, maxBuckets),
        replay = _._1) { (prior, gen) =>
        val bSketch = DDSketch.sketchBy(
          batch.select(col("key").cast("string").as("key"), col("value")),
          alpha, Seq("key"))
        val bTotal = bSketch.agg(coalesce(sum("n"), lit(0L)))
          .head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        val folded = keyedBuckets(spark, stateDir)
          .unionByName(bSketch)
          .groupBy("key", "bucket").agg(sum("n").as("n"))
        // Per-key collapsing cap: <= keys·m rows committed no matter
        // what any one series' value range does.
        gen.writeWithMeta(
          if (maxBuckets >= 2)
            DDSketch.collapseBy(folded, maxBuckets, Seq("key"))
          else folded,
          total, batchId, am, maxBuckets.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** Per-key quantile estimates against the committed keyed state —
    * the live SLO table: (key, q, est, n_total) for every key the
    * stream has ever carried.
    */
  def quantilesBy(spark: SparkSession, stateDir: String, qs: Seq[Double])
      : DataFrame = {
    readKeyedMeta(spark, stateDir) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, Double, Double, Long)]
          .toDF("key", "q", "est", "n_total")
      case Some((_, _, am, _)) =>
        DDSketch.quantilesBy(keyedBuckets(spark, stateDir), am / 1e6, qs,
          Seq("key"))
    }
  }
}
