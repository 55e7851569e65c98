package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Bloom

/** Cross-batch Bloom membership — the streaming face of
  * [[Bloom]], completing the streamed-sketch family next to
  * [[CountMinStream]] (point counts) and [[HeavyHitterStream]]
  * (frequent items): benchmark/blocklist documents arrive on a stream,
  * their 8-gram bit positions fold into a committed ≤ m-row bit table,
  * and the corpus-side decontamination pre-filter
  * ([[graft.analytics.ExtensionQueries.bloomDecontamination]]'s probe)
  * reads the latest generation — an eval suite published AFTER a
  * corpus snapshot still decontaminates the next pipeline run without
  * rebuilding the filter from scratch.
  *
  * The state law is [[PackingStream]]'s generation protocol; the merge
  * is bit-set UNION (`distinct` over the unioned cell tables), which is
  * exactly `build` over the concatenated stream — set union is the
  * mergeable-summaries law in its simplest form, and like
  * [[CountMinStream]]'s addition it runs distributed: the state never
  * rides through the driver. Unlike the counting sketches the bit
  * merge is IDEMPOTENT, so a double-folded batch could not corrupt
  * membership — the replay guard exists for the meta row's inserted-
  * item accounting (and uniformity with the family's contract): a
  * replay of the committed high-water batch skips and re-emits; a
  * batch id below the high-water throws.
  *
  * The geometry (k, m) is committed with the state and validated every
  * batch and read — probing a filter built at different geometry hashes
  * to the wrong bits and can produce FALSE NEGATIVES, the one error
  * class a Bloom filter promises away, so a mismatch refuses loudly.
  *
  * Meta carries `total` = Σ per-batch distinct inserted grams — an
  * upper bound on distinct-ever items (batches may repeat grams), which
  * is the conservative direction for the (1 − e^(−kn/m))^k FP-rate
  * estimate; the measured occupancy (set-bit count / m) gives the
  * sharper (bits/m)^k estimate from the state itself.
  */
object BloomStream {

  /** State rows: one META row (`bit` null — inserted-gram upper bound,
    * high-water batch id, geometry) plus one row per set bit.
    */
  private val stateSchema = StructType(Seq(
    StructField("bit", LongType), StructField("total", LongType),
    StructField("batch_id", LongType), StructField("k", LongType),
    StructField("m", LongType)))

  private val store = new GenStore.Folded("bloom", stateSchema, 1,
      Some("bit"))(r =>
    (r.getLong(1), r.getLong(2), r.getLong(3).toInt, r.getLong(4).toInt))

  /** The committed meta under `stateDir`: (total, high-water batch_id,
    * k, m); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int, Int)] = store.meta(spark, stateDir)

  /** The committed bit table (`bit`) — a lazy read, ≤ m rows by
    * construction; empty for a fresh dir.
    */
  def bits(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler over batches carrying a `text` column
    * (benchmark docs; each contributes its distinct `n`-gram shingles).
    * `onBatch(batchId, total)` fires after the commit (or replay skip)
    * with the inserted-gram bound now in force.
    */
  def pipeline(stateDir: String, k: Int = 4, m: Int = 131072, n: Int = 8,
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(k > 0 && m > 0, s"bloom dims must be positive, got k=$k m=$m")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, pk, pm) =>
          if (pk != k || pm != m) throw new IllegalStateException(
            s"bloom state at $stateDir was built at k=$pk m=$pm; this " +
              s"pipeline runs k=$k m=$m — probing mismatched geometry can " +
              "FALSE-NEGATIVE, the one error a Bloom filter excludes; " +
              "refusing")
        },
        replay = _._1) { (prior, gen) =>
        val grams = batch.select(
          explode(graft.functions.TextFunctions.shingles(col("text"), n))
            .as("item"))
          .distinct()
        // Batch inserted-gram count: a 1-row bounded pin (distinct
        // grams, not occurrences — what the FP bound is a function of).
        val bTotal = grams.agg(count(lit(1))).head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        // Distributed merge: union ∘ distinct IS build over the
        // concatenated stream. <= m rows in, <= m out.
        gen.writeWithMeta(bits(spark, stateDir)
            .unionByName(Bloom.build(grams, k, m))
            .distinct(),
          total, batchId, k.toLong, m.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** The decontamination probe against the committed state: keep the
    * rows of `df` whose `itemCol` the filter might contain. Geometry
    * comes from the state's own meta row, so a caller cannot mis-hash;
    * a fresh (empty) state keeps nothing — no benchmark, no candidates.
    */
  def filterMembers(spark: SparkSession, stateDir: String, df: DataFrame,
      itemCol: String): DataFrame = {
    readMeta(spark, stateDir) match {
      case None => df.limit(0)
      case Some((_, _, k, m)) =>
        Bloom.filterMembers(df, itemCol, bits(spark, stateDir), k, m)
    }
  }

  /** The packed read path ([[Bloom.filterMembersPacked]] — the
    * codegen'd bitmap probe) over the committed state: same geometry
    * discipline, same result row-for-row as [[filterMembers]]
    * (spec-pinned); the form to serve when the committed benchmark
    * has grown past the bit-table broadcast's comfort (SCALE.md's
    * packed-probe section).
    */
  def filterMembersPacked(spark: SparkSession, stateDir: String,
      df: DataFrame, itemCol: String): DataFrame = {
    readMeta(spark, stateDir) match {
      case None => df.limit(0)
      case Some((_, _, k, m)) =>
        Bloom.filterMembersPacked(df, itemCol, bits(spark, stateDir), k, m)
    }
  }

  /** The serving form chosen from the state itself: the meta row's
    * inserted-gram bound drives [[Bloom.PackedCrossoverItems]] —
    * the committed benchmark's own growth flips the probe from the
    * join form to the packed expression with no caller decision and
    * no extra job (the bound rides the 1-row meta read the probe
    * already pays). Row-for-row identical either way.
    */
  def filterMembersAuto(spark: SparkSession, stateDir: String,
      df: DataFrame, itemCol: String): DataFrame = {
    readMeta(spark, stateDir) match {
      case None => df.limit(0)
      case Some((total, _, k, m)) =>
        Bloom.filterMembersAuto(df, itemCol, bits(spark, stateDir), k, m,
          nItems = Some(total))
    }
  }
}
