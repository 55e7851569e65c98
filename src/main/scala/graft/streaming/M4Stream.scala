package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.analytics.EventQueries

/** Cross-batch M4 chart state — the LIVE face of q_agg9
  * ([[EventQueries.m4]], Jugel et al. VLDB 2014): the reference's
  * whole product is a live dashboard (sensor stream → Kibana panels),
  * and this store keeps exactly what such a panel needs about an
  * unbounded stream — per (series, fixed-grain time bucket) the M4
  * anchors (n, t_first, t_last, v_min, v_max, v_first, v_last) as
  * bounded committed state, so "draw the lifetime chart" never
  * re-scans history.
  *
  * Two design points carry the operator:
  *
  *  - **The grid is ABSOLUTE (`bucket = ts_us div grainUs`), not
  *    normalized.** q_agg9's batch form normalizes buckets to the
  *    corpus min/max — a stream cannot, because its range grows; a
  *    fixed grain keeps every bucket's identity stable across
  *    batches, which is what makes the state mergeable and
  *    out-of-order arrivals land in the right pixel. The grain is
  *    committed with the state and validated on every batch (merging
  *    two grids is meaningless — refused).
  *  - **M4 anchors merge associatively**: n sums; v_min/v_max take
  *    min/max; (t_first, v_first) merges by lexicographic struct MIN
  *    (earliest timestamp wins; a same-µs tie falls through to the
  *    MIN value — the exact tie law of the batch operator's raw-row
  *    reduction, so merged anchors equal the anchors of the merged
  *    raw data, not merely an approximation of them); (t_last,
  *    v_last) dually by struct MAX. The same merge powers
  *    [[coarsened]]: zoom-out re-buckets committed fine anchors into
  *    coarser pixels EXACTLY (rows sharing a µs share a fine bucket,
  *    so no tie information is lost at the seam) — ingest once at
  *    fine grain, render at any integer-multiple zoom.
  *
  * Per batch: ONE grouped anchor job over the batch
  * ([[EventQueries.m4Anchors]] — the batch operator's own core,
  * shared code) and one distributed merge with the committed ≤
  * keys·buckets rows; the exchange carries anchor rows (8 scalars),
  * never the event stream. Driver pins: the 1-row meta read and the
  * 1-row batch count.
  *
  * Replay discipline (the family contract): anchors are additive in
  * `n`, so a replay of the committed high-water batch SKIPS (the
  * [[CountMinStream]] law — re-merging would double-count n and
  * corrupt first/last timestamps is the one thing it would NOT do,
  * which is exactly why the guard exists: the damage would be
  * invisible on the chart and visible in every count); a batch below
  * the high-water throws.
  */
object M4Stream {

  /** State rows: one META row (`bucket` null — exact row total,
    * high-water batch id, grain µs) plus one row per non-empty
    * (key, bucket) anchor.
    */
  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("bucket", LongType),
    StructField("n", LongType), StructField("cents", LongType),
    StructField("t_first_us", LongType), StructField("t_last_us", LongType),
    StructField("v_min", DoubleType), StructField("v_max", DoubleType),
    StructField("v_first", DoubleType), StructField("v_last", DoubleType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("grain_us", LongType)))

  private val anchorCols = Seq("key", "bucket", "n", "cents", "t_first_us",
    "t_last_us", "v_min", "v_max", "v_first", "v_last")

  private val store = new GenStore.Folded("m4", stateSchema, 10,
      Some("bucket"))(m => (m.getLong(10), m.getLong(11), m.getLong(12)))

  /** The committed meta under `stateDir`: (rowTotal, high-water
    * batch_id, grainUs); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long)] = store.meta(spark, stateDir)

  /** The committed anchor table — ≤ keys·buckets rows; empty for a
    * fresh dir.
    */
  def anchors(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** The associative anchor merge — grouped lexicographic-struct
    * min/max for first/last, plain min/max/sum for the rest. Exact:
    * merged anchors ≡ anchors of the merged raw rows.
    */
  private def mergeAnchors(df: DataFrame): DataFrame =
    df.groupBy("key", "bucket").agg(
        sum("n").as("n"), sum("cents").as("cents"),
        min(struct(col("t_first_us"), col("v_first"))).as("sf"),
        max(struct(col("t_last_us"), col("v_last"))).as("sl"),
        min("v_min").as("v_min"), max("v_max").as("v_max"))
      .select(col("key"), col("bucket"), col("n"), col("cents"),
        col("sf.t_first_us").as("t_first_us"),
        col("sl.t_last_us").as("t_last_us"),
        col("v_min"), col("v_max"),
        col("sf.v_first").as("v_first"), col("sl.v_last").as("v_last"))

  /** One foreachBatch handler over batches carrying (`key`, `ts_us`,
    * `value`). `onBatch(batchId, rowTotal)` fires after the commit
    * (or replay skip).
    */
  def pipeline(stateDir: String, grainUs: Long = 3600000000L,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      targetRowsPerFile: Long = 2000000L)
      : (DataFrame, Long) => Unit = {
    require(grainUs > 0, s"grain must be positive, got $grainUs µs")
    require(targetRowsPerFile > 0,
      s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, pg) =>
          if (pg != grainUs) throw new IllegalStateException(
            s"m4 state at $stateDir is bucketed at grain=$pg µs; this " +
              s"pipeline runs grain=$grainUs µs — two grids cannot merge, " +
              "refusing")
        },
        replay = _._1) { (_, gen) =>
        // Null guard: a null ts_us would bucket to null and collide
        // with the meta row's bucket-is-null discriminator, bricking
        // every later readMeta — and a timeless sample is not a
        // chart point. Null keys are fine (they group as a series).
        val bAnchors = EventQueries.m4Anchors(
          batch.where(col("ts_us").isNotNull).select(
            col("key").cast("string").as("event_type"),
            expr(s"ts_us div $grainUs").as("bucket"),
            col("ts_us"), col("value")))
          .withColumnRenamed("event_type", "key")
        // Hash-partitioned rewrite (the CohortStream sizing
        // discipline): unlike the fixed-geometry sketch stores, this
        // state grows with stream LIFETIME (buckets ∝ time), so the
        // file count tracks ⌈anchor rows / targetRowsPerFile⌉ off
        // the prior generation's footer row count (a metadata-only
        // read — no filter, no column scan).
        val prevRows = gen.prior.lastOption.map(g =>
          spark.read.schema(stateSchema)
            .parquet(GenStore.dir(stateDir, g)).count()).getOrElse(0L)
        val nFiles = math.max(1L,
          (prevRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        gen.write(mergeAnchors(anchors(spark, stateDir).unionByName(
            bAnchors.select(anchorCols.head, anchorCols.tail: _*))))(
          _.repartition(nFiles, col("key"), col("bucket")))
        // Raw-row total: n sums are preserved by the merge, so the
        // lifetime total is sum(n) over the COMMITTED anchor rows —
        // the exact pin off written bytes, and the merge executes
        // exactly once (the old pre-write batch count re-derived the
        // batch anchors for the write action).
        val total = spark.read.schema(stateSchema).parquet(gen.dir)
          .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
        gen.appendMeta(total, batchId, grainUs)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** Zoom-out read: the committed fine-grain anchors re-bucketed into
    * `factor`-times-coarser pixels through the SAME associative merge
    * — exact (≡ running the batch operator at the coarse grain over
    * everything the stream has carried), because time buckets nest
    * and same-µs ties never straddle a fine bucket.
    */
  def coarsened(spark: SparkSession, stateDir: String, factor: Int)
      : DataFrame = {
    require(factor > 0, s"zoom factor must be positive, got $factor")
    mergeAnchors(
      anchors(spark, stateDir)
        .withColumn("bucket", expr(s"bucket div $factor")))
  }

  /** EWMA smoothing read — the streamed face of q_agg10
    * ([[graft.analytics.EventQueries.ewmaSmooth]]), computed OFF the
    * committed state: per (key, bucket) the trailing-`window`-bucket
    * exponentially-weighted mean of bucket means, weight 2^−Δbuckets.
    * This is why the anchors carry the exact integer `cents` mass —
    * bucket means derive as cents/(100·n) in exact double arithmetic,
    * the weights are integer exponent shifts, and the fold runs in
    * ascending-bucket order, so the smoothed series is
    * BIT-deterministic (q_agg10's discipline) and, because summed
    * cents ARE the cents of the concatenated stream, stream-then-
    * smooth ≡ smooth-over-everything EXACTLY. One more reason the
    * state design pays: chart (anchors), zoom ([[coarsened]]) and
    * smoothing all read the same ≤ keys·buckets rows without touching
    * history. Output: (key, bucket, n, mean_v, ewma_v) — raw doubles.
    */
  /** Seasonal anomaly read — the streamed face of q_agg11
    * ([[graft.analytics.EventQueries.seasonalAnomalies]]) off the same
    * committed state: every bucket's mean scored against the baseline
    * of the SAME phase (bucket mod `period` — hour-of-day at hourly
    * grain) across the stream's whole history, z rounded at 4dp
    * BEFORE thresholding (the q_agg6/q_agg11 flag discipline). The
    * fourth read over the one ≤ keys·buckets state: chart (anchors),
    * zoom ([[coarsened]]), smoothing ([[smoothed]]), alerting — a
    * kappa dashboard's whole read surface, none of it re-scanning
    * history. Output: (key, bucket, phase, mean_v, z) for flagged
    * buckets only.
    */
  def anomalies(spark: SparkSession, stateDir: String, period: Long = 24L,
      threshold: Double = 2.0): DataFrame = {
    require(period > 0, s"period must be positive, got $period")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key", "phase")
    anchors(spark, stateDir)
      .select(col("key"), col("bucket"),
        // pmod, not %: Spark's % follows the dividend's sign, so a
        // pre-epoch bucket (negative ts_us) would split the same
        // hour-of-day into two baseline groups.
        pmod(col("bucket"), lit(period)).as("phase"),
        (col("cents").cast("double") /
          (lit(100.0) * col("n").cast("double"))).as("mean_v"))
      .withColumn("mu", avg(col("mean_v")).over(w))
      .withColumn("sd", stddev_samp(col("mean_v")).over(w))
      .where(col("sd") > 0)
      .withColumn("z", round((col("mean_v") - col("mu")) / col("sd"), 4))
      .where(abs(col("z")) > threshold)
      .select("key", "bucket", "phase", "mean_v", "z")
  }

  /** Gap-filled read — the streamed face of q_agg5
    * ([[graft.analytics.EventQueries.gapFill]]) off the same committed
    * state, the FIFTH read on the one ≤ keys·buckets table (chart,
    * zoom, smoothing, alerting, and now the gap-free panel line): per
    * key, the dense bucket spine from its first to its last observed
    * bucket (integer `sequence` off a bounded per-key min/max
    * aggregate), left-joined to the anchors, empty buckets carrying
    * n = 0 and the last observed mean forward (`last(ignoreNulls)`
    * over the per-key bucket order — the q_agg5 LOCF law, here
    * PARTITIONED by key where the oracled batch form is global).
    * Means are the family's cents/(100·n) exact-mass means, so
    * stream-then-gapfill ≡ gapfill over everything the stream
    * carried. Output: (key, bucket, n, mean_ff).
    */
  def gapFilled(spark: SparkSession, stateDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = anchors(spark, stateDir)
      .select(col("key"), col("bucket"), col("n"),
        (col("cents").cast("double") /
          (lit(100.0) * col("n").cast("double"))).as("mean_v"))
    val spine = a.groupBy("key")
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
      .select(col("key"),
        explode(expr("sequence(lo, hi, 1L)")).as("bucket"))
    val w = Window.partitionBy("key").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(a, Seq("key", "bucket"), "left")
      .select(col("key"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("mean_v"), ignoreNulls = true).over(w).as("mean_ff"))
  }

  def smoothed(spark: SparkSession, stateDir: String, window: Int = 48)
      : DataFrame = {
    require(window > 0 && window <= 62,
      s"window must be in [1, 62] buckets (exponent-shift weights), got $window")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key").orderBy("bucket")
      .rangeBetween(-(window - 1).toLong, 0L)
    val shiftW = "cast(shiftleft(cast(1 as bigint), " +
      "cast(bucket - x.b as int)) as double)"
    anchors(spark, stateDir)
      .select(col("key"), col("bucket"), col("n"),
        (col("cents").cast("double") /
          (lit(100.0) * col("n").cast("double"))).as("mean_v"))
      .withColumn("win",
        collect_list(struct(col("bucket").as("b"), col("mean_v").as("v")))
          .over(w))
      .select(col("key"), col("bucket"), col("n"), col("mean_v"),
        (expr(s"aggregate(win, 0D, (acc, x) -> acc + x.v / $shiftW)") /
          expr(s"aggregate(win, 0D, (acc, x) -> acc + 1.0D / $shiftW)"))
          .as("ewma_v"))
  }
}
