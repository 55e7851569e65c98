package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

/** Cross-batch bivariate statistics — the streamed face of q_agg3
  * (per-key Pearson correlation) and q_agg12 (per-key OLS regression):
  * one bounded moment table as committed state, every read derived
  * from it at read time.
  *
  * THE STATE LAW: Pearson corr, OLS slope/intercept and r² are all
  * functions of the five raw moments (Σx, Σy, Σx², Σy², Σxy) plus n —
  * and raw moments are EXACTLY additive, the property the engine's
  * own `corr`/`regr_*` aggregates exploit map-side but cannot persist
  * (their double co-moment state is neither write-outable nor
  * order-independent). This store makes the moment vector itself the
  * committed state, with two quantization choices that buy exactness:
  *
  *  - coordinates enter as integer micro-units (`round(v·1e6)`
  *    HALF_UP per row — the [[M4Stream]]/[[SessionStream]] mass
  *    discipline), so there is no float-sum association order to
  *    coordinate across batches or partitions;
  *  - sums accumulate as decimal(38,0) (a micro-scaled product is
  *    ~10¹⁸ per row — long overflows within one big batch; 38-digit
  *    decimal holds 10²⁰ such rows), so the merge is bit-identical
  *    for ANY slicing and replay order: stream ≡ one-shot to the last
  *    digit, not to a tolerance.
  *
  * corr and r² are scale-invariant under the shared micro factor and
  * slope is a ratio of like-scaled co-moments, so the micro domain
  * changes nothing but an ≤0.5e-6 per-coordinate quantization;
  * intercept is micro-scaled and divided back at read time.
  *
  * Per batch: one partial aggregate per key over the batch (the only
  * pass over the data — map-side combine makes the exchange carry
  * ≤ keys rows), a union with the ≤ keys committed rows, one grouped
  * sum. State is ≤ keys · 7 columns — sketch-family bounded (the
  * CMS/DDSketch adjudication: a `coalesce(1)` write is fine), tiny on
  * disk. Replay discipline (family contract — load-bearing here, the
  * counters are additive): replay of the high-water batch skips,
  * stale throws; the µs scale is committed in the meta row and
  * validated. Null guard: rows with a null key, x or y drop before
  * the merge (pairwise-complete semantics, matching `corr`/`regr_*`;
  * the meta row discriminates on key-is-null).
  */
object MomentStream {

  val Scale = 1000000L

  private val Dec = DecimalType(38, 0)

  /** State rows: one META row (`key` null — key-row total, high-water
    * batch id, the µs scale) plus one moment row per key.
    */
  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("n", LongType),
    StructField("sx", Dec), StructField("sy", Dec),
    StructField("sxx", Dec), StructField("syy", Dec),
    StructField("sxy", Dec),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("scale", LongType)))

  private val store = new GenStore.Folded("moment", stateSchema, 7,
      Some("key"))(m => (m.getLong(7), m.getLong(8), m.getLong(9)))

  /** The committed meta under `stateDir`: (keyRows, high-water
    * batch_id, scale); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long)] = store.meta(spark, stateDir)

  /** The committed per-key moment rows; empty for a fresh dir. */
  def moments(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler over batches carrying (`key`, `x`, `y`).
    * `onBatch(batchId, keyRows)` fires after the commit (or replay
    * skip).
    */
  def pipeline(stateDir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, ps) =>
          if (ps != Scale) throw new IllegalStateException(
            s"moment state at $stateDir is quantized at scale=$ps; this " +
              s"pipeline runs scale=$Scale — moments at different scales " +
              "cannot merge, refusing")
        },
        replay = _._1) { (_, gen) =>
        val xm = round(col("x") * lit(Scale), 0).cast(Dec)
        val ym = round(col("y") * lit(Scale), 0).cast(Dec)
        val partial = batch
          .where(col("key").isNotNull && col("x").isNotNull &&
            col("y").isNotNull)
          .select(col("key").cast("string").as("key"), xm.as("xm"),
            ym.as("ym"))
          .groupBy("key")
          .agg(count(lit(1)).as("n"),
            sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
            sum(col("xm") * col("xm")).as("sxx"),
            sum(col("ym") * col("ym")).as("syy"),
            sum(col("xm") * col("ym")).as("sxy"))
        gen.write(moments(spark, stateDir).unionByName(
            partial.select(col("key"), col("n"),
              col("sx").cast(Dec), col("sy").cast(Dec),
              col("sxx").cast(Dec), col("syy").cast(Dec),
              col("sxy").cast(Dec)))
          .groupBy("key")
          .agg(sum("n").as("n"),
            sum("sx").cast(Dec).as("sx"), sum("sy").cast(Dec).as("sy"),
            sum("sxx").cast(Dec).as("sxx"),
            sum("syy").cast(Dec).as("syy"),
            sum("sxy").cast(Dec).as("sxy")))(_.coalesce(1))
        val total = gen.written
        gen.appendMeta(total, batchId, Scale)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** The live statistics table — q_agg3's corr and q_agg12's OLS fit
    * per key, derived from the committed exact moments at read time
    * (≤ keys rows of decimal arithmetic; the corpus is never
    * touched). corr/r² are micro-scale-invariant; intercept divides
    * the micro factor back out. Degenerate keys (n < 2 or zero
    * variance on either side) read null, matching the engine
    * aggregates' NaN-free SQL convention.
    */
  /** Univariate read off the same state: per-key mean / variance /
    * stddev of the y coordinate (q_agg6's per-key baseline, live) —
    * the moment vector already carries (n, Σy, Σy²), so the z-score
    * denominator is a projection, not a new pass. Population variance
    * in the micro domain divided back out; single-point keys read
    * null variance. A caller that only needs univariate statistics
    * feeds x = y; nothing extra is stored either way.
    */
  def meanVar(spark: SparkSession, stateDir: String): DataFrame = {
    val n = col("n").cast(Dec)
    val varYN = col("syy") * n - col("sy") * col("sy") // n·Σy² − (Σy)²
    val ok = col("n") > 1
    val scale2 = Scale.toDouble * Scale.toDouble
    moments(spark, stateDir)
      .withColumn("mean_y",
        col("sy").cast("double") / col("n") / lit(Scale.toDouble))
      .withColumn("var_y", when(ok,
        varYN.cast("double") / col("n") / col("n") / lit(scale2)))
      .withColumn("stddev_y", sqrt(col("var_y")))
      .select("key", "n", "mean_y", "var_y", "stddev_y")
      .orderBy("key")
  }

  def stats(spark: SparkSession, stateDir: String): DataFrame = {
    val n = col("n").cast(Dec)
    val covN = col("sxy") * n - col("sx") * col("sy")   // n·Σxy − Σx·Σy
    val varXN = col("sxx") * n - col("sx") * col("sx")  // n·Σx² − (Σx)²
    val varYN = col("syy") * n - col("sy") * col("sy")
    val ok = (col("n") > 1) && (varXN > 0) && (varYN > 0)
    moments(spark, stateDir)
      .withColumn("corr", when(ok,
        covN.cast("double") /
          sqrt(varXN.cast("double")) / sqrt(varYN.cast("double"))))
      .withColumn("slope", when(ok,
        covN.cast("double") / varXN.cast("double")))
      .withColumn("intercept", when(ok,
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n") / lit(Scale.toDouble)))
      .withColumn("r2", when(ok, col("corr") * col("corr")))
      .select("key", "n", "corr", "slope", "intercept", "r2")
      .orderBy("key")
  }
}
