package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DDSketch (Masson, Lee, Rim — VLDB 2019, "DDSketch: A Fast and
  * Fully-Mergeable Quantile Sketch with Relative-Error Guarantees") as
  * a bounded bucket TABLE — the QUANTILE member completing the sketch
  * family next to [[CountMin]] (point counts, overcount-side),
  * [[HeavyHitters]] (frequent items, undercount-side), [[Bloom]]
  * (membership, no false negatives) and [[Sampling]] (bottom-k
  * samples):
  *
  *   - bucket(x) = ceil(log_γ x) with γ = (1+α)/(1−α), so every
  *     positive value lands in the bucket whose boundaries are γ
  *     apart; reporting the bucket's log-space midpoint
  *     2·γ^b/(γ+1) is within RELATIVE error α of any value in the
  *     bucket — a GUARANTEE on the quantile value itself, which is
  *     what an SLO/latency/price question actually asks (rank-error
  *     sketches like GK bound the rank, not the value).
  *   - State is ≤ ⌈log_γ(max/min)⌉ buckets regardless of row count —
  *     for α = 1%, the whole positive double range fits in ~35k
  *     buckets and a realistic value column in a few hundred.
  *   - Merging is elementwise ADDITION of bucket counts — the same
  *     mergeable-summaries law as [[CountMin]], so the streamed form
  *     ([[graft.streaming.DDSketchStream]]) folds batches with one
  *     distributed groupBy(bucket).sum and never rides the driver.
  *
  * The Spark form mirrors [[CountMin.sketch]]: one declarative
  * partial+final aggregate whose exchange is bounded at ≤ #buckets
  * rows per task — never the value stream.
  *
  * Cross-engine determinism: the bucket index rounds ln(x)/ln(γ) to
  * 9dp BEFORE the ceil (both engines), absorbing the ≤ 1-ulp libm
  * spread between Spark's and DuckDB's `ln`; a value would have to sit
  * within 5·10⁻¹⁰ of a bucket boundary in log space to flip (the
  * q_ml20 documented-1-ulp discipline). The γ^b in the estimate is one
  * `power` call whose cross-libm spread vanishes under the 6dp output
  * round.
  */
object DDSketch {

  /** γ for a target relative accuracy α ∈ (0, 1). */
  def gamma(alpha: Double): Double = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    (1 + alpha) / (1 - alpha)
  }

  /** The bucket index column: ceil(round(ln(x)/ln(γ), 9)). Callers
    * filter to x > 0 first (the paper's sign-split handles negatives by
    * a mirrored sketch; this repo's value columns — prices, durations,
    * counts — are positive domains).
    */
  def bucketOf(value: Column, alpha: Double): Column =
    ceil(round(log(value) / math.log(gamma(alpha)), 9)).cast("long")

  /** Build the sketch over `values` (column `value`, positives only —
    * non-positive rows are dropped, counted by the caller if they
    * matter): a (bucket, n) table, ≤ ⌈log_γ(max/min)⌉ rows. One
    * partial+final aggregate; the exchange carries buckets, not values.
    */
  def sketch(values: DataFrame, alpha: Double): DataFrame =
    values.where(col("value") > 0)
      .select(bucketOf(col("value"), alpha).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  /** Grouped form: one sketch PER KEY in a single aggregate — the
    * (key, bucket, n) table is how a per-tenant/per-metric SLO monitor
    * holds thousands of independent quantile sketches in one bounded
    * relation (≤ keys · buckets rows; the exchange still carries
    * buckets, never values).
    */
  def sketchBy(values: DataFrame, alpha: Double,
      keys: Seq[String]): DataFrame =
    values.where(col("value") > 0)
      .groupBy((keys.map(col) :+ bucketOf(col("value"), alpha).as("bucket")): _*)
      .agg(count(lit(1)).as("n"))

  /** The COLLAPSING cap (Masson et al. §2.4): when a sketch exceeds
    * `m` buckets, every bucket below the m-th-largest index collapses
    * into that bucket — state becomes hard-bounded at m rows against
    * a pathological value range (the uncapped bound ⌈log_γ(max/min)⌉
    * is ~few hundred on realistic columns but ~35k over the full
    * positive double range at α=1%). The guarantee that survives is
    * the one the paper keeps and an SLO monitor needs: collapsing
    * only moves mass UP to the cutoff bucket, so the cumulative count
    * at any bucket above the cutoff is unchanged — every quantile
    * whose answer lands above the cutoff (the upper quantiles, p95/
    * p99, as long as ≤ (1−q)·N mass sits above it) is IDENTICAL to
    * the uncapped sketch's, α intact; quantiles at/below the cutoff
    * degrade one-sidedly to the cutoff's midpoint (an overestimate,
    * never an underestimate — DDSketchSpec pins both halves).
    *
    * Collapse is MERGE-COMPATIBLE: collapse(collapse(A)+B, m) =
    * collapse(A+B, m) cell-for-cell, because an index a collapse
    * removes is below its cutoff, the union's cutoff is ≥ every
    * member's (top-m of a superset), and mass pooled at an old cutoff
    * re-pools at the new one — removing already-below-cutoff indices
    * never changes a later top-m. This is what lets
    * [[graft.streaming.DDSketchStream]] apply the cap per batch and
    * still commit exactly the one-shot capped table
    * (DDSketchStreamSpec pins it for an arbitrary slicing).
    *
    * Shape: the cutoff is min-of-top-m (a TakeOrderedAndProject over
    * the bounded table — when the sketch has ≤ m buckets it equals
    * the global min and the re-group is the identity), broadcast onto
    * the table, one bounded re-aggregate.
    */
  /** Store-cached exact-quantile TRUTH walk (round 20): the
    * distinct-value cumulative table `(keys..., value, cum, total)`
    * that the dd-quantile audits (q_rel10f/q_rel10i/q_agg8) join their
    * sketch estimates against. The walk is the audits' pay-for-truth
    * side — deterministic per (session, values plan, keys), exactly
    * the [[Similarity.cachedTruth]] artifact class — so one build per
    * JVM serves every audit and rep; the SKETCH side (the estimator
    * being certified) stays honestly re-executed per query. `total`
    * is folded into the artifact (the grouped counts sum — identical
    * to the separate count(*) the audits previously re-scanned the
    * fact table for).
    */
  def cachedValueCum(values: DataFrame, keys: Seq[String] = Nil): DataFrame =
    Similarity.storeCachedKeyed("vcum",
      Seq(values.sparkSession,
        values.queryExecution.analyzed.canonicalized, keys),
      valueCumTwoLevel(values, keys))

  /** The round-21 build (VERDICT r20 #5): a TWO-LEVEL prefix sum
    * replacing the per-key (or, for `keys = Nil`, GLOBAL partition-less)
    * window over ALL distinct values — the one unbounded-partition
    * WindowExec the round-20 audit left in the artifact build. Values
    * group by their binary exponent (`grp = floor(log2 v)` — a
    * deterministic range key with ≤ ~2,100 possible groups over
    * positive doubles): the running sum WITHIN a (keys, grp) partition
    * is a bounded-fan window, the ACROSS-group offsets are a
    * triangular broadcast join over the ≤ 2,100-row per-key group
    * totals (no partition-less window anywhere), and `total` is the
    * per-key sum of the same group totals. All counts are exact longs,
    * so `cum = within + offset` and `total` are VALUE-IDENTICAL to the
    * single-window walk for any grouping (integer addition is
    * order-free) — DDSketchSpec pins row-set equality against the
    * direct single-window form.
    *
    * KEY-CARDINALITY ASSUMPTION: the three broadcasts (`right`, `offs`,
    * `totals`) are forced, and each holds up to one row per
    * (key, exponent group) — ≤ ~2,100 × |distinct keys| rows, and the
    * `right` side of the triangular join is matched per key. That is
    * small for the callers this serves (`keys = Nil`, or a handful of
    * event types/sensors), but it grows linearly in key cardinality: a
    * high-cardinality `keys` (per-user, per-device at fleet scale)
    * would push those tables past the broadcast threshold and driver
    * memory, where the single-window form only shuffled. Such a caller
    * needs shuffle joins here instead.
    */
  private[graft] def valueCumTwoLevel(values: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val byValue = values.where(col("value") > 0)
      .groupBy(keyCols :+ col("value"): _*)
      .agg(count(lit(1)).as("c"))
      .withColumn("grp", floor(log2(col("value"))).cast("long"))
    val wIn = Window.partitionBy(keyCols :+ col("grp"): _*)
      .orderBy("value")
      .rowsBetween(Window.unboundedPreceding, 0)
    val inCum = byValue.withColumn("icum", sum("c").over(wIn))
    val gTot = byValue.groupBy(keyCols :+ col("grp"): _*)
      .agg(sum("c").as("gtot"))
    val right = gTot.select(
      keys.map(k => col(k).as(s"r_$k")) :+
        col("grp").as("r_grp") :+ col("gtot").as("r_gtot"): _*)
    val offCond = keys.map(k => col(k) === col(s"r_$k"))
      .foldLeft(col("r_grp") < col("grp"))(_ && _)
    val offs = gTot.join(broadcast(right), offCond, "left")
      .groupBy(keyCols :+ col("grp"): _*)
      .agg(coalesce(sum("r_gtot"), lit(0L)).as("off"))
    val totals =
      if (keys.isEmpty) gTot.agg(sum("gtot").as("total"))
      else gTot.groupBy(keyCols: _*).agg(sum("gtot").as("total"))
    val withOff = inCum
      .join(broadcast(offs), keys :+ "grp")
    val withTotal =
      if (keys.isEmpty) withOff.crossJoin(broadcast(totals))
      else withOff.join(broadcast(totals), keys)
    withTotal.select(keyCols :+ col("value") :+
      (col("icum") + col("off")).as("cum") :+ col("total"): _*)
  }

  /** The pre-round-21 single-window walk, kept as the reference
    * implementation DDSketchSpec pins [[valueCumTwoLevel]] against
    * (for `keys = Nil` this is the partition-less global window the
    * two-level form exists to avoid — never call it on unbounded
    * inputs).
    */
  private[graft] def valueCumSingleWindow(values: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val byValue = values.where(col("value") > 0)
      .groupBy(keyCols :+ col("value"): _*)
      .agg(count(lit(1)).as("c"))
    val w = (if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(keyCols: _*))
      .orderBy("value")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = (if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(keyCols: _*))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byValue.select(keyCols :+ col("value") :+
      sum("c").over(w).as("cum") :+
      sum("c").over(wAll).as("total"): _*)
  }

  def collapse(sk: DataFrame, m: Int): DataFrame = {
    require(m >= 2, s"cap must be >= 2 buckets, got $m")
    val cutoff = sk.orderBy(col("bucket").desc).limit(m)
      .agg(min("bucket").as("cut"))
    sk.crossJoin(broadcast(cutoff))
      .select(greatest(col("bucket"), col("cut")).as("bucket"), col("n"))
      .groupBy("bucket").agg(sum("n").as("n"))
  }

  /** Keyed collapsing cap — m enforced PER KEY over a [[sketchBy]]
    * relation (the per-metric SLO table stays ≤ keys·m rows no matter
    * what any one series' value range does). Same law as [[collapse]];
    * the per-key cutoff is a rank window over the bounded table.
    */
  def collapseBy(sk: DataFrame, m: Int, keys: Seq[String]): DataFrame = {
    require(m >= 2, s"cap must be >= 2 buckets, got $m")
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*).orderBy(col("bucket").desc)
    val wAll = Window.partitionBy(keyCols: _*)
    sk.withColumn("rnk", row_number().over(w))
      .withColumn("cut",
        min(when(col("rnk") <= m, col("bucket"))).over(wAll))
      .select((keyCols :+ greatest(col("bucket"), col("cut")).as("bucket")
        :+ col("n")): _*)
      .groupBy((keyCols :+ col("bucket")): _*).agg(sum("n").as("n"))
  }

  /** Per-key quantile estimates from a grouped sketch ([[sketchBy]]):
    * the cumulative walk runs as a window PARTITIONED by key — one
    * pass over the bounded sketch table answers every key's every
    * quantile, with the same per-value relative-α guarantee.
    */
  def quantilesBy(sk: DataFrame, alpha: Double, qs: Seq[Double],
      keys: Seq[String]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0,1], got $qs")
    val spark = sk.sparkSession
    import spark.implicits._
    val g = gamma(alpha)
    val keyCols = keys.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*).orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*)
    val cum = sk.select((keyCols :+ col("bucket") :+
        sum("n").over(w).as("cum") :+
        sum("n").over(wAll).as("total")): _*)
    cum.join(broadcast(qs.toDF("q")),
        col("cum") >= greatest(ceil(col("q") * col("total")), lit(1L)))
      .groupBy((keyCols :+ col("q")): _*)
      .agg(min("bucket").as("b"), max("total").as("n_total"))
      .select((keyCols :+ col("q") :+
        round(lit(2.0) * pow(lit(g), col("b")) / (g + 1), 6).as("est") :+
        col("n_total")): _*)
  }

  /** Quantile estimates from a sketch: for each q in `qs`, the value
    * 2·γ^b/(γ+1) of the first bucket (in index order) whose cumulative
    * count reaches rank ⌈q·N⌉ (N = the sketch's own total; q = 0 maps
    * to rank 1). Guarantee: within relative error α of the exact
    * rank-⌈q·N⌉ order statistic. Shape: one cumulative window over the
    * ≤ #buckets table, one bounded join against the literal q list —
    * nothing here scales with the row count.
    */
  def quantiles(sk: DataFrame, alpha: Double, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0,1], got $qs")
    val spark = sk.sparkSession
    import spark.implicits._
    val g = gamma(alpha)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = sk.select(col("bucket"), sum("n").over(w).as("cum"))
      .crossJoin(sk.agg(sum("n").as("total")))
    val qdf = qs.toDF("q")
    cum.join(broadcast(qdf),
        col("cum") >= greatest(ceil(col("q") * col("total")), lit(1L)))
      .groupBy("q")
      .agg(min("bucket").as("b"), max("total").as("n_total"))
      .select(col("q"),
        round(lit(2.0) * pow(lit(g), col("b")) / (g + 1), 6).as("est"),
        col("n_total"))
      .orderBy("q")
  }
}
