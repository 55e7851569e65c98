package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

import graft.operators.DDSketch

/** The generalized delta algebra over [[CowUpsertStream]]'s CDC feed —
  * [[ChangeFeedView]] (count/Σ) extended to the two other view
  * families whose state the repo already maintains STREAM-side and can
  * therefore also maintain FEED-side, bit-exactly, at any refresh
  * cadence:
  *
  *  - [[MomentFeedView]]: per-key moment vectors ([[MomentStream]]'s
  *    algebra — n, Σx, Σy, Σx², Σy², Σxy over the CURRENT rows,
  *    x = event time, y = value), serving live
  *    mean/variance/corr/slope of the store without rescanning it;
  *  - [[SketchFeedView]]: per-key DDSketch bucket tables
  *    ([[DDSketchStream]]'s state over the CURRENT rows), serving live
  *    quantiles of the store.
  *
  * Both views group on DECLARED key columns ([[FeedViewKeys]] —
  * default `event_type`, any subset of the CDC key columns, committed
  * in the meta and validated on every refresh/read), matching the
  * stream-side grouped stores (DDSketchStream.pipelineBy).
  *
  * What makes a view family delta-able off a feed with UPDATES and
  * DELETES is stronger than streamed-mergeable: the fold must support
  * SUBTRACTION, not just addition. Both families here qualify because
  * their state entries are exact integers (micro-quantized decimal
  * sums; bucket counters) — an update folds (after − before), a delete
  * folds (− before), and integer arithmetic telescopes exactly, so the
  * committed view equals the one-shot aggregate over
  * [[CowUpsertStream.latest]] cell for cell at EVERY refresh cadence,
  * including cadences that batch delete generations together
  * (certified in ChangeFeedViewSpec). A float-summed view could not:
  * subtraction would reintroduce association-order drift.
  *
  * THE ONE-SIDED CAP CAVEAT ([[DDSketch.collapse]] under subtraction):
  * the collapsing cap is merge-compatible (cutoffs only rise under
  * UNION) but NOT delete-compatible, so [[SketchFeedView]] runs
  * uncapped by default. Counterexample: sketch {b₁:1, …, bₘ₊₁:1}
  * capped at m pools b₁ into the cutoff b₂; now delete the value in
  * bₘ₊₁ — the true capped sketch of the remaining m values is the
  * UNCOLLAPSED {b₁:1,…,bₘ:1} (it fits the cap), but the view cannot
  * un-pool b₁ from b₂, and subtracting the deleted bₘ₊₁ cannot lower
  * the cutoff. Collapse destroys exactly the information deletion
  * needs back; a capped delta view is therefore only an UPPER-BOUND
  * sketch — offered as the explicitly one-sided `maxBuckets` mode (a
  * 100 TB operator may prefer bounded state with stated error
  * semantics: after any delete below a pooled cutoff, low-quantile
  * estimates can only err HIGH, never low — the pooled mass sits at
  * the cutoff, above where the surviving values actually are). The
  * uncapped state is bounded by ⌈log_γ(max/min)⌉ buckets per key
  * regardless of row count — the cap's job (pathological value
  * ranges) is the one thing the exact mode declines.
  *
  * The same criterion rules OUT the remaining stream-side family: an
  * HLL distinct-count view is register-MAX state — max is idempotent
  * but has no inverse, so a delete cannot be folded (was the departing
  * value the register's sole witness? the sketch forgot). Exact
  * distinct-per-key IS delta-able but its state is the value set
  * itself — that view is [[CowUpsertStream.latest]] + a groupBy, not a
  * bounded summary. Negative space stated so nobody "completes" it
  * wrongly.
  *
  * Both views follow the family protocol: GenStore commit-last state
  * under `viewDir`, meta row discriminated on a null key, progress as
  * the high-water FEED generation, refresh folding exactly
  * (hw, frontier] with the frontier pinned BEFORE the change listing
  * (the [[ChangeFeedView]] concurrent-writer bound).
  */
object MomentFeedView {

  private val Dec = DecimalType(38, 0)

  /** y quantization: micro-units of `value` (the [[MomentStream]]
    * discipline). */
  val Scale = 1000000L

  /** x quantization: epoch SECONDS (ts_us div 10⁶) — epoch µs squared
    * (~10³⁰ per row) would exhaust decimal(38,0) within ~10⁷ rows;
    * seconds (~10⁹, squared ~10¹⁸) hold 10¹⁹ rows. The one-shot truth
    * uses the same floor, so the view stays bit-exact; slope reads in
    * value-units per second.
    */
  private def xSec = expr("ts_us div 1000000").cast(Dec)
  private def xSecOld = expr("old_ts_us div 1000000").cast(Dec)

  private val momentCols = Seq("n", "sx", "sy", "sxx", "syy", "sxy")

  private def viewSchema(keys: Seq[String],
      derived: Seq[DerivedKey]): StructType = StructType(
    FeedViewKeys.fields(keys) ++ FeedViewKeys.derivedFields(derived) ++ Seq(
      StructField("n", LongType),
      StructField("sx", Dec), StructField("sy", Dec),
      StructField("sxx", Dec), StructField("syy", Dec),
      StructField("sxy", Dec),
      StructField("hw_gen", LongType), StructField("view_rows", LongType),
      StructField("view_keys", StringType)))

  private def store(spark: SparkSession, viewDir: String,
      keys: Seq[String], derived: Seq[DerivedKey]) = {
    val n = keys.size + derived.size
    FeedViewKeys.store(spark, viewDir, keys, derived, "moment",
      viewSchema(keys, derived), n + 6)(m =>
      (m.getLong(n + 6), m.getLong(n + 7)))
  }

  /** Committed meta: (high-water feed gen, view rows); None = fresh. */
  def readMeta(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): Option[(Long, Long)] =
    store(spark, viewDir, keys, derived).meta(spark, viewDir)

  /** The live moment table (keys…, derived…, n, sx, sy, sxx, syy,
    * sxy). */
  def table(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): DataFrame =
    store(spark, viewDir, keys, derived).rows(spark, viewDir)

  /** The one-shot truth over an arbitrary current-row table carrying
    * the key columns plus (ts_us, value) — the aggregate the view must
    * equal cell for cell (pairwise-complete: null values drop, as in
    * MomentStream).
    */
  def oneShot(current: DataFrame,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): DataFrame = {
    val groupNames = keys ++ derived.map(_.name)
    val ym = round(col("value") * lit(Scale), 0).cast(Dec)
    FeedViewKeys.withDerived(current.where(col("value").isNotNull), derived)
      .select(groupNames.map(col) ++ Seq(xSec.as("xm"), ym.as("ym")): _*)
      .groupBy(groupNames.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum("xm").cast(Dec).as("sx"), sum("ym").cast(Dec).as("sy"),
        sum(col("xm") * col("xm")).cast(Dec).as("sxx"),
        sum(col("ym") * col("ym")).cast(Dec).as("syy"),
        sum(col("xm") * col("ym")).cast(Dec).as("sxy"))
  }

  /** Fold every unseen committed feed generation into the view.
    * Returns change rows folded; 0 = nothing new.
    */
  def refresh(spark: SparkSession, stateDir: String, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): Long = {
    FeedViewKeys.validate(keys)
    FeedViewKeys.validateDerived(spark, derived, keys)
    val feedGens = GenStore.committed(spark, stateDir)
    if (feedGens.isEmpty) return 0L
    val frontier = feedGens.max
    val st = store(spark, viewDir, keys, derived)
    val hw = st.meta(spark, viewDir).map(_._1).getOrElse(-1L)
    if (frontier <= hw) return 0L
    val fresh = CowUpsertStream.changes(spark, stateDir)
      .where(col("gen") > hw && col("gen") <= frontier)
    val groupNames = keys ++ derived.map(_.name)
    // after-image contributes unless this row is a delete (or carries
    // a null value); before-image subtracts unless it is an insert
    // (or the stored value was null) — pairwise-complete both sides.
    val hasA = col("op") =!= "delete" && col("value").isNotNull
    val hasB = col("op") =!= "insert" && col("old_value").isNotNull
    val yA = round(col("value") * lit(Scale), 0).cast(Dec)
    val yB = round(col("old_value") * lit(Scale), 0).cast(Dec)
    val zero = lit(0L).cast(Dec)
    def d(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      when(hasA, a).otherwise(zero) - when(hasB, b).otherwise(zero)
    val deltas = FeedViewKeys.withDerived(fresh, derived)
      .select(groupNames.map(col) ++ Seq(
        (when(hasA, 1L).otherwise(0L) - when(hasB, 1L).otherwise(0L))
          .as("n"),
        d(xSec, xSecOld).as("sx"), d(yA, yB).as("sy"),
        d(xSec * xSec, xSecOld * xSecOld).as("sxx"),
        d(yA * yA, yB * yB).as("syy"),
        d(xSec * yA, xSecOld * yB).as("sxy")): _*)
    val merged = st.rows(spark, viewDir).unionByName(deltas)
      .groupBy(groupNames.map(col): _*)
      .agg(sum("n").as("n"),
        sum("sx").cast(Dec).as("sx"), sum("sy").cast(Dec).as("sy"),
        sum("sxx").cast(Dec).as("sxx"), sum("syy").cast(Dec).as("syy"),
        sum("sxy").cast(Dec).as("sxy"))
      // a fully-deleted key telescopes to n=0 (and exactly then the
      // sums are 0) — the one-shot aggregate has no such row
      .where(col("n") =!= 0L)
    val folded = fresh.count()
    st.next(spark, viewDir) { gen =>
      gen.write(merged)(_.coalesce(1))
      gen.appendMeta(frontier, gen.written,
        FeedViewKeys.joinedWith(keys, derived))
    }
    folded
  }

  /** Live statistics off the view — per key group: mean value,
    * variance, value-vs-time corr and OLS slope (value units per
    * second) over the store's CURRENT rows, derived from ≤ keys rows
    * of decimal arithmetic. Degenerate series (n < 2, zero variance)
    * read null, the MomentStream convention.
    */
  def stats(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): DataFrame = {
    val groupNames = keys ++ derived.map(_.name)
    val n = col("n").cast(Dec)
    val covN = col("sxy") * n - col("sx") * col("sy")
    val varXN = col("sxx") * n - col("sx") * col("sx")
    val varYN = col("syy") * n - col("sy") * col("sy")
    val ok = (col("n") > 1) && (varXN > 0) && (varYN > 0)
    table(spark, viewDir, keys, derived)
      .withColumn("mean_value",
        col("sy").cast("double") / col("n") / lit(Scale.toDouble))
      .withColumn("var_value", when(col("n") > 1,
        varYN.cast("double") / col("n") / col("n") /
          lit(Scale.toDouble * Scale.toDouble)))
      .withColumn("corr", when(ok,
        covN.cast("double") /
          sqrt(varXN.cast("double")) / sqrt(varYN.cast("double"))))
      .withColumn("slope_per_sec", when(ok,
        covN.cast("double") / varXN.cast("double") / lit(Scale.toDouble)))
      .select((groupNames ++ Seq("n", "mean_value", "var_value", "corr",
        "slope_per_sec")).map(col): _*)
      .orderBy(groupNames.map(col): _*)
  }
}

/** Per-key DDSketch quantile view off the CDC feed — see the
  * [[MomentFeedView]] companion scaladoc for the shared delta law and
  * the one-sided collapsing-cap caveat. The exact mode is uncapped BY
  * DESIGN (the cap is not delete-compatible); `maxBuckets` opts into
  * the documented UPPER-BOUND-only mode.
  */
object SketchFeedView {

  private def alphaMicro(alpha: Double): Long = math.round(alpha * 1e6)

  private def viewSchema(keys: Seq[String],
      derived: Seq[DerivedKey]): StructType = StructType(
    FeedViewKeys.fields(keys) ++ FeedViewKeys.derivedFields(derived) ++ Seq(
      StructField("bucket", LongType), StructField("n", LongType),
      StructField("hw_gen", LongType), StructField("alpha_micro", LongType),
      StructField("cap_buckets", LongType),
      StructField("view_keys", StringType)))

  private def store(spark: SparkSession, viewDir: String,
      keys: Seq[String], derived: Seq[DerivedKey]) = {
    val n = keys.size + derived.size
    FeedViewKeys.store(spark, viewDir, keys, derived, "sketch",
        viewSchema(keys, derived), n + 2) { m =>
      // A sketch view committed BEFORE the cap existed has no
      // cap_buckets column on disk — the explicit schema reads it as
      // null, which means exactly "uncapped/exact" (the only mode that
      // existed then), not corrupt state; default it to 0 instead of
      // NPEing.
      (m.getLong(n + 2), m.getLong(n + 3),
        if (m.isNullAt(n + 4)) 0L else m.getLong(n + 4))
    }
  }

  /** Committed meta: (high-water feed gen, alphaMicro, capBuckets —
    * 0 = uncapped/exact); None = fresh.
    */
  def readMeta(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): Option[(Long, Long, Long)] =
    store(spark, viewDir, keys, derived).meta(spark, viewDir)

  /** The live (keys…, derived…, bucket, n) table. */
  def table(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): DataFrame =
    store(spark, viewDir, keys, derived).rows(spark, viewDir)

  /** Fold every unseen committed feed generation into the view.
    * α is fixed at first refresh and validated thereafter (a different
    * γ grid cannot merge — the DDSketchStream stance).
    *
    * `maxBuckets` (None = exact/uncapped, the default): with Some(m),
    * each key group's bucket table is collapsed to ≤ m rows after the
    * fold ([[DDSketch.collapse]] — lowest buckets pool into the
    * cutoff). BOUNDED-STATE, ONE-SIDED mode: collapse is not
    * delete-compatible (see the companion counterexample), so after
    * deletes the view is an UPPER-BOUND sketch — pooled mass sits at
    * the pool cutoff, so quantile estimates can only err HIGH, and
    * view ≡ one-shot equivalence is deliberately surrendered. The cap
    * is committed in the meta and validated like α on every refresh —
    * a capped view cannot be un-capped (pooled buckets cannot be
    * re-split), and changing the cap mid-stream would silently change
    * the error contract.
    */
  def refresh(spark: SparkSession, stateDir: String, viewDir: String,
      alpha: Double = 0.01, keys: Seq[String] = Seq("event_type"),
      maxBuckets: Option[Int] = None,
      derived: Seq[DerivedKey] = Nil): Long = {
    FeedViewKeys.validate(keys)
    FeedViewKeys.validateDerived(spark, derived, keys)
    maxBuckets.foreach(m => require(m >= 2,
      s"maxBuckets must be >= 2, got $m"))
    val am = alphaMicro(alpha)
    DDSketch.gamma(alpha) // validates alpha eagerly
    val cap = maxBuckets.map(_.toLong).getOrElse(0L)
    val feedGens = GenStore.committed(spark, stateDir)
    if (feedGens.isEmpty) return 0L
    val frontier = feedGens.max
    val st = store(spark, viewDir, keys, derived)
    val prior = st.meta(spark, viewDir)
    prior.foreach { case (_, pam, pcap) =>
      if (pam != am) throw new IllegalStateException(
        s"sketch view at $viewDir was bucketed at alpha=${pam / 1e6}; " +
          s"this refresh runs alpha=$alpha — different γ grids cannot " +
          "merge, refusing")
      if (pcap != cap) throw new IllegalStateException(
        s"sketch view at $viewDir was committed with " +
          s"maxBuckets=${if (pcap == 0) "none (exact)" else pcap}; this " +
          s"refresh declares ${if (cap == 0) "none (exact)" else cap} — " +
          "a capped view cannot be un-capped (pooled buckets cannot be " +
          "re-split) and changing the cap changes the error contract, " +
          "refusing")
    }
    val hw = prior.map(_._1).getOrElse(-1L)
    if (frontier <= hw) return 0L
    val fresh = CowUpsertStream.changes(spark, stateDir)
      .where(col("gen") > hw && col("gen") <= frontier)
      .localCheckpoint() // two delta projections + the fold count
    val groupNames = keys ++ derived.map(_.name)
    val freshD = FeedViewKeys.withDerived(fresh, derived)
    // +1 at the after-image's bucket (non-deletes, positive values —
    // the log grid's domain), −1 at the before-image's (non-inserts).
    val after = freshD.where(col("op") =!= "delete" && col("value") > 0)
      .select(groupNames.map(col) ++ Seq(
        DDSketch.bucketOf(col("value"), alpha).as("bucket"),
        lit(1L).as("dn")): _*)
    val before = freshD.where(col("op") =!= "insert" && col("old_value") > 0)
      .select(groupNames.map(col) ++ Seq(
        DDSketch.bucketOf(col("old_value"), alpha).as("bucket"),
        lit(-1L).as("dn")): _*)
    val summed = st.rows(spark, viewDir)
      .unionByName(after.union(before).withColumnRenamed("dn", "n"))
      .groupBy((groupNames :+ "bucket").map(col): _*).agg(sum("n").as("n"))
      .where(col("n") =!= 0L) // exact counters telescope to 0 on full drain
    val merged = maxBuckets
      .map(m => DDSketch.collapseBy(summed, m, groupNames))
      .getOrElse(summed)
    val folded = fresh.count()
    st.next(spark, viewDir) { gen =>
      gen.write(merged)(_.coalesce(1))
      gen.appendMeta(frontier, am, cap, FeedViewKeys.joinedWith(keys, derived))
    }
    folded
  }

  /** Per-key quantiles of the store's CURRENT rows, answered off the
    * view (α from the view's own meta).
    */
  def quantiles(spark: SparkSession, viewDir: String, qs: Seq[Double],
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): DataFrame = {
    val groupNames = keys ++ derived.map(_.name)
    readMeta(spark, viewDir, keys, derived) match {
      case None =>
        import spark.implicits._
        val empty = Seq.empty[(Double, Double, Long)]
          .toDF("q", "est", "n_total")
        val withKeys = keys.foldLeft(empty) { (df, k) =>
          df.withColumn(k, lit(null).cast(FeedViewKeys.keyTypes(k)))
        }
        derived.foldLeft(withKeys) { (df, d) =>
          df.withColumn(d.name, lit(null).cast(d.dataType))
        }.select((groupNames ++ Seq("q", "est", "n_total")).map(col): _*)
      case Some((_, am, _)) =>
        DDSketch.quantilesBy(table(spark, viewDir, keys, derived),
          am / 1e6, qs, groupNames)
    }
  }
}
