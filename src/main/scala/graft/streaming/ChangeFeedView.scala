package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** The shared key discipline of the CDC-feed view family
  * ([[ChangeFeedView]], [[MomentFeedView]], [[SketchFeedView]]): each
  * view groups on DECLARED columns of the feed, defaulting to
  * `event_type` — matching the stream-side grouped stores
  * (DDSketchStream.pipelineBy, HllStream.pipelineBy), so a dashboard
  * can key a view on type × user, not only type.
  *
  * Grouping columns are restricted to the feed's CDC KEY columns
  * (`user_id`, `event_type`) — load-bearing, not a convenience: the
  * fold emits ONE delta row per change carrying both the after-image's
  * addition and the before-image's subtraction, which is only
  * well-typed when the row's group is the SAME on both sides. Key
  * columns are before/after-invariant by construction (they ARE the
  * upsert key); a value-derived grouping would need two-sided group
  * routing (after-image adds to one group, before-image subtracts from
  * another) — expressible, but a different view schema, and no
  * consumer has asked for it. Stated so nobody "generalizes" past the
  * invariant silently.
  *
  * The declared keys are committed in the view's meta (`view_keys`)
  * and validated on every refresh/read — a reader with different keys
  * would otherwise silently misparse the state (parquet resolves
  * columns by name; a wrong explicit schema reads nulls, not errors).
  */
/** A DERIVED grouping column for the feed views: `name` bound to an
  * expression over the CDC KEY columns only — before/after-invariant
  * by construction, the same invariant plain key grouping rests on.
  * Enforced at declaration by resolving the expression against a
  * frame holding ONLY the key columns (a value-derived expression
  * fails analysis there and refuses loudly). The canonical dashboard
  * case: user segment =
  * `DerivedKey("segment", pmod(col("user_id"), lit(8)), LongType)`.
  * The derivation's text is committed in the view meta alongside the
  * plain keys, so a refresh with a DIFFERENT derivation (same name,
  * new formula) refuses instead of silently mixing groupings.
  */
final case class DerivedKey(name: String,
    expr: org.apache.spark.sql.Column, dataType: DataType)

private[streaming] object FeedViewKeys {

  val keyTypes: Map[String, DataType] =
    Map("user_id" -> LongType, "event_type" -> StringType)

  /** Feed/view column names a derived key must not shadow. */
  private val reserved = Set(
    "user_id", "event_type", "op", "ts_us", "event_id", "value",
    "old_ts_us", "old_event_id", "old_value", "batch_id", "gen",
    "n_rows", "sum_micro", "n", "sx", "sy", "sxx", "syy", "sxy",
    "bucket", "hw_gen", "view_rows", "alpha_micro", "cap_buckets",
    "view_keys")

  def validateDerived(spark: SparkSession, derived: Seq[DerivedKey],
      plainKeys: Seq[String]): Unit = {
    val names = plainKeys ++ derived.map(_.name)
    require(names.distinct == names,
      s"duplicate grouping column names: $names")
    if (derived.isEmpty) return
    // Resolve each derivation against a frame holding ONLY the CDC key
    // columns: an expression touching anything else (a value-derived
    // group) fails analysis here, at declaration, instead of silently
    // grouping on a non-invariant column.
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(keyTypes.keys.toSeq.sorted.map(n =>
        StructField(n, keyTypes(n)))))
    derived.foreach { d =>
      require(!reserved.contains(d.name),
        s"derived key '${d.name}' shadows a feed/view column — pick " +
          "another name")
      val analyzed =
        try probe.select(d.expr.cast(d.dataType)).queryExecution.analyzed
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"derived key '${d.name}' references non-key columns — a " +
                "derived grouping must be a function of the CDC key " +
                s"columns ${keyTypes.keys.toSeq.sorted.mkString("{", ", ", "}")} " +
                "(the before/after-invariant columns); a value-derived " +
                "group would need two-sided routing the view schema does " +
                s"not declare (${e.getMessage})")
        }
      // Analysis proves the expression RESOLVES over the key columns;
      // invariance needs two more facts the probe cannot show. (1)
      // Determinism: rand()/uuid()/current_timestamp() analyze fine,
      // but the add and subtract legs of the one-row delta fold
      // evaluate the derivation independently — a non-deterministic
      // expression routes them to DIFFERENT groups and silently
      // corrupts committed view state. (2) It must actually be a
      // function of the keys: a constant-only expression (empty
      // references) is a degenerate group that the plain-keys path
      // already expresses; refuse it so the committed identity string
      // stays meaningful.
      val out = analyzed.expressions.head
      if (!out.deterministic)
        throw new IllegalArgumentException(
          s"derived key '${d.name}' is non-deterministic — the delta " +
            "fold evaluates the derivation independently on the add " +
            "and subtract legs, so a non-deterministic expression " +
            "routes a change's two sides to different groups, " +
            "corrupting committed view state; use a deterministic " +
            "function of the CDC key columns")
      val refs = out.references.map(_.name).toSet
      if (refs.isEmpty || !refs.subsetOf(keyTypes.keySet))
        throw new IllegalArgumentException(
          s"derived key '${d.name}' must reference at least one CDC " +
            s"key column (${keyTypes.keys.toSeq.sorted.mkString(", ")}) " +
            s"and nothing else; got references ${refs.toSeq.sorted}")
    }
  }

  /** Project the derived columns onto a feed (or current-row) frame. */
  def withDerived(df: DataFrame, derived: Seq[DerivedKey]): DataFrame =
    derived.foldLeft(df)((d, k) =>
      d.withColumn(k.name, k.expr.cast(k.dataType)))

  def derivedFields(derived: Seq[DerivedKey]): Seq[StructField] =
    derived.map(d => StructField(d.name, d.dataType))

  /** The committed identity string: plain keys verbatim, derived keys
    * as name=expression-text (Column.toString is the expression's
    * stable rendering — deterministic across sessions for the same
    * declaration, so a changed formula under the same name mismatches).
    */
  def joinedWith(keys: Seq[String], derived: Seq[DerivedKey]): String =
    (keys ++ derived.map(d => s"${d.name}=${d.expr}")).mkString(",")

  def validate(keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "view needs at least one grouping column")
    require(keys.distinct == keys, s"duplicate grouping columns: $keys")
    val bad = keys.filterNot(keyTypes.contains)
    require(bad.isEmpty,
      s"view grouping columns must be CDC key columns " +
        s"${keyTypes.keys.toSeq.sorted.mkString("{", ", ", "}")} — the " +
        s"before/after-invariant columns the one-row delta fold " +
        s"requires; got $bad")
  }

  def fields(keys: Seq[String]): Seq[StructField] =
    keys.map(k => StructField(k, keyTypes(k)))

  def joined(keys: Seq[String]): String = keys.mkString(",")

  /** Every view access's preamble: validate the declared keys, read
    * the committed `view_keys` off the latest generation — projected by
    * NAME under a 1-column explicit schema, the one read that cannot
    * depend on the caller's declared keys (schema inference would also
    * trip over the zero-length COMMITTED marker) — and refuse a
    * mismatch. Returns the view's store: `nData` state columns, the
    * meta row discriminated on a null first key.
    */
  def store[M](spark: SparkSession, viewDir: String, keys: Seq[String],
      derived: Seq[DerivedKey], what: String, schema: StructType,
      nData: Int)(decode: Row => M): GenStore.Folded[M] = {
    validate(keys)
    validateDerived(spark, derived, keys)
    val gens = GenStore.committed(spark, viewDir)
    if (gens.nonEmpty) {
      val stored = spark.read
        .schema(StructType(Seq(StructField("view_keys", StringType))))
        .parquet(GenStore.dir(viewDir, gens.max))
        .where(col("view_keys").isNotNull)
        .select("view_keys").limit(1).collect()
      val want = joinedWith(keys, derived)
      if (stored.nonEmpty && stored.head.getString(0) != want)
        throw new IllegalStateException(
          s"$what view at $viewDir is keyed on (${stored.head.getString(0)}); " +
            s"this call declares ($want) — a view cannot regroup " +
            "committed state, refusing")
    }
    new GenStore.Folded(s"$what view", schema, nData, Some(keys.head))(decode)
  }
}

/** Incremental materialized-view maintenance off the CDC feed — the
  * downstream half of the changelog story: a per-key
  * (row count, Σ value) view kept current by folding ONLY
  * [[CowUpsertStream.changes]] rows it has not seen yet. Each refresh
  * costs O(new changes) + O(view), never O(state): the view never
  * re-reads the upsert store, which is exactly what a change feed is
  * FOR (the alternative — recompute the aggregate from `latest()`
  * every time — rescans the full current-row table per refresh).
  *
  * Grouping keys are declared per view ([[FeedViewKeys]] — default
  * `event_type`, any subset of the CDC key columns, committed in the
  * meta and validated thereafter).
  *
  * The fold is pure delta algebra over the feed's before/after
  * images:
  *
  *   insert:  n += 1,  Σ += new_value
  *   update:  n += 0,  Σ += new_value − old_value
  *   delete:  n −= 1,  Σ −= old_value   (the maintenance-verb feed)
  *
  * Exactness discipline: values fold in integer micro-units
  * (`round(value·10⁶)` as long — the [[MomentStream]] lesson: double
  * sums are association-order-dependent across refresh cadences, so
  * the committed Σ would depend on WHEN you refreshed; long sums make
  * view ≡ one-shot aggregate bit-exact for ANY cadence). Progress is
  * tracked as the high-water FEED GENERATION (the feed's own replay
  * key): a refresh folds gens in (hw, frontier], so refreshing twice,
  * never, or once per ten batches all converge to the same view —
  * proven in the spec against a direct aggregate of `latest()` after
  * every cadence. The view store follows the family protocol
  * (GenStore commit-last, replay-safe, meta discriminated on a null
  * key).
  */
object ChangeFeedView {

  /** One row per key group plus one META row (keys null — high-water
    * feed gen in `n_rows`, view row count in `sum_micro`, the declared
    * keys in `view_keys`).
    */
  private def viewSchema(keys: Seq[String],
      derived: Seq[DerivedKey]): StructType = StructType(
    FeedViewKeys.fields(keys) ++ FeedViewKeys.derivedFields(derived) ++ Seq(
      StructField("n_rows", LongType),
      StructField("sum_micro", LongType),
      StructField("view_keys", StringType)))

  private def store(spark: SparkSession, viewDir: String,
      keys: Seq[String], derived: Seq[DerivedKey]) = {
    val n = keys.size + derived.size
    FeedViewKeys.store(spark, viewDir, keys, derived, "change-feed",
      viewSchema(keys, derived), n + 2)(m => (m.getLong(n), m.getLong(n + 1)))
  }

  /** Committed meta: (high-water feed gen, view rows); None = fresh. */
  def readMeta(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): Option[(Long, Long)] =
    store(spark, viewDir, keys, derived).meta(spark, viewDir)

  /** The live view: (keys…, derived…, n_rows, sum_micro) — a straight
    * read of committed state, zero recompute.
    */
  def table(spark: SparkSession, viewDir: String,
      keys: Seq[String] = Seq("event_type"),
      derived: Seq[DerivedKey] = Nil): DataFrame =
    store(spark, viewDir, keys, derived).rows(spark, viewDir)

  /** Fold every unseen committed feed generation of the upsert store
    * at `stateDir` into the view at `viewDir`. Idempotent: a refresh
    * with nothing new commits nothing. Returns the number of change
    * rows folded. `derived` adds computed grouping columns over the
    * CDC key columns (see [[DerivedKey]] — the user-segment dashboard
    * case); the plain-keys path is the `derived = Nil` special case.
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
    val prior = st.meta(spark, viewDir)
    val hw = prior.map(_._1).getOrElse(-1L)
    if (frontier <= hw) return 0L
    // Bound the fold to (hw, frontier] EXPLICITLY: a generation the
    // stream commits between the frontier read above and the changes()
    // listing here must NOT fold now (we'd record hw = frontier and
    // re-fold it next refresh — a double count). Deferring it to the
    // next refresh keeps the documented window exact under a
    // concurrent writer.
    val fresh = CowUpsertStream.changes(spark, stateDir)
      .where(col("gen") > hw && col("gen") <= frontier)
    val groupNames = keys ++ derived.map(_.name)
    // Delta algebra in integer micro-units; updates contribute the
    // (new − old) difference, inserts the new value and a count.
    // Null values contribute zero on EITHER side (a one-shot
    // sum(round(value·1e6)) skips nulls, so an update between null and
    // a value must move Σ by exactly the non-null side).
    val deltas = FeedViewKeys.withDerived(fresh, derived)
      .select(groupNames.map(col) ++ Seq(
        when(col("op") === "insert", 1L)
          .when(col("op") === "delete", -1L).otherwise(0L).as("dn"),
        (coalesce(round(col("value") * 1e6).cast("long"), lit(0L)) -
          coalesce(round(col("old_value") * 1e6).cast("long"), lit(0L)))
          .as("dmicro")): _*)
      .groupBy(groupNames.map(col): _*)
      .agg(sum("dn").as("n_rows"), sum("dmicro").as("sum_micro"))
    val merged = st.rows(spark, viewDir).unionByName(deltas)
      .groupBy(groupNames.map(col): _*)
      .agg(sum("n_rows").as("n_rows"), sum("sum_micro").as("sum_micro"))
      // a fully-deleted key folds to n=0 (and, exactly then, Σ=0):
      // the one-shot aggregate has no such row, so neither do we
      .where(col("n_rows") =!= 0L)
    val folded = fresh.count()
    // The meta row reuses the value columns (hw feed gen in n_rows,
    // view rows in sum_micro), so it is appended here, not padded.
    st.next(spark, viewDir) { gen =>
      gen.write(merged)(_.coalesce(1))
      spark.createDataFrame(
        java.util.Collections.singletonList(
          Row.fromSeq(keys.map(_ => null) ++ derived.map(_ => null) ++
            Seq(frontier, gen.written,
              FeedViewKeys.joinedWith(keys, derived)))),
        viewSchema(keys, derived))
        .coalesce(1).write.mode("append").parquet(gen.dir)
    }
    folded
  }
}
