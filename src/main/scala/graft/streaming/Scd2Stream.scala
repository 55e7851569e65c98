package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Streamed SCD-2 history — the kappa leg of q_rel32/q_rel34
  * ([[graft.analytics.RelationalQueries.scd2History]]): the per-entity
  * version table (tracked attribute, [valid_from, valid_to) intervals
  * tiling each entity's timeline, change-collapsed via the null-safe
  * compare) maintained INCREMENTALLY as change rows stream in, instead
  * of rebuilt from the full log per read.
  *
  * THE STATE LAW — what exact out-of-order SCD-2 is allowed to forget.
  * A naive incremental closer ("close the incumbent open version,
  * append the new one") is only correct for in-order arrivals: a late
  * row landing MID-history must splice — possibly resurrecting a
  * change point the collapse already discarded (events t1:A, t2:A
  * collapse to one version; a late t1.5:B makes t2:A a change point
  * again — but t2 was thrown away). So exactness under lateness fixes
  * the minimal state: ALL rows young enough that a late arrival could
  * still land before them, plus CHANGE POINTS below that line. This
  * store keeps exactly that:
  *
  *  - a declared `latenessUs` bound (the watermark contract, STR-5's
  *    discipline): watermark = max event time seen − latenessUs; a
  *    batch row older than the committed watermark REFUSES loudly
  *    (silently dropping it would silently fork stream from batch
  *    truth — the family's stale-state stance, not Spark's drop);
  *  - rows with ts below the watermark that equal their predecessor's
  *    state collapse away (no future row can land between two
  *    below-watermark timestamps, so the collapse is provably final);
  *    rows above it are kept verbatim, equal or not, because a late
  *    row could still split them. State per key = versions + an
  *    in-watermark tail, never the key's event count.
  *
  * Layout and IO law are [[CowStore]]'s: state hash-bucketed on the
  * entity key, each generation rewrites ONLY the buckets the batch
  * touched (per-batch IO ∝ touched buckets — the CowProbe law), with
  * the LSM compaction cadence rewriting everything every
  * `compactEvery`-th generation (which is also when UNtouched buckets'
  * tails get their deferred collapse). Replay discipline is the family
  * contract verbatim: replayed high-water batch skips, stale state
  * refuses, bucket-count / lateness mismatches refuse.
  *
  * Deletes are first-class (the CDC class an SCD-2 history must carry:
  * entity removed at t ⇒ the incumbent version closes at t with NO
  * successor): a batch row with `is_delete` true is a tombstone EVENT
  * in the kept log — it closes whatever version precedes it, produces
  * no version row itself, and collapses like any state (two
  * consecutive deletes = one; a re-insert after a delete opens a new
  * version even at the pre-delete tier, because "absent" is a real
  * state under the null-safe compare). Versions and as-of reads derive
  * from kept rows at read time with one window pass over ≤ state rows
  * (state-bounded, corpus never touched).
  *
  * Reference anchor: the version semantics are q_rel32's exactly
  * (`valid_to` = next change point's ts, exclusive; version numbers
  * count non-delete versions per entity; `is_current` = open interval)
  * — [[scd2OfLog]] is the one-shot form the spec certifies the stream
  * against for arbitrary slicings, in-watermark lateness and deletes.
  */
object Scd2Stream {

  /** The default entity key — the repo's CDC pair, q_rel32's shape. */
  val defaultKeys: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** Column names the entity key must not claim. */
  private val reservedCols = Set("ts_us", "event_id", "tier", "is_delete",
    "total", "batch_id", "n_buckets", "max_ts_us", "lateness_us",
    "key_cols", "bucket")

  private def validateKeys(keys: StructType): Unit = {
    require(keys.fields.nonEmpty, "scd2 entity key needs >= 1 column")
    val names = keys.fieldNames.toSeq
    require(names.distinct == names, s"duplicate key columns: $names")
    val bad = names.filter(reservedCols.contains)
    require(bad.isEmpty,
      s"entity key columns $bad shadow scd2 state/meta columns — " +
        "rename them before declaring the key")
  }

  /** The committed key identity (names + types) — the
    * [[FeedViewKeys]] discipline: parquet resolves columns by NAME, so
    * a reader declaring a different key would silently null-parse the
    * state; committing the identity turns that into a loud refusal.
    */
  private def keyId(keys: StructType): String =
    keys.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")

  /** One schema for every state file; `bucket` LAST (CowStore
    * contract; −1 = meta partition). Meta carries (total kept rows,
    * high-water batch id, n_buckets, max event ts seen, latenessUs,
    * key_cols).
    *
    * `attrType` is the tracked attribute's type — LongType for the
    * single-attribute q_rel32 case, a StructType for MULTI-attribute
    * SCD-2 (the real-warehouse shape: one `tier` struct of N declared
    * columns; the null-safe `<=>` compare is field-wise on structs, so
    * one changed field opens one version and equal structs — nulls
    * matching nulls — collapse away). The type is part of the store's
    * layout contract like `buckets`: the explicit-schema parquet read
    * fails loudly on a mismatched store. `keys` is the DECLARED entity
    * key (round 19 — "my entity key is (account_id, region)"): any
    * column set, committed in the meta as `key_cols` and validated on
    * every read like `buckets` and `latenessUs`.
    */
  private def stateSchema(attrType: DataType, keys: StructType) =
    StructType(keys.fields.toSeq ++ Seq(
      StructField("ts_us", LongType), StructField("event_id", LongType),
      StructField("tier", attrType), StructField("is_delete", BooleanType),
      StructField("total", LongType), StructField("batch_id", LongType),
      StructField("n_buckets", LongType), StructField("max_ts_us", LongType),
      StructField("lateness_us", LongType),
      StructField("key_cols", StringType),
      StructField("bucket", IntegerType)))

  private def dataCols(keys: StructType): Seq[String] =
    keys.fieldNames.toSeq ++ Seq("ts_us", "event_id", "tier", "is_delete")

  /** The committed meta: (kept rows, high-water batch_id, n_buckets,
    * max ts, latenessUs); `None` = fresh store. Refuses a store whose
    * committed `key_cols` differ from the declared `keys`.
    */
  def readMeta(spark: SparkSession, stateDir: String,
      attrType: DataType = LongType,
      keys: StructType = defaultKeys)
      : Option[(Long, Long, Long, Long, Long)] = {
    validateKeys(keys)
    store(stateDir, attrType, keys).meta(spark, stateDir)
  }

  private def store(stateDir: String, attrType: DataType,
      keys: StructType) = {
    val k = keys.size
    new GenStore.Folded("scd2", stateSchema(attrType, keys), k + 4, None,
        bucketed = true)({ m =>
      // a null stored id only occurs on a pre-key-contract store
      // (the column reads null under the explicit schema) — treat as
      // the default key, the only shape that existed then
      val stored =
        if (m.isNullAt(k + 9)) keyId(defaultKeys) else m.getString(k + 9)
      if (stored != keyId(keys)) throw new IllegalStateException(
        s"scd2 state at $stateDir is keyed on ($stored); this call " +
          s"declares (${keyId(keys)}) — a history cannot re-key " +
          "committed state, refusing")
      (m.getLong(k + 4), m.getLong(k + 5), m.getLong(k + 6),
        m.getLong(k + 7), m.getLong(k + 8))
    })
  }

  /** The kept-event rows (post-collapse log: change points below the
    * watermark, verbatim tail above it); empty for a fresh dir.
    */
  def kept(spark: SparkSession, stateDir: String,
      attrType: DataType = LongType,
      keys: StructType = defaultKeys): DataFrame = {
    validateKeys(keys)
    val gens = GenStore.committed(spark, stateDir)
    if (gens.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(stateSchema(attrType, keys).take(keys.size + 4)))
    else {
      readMeta(spark, stateDir, attrType, keys) // key-contract check
      CowStore.readBuckets(spark, stateDir, gens, None,
        stateSchema(attrType, keys), dataCols(keys)).drop("bucket")
    }
  }

  // -------------------------------------------------- the shared algebra

  /** Null-safe state equality between a row and its lag — the change
    * collapse's compare, factored so the streamed store, the one-shot
    * builder and the compaction collapse CANNOT drift: two rows are
    * the same state iff both are deletes, or neither is and the tiers
    * match null-safely (null tier is a real trackable state).
    */
  private def sameState(tier: Column, del: Column, prevTier: Column,
      prevDel: Column): Column =
    (del && prevDel) || (!del && !prevDel && (tier <=> prevTier))

  /** The one window order every pass shares. */
  private def keyWindow(keys: StructType) =
    Window.partitionBy(keys.fieldNames.map(col).toSeq: _*)
      .orderBy(col("ts_us"), col("event_id"))

  /** Change points of a (keys…, ts_us, event_id, tier, is_delete)
    * log: rows whose state differs from their predecessor's
    * (first row of a key always; a LEADING delete — closing nothing —
    * drops). One partitioning, one sort.
    */
  private def changePoints(log: DataFrame, keys: StructType): DataFrame = {
    val w = keyWindow(keys)
    log
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_tier", lag(col("tier"), 1).over(w))
      .withColumn("prev_del",
        coalesce(lag(col("is_delete"), 1).over(w), lit(false)))
      .where((col("rn") === 1 ||
          !sameState(col("tier"), col("is_delete"),
            col("prev_tier"), col("prev_del"))) &&
        !(col("rn") === 1 && col("is_delete")))
      .drop("rn", "prev_tier", "prev_del")
  }

  /** The SCD-2 version table of a full change log, one-shot — the
    * batch truth the stream is certified against (and, for a
    * delete-free log, q_rel32's construction column for column).
    * Output: (user_id, event_type, tier, valid_from_us, valid_to_us,
    * version, is_current).
    */
  def scd2OfLog(log: DataFrame,
      keys: StructType = defaultKeys): DataFrame = {
    val w = keyWindow(keys)
    changePoints(log, keys)
      // valid_to = the NEXT change point's ts, delete or not — a
      // delete closes its predecessor; the filter below then removes
      // the tombstone itself (it is an interval END, never a version).
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .where(!col("is_delete"))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(keys.fieldNames.map(col).toSeq ++ Seq(col("tier"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("version"), col("valid_to_us").isNull.as("is_current")): _*)
  }

  /** Guard for [[versions]]/[[asOf]]'s `keyPredicate`: pushing a
    * predicate BELOW the version window is only sound when it filters
    * WHOLE window partitions — i.e. references the entity-key columns
    * and nothing else (a ts/tier predicate below the window would
    * silently fabricate change points). Enforced by analysis against a
    * key-only probe frame, the FeedViewKeys.validateDerived trick.
    */
  private def validateKeyPredicate(spark: SparkSession, pred: Column,
      keys: StructType): Unit = {
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), keys)
    val analyzed =
      try probe.where(pred).queryExecution.analyzed
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"keyPredicate must reference only the entity-key columns " +
              s"${keys.fieldNames.mkString("(", ", ", ")")} — filtering " +
              "on non-key columns below the version window would " +
              s"fabricate change points (${e.getMessage})")
      }
    require(analyzed.expressions.forall(_.deterministic),
      "keyPredicate must be deterministic")
  }

  /** The live version table off the committed state — kept rows are
    * already a valid change log (collapse only removed rows PROVABLY
    * not change points), so this is [[scd2OfLog]] over ≤ state rows.
    *
    * `keyPredicate` (round 19): an optional filter over the ENTITY-KEY
    * columns only (validated), applied to the kept-row scan BEFORE the
    * window — whole key partitions drop, so the surviving versions are
    * bit-identical to filtering afterwards, but the predicate reaches
    * the parquet scan: on a z-ordered history store
    * (pipeline(zOrderOn)), a key band skips row groups by min/max
    * stats and the serving read touches ≈ the band's fraction of the
    * store (WarehouseProbe leg 4 measures it) instead of all of it.
    */
  def versions(spark: SparkSession, stateDir: String,
      attrType: DataType = LongType,
      keys: StructType = defaultKeys,
      keyPredicate: Option[Column] = None): DataFrame = {
    keyPredicate.foreach(validateKeyPredicate(spark, _, keys))
    val base = kept(spark, stateDir, attrType, keys)
    scd2OfLog(keyPredicate.map(base.where).getOrElse(base), keys)
  }

  /** Point-in-time read off the live store — q_rel34's semantics:
    * exactly the version alive at `tUs` per entity (deleted or
    * not-yet-born entities absent). `keyPredicate` as in [[versions]]
    * — the pruned point-in-time read ("as of t, for this user band")
    * a 100 TB history store serves without scanning itself.
    */
  def asOf(spark: SparkSession, stateDir: String, tUs: Long,
      attrType: DataType = LongType,
      keys: StructType = defaultKeys,
      keyPredicate: Option[Column] = None): DataFrame =
    versions(spark, stateDir, attrType, keys, keyPredicate)
      .where(col("valid_from_us") <= tUs &&
        (col("valid_to_us").isNull || col("valid_to_us") > tUs))
      .select(keys.fieldNames.map(col).toSeq ++ Seq(col("tier"),
        col("version"), col("valid_from_us")): _*)

  /** Interval-weighted time-in-state off the LIVE store — q_rel35's
    * semantics ([[graft.analytics.RelationalQueries.scd2Dwell]],
    * arithmetic column for column) served from ≤ state rows instead of
    * a log rebuild: per (event_type, tier), Σ(valid_to − valid_from)
    * with open current versions closed at the store's committed max
    * event time — which IS the corpus max the one-shot uses, read from
    * the meta row (1-row read), not recomputed with a corpus pass.
    * All-integer µs sums; per-type share rounds 6dp as in q_rel35.
    */
  def dwell(spark: SparkSession, stateDir: String,
      attrType: DataType = LongType,
      keys: StructType = defaultKeys,
      shareBy: String = "event_type"): DataFrame = {
    require(keys.fieldNames.contains(shareBy),
      s"dwell's share grouping '$shareBy' must be one of the declared " +
        s"key columns ${keys.fieldNames.mkString("(", ", ", ")")}")
    val mx = readMeta(spark, stateDir, attrType, keys).map(_._4)
      .getOrElse(Long.MinValue)
    val byGroup = Window.partitionBy(shareBy)
    versions(spark, stateDir, attrType, keys)
      .withColumn("dwell",
        coalesce(col("valid_to_us"), lit(mx)) - col("valid_from_us"))
      .groupBy(shareBy, "tier")
      .agg(sum("dwell").as("dwell_us"))
      .withColumn("share",
        round(col("dwell_us") / sum("dwell_us").over(byGroup), 6))
      .orderBy(col(shareBy), col("tier").asc_nulls_first)
  }

  /** Fold every unseen committed generation of a [[CowUpsertStream]]
    * CDC feed into the SCD-2 store at `scd2Dir` — the adapter that
    * makes the changelog the history's ONLY ingest (one pipeline owns
    * the raw stream; every temporal consumer hangs off its feed).
    * Each feed generation folds as one [[pipeline]] batch with
    * batchId = the feed gen, so the family replay protocol carries
    * over verbatim: refreshing twice folds nothing twice, and a
    * catch-up refresh folds each missed generation separately (gen
    * boundaries are the feed's replay units — collapsing them would
    * trade exact replay for fewer jobs). `tier` maps the after-image
    * columns to the tracked attribute (default round(value)). The
    * feed's per-key monotonicity (an update only ever beats its
    * incumbent) means in-order per-key arrival by construction;
    * cross-key disorder is bounded by the caller's `latenessUs`
    * exactly as in the raw pipeline. Delete rows MUST carry a stamped
    * tombstone time ([[CowUpsertStream.delete]]'s `tombstoneTsUs`) —
    * a null-ts delete has no place on the timeline and refuses
    * loudly; its `event_id` is the before-image's (deterministic
    * order under ties). Returns change rows folded.
    *
    * GRANULARITY CONTRACT — the history is exactly as granular as the
    * FEED. Under a store-granular feed (the
    * [[CowUpsertStream.pipeline]] default, `rawChangelog = false`) the
    * upsert store folds each of its batches to the per-key argmax
    * BEFORE emitting one change row, so tier transitions occurring
    * WITHIN one feed batch never become SCD-2 versions here: versions
    * = the store's states at feed-generation boundaries — the right
    * truth for a CDC consumer whose upstream already adjudicated
    * intra-batch races. Under a RAW feed
    * (`CowUpsertStream.pipeline(rawChangelog = true)`) every ordered
    * per-key event is its own change row and fromFeed reproduces every
    * intermediate version (Scd2StreamSpec pins three versions for an
    * intra-batch A→B→A round trip) — the raw-exact path off a feed,
    * equivalent to feeding [[pipeline]] from the raw stream.
    */
  def fromFeed(spark: SparkSession, feedDir: String, scd2Dir: String,
      tier: Column = round(col("value")).cast("long"),
      buckets: Int = 64, latenessUs: Long = 0L,
      compactEvery: Long = 16, attrType: DataType = LongType): Long = {
    val hw = readMeta(spark, scd2Dir, attrType).map(_._2).getOrElse(-1L)
    val feed = CowUpsertStream.changes(spark, feedDir)
    val gens = feed.where(col("gen") > hw).select("gen").distinct()
      .collect().map(_.getLong(0)).sorted
    var folded = 0L
    val fn = pipeline(scd2Dir, buckets, latenessUs, compactEvery,
      attrType = attrType)
    gens.foreach { g =>
      val rows = feed.where(col("gen") === g).localCheckpoint()
      val badDel = rows
        .where(col("op") === "delete" && col("ts_us").isNull).count()
      if (badDel > 0) throw new IllegalStateException(
        s"feed generation $g at $feedDir carries $badDel delete rows " +
          "with no tombstone time — scd2 cannot place the close on the " +
          "timeline; stamp deletes via CowUpsertStream.delete(..., " +
          "tombstoneTsUs = Some(t))")
      fn(rows.select(col("user_id"), col("event_type"), col("ts_us"),
        coalesce(col("event_id"), col("old_event_id")).as("event_id"),
        tier.as("tier"),
        (col("op") === "delete").as("is_delete")), g)
      folded += rows.count()
    }
    folded
  }

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `event_type`, `ts_us`, `event_id`, `tier`) plus an optional
    * `is_delete` boolean (absent = all upserts).
    * `onBatch(batchId, keptRows)` fires after the commit (or replay
    * skip).
    */
  def pipeline(stateDir: String, buckets: Int = 64,
      latenessUs: Long = 0L, compactEvery: Long = 16,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      zOrderOn: Option[ZOrder] = None,
      attrType: DataType = LongType,
      keys: StructType = defaultKeys)
      : (DataFrame, Long) => Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(latenessUs >= 0, s"latenessUs must be >= 0, got $latenessUs")
    require(compactEvery > 0,
      s"compactEvery must be positive, got $compactEvery")
    validateKeys(keys)
    val schema = stateSchema(attrType, keys)
    val dCols = dataCols(keys)
    val keyNames = keys.fieldNames.toSeq
    val st = store(stateDir, attrType, keys)
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = st.step(spark, stateDir, batchId, compactEvery)(
        check = { case (_, _, nb, _, lat) =>
          if (nb != buckets) throw new IllegalStateException(
            s"scd2 state at $stateDir is bucketed $nb ways; this pipeline " +
              s"runs $buckets — the hash layouts cannot merge, refusing")
          if (lat != latenessUs) throw new IllegalStateException(
            s"scd2 state at $stateDir was collapsed under lateness=$lat " +
              s"µs; this pipeline declares $latenessUs — rows the old " +
              "bound already collapsed cannot be un-collapsed, refusing")
        },
        replay = _._1) { (prior, gen) =>
        val hasDel = batch.columns.contains("is_delete")
        val notNullKeys = keyNames.map(col(_).isNotNull)
          .reduce(_ && _)
        val bRows = batch
          .where(notNullKeys &&
            col("ts_us").isNotNull && col("event_id").isNotNull)
          .select(keys.fields.toSeq.map(f =>
              col(f.name).cast(f.dataType).as(f.name)) ++ Seq(
            col("ts_us").cast("long").as("ts_us"),
            col("event_id").cast("long").as("event_id"),
            col("tier").cast(attrType).as("tier"),
            (if (hasDel) coalesce(col("is_delete").cast("boolean"),
              lit(false)) else lit(false)).as("is_delete")): _*)
          // redelivery immunity: an exact duplicate row is one event
          .dropDuplicates(dCols)
          .withColumn("bucket",
            CowStore.bucketOf(buckets, keyNames.map(col): _*))
          .localCheckpoint()
        // Lateness contract — REFUSE beyond-watermark rows (1-row pin).
        // priorMax == Long.MinValue is the no-events-yet sentinel (a
        // committed FIRST batch can be empty or fully null-filtered);
        // subtracting lateness from it would wrap to a huge positive
        // watermark and poison the store permanently — no watermark
        // exists until a real event time has been committed.
        val priorMax = prior.map(_._4).getOrElse(Long.MinValue)
        if (prior.isDefined && priorMax != Long.MinValue) {
          val wm = priorMax - latenessUs
          val nLate = bRows.where(col("ts_us") < wm).count()
          if (nLate > 0) throw new IllegalStateException(
            s"batch $batchId carries $nLate rows older than the " +
              s"committed watermark $wm µs (max seen $priorMax − " +
              s"lateness $latenessUs): the collapse already discarded " +
              "rows a splice this late could need — raise latenessUs " +
              "or feed the stream in watermark order")
        }
        val agg = bRows.agg(max("ts_us")).head()
        val bMax = if (agg.isNullAt(0)) Long.MinValue else agg.getLong(0)
        val newMax = math.max(priorMax, bMax)
        val touched = bRows.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        // Touched buckets' kept rows merge with the batch; a
        // compaction generation rewrites (and re-collapses) ALL.
        val priorSel =
          if (gen.prior.isEmpty || (touched.isEmpty && !gen.compacting))
            CowStore.emptyData(spark, schema, dCols)
          else CowStore.readBuckets(spark, stateDir, gen.prior,
            if (gen.compacting) None else Some(touched), schema, dCols)
        val unioned = priorSel.unionByName(bRows)
          .dropDuplicates(dCols) // replayed-row ∩ stored-row immunity
        // The provably-final collapse: below the NEW watermark, a row
        // equal to its predecessor's state can never become a change
        // point again (no future row lands between two
        // below-watermark timestamps) — drop it. Above: keep all.
        val w = keyWindow(keys)
        // Same sentinel guard: an all-empty state has nothing to
        // collapse, so the watermark stays at the floor (no wrap).
        val wmNew =
          if (newMax == Long.MinValue) Long.MinValue
          else newMax - latenessUs
        // One write path for the whole CoW family
        // ([[CowStore.writeGenData]]) — compaction generations
        // optionally z-order every rewritten bucket, giving
        // time-travel range reads over the history the REL-30 skip
        // law inside each bucket.
        gen.writeBuckets(unioned
          .withColumn("rn", row_number().over(w))
          .withColumn("prev_tier", lag(col("tier"), 1).over(w))
          .withColumn("prev_del",
            coalesce(lag(col("is_delete"), 1).over(w), lit(false)))
          .where(col("rn") === 1 ||
            col("ts_us") >= wmNew ||
            !sameState(col("tier"), col("is_delete"),
              col("prev_tier"), col("prev_del")))
          .drop("rn", "prev_tier", "prev_del"),
          if (gen.compacting) zOrderOn else None)
        // Kept-row total maintained INCREMENTALLY — the global count
        // moves by (this gen's rows − the rewritten buckets' prior
        // rows), both bucket-cost footer counts; recounting the full
        // state would silently break the ∝-touched-buckets IO law.
        val priorSelRows =
          if (gen.prior.isEmpty) 0L else priorSel.count()
        val total = prior.map(_._1).getOrElse(0L) -
          priorSelRows + gen.written
        gen.appendMeta(total, batchId, buckets.toLong, newMax, latenessUs,
          keyId(keys))
        // A touched bucket whose rows ALL collapsed away writes no
        // dir; own it via the _EMPTY marker so an older copy cannot
        // resurrect (CowStore contract).
        val written = CowStore.bucketsIn(spark, stateDir, gen.n).toSet
        CowStore.writeEmptyMarker(spark, gen.dir,
          (touched -- written).toSeq)
        total
      }
      onBatch(batchId, total)
    }
  }
}
