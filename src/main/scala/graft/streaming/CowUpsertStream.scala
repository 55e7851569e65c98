package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Copy-on-write latest-wins store + CDC changelog — [[UpsertStream]]
  * with the per-batch IO law fixed and the change feed added. The
  * plain store is exact and redelivery-immune, but it REWRITES THE
  * WHOLE STATE every batch: total write volume is O(state × batches),
  * which at 100 TB of current rows is the dominant cost of the
  * pipeline even when each batch touches a few thousand keys. Here
  * the state is hash-bucketed ([[CowStore]] layout) and each
  * generation rewrites ONLY the buckets the batch touched:
  *
  *  - **Layout**: `gen-N/bucket=i/` parquet, bucket =
  *    pmod(xxhash64(user_id, event_type), B) — a deterministic,
  *    engine-stable hash committed in the meta (a pipeline with a
  *    different B against existing state refuses). The CURRENT copy
  *    of bucket i lives in the HIGHEST committed generation that
  *    wrote it; readers resolve ownership from one driver-side
  *    directory listing (≤ retained-gens × B names) and read each
  *    bucket exactly once, partition-pruned.
  *  - **Per-batch IO ∝ touched buckets**: merge = batch argmax ∪ the
  *    touched buckets' committed rows only (pruned read), written
  *    back as only those bucket dirs. A batch touching k keys costs
  *    ~min(k, B)/B of a full rewrite — measured in SCALE.md's
  *    CowProbe decade table, both regimes.
  *  - **LSM compaction cadence** (the [[SubstrDedupStream]] /
  *    [[SplitStream]] discipline): every `compactEvery`-th generation
  *    rewrites ALL buckets and drops its predecessors, bounding the
  *    retained-generation count (and therefore resolution cost and
  *    read fan-in) at compactEvery.
  *  - **Changelog** (the Delta-CDF shape): each generation also emits
  *    its CDC delta — op ∈ insert|update with before/after images —
  *    derived from the SAME pruned incumbent read (a batch winner
  *    that loses to its incumbent emits nothing; a redelivered
  *    current row ties and emits nothing, so the feed is as
  *    redelivery-immune as the state). The changelog is written
  *    BEFORE the state commit and readers only surface generations
  *    the state store has committed, so a crash between the two
  *    writes leaves an invisible orphan the retried batch
  *    overwrites. Certified in the spec against the general
  *    [[graft.operators.SnapshotDiff]] operator:
  *    changelog(g) ≡ diff(latestAt(g−1), latestAt(g)) exactly.
  *    Downstream, [[ChangeFeedView]] folds the feed incrementally.
  *  - **Time travel**: [[latestAt]] reads the state as of any
  *    retained generation (resolution over gens ≤ asOf) — valid back
  *    to the compaction horizon, refused loudly below it.
  *
  * Deletes: the upsert LOG itself has none (argmax only grows), so
  * key-based deletion is the [[delete]] maintenance verb — bucket-cost
  * rewrite + `op='delete'` feed rows (single-writer; see its doc).
  * The argmax algebra, null guards, replay/stale protocol and meta
  * accounting are [[UpsertStream]]'s, unchanged.
  */
object CowUpsertStream {

  /** One schema for every state file; `bucket` is the partition
    * directory column (−1 = the meta row's partition). Meta carries
    * (total, batch_id, n_buckets).
    */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("n_buckets", LongType),
    StructField("bucket", IntegerType)))

  private val dataCols =
    Seq("user_id", "event_type", "ts_us", "event_id", "value")

  private val store = new GenStore.Folded("cow-upsert", stateSchema, 5, None,
      bucketed = true)(m => (m.getLong(5), m.getLong(6), m.getLong(7)))

  /** Changelog rows: key, op ('insert' | 'update'), after-image,
    * before-image (null on insert), provenance.
    */
  private val changeSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("op", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType),
    StructField("old_ts_us", LongType), StructField("old_event_id", LongType),
    StructField("old_value", DoubleType),
    StructField("batch_id", LongType), StructField("gen", LongType)))

  private def changesRoot(stateDir: String): String = s"$stateDir/changes"
  private def changeDir(stateDir: String, gen: Long): String =
    s"${changesRoot(stateDir)}/gen-$gen"

  /** The committed meta: (rows, high-water batch_id, n_buckets);
    * `None` = fresh store.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long)] = store.meta(spark, stateDir)

  /** The live current-row table (q_dd2's shape) — bytes read ∝ state,
    * never ∝ history.
    */
  def latest(spark: SparkSession, stateDir: String): DataFrame = {
    val gens = GenStore.committed(spark, stateDir)
    if (gens.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(stateSchema.take(5)))
    else latestAt(spark, stateDir, gens.max)
  }

  /** Time-travel read: the state exactly as of committed generation
    * `asOf`. Valid back to the compaction horizon (the lowest
    * retained generation — compaction dropped everything below it);
    * refused loudly outside that range.
    */
  def latestAt(spark: SparkSession, stateDir: String, asOf: Long)
      : DataFrame = {
    val gens = GenStore.committed(spark, stateDir)
    require(gens.nonEmpty, s"no committed generation under $stateDir")
    require(gens.contains(asOf),
      s"generation $asOf is not readable at $stateDir: committed range is " +
        s"[${gens.min}, ${gens.max}] (generations below the compaction " +
        "horizon were dropped)")
    CowStore.readBuckets(spark, stateDir, gens.filter(_ <= asOf), None,
        stateSchema, dataCols)
      .drop("bucket")
  }

  /** The CDC feed: every change row of every COMMITTED generation
    * (an orphan changelog from a crash before its state commit is
    * invisible here). Consumers filter on `gen` to tail
    * incrementally; compaction never trims the feed — retention is
    * the consumer's policy via [[dropChangesBelow]].
    */
  def changes(spark: SparkSession, stateDir: String): DataFrame = {
    val gens = GenStore.committed(spark, stateDir)
    val hfs = GenStore.fs(spark, stateDir)
    val root = new Path(changesRoot(stateDir))
    // Feed membership is gen <= the committed STATE frontier, not gen
    // in the retained-state set: compaction drops state generations
    // but never the feed — only an orphan ABOVE the frontier (a crash
    // between changelog write and state commit) is invisible.
    val dirs =
      if (gens.isEmpty || !hfs.exists(root)) Seq.empty[String]
      else hfs.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("gen-"))
        .filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).filter(_ <= gens.max)
        .map(g => changeDir(stateDir, g))
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        changeSchema)
    else spark.read.schema(changeSchema).parquet(dirs: _*)
  }

  /** Trim the change feed below `keep` — the consumer-side retention
    * verb (state compaction deliberately leaves the feed alone).
    */
  def dropChangesBelow(spark: SparkSession, stateDir: String,
      keep: Long): Unit = {
    val hfs = GenStore.fs(spark, stateDir)
    val root = new Path(changesRoot(stateDir))
    if (hfs.exists(root))
      hfs.listStatus(root).toSeq
        .filter { s =>
          val n = s.getPath.getName.stripPrefix("gen-")
          s.isDirectory && n.nonEmpty && n.forall(_.isDigit) &&
            n.toLong < keep
        }
        .foreach(s => hfs.delete(s.getPath, true))
  }

  /** Key-based delete — the CDC op an upsert LOG cannot carry,
    * provided as a maintenance verb at bucket cost (the
    * right-to-be-forgotten path): rewrite only the buckets holding
    * the keys, dropping their rows, and emit `op='delete'` change
    * rows with before-images into the same feed. A bucket emptied by
    * the delete is owned via the generation's `_EMPTY` marker —
    * without it, ownership would fall back to an older copy and the
    * deleted rows would resurrect ([[CowStore.bucketsIn]]). The
    * generation advances but the high-water BATCH id does not (the
    * stream's replay protocol is untouched — a delete is not a
    * batch); keys absent from the store delete nothing and emit
    * nothing. Returns the number of rows removed.
    *
    * SINGLE-WRITER requirement: delete() shares gen numbering with
    * the stream's foreachBatch but takes no lock — run it with the
    * stream paused, or from `onBatch` (which runs inside the
    * stream's own serial commit loop). As a backstop it re-checks
    * the committed frontier at commit time and REFUSES (cleaning up
    * its uncommitted dirs) if another writer committed a generation
    * mid-flight, rather than overwriting that writer's gen/changelog.
    */
  /** `tombstoneTsUs`: optional event time stamped into the delete
    * rows' `ts_us` (the after-image side stays otherwise null). An
    * upsert feed's inserts/updates carry event time but a delete has
    * none inherently — without a stamp, a downstream interval-closer
    * ([[Scd2Stream.fromFeed]]) cannot place the close on the entity's
    * timeline. Callers that fold the feed into temporal state should
    * stamp the deletion's effective time; plain view consumers
    * (ChangeFeedView / MomentFeedView / SketchFeedView) ignore it
    * (their delete delta is keyed off the BEFORE image alone).
    */
  /** Reclaim `*.staging` crash debris under `stateDir`: a crash
    * between a prior delete()'s staged write and its publish rename
    * leaves temp dirs whose non-numeric names genNumber() ignores —
    * GenStore.dropBelow/dropUncommittedAbove skip them, so without
    * this sweep they leak permanently (a later delete() at the SAME
    * gen overwrites its own pair, but a store that never reuses that
    * gen number keeps the orphans forever). Mirrors
    * dropUncommittedAbove's uncommitted-dir cleanup; safe because a
    * `.staging` path is by protocol never a committed generation.
    *
    * AGE-GATED (round 20, ADVICE): the store is single-writer by the
    * GenStore contract, but an unconditional sweep would let two
    * delete() calls racing the same store reclaim each other's
    * in-flight staged pair before the publish rename. Only staging
    * dirs older than [[stagingSweepAgeMs]] are reclaimed — an
    * in-flight stage is mtime-fresh by construction, while genuine
    * crash debris is arbitrarily old.
    */
  private[streaming] val stagingSweepAgeMs: Long = 10 * 60 * 1000L

  private def sweepStaging(spark: SparkSession, stateDir: String): Unit = {
    val hfs = GenStore.fs(spark, stateDir)
    val cutoff = System.currentTimeMillis() - stagingSweepAgeMs
    // both staged pairs: $stateDir/gen-N.staging and
    // $stateDir/changes/gen-N.staging
    Seq(stateDir, changesRoot(stateDir)).foreach { d =>
      val root = new Path(d)
      if (hfs.exists(root))
        hfs.listStatus(root).foreach { st =>
          if (st.isDirectory && st.getPath.getName.endsWith(".staging") &&
              st.getModificationTime < cutoff)
            GenStore.deleteQuiet(spark, st.getPath.toString)
        }
    }
  }

  def delete(spark: SparkSession, stateDir: String,
      keys: DataFrame, tombstoneTsUs: Option[Long] = None): Long = {
    sweepStaging(spark, stateDir)
    val prior = readMeta(spark, stateDir)
    if (prior.isEmpty) return 0L
    val (total, hw, nb) = prior.get
    val dKeys = keys
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("event_type"))
      .distinct()
      .withColumn("bucket",
        CowStore.bucketOf(nb.toInt, col("user_id"), col("event_type")))
      .localCheckpoint()
    val touched = dKeys.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return 0L
    val gens = GenStore.committed(spark, stateDir)
    val gen = gens.max + 1
    val priorTouched = CowStore.readBuckets(spark, stateDir, gens,
      Some(touched), stateSchema, dataCols)
    val keyCols = Seq("user_id", "event_type")
    val removed = priorTouched
      .join(dKeys.select("user_id", "event_type"), keyCols, "left_semi")
    val delta = removed.select(col("user_id"), col("event_type"),
      lit("delete").as("op"),
      tombstoneTsUs.map(lit(_)).getOrElse(lit(null)).cast("long")
        .as("ts_us"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("value"),
      col("ts_us").as("old_ts_us"), col("event_id").as("old_event_id"),
      col("value").as("old_value"),
      lit(null).cast("long").as("batch_id"), lit(gen).as("gen"))
    // Every write is STAGED under a temp path and renamed into place
    // only after re-verifying the frontier. Writing at the final paths
    // directly would make the mid-flight-writer backstop destructive:
    // if a concurrent stream commit landed on the same gen number, our
    // overwrite would already have clobbered that COMMITTED
    // generation's dirs, and cleaning "our" dirs up would then delete
    // the other writer's data while its commit marker survived.
    // Staged, a detected race leaves the store byte-identical.
    val cDir = changeDir(stateDir, gen)
    val genDir = GenStore.dir(stateDir, gen)
    val cTmp = s"$cDir.staging"
    val gTmp = s"$genDir.staging"
    delta.write.mode("overwrite").parquet(cTmp)
    val nDeleted = spark.read.schema(changeSchema).parquet(cTmp).count()
    if (nDeleted == 0L) { // nothing matched: no generation, no feed entry
      GenStore.deleteQuiet(spark, cTmp)
      return 0L
    }
    val remaining = priorTouched
      .join(dKeys.select("user_id", "event_type"), keyCols, "left_anti")
      .withColumn("total", lit(null).cast("long"))
      .withColumn("batch_id", lit(null).cast("long"))
      .withColumn("n_buckets", lit(null).cast("long"))
    CowStore.writeGenData(spark, gTmp, remaining)
    CowStore.appendMeta(spark, gTmp,
      Row(null, null, null, null, null,
        total - nDeleted, hw, nb, Integer.valueOf(-1)),
      stateSchema)
    val written = CowStore.bucketsInDir(spark, gTmp).toSet
    CowStore.writeEmptyMarker(spark, gTmp,
      (touched -- written).toSeq)
    // Mid-flight-writer backstop: if the stream committed a gen while
    // we were staging, refuse and drop the staging dirs — the final
    // paths were never touched, so "no state was changed" is exact.
    val frontierNow = GenStore.committed(spark, stateDir).max
    if (frontierNow != gens.max) {
      GenStore.deleteQuiet(spark, gTmp)
      GenStore.deleteQuiet(spark, cTmp)
      throw new IllegalStateException(
        s"delete() on $stateDir raced a concurrent writer: committed " +
          s"frontier moved ${gens.max} -> $frontierNow mid-flight; " +
          "delete() requires a single writer (pause the stream or run " +
          "via onBatch) — no state was changed (writes were staged)")
    }
    // The frontier is unchanged, so a dir already at gen can only be
    // an UNCOMMITTED orphan (crash debris) — safe to replace. Rename
    // into a surviving dir would nest on the local FS, so clear first.
    val hfs = GenStore.fs(spark, stateDir)
    GenStore.deleteQuiet(spark, genDir)
    GenStore.deleteQuiet(spark, cDir)
    if (!hfs.rename(new Path(gTmp), new Path(genDir)) ||
        !hfs.rename(new Path(cTmp), new Path(cDir))) {
      GenStore.deleteQuiet(spark, gTmp)
      GenStore.deleteQuiet(spark, cTmp)
      GenStore.deleteQuiet(spark, genDir)
      GenStore.deleteQuiet(spark, cDir)
      throw new IllegalStateException(
        s"delete() on $stateDir could not publish staged generation " +
          s"$gen (rename refused) — generation not committed")
    }
    GenStore.commit(spark, stateDir, gen)
    nDeleted
  }

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `event_type`, `ts_us`, `event_id`, `value`).
    * `onBatch(batchId, rows)` fires after the commit (or replay skip).
    *
    * `rawChangelog` (round 19, default false — the store-granular
    * contract): with true, the feed carries EVERY intra-batch
    * transition per key, not just the batch winner — the key's batch
    * rows that beat the incumbent, replayed in (ts_us, event_id)
    * order, each emitting one change row whose before-image is the
    * previous link of the chain (the incumbent for the first). The
    * chain telescopes to exactly the store-mode row (state write and
    * total bookkeeping are IDENTICAL — the argmax is the chain's last
    * link), so every delta-fold consumer (the feed views) converges to
    * the same state either way; what changes is GRANULARITY: a
    * temporal consumer ([[Scd2Stream.fromFeed]]) sees every
    * intermediate tier as a version — raw-exact history off the feed,
    * without re-plumbing the raw stream. An intra-batch A→B→A
    * round-trip yields three versions raw, one store-granular
    * (Scd2StreamSpec pins both). Granularity is per generation (the
    * writer's choice at write time); note the changelog(g) ≡
    * SnapshotDiff(g−1, g) law holds row-for-row only in store mode —
    * in raw mode the diff equals the chain's ENDPOINTS.
    */
  def pipeline(stateDir: String, buckets: Int = 64,
      compactEvery: Long = 16,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      zOrderOn: Option[ZOrder] = None,
      rawChangelog: Boolean = false)
      : (DataFrame, Long) => Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(compactEvery > 0,
      s"compactEvery must be positive, got $compactEvery")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId, compactEvery)(
        check = { case (_, _, nb) =>
          if (nb != buckets) throw new IllegalStateException(
            s"cow-upsert state at $stateDir is bucketed $nb ways; this " +
              s"pipeline runs $buckets — the hash layouts cannot merge, " +
              "refusing")
        },
        replay = _._1) { (prior, gen) =>
        val bRows = batch
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("ts_us").isNotNull && col("event_id").isNotNull)
          .select(col("user_id").cast("long").as("user_id"),
            col("event_type").cast("string").as("event_type"),
            col("ts_us").cast("long").as("ts_us"),
            col("event_id").cast("long").as("event_id"),
            col("value").cast("double").as("value"))
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts_us").desc, col("event_id").desc)
        // Batch winners, checkpointed once (batch-sized) — reused by
        // the touched-set read, the changelog join and the merge.
        val winners = bRows
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).drop("rn")
          .withColumn("bucket",
            CowStore.bucketOf(buckets, col("user_id"), col("event_type")))
          .localCheckpoint()
        val touched = winners.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        val priorTouched =
          if (gen.prior.isEmpty || touched.isEmpty)
            CowStore.emptyData(spark, stateSchema, dataCols)
          else CowStore.readBuckets(spark, stateDir, gen.prior,
            Some(touched), stateSchema, dataCols)
        // CDC delta off the SAME pruned incumbent read: a winner
        // beats its incumbent strictly (ties = redelivered current
        // row = silence).
        val beats = col("ts_us") > col("old_ts_us") ||
          (col("ts_us") === col("old_ts_us") &&
            col("event_id") > col("old_event_id"))
        val incumbent = priorTouched.select(col("user_id"),
          col("event_type"), col("ts_us").as("old_ts_us"),
          col("event_id").as("old_event_id"),
          col("value").as("old_value"))
        val delta = if (!rawChangelog)
          winners.join(incumbent, Seq("user_id", "event_type"), "left")
            .where(col("old_event_id").isNull || beats)
            .select(col("user_id"), col("event_type"),
              when(col("old_event_id").isNull, lit("insert"))
                .otherwise(lit("update")).as("op"),
              col("ts_us"), col("event_id"), col("value"),
              col("old_ts_us"), col("old_event_id"), col("old_value"),
              lit(batchId).as("batch_id"), lit(gen.n).as("gen"))
        else {
          // The per-event chain: batch rows beating the incumbent,
          // ascending — in that order EVERY such row is a running
          // maximum, i.e. a state the key actually passed through;
          // each links back to its predecessor (the incumbent for
          // the first). Ties on (ts, event_id) collapse to one row
          // first (redelivery immunity — a duplicate would otherwise
          // emit a self-transition).
          val wAsc = Window.partitionBy("user_id", "event_type")
            .orderBy(col("ts_us").asc, col("event_id").asc)
          bRows
            .dropDuplicates(Seq("user_id", "event_type", "ts_us",
              "event_id"))
            .join(incumbent, Seq("user_id", "event_type"), "left")
            .where(col("old_event_id").isNull || beats)
            .withColumn("prev_ts", lag(col("ts_us"), 1).over(wAsc))
            .withColumn("prev_eid", lag(col("event_id"), 1).over(wAsc))
            .withColumn("prev_val", lag(col("value"), 1).over(wAsc))
            .select(col("user_id"), col("event_type"),
              when(col("prev_eid").isNull && col("old_event_id").isNull,
                lit("insert")).otherwise(lit("update")).as("op"),
              col("ts_us"), col("event_id"), col("value"),
              coalesce(col("prev_ts"), col("old_ts_us")).as("old_ts_us"),
              coalesce(col("prev_eid"), col("old_event_id"))
                .as("old_event_id"),
              // NOT coalesce: a chain predecessor with a null VALUE is
              // still the true before-image (value is nullable)
              when(col("prev_eid").isNotNull, col("prev_val"))
                .otherwise(col("old_value")).as("old_value"),
              lit(batchId).as("batch_id"), lit(gen.n).as("gen"))
        }
        val cDir = changeDir(stateDir, gen.n)
        delta.write.mode("overwrite").parquet(cDir)
        val nInserts = spark.read.schema(changeSchema).parquet(cDir)
          .where(col("op") === "insert").count()
        // State write: touched buckets only — or everything on a
        // compaction generation.
        val priorSel =
          if (!gen.compacting) priorTouched
          else CowStore.readBuckets(spark, stateDir, gen.prior, None,
            stateSchema, dataCols)
        val total = prior.map(_._1).getOrElse(0L) + nInserts
        // Compaction generations optionally z-order every rewritten
        // bucket (the one write already touching all of them) — the
        // REL-30 skip law inside the upsert store's buckets.
        gen.writeBuckets(priorSel.unionByName(winners)
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1).drop("rn"),
          if (gen.compacting) zOrderOn else None)
        gen.appendMeta(total, batchId, buckets.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }
}
