package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{SignatureExpressions, TextFunctions => TF}
import graft.operators.Dedup

/** NEAR-dup dedup as a STREAM — the MinHash-LSH analog of
  * [[IndexMaintenance]]'s closed index loop, and the missing streaming
  * tier above [[CurationStream]]'s EXACT content-fingerprint dedup:
  * documents arrive continuously, each micro-batch is checked against a
  * STORED signature index of every previously retained document, and
  * only novel documents pass through (and join the index).
  *
  * Semantics — GREEDY-PREFIX, the standard online dedup posture:
  *  - within a batch: min-id-canonical clusters (the batch-local pair
  *    graph resolved by [[Dedup.dupClusters]] — same rule as the batch
  *    funnel's near-dup stage);
  *  - across batches: first-arrival-wins — a doc near-dup (verified
  *    Jaccard ≥ `threshold`) of any RETAINED earlier doc is dropped. A
  *    doc similar only to a previously DROPPED doc is kept: the index
  *    holds retained docs only, so the transitive closure a batch run
  *    would compute over the full corpus is traded for bounded state
  *    (batch dupClusters over everything-ever is a re-run, not a
  *    stream). StreamingSpec pins both the one-batch ≡ batch-pipeline
  *    case and the chain case where the semantics legitimately differ.
  *
  * Index layout — a MANIFEST of the structural parameters at the
  * root, then two PARTITIONED parquet tables per GENERATION
  * (`indexDir/gen-N/bands`, `indexDir/gen-N/toks`, resolvable once
  * `gen-N/COMMITTED` exists — [[GenStore]]'s protocol). Partitioning
  * is what keeps the per-batch cost O(batch), not O(index);
  * generations are what keep the FILE COUNT bounded (see compaction
  * below):
  *  - `bands`: (doc_id, bucket) partitioned by (band, pslot) where
  *    `pslot = pmod(bucket, bucketSlots)` — the LSH blocking keys,
  *    computed ONCE at admission by the same fused codegen generator
  *    as the batch path ([[SignatureExpressions.minhashBands]]); never
  *    recomputed for stored docs. `band` alone cannot prune (every doc
  *    emits one row PER band, so every batch touches every band value);
  *    the fixed-width bucket slot is the axis that actually narrows the
  *    scan to the partitions holding the batch's candidate buckets.
  *  - `toks`: (doc_id, toks) partitioned by `tslot = pmod(doc_id,
  *    idSlots)` — distinct token sets for the exact Jaccard verify,
  *    read only for the slots that hold verified-candidate ids.
  *
  * Per-batch cost: one map-side signature pass over the batch, a
  * bucket join of the batch's bands against the PRUNED stored bands,
  * and an exact verify over candidates joined to the PRUNED stored
  * token sets. The two key-set collects that drive the pruning are
  * BOUNDED by the fixed partition grid (≤ bands·bucketSlots and
  * ≤ idSlots ints), never by data volume — the same justification as
  * IndexMaintenance's baseline pin. The pipeline's own reads prune off
  * a driver-side FILE-LIST CACHE (exact under the single-writer
  * contract: full listing on generation change, touched-leaf extension
  * after each append), so a batch opens exactly the matching files
  * with ZERO directory walking — round 12's probe measured ~14 s/batch
  * of fixed cost dominated by per-batch listings (the growth trigger's
  * recursive walk + each read's grid-leaf listing), which this removes.
  * The directory-walking forms remain the consumer/test surface
  * ([[prunedBands]]/[[prunedToks]], partition-filter pruning asserted
  * in StreamingDedupSpec); crash-replay correctness is unchanged
  * because a restarted driver reconstructs the pipeline and re-lists
  * (the crash model the replay specs drive). Appends write the batch's
  * own novel rows only, into their partition directories.
  *
  * Small-file compaction: each batch's appends write one file per
  * TOUCHED partition, so over a long stream the per-partition file
  * count grows with batch count — directory listing and footer reads
  * erode the O(batch) read even with pruning (the small-files disease
  * the reference's compactor exists to cure, reference
  * sensor-log-compactor.py:157-173). When `compactAtFiles` data files
  * have ACCRETED since the last compaction (growth, not absolute
  * size — the post-compaction count floors at one file per non-empty
  * leaf, so an absolute threshold at or below that floor would compact
  * every batch forever), the pipeline rewrites
  * both tables into generation N+1 clustered one-file-per-partition
  * (`repartition` on the partition keys), commits the marker, and
  * drops the old generation — the same copy→commit→drop protocol as
  * the offset log, so a crash at any point leaves either the old
  * generation authoritative or both committed (reader takes the max).
  * A compaction pass costs O(index) — amortized O(index/batches-per-
  * trigger) per batch, and the trigger is file count, not time, so a
  * quiet stream never pays it. Row contents are preserved exactly, so
  * a replay across the boundary resolves identically. With
  * `asyncCompact` the rewrite runs off the batch path entirely — a
  * daemon copier over a frozen file-list snapshot, the stream
  * continuing on the old generation, and a swap that carries the
  * window's appends as a listing delta (see [[minhashDedupPipeline]]).
  *
  * Crash-replay (foreachBatch is at-least-once): the per-batch appends
  * are ordered survivors → toks → bands so that a replayed batch either
  * self-matches against its own fully-committed admission (Jaccard 1 —
  * absorbed idempotently) or re-admits and completes a partial one;
  * survivors are batch-id-partitioned and dynamically OVERWRITTEN per
  * batch, so a replay rewrites its own partition instead of appending
  * duplicates — the survivor set is exactly-once (StreamingDedupSpec
  * replay tests), and the index always converges to findable +
  * verifiable entries. See the append-order comment in
  * [[minhashDedupPipeline]]. The survivors store is itself folded into
  * sealed segments ([[FoldStore]]) so its directory count does not grow
  * one-per-batch forever — the output-store counterpart of the index
  * compaction.
  *
  * Reference seam: the reference dedups nothing (at-least-once pub is
  * its delivery floor, sensor_publish.py:46-83); this operator is part
  * of the training-data extension tier, the streaming form of DD-1/DD-2
  * over CONTENT similarity rather than message identity.
  */
object StreamingDedup {

  /** Explicit read schemas (partition columns included): the stored
    * tables are read with these rather than inferred, so a fresh index
    * (zero files — an empty partitioned write emits none) reads as an
    * empty relation instead of failing schema inference, and schema
    * drift in the dirs surfaces as a read error, not silent coercion.
    */
  private val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("bucket", LongType),
    StructField("band", IntegerType), StructField("pslot", IntegerType)))
  private val toksSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("toks", ArrayType(StringType)),
    StructField("tslot", IntegerType)))
  private val survivorsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType), StructField("batch_id", LongType)))

  /** The six STRUCTURAL parameters persisted in the index MANIFEST:
    * signature shape (`numPerms`/`bands`/`shingleSize`/`md5Parity` —
    * stored signatures are computed once, at admission, so a different
    * shape makes stored and new signatures incomparable) and pruning
    * grid (`bucketSlots`/`idSlots` — a different grid silently prunes
    * WRONG partitions, i.e. misses duplicates). `threshold` is a
    * semantic knob (tightening future admissions is legal) and stays
    * out.
    */
  private def manifestEntries(numPerms: Int, bands: Int, shingleSize: Int,
      md5Parity: Boolean, bucketSlots: Int, idSlots: Int)
      : Seq[(String, String)] = Seq(
    "kind" -> "minhash-dedup-index",
    "numPerms" -> numPerms.toString, "bands" -> bands.toString,
    "shingleSize" -> shingleSize.toString, "md5Parity" -> md5Parity.toString,
    "bucketSlots" -> bucketSlots.toString, "idSlots" -> idSlots.toString)

  /** Create the empty signature index: MANIFEST (the structural
    * parameters every later pipeline construction is checked against),
    * then empty generation-0 tables, then the COMMITTED marker. Call
    * once before starting the stream; the parameters must match the
    * pipeline's.
    *
    * Over an EXISTING store, init never overwrites the manifest —
    * readers take the highest committed generation, so a re-init with
    * different structural parameters would leave old-layout data
    * authoritative while the construction check passes against the new
    * values, exactly the silent mis-prune the manifest exists to
    * prevent. Matching parameters verify-and-no-op (idempotent init; a
    * crashed first init — manifest written, no committed generation —
    * completes); mismatched parameters, or committed generations with
    * no manifest at all, refuse loudly.
    */
  def initMinhashIndex(spark: SparkSession, indexDir: String,
      numPerms: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      md5Parity: Boolean = false, bucketSlots: Int = 4,
      idSlots: Int = 64): Unit = {
    import spark.implicits._
    val entries = manifestEntries(numPerms, bands, shingleSize, md5Parity,
      bucketSlots, idSlots)
    val gens = GenStore.committed(spark, indexDir)
    if (gens.nonEmpty || StoreManifest.read(spark, indexDir).isDefined)
      StoreManifest.check(spark, indexDir, entries, "minhash dedup index")
    else StoreManifest.write(spark, indexDir, entries)
    if (gens.isEmpty) {
      val g0 = GenStore.dir(indexDir, 0L)
      Seq.empty[(Long, Long, Int, Int)].toDF("doc_id", "bucket", "band", "pslot")
        .write.partitionBy("band", "pslot").mode("overwrite")
        .parquet(s"$g0/bands")
      Seq.empty[(Long, Seq[String], Int)].toDF("doc_id", "toks", "tslot")
        .write.partitionBy("tslot").mode("overwrite")
        .parquet(s"$g0/toks")
      GenStore.commit(spark, indexDir, 0L)
    }
  }

  /** The current (highest committed) generation's directory — where
    * reads resolve and appends land between compactions.
    */
  def currentGenDir(spark: SparkSession, indexDir: String): String =
    GenStore.dir(indexDir, GenStore.latest(spark, indexDir))

  /** Full read of the current generation's bands table (consumer /
    * test surface; the pipeline itself only ever reads pruned).
    */
  def bandsTable(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(bandsSchema)
      .parquet(s"${currentGenDir(spark, indexDir)}/bands")

  /** Full read of the current generation's toks table. */
  def toksTable(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(toksSchema)
      .parquet(s"${currentGenDir(spark, indexDir)}/toks")

  /** The deduped output stream — every committed survivors segment
    * plus the live `batch_id=` tail ([[FoldStore]]'s union view; the
    * consumer surface a downstream curation funnel reads).
    */
  def survivorsTable(spark: SparkSession, survivorsDir: String): DataFrame =
    FoldStore.read(spark, survivorsDir, survivorsSchema)

  /** Stored-bands read pruned to the partitions whose
    * `band * bucketSlots + pslot` key is in `keys`. The predicate
    * references only partition columns, so Catalyst's partition pruning
    * evaluates it against the directory listing — partitions outside
    * the key set are never read (StreamingDedupSpec asserts
    * `PartitionFilters` on the scan and a selected-partition count
    * below the total).
    */
  def prunedBands(spark: SparkSession, indexDir: String,
      bucketSlots: Int, keys: Seq[Int]): DataFrame = {
    val stored = spark.read.schema(bandsSchema)
      .parquet(s"${currentGenDir(spark, indexDir)}/bands")
    if (keys.isEmpty) stored.where(lit(false))
    else stored.where(
      (col("band") * lit(bucketSlots) + col("pslot")).isin(keys: _*))
  }

  /** Stored-toks read pruned to the `tslot` partitions holding the
    * verified-candidate ids.
    */
  def prunedToks(spark: SparkSession, indexDir: String,
      slots: Seq[Int]): DataFrame = {
    val stored = spark.read.schema(toksSchema)
      .parquet(s"${currentGenDir(spark, indexDir)}/toks")
    if (slots.isEmpty) stored.where(lit(false))
    else stored.where(col("tslot").isin(slots: _*))
  }

  /** Rewrite generation `gen`'s tables into `gen + 1`, clustered one
    * file per partition (`repartition` on the partition keys puts each
    * leaf's rows in exactly one task), commit, drop everything older —
    * the offset log's copy→commit→drop protocol applied to the index.
    * Returns the new generation.
    */
  private def compactIndex(spark: SparkSession, indexDir: String,
      gen: Long): Long = {
    writeCompacted(spark, indexDir, gen + 1,
      GenStore.dataFiles(spark, s"${GenStore.dir(indexDir, gen)}/bands"),
      GenStore.dataFiles(spark, s"${GenStore.dir(indexDir, gen)}/toks"),
      GenStore.dir(indexDir, gen))
    GenStore.commit(spark, indexDir, gen + 1)
    GenStore.dropBelow(spark, indexDir, gen + 1)
    gen + 1
  }

  /** The compaction's COPY half: cluster exactly `bandFiles`/`tokFiles`
    * (a frozen file-list snapshot of generation `target - 1`) into
    * generation `target`, one file per partition, WITHOUT committing.
    * Reading the explicit snapshot files (with `basePath` so the
    * partition columns still parse from the paths) rather than the
    * directory is what makes this safe to run OFF-PATH: the single
    * writer keeps appending new files to the old generation, and the
    * copy cannot see a torn corpus — the appends it misses are exactly
    * the listing delta the swap carries over.
    */
  private def writeCompacted(spark: SparkSession, indexDir: String,
      target: Long, bandFiles: Seq[String], tokFiles: Seq[String],
      fromDir: String): Unit = {
    val to = GenStore.dir(indexDir, target)
    readFiles(spark, bandsSchema, s"$fromDir/bands", bandFiles)
      .repartition(col("band"), col("pslot"))
      .write.partitionBy("band", "pslot").mode("overwrite")
      .parquet(s"$to/bands")
    readFiles(spark, toksSchema, s"$fromDir/toks", tokFiles)
      .repartition(col("tslot"))
      .write.partitionBy("tslot").mode("overwrite")
      .parquet(s"$to/toks")
  }

  /** Read an explicit parquet file list under `basePath` (partition
    * columns parsed from the paths); an empty list is an empty relation
    * — a fresh index has zero data files.
    */
  private def readFiles(spark: SparkSession, schema: StructType,
      basePath: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    else spark.read.schema(schema).option("basePath", basePath)
      .parquet(files: _*)

  /** The foreachBatch function: batch-local near-dup resolution, then
    * the stored-index check, then append + emit. `survivorsDir`
    * accumulates the retained (doc_id, text, ts) rows under
    * `live/batch_id=` partitions, folded into sealed segments every
    * `foldSurvivorsEvery` closed batches ([[FoldStore]] — directory
    * count O(batches/foldEvery), each row written at most twice) — the
    * deduped stream a downstream curation funnel consumes via
    * [[survivorsTable]]. `onBatch(batchId, nArrived, nRetained)` is the
    * monitoring hook. `bucketSlots`/`idSlots` fix the index partition
    * grid (bands·bucketSlots and idSlots leaf dirs) — they must stay
    * constant for the life of one index, which is exactly what the
    * construction-time MANIFEST check enforces: the structural
    * parameters are compared against the persisted manifest and ANY
    * mismatch throws, because a mismatched grid would silently prune
    * wrong (missed duplicates) and a mismatched signature shape would
    * make stored signatures unfindable. `compactAtFiles` bounds the
    * index's small-file accretion (see the compaction note above);
    * `Int.MaxValue` disables.
    *
    * `asyncCompact = true` moves the O(index) rewrite OFF the batch
    * path — the off-path build of [[GenStore.OffPathBuild]], shared
    * with [[IndexMaintenance]]'s rebuilding pipelines, applied to the
    * compaction (the 100 TB availability stance: inline, the
    * rewrite stalls ingestion for the full index copy; see SCALE.md).
    * The growth trigger SUBMITS a clustered copy of a frozen file-list
    * snapshot of generation N to a daemon thread (the listing taken in
    * the stream thread — the single writer — so it cannot race an
    * append) while batches keep reading and appending generation N. The
    * first batch after the copy finishes runs the SWAP in the stream
    * thread: the files appended to gen N since the snapshot — exactly
    * the listing delta, no staging needed because compaction is pure
    * file movement — are appended into gen N+1 as-is, the marker
    * commits, gen N drops. Swap cost is O(window appends), never
    * O(index). Crash orphans (an uncommitted target gen) are reaped at
    * construction, at resubmission, and in the failure branch; a copy
    * failure surfaces via `onCompactError` on the next batch (default
    * rethrows) and the still-standing growth trigger re-submits.
    * `compactGate` runs in the copier thread before any read (the
    * deterministic-window test hook); `onCompact(batchId, newGen)`
    * fires after each swap.
    */
  def minhashDedupPipeline(spark: SparkSession, indexDir: String,
      survivorsDir: String,
      numPerms: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.5, md5Parity: Boolean = false,
      bucketSlots: Int = 4, idSlots: Int = 64,
      compactAtFiles: Int = 4096, foldSurvivorsEvery: Int = 64,
      onBatch: (Long, Long, Long) => Unit = (_, _, _) => (),
      asyncCompact: Boolean = false,
      onCompact: (Long, Long) => Unit = (_, _) => (),
      compactGate: () => Unit = () => (),
      onCompactError: (Long, Throwable) => Unit = (_, e) => throw e)
      : (DataFrame, Long) => Unit = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    require(bucketSlots > 0 && idSlots > 0, "slot counts must be positive")
    require(compactAtFiles > 0, "compactAtFiles must be positive")
    StoreManifest.check(spark, indexDir,
      manifestEntries(numPerms, bands, shingleSize, md5Parity, bucketSlots,
        idSlots), "minhash dedup index")
    // Reap stale generations a crashed compaction left behind (died
    // after commit, before dropBelow — the old generation persists
    // forever on a store that never re-triggers; correctness is
    // unaffected since readers take the max, this reclaims the disk).
    GenStore.committed(spark, indexDir) match {
      case gens if gens.nonEmpty =>
        GenStore.dropBelow(spark, indexDir, gens.max)
        // And reap an uncommitted orphan ABOVE the frontier — an async
        // compaction that died before its commit point (single-writer:
        // nothing is in flight at construction).
        GenStore.dropUncommittedAbove(spark, indexDir, gens.max)
      case _ =>
    }
    // -------------------------------------------------------------
    // Driver-side FILE-LIST CACHE of the current generation — the
    // per-batch listing cut (StreamingDedupProbe measured a ~14 s/batch
    // fixed floor at 500k docs, dominated by per-batch directory
    // listings: the growth trigger's recursive walk plus each pruned
    // read's ~grid-leaf listing). The cache is EXACT under the
    // single-writer contract: rebuilt by one full listing on generation
    // change, extended after each append by listing ONLY the touched
    // partition directories (bounded by the batch's key sets, never the
    // index). Batch reads then open explicit file lists (zero listing),
    // our own path-parsed pruning replacing Catalyst's directory-walk
    // partition pruning — same selected set, no walk — and the growth
    // trigger reads two vector sizes.
    // -------------------------------------------------------------
    var cacheGen = -1L
    var bandFiles = Vector.empty[String]
    var toksFiles = Vector.empty[String]
    def refreshCache(gen: Long): Unit = {
      bandFiles = GenStore.dataFiles(spark,
        s"${GenStore.dir(indexDir, gen)}/bands").toVector
      toksFiles = GenStore.dataFiles(spark,
        s"${GenStore.dir(indexDir, gen)}/toks").toVector
      cacheGen = gen
    }
    val bandKeyRe = ".*/band=(\\d+)/pslot=(\\d+)/[^/]+$".r
    val tslotRe = ".*/tslot=(\\d+)/[^/]+$".r
    def bandKeyOf(path: String): Int = path match {
      case bandKeyRe(b, p) => b.toInt * bucketSlots + p.toInt
      case _ => -1
    }
    def tslotOf(path: String): Int = path match {
      case tslotRe(s) => s.toInt
      case _ => -1
    }
    /** Non-recursive data-file listing of explicit leaf dirs (missing
      * dirs skipped) — the bounded post-append cache extension.
      */
    def listLeafDirs(dirs: Seq[String]): Seq[String] = {
      val hfs = GenStore.fs(spark, indexDir)
      dirs.flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        if (!hfs.exists(p)) Seq.empty
        else hfs.listStatus(p).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .map(_.getPath.toString)
      }
    }
    // The compaction trigger measures GROWTH, not absolute size: the
    // post-compaction file count floors at one file per non-empty leaf
    // (up to bands·bucketSlots + idSlots), so an absolute threshold at
    // or below that floor would pay an O(index) compaction EVERY batch
    // forever. Compacting only when `compactAtFiles` files have
    // accreted since the last compaction cannot sit below the
    // steady-state count. The floor is learned at the first compaction
    // (a restarted pipeline re-learns it at the cost of at most one
    // early compaction).
    var lastPostCompact = -1L
    // Off-path compaction ([[GenStore.OffPathBuild]]); the snapshot
    // file sets are stream-thread-only.
    val copies = new GenStore.OffPathBuild(spark, indexDir,
      "graft-index-compact", compactGate, onCompactError)
    var snapBands: Set[String] = Set.empty
    var snapToks: Set[String] = Set.empty
    (batch: DataFrame, batchId: Long) => {
      val arrivals0 = batch.select(col("doc_id"), col("text"), col("ts"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // One pass both counts and materializes the batch (the old
      // pre-select count paid an extra scan of the raw batch).
      val n = arrivals0.count()
      if (n == 0) arrivals0.unpersist(blocking = false)
      else {
        // SWAP: the copy finished since the last batch. Carry the
        // listing delta — every file appended to the old generation
        // during the copy window — into the new generation AS-IS (pure
        // file movement; clustering the window's few small files can
        // wait for the next compaction), then commit, drop the old
        // generation, and re-learn the post-compaction floor. The delta
        // comes from the CACHE (kept exact through the copy window), not
        // a directory walk.
        if (asyncCompact) copies.swap { g2 =>
          val from = GenStore.dir(indexDir, g2 - 1)
          val to = GenStore.dir(indexDir, g2)
          if (cacheGen != g2 - 1) refreshCache(g2 - 1)
          val deltaBands = bandFiles.filterNot(snapBands.contains)
          val deltaToks = toksFiles.filterNot(snapToks.contains)
          if (deltaBands.nonEmpty)
            readFiles(spark, bandsSchema, s"$from/bands", deltaBands)
              .write.partitionBy("band", "pslot").mode("append")
              .parquet(s"$to/bands")
          if (deltaToks.nonEmpty)
            readFiles(spark, toksSchema, s"$from/toks", deltaToks)
              .write.partitionBy("tslot").mode("append")
              .parquet(s"$to/toks")
          GenStore.commit(spark, indexDir, g2)
          GenStore.dropBelow(spark, indexDir, g2)
          refreshCache(g2)
          lastPostCompact = (bandFiles.size + toksFiles.size).toLong
          snapBands = Set.empty; snapToks = Set.empty
        }.foreach(onCompact(batchId, _))
        // Resolve the generation at batch start, and compact FIRST if
        // the growth bound is crossed — so this batch's reads and
        // appends all target the surviving generation (inline mode; in
        // async mode the trigger submits and this batch proceeds on the
        // old generation). The trigger reads cache sizes — no walk.
        var gen = GenStore.latest(spark, indexDir)
        if (gen != cacheGen) refreshCache(gen)
        val grown = (bandFiles.size + toksFiles.size).toLong >=
          (if (lastPostCompact < 0) compactAtFiles.toLong
           else lastPostCompact + compactAtFiles)
        if (grown) {
          if (!asyncCompact) {
            gen = compactIndex(spark, indexDir, gen)
            refreshCache(gen)
            lastPostCompact = (bandFiles.size + toksFiles.size).toLong
          } else if (copies.target.isEmpty) {
            // SUBMIT the off-path copy: snapshot the file lists HERE
            // (single-writer thread — no append can race the cache) and
            // hand the frozen lists to the copier. The snapshot IS the
            // cache.
            val target = gen + 1
            val fromDir = GenStore.dir(indexDir, gen)
            val bandSnap = bandFiles
            val tokSnap = toksFiles
            snapBands = bandSnap.toSet
            snapToks = tokSnap.toSet
            copies.submit(batchId, target) { () =>
              writeCompacted(spark, indexDir, target, bandSnap, tokSnap,
                fromDir)
            }
          }
        }
        // Fold closed survivor partitions into a sealed segment every
        // `foldSurvivorsEvery` batches (the output-store analog of the
        // index compaction above — see [[FoldStore]]); strictly below
        // this batch's id, so the replay overwrite below always lands
        // in a live partition.
        FoldStore.maybeFold(spark, survivorsDir, batchId,
          foldSurvivorsEvery, survivorsSchema)
        val genPath = GenStore.dir(indexDir, gen)
        val arrivals = arrivals0
        // Stage 1 — batch-local near-dup: the batch pair graph resolved
        // to min-id canonicals (identical machinery to the batch path).
        val localPairs = Dedup.minhashNearDups(arrivals, numPerms,
          bands, shingleSize, threshold, md5Parity)
        val localDrop = Dedup.dupClusters(localPairs)
          .where(col("doc_id") =!= col("cluster")).select("doc_id")
        val localKeep = arrivals.join(localDrop, Seq("doc_id"), "left_anti")
        // Stage 2 — stored-index check. Signatures for the batch's
        // local keepers (one map-side generator pass), bucket-joined
        // against the stored bands PRUNED to the batch's partition
        // keys; candidates verified by exact Jaccard against the
        // stored token sets PRUNED to the candidates' id slots.
        val keepBanded = localKeep
          .select(col("doc_id"), posexplode(SignatureExpressions.minhashBands(
            TF.shingles(col("text"), shingleSize), numPerms, bands, md5Parity))
            .as(Seq("band", "bucket")))
          .withColumn("pslot", pmod(col("bucket"), lit(bucketSlots)).cast("int"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // Bounded collect (≤ bands·bucketSlots ints — the partition
        // grid, not the data): the batch's partition-key set, driving
        // the stored-bands partition pruning below.
        val batchKeys = keepBanded
          .select((col("band") * lit(bucketSlots) + col("pslot"))
            .cast("int").as("k"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        // Pruned read off the CACHE: the key filter applies to parsed
        // file paths on the driver, and the scan opens exactly the
        // matching files — same selected set as Catalyst's partition
        // pruning ([[prunedBands]], the consumer surface), zero
        // directory walk.
        val batchKeySet = batchKeys.toSet
        val storedBands = readFiles(spark, bandsSchema, s"$genPath/bands",
          bandFiles.filter(f => batchKeySet.contains(bandKeyOf(f))))
        val candPairs = keepBanded
          .join(storedBands.select(col("band"), col("bucket"),
            col("doc_id").as("idx_id")), Seq("band", "bucket"))
          .select("doc_id", "idx_id").distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        // Bounded collect (≤ idSlots ints): the candidates' id-slot
        // set, pruning the stored-toks verify read.
        val candSlots = candPairs
          .select(pmod(col("idx_id"), lit(idSlots)).cast("int").as("tslot"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        val batchToks = localKeep.select(col("doc_id"),
          array_distinct(TF.tokens(col("text"))).as("ta"))
        val candSlotSet = candSlots.toSet
        val storedToks = readFiles(spark, toksSchema, s"$genPath/toks",
            toksFiles.filter(f => candSlotSet.contains(tslotOf(f))))
          .select(col("doc_id").as("idx_id"), col("toks").as("tb"))
        val dupIds = candPairs.join(batchToks, "doc_id").join(storedToks, "idx_id")
          .where(round(TF.jaccard(col("ta"), col("tb")), 6) >= threshold)
          .select("doc_id").distinct()
        // CHECKPOINT the retained set BEFORE appending to the paths this
        // batch just read. persist() is NOT enough: each append below
        // fires refreshByPath on the index dir, which re-caches (=
        // discards and lazily recomputes) any cached plan scanning that
        // path — a persisted `retained` re-evaluated after the appends
        // would re-list the index WITH this batch's own rows, every doc
        // would match itself through the freshly appended toks, and the
        // survivors write would emit nothing. The eager localCheckpoint
        // truncates the plan to an RDD no path refresh can touch (the
        // IndexMaintenance pipelines pin their baselines the same way,
        // via driver-local relations — here the set is batch-sized, so
        // executor-held checkpoint blocks, freed below, beat a collect).
        val retained = localKeep.join(dupIds, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val kept = retained.count()
        def freeCheckpoint(): Unit =
          retained.queryExecution.analyzed.collectFirst {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              lr.rdd.unpersist(blocking = false)
          }
        try {
          // Append ORDER is the crash-replay contract (foreachBatch is
          // at-least-once): survivors first, then toks, then bands —
          // the admission becomes visible to future candidate joins
          // (bands) only LAST. A replay after a full commit finds each
          // retained doc as its own index match (bands + toks, Jaccard
          // 1) and retains nothing — full batches absorb idempotently
          // (the dynamic overwrite of an EMPTY retained set is a no-op:
          // zero rows touch zero partitions, so the committed survivors
          // stand). A replay after a partial commit finds no bands row,
          // admits the doc again, and OVERWRITES its own batch_id
          // partition — identical rows, no duplicates (the exactly-once
          // survivor sink the r8 verdict asked for) — then completes
          // the missing index appends. Bands-first would instead strand
          // docs findable-but-unverifiable, silently admitting their
          // future near-dups.
          FoldStore.writeLive(retained, survivorsDir, batchId)
          retained.select(col("doc_id"),
              array_distinct(TF.tokens(col("text"))).as("toks"))
            .withColumn("tslot", pmod(col("doc_id"), lit(idSlots)).cast("int"))
            .write.partitionBy("tslot").mode("append").parquet(s"$genPath/toks")
          keepBanded.join(retained.select("doc_id"), Seq("doc_id"), "left_semi")
            .select("doc_id", "bucket", "band", "pslot")
            .write.partitionBy("band", "pslot").mode("append")
            .parquet(s"$genPath/bands")
          if (kept > 0) {
            // Extend the cache EXACTLY: the appends above can only have
            // touched the batch's band-key dirs and the retained docs'
            // tslot dirs — list those leaves (bounded by the batch's
            // key sets), merge by path. A zero-retained batch appended
            // nothing, so the cache already stands.
            val retainedSlots = retained
              .select(pmod(col("doc_id"), lit(idSlots)).cast("int").as("s"))
              .distinct().collect().map(_.getInt(0)).toIndexedSeq
            val bandDirs = batchKeys.map(k =>
              s"$genPath/bands/band=${k / bucketSlots}/pslot=${k % bucketSlots}")
            val tokDirs = retainedSlots.map(s => s"$genPath/toks/tslot=$s")
            bandFiles = (bandFiles.toSet ++ listLeafDirs(bandDirs)).toVector
            toksFiles = (toksFiles.toSet ++ listLeafDirs(tokDirs)).toVector
          }
          onBatch(batchId, n, kept)
        } finally {
          freeCheckpoint()
          candPairs.unpersist(blocking = false)
          keepBanded.unpersist(blocking = false)
          arrivals.unpersist(blocking = false)
        }
      }
    }
  }

}
