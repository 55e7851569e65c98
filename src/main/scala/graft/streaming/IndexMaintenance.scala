package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.Similarity

/** Index maintenance as a STREAM — the three quantizer tiers (int8, PQ,
  * IVF-PQ) kept current per micro-batch, so a production index ingests
  * new vectors continuously and the retrain trigger is a LIVE signal
  * instead of a nightly audit.
  *
  * Shape: drift against a FIXED artifact is per-batch arithmetic with
  * no streaming state at all, so it composes as `foreachBatch`. The
  * indexed side's yardstick (fit, code-usage or cell-usage histogram)
  * is constant across batches — aggregated ONCE at construction and
  * pinned — so each micro-batch costs one encode pass over the batch
  * plus a bounded broadcast join, never a re-scan of the stored code
  * table ([[Similarity.pqDriftVsHistogram]]).
  *
  * Each tier is described ONCE ([[Tier]]: manifest shape, quantizer
  * tables and their training, batch encode, codes layout, drift
  * yardstick and drift row) and every pipeline drives it through
  * shared code:
  *  - the *DriftMonitor pair: WATCH-only — drift rows land per batch,
  *    the stored artifact is untouched;
  *  - the *AppendPipeline trio: the CLOSED loop over a bare code
  *    artifact — each micro-batch is encoded ONCE on the pinned
  *    quantizer, the codes are appended, and the SAME rows feed the
  *    drift row against the PRE-APPEND yardstick ([[Pinned.append]],
  *    the per-batch step). Because the quantizer is fixed and the
  *    encode is per-row deterministic, the artifact after N batches is
  *    exactly what one batch encode over the union of the arrivals
  *    would produce — StreamingSpec pins the equivalence cross-batch
  *    with a late arrival;
  *  - the *RebuildingPipeline trio: the same step over a generation
  *    store, plus the retrain leg — one loop, [[rebuildingPipeline]];
  *  - the *ServingPipeline pair: the read path over the latest
  *    committed generation.
  *
  * THE REBUILD-AND-SWAP PROTOCOL. A generation store lives under one
  * root:
  *  - `root/vectors/` — the raw (vec_id, embedding) log: the corpus
  *    seed plus every arrival, and the authoritative retrain input (a
  *    rebuild is a corpus-scale job BY DESIGN — rare and signal-driven,
  *    it re-reads this log once; appends never do);
  *  - `root/gen-N/` — one quantizer generation: the tier's quantizer
  *    tables plus `codes/`;
  *  - `root/gen-N/COMMITTED` — written LAST, the swap's commit point;
  *    readers always resolve [[latestGen]] = the max committed N;
  *  - `root/gen-N/pending-vectors/` — build-window staging of an
  *    off-path build of generation N.
  *
  * Per batch the loop logs the arrivals, parks them in staging while
  * a build is in flight, encodes and appends them on the current
  * generation and writes the drift row with `gen`. When the row says
  * retrain:
  *  - inline (`async = false`): train generation N+1 on the log deduped
  *    by vec_id, write its quantizer tables, encode the log on the
  *    WRITTEN tables read back (each training plan executes once, and
  *    codes ≡ committed quantizer holds by construction), commit and
  *    re-pin; the next batch appends to N+1 and measures against the
  *    new yardstick;
  *  - off-path (`async = true` — the 100 TB availability stance: inline,
  *    a rebuild stalls ingestion for the full train+encode; SCALE.md
  *    "Async swap cost"): list the vector log's files in the stream
  *    thread (the single writer, so no append races the listing) and
  *    build N+1 from that frozen snapshot on a daemon thread
  *    ([[GenStore.OffPathBuild]]) while batches keep appending to N.
  *    The first batch after the build finishes SWAPS, in the stream
  *    thread, before it is processed: encode the staged window on the
  *    new quantizer, anti-joined against the built codes (a vec_id
  *    re-sent during the window is encoded once — async ≡ inline, which
  *    dedups the full log), append, write COMMITTED (the atomic point,
  *    covering the catch-up), re-pin, reap staging. Swap cost is
  *    O(window) plus one scan of the compact code table for the new
  *    yardstick, never the raw corpus.
  *
  * Pins: the quantizer tables and the yardstick are driver-local
  * relations, bounded by construction (a 1-row grid, nCentroids
  * centroids, m·ksub codebook rows, ≤ nCentroids + 1 histogram rows),
  * taken once at construction and again only on swap. They are never
  * persisted scans: each append write fires Spark's refreshByPath on
  * the store paths, which re-caches any cached plan scanning them — a
  * persisted yardstick would silently recompute over the grown artifact
  * and measure every batch against a yardstick its own appends keep
  * moving. A restarted driver re-constructs the pipeline and re-pins
  * from the committed store; there is no in-memory state to lose.
  *
  * Crash windows: an uncommitted generation (staging included) is
  * invisible to readers and is reaped at the next construction, by the
  * next submission, or — for a surfaced build failure — in the failure
  * branch itself, so an orphan never outlives the next observation even
  * if drift subsides. A staging dir under a COMMITTED generation is a
  * crash between the swap's commit and its staging delete (its rows
  * were folded in before the commit) and is reaped at construction.
  * AsyncRebuildSpec pins both windows. A failed build surfaces through
  * `onBuildError` on the next batch (default rethrows; a hook that logs
  * and returns lets the drift signal re-submit — self-healing).
  * `rebuildGate` runs in the builder thread before any read (a test
  * hook to hold the build window open); `onRebuild(batchId, gen)`
  * fires after each swap.
  *
  * Replay honesty: the vectors/codes appends stay at-least-once (the
  * parquet-append caveat), so a replayed batch can duplicate rows in
  * both logs. Every rebuild trains and encodes over the log deduped by
  * vec_id, so only inter-rebuild appends can carry duplicates.
  */
object IndexMaintenance {

  // ------------------------------------------------------------------
  // Structural-parameter manifests ([[StoreManifest]]): the generation
  // store roots persist the artifact SHAPE (a tier's `shape` entries,
  // written at init, checked at every rebuilding-pipeline
  // construction), so reconstructing a pipeline over an existing store
  // with different values refuses loudly instead of silently
  // mis-encoding future generations. Training knobs
  // (`lloydIters`/`iters`/`trainN`/`seedPlanes`) are SEMANTIC —
  // retuning them between runs is legal — and stay out.
  //
  // The append tiers take a bare, already-written code artifact (no
  // init call), so their gate is [[StoreManifest.sealOrCheck]] with an
  // in-dir `_MANIFEST`: first construction seals, later constructions
  // verify. Because an append artifact's contract is "the quantizer is
  // FIXED for the life of the store", the seal also carries a VALUE
  // digest of the pinned quantizer — a same-shaped but different-valued
  // grid/centroids/codebooks (the mismatch shape params cannot see)
  // refuses too.
  //
  // `codesLayout` is STRUCTURAL, not a tuning knob: the generation
  // stores whose code tables are cell-partitioned on disk (int8,
  // ivf-pq — [[writeCodes]]) must never be appended to by a writer
  // that would lay files out flat, and vice versa — Spark's partition
  // discovery rejects a mixed flat+partitioned directory ("conflicting
  // directory structures"), and the failure would be silent at write
  // time and surface only at the next read. Recording the layout in the
  // manifest makes every pipeline construction over a store with a
  // different (or absent — i.e. pre-layout) marker refuse loudly before
  // a single mixed file is written.
  // ------------------------------------------------------------------

  /** A tier's pinned quantizer tables, by table name. */
  private type Quant = Map[String, DataFrame]

  /** A tier's drift yardstick, pinned against one code table: (batch
    * arrivals, their codes) → (the drift row's metric values, retrain).
    */
  private type Drift = (DataFrame, DataFrame) => (Seq[Double], Long)

  /** One quantizer tier, described once:
    *  - `kind` prefixes the manifest kinds (`<kind>-vector-store`,
    *    `<kind>-codes`) and names the builder thread; `label` names the
    *    store in errors; `shape` is the structural manifest entries;
    *  - `tables` are the quantizer tables under `gen-N/`, in write and
    *    digest order; `train(vecs, artifactKey)` returns them in that
    *    order, `encode(rows, q)` turns vectors into code rows on them;
    *  - `idCol` is the codes' vector-id column; `cells` the (cell,
    *    partition) columns of a cell-partitioned generation codes table
    *    (None = flat);
    *  - `yardstick(codesDir, q)` pins the drift state against a code
    *    table; `metrics` name its values on the drift row, between
    *    `n_rows` and `retrain`.
    */
  private final class Tier(val spark: SparkSession, val kind: String,
      val label: String, val shape: Seq[(String, String)],
      val tables: Seq[String], val idCol: String,
      val cells: Option[(String, String)], metrics: Seq[String])(
      val train: (DataFrame, Seq[Any]) => Seq[DataFrame],
      val encode: (DataFrame, Quant) => DataFrame,
      val yardstick: (String, Quant) => Drift) {

    def storeEntries: Seq[(String, String)] =
      (("kind" -> s"$kind-vector-store") +: shape) :+
        ("codesLayout" -> (if (cells.isDefined) "cell-partitioned" else "flat"))

    def sinkSchema(withGen: Boolean): StructType = StructType(
      Seq("batch_id", "n_rows").map(StructField(_, LongType, false)) ++
        metrics.map(StructField(_, DoubleType, false)) ++
        ("retrain" +: (if (withGen) Seq("gen") else Nil))
          .map(StructField(_, LongType, false)))

    /** Generation `g`'s quantizer tables under `root`, pinned local. */
    def pinQuant(root: String, g: Long): Quant = tables.map(t =>
      t -> pinLocal(spark.read.parquet(s"${GenStore.dir(root, g)}/$t"))).toMap
  }

  // The append pipelines never train, so they take the training knobs'
  // defaults; `dim`/`nCentroids`/`ksub` are the shape they seal.
  private def int8Tier(spark: SparkSession, dim: Int, nCentroids: Int,
      retrainRatio: Double = 0.9, lloydIters: Int = 2, trainN: Int = 4096,
      seedPlanes: Int = 6): Tier =
    new Tier(spark, "int8", "int8",
      Seq("dim" -> dim.toString, "nCentroids" -> nCentroids.toString),
      Seq("grid", "centroids"), "neighbor_id", Some(("cid", "pcid")),
      Seq("fit_new", "drift"))(
      (vecs, key) => Seq(Similarity.int8Stats(vecs, dim),
        // generation-addressed artifact id: the plan-keyed cache would
        // alias rebuilds (same $root/vectors path, grown content)
        Similarity.trainCentroids(vecs, nCentroids, lloydIters, trainN,
          seedPlanes, dim, artifactKey = Some(key))),
      (rows, q) => Similarity.int8Encode(rows, q("grid"), q("centroids")),
      (dir, q) => {
        import spark.implicits._
        val baseline = Seq(Similarity.indexedFit(spark.read.parquet(dir),
          q("grid"), q("centroids")).head().getDouble(0)).toDF("fit_indexed")
        (_, encoded) => {
          val d = Similarity.indexDriftFromCodes(encoded, q("grid"),
            q("centroids"), baseline, retrainRatio).head()
          (Seq(d.getAs[Double]("fit_new"), d.getAs[Double]("drift")),
            d.getAs[Long]("retrain"))
        }
      })

  private def pqTier(spark: SparkSession, dim: Int, m: Int, ksub: Int,
      maxTv: Double = 0.2, iters: Int = 2, trainN: Int = 1024): Tier =
    new Tier(spark, "pq", "pq",
      Seq("dim" -> dim.toString, "m" -> m.toString, "ksub" -> ksub.toString),
      Seq("codebooks"), "vec_id", None, Seq("tv_max"))(
      (vecs, key) => Seq(Similarity.trainPqCodebooks(vecs, m, ksub, iters,
        trainN, dim, artifactKey = Some(key))),
      (rows, q) => Similarity.pqEncode(rows, q("codebooks"), m, dim)
        .select("vec_id", "sub", "code"),
      (dir, q) => {
        import spark.implicits._
        val codes = spark.read.parquet(dir)
        // m·ksub + 1 rows — the bounded histogram pin
        val hIdx = pinLocal(codes.groupBy("sub", "code")
          .agg(count(lit(1)).as("n_idx")))
        val tIdx = Seq(codes.agg(countDistinct("vec_id").cast("double"))
          .head().getDouble(0)).toDF("t_idx")
        (_, encoded) => {
          val d = Similarity.pqDriftFromCodes(encoded, hIdx, tIdx,
            q("codebooks"), maxTv).head()
          (Seq(d.getAs[Double]("tv_max")), d.getAs[Long]("retrain"))
        }
      })

  /** The composite serving tier (q_sim10's artifact). Its drift signal
    * is the IVF analog of the PQ tier's code-usage total variation:
    * tv_cell = ½·Σ|p_batch(cell) − p_index(cell)|. A coarse partition
    * whose arrival mix diverges from the indexed mix is the serving-tier
    * failure mode — probes concentrate on hot cells and the
    * bounded-candidate guarantee erodes — and that is precisely a
    * distribution distance on the cell id, computable from the batch's
    * own assignments with no corpus access. One `trainN` drives both
    * trainers — both sample by the same hash-top-N discipline — and the
    * encode's cell join is inner on vec_id, so zero-norm vectors (which
    * [[Similarity.ivfCellAssign]] drops) never enter the artifact.
    */
  private def ivfPqTier(spark: SparkSession, dim: Int, m: Int, ksub: Int,
      nCentroids: Int, maxTv: Double = 0.2, lloydIters: Int = 2,
      trainN: Int = 1024, seedPlanes: Int = 6): Tier =
    new Tier(spark, "ivfpq", "ivf-pq",
      Seq("dim" -> dim.toString, "m" -> m.toString, "ksub" -> ksub.toString,
        "nCentroids" -> nCentroids.toString),
      Seq("centroids", "codebooks"), "vec_id", Some(("cell", "pcell")),
      Seq("tv_cell"))(
      (vecs, key) => Seq(
        Similarity.trainCentroids(vecs, nCentroids, lloydIters, trainN,
          seedPlanes, dim, artifactKey = Some(key)),
        Similarity.trainPqCodebooks(vecs, m, ksub, lloydIters, trainN, dim,
          artifactKey = Some(key))),
      (rows, q) => Similarity.pqEncode(rows, q("codebooks"), m, dim)
        .select("vec_id", "sub", "code")
        .join(Similarity.ivfCellAssign(rows, q("centroids")), "vec_id"),
      (dir, q) => {
        val codes = spark.read.parquet(dir)
        // ≤ nCentroids + 1 rows — the artifact carries `cell` on every
        // (vec, sub) row, so distinct vec first.
        val hIdx = pinLocal(codes.select("vec_id", "cell").distinct()
          .groupBy("cell").agg(count(lit(1)).as("n_idx")))
        val tIdx = codes.agg(countDistinct("vec_id").cast("double"))
          .head().getDouble(0)
        // Fail-loudly posture of latestGen: an empty code table would
        // make every per-batch tv division NaN — drift silently disabled.
        require(tIdx > 0, s"ivf-pq code artifact at $dir holds no vectors " +
          "— seed the index before constructing the pipeline")
        (arrivals, _) => {
          val cells = Similarity.ivfCellAssign(arrivals, q("centroids"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val tv = cellTv(cells, hIdx, tIdx)
            (Seq(tv), if (tv > maxTv) 1L else 0L)
          } finally cells.unpersist(blocking = false)
        }
      })

  /** `tier` pinned to the code table at `codesDir` (laid out per
    * `cells`): quantizer `q` and the drift yardstick over that table as
    * of now. `gen` = the generation-store generation the drift rows
    * carry; None for a bare artifact.
    */
  private final class Pinned(tier: Tier, q: Quant, codesDir: String,
      cells: Option[(String, String)], gen: Option[Long]) {
    private val drift = tier.yardstick(codesDir, q)

    /** The per-batch step of every append and rebuilding pipeline:
      * encode `arrivals` ONCE on `q`, append the codes, and land one
      * (batch_id, n_rows, <metrics>, retrain[, gen]) drift row in
      * `sinkDir` from the SAME encoded rows. Returns whether it says
      * retrain. O(batch): one encode pass, one append of the batch's
      * own rows, one bounded drift join.
      */
    def append(arrivals: DataFrame, n: Long, batchId: Long,
        sinkDir: String): Boolean = {
      val encoded = tier.encode(arrivals, q)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        writeCodes(encoded, cells, codesDir, "append")
        val (metrics, retrain) = drift(arrivals, encoded)
        tier.spark.createDataFrame(java.util.Collections.singletonList(
            Row.fromSeq(Seq(batchId, n) ++ metrics ++ (retrain +: gen.toSeq))),
            tier.sinkSchema(gen.isDefined))
          .write.mode("append").parquet(sinkDir)
        retrain == 1L
      } finally encoded.unpersist(blocking = false)
    }
  }

  /** Run `body(arrivals, n)` over a non-empty micro-batch's (vec_id,
    * embedding) rows, persisted for the batch.
    */
  private def withArrivals(batch: DataFrame)(
      body: (DataFrame, Long) => Unit): Unit = {
    val n = batch.count()
    if (n > 0) {
      val arrivals = batch.select(col("vec_id"), col("embedding"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try body(arrivals, n) finally arrivals.unpersist(blocking = false)
    }
  }

  /** Cell-usage total variation of one batch's coarse assignments
    * against the pinned index-side histogram: ½·Σ|p_new − p_idx| over
    * the full-outer cell join (absent cells on either side contribute
    * their whole mass). `cells` is the batch's (vec_id, cell) table —
    * caller persists it; ≤ nCentroids + 1 rows move after the groupBy.
    */
  private def cellTv(cells: DataFrame, hIdx: DataFrame,
      tIdx: Double): Double = {
    import org.apache.spark.sql.functions._
    val nNew = cells.count().toDouble
    cells.groupBy("cell").agg(count(lit(1)).as("n_new"))
      .join(hIdx, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_new", "n_idx"))
      .agg((sum(abs(col("n_new") / lit(nNew)
        - col("n_idx") / lit(tIdx))) / 2.0).as("tv"))
      .head().getDouble(0)
  }

  /** MD5 over the sorted canonical rows of bounded quantizer tables
    * (a 1-row grid, nCentroids centroids, m·ksub codebook rows — all
    * construction-bounded). Row order and column order are canonicalized
    * so the digest identifies the quantizer's VALUES, not the plan that
    * produced them. Operates on ALREADY-COLLECTED rows: the append
    * pipelines pin their quantizer once ([[pinWithRows]]) and the digest
    * reuses those rows — an arbitrary caller plan (e.g. a training DAG)
    * is never re-executed just to seal the store.
    */
  private def quantizerDigest(parts: Seq[(StructType, Array[Row])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { case (schema, rows) =>
      val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
      rows
        .map(row => order.map { i =>
          row.get(i) match {
            case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
            case x => String.valueOf(x)
          }
        }.mkString("|"))
        .sorted
        .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bounded driver pin: collect `df` (caller guarantees a small,
    * construction-bounded row count) into a LOCAL relation, immune to
    * the refreshByPath re-cache the append writes fire on the store
    * paths, and hand back the collected rows too — a caller needing
    * both the pinned relation and driver-side access (dim / row count /
    * digest) pays exactly ONE execution of the source plan.
    */
  private def pinWithRows(df: DataFrame): (DataFrame, Array[Row]) = {
    import scala.jdk.CollectionConverters._
    val rows = df.collect()
    (df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema), rows)
  }

  private def pinLocal(df: DataFrame): DataFrame = pinWithRows(df)._1

  /** The int8 tier's monitor — same shape as [[pqDriftMonitor]] with
    * the index-side baseline ([[Similarity.indexedFit]], a full scan of
    * the stored codes) computed ONCE at monitor start; each micro-batch
    * then pays one encode+recon pass against the broadcast centroids
    * ([[Similarity.indexDriftVsBaseline]]). One (batch_id, n_rows,
    * fit_new, drift, retrain) row per non-empty batch lands in
    * `sinkDir` — alerting and retrain queues read it there.
    */
  def int8DriftMonitor(index: DataFrame, grid: DataFrame,
      centroids: DataFrame, sinkDir: String, retrainRatio: Double = 0.9)
      : (DataFrame, Long) => Unit = {
    val baseline = Similarity.indexedFit(index, grid, centroids)
      .persist(StorageLevel.MEMORY_AND_DISK)
    baseline.count()
    (batch: DataFrame, batchId: Long) => {
      val n = batch.count()
      if (n > 0) {
        val spark = batch.sparkSession
        import spark.implicits._
        val d = Similarity.indexDriftVsBaseline(batch, grid, centroids,
          baseline, retrainRatio).head()
        Seq((batchId, n, d.getAs[Double]("fit_new"),
            d.getAs[Double]("drift"), d.getAs[Long]("retrain")))
          .toDF("batch_id", "n_rows", "fit_new", "drift", "retrain")
          .write.mode("append").parquet(sinkDir)
      }
    }
  }

  /** One monitoring row (batch_id, n_rows, tv_max, retrain) appended to
    * the parquet `sinkDir` per non-empty micro-batch of embedding
    * arrivals — alerting and retrain queues read the sink.
    * `codes`/`codebooks` are the persisted PQ artifact (q_sim8/q_sim9
    * shapes). Returns the function to attach via
    * `writeStream.foreachBatch(...)`.
    */
  def pqDriftMonitor(codes: DataFrame, codebooks: DataFrame,
      sinkDir: String, m: Int = 4, dim: Int = 64, maxTv: Double = 0.2)
      : (DataFrame, Long) => Unit = {
    // The index-side inputs, aggregated once and pinned for the life of
    // the monitor (m·ksub + 1 rows — broadcast-sized by construction).
    val hIdx = codes.groupBy("sub", "code").agg(count(lit(1)).as("n_idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tIdx = codes.agg(countDistinct("vec_id").cast("double").as("t_idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    hIdx.count(); tIdx.count()
    (batch: DataFrame, batchId: Long) => {
      val n = batch.count()
      if (n > 0) {
        val spark = batch.sparkSession
        import spark.implicits._
        val d = Similarity.pqDriftVsHistogram(batch, hIdx, tIdx, codebooks,
          m, dim, maxTv).head()
        Seq((batchId, n, d.getAs[Double]("tv_max"), d.getAs[Long]("retrain")))
          .toDF("batch_id", "n_rows", "tv_max", "retrain")
          .write.mode("append").parquet(sinkDir)
      }
    }
  }

  /** The append pipelines' shared body over the bare code artifact at
    * `dir`: seal-or-check it against the quantizer pinned in `pins` (one
    * collect per table, already paid — the seal and every per-batch
    * encode reuse the pinned rows, so an expensive caller plan, e.g. a
    * training DAG, executes exactly once per construction), pin the
    * pre-append yardstick, and run [[Pinned.append]] per batch.
    */
  private def appendPipeline(tier: Tier, dir: String,
      pins: Seq[(DataFrame, Array[Row])], sinkDir: String)
      : (DataFrame, Long) => Unit = {
    StoreManifest.sealOrCheck(tier.spark, dir,
      (("kind" -> s"${tier.kind}-codes") +: tier.shape) :+
        ("quantizerDigest" -> quantizerDigest(pins.map { case (df, rows) =>
          (df.schema, rows) })),
      s"${tier.label} code artifact", StoreManifest.InlineFileName)
    val p = new Pinned(tier, tier.tables.zip(pins.map(_._1)).toMap, dir,
      None, None)
    (batch: DataFrame, batchId: Long) =>
      withArrivals(batch)((arrivals, n) =>
        p.append(arrivals, n, batchId, sinkDir))
  }

  /** The int8 tier's CLOSED loop: per non-empty micro-batch of
    * embedding arrivals, encode on the pinned quantizer
    * ([[Similarity.int8Encode]] — grid + centroids fixed, no
    * retraining), append the encoded rows to the stored parquet
    * artifact at `indexDir`, and emit one (batch_id, n_rows, fit_new,
    * drift, retrain) row to `sinkDir` against the PRE-APPEND baseline
    * ([[Similarity.indexedFit]] over `indexDir` as of pipeline start —
    * appends never shift the yardstick they are measured against;
    * retrain = 1 is the signal to rebuild both artifact and baseline,
    * which [[int8RebuildingPipeline]] closes over a generation store).
    * The seal checks the shape (dim from the grid row, centroid count)
    * plus the quantizer's value digest.
    *
    * At scale each batch costs O(batch) encode + an append write of the
    * batch's own rows; the stored index is scanned exactly once, at
    * start.
    */
  def int8AppendPipeline(indexDir: String, grid: DataFrame,
      centroids: DataFrame, sinkDir: String, retrainRatio: Double = 0.9)
      : (DataFrame, Long) => Unit = {
    val pins = Seq(grid, centroids).map(pinWithRows)
    val dim = pins.head._2(0).getAs[scala.collection.Seq[Double]]("lo").size
    appendPipeline(int8Tier(grid.sparkSession, dim, pins(1)._2.length,
      retrainRatio), indexDir, pins, sinkDir)
  }

  /** The PQ tier's CLOSED loop — [[int8AppendPipeline]]'s shape over
    * the (vec_id, sub, code) artifact at `codesDir`: encode each batch
    * once on the pinned `codebooks` ([[Similarity.pqEncode]]), append
    * the codes to the stored table, and emit one (batch_id, n_rows,
    * tv_max, retrain) row against the PRE-APPEND code-usage histogram
    * (retrain = 1 says rebuild codebooks, artifact, and histogram). The
    * sealed `ksub` is derived from the trained table, which may
    * legitimately hold fewer codewords than requested.
    */
  def pqAppendPipeline(codesDir: String, codebooks: DataFrame,
      sinkDir: String, m: Int = 4, dim: Int = 64, maxTv: Double = 0.2)
      : (DataFrame, Long) => Unit = {
    val pins = Seq(pinWithRows(codebooks))
    appendPipeline(pqTier(codebooks.sparkSession, dim, m,
      pins.head._2.length / m, maxTv), codesDir, pins, sinkDir)
  }

  /** The IVF-PQ serving tier's CLOSED loop — [[pqAppendPipeline]]'s
    * shape over q_sim10's composite artifact, a (vec_id, sub, code,
    * cell) table at `codesDir`: per non-empty micro-batch, assign
    * coarse cells on the pinned centroids
    * ([[Similarity.ivfCellAssign]] — broadcast argmax, one map-side
    * pass), PQ-encode on the pinned codebooks, join, append — and emit
    * one (batch_id, n_rows, tv_cell, retrain) drift row against the
    * PRE-APPEND cell-usage histogram. retrain = 1 says rebuild
    * centroids + codebooks + artifact — the corpus-scale job
    * [[ivfPqRebuildingPipeline]] closes over a generation store, for
    * callers owning a bare code artifact rather than a store to act on
    * themselves.
    *
    * At scale each batch costs O(batch): broadcast argmax passes, one
    * broadcast-LUT encode pass, one append of the batch's own rows, one
    * nCentroids-row drift join. The stored artifact is read exactly
    * once, at construction.
    */
  def ivfPqAppendPipeline(codesDir: String, centroids: DataFrame,
      codebooks: DataFrame, sinkDir: String, m: Int = 4, dim: Int = 64,
      maxTv: Double = 0.2): (DataFrame, Long) => Unit = {
    val pins = Seq(centroids, codebooks).map(pinWithRows)
    appendPipeline(ivfPqTier(codebooks.sparkSession, dim, m,
      pins(1)._2.length / m, pins.head._2.length, maxTv), codesDir, pins,
      sinkDir)
  }

  /** Write `df`'s code rows to `dir`. A generation store's code table is
    * CELL-PARTITIONED on disk (`cells` = (cell column, partition
    * column): `pcid` int8 / `pcell` ivf-pq): the partition column
    * DUPLICATES the in-row cell column, so every existing reader (pins,
    * histograms, catch-up anti-joins, spec differentials) sees the same
    * data columns it always did, while a pruning reader filters on the
    * partition column and scans only the probed cells' files. The
    * round-13 serving measurement showed why: at n=500k the ivf-pq serve
    * paid 20 s/batch scanning all n·m code rows before the cell join
    * pruned — the probed-cells arithmetic held for the JOIN, not the
    * I/O. With `pcell=` dirs the scan itself becomes
    * O(n·m·nProbe/nCentroids).
    *
    * `compact = true` (full-GENERATION writes: init and rebuild)
    * clusters rows by the partition column before the write, so each
    * cell lands as ONE file instead of one file per (cell × writing
    * task) — without it a w-task writer fragments every cell w ways,
    * and the per-file open/footer overhead multiplies exactly where
    * the bulk-serve regime scans everything (SCALE.md measures the two
    * layouts side by side). Appends keep `compact = false`: a
    * micro-batch is small, and paying a shuffle per batch to co-locate a
    * handful of rows per cell buys nothing — file-count hygiene for the
    * append tail is the REBUILD's job. Skew stance: one task writes a
    * whole cell, so a pathological giant cell serializes through one
    * writer — at the 3 GB/cell production target that is the standard
    * partitionBy-compaction tradeoff; cells beyond task-sized want a
    * salt column splitting them into bounded file chunks, which readers
    * ignore (partition pruning keys only on the partition column).
    */
  private def writeCodes(df: DataFrame, cells: Option[(String, String)],
      dir: String, mode: String, compact: Boolean = false): Unit =
    cells match {
      case Some((cellCol, partCol)) =>
        val tagged = df.withColumn(partCol, df(cellCol))
        val out = if (compact) tagged.repartition(col(partCol)) else tagged
        out.write.partitionBy(partCol).mode(mode).parquet(dir)
      case None => df.write.mode(mode).parquet(dir)
    }

  /** Prune a cell-partitioned code table to `cells`, dropping the
    * partition column; a FLAT table (pre-partitioning layout, or an
    * artifact written by the standalone append pipelines) is returned
    * unpruned — layout is an optimization, never a correctness gate.
    *
    * The prune is CONDITIONAL on selectivity: when the batch's probed
    * union covers half the cells or more (a large random query batch —
    * the bulk-mining regime), filtering buys nothing the scan wouldn't
    * read anyway and the per-partition file overhead costs (round 13:
    * int8 n=500k, batch=64·nProbe=8 probes 512/707 cells — the
    * "pruned" serve measured 2.8× the flat one). Below half — the
    * latency regime (small batches) and clustered workloads — the
    * filter skips whole partitions at scan time.
    */
  private def pruneCells(codes: DataFrame, partCol: String,
      cells: Seq[Long], nCentroids: Int): DataFrame =
    if (codes.columns.contains(partCol)) {
      if (cells.size * 2 <= nCentroids)
        codes.where(col(partCol).isin(cells: _*)).drop(partCol)
      else codes.drop(partCol)
    } else codes

  /** Raw-arrival staging for an in-flight off-path build of generation
    * `gen`. Lives UNDER the generation dir, so a crashed build's staging
    * is reaped with its orphan.
    */
  private def stagingDir(root: String, gen: Long) =
    s"${GenStore.dir(root, gen)}/pending-vectors"

  /** The vector log's data-file list at this instant. Taken in the
    * STREAM thread at rebuild submission — the single writer — so the
    * listing cannot race an append; the builder thread then reads
    * exactly these files for every pass. A plain directory read would
    * re-list per action and see different corpora between Lloyd
    * iterations (and between training and encode), silently desyncing
    * quantizer and codes.
    */
  private def vectorSnapshot(spark: SparkSession, root: String): Seq[String] = {
    val hfs = GenStore.fs(spark, s"$root/vectors")
    hfs.listStatus(new Path(s"$root/vectors")).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString)
  }

  /** Highest COMMITTED generation under `root` — the one readers and
    * appenders use. Fails loudly on a store with no committed
    * generation (init first; an uncommitted orphan alone means a
    * rebuild died before its commit point). [[GenStore]]'s protocol.
    */
  def latestGen(spark: SparkSession, root: String): Long =
    GenStore.latest(spark, root)

  /** Refuse to init over a LIVE store (any committed generation):
    * re-initing would overwrite the manifest and the vector log while
    * the highest committed generation — laid out under the OLD
    * parameters — stays the one readers resolve, exactly the silent
    * divergence the manifest exists to prevent. A manifest with no
    * committed generation is a crashed init: completing it is legal iff
    * the parameters match what the first attempt recorded.
    */
  private def guardInit(spark: SparkSession, root: String,
      entries: Seq[(String, String)], store: String): Unit = {
    val gens = GenStore.committed(spark, root)
    if (gens.nonEmpty) throw new IllegalStateException(
      s"$store at $root already has committed generation(s) " +
        s"${gens.mkString(", ")} — refusing to re-init over live data " +
        "(point at a fresh root, or construct the pipeline instead)")
    if (StoreManifest.read(spark, root).isDefined)
      StoreManifest.check(spark, root, entries, store)
    else StoreManifest.write(spark, root, entries)
    // A root that passed the fresh-init guard may still have trained
    // artifacts cached from a PREVIOUS store at the same path (wiped
    // externally, re-inited in one JVM): artifact keys here are (root,
    // gen) identities, not content plans, so drop them before seeding
    // (round 20, ADVICE).
    graft.operators.Similarity.invalidateArtifacts(root)
  }

  /** Create a `tier` generation store: persist the MANIFEST (the shape
    * every later pipeline construction is checked against), seed the
    * vector log with `corpus`, write generation 0, commit. Refuses a
    * root that already holds a committed generation ([[guardInit]]).
    */
  private def initStore(tier: Tier, root: String, corpus: DataFrame): Unit = {
    guardInit(tier.spark, root, tier.storeEntries, s"${tier.label} store")
    corpus.select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$root/vectors")
    writeGen(tier, root, 0L, tier.spark.read.parquet(s"$root/vectors"))
    GenStore.commit(tier.spark, root, 0L)
  }

  /** Write generation `gen` of a `tier` store from the retrain input
    * `vecs` — train, write the quantizer tables, then the codes encoded
    * on the WRITTEN tables read back (each training plan executes once,
    * its own write; codes ≡ committed quantizer by construction instead
    * of resting on the plans re-executing deterministically), compacted
    * per cell. The caller writes `COMMITTED`.
    */
  private def writeGen(tier: Tier, root: String, gen: Long,
      vecs: DataFrame): Unit = {
    val d = GenStore.dir(root, gen)
    tier.tables.zip(tier.train(vecs, Seq(root, gen))).foreach {
      case (t, df) => df.write.mode("overwrite").parquet(s"$d/$t")
    }
    writeCodes(tier.encode(vecs, tier.tables.map(t =>
        t -> tier.spark.read.parquet(s"$d/$t")).toMap),
      tier.cells, s"$d/codes", "overwrite", compact = true)
  }

  /** THE rebuilding loop — the protocol in the object header, for any
    * tier. Construction checks the store's manifest against `tier`,
    * pins the latest committed generation, and reaps both crash windows:
    * a staging dir under that (committed) generation and any
    * uncommitted generation above it (single-writer, so nothing is in
    * flight at construction).
    */
  private def rebuildingPipeline(root: String, sinkDir: String, tier: Tier,
      onRebuild: (Long, Long) => Unit, async: Boolean,
      rebuildGate: () => Unit, onBuildError: (Long, Throwable) => Unit)
      : (DataFrame, Long) => Unit = {
    val spark = tier.spark
    StoreManifest.check(spark, root, tier.storeEntries, s"${tier.label} store")
    def codes(g: Long) = s"${GenStore.dir(root, g)}/codes"
    def pin(g: Long, q: Quant) =
      new Pinned(tier, q, codes(g), tier.cells, Some(g))
    var gen = latestGen(spark, root)
    var p = pin(gen, tier.pinQuant(root, gen))
    GenStore.deleteQuiet(spark, stagingDir(root, gen))
    GenStore.dropUncommittedAbove(spark, root, gen)
    val builds = new GenStore.OffPathBuild(spark, root,
      s"graft-${tier.kind}-rebuild", rebuildGate, onBuildError)
    (batch: DataFrame, batchId: Long) => withArrivals(batch) { (arrivals, n) =>
      // SWAP a finished off-path build before this batch is processed,
      // so the batch lands on the new generation.
      if (async) builds.swap { g2 =>
        val q2 = tier.pinQuant(root, g2)
        val sd = stagingDir(root, g2)
        if (GenStore.fs(spark, sd).exists(new Path(sd))) {
          // Catch-up = staged rows the snapshot did not already encode.
          val fresh = spark.read.parquet(sd).dropDuplicates("vec_id")
            .join(spark.read.parquet(codes(g2))
                .select(col(tier.idCol).as("vec_id")),
              Seq("vec_id"), "left_anti")
          writeCodes(tier.encode(fresh, q2), tier.cells, codes(g2), "append")
        }
        GenStore.commit(spark, root, g2)
        GenStore.deleteQuiet(spark, sd)
        gen = g2; p = pin(g2, q2)
      }.foreach(onRebuild(batchId, _))
      arrivals.write.mode("append").parquet(s"$root/vectors")
      // An in-flight build's snapshot is frozen — park this batch's raw
      // arrivals for the swap's catch-up encode.
      builds.target.foreach(g =>
        arrivals.write.mode("append").parquet(stagingDir(root, g)))
      if (p.append(arrivals, n, batchId, sinkDir)) {
        if (!async) {
          writeGen(tier, root, gen + 1,
            spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id"))
          GenStore.commit(spark, root, gen + 1)
          gen += 1; p = pin(gen, tier.pinQuant(root, gen))
          onRebuild(batchId, gen)
        } else if (builds.target.isEmpty) {
          val target = gen + 1
          val snapshot = vectorSnapshot(spark, root)
          builds.submit(batchId, target) { () =>
            writeGen(tier, root, target,
              spark.read.parquet(snapshot: _*).dropDuplicates("vec_id"))
          }
        }
      }
    }
  }

  /** Create an int8 generation store (grid + centroids + cell-partitioned
    * codes) — [[initStore]]. Refuses a root that already holds a
    * committed generation.
    */
  def initInt8Store(spark: SparkSession, root: String, corpus: DataFrame,
      nCentroids: Int = 16, lloydIters: Int = 2, trainN: Int = 4096,
      seedPlanes: Int = 6, dim: Int = 64): Unit =
    initStore(int8Tier(spark, dim, nCentroids, lloydIters = lloydIters,
      trainN = trainN, seedPlanes = seedPlanes), root, corpus)

  /** [[int8AppendPipeline]] WITH the retrain leg, over an
    * [[initInt8Store]] root: per batch, log the raw arrivals, encode on
    * the CURRENT generation's pinned quantizer, append the codes, emit
    * the drift row (now carrying `gen`) — and when it says retrain,
    * rebuild generation N+1 from the deduped vector log (retrain grid +
    * centroids, re-encode, commit), re-pin quantizer + baseline, and
    * resume appends on the new generation; inline or, with `async =
    * true`, off-path (the protocol and its hooks are in the object
    * header). StreamingSpec drives a planted shift through the whole
    * loop: quiet → retrain trips → rebuild → the next batches measure
    * quiet against the NEW baseline.
    */
  def int8RebuildingPipeline(spark: SparkSession, root: String,
      sinkDir: String,
      nCentroids: Int = 16, lloydIters: Int = 2, trainN: Int = 4096,
      seedPlanes: Int = 6, dim: Int = 64, retrainRatio: Double = 0.9,
      onRebuild: (Long, Long) => Unit = (_, _) => (),
      async: Boolean = false,
      rebuildGate: () => Unit = () => (),
      onBuildError: (Long, Throwable) => Unit = (_, e) => throw e)
      : (DataFrame, Long) => Unit =
    rebuildingPipeline(root, sinkDir,
      int8Tier(spark, dim, nCentroids, retrainRatio, lloydIters, trainN,
        seedPlanes),
      onRebuild, async, rebuildGate, onBuildError)

  /** Streamed SERVING leg for the int8 generation store — the read path
    * that completes the tier's lifecycle (init → append → drift-driven
    * rebuild → SERVE): each query micro-batch runs
    * [[Similarity.queryInt8Index]] (float probe → int8 candidate rank →
    * exact float re-rank) against the artifacts of the latest COMMITTED
    * generation, and `onResult` receives (batchId, gen, top-k rows).
    *
    * Generation awareness is per batch and O(1): `latestGen` is one
    * marker-file listing, and only when it MOVES (a rebuild swapped
    * underneath the server) are the small artifacts re-pinned — grid
    * 1 row, centroids `nCentroids` rows, the bounded-driver-pin
    * pattern. The corpus-scale tables (codes, the float re-rank log)
    * are never pinned: they're read lazily per batch from the committed
    * generation dir, so a served batch always sees a commit-consistent
    * quantizer+codes pair (the COMMITTED marker is written only after
    * the catch-up encode lands). Serving is read-only — replay of a
    * query batch just re-serves it, so no staging or offset state is
    * needed on this leg.
    *
    * At 100 TB: per batch the probe is |queries|×nCentroids, the
    * candidate rank touches only the probed cells' code rows, and the
    * float log is consulted for ≤ rerankDepth·|queries| re-rank rows —
    * the same residue discipline as the batch serve (q_sim10's plan
    * pin); nothing scales with corpus size except the pruned candidate
    * scan itself.
    *
    * `filter` (a `vec_id` relation of allowed neighbors — a metadata
    * predicate's extension, e.g. `labels.where($"label" === x)`) turns
    * the serve into filtered ANN: "nearest WHERE predicate", answered
    * with the PRE-filter plan q_sim18 measured ~10× cheaper at equal
    * recall than post-filtering (StreamingSpec certifies the filtered
    * serve ≡ brute force over the filtered corpus at full probe).
    */
  def int8ServingPipeline(spark: SparkSession, root: String,
      k: Int = 10, rerankDepth: Int = 30, nProbe: Int = 8,
      nCentroids: Int = 16, dim: Int = 64,
      onResult: (Long, Long, DataFrame) => Unit,
      filter: Option[DataFrame] = None): (DataFrame, Long) => Unit = {
    val tier = int8Tier(spark, dim, nCentroids)
    StoreManifest.check(spark, root, tier.storeEntries, "int8 store")
    var gen = -1L
    var q: Quant = null
    (batch: DataFrame, batchId: Long) => {
      val g = latestGen(spark, root)
      if (g != gen) { // first batch, or a rebuild swapped generations
        q = tier.pinQuant(root, g)
        gen = g
      }
      // Cell-pruned scan: the batch's probed cells (a ≤ |batch|·nProbe
      // driver pin, the same ranking the query tail computes) filter
      // the partitioned code table BEFORE the scan — per batch the
      // files read are the probed cells', O(n·nProbe/nCentroids) rows,
      // not the artifact (the round-13 serving diagnosis).
      val codes = pruneCells(
        spark.read.parquet(s"${GenStore.dir(root, gen)}/codes"), "pcid",
        Similarity.probedCells(batch, q("centroids"), nProbe), nCentroids)
      // The float log may hold replayed (duplicate) vec_ids; the re-rank
      // join must see each neighbor once.
      val corpus = spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id")
      // PRE-filtered serve ("nearest WHERE <predicate>"): the allowed
      // ids semi-join the candidate codes BEFORE the int8 ranking, so
      // every rerankDepth slot goes to a matching vector — q_sim18's
      // measured law (post-filtering the unfiltered top-k collapses
      // recall toward the predicate's selectivity AND scores the full
      // candidate volume; the only post-filter fix, deepening k by
      // 1/selectivity, is pre-filter's volume paid later and larger).
      // One shared index serves every predicate.
      val (fCodes, fCorpus) = filter match {
        case Some(f) =>
          val ids = f.select(col("vec_id"))
          (codes.join(ids.withColumnRenamed("vec_id", "neighbor_id"),
            Seq("neighbor_id"), "left_semi"),
            corpus.join(ids, Seq("vec_id"), "left_semi"))
        case None => (codes, corpus)
      }
      onResult(batchId, gen,
        Similarity.queryInt8Index(batch, fCodes, q("grid"), q("centroids"),
          fCorpus, k, rerankDepth, nProbe))
    }
  }

  /** [[int8ServingPipeline]]'s twin for the IVF-PQ generation store —
    * the composite serving tier (q_sim10's artifact) gains its streamed
    * read path: per query micro-batch, [[Similarity.queryIvfPqIndex]]
    * (coarse probe → ADC over the probed cells → exact float re-rank)
    * over the latest COMMITTED generation, with the small quantizer
    * tables (centroids + codebooks — nCentroids + m·ksub rows)
    * re-pinned only when a rebuild moves the generation marker. Codes
    * and the float re-rank log stay lazy per-batch reads of the
    * committed dir, so serving always sees a commit-consistent
    * (centroids, codebooks, codes) triple.
    */
  def ivfPqServingPipeline(spark: SparkSession, root: String,
      k: Int = 10, rerankDepth: Int = 50, nProbe: Int = 4,
      nCentroids: Int = 16, m: Int = 4, ksub: Int = 16, dim: Int = 64,
      onResult: (Long, Long, DataFrame) => Unit,
      filter: Option[DataFrame] = None): (DataFrame, Long) => Unit = {
    val tier = ivfPqTier(spark, dim, m, ksub, nCentroids)
    StoreManifest.check(spark, root, tier.storeEntries, "ivfpq store")
    var gen = -1L
    var q: Quant = null
    (batch: DataFrame, batchId: Long) => {
      val g = latestGen(spark, root)
      if (g != gen) {
        q = tier.pinQuant(root, g)
        gen = g
      }
      // Same cell-pruned scan as the int8 serve — this tier is where
      // the unpruned n·m-row scan was measured dominating (20 s/batch
      // at n=500k); the `pcell=` filter makes the scan itself
      // O(n·m·nProbe/nCentroids).
      val codes = pruneCells(
        spark.read.parquet(s"${GenStore.dir(root, gen)}/codes"), "pcell",
        Similarity.probedCells(batch, q("centroids"), nProbe), nCentroids)
      val corpus = spark.read.parquet(s"$root/vectors").dropDuplicates("vec_id")
      // PRE-filtered serve — the int8 leg's q_sim18 rationale verbatim:
      // allowed ids drop non-matching candidates before the ADC rank.
      val (fCodes, fCorpus) = filter match {
        case Some(f) =>
          val ids = f.select(col("vec_id"))
          (codes.join(ids, Seq("vec_id"), "left_semi"),
            corpus.join(ids, Seq("vec_id"), "left_semi"))
        case None => (codes, corpus)
      }
      onResult(batchId, gen,
        Similarity.queryIvfPqIndex(batch, fCodes, q("centroids"),
          q("codebooks"), fCorpus, k, rerankDepth, nProbe, m, dim))
    }
  }

  /** Create a PQ generation store (codebooks + flat codes) —
    * [[initStore]]. Refuses a root that already holds a committed
    * generation.
    */
  def initPqStore(spark: SparkSession, root: String, corpus: DataFrame,
      m: Int = 4, ksub: Int = 16, iters: Int = 2, trainN: Int = 1024,
      dim: Int = 64): Unit =
    initStore(pqTier(spark, dim, m, ksub, iters = iters, trainN = trainN),
      root, corpus)

  /** [[pqAppendPipeline]] WITH the retrain leg, over an [[initPqStore]]
    * root: codebooks + code-usage histogram are the pinned generation
    * state; a tripped tv_max rebuilds codebooks and codes from the
    * deduped vector log into generation N+1 and re-pins the histogram,
    * so post-rebuild batches of the (now indexed) steady-state mix
    * measure quiet. Inline or off-path as in the object header.
    */
  def pqRebuildingPipeline(spark: SparkSession, root: String,
      sinkDir: String,
      m: Int = 4, ksub: Int = 16, iters: Int = 2, trainN: Int = 1024,
      dim: Int = 64, maxTv: Double = 0.2,
      onRebuild: (Long, Long) => Unit = (_, _) => (),
      async: Boolean = false,
      rebuildGate: () => Unit = () => (),
      onBuildError: (Long, Throwable) => Unit = (_, e) => throw e)
      : (DataFrame, Long) => Unit =
    rebuildingPipeline(root, sinkDir,
      pqTier(spark, dim, m, ksub, maxTv, iters, trainN),
      onRebuild, async, rebuildGate, onBuildError)

  /** Create an IVF-PQ generation store — the q_sim10 serving tier's
    * composite artifact (centroids + codebooks + cell-partitioned
    * (vec_id, sub, code, cell) codes) — [[initStore]]. Refuses a root
    * that already holds a committed generation.
    */
  def initIvfPqStore(spark: SparkSession, root: String, corpus: DataFrame,
      nCentroids: Int = 16, m: Int = 4, ksub: Int = 16,
      lloydIters: Int = 2, trainN: Int = 1024, seedPlanes: Int = 6,
      dim: Int = 64): Unit =
    initStore(ivfPqTier(spark, dim, m, ksub, nCentroids,
      lloydIters = lloydIters, trainN = trainN, seedPlanes = seedPlanes),
      root, corpus)

  /** [[ivfPqAppendPipeline]] WITH the retrain leg, over an
    * [[initIvfPqStore]] root — the serving tier's drift signal with its
    * actuator: when tv_cell trips, rebuild generation N+1 from the
    * deduped vector log (retrain centroids AND codebooks, re-assign +
    * re-encode, commit) and re-pin quantizers + cell histogram, so
    * post-rebuild batches of the now-indexed mix measure quiet. This
    * tier's rebuild is the most expensive of the three (two trainings +
    * two corpus passes), which is exactly why it must be off-path
    * (`async = true`, the object header's protocol) at 100 TB.
    */
  def ivfPqRebuildingPipeline(spark: SparkSession, root: String,
      sinkDir: String,
      nCentroids: Int = 16, m: Int = 4, ksub: Int = 16,
      lloydIters: Int = 2, trainN: Int = 1024, seedPlanes: Int = 6,
      dim: Int = 64, maxTv: Double = 0.2,
      onRebuild: (Long, Long) => Unit = (_, _) => (),
      async: Boolean = false,
      rebuildGate: () => Unit = () => (),
      onBuildError: (Long, Throwable) => Unit = (_, e) => throw e)
      : (DataFrame, Long) => Unit =
    rebuildingPipeline(root, sinkDir,
      ivfPqTier(spark, dim, m, ksub, nCentroids, maxTv, lloydIters, trainN,
        seedPlanes),
      onRebuild, async, rebuildGate, onBuildError)
}
