package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Shared generation-directory machinery for the streaming state
  * stores: state lives under `root/gen-N/`, a generation is resolvable
  * only once its `COMMITTED` marker exists (written LAST, so a crash
  * mid-write leaves an unresolvable orphan every reader ignores and a
  * later retry overwrites), and readers always take the highest
  * committed N. [[PackingStream]]'s offset log, [[IndexMaintenance]]'s
  * quantizer stores and [[StreamingDedup]]'s signature index use the
  * directory primitives directly.
  *
  * THE FOLDED-STORE FAMILY ([[Folded]]): every store that folds each
  * micro-batch into one committed state table plus ONE meta row — the
  * sketch stores ([[CountMinStream]], [[DDSketchStream]],
  * [[HllStream]], [[BloomStream]], [[HeavyHitterStream]],
  * [[SampleStream]], [[WeightedSampleStream]], [[MomentStream]],
  * [[ProfileStream]]), the per-entity stores ([[UpsertStream]],
  * [[CohortStream]], [[SessionStream]], [[FunnelStream]],
  * [[M4Stream]], [[SubstrDedupStream]]'s meta log), the bucketed
  * copy-on-write stores ([[CowUpsertStream]], [[CowCohortStream]],
  * [[Scd2Stream]]) and the CDC feed views — reads its meta row, guards
  * and commits through [[Folded]] alone. One batch step, in order:
  *
  *  1. read the newest committed generation's meta row (exactly one,
  *     or the state is foreign/corrupt and the step refuses);
  *  2. check the store's structural parameters against it;
  *  3. replay guard: a batch id equal to the committed high-water
  *     re-emits without folding (the state already holds it), one
  *     below it throws (the checkpoint is older than the state);
  *  4. write gen-(N+1) — state rows, then the meta row — and only
  *     then its `COMMITTED` marker;
  *  5. drop the predecessors (every generation of a flat store, every
  *     `compactEvery`-th of a bucketed one).
  *
  * Crash windows: dying in step 4 before the marker leaves an
  * uncommitted gen-(N+1) that readers ignore and the retried batch
  * overwrites; dying between 4 and 5 leaves a committed gen-(N+1) next
  * to an undropped gen-N — readers take N+1, the replayed batch skips
  * at step 3, and the next commit's drop reaps gen-N. GenStoreSpec pins
  * both windows on a flat and a bucketed store.
  */
private[streaming] object GenStore {

  def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def dir(root: String, gen: Long): String = s"$root/gen-$gen"

  /** `gen-<digits>` names only: a stray non-numeric `gen-*` directory
    * (hand-made `gen-tmp`, an editor backup) must be ignored by every
    * listing, not crash it with NumberFormatException at pipeline
    * construction.
    */
  private def genNumber(name: String): Option[Long] = {
    val s = name.stripPrefix("gen-")
    if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
  }

  /** Committed generations under `root`, ascending; empty for a
    * missing or never-committed store.
    */
  def committed(spark: SparkSession, root: String): Seq[Long] = {
    val hfs = fs(spark, root)
    if (!hfs.exists(new Path(root))) Seq.empty
    else hfs.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory)
      .flatMap(s => genNumber(s.getPath.getName))
      .filter(g => hfs.exists(new Path(s"${dir(root, g)}/COMMITTED")))
      .sorted
  }

  /** Highest committed generation — fails loudly on a store with none
    * (init first; an uncommitted orphan alone means a writer died
    * before its commit point).
    */
  def latest(spark: SparkSession, root: String): Long = {
    val gens = committed(spark, root)
    require(gens.nonEmpty,
      s"no committed generation under $root — init the store first")
    gens.max
  }

  /** Write the `COMMITTED` marker — the commit point; idempotent. */
  def commit(spark: SparkSession, root: String, gen: Long): Unit =
    fs(spark, root).create(new Path(s"${dir(root, gen)}/COMMITTED"), true)
      .close()

  /** Write the next generation under `root` with `write(genDir)` and
    * commit it, dropping nothing — for a side store whose generation a
    * folded store's meta row pins (its predecessors die only after that
    * meta commits). Returns the new generation number.
    */
  def commitNext(spark: SparkSession, root: String)(
      write: String => Unit): Long = {
    val gen = committed(spark, root).lastOption.map(_ + 1).getOrElse(0L)
    write(dir(root, gen))
    commit(spark, root, gen)
    gen
  }

  /** Delete every `gen-*` directory numbered below `keep` — committed
    * predecessors and crash orphans alike (single-writer stores: an
    * orphan below the surviving generation can only be a dead crash
    * remnant, never a concurrent writer's work-in-progress).
    */
  def dropBelow(spark: SparkSession, root: String, keep: Long): Unit = {
    val hfs = fs(spark, root)
    hfs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        genNumber(s.getPath.getName).exists(_ < keep))
      .foreach(s => hfs.delete(s.getPath, true))
  }

  /** Delete every UNCOMMITTED `gen-*` directory numbered above `keep` —
    * crash orphans from a writer (an off-path rebuild) that died before
    * its commit point. Safe only when no build is in flight: the
    * single-writer stores call this at pipeline construction, where an
    * uncommitted generation above the committed frontier can only be a
    * dead remnant — invisible to readers but holding disk (and, for a
    * rebuild orphan, a staging dir that stale appends could keep
    * growing).
    */
  def dropUncommittedAbove(spark: SparkSession, root: String,
      keep: Long): Unit = {
    val hfs = fs(spark, root)
    if (hfs.exists(new Path(root)))
      hfs.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory &&
          genNumber(s.getPath.getName).exists(g =>
            g > keep && !hfs.exists(new Path(s"${dir(root, g)}/COMMITTED"))))
        .foreach(s => hfs.delete(s.getPath, true))
  }

  /** Count data files under `path` (recursive, `_`-prefixed bookkeeping
    * files excluded) — the compaction trigger's measure of small-file
    * accretion. Cost is one directory walk, bounded post-compaction by
    * the trigger threshold itself.
    */
  def dataFileCount(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).size.toLong

  /** The data-file paths under `path` (recursive, `_`-prefixed
    * bookkeeping excluded). Taken in the single-writer thread, this is
    * a consistent snapshot an off-path job can read while the writer
    * keeps appending — and the set difference of a later listing
    * against it is exactly the appends made in between (the async
    * compaction's catch-up delta).
    */
  def dataFiles(spark: SparkSession, path: String): Seq[String] = {
    val hfs = fs(spark, path)
    if (!hfs.exists(new Path(path))) Seq.empty
    else {
      val it = hfs.listFiles(new Path(path), true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) out += f.getPath.toString
      }
      out.result()
    }
  }

  /** Recursive delete, quiet on a missing path. */
  def deleteQuiet(spark: SparkSession, path: String): Unit = {
    val hfs = fs(spark, path)
    if (hfs.exists(new Path(path))) hfs.delete(new Path(path), true)
  }

  /** One folded store's layout: `schema` holds its `nData` state
    * columns, then its meta columns (one of them `batch_id`, the
    * high-water batch), then — for a `bucketed` ([[CowStore]]) store —
    * `bucket` last. The meta row is the one row whose `disc` column is
    * null (None: every row is meta — a meta-only log), or the
    * `bucket=-1` partition of a bucketed store. `decode` turns the meta
    * row into the store's public meta tuple; `what` names the store in
    * errors.
    */
  final class Folded[M](what: String, schema: StructType, nData: Int,
      disc: Option[String], bucketed: Boolean = false)(decode: Row => M) {

    private val metaCols = schema.drop(nData).map(_.name)
      .filterNot(c => bucketed && c == "bucket")

    private def metaAt(spark: SparkSession, root: String,
        gens: Seq[Long]): Option[Row] =
      gens.lastOption.map { g =>
        val rows =
          if (bucketed) spark.read.schema(StructType(schema.dropRight(1)))
            .parquet(s"${dir(root, g)}/bucket=-1").collect()
          else {
            val all = spark.read.schema(schema).parquet(dir(root, g))
            disc.fold(all)(d => all.where(col(d).isNull)).collect()
          }
        if (rows.length != 1) throw new IllegalStateException(
          s"$what state generation $g has ${rows.length} meta rows " +
            "(want exactly 1) — foreign or corrupt state")
        rows.head
      }

    /** The committed meta, decoded; None = fresh store. */
    def meta(spark: SparkSession, root: String): Option[M] =
      metaAt(spark, root, committed(spark, root)).map(decode)

    /** The committed state rows (the `nData` columns) of a flat store —
      * a lazy read; an empty frame for a fresh store.
      */
    def rows(spark: SparkSession, root: String): DataFrame = {
      val gens = committed(spark, root)
      val data = StructType(schema.take(nData))
      if (gens.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), data)
      else spark.read.schema(schema).parquet(dir(root, gens.max))
        .where(col(disc.get).isNotNull)
        .select(data.fieldNames.toSeq.map(col): _*)
    }

    /** Write the next generation with `write`, commit it, then drop its
      * predecessors. Returns `write`'s result.
      */
    def next[R](spark: SparkSession, root: String)(write: Gen => R): R =
      nextAfter(spark, root, committed(spark, root), 1)(write)

    private def nextAfter[R](spark: SparkSession, root: String,
        gens: Seq[Long], compactEvery: Long)(write: Gen => R): R = {
      val gen = new Gen(spark, root, gens, compactEvery)
      val out = write(gen)
      commit(spark, root, gen.n)
      if (gen.compacting) dropBelow(spark, root, gen.n)
      out
    }

    /** The exactly-once micro-batch step: `check` the structural
      * parameters against the committed meta, then `replay` (re-emit
      * from the committed meta) a batch already folded, refuse one the
      * state is ahead of, or `fold` the batch into the next generation
      * (None = fresh store) and commit it. Returns what `replay` or
      * `fold` returned — the caller's `onBatch` payload, emitted after
      * the commit.
      */
    def step[R](spark: SparkSession, root: String, batchId: Long,
        compactEvery: Long = 1)(check: M => Unit = (_: M) => (),
        replay: M => R)(fold: (Option[M], Gen) => R): R = {
      val gens = committed(spark, root)
      val row = metaAt(spark, root, gens)
      val prior = row.map(decode)
      prior.foreach(check)
      row.map(r => r.getLong(r.fieldIndex("batch_id"))) match {
        case Some(hw) if hw == batchId => replay(prior.get)
        case Some(hw) if batchId < hw => throw new IllegalStateException(
          s"$what state at $root is ahead of the stream: committed " +
            s"high-water batch $hw > replayed batch $batchId — the " +
            "streaming checkpoint was restored from an older snapshot " +
            "than the state dir; restore a matching pair")
        case _ => nextAfter(spark, root, gens, compactEvery)(fold(prior, _))
      }
    }

    /** Generation `n` (= last committed + 1) while a step writes it.
      * `prior` = the committed generations it follows; `compacting` =
      * it rewrites the whole state, so its predecessors drop at commit
      * (every generation of a flat store, every `compactEvery`-th of a
      * bucketed one).
      */
    final class Gen private[Folded] (spark: SparkSession, root: String,
        val prior: Seq[Long], compactEvery: Long) {
      val n: Long = prior.lastOption.map(_ + 1).getOrElse(0L)
      val dir: String = GenStore.dir(root, n)
      val compacting: Boolean = n > 0 && n % compactEvery == 0

      private def padded(rows: DataFrame): DataFrame =
        metaCols.foldLeft(rows)((df, c) =>
          df.withColumn(c, lit(null).cast(schema(c).dataType)))

      private def metaRow(meta: Seq[Any]): Row =
        Row.fromSeq(Seq.fill(nData)(null) ++ meta ++
          (if (bucketed) Seq(-1) else Nil))

      private def metaDf(meta: Seq[Any]): DataFrame = spark.createDataFrame(
        java.util.Collections.singletonList(metaRow(meta)), schema)

      /** State rows and the meta row as ONE file — the bounded stores. */
      def writeWithMeta(rows: DataFrame, meta: Any*): Unit =
        padded(rows).unionByName(metaDf(meta)).coalesce(1)
          .write.mode("overwrite").parquet(dir)

      /** State rows of a flat store, laid out by `layout`; follow with
        * [[appendMeta]].
        */
      def write(rows: DataFrame)(layout: DataFrame => DataFrame): Unit =
        layout(padded(rows)).write.mode("overwrite").parquet(dir)

      /** State rows of a bucketed store (data columns + `bucket`) — the
        * [[CowStore.writeGenData]] layout; follow with [[appendMeta]].
        */
      def writeBuckets(rows: DataFrame, zOrder: Option[ZOrder]): Unit =
        CowStore.writeGenData(spark, dir, padded(rows), zOrder)

      /** Rows written so far — before [[appendMeta]], the state rows. */
      def written: Long = spark.read.schema(schema).parquet(dir).count()

      /** The meta row, appended after the state rows. */
      def appendMeta(meta: Any*): Unit =
        if (bucketed) CowStore.appendMeta(spark, dir, metaRow(meta), schema)
        else metaDf(meta).coalesce(1).write.mode("append").parquet(dir)
    }
  }
}
