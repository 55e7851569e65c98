package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Optional write-time layout for CoW generation writes: z-order each
  * bucket's rows on (`aCol`, `bCol`) — [[graft.operators.Layout]]'s
  * Morton curve, min/max-normalized over the written rows — so range
  * scans and time-travel reads over the store get REL-30's
  * row-group/file-skip law INSIDE every bucket. `rangeFiles > 1`
  * switches the write's exchange to a range partitioning on
  * (bucket, z) with that many tasks, splitting bucket dirs into
  * z-contiguous files (disjoint key boxes → FILE-level skipping, the
  * measurable form at local scale; a 100 TB store keeps 1 and relies
  * on row-group stats inside each bucket file). Public (unlike the
  * [[CowStore]] machinery) because it is part of the stores' pipeline
  * signatures.
  */
final case class ZOrder(aCol: String, bCol: String, bits: Int = 16,
  rangeFiles: Int = 1)

/** Shared machinery for hash-bucketed copy-on-write generation stores
  * ([[CowUpsertStream]], [[CowCohortStream]]): the `gen-N/bucket=i/`
  * layout, ownership resolution (a bucket's current copy lives in the
  * highest committed generation that wrote it), pruned explicit-path
  * reads, and the partitioned gen write with its meta row. Factored
  * the moment a second store adopted the layout — the resolution and
  * path-discipline rules (never base-dir discovery, meta addressed
  * directly) must not fork.
  *
  * Contracts shared by every adopter: the store's schema carries its
  * data columns, then its meta columns, then `bucket` LAST (the
  * partition directory column; −1 is the meta partition); the bucket
  * function is pmod(xxhash64(entity key), B) with B committed in the
  * meta and validated on every merge; [[GenStore.Folded]] provides the
  * meta read (the `bucket=-1` partition) and the commit/replay
  * protocol, shared with the flat stores.
  */
private[streaming] object CowStore {

  /** The deterministic bucket assignment — engine-stable xxhash64. */
  def bucketOf(buckets: Int, keys: Column*): Column =
    pmod(xxhash64(keys: _*), lit(buckets.toLong)).cast("int")

  /** Data buckets (≥ 0) OWNED by a generation dir: its `bucket=` dirs
    * plus any buckets its `_EMPTY` marker declares it emptied (a
    * delete can leave a touched bucket with zero rows; `partitionBy`
    * writes no dir for an empty group, and without the marker
    * ownership would fall back to an older generation's copy — the
    * deleted rows would RESURRECT). `bucket=-1` (meta) excluded.
    */
  def bucketsIn(spark: SparkSession, stateDir: String,
      gen: Long): Seq[Int] =
    bucketsInDir(spark, GenStore.dir(stateDir, gen))

  /** Same ownership listing addressed at an explicit generation dir —
    * for writers that STAGE a generation under a temp path before
    * renaming it into place ([[CowUpsertStream.delete]]).
    */
  def bucketsInDir(spark: SparkSession, genDir: String): Seq[Int] = {
    val hfs = GenStore.fs(spark, genDir)
    val p = new Path(genDir)
    if (!hfs.exists(p)) Seq.empty
    else {
      val dirs = hfs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("bucket="))
        .map(_.stripPrefix("bucket=").toInt)
        .filter(_ >= 0)
      (dirs ++ readEmptyMarker(spark, genDir)).distinct
    }
  }

  private def emptyMarkerPath(genDir: String) = new Path(s"$genDir/_EMPTY")

  /** Record that `gen` emptied these buckets (their current copy is
    * "no rows"). Idempotent overwrite; no-op for an empty set.
    */
  def writeEmptyMarker(spark: SparkSession, genDir: String,
      buckets: Seq[Int]): Unit =
    if (buckets.nonEmpty) {
      val out = GenStore.fs(spark, genDir)
        .create(emptyMarkerPath(genDir), true)
      out.write(buckets.sorted.mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }

  private def readEmptyMarker(spark: SparkSession,
      genDir: String): Seq[Int] = {
    val hfs = GenStore.fs(spark, genDir)
    val p = emptyMarkerPath(genDir)
    if (!hfs.exists(p)) Seq.empty
    else {
      val in = hfs.open(p)
      val s = new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      in.close()
      s.split("\\s+").toSeq.filter(_.nonEmpty).map(_.toInt)
    }
  }

  /** Ownership resolution over `gens` (ascending): gen → buckets whose
    * CURRENT copy it holds; only non-empty entries.
    */
  def ownership(spark: SparkSession, stateDir: String,
      gens: Seq[Long]): Seq[(Long, Seq[Int])] = {
    val owner = scala.collection.mutable.Map.empty[Int, Long]
    gens.sorted.foreach { g =>
      bucketsIn(spark, stateDir, g).foreach(b => owner(b) = g)
    }
    owner.toSeq.groupBy(_._2)
      .map { case (g, kvs) => g -> kvs.map(_._1).sorted }
      .toSeq.sortBy(_._1)
  }

  /** An empty frame with the store's data columns plus `bucket`. */
  def emptyData(spark: SparkSession, schema: StructType,
      dataCols: Seq[String]): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(schema.filter(f =>
        dataCols.contains(f.name) || f.name == "bucket")))

  /** Current rows of `want` buckets (all when None) resolved over
    * `gens`: one partition-pruned read per owning generation, each
    * addressing its selected `bucket=` dirs as EXPLICIT paths with
    * basePath — file discovery and the read plan touch only the
    * selected buckets, never the generation's full fan-out.
    */
  def readBuckets(spark: SparkSession, stateDir: String, gens: Seq[Long],
      want: Option[Set[Int]], schema: StructType,
      dataCols: Seq[String]): DataFrame = {
    val hfs = GenStore.fs(spark, stateDir)
    val parts = ownership(spark, stateDir, gens).flatMap { case (g, bs) =>
      val sel = want.map(w => bs.filter(w.contains)).getOrElse(bs)
      if (sel.isEmpty) None
      else {
        val gDir = GenStore.dir(stateDir, g)
        // An owned bucket with no dir was EMPTIED by this generation
        // (the _EMPTY marker owns it so older copies stay dead) —
        // nothing to read for it.
        val paths = sel.map(b => s"$gDir/bucket=$b")
          .filter(p => hfs.exists(new Path(p)))
        if (paths.isEmpty) None
        else Some(
          spark.read.schema(schema).option("basePath", gDir)
            .parquet(paths: _*)
            .select((dataCols :+ "bucket").map(col): _*))
      }
    }
    if (parts.isEmpty) emptyData(spark, schema, dataCols)
    else parts.reduce(_ unionByName _)
  }

  /** Write a generation's data: the merged rows (data cols + `bucket`,
    * meta cols nulled) partitioned one task per bucket; follow with
    * [[appendMeta]], then commit. With `zOrder` set, rows are laid out
    * z-ordered WITHIN each bucket (intended for compaction generations
    * — the one write that rewrites whole buckets anyway, so the layout
    * comes at the cost of one extra min/max aggregate and an in-task
    * sort, not extra IO). Every generation write in the family routes
    * through here so the layout (one dir per bucket, optional z-order)
    * cannot fork per store.
    */
  def writeGenData(spark: SparkSession, genDir: String, merged: DataFrame,
      zOrder: Option[ZOrder] = None): Unit = {
    val laid = zOrder match {
      case Some(z) =>
        val r = merged.agg(
          min(col(z.aCol)).cast("long"), max(col(z.aCol)).cast("long"),
          min(col(z.bCol)).cast("long"), max(col(z.bCol)).cast("long"))
          .head()
        if (r.isNullAt(0)) merged.repartition(col("bucket")) // no rows
        else {
          // The overflow-sensitive normalize-clamp arithmetic lives
          // ONCE, in Layout.normCoord (round 18's Long-overflow fix
          // had to land at both sites; never again).
          val zc = graft.operators.Layout.zValue(
            graft.operators.Layout.normCoord(
              col(z.aCol), r.getLong(0), r.getLong(1), z.bits),
            graft.operators.Layout.normCoord(
              col(z.bCol), r.getLong(2), r.getLong(3), z.bits), z.bits)
          val withZ = merged.withColumn("__z", zc)
          val parts =
            if (z.rangeFiles <= 1) withZ.repartition(col("bucket"))
            // range exchange on (bucket, z): each task holds a
            // z-contiguous slice of one bucket's curve (bucket leads
            // the range key), partitionBy splits per bucket dir
            else withZ.repartitionByRange(
              math.max(2, z.rangeFiles), col("bucket"), col("__z"))
          parts.sortWithinPartitions(col("bucket"), col("__z")).drop("__z")
        }
      case None => merged.repartition(col("bucket"))
    }
    laid.write.mode("overwrite").partitionBy("bucket").parquet(genDir)
  }

  /** A generation's meta row, appended under `bucket=-1` after
    * [[writeGenData]]. The caller commits after.
    */
  def appendMeta(spark: SparkSession, genDir: String, metaRow: Row,
      schema: StructType): Unit = {
    val metaDf = spark.createDataFrame(
      java.util.Collections.singletonList(metaRow), schema)
    metaDf.coalesce(1)
      .write.mode("append").partitionBy("bucket").parquet(genDir)
  }
}
