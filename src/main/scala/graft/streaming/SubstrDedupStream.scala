package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Cross-batch substring-level exact dedup — the streaming face of
  * [[Dedup.duplicateSpans]] (Lee et al. 2022 ExactSubstr, q_dd10's
  * batch law), giving the last batch-only member of the dedup family
  * its kappa leg. The reference tie-in is STR-2's at-least-once
  * duplicate obligation (sensor_publish.py:81 re-sends records;
  * README.md:281 documents the duplicate consequence) at the SUBSTRING
  * granularity: duplicated k-token windows are detected across every
  * batch the stream has ever carried, including spans whose two
  * occurrences arrive in different batches — exactly what a per-batch
  * run of the batch operator would miss.
  *
  * State = two additive tables, never text:
  *
  *   - The GRAM LOG: per batch, one `grams/batch-B/` parquet of the
  *     batch docs' (doc_id, pos, h) rolling-md5 gram rows
  *     ([[Dedup.duplicateSpanGrams]] — map-side, computed in the scan
  *     stage). Append-only: a batch writes only its OWN grams, so
  *     write cost is O(batch), never O(stream). Positions must be
  *     retained (spans are positional), which is why this store cannot
  *     collapse to a counts table alone.
  *   - The COUNTS FOLD: gram counts are a wordcount-shape aggregate
  *     and therefore ADD across batches ([[CountMinStream]]'s law:
  *     summed per-batch counts ARE the counts of the concatenated
  *     stream), so every `foldEvery` batches the committed counts
  *     generation unions the unfolded tail's per-batch aggregates and
  *     `groupBy(h).sum`s into the next generation — an LSM fold that
  *     amortizes the O(distinct grams) rewrite across `foldEvery`
  *     batches. A read between folds tops the fold up with the
  *     (bounded) unfolded tail. The merge is a distributed partial
  *     aggregate — state never rides through the driver; the only
  *     driver pins are the 1-row meta read and the 1-row batch gram
  *     count.
  *
  * Cross-batch duplicated spans are then spans over the summed gram
  * counts: [[spans]] joins the full gram log against the cross-batch
  * `n > 1` hash set and runs the batch operator's own islands merge
  * ([[Dedup.spansOverGrams]] — shared code, not a re-implementation),
  * so stream ≡ batch EXACTLY over the union of arrivals for any
  * slicing (SubstrDedupStreamSpec pins the differential).
  *
  * Replay discipline (the [[HeavyHitterStream]] family contract): a
  * replay of the committed high-water batch skips and re-emits (gram
  * counts would double and every window of a replayed doc would flag
  * as duplicated — silent corruption in the over-detection direction);
  * a batch below the high-water throws. A crash between the gram-log
  * write and the meta commit replays safely: the gram dir is
  * overwritten (idempotent), and readers only consult gram dirs
  * ≤ the committed high-water, so a dead later attempt's orphan is
  * invisible. Cross-batch re-sent doc_ids are dropped (anti-join
  * against the committed log's doc ids — the at-least-once dedup
  * obligation at the document level), so a re-delivered document
  * cannot make itself look self-duplicated.
  *
  * The gram size `k` is committed in the store MANIFEST and validated
  * at every batch and read — grams of mixed k would neither collide
  * correctly nor merge into meaningful spans, so a mismatch refuses.
  *
  * foldEvery SIZING LAW (measured, SCALE.md round-15 SubstrProbe, 5k →
  * 500k docs): write amplification ∝ 1/foldEvery (the per-fold counts
  * rewrite is O(distinct grams) — ≈ 5.4 s/batch at the 24M-gram decade
  * when folding every batch, ≈ 1.5 at foldEvery = 4), and folding buys
  * ~35% spans() read latency (the read's dominant cost is the islands
  * join/window over the positional gram log, which no cadence
  * removes). Fold often when spans are read often (monitoring); keep
  * foldEvery high for write-heavy streams with rare reads. The probe's
  * all-unique-gram corpus is the fold's WORST case — dup-heavy corpora
  * (this operator's reason to exist) rewrite a much smaller table.
  */
object SubstrDedupStream {

  private val gramSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", LongType),
    StructField("h", StringType)))

  private val countsSchema = StructType(Seq(
    StructField("h", StringType), StructField("n", LongType)))

  /** Meta row: stream gram total, high-water batch id, gram size, the
    * last batch folded into the counts generation (−1 = none), and the
    * counts generation the fold lives in (−1 = none). The meta PINS its
    * counts generation explicitly: a crash after a counts commit but
    * before the meta commit leaves an orphan generation no reader ever
    * consults (using "latest counts" instead would double-count the
    * folded tail against the unfolded batch dirs).
    */
  private val metaSchema = StructType(Seq(
    StructField("total_grams", LongType), StructField("batch_id", LongType),
    StructField("k", LongType), StructField("folded_through", LongType),
    StructField("counts_gen", LongType)))

  final case class Meta(totalGrams: Long, batchId: Long, k: Int,
    foldedThrough: Long, countsGen: Long)

  private def metaRoot(stateDir: String) = s"$stateDir/meta"
  private def countsRoot(stateDir: String) = s"$stateDir/counts"
  private def gramDir(stateDir: String, batchId: Long) =
    s"$stateDir/grams/batch-$batchId"

  private def manifestEntries(k: Int) =
    Seq("kind" -> "substr-dedup-store", "k" -> k.toString)

  // A meta-only log: every row of a generation is its meta row.
  private val store = new GenStore.Folded("substring-dedup", metaSchema, 0,
      None)(r => Meta(r.getLong(0), r.getLong(1), r.getLong(2).toInt,
    r.getLong(3), r.getLong(4)))

  /** The committed meta under `stateDir`; `None` = fresh stream. */
  def readMeta(spark: SparkSession, stateDir: String): Option[Meta] =
    store.meta(spark, metaRoot(stateDir))

  /** Committed gram-log batch ids ≤ `upTo` (ascending) — dirs above the
    * meta high-water are dead later attempts and never consulted.
    */
  private def committedBatches(spark: SparkSession, stateDir: String,
      upTo: Long): Seq[Long] = {
    val root = s"$stateDir/grams"
    val hfs = GenStore.fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!hfs.exists(p)) Seq.empty
    else hfs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch-"))
      .map(_.stripPrefix("batch-")).filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong).filter(_ <= upTo)
      .filter(b => hfs.exists(new org.apache.hadoop.fs.Path(
        s"${gramDir(stateDir, b)}/COMMITTED")))
      .sorted
  }

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The (doc_id, pos, h) gram log over committed batches in
    * `(from, upTo]` — a lazy multi-dir parquet read.
    */
  private def gramLog(spark: SparkSession, stateDir: String, from: Long,
      upTo: Long): DataFrame = {
    val dirs = committedBatches(spark, stateDir, upTo).filter(_ > from)
      .map(gramDir(stateDir, _))
    if (dirs.isEmpty) emptyOf(spark, gramSchema)
    else spark.read.schema(gramSchema).parquet(dirs: _*)
  }

  /** Cross-batch gram counts as of the committed meta: the folded
    * generation topped up with the unfolded tail's aggregate. ≤ distinct
    * grams rows; a pure distributed wordcount-shape merge.
    */
  private def counts(spark: SparkSession, stateDir: String,
      meta: Meta): DataFrame = {
    val folded =
      if (meta.countsGen < 0) emptyOf(spark, countsSchema)
      else spark.read.schema(countsSchema)
        .parquet(GenStore.dir(countsRoot(stateDir), meta.countsGen))
    val tail = gramLog(spark, stateDir, meta.foldedThrough, meta.batchId)
      .groupBy("h").agg(count(lit(1)).as("n"))
    folded.unionByName(tail).groupBy("h").agg(sum("n").as("n"))
  }

  /** One foreachBatch handler over (doc_id, text) arrivals.
    * `onBatch(batchId, nNewDocs, totalGrams)` fires after the commit
    * (or replay skip) with the stream gram total now in force.
    */
  def pipeline(stateDir: String, k: Int = 8, foldEvery: Int = 8,
      onBatch: (Long, Long, Long) => Unit = (_, _, _) => ())
      : (DataFrame, Long) => Unit = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    require(foldEvery >= 1, s"foldEvery must be >= 1, got $foldEvery")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      StoreManifest.sealOrCheck(spark, stateDir, manifestEntries(k),
        "substring-dedup store")
      // A replay after the commit re-emits: re-adding the batch's grams
      // would double every count and flag each replayed doc's every
      // window as duplicated.
      val (nNewDocs, total, countsGen) =
        store.step(spark, metaRoot(stateDir), batchId)(
          check = m =>
            if (m.k != k) throw new IllegalStateException(
              s"substring-dedup state at $stateDir holds k=${m.k} grams; " +
                s"this pipeline runs k=$k — mixed gram sizes neither " +
                "collide nor merge into spans, refusing"),
          replay = m => (0L, m.totalGrams, m.countsGen)) { (prior, gen) =>
          val hw = prior.map(_.batchId).getOrElse(-1L)
          // At-least-once dedup at the document level: a doc_id already
          // in the committed log is a cross-batch re-send; keeping it
          // would make the doc self-duplicate. Column-pruned read of the
          // log's doc_id column only.
          val seen = gramLog(spark, stateDir, -1L, hw)
            .select("doc_id").distinct()
          val fresh = batch.select(col("doc_id").cast("long").as("doc_id"),
              col("text"))
            .join(seen, Seq("doc_id"), "left_anti")
          val grams = Dedup.duplicateSpanGrams(fresh, k)
            .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
          grams.write.mode("overwrite").parquet(gramDir(stateDir, batchId))
          GenStore.fs(spark, stateDir).create(new org.apache.hadoop.fs.Path(
            s"${gramDir(stateDir, batchId)}/COMMITTED"), true).close()
          // Totals from the COMMITTED file (1-row pins), so a replayed
          // crash recomputes exactly what it re-committed.
          val written = spark.read.schema(gramSchema)
            .parquet(gramDir(stateDir, batchId))
          val nNewDocs = written.select("doc_id").distinct().count()
          val total = prior.map(_.totalGrams).getOrElse(0L) + written.count()
          // LSM fold: due when the unfolded tail reaches foldEvery
          // batch slots (batch ids, so redelivered id gaps count too).
          val (pFolded, pGen) = prior.map(m => (m.foldedThrough, m.countsGen))
            .getOrElse((-1L, -1L))
          val (foldedThrough, countsGen) =
            if (batchId - pFolded >= foldEvery) {
              val merged = counts(spark, stateDir,
                Meta(total, batchId, k, pFolded, pGen))
              (batchId, GenStore.commitNext(spark, countsRoot(stateDir))(
                merged.write.mode("overwrite").parquet(_)))
            } else (pFolded, pGen)
          gen.writeWithMeta(spark.emptyDataFrame, // meta only: no state rows
            total, batchId, k.toLong, foldedThrough, countsGen)
          (nNewDocs, total, countsGen)
        }
      // After the meta commit (a replay repeats it — the committed meta
      // pins countsGen, so every counts generation below it is dead).
      if (countsGen >= 0)
        GenStore.dropBelow(spark, countsRoot(stateDir), countsGen)
      onBatch(batchId, nNewDocs, total)
    }
  }

  /** Cross-batch maximal duplicated spans (doc_id, s, e) as of the
    * committed state — [[Dedup.duplicateSpans]] over the union of all
    * arrivals, for any arrival slicing: the gram log joins the summed
    * counts' `n > 1` set and the batch operator's own islands merge
    * runs unchanged.
    */
  def spans(spark: SparkSession, stateDir: String): DataFrame =
    readMeta(spark, stateDir) match {
      case None =>
        emptyOf(spark, StructType(Seq(StructField("doc_id", LongType),
          StructField("s", LongType), StructField("e", LongType))))
      case Some(m) =>
        val dup = counts(spark, stateDir, m).where(col("n") > 1).select("h")
        Dedup.spansOverGrams(gramLog(spark, stateDir, -1L, m.batchId), dup,
          m.k)
          .select(col("doc_id"), col("s").cast("long").as("s"),
            col("e").cast("long").as("e"))
    }

  /** The removal half against the committed state: the caller brings
    * the documents (the store keeps hashes, never text) and
    * [[Dedup.stripWithSpans]] cuts the cross-batch spans out — the
    * streamed q_dd10 end-to-end.
    */
  def strip(spark: SparkSession, stateDir: String, docs: DataFrame)
      : DataFrame =
    Dedup.stripWithSpans(docs, spans(spark, stateDir))
}
