package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.operators.CountMin

/** Cross-batch Count-Min frequency tracking — the streaming face of
  * [[CountMin]] next to [[HeavyHitterStream]]'s Misra-Gries: where the
  * MG summary keeps a bounded CANDIDATE set (who is frequent), the CMS
  * state answers a bounded-error POINT QUERY for any item the stream
  * has ever carried, in d·w cells regardless of vocabulary.
  *
  * The state law is [[PackingStream]]'s generation protocol, but unlike
  * the MG summary the merge here is pure elementwise ADDITION — a
  * relational aggregate — so the state never rides through the driver:
  * per batch, ONE partial-aggregate job sketches the batch's tokens
  * (exchange bounded at ≤ d·w rows per task), the prior generation's
  * cell table unions in, and a `groupBy(hrow, bucket).sum` writes the
  * next generation (≤ d·w rows). The only driver pin is the 1-row batch
  * total. Estimates keep CMS's guarantees ACROSS batches because
  * summed sketches are exactly the sketch of the concatenated stream
  * (the mergeable-summaries law [[graft.operators.CountMinSpec]] pins
  * relationally).
  *
  * Replay discipline (the [[HeavyHitterStream]] contract): a replay of
  * the committed high-water batch SKIPS the merge and re-emits
  * (adding twice would double-count the batch — CMS estimates only
  * ever OVERcount, so the break would pass the est ≥ true check and
  * corrupt silently); a batch id below the high-water throws, loudly.
  *
  * The sketch geometry (d, w) is committed WITH the state and
  * validated on every batch and read — estimating against a state
  * sketched at different geometry would hash to the wrong cells and
  * produce silently wrong (even UNDER-counting) answers, so a mismatch
  * refuses instead.
  */
object CountMinStream {

  /** State rows: one META row (`hrow` null — exact total, high-water
    * batch id, and the sketch geometry) plus one row per non-empty
    * cell.
    */
  private val stateSchema = StructType(Seq(
    StructField("hrow", IntegerType), StructField("bucket", LongType),
    StructField("c", LongType), StructField("total", LongType),
    StructField("batch_id", LongType), StructField("d", LongType),
    StructField("w", LongType)))

  private val store = new GenStore.Folded("count-min", stateSchema, 3,
      Some("hrow"))(m =>
    (m.getLong(3), m.getLong(4), m.getLong(5).toInt, m.getLong(6).toInt))

  /** The committed meta under `stateDir`: (total, high-water batch_id,
    * d, w); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Int, Int)] = store.meta(spark, stateDir)

  /** The committed cell table (hrow, bucket, c) — a lazy read, ≤ d·w
    * rows by construction; empty for a fresh dir.
    */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler over batches carrying a `text` column.
    * `onBatch(batchId, total)` fires after the commit (or replay skip)
    * with the stream total now in force.
    */
  def pipeline(stateDir: String, d: Int = 4, w: Int = 1024,
      onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(d > 0 && w > 0, s"sketch dims must be positive, got d=$d w=$w")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      // A replay after the state commit is skipped: adding the batch
      // again would double-count it — and CMS only ever overcounts, so
      // the corruption would pass the est >= true invariant silently.
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, pd, pw) =>
          if (pd != d || pw != w) throw new IllegalStateException(
            s"count-min state at $stateDir was sketched at d=$pd w=$pw; " +
              s"this pipeline runs d=$d w=$w — estimates against " +
              "mismatched geometry hash to the wrong cells, refusing")
        },
        replay = _._1) { (prior, gen) =>
        val toks = batch.select(
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("item"))
        val bSketch = CountMin.sketch(toks, d, w)
        // Batch total = any single hash row's cell mass (every row
        // counts every token once) — a 1-row bounded pin.
        val bTotal = bSketch.where(col("hrow") === 0)
          .agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        // Distributed merge: summed sketches ARE the sketch of the
        // concatenated stream. <= d*w rows in, <= d*w out.
        gen.writeWithMeta(cells(spark, stateDir)
            .unionByName(bSketch)
            .groupBy("hrow", "bucket").agg(sum("c").as("c")),
          total, batchId, d.toLong, w.toLong)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** Point-query estimates against the committed state: geometry comes
    * from the state's own meta row, so a caller cannot mis-hash.
    * Returns (item, est_n); est ≥ the item's true whole-stream count,
    * est ≤ true + εN with the usual (ε = e/w, δ = e^−d) guarantee.
    */
  def estimates(spark: SparkSession, stateDir: String, queries: DataFrame)
      : DataFrame = {
    readMeta(spark, stateDir) match {
      case None => queries.select(col("item"), lit(0L).as("est_n"))
      case Some((_, _, d, w)) =>
        CountMin.estimates(queries, cells(spark, stateDir), d, w)
    }
  }
}
