package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.HeavyHitters

/** Cross-batch heavy-hitter tracking over a document stream — the
  * streaming face of [[graft.operators.HeavyHitters]]: the state is ONE
  * mergeable Misra-Gries summary (≤ m counters + the exact stream
  * total), so per-batch cost and state size are both bounded by `m`
  * regardless of how many distinct tokens the stream has seen.
  *
  * Per batch: ONE partial-aggregate job folds the batch's tokens into a
  * batch sketch (the [[HeavyHitters.MisraGries]] aggregator — one ≤ m
  * sketch per partition over the exchange, never the token stream);
  * the carried summary merges in via [[HeavyHitters.mergeCounters]]
  * (the Agarwal et al. mergeable-summaries step), and the merged state
  * is committed as a new generation (rows written → COMMITTED marker →
  * older generations dropped — the [[PackingStream]] state law).
  *
  * Replay discipline: the committed state carries the high-water
  * `batch_id`. foreachBatch is at-least-once; a replay of the committed
  * batch id SKIPS the merge (the state already includes that batch) and
  * just re-emits — merging twice would double-count every token in the
  * replayed batch and silently break the undercount bound. A batch id
  * BELOW the high-water (a checkpoint restored from an older snapshot
  * than the state dir) throws instead: the summary has moved past that
  * batch, so neither merging (double-count) nor re-emitting (wrong
  * as-of state) is faithful — the divergence is made loud.
  *
  * What the state means (and does not): every item whose true stream
  * frequency exceeds N/(m+1) is PRESENT in the summary, undercounted by
  * at most N/(m+1); items below that bound may or may not appear. The
  * candidates are the input to the exact verification pass
  * ([[HeavyHitters.frequentItems]]'s pass 2) over the archived corpus —
  * the kappa split: the stream maintains the bounded candidate
  * surface, the batch side certifies exact counts on demand.
  */
object HeavyHitterStream {

  /** State rows: one META row (`item` null — total + high-water batch)
    * plus one row per surviving counter. The meta row is always
    * present, so a committed-but-counterless state (possible only for
    * m=0-like degenerate streams) still distinguishes itself from a
    * fresh dir.
    */
  private val stateSchema = StructType(Seq(
    StructField("item", StringType), StructField("cnt", LongType),
    StructField("total", LongType), StructField("batch_id", LongType)))

  private val store = new GenStore.Folded("heavy-hitter", stateSchema, 2,
      Some("item"))(m => (m.getLong(2), m.getLong(3)))

  private def committedCounters(spark: SparkSession,
      stateDir: String): Map[String, Long] =
    store.rows(spark, stateDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The committed summary under `stateDir`:
    * (counters, total, high-water batch_id); `None` = fresh stream.
    */
  def readState(spark: SparkSession, stateDir: String)
      : Option[(Map[String, Long], Long, Long)] =
    store.meta(spark, stateDir).map { case (total, hw) =>
      (committedCounters(spark, stateDir), total, hw)
    }

  /** One foreachBatch handler over batches carrying a `text` column.
    * `onBatch(batchId, total, counters)` fires after the commit (or the
    * replay skip) with the summary now in force.
    */
  def pipeline(stateDir: String, m: Int = 1024,
      onBatch: (Long, Long, Map[String, Long]) => Unit = (_, _, _) => ())
      : (DataFrame, Long) => Unit = {
    require(m > 0, "sketch capacity must be positive")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val (total, counters) = store.step(spark, stateDir, batchId)(
        replay = { case (total, _) =>
          (total, committedCounters(spark, stateDir))
        }) { (prior, gen) =>
        val (bCounters, bTotal) = batch
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("item"))
          .as[String]
          .select(new HeavyHitters.MisraGries(m).toColumn)
          .head()
        val merged = mutable.Map.empty[String, Long]
        if (prior.nonEmpty) merged ++= committedCounters(spark, stateDir)
        HeavyHitters.mergeCounters(merged, bCounters, m)
        val total = prior.map(_._1).getOrElse(0L) + bTotal
        gen.writeWithMeta(merged.toSeq.toDF("item", "cnt"), total, batchId)
        (total, merged.toMap)
      }
      onBatch(batchId, total, counters)
    }
  }

  /** The current candidate table as a DataFrame — (item, cnt_lower,
    * total): `cnt_lower` is the sketch count, an undercount by at most
    * total/(m+1). Feed to the exact verification join over the archived
    * corpus for certified counts.
    */
  def candidates(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    readState(spark, stateDir) match {
      case None => spark.emptyDataset[(String, Long, Long)]
        .toDF("item", "cnt_lower", "total")
      case Some((counters, total, _)) =>
        counters.toSeq.map { case (k, v) => (k, v, total) }
          .toDF("item", "cnt_lower", "total")
          .orderBy(col("cnt_lower").desc, col("item"))
    }
  }
}
