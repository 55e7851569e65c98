package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Cross-batch latest-wins materialization — the streamed face of
  * q_dd2 ([[graft.analytics.EventQueries.dedupLatest]]), and the
  * CDC/SCD-1 store every serving layer keeps: one CURRENT row per
  * entity key, maintained from an at-least-once update stream,
  * served live without re-scanning history.
  *
  * THE STATE LAW: the winner per (user_id, event_type) is an ARGMAX
  * under the total order (ts_us DESC, event_id DESC) — and argmax
  * over a set is idempotent and associative. Three consequences:
  *
  *  - **Redelivery-immune by algebra** (the [[CohortStream]]/
  *    [[SampleStream]] class, which no additive counter has): a
  *    re-sent update loses to the incumbent it already lost to (or
  *    ties with itself), so at-least-once delivery cannot corrupt
  *    the store — the replay guard protects only the meta
  *    accounting, not correctness.
  *  - **Out-of-order-exact**: a LATE update with an older (ts,
  *    event_id) never displaces a newer incumbent, and a late-but-
  *    newer one does — merged state ≡ the batch operator over every
  *    row ever delivered, for any slicing and arrival order.
  *  - **Honest bound**: exactly one row per live entity key —
  *    per-entity state, so the rewrite is hash-partitioned on the
  *    key into ⌈rows / targetRowsPerFile⌉ files sized from the
  *    COMMITTED total (the [[CohortStream]] discipline).
  *
  * Per batch: one window pass over state ∪ batch — a single shuffle
  * on (user_id, event_type); the tie order requires event_id to make
  * the winner well-defined (the batch operator's own µs-truncation
  * lesson: the order must be the one BOTH engines and both faces
  * see). The payload (`value`) rides the winner row untouched — no
  * arithmetic, no float-order concern. Null guard: rows with a null
  * key component or a null (ts_us, event_id) order component drop
  * before the merge (an unorderable update is not a valid upsert;
  * the meta row discriminates on user_id-is-null).
  */
object UpsertStream {

  /** State rows: one META row (`user_id` null — row total, high-water
    * batch id) plus one current row per (user_id, event_type).
    */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType),
    StructField("total", LongType), StructField("batch_id", LongType)))

  private val store = new GenStore.Folded("upsert", stateSchema, 5,
      Some("user_id"))(m => (m.getLong(5), m.getLong(6)))

  /** The committed meta under `stateDir`: (rows, high-water batch_id);
    * `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long)] = store.meta(spark, stateDir)

  /** The live current-row table — q_dd2's exact output shape over
    * everything the stream has carried; a straight projection of the
    * committed state, zero recompute.
    */
  def latest(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `event_type`, `ts_us`, `event_id`, `value`).
    * `onBatch(batchId, rows)` fires after the commit (or replay skip).
    */
  def pipeline(stateDir: String,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      targetRowsPerFile: Long = 4000000L)
      : (DataFrame, Long) => Unit = {
    require(targetRowsPerFile > 0,
      s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(replay = _._1) {
        (prior, gen) =>
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
        val nFiles = math.max(1L, (prior.map(_._1).getOrElse(0L) +
          targetRowsPerFile - 1) / targetRowsPerFile).toInt
        gen.write(latest(spark, stateDir).unionByName(bRows)
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1)
            .drop("rn"))(
          _.repartition(nFiles, col("user_id"), col("event_type")))
        val total = gen.written
        gen.appendMeta(total, batchId)
        total
      }
      onBatch(batchId, total)
    }
  }
}
