package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Cross-batch ordered funnel — the streamed face of q_adv10
  * ([[graft.analytics.AdvancedQueries.funnelOver]]), completing the
  * dashboard tier's kappa story next to [[M4Stream]] (chart + zoom +
  * smoothing + alerting) and [[CohortStream]] (retention): per user
  * the EARLIEST timestamp of each step strictly after the previous
  * step's, over everything the stream has ever carried, served as the
  * 4-row conversion summary without re-scanning history.
  *
  * THE STATE LAW (and why it is not "4 longs per user"): the chain
  * values c₁ < c₂ < … (c₁ = min signup, c_k = min step-k ts > c_{k−1})
  * are each MONOTONE NON-INCREASING as data arrives — more data can
  * only lower a min, and lowering c_{k−1} only widens step k's
  * candidate set. Two consequences fall out, one convenient and one
  * inconvenient:
  *
  *  - **Prune above the chain.** A step-k event with ts > c_k can
  *    never become a future c_k (futures only decrease), so it is
  *    discarded permanently — this is what bounds the state.
  *  - **Keep below the chain.** A 4-slot state that discards events
  *    the CURRENT gate rejects is provably wrong: deliver view@8 with
  *    no signup yet (slot state: nothing qualifies, view dropped),
  *    then signup@6 — the true chain is (6, 8), the slot state says
  *    the user never reached step 2, forever. The below-chain
  *    candidates (step-k events with ts ≤ c_k, or all of them while
  *    c_k is undefined) are EXACTLY the information an out-of-order-
  *    exact funnel must retain — the spec pins both the law and this
  *    counterexample.
  *
  * So the state is one table of distinct (user_id, step, ts) retained
  * events, re-pruned every batch: ≤ steps rows per user whenever each
  * user's steps are chain-ordered in EVENT time (min signup < min
  * view < … — the overwhelmingly common shape; arrival order across
  * batches is irrelevant), plus the orphaned-tail log (tail events
  * whose head hasn't arrived) when they are not. Per batch: one
  * union-distinct with the committed rows, ONE groupBy(user_id) whose
  * per-user chain + retention run as codegen'd array expressions
  * (filter/transform/array_min over the ≤-candidates list — no
  * driver loop, no window), and a hash-partitioned rewrite
  * ([[CohortStream]]'s file-sizing discipline verbatim: ⌈rows /
  * targetRowsPerFile⌉ files keyed on user_id, file count from the
  * committed total). Union-distinct also buys [[CohortStream]]'s
  * redelivery immunity: re-sent events merge to nothing.
  *
  * Replay discipline (family contract): replay of the high-water
  * batch skips, stale throws; the step list is committed in the meta
  * row and validated — two different funnels cannot merge. Null
  * guard: null user_id/ts rows are dropped before the merge (the
  * meta row discriminates on user_id-is-null).
  */
object FunnelStream {

  val DefaultSteps: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** State rows: one META row (`user_id` null — retained-row total,
    * high-water batch id, the comma-joined step list) plus one row per
    * retained (user_id, step, ts) event.
    */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("step", IntegerType),
    StructField("ts", LongType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("steps", StringType)))

  private val store = new GenStore.Folded("funnel", stateSchema, 3,
      Some("user_id"))(m => (m.getLong(3), m.getLong(4), m.getString(5)))

  /** The committed meta under `stateDir`: (retainedRows, high-water
    * batch_id, step signature); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, String)] = store.meta(spark, stateDir)

  /** The committed retained events; empty for a fresh dir. */
  def events(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** Per-user chain over an events table: (user_id, evs, c1..cN).
    * c_k = min step-k ts strictly after c_{k−1} — evaluated as array
    * expressions over the per-user candidate list; a null gate
    * propagates the chain break (filter treats `ts > null` as false).
    */
  private def chained(rows: DataFrame, nSteps: Int): DataFrame = {
    val grouped = rows.groupBy("user_id")
      .agg(collect_list(struct(col("step"), col("ts"))).as("evs"))
    (1 to nSteps).foldLeft(grouped) { (df, k) =>
      val gate = if (k == 1) "true" else s"e.ts > c${k - 1}"
      df.withColumn(s"c$k", expr(
        s"array_min(transform(filter(evs, e -> e.step = $k AND $gate), " +
          "e -> e.ts))"))
    }
  }

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `event_type`, `ts_us`). `onBatch(batchId, retainedRows)` fires
    * after the commit (or replay skip).
    */
  def pipeline(stateDir: String, steps: Seq[String] = DefaultSteps,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      targetRowsPerFile: Long = 4000000L)
      : (DataFrame, Long) => Unit = {
    require(steps.nonEmpty && steps.size <= 9,
      s"1..9 steps (single-digit step ids in the state), got ${steps.size}")
    require(steps.distinct.size == steps.size, s"duplicate step in $steps")
    require(targetRowsPerFile > 0,
      s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    val sig = steps.mkString(",")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, ps) =>
          if (ps != sig) throw new IllegalStateException(
            s"funnel state at $stateDir tracks steps [$ps]; this pipeline " +
              s"runs [$sig] — two funnels cannot merge, refusing")
        },
        replay = _._1) { (prior, gen) =>
        val stepCol = steps.zipWithIndex.foldLeft(lit(null).cast("int")) {
          case (acc, (s, i)) => when(col("event_type") === s, lit(i + 1))
            .otherwise(acc)
        }
        val bRows = batch
          .where(col("user_id").isNotNull && col("ts_us").isNotNull &&
            col("event_type").isin(steps: _*))
          .select(col("user_id"), stepCol.as("step"),
            col("ts_us").cast("long").as("ts"))
          .distinct()
        val merged = events(spark, stateDir).unionByName(bRows).distinct()
        // Chain + retention in ONE per-user row computation: keep a
        // step-k event iff c_k is undefined or ts <= c_k (pruning
        // soundness: futures of c_k only decrease, so ts > c_k can
        // never be an answer).
        val keepPred = (1 to steps.size).map(k =>
          s"(e.step = $k AND (c$k IS NULL OR e.ts <= c$k))").mkString(" OR ")
        val kept = chained(merged, steps.size)
          .withColumn("kept", expr(s"filter(evs, e -> $keepPred)"))
          .select(col("user_id"), explode(col("kept")).as("e"))
          .select(col("user_id"), col("e.step").as("step"),
            col("e.ts").as("ts"))
        val nFiles = math.max(1L, (prior.map(_._1).getOrElse(0L) +
          targetRowsPerFile - 1) / targetRowsPerFile).toInt
        gen.write(kept)(_.repartition(nFiles, col("user_id")))
        val total = gen.written
        gen.appendMeta(total, batchId, sig)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** The live funnel summary — q_adv10's exact output shape (step,
    * n_users, n_prev, conv_micro with the HALF_UP integer formula)
    * over everything the stream has carried: one chain recompute over
    * the committed retained rows (which preserves every chain value,
    * by the pruning law), one 1-row aggregate, driver assembly of the
    * ≤-steps summary.
    */
  def funnel(spark: SparkSession, stateDir: String,
      steps: Seq[String] = DefaultSteps): DataFrame = {
    import spark.implicits._
    readMeta(spark, stateDir).foreach { case (_, _, ps) =>
      val sig = steps.mkString(",")
      if (ps != sig) throw new IllegalStateException(
        s"funnel state at $stateDir tracks steps [$ps], read asked [$sig]")
    }
    val ch = chained(events(spark, stateDir), steps.size)
    val aggs = (1 to steps.size).map(k => count(col(s"c$k")).as(s"n$k"))
    val row = ch.agg(aggs.head, aggs.tail: _*).head()
    val counts = steps.indices.map(i => row.getLong(i))
    val rows = steps.zipWithIndex.map { case (name, i) =>
      val n = counts(i)
      val prev = if (i == 0) n else counts(i - 1)
      (s"${i + 1}_$name", n, prev,
        if (prev == 0) 0L else (n * 2000000L + prev) / (2L * prev))
    }
    rows.toDF("step", "n_users", "n_prev", "conv_micro").orderBy("step")
  }
}
