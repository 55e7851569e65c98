package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Cross-batch sessionization — the streamed face of q_adv4
  * ([[graft.analytics.AdvancedQueries.sessionWindows]], Spark's
  * `session_window` with a fixed inactivity gap): per user, the merged
  * event-time sessions over everything the stream has ever carried,
  * served live off committed state without re-scanning history. This
  * closes the one window family on the board that had no streamed
  * form (tumbling → STR-3, sliding → AGG-7, session → here).
  *
  * THE STATE LAW: the state is one row per CURRENT session —
  * `(user_id, start_us, end_us, n_events, mass_micro)` — and the
  * merge treats a session interval as interchangeable with the event
  * set that produced it. That hull-replacement is EXACT for a fixed
  * gap g (committed in the meta row and validated — states bucketed
  * at different gaps must not merge):
  *
  *  - within a session, consecutive events are < g apart, so a new
  *    event landing INSIDE [s, e] falls between two events < g apart
  *    and merges in both the all-events world and the hull world;
  *  - a new event before s (or after e) merges iff its distance to s
  *    (to e) is < g in both worlds, because s and e ARE events;
  *  - a bridging event between two sessions merges both iff it is
  *    < g from each boundary — identical in both worlds.
  *
  * Hence islands(state ∪ batch) ≡ islands(all events ever), for ANY
  * slicing and arrival order — including out-of-order events that
  * retroactively MERGE two committed sessions into one (the case a
  * watermark-evicting `session_window` stream answers wrong after
  * eviction, and the reason this store keeps sessions, not a
  * watermark). Boundary semantics match the batch operator and its
  * gaps-and-islands oracle exactly: merge iff diff < g ⟺ new session
  * iff diff ≥ g, at µs precision.
  *
  * Per batch: events enter as degenerate intervals [ts, ts], one
  * union with the committed sessions, ONE shuffle on `user_id` (the
  * islands pass is two window functions over that partitioning: a
  * running `max(end_us)` over preceding rows flags session starts,
  * a running sum numbers them) and the per-(user, island) aggregate
  * reuses the same partitioning (`user_id` ⊆ grouping keys — no
  * second exchange). Event mass is carried in integer micro-units
  * (`round(value·1e6)` per event, summed as longs — [[M4Stream]]'s
  * exact-mass discipline), so the merge is bit-deterministic for any
  * slicing: no float sum order to coordinate across batches.
  *
  * State bound and WRITE sizing: ≤ one row per (user, session) —
  * per-entity state like [[CohortStream]]'s pairs, linear in users ×
  * behavioral sessions, NOT in events (the whole point: a year of
  * events folds into the user's session count). The rewrite is
  * hash-partitioned on `user_id` into ⌈rows / targetRowsPerFile⌉
  * files sized from the COMMITTED total (the [[CohortStream]] /
  * [[FunnelStream]] discipline — no extra action, no single-task
  * funnel). Replay discipline (family contract): replay of the
  * high-water batch skips, stale throws — the additive n/mass
  * counters make redelivery guards load-bearing here, exactly as in
  * [[M4Stream]]. Null guard: rows with null `user_id` or `ts_us`
  * drop before the merge (the meta row discriminates on
  * user_id-is-null).
  */
object SessionStream {

  /** State rows: one META row (`user_id` null — session-row total,
    * high-water batch id, the µs gap) plus one row per live session.
    */
  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("start_us", LongType),
    StructField("end_us", LongType), StructField("n_events", LongType),
    StructField("mass_micro", LongType),
    StructField("total", LongType), StructField("batch_id", LongType),
    StructField("gap_us", LongType)))

  private val store = new GenStore.Folded("session", stateSchema, 5,
      Some("user_id"))(m => (m.getLong(5), m.getLong(6), m.getLong(7)))

  /** The committed meta under `stateDir`: (sessionRows, high-water
    * batch_id, gap_us); `None` = fresh stream.
    */
  def readMeta(spark: SparkSession, stateDir: String)
      : Option[(Long, Long, Long)] = store.meta(spark, stateDir)

  /** The committed session intervals; empty for a fresh dir. */
  def intervals(spark: SparkSession, stateDir: String): DataFrame =
    store.rows(spark, stateDir)

  /** Islands pass over a table of weighted intervals: merge intervals
    * of the same user whose gap to the running covered frontier is
    * < `gapUs`. One shuffle (the `user_id` window partitioning); the
    * grouped aggregate reuses it. Deterministic under ties: rows tied
    * on (start_us, end_us) are interchangeable for min/max/sum, and a
    * zero gap always merges them.
    */
  private def islands(rows: DataFrame, gapUs: Long): DataFrame = {
    val order = Window.partitionBy("user_id")
      .orderBy("start_us", "end_us")
    val prevEnd = order.rowsBetween(Window.unboundedPreceding, -1)
    val sofar = order.rowsBetween(Window.unboundedPreceding, 0)
    rows
      .withColumn("prev_end", max("end_us").over(prevEnd))
      .withColumn("new_s",
        when(col("prev_end").isNull ||
          col("start_us") - col("prev_end") >= gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(sofar))
      .groupBy("user_id", "sid")
      .agg(min("start_us").as("start_us"), max("end_us").as("end_us"),
        sum("n_events").as("n_events"), sum("mass_micro").as("mass_micro"))
      .drop("sid")
  }

  /** One foreachBatch handler over batches carrying (`user_id`,
    * `ts_us`, `value`). `onBatch(batchId, sessionRows)` fires after
    * the commit (or replay skip).
    */
  def pipeline(stateDir: String, gapUs: Long,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      targetRowsPerFile: Long = 4000000L)
      : (DataFrame, Long) => Unit = {
    require(gapUs > 0, s"session gap must be positive µs, got $gapUs")
    require(targetRowsPerFile > 0,
      s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val total = store.step(spark, stateDir, batchId)(
        check = { case (_, _, pg) =>
          if (pg != gapUs) throw new IllegalStateException(
            s"session state at $stateDir is merged at gap=$pg µs; this " +
              s"pipeline runs gap=$gapUs — sessions built at different " +
              "gaps cannot merge, refusing")
        },
        replay = _._1) { (prior, gen) =>
        val bRows = batch
          .where(col("user_id").isNotNull && col("ts_us").isNotNull)
          .select(col("user_id").cast("long").as("user_id"),
            col("ts_us").cast("long").as("start_us"),
            col("ts_us").cast("long").as("end_us"),
            lit(1L).as("n_events"),
            coalesce(round(col("value") * lit(1000000L), 0).cast("long"),
              lit(0L)).as("mass_micro"))
        val nFiles = math.max(1L, (prior.map(_._1).getOrElse(0L) +
          targetRowsPerFile - 1) / targetRowsPerFile).toInt
        gen.write(islands(intervals(spark, stateDir).unionByName(bRows),
          gapUs))(_.repartition(nFiles, col("user_id")))
        val total = gen.written
        gen.appendMeta(total, batchId, gapUs)
        total
      }
      onBatch(batchId, total)
    }
  }

  /** The live session table — q_adv4's exact output shape with the
    * value mass in integer micro-units: (user_id, session_start_us,
    * n_events, mass_micro), plus the session end for duration reads.
    * A straight projection of the committed state — zero recompute.
    */
  def sessions(spark: SparkSession, stateDir: String,
      gapUs: Long): DataFrame = {
    readMeta(spark, stateDir).foreach { case (_, _, pg) =>
      if (pg != gapUs) throw new IllegalStateException(
        s"session state at $stateDir is merged at gap=$pg µs, read asked " +
          s"gap=$gapUs")
    }
    intervals(spark, stateDir)
      .select(col("user_id"), col("start_us").as("session_start_us"),
        col("end_us").as("session_end_us"), col("n_events"),
        col("mass_micro"))
      .orderBy("user_id", "session_start_us")
  }

  /** Third read off the same state: the live capacity-planning curve —
    * q_adv12's exact shape (peak concurrent sessions per hour-bucket)
    * computed by the same two-level sweep line over the COMMITTED
    * session intervals: change-point deltas (+1 at start, −1 just
    * after end), within-bucket running sums partitioned by bucket,
    * bucket offsets cumulated in one window over ≤ buckets rows and
    * broadcast back. Work is O(sessions), never O(events) — the hull
    * state is exactly the information the sweep line needs.
    */
  def concurrency(spark: SparkSession, stateDir: String, gapUs: Long,
      bucketUs: Long = 3600000000L): DataFrame = {
    require(bucketUs > 0, s"bucket must be positive µs, got $bucketUs")
    readMeta(spark, stateDir).foreach { case (_, _, pg) =>
      if (pg != gapUs) throw new IllegalStateException(
        s"session state at $stateDir is merged at gap=$pg µs, read asked " +
          s"gap=$gapUs")
    }
    val sess = intervals(spark, stateDir)
    val deltas = sess.select(col("start_us").as("ts"), lit(1L).as("d"))
      .unionAll(sess.select((col("end_us") + 1).as("ts"), lit(-1L).as("d")))
    val byTs = deltas.groupBy("ts").agg(sum("d").as("d"))
      .withColumn("hour", expr(s"ts div $bucketUs"))
    val hourOffsets = byTs.groupBy("hour").agg(sum("d").as("hd"))
      .withColumn("offset",
        coalesce(sum("hd").over(Window.orderBy("hour")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("hour", "offset")
    val within = byTs.withColumn("run",
      sum("d").over(Window.partitionBy("hour").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)))
    within.join(broadcast(hourOffsets), "hour")
      .groupBy("hour")
      .agg(max(col("offset") + col("run")).as("max_concurrent"))
      .orderBy("hour")
  }

  /** Second read off the same state: per-user behavioral summary —
    * session count, total events, longest session (µs), and the mean
    * inter-session idle gap in µs (integer HALF_UP over the n−1 gaps;
    * null for single-session users). One `user_id` aggregate over
    * ≤ sessions rows; the corpus is never touched.
    */
  def userStats(spark: SparkSession, stateDir: String,
      gapUs: Long): DataFrame = {
    readMeta(spark, stateDir).foreach { case (_, _, pg) =>
      if (pg != gapUs) throw new IllegalStateException(
        s"session state at $stateDir is merged at gap=$pg µs, read asked " +
          s"gap=$gapUs")
    }
    intervals(spark, stateDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max(col("end_us") - col("start_us")).as("max_duration_us"),
        // Sum of idle gaps telescopes: (max start − min end adjusted)
        // needs the per-session neighbors, so fold it exactly:
        // Σ gaps = Σ starts − Σ ends + (last end − first start)
        //        − (max end − min start)  — simpler: collect the two
        // boundary sums and derive. gaps = sorted starts(2..n) −
        // sorted ends(1..n−1); with non-overlapping sessions the sums
        // telescope to (Σ starts − min start) − (Σ ends − max end).
        (sum("start_us") - min("start_us") -
          (sum("end_us") - max("end_us"))).as("idle_total_us"))
      .withColumn("mean_idle_us",
        when(col("n_sessions") > 1,
          expr("(idle_total_us * 2 + (n_sessions - 1)) div " +
            "((n_sessions - 1) * 2)"))
          .otherwise(lit(null).cast("long")))
      .drop("idle_total_us")
      .orderBy("user_id")
  }
}
