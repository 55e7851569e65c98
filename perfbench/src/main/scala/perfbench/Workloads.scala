package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.SparkEntry

/** The two query workloads (analyst, curation), the digest pinning pass
  * and the timed-call canary.
  */
object Workloads {
  type Builder = (SparkSession, String) => DataFrame

  private val GraphQueries =
    Set("q_adv7_pagerank", "q_adv7b_pagerank_weighted", "q_adv8_triangles")

  def familyOf(name: String): String =
    if (GraphQueries(name)) "graph"
    else if (Seq("q_agg", "q_exp", "q_src4_", "q_cmp").exists(name.startsWith)) "agg"
    else if (name.startsWith("q_rel") || name.startsWith("q_src_")) "rel"
    else name.stripPrefix("q_").takeWhile(_.isLetter)

  /** Pinned per-query result digests for the benchmark dataset. */
  def readPinned(path: String): Map[String, String] =
    Json.mapper.readTree(new java.io.File(path)).get("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.get("digest").asText).toMap

  /** Each workload's fixed query mix, sized so one round takes 15-25 s
    * in a fresh JVM on a 4-core host. Every round starts with a cold pass,
    * each query once in a fixed order: in a fresh JVM a query's first run
    * pays JIT and code generation that depend on what ran before it, so
    * a seeded cold order would move latencies by up to 3x between seeds.
    * The seed orders the repeats that follow.
    */
  val AnalystCold: Seq[String] = Seq( // dashboard panels and one-off reports
    "q_agg1_hourly_avg", "q_rel33_snapshot_diff", "q_agg4_hourly_counts",
    "q_src4_rule_filter", "q_rel31_profile", "q_agg8_dd_quantile_by_type",
    "q_adv6_range_join", "q_adv5b_asof_tolerance", "q_rel10h_kmv_set_algebra",
    "q_adv14b_salted_join", "q_dd2_dedup_latest")
  /** Panel refreshes: the k-th most popular panel repeats ceil(6/k) - 1 times. */
  val AnalystPanels: Seq[String] = Seq("q_agg1_hourly_avg", "q_agg4_hourly_counts")
  val CurationCold: Seq[String] = Seq( // one query per curation family
    "q_txt17_bpe_merges", "q_sim3_ivf", "q_mm7_image_resize", "q_dd5_minhash_lsh",
    "q_ml10_token_chunks", "q_adv8_triangles")
  /** Curation queries that repeat after the cold pass (artifact reuse). */
  val CurationRepeats: Seq[String] = Seq("q_sim3_ivf")

  /** One round of (query, is-repeat) for the workload at this seed. */
  def round(workload: String, seed: Long): Seq[(String, Boolean)] = {
    val r = new scala.util.Random(seed)
    val (cold, repeats) = workload match {
      case "analyst" => (AnalystCold, AnalystPanels.zipWithIndex.flatMap { case (n, k) =>
        Seq.fill((6 + k) / (k + 1) - 1)(n) })
      case "curation" => (CurationCold, CurationRepeats)
    }
    cold.map(n => (n, false)) ++ r.shuffle(repeats).map(n => (n, true))
  }

  /** One generic query over the generated tables (scan/filter, shuffle
    * join + aggregate, window) so the first timed op does not pay all of
    * the JIT for Spark's core paths, without warming any library query.
    */
  def warmup(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    o.join(li, o("o_orderkey") === li("l_orderkey")).where("l_discount > 0.05")
      .groupBy("o_orderpriority", "l_returnflag").agg(
        org.apache.spark.sql.functions.sum("l_extendedprice").as("v"))
      .selectExpr("*", "rank() OVER (PARTITION BY o_orderpriority ORDER BY v DESC) AS r")
      .write.format("noop").mode("overwrite").save()
  }

  final class OpRec(val idx: Int, val name: String, val repeat: Boolean) {
    var buildNs = 0L; var execNs = 0L; var ok = false; var correct = false
    var digest = ""; var error = ""
    var memoHits = 0L; var memoMisses = 0L; var memoEvictions = 0L; var persisted = 0
    def toJson: ObjectNode = Json.obj.put("i", idx).put("name", name)
      .put("family", familyOf(name)).put("repeat", repeat)
      .put("build_ms", buildNs / 1e6).put("exec_ms", execNs / 1e6)
      .put("ok", ok).put("correct", correct).put("digest", digest).put("error", error)
      .put("memo_hits", memoHits).put("memo_misses", memoMisses)
      .put("memo_evictions", memoEvictions).put("persisted_rdds", persisted)
  }

  private def memoTotals: (Long, Long, Long) = {
    val s = graft.operators.Similarity.memoStats
    val ev = s.get("art:evicted").map(_._2).getOrElse(0L)
    (s.values.map(_._1).sum, s.values.map(_._2).sum - ev, ev)
  }

  /** Build the frame, then materialize every row and column of it with a
    * `noop` write; the digest rides on the same execution.
    */
  def timedOp(spark: SparkSession, dir: String, rec: OpRec, fn: Builder,
      ledger: Option[OpLedger], spans: Spans): Unit = {
    val sc = spark.sparkContext
    val grp = s"op-${rec.idx}"
    val (opSpan, buildSpan, callSpan) = (spans.nextId(), spans.nextId(), spans.nextId())
    ledger.foreach { l => sc.setJobGroup(grp, rec.name); l.bindSpans(grp, buildSpan, callSpan) }
    val m0 = if (ledger.isDefined) memoTotals else (0L, 0L, 0L)
    val t0 = System.nanoTime()
    val buildStart = Clock.nowUs
    ledger.foreach(_.buildStarted(grp, buildStart))
    try {
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      val execStart = Clock.nowUs
      ledger.foreach(_.callStarted(grp, execStart))
      val obs = Observation(s"digest_${rec.idx}")
      Digest.observed(df, obs).write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      rec.buildNs = t1 - t0; rec.execNs = t2 - t1; rec.ok = true
      rec.digest = Digest.render(obs)
      if (ledger.isDefined) {
        spans.add(Span(buildSpan, opSpan, "build", buildStart, execStart))
        spans.add(Span(callSpan, opSpan, "execute", execStart, Clock.nowUs))
      }
    } catch {
      case e: Throwable =>
        rec.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        rec.execNs = System.nanoTime() - t0
    } finally {
      ledger.foreach { _ => sc.clearJobGroup() }
    }
    graft.util.ScratchCheckpoints.drain()
    ledger.foreach { _ =>
      val m1 = memoTotals
      rec.memoHits = m1._1 - m0._1; rec.memoMisses = m1._2 - m0._2
      rec.memoEvictions = m1._3 - m0._3
      rec.persisted = sc.getPersistentRDDs.size
      spans.add(Span(opSpan, 0L, s"op ${rec.name}", buildStart, Clock.nowUs,
        Map("repeat" -> rec.repeat.toString)))
    }
  }

  def run(spark: SparkSession, kv: Map[String, String], out: ObjectNode): Unit = {
    val workload = kv("workload")
    if (workload == "ingest") return Ingest.run(spark, kv, out)
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val trace = kv("trace") == "1"
    val dir = kv("tables")
    val pinned = readPinned(kv("digests"))
    val tw = System.nanoTime()
    warmup(spark, dir)
    out.set[ObjectNode]("setup", Json.obj.put("warmup_ms", (System.nanoTime() - tw) / 1e6))

    val spans = new Spans
    val ledger = if (trace) Some(new OpLedger(spans)) else None
    ledger.foreach { l =>
      spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l)
    }
    val heap = new HeapWatch
    val queries = SparkEntry.queries
    val recs = ArrayBuffer.empty[OpRec]
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // The run repeats the mix seconds/10 times (a fixed count: every run
    // of a given length does the same work).
    for (rep <- 0 until math.max(1, seconds / 10); (name, repeat) <- round(workload, seed + rep)) {
      val rec = new OpRec(recs.size, name, repeat || rep > 0)
      queries.get(name) match {
        case Some(fn) => timedOp(spark, dir, rec, fn, ledger, spans)
        case None => rec.error = "query not in SparkEntry.queries"
      }
      rec.correct = rec.ok && pinned.get(name).contains(rec.digest)
      if (rec.ok && !rec.correct)
        System.err.println(s"[perfbench] digest mismatch ${rec.name}: ${rec.digest}")
      recs += rec
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    out.put("first_op_ms", firstOpMs).put("timed_s", timedS).put("gc_s", heap.gcSeconds)
      .put("live_heap_mb", heap.liveMbAfterFullGc())
      .put("artifact_bytes", Fs.usage(Paths.get(System.getProperty("java.io.tmpdir")),
        _.toString.contains("graft_artifacts_"))._1)
      .set[ObjectNode]("ops", Json.arr(recs.map(_.toJson)))
    ledger.foreach { l =>
      org.apache.spark.ListenerDrain(spark.sparkContext)
      out.set[ObjectNode]("op_stats", Json.arr(recs.map { r =>
        val s = l.stats(s"op-${r.idx}")
        Json.obj.put("i", r.idx).put("jobs", s.jobs.sum).put("build_jobs", s.buildJobs.sum)
          .put("stages", s.stages.sum).put("tasks", s.tasks.sum).put("run_ms", s.runNs.sum / 1e6)
          .put("shuffle_read", s.shuffleRead.sum).put("shuffle_write", s.shuffleWrite.sum)
          .put("spill", s.spill.sum).put("analysis_ms", s.analysisMs.sum)
          .put("optimize_ms", s.optimizeMs.sum).put("plan_ms", s.planMs.sum)
      }))
      writeSpans(kv("spans"), spans)
    }
    val bad = recs.count(r => !r.correct)
    if (bad > 0) System.err.println(s"[perfbench] $bad of ${recs.size} ops failed or mismatched")
  }

  def writeSpans(path: String, spans: Spans): Unit = {
    val body = spans.all.sortBy(s => (s.startUs, s.id)).map { s =>
      val attrs = Json.obj
      s.attrs.foreach { case (k, v) => attrs.put(k, v) }
      Json.mapper.writeValueAsString(Json.obj.put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("start_us", s.startUs).put("end_us", s.endUs)
        .set[ObjectNode]("attrs", attrs))
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }

  /** Run every query of the three query workloads once on the benchmark
    * dataset and record its digest and cold cost.
    */
  def pin(spark: SparkSession, kv: Map[String, String], out: ObjectNode): Unit = {
    val dir = s"${kv("scratch")}/data"
    DataGen.Tables.write(spark, dir, DataGen.Tables.Sf, DataGen.Tables.Seed)
    warmup(spark, dir)
    val recs = SparkEntry.queries.toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((name, fn), i) =>
        val rec = new OpRec(i, name, false)
        timedOp(spark, dir, rec, fn, None, new Spans)
        if (!rec.ok) System.err.println(s"[perfbench] ${rec.name} failed: ${rec.error}")
        rec
      }
    out.put("sf", DataGen.Tables.Sf).put("data_seed", DataGen.Tables.Seed)
      .set[ObjectNode]("ops", Json.arr(recs.map(_.toJson)))
  }

  /** The timed call must pay for every output column: for each canary,
    * time `count()` (which Catalyst may prune to almost nothing) against
    * the benchmark's timed call on a fresh build of the same query.
    */
  def canary(spark: SparkSession, kv: Map[String, String], out: ObjectNode): Unit = {
    val pinned = readPinned(kv("digests"))
    val dir = kv("tables")
    warmup(spark, dir)
    val rows = kv("queries").split(',').toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      val tc = System.nanoTime(); fn(spark, dir).count()
      val countMs = (System.nanoTime() - tc) / 1e6
      graft.util.ScratchCheckpoints.drain()
      val rec = new OpRec(0, name, false)
      timedOp(spark, dir, rec, fn, None, new Spans)
      Json.obj.put("name", name).put("count_ms", countMs)
        .put("timed_ms", (rec.buildNs + rec.execNs) / 1e6)
        .put("correct", rec.ok && pinned.get(name).contains(rec.digest))
    }
    out.set[ObjectNode]("canary", Json.arr(rows))
  }
}
