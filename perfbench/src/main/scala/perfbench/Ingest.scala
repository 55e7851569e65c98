package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Compaction
import graft.schema.Schemas
import graft.streaming.SensorPipeline

/** The paper's Kappa path: landed wire frames → parse (dead letters
  * split off) → IoT rule → fan-out to the hourly `index` leg (dedup +
  * hour-partitioned sink) and the `archive` leg (buffered files + the
  * 100-file compactor), both draining the backlog under AvailableNow,
  * one 1,000-frame file per trigger.
  */
object Ingest {
  val FramesPerFile = 1000

  /** Per-batch progress of the two legs (Spark emits it untraced). */
  final class Progress extends StreamingQueryListener {
    val batches = ArrayBuffer.empty[JsonNode]
    val rows = ArrayBuffer.empty[(String, Long, Long, Long, Long)] // leg, batch, rows, start µs, ms
    var stateRows = 0L; var stateBytes = 0L; var lateDropped = 0L
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      batches += Json.obj.put("leg", p.name).put("batch", p.batchId)
        .put("rows", p.numInputRows).put("start_us", startUs)
        .put("trigger_ms", d("triggerExecution"))
        .put("source_ms", d("latestOffset") + d("getBatch"))
        .put("planning_ms", d("queryPlanning")).put("add_batch_ms", d("addBatch"))
        .put("commit_ms", d("walCommit") + d("commitOffsets"))
      rows += ((p.name, p.batchId, p.numInputRows, startUs, d("triggerExecution")))
      p.stateOperators.headOption.foreach { s =>
        stateRows = s.numRowsTotal; stateBytes = s.memoryUsedBytes
        lateDropped += s.numRowsDroppedByWatermark
      }
    }
  }

  /** Compaction calls as seen from the benchmark's own wrapper. */
  final class CompactionLog {
    val calls = ArrayBuffer.empty[JsonNode]
    var lastWritten = 1L
  }

  final case class Dirs(root: String) {
    val wire = s"$root/wire"; val sink = s"$root/sink"; val logs = s"$root/archive/logs"
    val compacted = s"$root/archive/compacted"; val ckIndex = s"$root/ck/index"
    val ckArchive = s"$root/ck/archive"
  }

  private def jsonFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq

  private def compactedDirs(dir: String): Set[String] =
    if (!Files.exists(Paths.get(dir))) Set.empty
    else Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  /** Run both legs to completion over the landed backlog. Returns the
    * wall time in seconds.
    */
  def pipeline(spark: SparkSession, d: Dirs, trace: Boolean, log: CompactionLog,
      spans: Spans): Double = {
    val wire = SensorPipeline.wireStream(spark, SensorPipeline.FileWire(d.wire, Some(1)))
    val (parsed, _) = SensorPipeline.parseWireOrDeadLetter(wire)
    val ruled = SensorPipeline.ruleSelect(parsed)
    val state = new Compaction.CounterState
    val archiveBatch = (batch: DataFrame, id: Long) => {
      val before = if (trace) jsonFiles(d.logs).size else 0
      val dirs0 = if (trace) compactedDirs(d.compacted) else Set.empty[String]
      val s0 = Clock.nowUs; val t0 = System.nanoTime()
      Compaction.streamingCompactorBatch(state, d.logs, d.compacted, Schemas.sensor)(batch, id)
      val ms = (System.nanoTime() - t0) / 1e6
      if (trace) {
        val after = jsonFiles(d.logs).size
        val fresh = compactedDirs(d.compacted) -- dirs0
        val fired = fresh.nonEmpty
        if (!fired) log.lastWritten = math.max(0, after - before).toLong
        val (outBytes, outFiles) = fresh.toSeq.map(f => Fs.usage(Paths.get(d.compacted, f),
          p => p.getFileName.toString.startsWith("part-"))).foldLeft((0L, 0L)) {
          case ((b, n), (b2, n2)) => (b + b2, n + n2) }
        log.calls += Json.obj.put("batch", id).put("ms", ms).put("fired", fired)
          .put("files_in", if (fired) before + log.lastWritten else 0L)
          .put("files_out", outFiles).put("rewrite_bytes", outBytes)
        spans.add(Span(spans.nextId(), 0L, s"compaction call batch $id", s0, Clock.nowUs,
          Map("leg" -> "archive", "batch" -> id.toString, "fired" -> fired.toString)))
      }
    }
    val t0 = System.nanoTime()
    val (index, archive) = SensorPipeline.fanOut(ruled,
      s => SensorPipeline.hourlyPartitionedWriter(
        SensorPipeline.dedupStream(s, DataGen.Wire.Watermark), d.sink, d.ckIndex)
        .queryName("index"),
      s => s.writeStream.queryName("archive").foreachBatch(archiveBatch)
        .option("checkpointLocation", d.ckArchive)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    index.awaitTermination(); archive.awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  /** (bytes, rows) of the compacted archive. */
  private def compactedUsage(spark: SparkSession, d: Dirs): (Long, Long) = {
    val dirs = compactedDirs(d.compacted).toSeq.map(c => s"${d.compacted}/$c")
    if (dirs.isEmpty) (0L, 0L)
    else (dirs.map(p => Fs.usage(Paths.get(p))._1).sum,
      spark.read.schema(Schemas.sensor).json(dirs: _*).count())
  }

  /** Compare the pipeline's outputs with the generator's truth; returns
    * the problems found and the dead-letter count.
    */
  def check(spark: SparkSession, d: Dirs, truth: DataGen.Wire.Truth, staged: Long)
      : (Seq[String], Long) = {
    val problems = ArrayBuffer.empty[String]
    val sinkSchema = StructType(Schemas.sensor.fields :+ StructField("hour", StringType))
    val sink = spark.read.schema(sinkSchema).parquet(d.sink)
    val keys = sink.select("client_id", "count").collect().map(r => (r.getString(0), r.getLong(1)))
    if (keys.length != keys.distinct.length) problems += s"index: ${keys.length - keys.distinct.length} duplicate keys"
    if (keys.toSet != truth.onTimeKeys)
      problems += s"index: key set differs (${keys.toSet.size} vs ${truth.onTimeKeys.size} on-time keys)"
    val hourly = sink.groupBy("hour", "client_id")
      .agg(count(lit(1)).as("n"), sum("temperature").as("t")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val hourlyOk = hourly.keySet == truth.hourly.keySet && hourly.forall { case (k, (n, t)) =>
      val (tn, tt) = truth.hourly(k); n == tn && math.abs(t - tt) < 1e-6 * math.max(1.0, math.abs(tt))
    }
    if (!hourlyOk) problems += "index: hourly aggregates differ"
    val archivePaths = jsonFiles(d.logs).map(_.toString) ++
      compactedDirs(d.compacted).toSeq.map(c => s"${d.compacted}/$c")
    val archived = if (archivePaths.isEmpty) 0L
      else spark.read.schema(Schemas.sensor).json(archivePaths: _*).count()
    if (archived != staged + truth.validFrames)
      problems += s"archive: $archived rows, expected ${staged + truth.validFrames}"
    val dead = SensorPipeline.parseWireOrDeadLetter(spark.read.text(d.wire))._2.count()
    if (dead != truth.malformed) problems += s"dead letters: $dead, expected ${truth.malformed}"
    (problems.toSeq, dead)
  }

  def run(spark: SparkSession, kv: Map[String, String], out: ObjectNode): Unit = {
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val trace = kv("trace") == "1"
    val scratch = kv("scratch")
    val files = math.max(8, seconds)
    // The archive resumes with buffered files left since its last
    // compaction, so the 100-file compactor fires about halfway through.
    val stagedFiles = Compaction.DefaultThreshold - (files + 1) / 2
    val d = Dirs(s"$scratch/ingest")
    val truth = DataGen.Wire.write(d.wire, seed, files, FramesPerFile)
    val staged = DataGen.Wire.stageArchive(d.logs, seed, stagedFiles, FramesPerFile)
    val tw = System.nanoTime()
    // Warm the parse and rule path on one landed file, as a batch.
    val (wp, wd) = SensorPipeline.parseWireOrDeadLetter(spark.read.text(s"${d.wire}/frames-00000.json"))
    SensorPipeline.ruleSelect(wp).write.format("noop").mode("overwrite").save()
    wd.write.format("noop").mode("overwrite").save()
    out.set[ObjectNode]("setup", Json.obj.put("warmup_ms", (System.nanoTime() - tw) / 1e6))
    val progress = new Progress
    spark.streams.addListener(progress)
    val spans = new Spans
    val ledger = if (trace) Some(new OpLedger(spans)) else None
    ledger.foreach(l => spark.sparkContext.addSparkListener(l))
    val heap = new HeapWatch
    val log = new CompactionLog
    val firstOpMs = System.currentTimeMillis()
    val wall = pipeline(spark, d, trace, log, spans)
    val gcS = heap.gcSeconds
    val liveMb = heap.liveMbAfterFullGc()
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.streams.removeListener(progress)
    val (problems, dead) = check(spark, d, truth, staged)
    problems.foreach(p => System.err.println(s"[perfbench] ingest check failed: $p"))
    val (sinkBytes, sinkFiles) = Fs.usage(Paths.get(d.sink),
      p => p.getFileName.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
    // Bytes the run's frames left behind: sink, checkpoints, buffered
    // archive files, and the frames' row share of the compacted output
    // (the staged files it also folded in are not this run's writes).
    val (compactedBytes, compactedRows) = compactedUsage(spark, d)
    val runShare = if (compactedRows == 0) 0.0
      else math.max(0L, compactedRows - staged).toDouble / compactedRows
    val written = Fs.usage(Paths.get(d.sink))._1 + Fs.usage(Paths.get(s"${d.root}/ck"))._1 +
      jsonFiles(d.logs).filterNot(_.getFileName.toString.startsWith("part-staged"))
        .map(Files.size(_)).sum + compactedBytes * runShare
    out.put("first_op_ms", firstOpMs).put("timed_s", wall)
      .put("live_heap_mb", liveMb).put("gc_s", gcS)
      .put("correct", problems.isEmpty)
      .set[ObjectNode]("problems", Json.arr(problems.map(TextNode.valueOf)))
      .put("frames", truth.frames).put("valid_frames", truth.validFrames)
      .put("malformed", truth.malformed).put("dead_letters", dead)
      .put("redelivered", truth.redelivered)
      .put("late", truth.late).put("wire_bytes", truth.wireBytes)
      .put("written_bytes", written).put("sink_bytes", sinkBytes)
      .put("sink_files", sinkFiles + jsonFiles(d.logs).size)
      .put("checkpoint_bytes", Fs.usage(Paths.get(d.ckIndex))._1)
      .put("state_rows", progress.stateRows).put("state_bytes", progress.stateBytes)
      .put("late_dropped", progress.lateDropped)
      .set[ObjectNode]("batches", Json.arr(progress.batches))
    if (trace) {
      out.set[ObjectNode]("compaction", Json.arr(log.calls))
      // Micro-batch spans from progress events; each compaction call is
      // parented to its archive batch.
      val batchSpan = progress.rows.map { case (leg, id, _, _, _) =>
        (leg, id) -> spans.nextId()
      }.toMap
      progress.rows.foreach { case (leg, id, n, startUs, ms) =>
        spans.add(Span(batchSpan((leg, id)), 0L, s"micro-batch $leg $id", startUs,
          startUs + ms * 1000L, Map("rows" -> n.toString)))
      }
      val reparented = spans.all.map { s =>
        if (s.name.startsWith("compaction call"))
          s.copy(parent = batchSpan.getOrElse(("archive", s.attrs("batch").toLong), 0L))
        else s
      }
      val fixed = new Spans; reparented.foreach(fixed.add)
      Workloads.writeSpans(kv("spans"), fixed)
    }
  }

  /** Truth must not depend on where batch boundaries fall: land the
    * same frames as 1,000-frame and as 500-frame files and check both
    * runs against the one truth.
    */
  def selfTest(spark: SparkSession, kv: Map[String, String], out: ObjectNode): Unit = {
    val seed = kv("seed").toLong
    val results = Seq((10, 1000), (20, 500)).map { case (files, per) =>
      val d = Dirs(s"${kv("scratch")}/selftest-$per")
      val truth = DataGen.Wire.write(d.wire, seed, files, per)
      val staged = DataGen.Wire.stageArchive(d.logs, seed, 95, per)
      pipeline(spark, d, trace = false, new CompactionLog, new Spans)
      val (problems, _) = check(spark, d, truth, staged)
      Json.obj.put("frames_per_file", per).put("late", truth.late)
        .put("malformed", truth.malformed).put("redelivered", truth.redelivered)
        .put("keys", truth.onTimeKeys.size)
        .set[ObjectNode]("problems", Json.arr(problems.map(TextNode.valueOf)))
    }
    out.set[ObjectNode]("selftest", Json.arr(results))
  }
}
