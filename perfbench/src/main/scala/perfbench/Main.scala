package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JVM side of the benchmark: one workload, one seed, one run.
  *
  * Usage (normally through `run.py`):
  * {{{
  * perfbench.Main <mode> key=value...
  *   mode      gen | run | pin | canary | ingest-selftest
  *   workload  ingest | analyst | curation
  *   seed, seconds, trace (0|1), scratch (dir), out (result file),
  *   tables (generated dataset), digests (pinned.json)
  * }}}
  * The result file is one JSON object of raw samples; `run.py` turns it
  * into metrics.
  */
object Main {
  val launchMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val kv = argv.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val scratch = kv("scratch")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val out = Json.obj
    out.put("launch_ms", launchMs).put("session_ready_ms", sessionMs).put("cores", cores)
    try mode match {
      case "gen" =>
        val t = System.nanoTime()
        DataGen.Tables.write(spark, kv("tables"), DataGen.Tables.Sf, DataGen.Tables.Seed)
        out.put("gen_ms", (System.nanoTime() - t) / 1e6)
      case "run" => Workloads.run(spark, kv, out)
      case "pin" => Workloads.pin(spark, kv, out)
      case "canary" => Workloads.canary(spark, kv, out)
      case "ingest-selftest" => Ingest.selfTest(spark, kv, out)
    } finally {
      Files.write(Paths.get(kv("out")), Json.mapper.writeValueAsBytes(out))
      spark.stop()
    }
  }
}

/** Result-file JSON: Jackson trees. */
object Json {
  val mapper = new ObjectMapper()
  def obj: ObjectNode = mapper.createObjectNode()
  def arr(nodes: Iterable[JsonNode]): ArrayNode = mapper.createArrayNode().addAll(nodes.asJavaCollection)
}

/** GC time since construction, and the heap a run keeps: occupancy
  * right after full collections at its end. A collection that happens to
  * fall inside an op would also count that op's garbage, which moves the
  * figure by up to 25 % between runs.
  */
final class HeapWatch {
  private val t0 = gcMs
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  def gcSeconds: Double = (gcMs - t0) / 1e3

  /** Spark's ContextCleaner drops broadcast and shuffle blocks only after
    * a collection has found their handles unreachable, so one collection
    * leaves 5-70 MB that the next would free: collect until occupancy
    * stops falling (at most five times).
    */
  def liveMbAfterFullGc(): Double = {
    def collect(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (last, cur, n) = (Double.MaxValue, collect(), 1)
    while (n < 5 && cur < last - 1.0) {
      Thread.sleep(500)
      last = cur; cur = collect(); n += 1
    }
    cur
  }
}

/** Order-insensitive digest of a result, computed inside the timed call
  * itself (`Dataset.observe`), so checking it costs no extra execution.
  */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val names = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(names: _*)
    val cols = df.schema.fields.zip(names).map { case (f, n) =>
      if (hasMap(f.dataType)) to_json(col(n)) else col(n)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    renamed.observe(obs, count(lit(1)).as("n"),
      sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x"))
  }

  def render(obs: Observation): String = {
    val m = obs.get
    Seq("n", "s", "x").map(k => String.valueOf(m.getOrElse(k, null))).mkString(":")
  }
}
