package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Udx

class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("registerTables: spark.sql runs over the registered views and UDx functions") {
    Engine.registerTables(spark, "/root/testdata/sf0.001")
    val n = spark.sql("SELECT count(*) FROM lineitem").head().getLong(0)
    assert(n == 6000L)
    val dp = spark.sql("SELECT round(dew_point_c(30.0, 70.0), 1) AS dp").head().getDouble(0)
    assert(dp > 23.0 && dp < 25.5) // ~24.1 °C by Magnus formula
    val mv = spark.sql(
      "SELECT welford_mean_var(value) AS mv FROM events").head().getStruct(0)
    assert(mv.getAs[Long]("n") == 1000L)
    val d = spark.sql(
      "SELECT float_vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(d == 11.0, "native expression callable from SQL")
  }

  test("EXP-5: flattenOrientation extracts map keys to scalar columns") {
    val df = Seq(("rpi", Map("pitch" -> 0.4, "roll" -> 1.2, "yaw" -> 270.0)))
      .toDF("client_id", "orientation")
    val flat = Engine.flattenOrientation(df)
    assert(flat.columns.toSeq == Seq("client_id", "pitch", "roll", "yaw"))
    val r = flat.head()
    assert(r.getDouble(1) == 0.4 && r.getDouble(2) == 1.2 && r.getDouble(3) == 270.0)
  }

  test("UDx-2: Welford aggregator matches built-in avg/variance") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 10.0)
    val ds = xs.toDS()
    val mv = ds.select(Udx.WelfordMeanVar.toColumn).head()
    val expectMean = xs.sum / xs.size
    assert(math.abs(mv.mean - expectMean) < 1e-12)
    val expectVar = xs.map(x => (x - expectMean) * (x - expectMean)).sum / (xs.size - 1)
    assert(math.abs(mv.variance - expectVar) < 1e-12)
  }

  test("entry points: the only mains are graft.Bench, graft.Verify and graft.tools.Explain") {
    // Measurement lives in perfbench (`run.py --trace 1`) and graft.Bench;
    // a new per-experiment main is the probe zoo growing back.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val allowed = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/Explain.scala")
    val mainDef = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val stream = Files.walk(root)
    val withMain = try stream.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => mainDef.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString)
      .toSet
    finally stream.close()
    val unexpected = (withMain -- allowed).toSeq.sorted
    assert(unexpected.isEmpty, "mains outside the three entry points")
  }

  test("Explain resolves query names before any session: unknown names get their candidates") {
    import graft.tools.Explain.unresolved
    val keys = Seq("q_agg1_hourly_avg", "q_agg10_ewma", "q_adv7", "q_adv7b")
    assert(unresolved(Seq("q_adv7", "q_adv7b"), keys).isEmpty)
    assert(unresolved(Seq("q_agg1"), keys) ==
      Seq("q_agg1" -> Seq("q_agg1_hourly_avg")))
    assert(unresolved(Seq("q_ag"), keys) ==
      Seq("q_ag" -> Seq("q_agg10_ewma", "q_agg1_hourly_avg")))
    assert(unresolved(Seq("nope"), keys) == Seq("nope" -> keys.sorted))
    // Against the real registry: a truncated name resolves to its key.
    assert(unresolved(Seq("q_agg1"), SparkEntry.queries.keys) ==
      Seq("q_agg1" -> Seq("q_agg1_hourly_avg")))
  }

  test("STR-7: maxFilesPerTrigger caps micro-batch intake") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-rate")
    (0 until 4).foreach(i =>
      Files.writeString(dir.resolve(s"f$i.json"), s"""{"id": $i}\n"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val stream = Engine.rateLimitedFileStream(spark, dir.toString, schema, maxFilesPerTrigger = 1)
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = stream.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += b.count(); () })
      .option("checkpointLocation", Files.createTempDirectory("graft-rate-cp").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(batchSizes.sum == 4L)
      assert(batchSizes.forall(_ == 1L), s"each micro-batch capped at 1 file: $batchSizes")
    } finally q.stop()
  }
}
