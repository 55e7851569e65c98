package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Single-threaded, seeded input generators.
  *
  * [[Tables]] writes the ten parquet tables the query builders read
  * (`<dir>/<table>.parquet`, one file each, the same schemas and value
  * domains as the project's test fixtures). [[Wire]] writes the ingest
  * backlog: JSON sensor frames in files of a fixed frame count, plus the
  * truth the pipeline's outputs are checked against.
  */
object DataGen {

  /** Query-table dataset. Row counts scale with `sf` as the fixtures do:
    * fact tables ×10 per decade, the two corpus tables floored at 500.
    */
  object Tables {
    private val Vocab = Array("join", "hash", "row", "batch", "scan", "column",
      "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
      "data", "table", "agg", "value", "key", "stream", "window", "a", "spark",
      "part", "group", "big", "sort", "query", "fast", "the")
    private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")
    private val Adjs = Array("blue", "hot", "small", "old", "red", "new", "cold", "large")
    private val Nouns = Array("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
    private val PTypes = Array("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
    private val Segments = Array("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
    private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    private val EventTypes = Array("click", "purchase", "error", "signup", "view")
    private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

    /** Scale and data seed of the benchmark dataset; `pinned.json` holds
      * the digests of every query on it.
      */
    val Sf = 0.001
    val Seed = 42L

    private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

    /** Write all ten tables under `dir`; returns the table names. */
    def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Seq[String] = {
      val n = (base: Double) => math.max(1, math.round(base * sf / 0.001).toInt)
      val nCust = n(150); val nSupp = n(10); val nPart = n(200)
      val nOrders = n(1500); val nEvents = n(1000); val nUsers = n(15)
      val nDocs = math.max(500, math.round(50000 * sf).toInt)
      val nVecs = math.max(500, math.round(20000 * sf).toInt)
      def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

      val region = (0 until 5).map(i => Row(i, Regions(i)))
      val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
      val customer = { val r = rng(1); (0 until nCust).map(i => Row(i.toLong,
        f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))) }
      val supplier = { val r = rng(2); (0 until nSupp).map(i => Row(i.toLong,
        f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))) }
      val part = { val r = rng(3); (0 until nPart).map(i => Row(i.toLong,
        Adjs(r.nextInt(Adjs.length)) + " " + Nouns(r.nextInt(Nouns.length)),
        s"Brand#${1 + r.nextInt(25)}", PTypes(r.nextInt(PTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)) }
      val day0 = LocalDate.of(1995, 1, 1).atStartOfDay()
      val orders = ArrayBuffer.empty[Row]
      val lineitem = ArrayBuffer.empty[Row]
      locally {
        val r = rng(4); val rl = rng(5)
        for (o <- 0 until nOrders) {
          val od = day0.plusDays(r.nextInt(2404).toLong)
          orders += Row(o.toLong, r.nextInt(nCust).toLong,
            Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000.0, 500000.0), od,
            Priorities(r.nextInt(Priorities.length)))
          for (ln <- 1 to 1 + rl.nextInt(7)) {
            val qty = (1 + rl.nextInt(50)).toDouble
            lineitem += Row(o.toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong,
              ln, qty, money(rl, 900.0, 105000.0), rl.nextInt(11) / 100.0,
              rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
              Seq("O", "F")(rl.nextInt(2)), od.plusDays(1L + rl.nextInt(121)))
          }
        }
      }
      val events = { val r = rng(6)
        val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
        val spanMicros = 30L * 24 * 3600 * 1000000L
        val step = spanMicros / nEvents
        (0 until nEvents).map { i =>
          val ts = t0.plusNanos((i * step + (r.nextDouble() * step).toLong) * 1000L)
          Row(i.toLong, ts, r.nextInt(nUsers).toLong, EventTypes(r.nextInt(EventTypes.length)),
            expValue(r), s"""{"k": ${r.nextInt(100)}}""")
        } }
      val documents = { val r = rng(7)
        val texts = ArrayBuffer.empty[String]
        (0 until nDocs).map { i =>
          val text =
            if (i >= 8 && r.nextInt(20) == 0) {
              // Near-duplicate of an earlier document, marked like the fixtures'.
              val src = texts(r.nextInt(texts.size)).split(' ')
              src.map(w => if (r.nextInt(25) == 0) Vocab(r.nextInt(Vocab.length)) else w)
                .mkString(" ") + " dup"
            } else Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
          texts += text
          Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
            text.length.toLong)
        } }
      val embeddings = { val r = rng(8)
        val vecs = ArrayBuffer.empty[Array[Double]]
        (0 until nVecs).map { i =>
          val raw =
            if (i >= 8 && r.nextInt(25) == 0)
              vecs(r.nextInt(vecs.size)).map(_ + gaussian(r) * 0.01)
            else Array.fill(64)(gaussian(r))
          val norm = math.sqrt(raw.map(x => x * x).sum)
          val v = raw.map(_ / norm)
          vecs += v
          Row(i.toLong, v.map(_.toFloat).toSeq, r.nextInt(10))
        } }

      val L = LongType; val I = IntegerType; val S = StringType; val D = DoubleType
      val T = TimestampNTZType
      def schema(cols: (String, DataType)*) =
        StructType(cols.map { case (c, t) => StructField(c, t) })
      val tables = Seq(
        ("region", region, schema("r_regionkey" -> I, "r_name" -> S)),
        ("nation", nation, schema("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I)),
        ("customer", customer, schema("c_custkey" -> L, "c_name" -> S,
          "c_nationkey" -> I, "c_acctbal" -> D, "c_mktsegment" -> S)),
        ("supplier", supplier, schema("s_suppkey" -> L, "s_name" -> S,
          "s_nationkey" -> I, "s_acctbal" -> D)),
        ("part", part, schema("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
          "p_type" -> S, "p_size" -> I, "p_retailprice" -> D)),
        ("orders", orders.toSeq, schema("o_orderkey" -> L, "o_custkey" -> L,
          "o_orderstatus" -> S, "o_totalprice" -> D, "o_orderdate" -> T,
          "o_orderpriority" -> S)),
        ("lineitem", lineitem.toSeq, schema("l_orderkey" -> L, "l_partkey" -> L,
          "l_suppkey" -> L, "l_linenumber" -> I, "l_quantity" -> D,
          "l_extendedprice" -> D, "l_discount" -> D, "l_tax" -> D,
          "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> T)),
        ("events", events, schema("event_id" -> L, "ts" -> T, "user_id" -> L,
          "event_type" -> S, "value" -> D, "props" -> S)),
        ("documents", documents, schema("doc_id" -> L, "text" -> S, "lang" -> S,
          "source" -> S, "n_chars" -> L)),
        ("embeddings", embeddings, schema("vec_id" -> L,
          "embedding" -> ArrayType(FloatType), "label" -> I)))
      Files.createDirectories(Paths.get(dir))
      for ((name, rows, sch) <- tables) {
        val tmp = s"$dir/_$name"
        spark.createDataFrame(rows.asJava, sch).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
        Fs.deleteTree(Paths.get(tmp))
      }
      tables.map(_._1)
    }

    /** Exponential sensor values (mean 50), as skewed as the fixtures'. */
    private def expValue(r: SplittableRandom): Double =
      math.min(490.02, math.max(0.01,
        math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0))

    private def gaussian(r: SplittableRandom): Double = {
      // Box-Muller on the seeded stream (java.util.Random's nextGaussian
      // is not available on SplittableRandom).
      val u1 = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
  }

  /** Ingest backlog: `files` files of `framesPerFile` JSON wire frames
    * from `devices` sensors sampling at 1 Hz of event time, shaped like
    * the reference publisher's records.
    *
    * The mix: ~5% QoS1 redeliveries (a byte-identical frame a few
    * positions later), ~10% frames displaced up to 30 s of event time
    * (inside the 10-minute watermark), ~0.1% malformed frames, and a few
    * readings withheld and delivered 20 minutes of event time late.
    *
    * Truth does not depend on where batch boundaries fall, for any batch
    * of at most [[MaxBatchFrames]] frames: a late frame is emitted only
    * once at least two such batches of later readings precede it, so
    * the watermark has passed it under every such split, and every
    * redelivery or displacement stays far inside the watermark.
    */
  object Wire {
    val MaxBatchFrames = 1000
    val Watermark = "10 minutes"
    private val LateSeconds = 20 * 60
    private val T0 = LocalDateTime.of(2024, 3, 1, 0, 0)
    private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

    final case class Reading(device: Int, count: Long, ts: LocalDateTime,
        humidity: Double, temperature: Double, pressure: Double,
        pitch: Double, roll: Double, yaw: Double) {
      def clientId: String = f"sensor-$device%02d"
      def json: String =
        s"""{"client_id": "$clientId", "timestamp": "${Fmt.format(ts)}", """ +
        s""""humidity": $humidity, "temperature": $temperature, "pressure": $pressure, """ +
        s""""pitch": $pitch, "roll": $roll, "yaw": $yaw, "count": $count}"""
      def hour: String = ts.format(DateTimeFormatter.ofPattern("yyyy-MM-dd-HH"))
    }

    /** What a correct pipeline must produce from the backlog. */
    final case class Truth(frames: Long, validFrames: Long, malformed: Long,
        redelivered: Long, late: Long, onTimeKeys: Set[(String, Long)],
        hourly: Map[(String, String), (Long, Double)], wireBytes: Long)

    def readings(seed: Long, devices: Int, n: Int): IndexedSeq[Reading] = {
      val r = new SplittableRandom(seed * 7919L + 17L)
      (0 until n).map { i =>
        val dev = i % devices
        val c = (i / devices).toLong
        def v(base: Double, amp: Double) =
          math.round((base + amp * (r.nextDouble() - 0.5)) * 100.0) / 100.0
        Reading(dev, c, T0.plusSeconds(c), v(55.0, 24.0), v(31.0, 12.0),
          v(1012.0, 6.0), v(180.0, 360.0), v(180.0, 360.0), v(180.0, 360.0))
      }
    }

    /** Lay out the frame sequence and write it as `files` files under
      * `dir` (names sort in landing order). Returns the truth.
      */
    def write(dir: String, seed: Long, files: Int, framesPerFile: Int,
        devices: Int = 4): Truth = {
      require(framesPerFile <= MaxBatchFrames)
      val total = files * framesPerFile
      val r = new SplittableRandom(seed * 104729L + 3L)
      // Base readings in event-time order; over-generate so that after
      // redeliveries and malformed frames the landed count is exact.
      val base = readings(seed, devices, total).toArray
      // Displace ~10% within 30 s of event time (swap with a neighbour
      // at most 30·devices positions later).
      val win = 30 * devices
      for (i <- base.indices if r.nextInt(10) == 0) {
        val j = math.min(base.length - 1, i + 1 + r.nextInt(win))
        val t = base(i); base(i) = base(j); base(j) = t
      }
      // Withhold a few readings and deliver them 20 minutes late; only
      // readings old enough that two full batches of newer frames
      // precede their delivery point qualify.
      val lateLag = LateSeconds * devices + 2 * MaxBatchFrames
      val withheld = scala.collection.mutable.Map.empty[Int, Reading] // deliver-at -> reading
      val held = scala.collection.mutable.Set.empty[Int]
      for (i <- base.indices if i + lateLag + win < base.length && r.nextInt(400) == 0) {
        withheld(i + lateLag + win) = base(i); held += i
      }
      val out = new ArrayBuffer[String](total + 16)
      val pending = new scala.collection.mutable.Queue[(Int, String)]() // (due, frame)
      var malformed = 0L; var redelivered = 0L; var late = 0L
      val onTime = scala.collection.mutable.LinkedHashMap.empty[(String, Long), Reading]
      var i = 0
      while (out.size < total && i < base.length) {
        while (pending.nonEmpty && pending.head._1 <= out.size && out.size < total) {
          out += pending.dequeue()._2; redelivered += 1
        }
        if (out.size < total) withheld.get(i).foreach { rd =>
          out += rd.json; late += 1
        }
        if (out.size < total && r.nextInt(1000) == 0) {
          out += (if (r.nextBoolean()) "}{ not a frame" else
            s"""{"timestamp": "${Fmt.format(base(i).ts)}", "count": -1}""")
          malformed += 1
        }
        if (out.size < total && !held(i)) {
          val rd = base(i)
          out += rd.json
          onTime((rd.clientId, rd.count)) = rd
          if (r.nextInt(20) == 0) pending.enqueue((out.size + 1 + r.nextInt(8), rd.json))
        }
        i += 1
      }
      require(out.size == total, s"generator produced ${out.size} of $total frames")
      Files.createDirectories(Paths.get(dir))
      var bytes = 0L
      // The file source takes files in modification-time order: land them
      // one second apart so the landing order is the frame order.
      val mtime0 = System.currentTimeMillis() - files * 1000L
      for (f <- 0 until files) {
        val body = out.slice(f * framesPerFile, (f + 1) * framesPerFile).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)
        bytes += body.length
        val p = Files.write(Paths.get(dir, f"frames-$f%05d.json"), body)
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime0 + f * 1000L))
      }
      val hourly = onTime.values.groupBy(rd => (rd.hour, rd.clientId)).map { case (k, rs) =>
        k -> (rs.size.toLong, rs.map(_.temperature).sum)
      }
      Truth(total.toLong, total - malformed, malformed, redelivered, late,
        onTime.keySet.toSet, hourly, bytes)
    }

    /** Pre-stage `n` buffered archive files, as the archive consumer of a
      * running pipeline would have left them since its last compaction
      * (one JSON file per earlier delivery). Returns the rows staged.
      */
    def stageArchive(logsDir: String, seed: Long, n: Int, rowsPerFile: Int): Long = {
      Files.createDirectories(Paths.get(logsDir))
      val rs = readings(seed + 1, 4, n * rowsPerFile)
      val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.000'Z'")
      for (f <- 0 until n) {
        val body = rs.slice(f * rowsPerFile, (f + 1) * rowsPerFile).map { rd =>
          s"""{"client_id":"${rd.clientId}","timestamp":"${iso.format(rd.ts.minusDays(1))}",""" +
          s""""humidity":${rd.humidity},"temperature":${rd.temperature},""" +
          s""""pressure":${rd.pressure},"pitch":${rd.pitch},"roll":${rd.roll},""" +
          s""""yaw":${rd.yaw},"count":${rd.count}}"""
        }.mkString("", "\n", "\n")
        Files.write(Paths.get(logsDir, f"part-staged-$f%05d.json"),
          body.getBytes(StandardCharsets.UTF_8))
      }
      n.toLong * rowsPerFile
    }
  }
}

/** Small filesystem helpers shared by the benchmark. */
object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** (bytes, files) of the regular files under `p`. */
  def usage(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var b = 0L; var n = 0L
        s.filter(f => Files.isRegularFile(f) && keep(f)).forEach { f => b += Files.size(f); n += 1 }
        (b, n)
      } finally s.close()
    }
}
