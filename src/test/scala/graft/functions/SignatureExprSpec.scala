package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{SignatureExpressions => SE, TextFunctions => TF}

/** Differential tests: the native one-pass signature expressions must
  * reproduce the explode + aggregate forms they replace bit for bit, on
  * real documents, for both hashers, interpreted AND codegen'd.
  */
class SignatureExprSpec extends SparkSpec {

  private def docs: DataFrame =
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")

  private def aggMinhashSigs(df: DataFrame, numPerms: Int, md5: Boolean): Map[Long, Seq[Long]] = {
    val hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (md5) c => pmod(TF.hexHash60(c), lit(TF.MinhashPrime))
      else c => pmod(xxhash64(c), lit(TF.MinhashPrime))
    val (as, bs) = TF.minhashParams(numPerms)
    val hashed = df
      .select(col("doc_id"), explode(TF.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), hasher(col("s")).as("h"))
    val minCols = (0 until numPerms).map(i =>
      min(pmod(col("h") * as(i) + bs(i), lit(TF.MinhashPrime))).as(s"m$i"))
    hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to numPerms).map(r.getLong)).toMap
  }

  private def aggSimhashSigs(df: DataFrame, bits: Int, md5: Boolean): Map[Long, Long] = {
    val hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (md5) TF.hexHash60(_) else xxhash64(_)
    val hashed = df
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .select(col("doc_id"), hasher(col("t")).as("h"))
    val bitSums = (0 until bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"s$i"))
    hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  for (md5 <- Seq(false, true)) {
    val label = if (md5) "md5-parity" else "xxhash"
    test(s"MinHashSignature ($label) == explode+agg form on real docs") {
      val expected = aggMinhashSigs(docs, 32, md5)
      val native = docs
        .select(col("doc_id"), SE.minhashSig(TF.shingles(col("text"), 3), 32, md5).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native.keySet == expected.keySet)
      native.foreach { case (id, sig) =>
        assert(sig == expected(id), s"doc $id minhash signatures differ") }
    }

    test(s"SimHashSignature ($label) == explode+agg form on real docs") {
      val bits = if (md5) 60 else 64
      val expected = aggSimhashSigs(docs, bits, md5)
      val native = docs
        .select(col("doc_id"), SE.simhashSig(TF.tokens(col("text")), bits, md5).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == expected)
    }
  }

  for (md5 <- Seq(false, true)) {
    val label = if (md5) "md5-parity" else "xxhash"
    test(s"MinHashBands ($label) == signature + column band fold") {
      val (numPerms, bands) = (64, 16)
      val rowsPerBand = numPerms / bands
      val expected = docs
        .select(col("doc_id"), SE.minhashSig(TF.shingles(col("text"), 3), numPerms, md5).as("sig"))
        .collect().map { r =>
          val sig = r.getSeq[Long](1)
          r.getLong(0) -> (0 until bands).map { bnd =>
            (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
              .foldLeft(bnd.toLong)((acc, i) => (acc * 1000003L + sig(i)) % TF.MinhashPrime)
          }
        }.toMap
      val fused = docs
        .select(col("doc_id"),
          SE.minhashBands(TF.shingles(col("text"), 3), numPerms, bands, md5).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused == expected)
    }

    test(s"SimHashChunks ($label) == signature + column chunk slicing") {
      val bits = if (md5) 60 else 64
      val maxHamming = 3
      val (nChunks, width) = (maxHamming + 1, bits / (maxHamming + 1))
      val expected = docs
        .select(col("doc_id"), SE.simhashSig(TF.tokens(col("text")), bits, md5).as("sig"))
        .collect().map { r =>
          val sig = r.getLong(1)
          r.getLong(0) -> (sig, (0 until nChunks).map { i =>
            val hi = if (i == nChunks - 1) bits else (i + 1) * width
            val mask = if (hi - i * width == 64) -1L else (1L << (hi - i * width)) - 1
            (sig >> (i * width)) & mask
          })
        }.toMap
      val fused = docs
        .select(col("doc_id"), posexplode(
          SE.simhashChunks(TF.tokens(col("text")), maxHamming, bits, md5))
          .as(Seq("chunk", "cs")))
        .select(col("doc_id"), col("chunk"), col("cs.chunk_val"), col("cs.sig"))
        .collect().groupBy(_.getLong(0)).map { case (id, rows) =>
          val sorted = rows.sortBy(_.getInt(1))
          id -> (sorted.head.getLong(3), sorted.map(_.getLong(2)).toSeq)
        }
      assert(fused == expected)
    }
  }

  test("HyperplaneBuckets == posexplode + sum() aggregate form on real embeddings") {
    val (planes, tables, dim) = (6, 8, 64)
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def w(t: Int, p: Int): Array[Double] = Array.tabulate(dim) { d =>
      val h = TF.hexHash60Local(s"plane:$t:$p:$d")
      ((h % 2147483647L).toDouble - 1073741823.0) / 1073741823.0
    }
    // the aggregate form the expression replaced, verbatim
    val exploded = embs.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
    val projCols = for { t <- 0 until tables; p <- 0 until planes } yield
      sum(col("x").cast("double") *
        element_at(typedLit(w(t, p).toSeq), col("d") + 1)).as(s"proj_${t}_$p")
    val projs = exploded.groupBy("vec_id").agg(projCols.head, projCols.tail: _*)
    val expected = projs.collect().map { r =>
      r.getLong(0) -> (0 until tables).map { t =>
        (0 until planes).map { p =>
          if (r.getDouble(1 + t * planes + p) > 0) 1L << p else 0L
        }.sum
      }
    }.toMap
    val weights: Seq[Seq[Double]] =
      (0 until tables * planes).map(i => w(i / planes, i % planes).toSeq)
    val native = embs.select(col("vec_id"), posexplode(
        SE.hyperplaneBuckets(col("embedding"), weights, planes, dim))
        .as(Seq("table", "bucket")))
      .collect().groupBy(_.getLong(0)).map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(native == expected)
  }

  test("HyperplaneBuckets compiles under CODEGEN_ONLY and matches interpreted eval") {
    val (planes, dim) = (6, 64)
    val weights: Seq[Seq[Double]] =
      (0 until 2 * planes).map(i => Seq.tabulate(dim)(d => math.sin(31.0 * i + d)))
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def buckets(confs: (String, String)*): Map[Long, (Seq[Long], Seq[Long])] = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // Two instances in ONE projection — the multi-instance scope
        // that breaks codegen without fresh locals.
        embs.select(col("vec_id"),
            SE.hyperplaneBuckets(col("embedding"), weights, planes, dim).as("a"),
            SE.hyperplaneBuckets(col("embedding"), weights.reverse, planes, dim).as("b"))
          .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2))))
          .toMap
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val codegen = buckets("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = buckets("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(codegen.nonEmpty && codegen == interpreted)
  }

  test("both signature expressions compile under CODEGEN_ONLY (no janino fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // Two instances of each in ONE projection — the multi-instance
      // scope that breaks codegen without fresh locals.
      val out = docs.limit(10).select(
        SE.minhashSig(TF.shingles(col("text"), 3), 16, md5Parity = false).as("a"),
        SE.minhashSig(TF.shingles(col("text"), 2), 16, md5Parity = true).as("b"),
        SE.simhashSig(TF.tokens(col("text")), 64, md5Parity = false).as("c"),
        SE.simhashSig(TF.tokens(col("text")), 60, md5Parity = true).as("d"),
        SE.minhashBands(TF.shingles(col("text"), 3), 16, 4, md5Parity = false).as("e"),
        SE.minhashBands(TF.shingles(col("text"), 2), 16, 4, md5Parity = true).as("f"),
        SE.simhashChunks(TF.tokens(col("text")), 3, 64, md5Parity = false).as("g"),
        SE.simhashChunks(TF.tokens(col("text")), 2, 60, md5Parity = true).as("h")).collect()
      assert(out.forall(r => (0 until 8).forall(!r.isNullAt(_))))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("null/empty semantics: null array -> null; null elements handled") {
    import spark.implicits._
    val df = Seq(
      (0L, Some(Seq(Some("a"), Some("b")))),
      (1L, Some(Seq(Option.empty[String], Some("a")))),
      (2L, Option.empty[Seq[Option[String]]]),
      (3L, Some(Seq.empty[Option[String]])))
      .toDF("id", "arr")
    val rows = df.select(col("id"),
      SE.minhashSig(col("arr"), 8, md5Parity = false).as("mh"),
      SE.simhashSig(col("arr"), 64, md5Parity = false).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(rows(0L) == ((false, false)))
    assert(rows(1L) == ((false, false)), "null element skipped (minhash) / -1 bits (simhash)")
    assert(rows(2L) == ((true, true)), "null array -> null signature")
    assert(rows(3L) == ((true, true)), "empty array -> null signature")
  }
}
