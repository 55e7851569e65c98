package graft.operators

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def merges(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("lhs"),
      r.getAs[String]("rhs"), r.getAs[String]("merged"), r.getAs[Long]("cnt")))

  test("learnMerges: overlap counting vs non-overlapping application ('aaaa')") {
    // Pair COUNTS are over all adjacent positions ("aaaa" contributes
    // (a,a) x3 per occurrence), but APPLICATION is greedy left-to-right
    // non-overlapping: after merge 1 the word is [aa, aa], so round 2
    // must learn (aa, aa) with the word frequency 3, not (aa, a).
    val docs = Seq((0L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val got = merges(Bpe.learnMerges(docs, nMerges = 2))
    assert(got(0) == ((1, "a", "a", "aa", 9L)), s"round 1: ${got.toSeq}")
    assert(got(1) == ((2, "aa", "aa", "aaaa", 3L)), s"round 2: ${got.toSeq}")
  }

  test("learnMerges: count ties break lexicographically on (lhs, rhs)") {
    // (a,b) and (c,d) both count 2 -> (a,b) wins round 1.
    val docs = Seq((0L, "ab cd"), (1L, "cd ab")).toDF("doc_id", "text")
    val got = merges(Bpe.learnMerges(docs, nMerges = 2))
    assert(got(0) == ((1, "a", "b", "ab", 2L)), s"round 1: ${got.toSeq}")
    assert(got(1) == ((2, "c", "d", "cd", 2L)), s"round 2: ${got.toSeq}")
  }

  test("learnMerges: later merges compose earlier ones (classic low/lower/newest)") {
    // 'lo' then 'low' should emerge from the repeated 'low' prefix
    // before anything from the rarer words; the boundary anchor keeps
    // 'w e' (inside lower/newest) distinct from any cross-word pair.
    val docs = Seq(
      (0L, "low low low low low low low"),
      (1L, "lower lower"),
      (2L, "newest newest newest")).toDF("doc_id", "text")
    val got = merges(Bpe.learnMerges(docs, nMerges = 3))
    assert(got(0)._4 == "lo" && got(0)._5 == 9L,
      s"l+o spans low(7)+lower(2): ${got.toSeq}")
    assert(got(1)._4 == "low" && got(1)._5 == 9L,
      s"lo+w composes the round-1 symbol: ${got.toSeq}")
    assert(got.map(_._4).toSet.size == 3, s"distinct merges: ${got.toSeq}")
  }

  test("tokenCounts: merge-order application, per-doc sums, empty doc absent") {
    // After 2 merges on 'aaaa' (aa, then aaaa) every 'aaaa' is ONE
    // token; 'ab' never merges (below every aaaa count) so stays 2.
    val docs = Seq((0L, "aaaa aaaa ab"), (1L, "aaaa"), (2L, ""))
      .toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, nMerges = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("compression")))
    assert(got.toSeq == Seq(
      (0L, 3L, 10L, 4L, 2.5), (1L, 1L, 4L, 1L, 4.0)),
      s"doc 2 (no words) absent; merge-order counts: ${got.toSeq}")
  }

  test("textCount meter ≡ tokenCounts join form (same fold per word)") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((0L, "aaaa aaaa ab"), (1L, "aaaa"), (2L, "low lower low"))
      .toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, nMerges = 3)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val viaJoin = Bpe.tokenCounts(docs, nMerges = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val viaMeter = docs
      .select(col("doc_id"), Bpe.textCount(merges)(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaJoin.nonEmpty && viaJoin.forall { case (k, v) => viaMeter(k) == v },
      s"join=$viaJoin meter=$viaMeter")
  }

  test("textCount native expression ≡ the higher-order-function fold (round 21)") {
    // The meter was rewritten as one codegen'd expression performing
    // the IDENTICAL UTF8String operation sequence (split/concatWs/
    // replace/substringSQL) the interpreted aggregate/filter fold
    // assembled from built-ins. Pin equality on the real corpus plus
    // adversarial strings (repeated/leading/trailing spaces, empty,
    // null, the replace fuse quirk, unicode).
    import org.apache.spark.sql.functions.col
    val adversarial = Seq(
      (100L, "  double  space  "), (101L, ""), (102L, "a"),
      (103L, " a ba aba ab b "), (104L, "aaaa aaaa"),
      (105L, "héllo wörld héllo"), (106L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionByName(adversarial)
    val merges = Seq(("a", "b"), ("b", "a"), ("aa", "aa"), ("l", "o"),
      ("lo", "w"), ("h", "é"))
    val got = docs.select(col("doc_id"),
        Bpe.textCount(merges)(col("text")).as("native"),
        Bpe.textCountFold(merges)(col("text")).as("fold"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"doc ${r.getLong(0)}: null mismatch")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2),
          s"doc ${r.getLong(0)}: native=${r.getLong(1)} fold=${r.getLong(2)}")
    }
  }

  test("learnMerges refuses a corpus with no adjacent pairs") {
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    val e = intercept[Exception](Bpe.learnMerges(docs, nMerges = 1))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(_.contains("no adjacent pairs")), e.getMessage)
  }

  test("learnMergesLocal ≡ learnMerges on a real corpus (the vocab-scale path)") {
    // The 100 TB stance: one wordcount shuffle + bounded vocab collect
    // + in-memory rounds must learn the IDENTICAL table the
    // job-per-round distributed loop learns.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(merges(Bpe.learnMergesLocal(docs, nMerges = 12)).toSeq ==
      merges(Bpe.learnMerges(docs, nMerges = 12)).toSeq)
  }

  test("learnMergesLocal reproduces the replace fuse quirk (' a ba' + (a,b) → 'aba')") {
    // The literal replace consumes no trailing separator: merge (a,b)
    // applied to state " a ba" fuses the WHOLE next symbol. Corpus
    // engineered so round 1 = (b,a) [16 = ba:10 + aba:6], round 2 =
    // (a,b) [8 from 'ab'; (a,ba) has only 6] — whose application must
    // also collapse 'aba' ([a, ba] after round 1) to a single symbol,
    // leaving (a,ba) count 0; an exact-pair-only apply would leave it
    // at 6 and learn it in round 3 instead of (x,y).
    val words =
      Seq.fill(10)("ba") ++ Seq.fill(6)("aba") ++ Seq.fill(8)("ab") ++
        Seq.fill(3)("xy")
    val docs = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    val dist = merges(Bpe.learnMerges(docs, nMerges = 3)).toSeq
    val local = merges(Bpe.learnMergesLocal(docs, nMerges = 3)).toSeq
    assert(local == dist, s"local=$local dist=$dist")
    assert(dist(0) == ((1, "b", "a", "ba", 16L)), dist.toString)
    assert(dist(1) == ((2, "a", "b", "ab", 8L)), dist.toString)
    assert(dist(2) == ((3, "x", "y", "xy", 3L)),
      s"round 3 must see the quirk-collapsed 'aba': $dist")
  }

  test("learnMergesLocal: minFreq pruning drops hapax-class words from training") {
    // With minFreq=2 the singleton 'qz' cannot contribute a pair; the
    // frequent material trains unchanged.
    val docs = Seq((0L, "aaaa aaaa aaaa qz")).toDF("doc_id", "text")
    val got = merges(Bpe.learnMergesLocal(docs, nMerges = 2, minFreq = 2L))
    assert(got(0) == ((1, "a", "a", "aa", 9L)), got.toSeq.toString)
    assert(got(1) == ((2, "aa", "aa", "aaaa", 3L)), got.toSeq.toString)
    val e = intercept[Exception](
      Bpe.learnMergesLocal(docs, nMerges = 3, minFreq = 2L))
    assert(e.getMessage.contains("no adjacent pairs"),
      "pruned vocab exhausts after the aaaa merges")
  }

  test("learnMerges ≡ the distributed reference learner (sf0.01 corpus, fuse-quirk corpus)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    assert(merges(Bpe.learnMerges(docs, nMerges = 12)).toSeq ==
      Bpe.learn(docs, nMerges = 12)._1)
    val words =
      Seq.fill(10)("ba") ++ Seq.fill(6)("aba") ++ Seq.fill(8)("ab") ++
        Seq.fill(3)("xy")
    val quirk = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    assert(merges(Bpe.learnMerges(quirk, nMerges = 3)).toSeq ==
      Bpe.learn(quirk, nMerges = 3)._1)
  }

  test("tokenCounts after learnMerges trains nothing; rows equal the reference learner's per-word state") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    Bpe.learnMerges(docs, nMerges = 6).collect()
    def bpe = Similarity.memoStats.getOrElse("art:bpe", (0L, 0L))
    val (hits0, misses0) = bpe
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val got = rows(Bpe.tokenCounts(docs, nMerges = 6))
    val (hits1, misses1) = bpe
    assert(misses1 == misses0 && hits1 > hits0,
      s"art:bpe ($hits0, $misses0) -> ($hits1, $misses1)")
    // The reference: the distributed learner's final per-word state.
    val state = Bpe.learn(docs, nMerges = 6)._2
      .select(col("w"),
        size(split(expr("substring(state, 2)"), " ")).cast("long").as("n_tok"))
    val reference = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .join(state, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
    assert(got.nonEmpty && got == rows(reference))
  }

  test("a cold learnMerges runs a bounded number of Spark jobs, not one per merge round") {
    // One vocabulary collect, the artifact write and the rank-ordered
    // read-back: 7 jobs measured; the job-per-round loop ran 19 for the
    // same call.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(org.apache.spark.sql.functions.col("doc_id") =!= -7L)
    val jobs = jobsRun(Bpe.learnMerges(docs, nMerges = 6).collect())
    assert(jobs <= 9, s"cold learnMerges ran $jobs jobs")
  }
}
