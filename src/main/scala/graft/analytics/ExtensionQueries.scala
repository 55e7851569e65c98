package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{TextFunctions => TF}
import graft.multimodal.{Multimodal => MM}
import graft.operators.{DataSplits, Dedup, Similarity}
import graft.sources.Tables

/** Training-data-pipeline extension queries (SURVEY.md §2.6 TXT and DD rows/
  * SIM-* + multimodal): text analysis, document dedup, vector similarity.
  * Each SQL-expressible operator carries a DuckDB oracle mirroring the
  * exact arithmetic (same fold order, same rounding); LSH-based operators
  * are oracled rows-only and verified by scalatest instead (hash-function
  * internals differ across engines by construction).
  */
object ExtensionQueries {

  // ---------------------------------------------------------------- TXT-1
  /** Tokenize + global word count, top 25 (explode → count; the shuffle
    * carries (word, partial count) thanks to partial aggregation).
    */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(25)

  val wordCountSql: String =
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY 1 ORDER BY n DESC, word LIMIT 25""".stripMargin

  // ---------------------------------------------------------------- TXT-2
  /** Per-(lang, source) corpus stats: doc counts, char/token means, and a
    * containment count (docs mentioning 'join').
    */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        round(avg(TF.tokenCount(col("text"))), 6).as("avg_tokens"),
        sum(when(col("text").contains("join"), 1L).otherwise(0L)).as("n_with_join"))
      .orderBy("lang", "source")

  val textStatsSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |       round(avg(n_chars), 6) AS avg_chars,
      |       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
      |       CAST(sum(CASE WHEN contains(text, 'join') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_join
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- TXT-3
  /** Language-ID agreement matrix: marker-scoring prediction vs the
    * labeled `lang` column.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // Marker counts via explode + codegen'd conditional sums (identical
    // values to TF.langPredict's per-doc array filters, ~3× faster: the
    // array HOFs are interpreted). Tie-break/und logic mirrors
    // TF.LangMarkers order exactly.
    val counts = TF.LangMarkers.map { case (l, w) =>
      sum(when(col("tok") === w, 1L).otherwise(0L)).as(s"c_$l")
    }
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "lang")
      .agg(counts.head, counts.tail: _*)
    val best = TF.LangMarkers.map { case (l, _) => col(s"c_$l") }
      .reduce((a, b) => greatest(a, b))
    val pred = TF.LangMarkers.foldRight(lit("und")) { case ((l, _), els) =>
      when(col(s"c_$l") === best && best > 0, l).otherwise(els)
    }
    perDoc.select(col("lang"), pred.as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  val langIdSql: String = {
    // Mirror TF.LangMarkers + the first-match tie-break exactly.
    val markers = TF.LangMarkers // de,en,es,fr,zh
    val counts = markers.map { case (l, w) =>
      s"len(list_filter(string_split(text, ' '), x -> x = '$w')) AS c_$l"
    }.mkString(",\n       ")
    val greatest = markers.map { case (l, _) => s"c_$l" }.mkString("greatest(", ", ", ")")
    val cases = markers.map { case (l, _) =>
      s"WHEN c_$l = $greatest THEN '$l'"
    }.mkString("\n            ")
    s"""SELECT lang, lang_pred, count(*) AS n FROM (
       |  SELECT lang,
       |       CASE WHEN $greatest = 0 THEN 'und'
       |            $cases
       |            ELSE 'und' END AS lang_pred
       |  FROM (SELECT lang, $counts FROM documents)
       |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------- TXT-10
  /** PMI collocations: top-25 adjacent-token bigrams by pointwise mutual
    * information, PMI = ln((c12/N) / ((c1/U)·(c2/U))) with a c12 ≥ 5
    * support floor — the corpus-statistics op behind phrase mining /
    * tokenizer-merge candidates. Shape at scale: bigram and unigram
    * counts are partial-aggregated explode→count stacks (the shuffle
    * carries distinct grams, not token instances); the two scalar totals
    * broadcast; the two unigram joins hash on the gram string; the final
    * top-k is TakeOrderedAndProject. The bigram build is one pass over
    * the token array (zip_with of the array against its own tail —
    * interpreted HOF, but evaluated once per doc before the aggregate).
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir).select(TF.tokens(col("text")).as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
    val ucnt = uni.groupBy("w").agg(count(lit(1)).as("c"))
    val utot = uni.agg(count(lit(1)).as("u"))
    val bg = tk.where(size(col("tk")) >= 2)
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bcnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val btot = bg.agg(count(lit(1)).as("n"))
    bcnt.where(col("c12") >= 5)
      .crossJoin(broadcast(btot))
      .crossJoin(broadcast(utot))
      .join(ucnt.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(ucnt.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .withColumn("pmi", round(log(
        (col("c12").cast("double") / col("n")) /
          ((col("c1").cast("double") / col("u")) *
            (col("c2").cast("double") / col("u")))), 6))
      .select("w1", "w2", "c12", "pmi")
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(25)
  }

  val collocationsSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
      |uni AS (SELECT unnest(tk) AS w FROM t),
      |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
      |utot AS (SELECT count(*) AS u FROM uni),
      |bg AS (SELECT unnest(list_transform(range(len(tk) - 1),
      |         i -> {'w1': tk[i + 1], 'w2': tk[i + 2]}), recursive := true)
      |       FROM t WHERE len(tk) >= 2),
      |bcnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |btot AS (SELECT count(*) AS n FROM bg)
      |SELECT w1, w2, c12,
      |       round(ln((CAST(c12 AS DOUBLE) / n) /
      |             ((CAST(c1.c AS DOUBLE) / u) * (CAST(c2.c AS DOUBLE) / u))), 6) AS pmi
      |FROM bcnt
      |CROSS JOIN btot CROSS JOIN utot
      |JOIN ucnt c1 ON bcnt.w1 = c1.w
      |JOIN ucnt c2 ON bcnt.w2 = c2.w
      |WHERE c12 >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin

  // ---------------------------------------------------------------- TXT-4
  /** Per-doc quality scoring: token count, lexical diversity, stopword
    * density, composite score.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        round(size(array_distinct(TF.tokens(col("text")))).cast("double") /
          size(TF.tokens(col("text"))).cast("double"), 6).as("uniq_ratio"),
        round(TF.stopwordRatio(col("text")), 6).as("stop_ratio"),
        TF.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  val qualityScoreSql: String = {
    val stop = TF.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |       len(string_split(text, ' ')) AS n_tokens,
       |       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |             / len(string_split(text, ' ')), 6) AS uniq_ratio,
       |       round(CAST(len(list_filter(string_split(text, ' '),
       |             x -> list_contains($stop, x))) AS DOUBLE)
       |             / len(string_split(text, ' ')), 6) AS stop_ratio,
       |       round(ln(len(string_split(text, ' ')) + 1.0)
       |             + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / len(string_split(text, ' '))
       |             - CAST(len(list_filter(string_split(text, ' '),
       |               x -> list_contains($stop, x))) AS DOUBLE)
       |               / len(string_split(text, ' ')), 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- TXT-11
  /** TF-IDF term weighting: top-25 (doc, term) pairs by tf·ln(N/df) —
    * the classic salience weight behind keyword extraction and sparse
    * retrieval indexes over a training corpus. Shape at scale: the
    * (doc, term) counts and the per-term doc frequencies are both
    * partial-aggregated explode→count stacks (the shuffle carries
    * distinct grams, not token instances); `df` derives from the
    * already-distinct tf pairs (no second pass over the tokens); the
    * tf⋈df join hashes on the term (vocab-sized sides — left to AQE,
    * NOT forced broadcast: at 100 TB a web-scale vocab is not a dim
    * table); the single-row corpus count broadcasts; the final top-k is
    * TakeOrderedAndProject. Terms appearing in every doc get weight 0
    * by construction (ln 1) — the standard "ubiquitous term" null.
    */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    tf.join(df, "word")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("nd").cast("double") / col("df")), 6).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("word"))
      .limit(25)
  }

  val tfidfTopSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |             FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS nd FROM documents)
      |SELECT doc_id, word,
      |       round(tf * ln(CAST(nd AS DOUBLE) / df), 6) AS tfidf
      |FROM tf JOIN df USING (word) CROSS JOIN n
      |ORDER BY tfidf DESC, doc_id, word LIMIT 25""".stripMargin

  // --------------------------------------------------------------- TXT-12
  /** BM25 document ranking for a fixed term query (Robertson/Sparck
    * Jones, k1 = 1.2, b = 0.75) — retrieval-quality scoring over the
    * corpus, the op behind query-driven data selection and dedup-by-
    * retrieval. idf = ln(1 + (N − df + ½)/(df + ½)); per-term
    * contribution tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)). Shape at
    * scale: the token stream is FILTERED to the query terms before the
    * (doc, term) aggregate (the predicate rides the explode — candidate
    * volume is per-term postings, not the corpus); doc lengths are one
    * separate full-token aggregate; `df` (|terms| rows) and the scalar
    * (avgdl, N) broadcast; the per-doc score sums the per-term
    * contributions in FIXED term order via conditional aggregates —
    * each (doc, term) is a single row post-aggregation, so the sum is
    * reproducible float arithmetic, not shuffle-order-dependent. Final
    * top-k is TakeOrderedAndProject.
    */
  def bm25Rank(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("hash", "join", "vector"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("word"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(avg(col("dl").cast("double")).as("avgdl"),
      count(lit(1)).as("nd"))
    val tf = tok.where(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(df), "word").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("word"),
        (log(lit(1) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5))
          * col("tf") * lit(k1 + 1)
          / (col("tf") + lit(k1) * (lit(1) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
          .as("c"))
    // Fixed-order sum over per-term conditional aggregates: each
    // (doc, term) is one row here, so every sum() picks up exactly one
    // value and the + chain below is order-stable across runs/engines.
    val termSum = terms
      .map(t => coalesce(sum(when(col("word") === t, col("c"))), lit(0.0)))
      .reduceLeft(_ + _)
    contrib.groupBy("doc_id")
      .agg(round(termSum, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  val bm25RankSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |             FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl, count(*) AS nd FROM dl),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
      |       WHERE word IN ('hash', 'join', 'vector') GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |contrib AS (
      |  SELECT tf.doc_id, tf.word,
      |         ln(1 + (nd - df + 0.5) / (df + 0.5))
      |           * tf.tf * 2.2
      |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS c
      |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats)
      |SELECT doc_id,
      |       round(coalesce(sum(CASE WHEN word = 'hash'   THEN c END), 0)
      |           + coalesce(sum(CASE WHEN word = 'join'   THEN c END), 0)
      |           + coalesce(sum(CASE WHEN word = 'vector' THEN c END), 0), 6) AS bm25
      |FROM contrib GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- TXT-5
  /** Token counting two ways: whitespace vs BPE-ish regex subwords. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_ws_tokens"),
        TF.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
        round(col("n_chars").cast("double") / TF.tokenCount(col("text")), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_ws_tokens,
      |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
      |       round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- TXT-6
  /** Per-doc content fingerprints: cross-engine-stable md5 plus the
    * order-sensitive rolling polynomial hash (char-level fold — identical
    * arithmetic in the oracle's list_reduce).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TF.fingerprintMd5(col("text")).as("fp_md5"),
        aggregate(split(col("text"), ""), lit(0L),
          (acc, c) => pmod(acc * 31 + ascii(c), lit(2147483647L))).as("fp_rolling"))
      .orderBy("doc_id")

  val fingerprintsSql: String =
    """SELECT doc_id, md5(text) AS fp_md5,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(string_split(text, ''),
      |           c -> CAST(ascii(c) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 2147483647) AS fp_rolling
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- DD-3
  /** Exact duplicate clusters by md5 fingerprint (hash-shuffle, no sort;
    * the 100 TB exact-dedup shape).
    */
  def docDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactClusters(Tables.documents(spark, dir))
      .orderBy("fp")

  val docDedupExactSql: String =
    """SELECT md5(text) AS fp, count(*) AS n_docs,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------- DD-4
  /** n-gram (token-set) Jaccard near-dup pairs over a blocked subset
    * (doc_id % 20 = 0) — the exact all-pairs baseline the LSH variants
    * approximate.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(
      Tables.documents(spark, dir).where(col("doc_id") % 20 === 0), threshold = 0.2)
      .orderBy("doc_a", "doc_b")

  val ngramJaccardSql: String =
    """SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
      |               / len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
      |  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      |        FROM documents WHERE doc_id % 20 = 0) a
      |  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      |        FROM documents WHERE doc_id % 20 = 0) b ON a.doc_id < b.doc_id
      |) WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------------------- DD-5
  /** MinHash+LSH near-dup pairs, driven by the cross-engine md5-prefix
    * hash ([[TF.hexHash60]]) so the ENTIRE pipeline — shingling, 64
    * permutations, banding, candidate join, Jaccard verify — is mirrored
    * step-for-step by the generated DuckDB oracle below. (The operator's
    * default xxhash64 hasher stays the hot path for non-oracled use.)
    */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    // Deliberately the DIRECT pipeline (not nearDupPairsMemo): q_dd5 is
    // the canonical place the minhash build PLAN is exposed and audited
    // (PlanAuditSpec's map-side-signature pin); the cluster/graph/audit
    // consumers read the memoized artifact instead.
    Dedup.minhashNearDups(Tables.documents(spark, dir), threshold = 0.5,
      md5Parity = true)
      .orderBy("doc_a", "doc_b")

  /** Generated CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the
    * md5-parity MinHash-LSH pipeline (shingle → 64-perm signature →
    * 16-band buckets → candidate self-join → exact-Jaccard ≥ 0.5) over
    * `fromExpr` (a table name or parenthesized subquery exposing
    * `doc_id`, `text`). Shared by the q_dd5 oracle and the cluster /
    * curation-pipeline oracles layered on top of the same pair graph.
    */
  private[analytics] def minhashPairsCtes(fromExpr: String = "documents",
      shingleSize: Int = 3): String = {
    val (as, bs) = TF.minhashParams(64)
    val P = TF.MinhashPrime
    val n = shingleSize
    val minExprs = (0 until 64).map(i =>
      s"list_min(list_transform(hl, h -> (h * ${as(i)} + ${bs(i)}) % $P)) AS m$i")
      .mkString(", ")
    val bandExprs = (0 until 16).map { bnd =>
      val poly = (bnd * 4 until bnd * 4 + 4).foldLeft(s"CAST($bnd AS BIGINT)") {
        (acc, i) => s"(($acc * 1000003 + m$i) % $P)"
      }
      s"WHEN $bnd THEN $poly"
    }.mkString(" ")
    s"""sh AS (
       |  SELECT doc_id, text,
       |         CASE WHEN len(t) >= $n
       |           THEN list_transform(range(len(t) - ${n - 1}),
       |                i -> array_to_string(list_slice(t, i + 1, i + $n), ' '))
       |           ELSE [text] END AS shingles
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM $fromExpr)),
       |hs AS (SELECT doc_id,
       |       list_transform(shingles, s -> ${TF.hexHash60Sql("s")} % $P) AS hl
       |       FROM sh),
       |sig AS (SELECT doc_id, $minExprs FROM hs),
       |band AS (SELECT doc_id, r.range AS band,
       |         CASE r.range $bandExprs END AS bucket
       |         FROM sig CROSS JOIN range(16) r),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM band a JOIN band b
       |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
       |         FROM $fromExpr),
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b,
       |         round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
       |               / len(list_distinct(list_concat(ta.tk, tb.tk))), 6) AS jaccard
       |  FROM cand JOIN toks ta ON cand.doc_a = ta.doc_id
       |            JOIN toks tb ON cand.doc_b = tb.doc_id)
       |  WHERE jaccard >= 0.5)""".stripMargin
  }

  val minhashDedupSql: String =
    s"""WITH ${minhashPairsCtes()}
       |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- DD-11
  /** Recall/precision audit of the MinHash-LSH banding against the exact
    * Jaccard ground truth — the measurement that justifies (or retunes)
    * the 64-perm/16-band knee before a 100 TB dedup run. Both pipelines
    * run over the SAME blocked subset (`doc_id % 20 = 0`, q_dd4's block
    * — ground truth is all-pairs by definition, so the audit is bounded
    * by construction; the conclusion transfers because banding
    * probability depends only on pair Jaccard, not corpus size).
    *
    * The MinHash runs at `shingleSize = 1` so signature and truth
    * measure the SAME set (token sets — [[Dedup.jaccardPairs]]'s
    * granularity, and the verify stage's). Auditing the 3-shingle
    * default against token-set truth conflates banding loss with the
    * granularity gap: this block's docs share vocabulary but almost no
    * 3-token runs, so the 3-shingle banding correctly surfaces ~none of
    * the token-level pairs — a true statement about shingling, not a
    * recall measurement of the banding knee.
    *
    * `recall` = banded candidates ∩ true pairs / true pairs (what the
    * LSH would MISS at scale); `precision` = that intersection /
    * candidate volume (the wasted exact-verify work — the COST axis).
    * One full-outer join of the two pair sets feeds a single aggregate;
    * neither side is computed twice.
    */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val blocked = Tables.documents(spark, dir).where(col("doc_id") % 20 === 0)
    // Both sides store-cached (round 20, VERDICT #1): the exact-Jaccard
    // truth and the banding candidate set are deterministic build
    // artifacts — built once per (session, block plan, params), the
    // audit join reads graft_artifacts parquet. q_dd4 keeps the direct
    // all-pairs plan exposed.
    val truth = Dedup.cachedJaccardPairs(blocked, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val cand = Dedup.cachedMinhashCandidates(blocked, shingleSize = 1,
        md5Parity = true)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("c"))
    cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(coalesce(col("c"), lit(0L))).as("n_cand"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("c"), lit(0L)))
          .as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        (col("n_true") - col("n_hit")).as("n_missed"),
        round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"),
        round(col("n_hit").cast("double") / col("n_cand"), 6).as("precision"))
  }

  val lshRecallAuditSql: String =
    s"""WITH blk AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
       |${minhashPairsCtes("blk", shingleSize = 1)},
       |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM blk) a
       |  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM blk) b
       |    ON a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
       |              / len(list_distinct(list_concat(a.t, b.t))), 6) >= 0.5),
       |fj AS (SELECT coalesce(c.c, 0) AS c, coalesce(t.t, 0) AS t
       |       FROM (SELECT doc_a, doc_b, 1 AS c FROM cand) c
       |       FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS t FROM truth) t
       |         USING (doc_a, doc_b)),
       |ag AS (SELECT CAST(sum(t) AS BIGINT) AS n_true,
       |              CAST(sum(c) AS BIGINT) AS n_cand,
       |              CAST(sum(t * c) AS BIGINT) AS n_hit FROM fj)
       |SELECT n_true, n_cand, n_hit, n_true - n_hit AS n_missed,
       |       round(CAST(n_hit AS DOUBLE) / n_true, 6) AS recall,
       |       round(CAST(n_hit AS DOUBLE) / n_cand, 6) AS precision
       |FROM ag""".stripMargin

  // ----------------------------------------------------------------- DD-6
  /** SimHash near-dup pairs over the 60-bit cross-engine hash — the
    * signature build (per-bit sign sums), chunk blocking, and Hamming
    * verify are all mirrored by the generated DuckDB oracle.
    */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(spark, dir), maxHamming = 3,
      md5Parity = true, bits = 60)
      .orderBy("doc_a", "doc_b")

  /** Generated SimHash oracle; `blockCols` mirrors the operator's
    * `blockBy` (columns carried through the signature aggregate and
    * ANDed into the chunk self-join).
    */
  private def mkSimhashSql(blockCols: Seq[String]): String = {
    val sumExprs = (0 until 60).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
    val packExpr = (0 until 60).map(i =>
      s"(CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
    // maxHamming=3 → 4 chunks of width 15 over the 60-bit signature.
    val chunkExprs = (0 until 4).map(i =>
      s"WHEN $i THEN (sig >> ${i * 15}) & 32767").mkString(" ")
    val keys = "doc_id" +: blockCols
    val keyList = keys.mkString(", ")
    val blockPred = blockCols.map(c => s" AND a.$c = b.$c").mkString
    s"""WITH th AS (
       |  SELECT $keyList, ${TF.hexHash60Sql("t")} AS h
       |  FROM (SELECT $keyList, unnest(string_split(text, ' ')) AS t FROM documents)),
       |sums AS (SELECT $keyList, $sumExprs FROM th GROUP BY $keyList),
       |sig AS (SELECT $keyList, $packExpr AS sig FROM sums),
       |chunk AS (SELECT $keyList, sig, r.range AS chunk,
       |          CASE r.range $chunkExprs END AS chunk_val
       |          FROM sig CROSS JOIN range(4) r)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |  FROM chunk a JOIN chunk b
       |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
       |       AND a.doc_id < b.doc_id$blockPred)
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  val simhashDedupSql: String = mkSimhashSql(Nil)

  /** DD-6 blocked variant: `lang` composed into the chunk join key —
    * the shipped scale valve for low-entropy corpora (only same-language
    * pairs are near-dup candidates). Oracle mirrors the blocking.
    */
  def simhashBlockedDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(spark, dir), maxHamming = 3,
      md5Parity = true, bits = 60, blockBy = Seq("lang"))
      .orderBy("doc_a", "doc_b")

  val simhashBlockedDedupSql: String = mkSimhashSql(Seq("lang"))

  // ----------------------------------------------------------------- DD-7
  /** Embedding-cosine near-dup pairs over a blocked subset (vec_id % 4 =
    * 0): the exact arithmetic is mirrored in DuckDB via
    * list_cosine_similarity over double-cast lists.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(
      Tables.embeddings(spark, dir).where(col("vec_id") % 4 === 0), threshold = 0.25)
      .orderBy("vec_a", "vec_b")

  val embeddingNearDupSql: String =
    """SELECT vec_a, vec_b, cos FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                      CAST(b.embedding AS DOUBLE[])), 6) AS cos
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 4 = 0
      |        AND len(list_filter(embedding, x -> x != 0)) > 0) a
      |  JOIN (SELECT * FROM embeddings WHERE vec_id % 4 = 0
      |        AND len(list_filter(embedding, x -> x != 0)) > 0) b ON a.vec_id < b.vec_id
      |) WHERE cos >= 0.25 ORDER BY vec_a, vec_b""".stripMargin

  /** DD-8: embedding near-dup at corpus scale
    * ([[Dedup.embeddingNearDupsAnn]]) — q_dd7's promised "ANN scale
    * route" as an oracled query: the trained IVF quantizer cells the
    * FULL corpus (no pre-blocking), within-cell pairs verify by exact
    * cosine ≥ 0.25. Same pinned training as q_sim3, so the oracle
    * reuses the training replay verbatim.
    */
  def embeddingNearDupAnn(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupsAnn(Tables.embeddings(spark, dir), threshold = 0.25,
        nCentroids = 16, lloydIters = 2, trainN = 1024, seedPlanes = 6, dim = 64)
      .orderBy("vec_a", "vec_b")

  val embeddingNearDupAnnSql: String = nearDupAnnSql(
    "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
    dim = 64, threshold = 0.25)

  /** The one near-dup ANN oracle (q_dd8, q_mm6, q_mm9, q_mm12): the
    * `v` CTE body (vec_id, e DOUBLE[]) — unstripped, its `|` margins
    * are stripped with the template's — then the shared IVF training
    * replay, nearest-cell assignment (rounded cosine, ties to the
    * lowest cid; zero vectors never pair), and within-cell pairs at
    * rounded cosine ≥ `threshold`.
    */
  private def nearDupAnnSql(v: String, dim: Int, threshold: Double): String = {
    val (training, cFinal) = ivfTrainingCtes(16, 2, 1024, seedPlanes = 6, dim = dim)
    s"""WITH v AS $v,
       |$training,
       |ca AS (SELECT vec_id, e, cid FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c)
       |  WHERE rn = 1 AND list_dot_product(e, e) > 0)
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         round(list_cosine_similarity(a.e, b.e), 6) AS cos
       |  FROM ca a JOIN ca b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |WHERE cos >= $threshold ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------- DD-9
  /** Duplicate-cluster resolution ([[Dedup.dupClusters]] +
    * [[Dedup.resolveClusters]]): connected components over the
    * MinHash-LSH near-dup pair graph (q_dd5's exact pipeline), each
    * member labeled with its cluster (= min doc id of the component),
    * the cluster size, and the keep/purge decision (canonical member
    * keeps). The oracle recomputes the identical pair graph and resolves
    * components with a recursive CTE — so the iterative Spark fixpoint
    * is checked against an independent transitive-closure formulation,
    * not a replay of itself.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairsMemo(Tables.documents(spark, dir),
      threshold = 0.5, md5Parity = true)
    // Closure store-cached (round 20): five queries resolve the same
    // component labels over the memoized pair graph — the fixpoint is
    // derived index state, built once per (session, pair plan).
    Dedup.resolveClusters(Dedup.cachedClusters(pairs))
      .orderBy("doc_id")
  }

  val dupClustersSql: String =
    s"""WITH RECURSIVE ${minhashPairsCtes()},
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node),
       |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY cluster)
       |SELECT node AS doc_id, cluster, cluster_size,
       |       CAST(CASE WHEN node = cluster THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM comp JOIN sizes USING (cluster) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- DD-9b
  /** Cluster resolution with the canonical member chosen by WEIGHTED
    * PageRank ([[Dedup.resolveClustersByRank]]): within each connected
    * component the keeper is the highest-rank member (ties to min id) —
    * the template core its duplicates agree with most, instead of
    * whichever happened to get the lowest id. The oracle composes the
    * q_dd9 recursive-CTE transitive closure with the q_adv7b weighted
    * rank rounds — two independent formulations of both halves.
    */
  def dupClustersByRank(spark: SparkSession, dir: String): DataFrame = {
    // Pair graph consumed by the fixpoint AND the rank rounds:
    // materialize once (q_adv7's checkpoint rationale).
    val pairs = Dedup.nearDupPairsMemo(Tables.documents(spark, dir),
      threshold = 0.5, md5Parity = true)
    Dedup.resolveClustersByRank(pairs, weightCol = Some("jaccard"),
        clusters = Some(Dedup.cachedClusters(pairs)))
      .orderBy("doc_id")
  }

  val dupClustersByRankSql: String = {
    val (ranks, rFinal) = weightedRankCtes()
    s"""WITH RECURSIVE ${minhashPairsCtes()},
       |$ranks,
       |reach(node, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node),
       |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY cluster)
       |SELECT doc_id, cluster, cluster_size, pr, keep FROM (
       |  SELECT c.node AS doc_id, c.cluster, s.cluster_size, r.pr,
       |         CAST(CASE WHEN row_number() OVER (PARTITION BY c.cluster
       |                ORDER BY r.pr DESC, c.node) = 1
       |              THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM comp c JOIN sizes s USING (cluster) JOIN $rFinal r ON c.node = r.node)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- DD-12
  /** Quality-canonical dedup retention
    * ([[Dedup.resolveClustersByScore]] under the q_txt4 quality score):
    * per near-dup cluster, keep the highest-quality member and account
    * for what retention costs — `dropped_tokens` is the token mass
    * removed, and `minid_quality` (what naive lowest-id retention would
    * have kept — the cluster label is its own min-id member) sits next
    * to `keep_quality` so the audit shows the policy's gain directly.
    * Pair graph checkpointed once (q_adv7's rationale); the retention
    * window and the summary aggregate both run over the
    * cluster-member table, not the corpus.
    */
  def qualityRetention(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.nearDupPairsMemo(docs, threshold = 0.5, md5Parity = true)
    val scores = docs.select(col("doc_id"),
      TF.qualityScore(col("text")).as("quality"),
      TF.tokenCount(col("text")).as("n_tokens"))
    Dedup.resolveClustersByScore(pairs, scores,
        clusters = Some(Dedup.cachedClusters(pairs)))
      .groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"),
        min(when(col("keep") === 1, col("doc_id"))).as("keep_doc"),
        min(when(col("keep") === 1, col("quality"))).as("keep_quality"),
        min(when(col("doc_id") === col("cluster"), col("quality")))
          .as("minid_quality"),
        sum(when(col("keep") === 0, col("n_tokens")).otherwise(0L))
          .as("dropped_tokens"))
      .orderBy("cluster")
  }

  val qualityRetentionSql: String = {
    val stop = TF.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE ${minhashPairsCtes()},
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node),
       |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
       |q AS (SELECT doc_id,
       |      round(ln(len(string_split(text, ' ')) + 1.0)
       |            + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |              / len(string_split(text, ' '))
       |            - CAST(len(list_filter(string_split(text, ' '),
       |              x -> list_contains($stop, x))) AS DOUBLE)
       |              / len(string_split(text, ' ')), 6) AS quality,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |      FROM documents),
       |m AS (SELECT c.node AS doc_id, c.cluster, q.quality, q.n_tokens,
       |      row_number() OVER (PARTITION BY c.cluster
       |        ORDER BY q.quality DESC, c.node) AS rn
       |      FROM comp c JOIN q ON c.node = q.doc_id)
       |SELECT cluster, count(*) AS cluster_size,
       |       min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
       |       min(CASE WHEN rn = 1 THEN quality END) AS keep_quality,
       |       min(CASE WHEN doc_id = cluster THEN quality END) AS minid_quality,
       |       CAST(sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
       |         AS dropped_tokens
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- DD-10
  /** Substring-level exact dedup (Lee et al. 2022 ExactSubstr, k = 8
    * tokens): duplicated k-window detection over the whole corpus,
    * maximal-span merge, and span removal —
    * [[graft.operators.Dedup.stripDuplicateSpans]]. One summary row per
    * document (clean docs included — the per-doc audit contract), the
    * cleaned text pinned by md5 so the oracle proves the REMOVAL, not
    * just the counts. The DuckDB oracle replays the identical pipeline:
    * same rolling md5 grams, same >1 duplication rule (cross-doc OR
    * within-doc), same gaps-and-islands merge, same indexed strip.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicateSpans(Tables.documents(spark, dir), k = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_removed"), md5(col("clean_text")).as("clean_fp"))
      .orderBy("doc_id")

  val substringDedupSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (SELECT doc_id, g.pos AS pos, g.h AS h FROM (
      |  SELECT doc_id, unnest(list_transform(range(greatest(len(t) - 7, 0)),
      |    i -> {'pos': CAST(i AS BIGINT),
      |          'h': md5(array_to_string(list_slice(t, i + 1, i + 8), ' '))})) AS g
      |  FROM toks)),
      |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
      |flagged AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
      |isl AS (SELECT doc_id, pos,
      |  CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |       OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |  THEN 1 ELSE 0 END AS new_island FROM flagged),
      |isl2 AS (SELECT doc_id, pos,
      |  sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
      |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos + 8) AS e
      |          FROM isl2 GROUP BY doc_id, island),
      |agg AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS n_removed
      |        FROM spans GROUP BY doc_id),
      |tokrows AS (SELECT doc_id, tr.idx AS idx, tr.tok AS tok FROM (
      |  SELECT doc_id, unnest(list_transform(range(len(t)),
      |    i -> {'idx': CAST(i AS BIGINT), 'tok': t[i + 1]})) AS tr
      |  FROM toks)),
      |keptrows AS (SELECT tr.doc_id, tr.idx, tr.tok FROM tokrows tr
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |    WHERE sp.doc_id = tr.doc_id AND tr.idx >= sp.s AND tr.idx < sp.e)),
      |clean AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY idx)) AS fp
      |          FROM keptrows GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
      |       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
      |       coalesce(c.fp, md5('')) AS clean_fp
      |FROM toks t LEFT JOIN agg a USING (doc_id) LEFT JOIN clean c USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- SIM-1
  /** Brute-force cosine top-10 for query vectors vec_id < 5 against the
    * full corpus (queries broadcast; ranked on the rounded similarity so
    * both engines tie-break identically).
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(embs.where(col("vec_id") < 5), embs, k = 10)
      .orderBy("query_id", "rank")
  }

  val cosineTopKSql: String =
    """SELECT query_id, neighbor_id, cos, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                          CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
      |  FROM (SELECT * FROM embeddings WHERE vec_id < 5
      |        AND len(list_filter(embedding, x -> x != 0)) > 0) q
      |  JOIN (SELECT * FROM embeddings
      |        WHERE len(list_filter(embedding, x -> x != 0)) > 0) c
      |    ON q.vec_id != c.vec_id
      |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- SIM-2
  /** LSH-bucketed approximate top-10. The hyperplane weights are
    * md5-derived plan-time literals ([[Similarity.planeWeights]]), so the
    * generated DuckDB oracle rebuilds the same planes (from its own md5
    * over the same literal keys), buckets, candidate set, and exact
    * re-rank (recall vs brute force is separately asserted in scalatest).
    */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.lshTopK(embs.where(col("vec_id") < 5), embs, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Flip-1 multi-probe LSH top-10 ([[Similarity.lshTopK]] `flip1=true`):
    * each query probes its own bucket plus every bucket one sign-bit away.
    * Planes raised 6→9 so candidate volume stays NEAR q_sim2's while
    * recall improves (measured sf0.01, held-out queries: 0.305 exact@p6 →
    * 0.415 flip1@p9 at ~1.2× the candidates; corpus-side bucketing cost
    * identical — the side that matters at 100 TB).
    */
  def annMultiprobeTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.lshTopK(embs.where(col("vec_id") < 5), embs, k = 10,
        planes = 9, tables = 8, flip1 = true)
      .orderBy("query_id", "rank")
  }

  /** Shared DuckDB replay of [[Similarity.lshTopK]]: md5-derived
    * hyperplanes rebuilt from DuckDB's own md5 over the same literal keys
    * — integer-exact, so projections and sign buckets match Spark's
    * bit-for-bit. With `flip1` the query-side probe set expands to the
    * bucket plus its `planes` one-bit flips (xor), mirroring
    * [[Similarity.lshCandidates]]'s explode.
    */
  private def annSqlFor(planes: Int, tables: Int, flip1: Boolean): String = {
    val wExpr = TF.hexHash60Sql("'plane:' || t.range || ':' || p.range || ':' || d")
    val qbk =
      if (!flip1) "SELECT vec_id, tbl, bucket FROM buck WHERE vec_id < 5"
      else
        s"""SELECT b.vec_id, b.tbl, xor(b.bucket, f.fb) AS bucket
           |        FROM (SELECT * FROM buck WHERE vec_id < 5) b
           |        CROSS JOIN (SELECT CAST(0 AS BIGINT) AS fb UNION ALL
           |                    SELECT CAST(pow(2, range) AS BIGINT) FROM range($planes)) f""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                  CAST(embedding AS DOUBLE[])) > 0),
       |pl AS (SELECT t.range AS tbl, p.range AS plane,
       |       list_transform(range(64), d ->
       |         (CAST($wExpr % ${Similarity.PlaneM} AS DOUBLE) - 1073741823.0)
       |           / 1073741823.0) AS w
       |       FROM range($tables) t CROSS JOIN range($planes) p),
       |proj AS (SELECT v.vec_id, pl.tbl, pl.plane, list_dot_product(v.e, pl.w) AS proj
       |         FROM v CROSS JOIN pl),
       |buck AS (SELECT vec_id, tbl,
       |         CAST(sum(CASE WHEN proj > 0
       |                       THEN CAST(pow(2, plane) AS BIGINT) ELSE 0 END) AS BIGINT)
       |           AS bucket
       |         FROM proj GROUP BY 1, 2),
       |qbk AS ($qbk),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM buck c JOIN qbk q
       |           ON c.tbl = q.tbl AND c.bucket = q.bucket
       |         WHERE q.vec_id != c.vec_id)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         round(list_cosine_similarity(q.e, c.e), 6) AS cos,
       |         row_number() OVER (PARTITION BY cand.query_id
       |           ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                    cand.neighbor_id) AS rank
       |  FROM cand JOIN v q ON cand.query_id = q.vec_id
       |            JOIN v c ON cand.neighbor_id = c.vec_id)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  val annTopKSql: String = annSqlFor(planes = 6, tables = 8, flip1 = false)

  val annMultiprobeSql: String = annSqlFor(planes = 9, tables = 8, flip1 = true)

  // ---------------------------------------------------------------- SIM-3
  /** IVF-partitioned approximate top-10. The coarse quantizer is a
    * deterministic k-means ([[Similarity.trainCentroids]]): seeds are the
    * 16 lowest md5("ivf:"||vec_id) hash keys, then 2 spherical Lloyd
    * iterations with 6dp-rounded assignment cosines and 6dp-rounded
    * per-dimension unit-vector means. Every step is pure relational
    * algebra over deterministic
    * values, so the DuckDB oracle replays the identical training (seed
    * ranking, both Lloyd steps with COALESCE keep-old for emptied cells),
    * the corpus cell assignment, the nProbe=4 query probe set, and the
    * exact re-rank.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    // Parameters pinned to the oracle below (Similarity's DEFAULTS track
    // the recommended production settings, which round 4 moved to the
    // measured ≥0.8-recall point — this query keeps the round-3 shape so
    // bench numbers stay comparable and the oracle stays byte-stable).
    Similarity.ivfTopK(embs.where(col("vec_id") < 5), embs, k = 10,
        nCentroids = 16, nProbe = 4, lloydIters = 2, trainN = 1024,
        seedPlanes = 6, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Shared DuckDB replay of [[Similarity.trainCentroids]] — the CTE
    * block from hash-ranked sample through the final centroid table
    * (named by the returned second element). Callers prepend a `v`
    * CTE (vec_id, e DOUBLE[]) and append their own consumers.
    *
    * One Lloyd step: assign the training sample to the previous
    * centroids (rounded-cosine argmax, cid tie-break), re-center with
    * per-dimension rounded avg of unit vectors, keep the previous
    * centroid for any cell that lost all members OR whose rounded mean
    * cancelled to the zero vector — mirroring trainCentroids line by
    * line.
    */
  private def ivfTrainingCtes(nc: Int, iters: Int, trainN: Int,
      seedPlanes: Int, dim: Int): (String, String) = {
    // Quantizer hyperplanes: same md5-derived family as the LSH oracle,
    // table index -1 (Similarity.trainCentroids' tableOffset).
    val wExpr = TF.hexHash60Sql("'plane:-1:' || p.range || ':' || d")
    def lloyd(i: Int, prev: String): String =
      s"""a$i AS (SELECT cid, e FROM (
         |         SELECT tr.vec_id, tr.e, c.cid,
         |                row_number() OVER (PARTITION BY tr.vec_id
         |                  ORDER BY round(list_cosine_similarity(tr.e, c.ce), 6) DESC,
         |                           c.cid) AS arn
         |         FROM tr CROSS JOIN $prev c) WHERE arn = 1),
         |u$i AS (SELECT cid, list(cx ORDER BY d) AS ce FROM (
         |         SELECT cid, d.range AS d,
         |                round(avg(e[d.range + 1] / sqrt(list_dot_product(e, e))), 6) AS cx
         |         FROM a$i CROSS JOIN range($dim) d GROUP BY 1, 2) GROUP BY cid),
         |c$i AS (SELECT p.cid,
         |        COALESCE(CASE WHEN list_dot_product(u.ce, u.ce) > 0 THEN u.ce END,
         |                 p.ce) AS ce
         |        FROM $prev p LEFT JOIN u$i u USING (cid))""".stripMargin
    val steps = (1 to iters).map(i => lloyd(i, s"c${i - 1}")).mkString(",\n")
    val block =
      s"""vn AS (SELECT vec_id, e, md5('ivf:' || CAST(vec_id AS VARCHAR)) AS hk
         |       FROM v WHERE list_dot_product(e, e) > 0),
         |tr AS (SELECT vec_id, e, hk FROM (
         |         SELECT vec_id, e, hk, row_number() OVER (ORDER BY hk, vec_id) AS rn FROM vn)
         |       WHERE rn <= $trainN),
         |pw AS (SELECT p.range AS plane,
         |       list_transform(range($dim), d ->
         |         (CAST($wExpr % ${graft.operators.Similarity.PlaneM} AS DOUBLE)
         |            - 1073741823.0) / 1073741823.0) AS w
         |       FROM range($seedPlanes) p),
         |sbk AS (SELECT tr.vec_id, tr.hk,
         |        CAST(sum(CASE WHEN list_dot_product(tr.e, pw.w) > 0
         |                      THEN CAST(pow(2, pw.plane) AS BIGINT) ELSE 0 END) AS BIGINT)
         |          AS bucket
         |        FROM tr CROSS JOIN pw GROUP BY 1, 2),
         |bx AS (SELECT bucket, count(*) AS bsize, min_by(vec_id, hk) AS seed_id
         |       FROM sbk GROUP BY bucket),
         |c0 AS (SELECT CAST(s.rn - 1 AS BIGINT) AS cid, tr.e AS ce FROM (
         |         SELECT seed_id, row_number() OVER (ORDER BY bsize DESC, bucket) AS rn
         |         FROM bx) s
         |       JOIN tr ON tr.vec_id = s.seed_id WHERE s.rn <= $nc),
         |$steps""".stripMargin
    (block, s"c$iters")
  }

  val ivfTopKSql: String = {
    val (nc, np, iters, trainN, dim, k) = (16, 4, 2, 1024, 64, 10)
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |ca AS (SELECT vec_id AS neighbor_id, e AS ne, cid FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c)
       |  WHERE rn = 1 AND list_dot_product(e, e) > 0),
       |qa AS (SELECT vec_id AS query_id, e AS qe, cid FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c WHERE v.vec_id < 5)
       |  WHERE rn <= $np AND list_dot_product(e, e) > 0)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT qa.query_id, ca.neighbor_id,
       |         round(list_cosine_similarity(qa.qe, ca.ne), 6) AS cos,
       |         row_number() OVER (PARTITION BY qa.query_id
       |           ORDER BY round(list_cosine_similarity(qa.qe, ca.ne), 6) DESC,
       |                    ca.neighbor_id) AS rank
       |  FROM ca JOIN qa USING (cid) WHERE qa.query_id != ca.neighbor_id)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- SIM-5
  /** Int8 IVF index + exact float re-rank
    * ([[Similarity.ivfTopKInt8]]) — q_sim4's audit turned into the
    * production artifact: corpus stored as one byte per dimension on the
    * per-dim (min, max) grid, cells assigned and candidates ranked on
    * the reconstructed midpoints, top-`rerankDepth` survivors re-ranked
    * with exact float cosine. Same training/probe parameters as q_sim3,
    * so the two results isolate exactly the quantization effect.
    */
  def ivfInt8TopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.ivfTopKInt8(embs.where(col("vec_id") < 5), embs, k = 10,
        rerankDepth = 30, nCentroids = 16, nProbe = 4, lloydIters = 2,
        trainN = 1024, seedPlanes = 6, dim = 64)
      .orderBy("query_id", "rank")
  }

  val ivfInt8Sql: String = {
    val (nc, np, iters, trainN, dim, k, rerank) = (16, 4, 2, 1024, 64, 10, 30)
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    // Quantize + midpoint-reconstruct exactly as QuantizeInt8/Int8Recon:
    // code = clamp(floor((x-lo)/(hi-lo)*255), 0, 255); recon = lo +
    // (code+0.5)*(hi-lo)/256 — identical double ops and associativity.
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |st AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM (
       |         SELECT d.range AS d, min(v.e[d.range + 1]) AS lo,
       |                max(v.e[d.range + 1]) AS hi
       |         FROM v CROSS JOIN range($dim) d GROUP BY 1)),
       |re AS (SELECT v.vec_id, list_transform(range($dim), d ->
       |         CASE WHEN st.hi[d + 1] > st.lo[d + 1]
       |              THEN st.lo[d + 1] +
       |                   (LEAST(GREATEST(floor((v.e[d + 1] - st.lo[d + 1])
       |                      / (st.hi[d + 1] - st.lo[d + 1]) * 255.0), 0.0), 255.0)
       |                    + 0.5) * (st.hi[d + 1] - st.lo[d + 1]) / 256.0
       |              ELSE st.lo[d + 1] END) AS re
       |       FROM v CROSS JOIN st),
       |rz AS (SELECT vec_id, re FROM re WHERE list_dot_product(re, re) > 0),
       |caq AS (SELECT vec_id AS neighbor_id, re, cid FROM (
       |    SELECT r.vec_id, r.re, c.cid,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY round(list_cosine_similarity(r.re, c.ce), 6) DESC, c.cid) AS rn
       |    FROM rz r CROSS JOIN $cFinal c)
       |  WHERE rn = 1),
       |qa AS (SELECT vec_id AS query_id, e AS qe, cid FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c WHERE v.vec_id < 5)
       |  WHERE rn <= $np AND list_dot_product(e, e) > 0),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT qa.query_id, caq.neighbor_id,
       |           row_number() OVER (PARTITION BY qa.query_id
       |             ORDER BY round(list_cosine_similarity(qa.qe, caq.re), 6) DESC,
       |                      caq.neighbor_id) AS arank
       |    FROM caq JOIN qa USING (cid) WHERE qa.query_id != caq.neighbor_id)
       |  WHERE arank <= $rerank)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         round(list_cosine_similarity(q.e, c.e), 6) AS cos,
       |         row_number() OVER (PARTITION BY cand.query_id
       |           ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                    cand.neighbor_id) AS rank
       |  FROM cand JOIN v q ON cand.query_id = q.vec_id
       |            JOIN v c ON cand.neighbor_id = c.vec_id
       |  WHERE list_dot_product(q.e, q.e) > 0 AND list_dot_product(c.e, c.e) > 0)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- SIM-4
  /** Int8 scalar quantization audit: per-dimension (min, max) over the
    * corpus define 256 uniform levels; each element quantizes to
    * `floor((x-min)/(max-min)·255)` and reconstructs to the level
    * midpoint. Output: per label class, the mean/max absolute
    * reconstruction error — the decision input for shipping a
    * 4×-smaller int8 ANN index. Everything is IEEE-exact cross-engine:
    * min/max of floats are data values, and both engines evaluate the
    * same double expressions on them, so only the final avg needs
    * rounding. Shape: one 64-group stats aggregate, broadcast back to
    * the element stream, one label aggregate — the corpus never
    * shuffles.
    */
  def quantizationError(spark: SparkSession, dir: String): DataFrame = {
    val elems = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"), col("x").cast("double").as("x"))
    val stats = elems.groupBy("d")
      .agg(min("x").as("lo"), max("x").as("hi"))
    val q = floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 255.0)
    val recon = col("lo") + (q + 0.5) * (col("hi") - col("lo")) / 256.0
    elems.join(broadcast(stats), "d")
      .select(col("label"),
        when(col("hi") > col("lo"), abs(col("x") - recon)).otherwise(lit(0.0))
          .as("err"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_elems"),
        round(avg("err"), 6).as("avg_err"),
        round(max("err"), 6).as("max_err"))
      .orderBy("label")
  }

  val quantizationErrorSql: String =
    """WITH e AS (SELECT CAST(label AS BIGINT) AS label, d.range AS d,
      |                  CAST(em[d.range + 1] AS DOUBLE) AS x
      |           FROM (SELECT label, embedding AS em FROM embeddings)
      |           CROSS JOIN range(64) d),
      |s AS (SELECT d, min(x) AS lo, max(x) AS hi FROM e GROUP BY d)
      |SELECT label, count(*) AS n_elems,
      |       round(avg(err), 6) AS avg_err,
      |       round(max(err), 6) AS max_err
      |FROM (SELECT e.label,
      |             CASE WHEN s.hi > s.lo
      |                  THEN abs(e.x - (s.lo + (floor((e.x - s.lo) / (s.hi - s.lo) * 255.0)
      |                                          + 0.5) * (s.hi - s.lo) / 256.0))
      |                  ELSE 0.0 END AS err
      |      FROM e JOIN s ON e.d = s.d)
      |GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- SIM-7
  /** Product-quantization reconstruction audit
    * ([[Similarity.trainPqCodebooks]] + [[Similarity.pqEncode]], m=4
    * subspaces × 16 codes): per label class the count, mean, and max of
    * the per-vector total squared-L2 residual — q_sim4's decision audit
    * for the NEXT compression step (4 B/vector vs int8's 64 B at
    * dim 64). The per-vector error is the fixed-order sum of the four
    * per-subspace residuals (each a single row post-argmin), so the
    * float total is shuffle-order-free; the oracle replays the whole
    * per-subspace k-means + encode in SQL.
    */
  def pqError(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val cb = Similarity.trainPqCodebooks(embs, m = 4, ksub = 16, iters = 2,
      trainN = 1024, dim = 64)
    // LAZY encode, fused into this query's own plan (the int8Encode
    // pattern): this audit is the code table's SINGLE consumer here —
    // the whole per-subspace argmin feeds straight into the residual
    // aggregate, and whole-stage codegen keeps that one pass cheaper
    // than routing through the shared pqCodes memo slot (r8 measured
    // the slot's eager persist + cached-table re-read at ~0.35 s over
    // the fused form — the round's one perf regression, retired here).
    // q_sim8/q_sim10 SERVE the code table repeatedly and keep the slot.
    val enc = Similarity.pqEncode(embs, cb, m = 4, dim = 64)
    val errSum = (0 until 4)
      .map(j => coalesce(sum(when(col("sub") === j, col("err"))), lit(0.0)))
      .reduceLeft(_ + _)
    enc.groupBy("vec_id").agg(errSum.as("err"))
      .join(embs.select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
      .groupBy("label")
      // Exact mean: each err is a fixed-order sum of 6dp-rounded
      // residuals, so as DECIMAL(38,6) the average no longer depends on
      // the order rows arrive from the shuffle (a double avg could flip
      // a 6dp rounding tie between runs).
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("err").cast(DecimalType(38, 6))), 6).cast("double")
          .as("avg_err"),
        round(max("err"), 6).as("max_err"))
      .orderBy("label")
  }

  /** Generated CTE chain for the PQ oracle: content-hash training
    * sample → per-subspace hash-order seeds → `iters` L2 Lloyd rounds
    * (assign by rounded d², ties to lowest cid; per-dim rounded raw
    * mean; emptied cell keeps its codeword) — the SQL mirror of
    * [[Similarity.trainPqCodebooks]], same discipline as
    * [[ivfTrainingCtes]].
    */
  private def pqTrainingCtes(m: Int, subdim: Int, ksub: Int, iters: Int,
      trainN: Int, prefix: String = ""): (String, String) = {
    // `prefix` namespaces every CTE so the block can coexist with
    // ivfTrainingCtes (which also defines vn/tr/c$i) in one query —
    // the q_sim10 oracle composes both training replays.
    val p = prefix
    val d2 = (s: String, c: String) =>
      s"round(list_dot_product($s, $s) - 2 * list_dot_product($s, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    def lloyd(i: Int): String =
      s"""${p}a$i AS (SELECT sub, cid, s FROM (
         |   SELECT t.vec_id, t.sub, t.s, c.cid,
         |          row_number() OVER (PARTITION BY t.vec_id, t.sub
         |            ORDER BY ${d2("t.s", "c.ce")}, c.cid) AS rn
         |   FROM ${p}tsv t JOIN ${p}c${i - 1} c ON t.sub = c.sub) WHERE rn = 1),
         |${p}u$i AS (SELECT sub, cid, list(cx ORDER BY d) AS ce FROM (
         |   SELECT sub, cid, d.range AS d, round(avg(s[d.range + 1]), 6) AS cx
         |   FROM ${p}a$i CROSS JOIN range($subdim) d GROUP BY 1, 2, 3)
         |   GROUP BY sub, cid),
         |${p}c$i AS (SELECT p.sub, p.cid, COALESCE(u.ce, p.ce) AS ce
         |   FROM ${p}c${i - 1} p LEFT JOIN ${p}u$i u ON p.sub = u.sub AND p.cid = u.cid)"""
        .stripMargin
    val steps = (1 to iters).map(lloyd).mkString(",\n")
    val block =
      s"""${p}vn AS (SELECT vec_id, e, md5('pq:' || CAST(vec_id AS VARCHAR)) AS hk
         |       FROM v WHERE list_dot_product(e, e) > 0),
         |${p}tr AS (SELECT vec_id, e, hk FROM (
         |         SELECT vec_id, e, hk, row_number() OVER (ORDER BY hk, vec_id) AS rn
         |         FROM ${p}vn) WHERE rn <= $trainN),
         |${p}tsv AS (SELECT vec_id, hk, j.range AS sub,
         |        list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
         |        FROM ${p}tr CROSS JOIN range($m) j),
         |${p}c0 AS (SELECT sub, CAST(rn - 1 AS BIGINT) AS cid, s AS ce FROM (
         |         SELECT sub, s, row_number() OVER (PARTITION BY sub
         |           ORDER BY hk, vec_id) AS rn FROM ${p}tsv) WHERE rn <= $ksub),
         |$steps""".stripMargin
    (block, s"${p}c$iters")
  }

  val pqErrorSql: String = {
    val (m, subdim, ksub, iters, trainN) = (4, 16, 16, 2, 1024)
    val (training, cFinal) = pqTrainingCtes(m, subdim, ksub, iters, trainN)
    val d2 = (s: String, c: String) =>
      s"round(list_dot_product($s, $s) - 2 * list_dot_product($s, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    val errSum = (0 until m)
      .map(j => s"coalesce(sum(CASE WHEN sub = $j THEN d2 END), 0)")
      .mkString("\n       + ")
    s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |                  CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |sv AS (SELECT vec_id, label, j.range AS sub,
       |       list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
       |       FROM v CROSS JOIN range($m) j),
       |enc AS (SELECT vec_id, label, sub, cid, d2 FROM (
       |   SELECT t.vec_id, t.label, t.sub, c.cid,
       |          ${d2("t.s", "c.ce")} AS d2,
       |          row_number() OVER (PARTITION BY t.vec_id, t.sub
       |            ORDER BY ${d2("t.s", "c.ce")}, c.cid) AS rn
       |   FROM sv t JOIN $cFinal c ON t.sub = c.sub) WHERE rn = 1),
       |pv AS (SELECT vec_id, label,
       |       $errSum AS err
       |       FROM enc GROUP BY 1, 2)
       |SELECT label, count(*) AS n_vecs, round(avg(err), 6) AS avg_err,
       |       round(max(err), 6) AS max_err
       |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** SIM-8: the PQ index as a DURABLE artifact — train codebooks, encode
    * the corpus to (vec_id, sub, code) rows, WRITE both tables to
    * parquet, read them back, and digest: code-row and distinct-vector
    * counts, the exact Σ(code+½) checksum (dyadic halves sum exactly in
    * double — order-independent across engines), and the codebook's row
    * count + rounded element sum. The oracle recomputes the identical
    * per-subspace training + encode straight from the corpus parquet,
    * so a hash match proves the persisted artifact is the lossless
    * "train once, serve forever" index the PQ serving tier
    * ([[Similarity.pqAdcTopK]] / [[Similarity.ivfPqTopK]]) reads.
    */
  def pqIndexRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val base = RelationalQueries.scratchDir("sim8")
    val cb = Similarity.trainPqCodebooks(embs, m = 4, ksub = 16, iters = 2,
      trainN = 1024, dim = 64)
    Similarity.pqCodes(embs, cb, m = 4, dim = 64)
      .select("vec_id", "sub", "code")
      .write.mode("overwrite").parquet(s"$base/codes")
    cb.write.mode("overwrite").parquet(s"$base/codebooks")
    val rCodes = spark.read.parquet(s"$base/codes")
    val rCb = spark.read.parquet(s"$base/codebooks")
    val cbDigest = rCb.agg(count(lit(1)).as("cb_rows"),
      round(sum(aggregate(col("ce"), lit(0.0), (a, x) => a + x)), 6).as("cb_sum"))
    rCodes.agg(count(lit(1)).as("n_rows"),
        countDistinct("vec_id").as("n_vecs"),
        sum(col("code") + 0.5).as("code_sum"))
      .crossJoin(cbDigest)
  }

  val pqIndexRoundtripSql: String = {
    val (m, subdim, ksub, iters, trainN) = (4, 16, 16, 2, 1024)
    val (training, cFinal) = pqTrainingCtes(m, subdim, ksub, iters, trainN)
    val d2 = (s: String, c: String) =>
      s"round(list_dot_product($s, $s) - 2 * list_dot_product($s, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |sv AS (SELECT vec_id, j.range AS sub,
       |       list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
       |       FROM v CROSS JOIN range($m) j),
       |enc AS (SELECT vec_id, sub, cid FROM (
       |   SELECT t.vec_id, t.sub, c.cid,
       |          row_number() OVER (PARTITION BY t.vec_id, t.sub
       |            ORDER BY ${d2("t.s", "c.ce")}, c.cid) AS rn
       |   FROM sv t JOIN $cFinal c ON t.sub = c.sub) WHERE rn = 1),
       |cd AS (SELECT count(*) AS n_rows, count(DISTINCT vec_id) AS n_vecs,
       |       sum(cid + 0.5) AS code_sum FROM enc),
       |cbd AS (SELECT (SELECT count(*) FROM $cFinal) AS cb_rows,
       |        round(sum(x), 6) AS cb_sum
       |        FROM (SELECT unnest(ce) AS x FROM $cFinal))
       |SELECT n_rows, n_vecs, code_sum, cb_rows, cb_sum
       |FROM cd CROSS JOIN cbd""".stripMargin
  }

  /** SIM-9: INCREMENTAL PQ index append + drift
    * ([[Similarity.appendToPqIndex]] / [[Similarity.pqDrift]]) — the
    * q_sim5c story for the PQ tier, so BOTH serving tiers now
    * train-once/append-forever. The corpus splits 9:1 on id residue:
    * codebooks train on the base 90%, the held-out 10% is APPENDED —
    * encoded on the fixed codebooks, no retraining. Output: the
    * appended code table's digest (row/vector counts + exact Σ(code+½)
    * checksum — dyadic halves sum exactly in double) crossed with the
    * code-usage drift row (max per-subspace total-variation distance +
    * retrain flag). Because the codebooks are fixed and the argmin
    * deterministic, append ≡ encode-the-union — exactly what the oracle
    * replays (train on base, encode base ∪ new, digest, histogram), so
    * a hash match proves the append path produces the artifact a
    * from-scratch encode would. The same-distribution split pins
    * retrain = 0; the planted-shift case where it flips to 1 is
    * SimilaritySpec's.
    */
  def pqIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val base = embs.where(col("vec_id") % 10 =!= 0)
    val fresh = embs.where(col("vec_id") % 10 === 0)
    val cb = Similarity.trainPqCodebooks(base, m = 4, ksub = 16, iters = 2,
      trainN = 1024, dim = 64)
    // The STORED-index side is a memoized build artifact (consumed by
    // both the append and the drift histogram, and rep over rep); the
    // arriving `fresh` side stays on the raw per-batch encode path.
    val codes = Similarity.pqCodes(base, cb, m = 4, dim = 64)
      .select("vec_id", "sub", "code")
    val appended = Similarity.appendToPqIndex(fresh, codes, cb, m = 4, dim = 64)
    val drift = Similarity.pqDrift(fresh, codes, cb, m = 4, dim = 64)
    appended.agg(
        count(lit(1)).as("n_rows"),
        countDistinct("vec_id").as("n_vecs"),
        sum(col("code") + 0.5).as("code_sum"))
      .crossJoin(drift)
  }

  val pqIndexAppendSql: String = {
    val (m, subdim, ksub, iters, trainN) = (4, 16, 16, 2, 1024)
    // Training CTEs see `v` = the BASE split only; the union view `vu`
    // is what gets encoded — the from-scratch equivalent of the append.
    val (training, cFinal) = pqTrainingCtes(m, subdim, ksub, iters, trainN)
    val d2 = (s: String, c: String) =>
      s"round(list_dot_product($s, $s) - 2 * list_dot_product($s, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |           WHERE vec_id % 10 != 0),
       |$training,
       |vu AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |              vec_id % 10 = 0 AS is_new FROM embeddings),
       |sv AS (SELECT vec_id, is_new, j.range AS sub,
       |       list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
       |       FROM vu CROSS JOIN range($m) j),
       |enc AS (SELECT vec_id, is_new, sub, cid FROM (
       |   SELECT t.vec_id, t.is_new, t.sub, c.cid,
       |          row_number() OVER (PARTITION BY t.vec_id, t.sub
       |            ORDER BY ${d2("t.s", "c.ce")}, c.cid) AS rn
       |   FROM sv t JOIN $cFinal c ON t.sub = c.sub) WHERE rn = 1),
       |tn AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS t FROM enc WHERE is_new),
       |ti AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS t FROM enc WHERE NOT is_new),
       |hn AS (SELECT sub, cid, count(*) AS n FROM enc WHERE is_new GROUP BY 1, 2),
       |hx AS (SELECT sub, cid, count(*) AS n FROM enc WHERE NOT is_new GROUP BY 1, 2),
       |terms AS (SELECT c.sub,
       |          round(abs(coalesce(hn.n, 0) / tn.t - coalesce(hx.n, 0) / ti.t), 9) AS tt
       |          FROM $cFinal c
       |          LEFT JOIN hn ON c.sub = hn.sub AND c.cid = hn.cid
       |          LEFT JOIN hx ON c.sub = hx.sub AND c.cid = hx.cid
       |          CROSS JOIN tn CROSS JOIN ti),
       |tv AS (SELECT sub, round(sum(tt) / 2.0, 6) AS tv FROM terms GROUP BY 1),
       |dr AS (SELECT max(tv) AS tv_max,
       |       CAST(max(tv) > 0.2 AS BIGINT) AS retrain FROM tv),
       |dig AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |        CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       |        sum(cid + 0.5) AS code_sum FROM enc)
       |SELECT n_rows, n_vecs, code_sum, tv_max, retrain
       |FROM dig CROSS JOIN dr""".stripMargin
  }

  /** SIM-10: the composed IVF×PQ serving path ([[Similarity.ivfPqTopK]]
    * — FAISS's workhorse layout) ORACLED end-to-end: coarse k-means
    * cells + per-subspace PQ codes, query probes its nProbe cells,
    * ADC-scores only those cells' codes via the broadcast LUT, exact
    * float re-rank of the survivors. The DuckDB oracle replays BOTH
    * trainings (the q_sim3 coarse CTEs + the q_sim7 PQ CTEs, namespaced
    * to coexist), the cell assignment, probe, fixed-order ADC sums, and
    * the re-rank — so the full production serving composition, not just
    * its parts, is hash-checked cross-engine.
    */
  def ivfPqServe(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.ivfPqTopK(embs.where(col("vec_id") < 5), embs, k = 10,
        rerankDepth = 50, nCentroids = 16, nProbe = 4, lloydIters = 2,
        trainN = 1024, seedPlanes = 6, m = 4, ksub = 16, dim = 64)
      .orderBy("query_id", "rank")
  }

  val ivfPqServeSql: String = {
    val (nc, np, iters, trainN, dim, k, rerank) = (16, 4, 2, 1024, 64, 10, 50)
    val (m, subdim, ksub) = (4, 16, 16)
    val (coarse, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    val (pqTrain, pqFinal) = pqTrainingCtes(m, subdim, ksub, iters, trainN, prefix = "pq")
    val d2 = (s: String, c: String) =>
      s"round(list_dot_product($s, $s) - 2 * list_dot_product($s, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    // Fixed-order per-subspace sums — the SQL mirror of subspaceSum.
    def fixedSum(v: String) = (0 until m)
      .map(j => s"coalesce(sum(CASE WHEN sub = $j THEN $v END), 0)")
      .mkString("\n       + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$coarse,
       |$pqTrain,
       |cells AS (SELECT vec_id, cell FROM (
       |   SELECT v.vec_id, c.cid AS cell,
       |          row_number() OVER (PARTITION BY v.vec_id
       |            ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |   FROM v CROSS JOIN $cFinal c
       |   WHERE list_dot_product(v.e, v.e) > 0) WHERE rn = 1),
       |sv AS (SELECT vec_id, j.range AS sub,
       |       list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
       |       FROM v CROSS JOIN range($m) j),
       |enc AS (SELECT vec_id, sub, cid AS code FROM (
       |   SELECT t.vec_id, t.sub, c.cid,
       |          row_number() OVER (PARTITION BY t.vec_id, t.sub
       |            ORDER BY ${d2("t.s", "c.ce")}, c.cid) AS rn
       |   FROM sv t JOIN $pqFinal c ON t.sub = c.sub) WHERE rn = 1),
       |q AS (SELECT vec_id, e FROM v
       |      WHERE vec_id < 5 AND list_dot_product(e, e) > 0),
       |probed AS (SELECT query_id, cell FROM (
       |   SELECT q.vec_id AS query_id, c.cid AS cell,
       |          row_number() OVER (PARTITION BY q.vec_id
       |            ORDER BY round(list_cosine_similarity(q.e, c.ce), 6) DESC, c.cid) AS crn
       |   FROM q CROSS JOIN $cFinal c) WHERE crn <= $np),
       |qsv AS (SELECT vec_id AS query_id, j.range AS sub,
       |        list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
       |        FROM q CROSS JOIN range($m) j),
       |lut AS (SELECT query_id, qsv.sub AS sub, c.cid AS code,
       |        list_dot_product(s, c.ce) AS qc, list_dot_product(c.ce, c.ce) AS cc
       |        FROM qsv JOIN $pqFinal c ON qsv.sub = c.sub),
       |qn AS (SELECT query_id, sqrt(${fixedSum("ss")}) AS qn
       |       FROM (SELECT query_id, sub, list_dot_product(s, s) AS ss FROM qsv)
       |       GROUP BY query_id),
       |pre AS (SELECT p.query_id, e2.vec_id AS neighbor_id, e2.sub, l.qc, l.cc
       |        FROM enc e2 JOIN cells ON e2.vec_id = cells.vec_id
       |        JOIN probed p ON cells.cell = p.cell
       |        JOIN lut l ON l.query_id = p.query_id AND l.sub = e2.sub
       |                  AND l.code = e2.code),
       |adc AS (SELECT query_id, neighbor_id,
       |        ${fixedSum("qc")} AS dot,
       |        ${fixedSum("cc")} AS rn2
       |        FROM pre GROUP BY 1, 2),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |   SELECT a.query_id, a.neighbor_id,
       |          row_number() OVER (PARTITION BY a.query_id
       |            ORDER BY round(a.dot / (qn.qn * sqrt(a.rn2)), 6) DESC,
       |                     a.neighbor_id) AS arank
       |   FROM adc a JOIN qn USING (query_id)
       |   WHERE a.query_id != a.neighbor_id AND a.rn2 > 0) WHERE arank <= $rerank)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         round(list_cosine_similarity(q.e, c.e), 6) AS cos,
       |         row_number() OVER (PARTITION BY cand.query_id
       |           ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                    cand.neighbor_id) AS rank
       |  FROM cand JOIN q ON cand.query_id = q.vec_id
       |            JOIN v c ON cand.neighbor_id = c.vec_id
       |  WHERE list_dot_product(c.e, c.e) > 0)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** SIM-5b: the int8 index as a DURABLE artifact — build
    * [[Similarity.int8Index]] (id + cell + one byte/dim) and its one-row
    * grid, WRITE both to parquet, read them back, and digest:
    * row/cell/cid counts, an EXACT code checksum (Σ(code+0.5) — dyadic
    * halves sum exactly in double, so the value is order-independent
    * across engines), and the re-read grid's element sum. The DuckDB
    * oracle recomputes the identical quantized build (training, grid,
    * codes, cell argmax) straight from the parquet corpus, so equality
    * proves the persisted index is a lossless, duplicate-free copy of
    * the build — the "train once, serve forever" artifact the int8
    * story ends in.
    */
  def int8IndexRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{QuantExpressions => QE}
    val embs = Tables.embeddings(spark, dir)
    val base = RelationalQueries.scratchDir("sim5b")
    Similarity.int8Index(embs, nCentroids = 16, lloydIters = 2,
        trainN = 1024, seedPlanes = 6, dim = 64)
      .write.mode("overwrite").parquet(s"$base/index")
    Similarity.int8Stats(embs).write.mode("overwrite").parquet(s"$base/grid")
    val rIndex = spark.read.parquet(s"$base/index")
    val rGrid = spark.read.parquet(s"$base/grid")
    // codes + 0.5, recovered from the BYTES via the recon expression
    // with the (0, 256) grid: lo + (code+0.5)·(256-0)/256 = code + 0.5.
    val halves = QE.int8Recon(col("qcode"),
      typedLit(Seq.fill(64)(0.0)), typedLit(Seq.fill(64)(256.0)))
    val gridSum = rGrid.select(round(
      aggregate(col("lo"), lit(0.0), (a, x) => a + x) +
        aggregate(col("hi"), lit(0.0), (a, x) => a + x), 6).as("grid_sum"))
    rIndex
      .select(col("neighbor_id"), col("cid"),
        aggregate(halves, lit(0.0), (a, x) => a + x).as("vec_code_sum"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct("cid").as("n_cells"),
        sum("cid").cast("long").as("sum_cid"),
        sum("vec_code_sum").as("code_sum"))
      .crossJoin(gridSum)
  }

  /** SIM-5c: INCREMENTAL index append + drift check
    * ([[Similarity.appendToInt8Index]] / [[Similarity.indexDrift]]).
    * The corpus is split 9:1 on id residue: the index is built (train +
    * grid + encode) on the base 90%, then the held-out 10% is APPENDED —
    * encoded on the existing grid, assigned to the existing centroids,
    * no retraining. Output: the sim5b-style digest of the appended index
    * (row/cell/cid counts + exact code checksum) crossed with the drift
    * row. Because the quantizer is fixed, append ≡ encoding the UNION
    * with that quantizer — which is exactly what the DuckDB oracle
    * replays (train on base, encode base ∪ new, assign, digest), so a
    * hash match proves the append path produces the same artifact a
    * from-scratch encode would. The same-distribution split pins
    * retrain = 0 (drift ≈ 0) — the planted-shift case where retrain
    * flips to 1 is SimilaritySpec's.
    */
  /** The build artifacts are STORE-CACHED (parquet under the session
    * scratch dir, keyed by corpus dir, built once per JVM behind a
    * lock): the trained quantizer, grid and base index are "train
    * once, serve forever" artifacts — exactly what the
    * IndexMaintenance generation stores persist in production. The
    * earlier per-run localCheckpoint retrained on EVERY invocation
    * (each bench rep, each consumer session), and the round-15..17
    * boards measured the residue as a 2× bimodal swing; the shared
    * capacity-4 "trained" memo slot cannot help on full boards (the
    * sim family cycles more distinct training configs than slots per
    * pass). The artifact's content is byte-identical to what the
    * checkpoint held — training is deterministic — so the DuckDB
    * oracle (a from-scratch rebuild) is unchanged.
    */
  private val sim5cBuildLock = new AnyRef

  def int8IndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{QuantExpressions => QE}
    val embs = Tables.embeddings(spark, dir)
    val base = embs.where(col("vec_id") % 10 =!= 0)
    val fresh = embs.where(col("vec_id") % 10 === 0)
    val art = RelationalQueries.scratchDir(
      "sim5c_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val marker = java.nio.file.Paths.get(art, "_BUILT")
    sim5cBuildLock.synchronized {
      if (!java.nio.file.Files.exists(marker)) {
        val centroids = Similarity.trainCentroids(base, nCentroids = 16,
          iters = 2, trainN = 1024, seedPlanes = 6, dim = 64)
        val grid = Similarity.int8Stats(base, dim = 64)
        centroids.write.mode("overwrite").parquet(s"$art/centroids")
        grid.write.mode("overwrite").parquet(s"$art/grid")
        Similarity.int8IndexWith(base,
            spark.read.parquet(s"$art/grid"),
            spark.read.parquet(s"$art/centroids"))
          .write.mode("overwrite").parquet(s"$art/index")
        java.nio.file.Files.createFile(marker)
      }
    }
    val centroids = spark.read.parquet(s"$art/centroids")
    val grid = spark.read.parquet(s"$art/grid")
    val index = spark.read.parquet(s"$art/index")
    val appended = Similarity.appendToInt8Index(fresh, index, grid, centroids)
    val drift = Similarity.indexDrift(fresh, index, grid, centroids)
    // Same digest as q_sim5b: Σ(code+0.5) is a dyadic-halves sum, exact
    // and order-independent in double across engines.
    val halves = QE.int8Recon(col("qcode"),
      typedLit(Seq.fill(64)(0.0)), typedLit(Seq.fill(64)(256.0)))
    appended
      .select(col("neighbor_id"), col("cid"),
        aggregate(halves, lit(0.0), (a, x) => a + x).as("vec_code_sum"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct("cid").as("n_cells"),
        sum("cid").cast("long").as("sum_cid"),
        sum("vec_code_sum").as("code_sum"))
      .crossJoin(drift)
  }

  val int8IndexAppendSql: String = {
    val (nc, iters, trainN, dim) = (16, 2, 1024, 64)
    // Training + grid CTEs see `v` = the BASE split only; the union view
    // `vu` (base ∪ appended rows) is what gets encoded and assigned —
    // the from-scratch equivalent of the Spark side's append.
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |           WHERE vec_id % 10 != 0),
       |$training,
       |st AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM (
       |         SELECT d.range AS d, min(v.e[d.range + 1]) AS lo,
       |                max(v.e[d.range + 1]) AS hi
       |         FROM v CROSS JOIN range($dim) d GROUP BY 1)),
       |vu AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |              CAST(vec_id % 10 = 0 AS BOOLEAN) AS is_new
       |       FROM embeddings),
       |qc AS (SELECT vu.vec_id, list_transform(range($dim), d ->
       |         CASE WHEN st.hi[d + 1] > st.lo[d + 1]
       |              THEN LEAST(GREATEST(floor((vu.e[d + 1] - st.lo[d + 1])
       |                     / (st.hi[d + 1] - st.lo[d + 1]) * 255.0), 0.0), 255.0)
       |              ELSE 0.0 END) AS codes
       |       FROM vu CROSS JOIN st),
       |re AS (SELECT vu.vec_id, vu.is_new, list_transform(range($dim), d ->
       |         CASE WHEN st.hi[d + 1] > st.lo[d + 1]
       |              THEN st.lo[d + 1] +
       |                   (LEAST(GREATEST(floor((vu.e[d + 1] - st.lo[d + 1])
       |                      / (st.hi[d + 1] - st.lo[d + 1]) * 255.0), 0.0), 255.0)
       |                    + 0.5) * (st.hi[d + 1] - st.lo[d + 1]) / 256.0
       |              ELSE st.lo[d + 1] END) AS re
       |       FROM vu CROSS JOIN st),
       |rz AS (SELECT vec_id, is_new, re FROM re WHERE list_dot_product(re, re) > 0),
       |best AS (SELECT r.vec_id, r.is_new,
       |                max(round(list_cosine_similarity(r.re, c.ce), 6)) AS bcos
       |         FROM rz r CROSS JOIN $cFinal c GROUP BY 1, 2),
       |caq AS (SELECT vec_id AS neighbor_id, is_new, cid FROM (
       |    SELECT r.vec_id, r.is_new, c.cid,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY round(list_cosine_similarity(r.re, c.ce), 6) DESC, c.cid) AS rn
       |    FROM rz r CROSS JOIN $cFinal c)
       |  WHERE rn = 1),
       |fits AS (SELECT
       |    (SELECT round(sum(bcos), 6) / count(*) FROM best WHERE is_new) AS fit_new,
       |    (SELECT round(sum(bcos), 6) / count(*) FROM best WHERE NOT is_new)
       |      AS fit_indexed)
       |SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(count(DISTINCT cid) AS BIGINT) AS n_cells,
       |       CAST(sum(cid) AS BIGINT) AS sum_cid,
       |       sum(vec_code_sum) AS code_sum,
       |       fits.fit_new AS fit_new,
       |       fits.fit_indexed AS fit_indexed,
       |       fits.fit_indexed - fits.fit_new AS drift,
       |       CAST(fits.fit_new < 0.9 * fits.fit_indexed AS BIGINT) AS retrain
       |FROM (SELECT caq.neighbor_id, caq.cid,
       |             list_aggregate(list_transform(qc.codes, c -> c + 0.5), 'sum')
       |               AS vec_code_sum
       |      FROM caq JOIN qc ON caq.neighbor_id = qc.vec_id)
       |CROSS JOIN fits
       |GROUP BY fits.fit_new, fits.fit_indexed""".stripMargin
  }

  val int8IndexRoundtripSql: String = {
    val (nc, iters, trainN, dim) = (16, 2, 1024, 64)
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |st AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM (
       |         SELECT d.range AS d, min(v.e[d.range + 1]) AS lo,
       |                max(v.e[d.range + 1]) AS hi
       |         FROM v CROSS JOIN range($dim) d GROUP BY 1)),
       |qc AS (SELECT v.vec_id, list_transform(range($dim), d ->
       |         CASE WHEN st.hi[d + 1] > st.lo[d + 1]
       |              THEN LEAST(GREATEST(floor((v.e[d + 1] - st.lo[d + 1])
       |                     / (st.hi[d + 1] - st.lo[d + 1]) * 255.0), 0.0), 255.0)
       |              ELSE 0.0 END) AS codes
       |       FROM v CROSS JOIN st),
       |re AS (SELECT v.vec_id, list_transform(range($dim), d ->
       |         CASE WHEN st.hi[d + 1] > st.lo[d + 1]
       |              THEN st.lo[d + 1] +
       |                   (LEAST(GREATEST(floor((v.e[d + 1] - st.lo[d + 1])
       |                      / (st.hi[d + 1] - st.lo[d + 1]) * 255.0), 0.0), 255.0)
       |                    + 0.5) * (st.hi[d + 1] - st.lo[d + 1]) / 256.0
       |              ELSE st.lo[d + 1] END) AS re
       |       FROM v CROSS JOIN st),
       |rz AS (SELECT vec_id, re FROM re WHERE list_dot_product(re, re) > 0),
       |caq AS (SELECT vec_id AS neighbor_id, cid FROM (
       |    SELECT r.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY round(list_cosine_similarity(r.re, c.ce), 6) DESC, c.cid) AS rn
       |    FROM rz r CROSS JOIN $cFinal c)
       |  WHERE rn = 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(count(DISTINCT cid) AS BIGINT) AS n_cells,
       |       CAST(sum(cid) AS BIGINT) AS sum_cid,
       |       sum(vec_code_sum) AS code_sum,
       |       (SELECT round(list_aggregate(lo, 'sum') + list_aggregate(hi, 'sum'), 6)
       |        FROM st) AS grid_sum
       |FROM (SELECT caq.neighbor_id, caq.cid,
       |             list_aggregate(list_transform(qc.codes, c -> c + 0.5), 'sum')
       |               AS vec_code_sum
       |      FROM caq JOIN qc ON caq.neighbor_id = qc.vec_id)""".stripMargin
  }

  // ----------------------------------------------------------------- ML-1
  /** Reproducible train/val/test split (80/10/10 on id residue) with
    * per-split corpus stats — the split is a pure projection, no
    * sampling state, identical in any engine.
    */
  def splitStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", graft.operators.DataSplits.assignSplit(
        col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10)))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 6).as("avg_chars"),
        sum(TF.tokenCount(col("text"))).as("total_tokens"))
      .orderBy("split")

  val splitStatsSql: String =
    """SELECT CASE WHEN doc_id % 100 < 80 THEN 'train'
      |            WHEN doc_id % 100 < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      |       count(*) AS n_docs,
      |       round(avg(n_chars), 6) AS avg_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------- ML-2
  /** Train-vs-eval exact contamination: which "training" docs (odd ids) share content with the held-out "eval" slice (even ids) —
    * the pretraining-hygiene check, as an md5 fingerprint join.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.operators.DataSplits.exactContamination(
      docs.where(col("doc_id") % 2 =!= 0),
      docs.where(col("doc_id") % 2 === 0))
      .orderBy("doc_id")
  }

  val contaminationSql: String =
    """SELECT t.doc_id AS doc_id, md5(t.text) AS fp
      |FROM (SELECT * FROM documents WHERE doc_id % 2 != 0) t
      |JOIN (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0) e
      |  ON md5(t.text) = e.fp
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- MM-1
  /** Multimodal binary-column metadata: payload byte length, sha256
    * checksum, frame-chunk count — the queryable-metadata side of the
    * binary-payload pipeline (decode stub exercised in scalatest).
    */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(encode(col("text"), "utf-8")).cast("long").as("n_bytes"),
        sha2(encode(col("text"), "utf-8"), 256).as("sha_hex"),
        (ceil(length(encode(col("text"), "utf-8")) / 256.0)).cast("long").as("n_chunks"))
      .orderBy("doc_id")

  val binaryMetaSql: String =
    """SELECT doc_id,
      |       octet_length(encode(text)) AS n_bytes,
      |       sha256(text) AS sha_hex,
      |       CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- MM-2
  /** Frame sampling stats: [[graft.multimodal.Multimodal.sampleFrames]]
    * over the attached binary payloads — per media item, how many frames
    * the fixed-stride sampler yields and their total bytes. The corpus is
    * ASCII, so the oracle mirrors the byte slicing with `substr` on the
    * text (1 char = 1 byte).
    */
  def frameStats(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.attachPayload(Tables.documents(spark, dir))
    graft.multimodal.Multimodal.sampleFrames(media, frameSize = 64, stride = 96, maxFrames = 5)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("frame"))).cast("long").as("frame_bytes"))
      .orderBy("media_id")
  }

  val frameStatsSql: String =
    """SELECT media_id, count(*) AS n_frames,
      |       CAST(sum(strlen(frame)) AS BIGINT) AS frame_bytes
      |FROM (SELECT doc_id AS media_id,
      |             substr(text, CAST(r.range * 96 + 1 AS INTEGER), 64) AS frame
      |      FROM documents CROSS JOIN range(5) r)
      |WHERE strlen(frame) > 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------- MM-3
  /** REAL WAV decode ([[graft.multimodal.WavCodec]]): per doc, PCM-16
    * samples synthesized by an integer law ([[MM.wavSamples]]) are
    * encoded into genuine RIFF/WAVE bytes and the features come from
    * the DECODED payload — chunk walk, fmt validation, sample
    * reconstruction. The oracle replays only the generating formula,
    * so a hash match certifies the binary round-trip (including the
    * position-weighted Σ(i+1)·sᵢ that pins sample order — an
    * endianness or offset bug keeps the sums but not this).
    */
  def wavDecode(spark: SparkSession, dir: String): DataFrame =
    MM.decodeWavFeatures(MM.synthWavAssets(Tables.documents(spark, dir)))
      .orderBy("media_id")

  val wavDecodeSql: String =
    """WITH p AS (SELECT doc_id, 64 + doc_id % 64 AS n,
      |                  8000 + 1000 * (doc_id % 4) AS rate FROM documents),
      |s AS (SELECT p.doc_id, p.rate, i.range AS i,
      |             ((p.doc_id * 31 + i.range * 7) % 4096) - 2048 AS sv
      |      FROM p CROSS JOIN range(128) i WHERE i.range < p.n)
      |SELECT doc_id AS media_id, CAST(any_value(rate) AS BIGINT) AS sample_rate,
      |       CAST(count(*) AS BIGINT) AS n_samples,
      |       CAST(sum(sv) AS BIGINT) AS sum_s,
      |       CAST(min(sv) AS BIGINT) AS min_s,
      |       CAST(max(sv) AS BIGINT) AS max_s,
      |       CAST(sum((i + 1) * sv) AS BIGINT) AS wsum
      |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ----------------------------------------------------------------- MM-4
  /** REAL BMP decode ([[graft.multimodal.BmpCodec]]): 24-bit DIB
    * payloads synthesized by an integer law ([[MM.bmpImage]] — widths
    * 5..8 exercise all three row-padding amounts, heights 3..5) are
    * decoded back through header parse, padded-row walk, and bottom-up
    * undo. The weighted Σ(y·w+x+1)·r feature breaks under any padding
    * or row-order slip; the oracle replays the pixel formula only.
    */
  def bmpDecode(spark: SparkSession, dir: String): DataFrame =
    MM.decodeBmpFeatures(MM.synthBmpAssets(Tables.documents(spark, dir),
      MM.bmpImage))
      .orderBy("media_id")

  val bmpDecodeSql: String =
    """WITH g AS (SELECT doc_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h
      |           FROM documents),
      |px AS (SELECT g.doc_id, g.w, g.h, x.range AS x, y.range AS y
      |       FROM g CROSS JOIN range(8) x CROSS JOIN range(5) y
      |       WHERE x.range < g.w AND y.range < g.h)
      |SELECT doc_id AS media_id, CAST(any_value(w) AS BIGINT) AS width,
      |       CAST(any_value(h) AS BIGINT) AS height,
      |       CAST(count(*) AS BIGINT) AS n_pixels,
      |       CAST(sum((doc_id + 3 * x + 7 * y) % 256) AS BIGINT) AS sum_b,
      |       CAST(sum((2 * doc_id + 5 * x + y) % 256) AS BIGINT) AS sum_g,
      |       CAST(sum((3 * doc_id + x + 11 * y) % 256) AS BIGINT) AS sum_r,
      |       CAST(sum((y * w + x + 1) * ((3 * doc_id + x + 11 * y) % 256))
      |         AS BIGINT) AS wsum_r
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ----------------------------------------------------------------- MM-5
  /** Cross-modal INTEGRITY audit — the caption↔asset hygiene pass a
    * paired dataset runs before training: every caption must have a
    * DECODABLE asset, every decodable asset a caption, and mangled
    * assets are surfaced as their own population. Assets exist for
    * doc_id % 3 ≠ 0 and are deterministically truncated (20 bytes — a
    * torn transfer) for doc_id % 7 = 3; captions exist for
    * doc_id % 5 ≠ 2. Decodability on the Spark side is a REAL
    * [[graft.multimodal.WavCodec.tryDecode]] attempt per payload; the
    * oracle predicts it purely from the residues — equality proves the
    * decoder accepts exactly the well-formed population. Anti-joins
    * both directions (REL-7 machinery), one decode pass over assets.
    */
  def crossmodalIntegrity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val assets = MM.synthWavAssets(docs.where(col("doc_id") % 3 =!= 0),
      corruptMod = 7, corruptRes = 3)
    val decoded = assets.mapPartitions(rows => rows.map(m =>
        (m.media_id, graft.multimodal.WavCodec.tryDecode(m.payload).isDefined)))
      .toDF("media_id", "ok")
    val captions = docs.where(col("doc_id") % 5 =!= 2).select("doc_id")
    val good = decoded.where(col("ok")).select("media_id")
    captions.join(good, captions("doc_id") === good("media_id"), "left_anti")
      .select(col("doc_id"), lit("caption_no_decodable_asset").as("issue"))
      .unionByName(
        good.join(captions, good("media_id") === captions("doc_id"), "left_anti")
          .select(col("media_id").as("doc_id"), lit("asset_no_caption").as("issue")))
      .unionByName(
        decoded.where(!col("ok"))
          .select(col("media_id").as("doc_id"), lit("asset_undecodable").as("issue")))
      .orderBy("doc_id", "issue")
  }

  val crossmodalIntegritySql: String =
    """WITH cap AS (SELECT doc_id FROM documents WHERE doc_id % 5 != 2),
      |a AS (SELECT doc_id FROM documents WHERE doc_id % 3 != 0),
      |good AS (SELECT doc_id FROM a WHERE doc_id % 7 != 3)
      |SELECT doc_id, issue FROM (
      |  SELECT doc_id, 'caption_no_decodable_asset' AS issue FROM cap
      |  WHERE doc_id NOT IN (SELECT doc_id FROM good)
      |  UNION ALL
      |  SELECT doc_id, 'asset_no_caption' FROM good
      |  WHERE doc_id NOT IN (SELECT doc_id FROM cap)
      |  UNION ALL
      |  SELECT doc_id, 'asset_undecodable' FROM a WHERE doc_id % 7 = 3)
      |ORDER BY doc_id, issue""".stripMargin

  // ----------------------------------------------------------------- MM-6
  /** MODALITY near-dup: image near-duplicate detection wired through
    * the EXISTING embedding-ANN dedup tier ([[Dedup.embeddingNearDupsAnn]]
    * — q_dd8's exact machinery), with the embeddings coming from
    * DECODED image bytes instead of the embeddings table: class-
    * structured BMPs ([[MM.bmpClassImage]] — 16 near-duplicate families
    * differing by one pixel) are decoded and probed at 8 fixed
    * coordinates ([[MM.bmpProbeEmbeddings]] — the most decode-sensitive
    * embedding possible), then [[modalityNearDupAnn]]. The oracle
    * replays feature formula + the shared IVF training CTEs — the same
    * replay q_dd8 certifies against.
    */
  def imageNearDupAnn(spark: SparkSession, dir: String): DataFrame =
    modalityNearDupAnn(spark, dir, "mm_bmp")(docs =>
      MM.bmpProbeEmbeddings(MM.synthBmpAssets(docs, MM.bmpClassImage)))

  /** The one builder of the modality near-dup family (q_mm6, q_mm9,
    * q_mm12): `probe` embeds the class-structured assets of the
    * doc_id % 9 = 4 subset, [[Dedup.embeddingNearDupsAnn]] cells them
    * on the pinned IVF training and keeps within-cell pairs at exact
    * cosine ≥ 0.98. The subset bounds pair volume (the within-cell join
    * is the operator's documented quadratic-in-cell cost, not the
    * query's); 9 is COPRIME with the class modulus 16, so all 16
    * near-dup families stay represented (an even subset modulus reaches
    * only the odd classes). The decode closure makes the corpus plan
    * key-unstable, so the artifact is keyed by (modality, dir) — which
    * IS the corpus identity.
    */
  private def modalityNearDupAnn(spark: SparkSession, dir: String,
      modality: String)(probe: DataFrame => DataFrame): DataFrame =
    Dedup.embeddingNearDupsAnn(
        probe(Tables.documents(spark, dir).where(col("doc_id") % 9 === 4)),
        threshold = 0.98, nCentroids = 16, lloydIters = 2, trainN = 1024,
        seedPlanes = 6, dim = 8, artifactKey = Some(Seq(modality, dir)))
      .orderBy("vec_a", "vec_b")

  val imageNearDupAnnSql: String = nearDupAnnSql(
    """(SELECT doc_id AS vec_id,
       |    list_transform(range(8), j -> CAST(2 * (
       |      CASE WHEN j % 3 = 0 THEN
       |             ((doc_id % 16) * 17 + 3 * (j % 5)) % 255
       |             + CASE WHEN j = 0 THEN (doc_id // 16) % 2 ELSE 0 END
       |           WHEN j % 3 = 1 THEN
       |             ((doc_id % 16) * 29 + 5 * (j % 5) + 1) % 255
       |           ELSE ((doc_id % 16) * 41 + (j % 5) + 22) % 255
       |      END) - 255 AS DOUBLE)) AS e
       |  FROM documents WHERE doc_id % 9 = 4)""",
    dim = 8, threshold = 0.98)

  // ----------------------------------------------------------------- MM-7
  /** Image RESIZE — the remaining verb of the multimodal tier's
    * decode / feature-extract / resize / frame-sample set:
    * [[MM.resizeHalf]], an integer 2×2 box filter (out pixel = floor
    * mean of the input block, odd trailing row/column dropped), run
    * decode → resize → RE-ENCODE → decode → features, so the resized
    * image travels back through the codec before features are taken
    * (w2 ∈ {2,3,4} exercises row pads 2,3,0 — a different pad
    * population than q_mm4's full-size assets). All-integer, so the
    * oracle replays formula + box arithmetic with `//` floor division
    * (operands non-negative — the documented `div` caveat does not
    * bite).
    */
  def imageResize(spark: SparkSession, dir: String): DataFrame =
    MM.resizeBmpFeatures(MM.synthBmpAssets(Tables.documents(spark, dir),
      MM.bmpImage))
      .orderBy("media_id")

  val imageResizeSql: String =
    """WITH g AS (SELECT doc_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h
      |           FROM documents),
      |px AS (SELECT g.doc_id, g.w // 2 AS w2, g.h // 2 AS h2,
      |              x2.range AS x2, y2.range AS y2,
      |              dx.range AS dx, dy.range AS dy
      |       FROM g CROSS JOIN range(4) x2 CROSS JOIN range(2) y2
      |              CROSS JOIN range(2) dx CROSS JOIN range(2) dy
      |       WHERE x2.range < g.w // 2 AND y2.range < g.h // 2),
      |q AS (SELECT doc_id, w2, h2, x2, y2,
      |        sum((doc_id + 3 * (2 * x2 + dx) + 7 * (2 * y2 + dy)) % 256) // 4 AS b2,
      |        sum((2 * doc_id + 5 * (2 * x2 + dx) + (2 * y2 + dy)) % 256) // 4 AS g2,
      |        sum((3 * doc_id + (2 * x2 + dx) + 11 * (2 * y2 + dy)) % 256) // 4 AS r2
      |      FROM px GROUP BY 1, 2, 3, 4, 5)
      |SELECT doc_id AS media_id, CAST(any_value(w2) AS BIGINT) AS width,
      |       CAST(any_value(h2) AS BIGINT) AS height,
      |       CAST(count(*) AS BIGINT) AS n_pixels,
      |       CAST(sum(b2) AS BIGINT) AS sum_b,
      |       CAST(sum(g2) AS BIGINT) AS sum_g,
      |       CAST(sum(r2) AS BIGINT) AS sum_r,
      |       CAST(sum((y2 * w2 + x2 + 1) * r2) AS BIGINT) AS wsum_r
      |FROM q GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ----------------------------------------------------------------- MM-8
  /** Audio frame features over DECODED samples —
    * [[MM.audioFrameFeatures]]: complete 16-sample windows of the
    * reconstructed PCM stream, per frame Σ|s| (energy proxy), max |s|
    * (clip detection), zero-crossing count (sign-product law — the
    * voiced/unvoiced discriminator), incomplete tail dropped. q_mm2
    * frame-samples raw BYTES; this frame-samples the decoded SIGNAL —
    * together they cover the frame-sample verb on both sides of the
    * codec. Integer-exact; the oracle's lag() window partitions by
    * (doc, frame) so crossings never straddle a frame boundary,
    * matching the Spark side's per-frame scan.
    */
  def audioFrames(spark: SparkSession, dir: String): DataFrame =
    MM.audioFrameFeatures(MM.synthWavAssets(Tables.documents(spark, dir)),
      frameLen = 16)
      .orderBy("media_id", "frame_no")

  val audioFramesSql: String =
    """WITH p AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
      |s AS (SELECT p.doc_id, i.range AS i,
      |             ((p.doc_id * 31 + i.range * 7) % 4096) - 2048 AS sv
      |      FROM p CROSS JOIN range(128) i
      |      WHERE i.range < (p.n // 16) * 16),
      |f AS (SELECT doc_id, i // 16 AS frame_no, sv,
      |             lag(sv) OVER (PARTITION BY doc_id, i // 16 ORDER BY i) AS prev
      |      FROM s)
      |SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no,
      |       CAST(sum(abs(sv)) AS BIGINT) AS sum_abs,
      |       CAST(max(abs(sv)) AS BIGINT) AS max_abs,
      |       CAST(count(*) FILTER (WHERE prev IS NOT NULL AND prev * sv < 0)
      |         AS BIGINT) AS crossings
      |FROM f GROUP BY 1, 2 ORDER BY media_id, frame_no""".stripMargin

  // ----------------------------------------------------------------- MM-9
  /** AUDIO near-dup — q_mm6's wiring claim made modality-complete: the
    * same [[Dedup.embeddingNearDupsAnn]] tier, embeddings probed from
    * DECODED WAV samples ([[MM.wavProbeEmbeddings]] — 8 fixed sample
    * indices of the reconstructed PCM stream) over class-structured
    * audio ([[MM.wavClassSamples]] — 16 near-dup families differing by
    * one sample count). One dedup engine, three modalities (text
    * embeddings q_dd8, image q_mm6, audio here); only the probe
    * changes ([[modalityNearDupAnn]]).
    */
  def audioNearDupAnn(spark: SparkSession, dir: String): DataFrame =
    modalityNearDupAnn(spark, dir, "mm_wav")(docs =>
      MM.wavProbeEmbeddings(MM.synthWavAssets(docs, samplesOf = MM.wavClassSamples)))

  val audioNearDupAnnSql: String = nearDupAnnSql(
    """(SELECT doc_id AS vec_id,
       |    list_transform(range(8), j -> CAST(
       |      ((doc_id % 16) * 31 + 7 * j * 7) % 4096 - 2048
       |      + CASE WHEN j = 0 THEN (doc_id // 16) % 2 ELSE 0 END
       |      AS DOUBLE)) AS e
       |  FROM documents WHERE doc_id % 9 = 4)""",
    dim = 8, threshold = 0.98)

  // ---------------------------------------------------------------- MM-10
  /** REAL AVI decode ([[graft.multimodal.AviCodec]]) — the VIDEO
    * modality joining WAV (q_mm3) and BMP (q_mm4): per doc, 2–4 frames
    * synthesized by an integer law ([[MM.aviFrames]]) are encoded into
    * a genuine RIFF/AVI container (nested LIST tree: hdrl with
    * avih/strh/strf, movi with one '00db' DIB chunk per frame) and
    * features come from the DECODED frames. Beyond the flat chunk
    * walks of WAV/BMP this certifies the RECURSIVE chunk grammar and
    * the container's internal consistency checks (avih vs strf dims,
    * declared vs present frame count). Two features pin what a video
    * container can get wrong: wsum_r = Σ(t·w·h + y·w + x + 1)·r pins
    * FRAME order on top of pixel order, and sum_motion =
    * Σ_{t≥1}|r_t − r_{t−1}| is the temporal-difference (motion /
    * scene-change proxy) only a time-axis modality has. The oracle
    * replays only the generating formulas.
    */
  def videoDecode(spark: SparkSession, dir: String): DataFrame =
    MM.decodeAviFeatures(MM.synthAviAssets(Tables.documents(spark, dir),
      MM.aviFrames))
      .orderBy("media_id")

  val videoDecodeSql: String =
    """WITH g AS (SELECT doc_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |                  2 + doc_id % 3 AS nf FROM documents),
      |px AS (SELECT g.doc_id, g.w, g.h, g.nf, t.range AS t,
      |              x.range AS x, y.range AS y
      |       FROM g CROSS JOIN range(4) t CROSS JOIN range(8) x
      |              CROSS JOIN range(5) y
      |       WHERE t.range < g.nf AND x.range < g.w AND y.range < g.h)
      |SELECT doc_id AS media_id, CAST(any_value(w) AS BIGINT) AS width,
      |       CAST(any_value(h) AS BIGINT) AS height,
      |       CAST(any_value(nf) AS BIGINT) AS n_frames,
      |       CAST(sum((doc_id + 3 * x + 7 * y + 13 * t) % 256) AS BIGINT) AS sum_b,
      |       CAST(sum((2 * doc_id + 5 * x + y + 17 * t) % 256) AS BIGINT) AS sum_g,
      |       CAST(sum((3 * doc_id + x + 11 * y + 19 * t) % 256) AS BIGINT) AS sum_r,
      |       CAST(sum((t * w * h + y * w + x + 1)
      |                * ((3 * doc_id + x + 11 * y + 19 * t) % 256)) AS BIGINT) AS wsum_r,
      |       CAST(sum(CASE WHEN t > 0 THEN
      |                  abs(((3 * doc_id + x + 11 * y + 19 * t) % 256)
      |                      - ((3 * doc_id + x + 11 * y + 19 * (t - 1)) % 256))
      |                ELSE 0 END) AS BIGINT) AS sum_motion
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- MM-11
  /** Every-k-th-FRAME sampling over decoded video
    * ([[MM.aviFrameSample]], stride 2) — the frame-sample verb at its
    * natural granularity, completing the set: q_mm2 slices raw
    * container BYTES, q_mm8 slices decoded audio SAMPLES, this takes
    * every 2nd decoded video FRAME (frames 0 and 2 of the 2–4-frame
    * assets), with per-sampled-frame channel sums + the within-frame
    * position-weighted Σ(y·w+x+1)·r. The oracle replays the frame law
    * with the stride filter `t % 2 = 0`.
    */
  def videoFrameSample(spark: SparkSession, dir: String): DataFrame =
    MM.aviFrameSample(MM.synthAviAssets(Tables.documents(spark, dir),
      MM.aviFrames), stride = 2)
      .orderBy("media_id", "frame_no")

  val videoFrameSampleSql: String =
    """WITH g AS (SELECT doc_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |                  2 + doc_id % 3 AS nf FROM documents),
      |px AS (SELECT g.doc_id, g.w, g.h, t.range AS t,
      |              x.range AS x, y.range AS y
      |       FROM g CROSS JOIN range(4) t CROSS JOIN range(8) x
      |              CROSS JOIN range(5) y
      |       WHERE t.range < g.nf AND t.range % 2 = 0
      |         AND x.range < g.w AND y.range < g.h)
      |SELECT doc_id AS media_id, CAST(t AS BIGINT) AS frame_no,
      |       CAST(sum((doc_id + 3 * x + 7 * y + 13 * t) % 256) AS BIGINT) AS sum_b,
      |       CAST(sum((2 * doc_id + 5 * x + y + 17 * t) % 256) AS BIGINT) AS sum_g,
      |       CAST(sum((3 * doc_id + x + 11 * y + 19 * t) % 256) AS BIGINT) AS sum_r,
      |       CAST(sum((y * w + x + 1)
      |                * ((3 * doc_id + x + 11 * y + 19 * t) % 256)) AS BIGINT) AS wsum_r
      |FROM px GROUP BY doc_id, t ORDER BY media_id, frame_no""".stripMargin

  // ---------------------------------------------------------------- MM-12
  /** VIDEO near-dup — the modality wiring completed on the time-axis
    * format: the same [[Dedup.embeddingNearDupsAnn]] tier (q_dd8's
    * machinery), embeddings probed from DECODED AVI frames
    * ([[MM.aviProbeEmbeddings]] — 8 fixed (frame, pixel, channel)
    * sites, so any nested-chunk, padding, or frame-order slip reads a
    * different byte) over class-structured video
    * ([[MM.aviClassFrames]] — 16 near-dup families differing by one
    * byte of one frame). One dedup engine, FOUR modalities (text
    * q_dd8, image q_mm6, audio q_mm9, video here); only the probe
    * changes ([[modalityNearDupAnn]]).
    */
  def videoNearDupAnn(spark: SparkSession, dir: String): DataFrame =
    modalityNearDupAnn(spark, dir, "mm_avi")(docs =>
      MM.aviProbeEmbeddings(MM.synthAviAssets(docs, MM.aviClassFrames)))

  val videoNearDupAnnSql: String = nearDupAnnSql(
    """(SELECT doc_id AS vec_id,
       |    list_transform(range(8), j -> CAST(2 * (
       |      CASE WHEN j % 3 = 0 THEN
       |             ((doc_id % 16) * 17 + 3 * (j % 5) + 7 * (j % 3)
       |              + 13 * (j % 2)) % 255
       |             + CASE WHEN j = 0 THEN (doc_id // 16) % 2 ELSE 0 END
       |           WHEN j % 3 = 1 THEN
       |             ((doc_id % 16) * 29 + 5 * (j % 5) + (j % 3)
       |              + 17 * (j % 2)) % 255
       |           ELSE ((doc_id % 16) * 41 + (j % 5) + 11 * (j % 3)
       |              + 19 * (j % 2)) % 255
       |      END) - 255 AS DOUBLE)) AS e
       |  FROM documents WHERE doc_id % 9 = 4)""",
    dim = 8, threshold = 0.98)

  // ---------------------------------------------------------------- MM-13
  /** INTERLEAVED audio+video AVI decode ([[AviCodec.decodeAV]]) — the
    * container story completed: two strl entries (vids then auds; strf
    * means BITMAPINFOHEADER in one and PCMWAVEFORMAT in the other —
    * per-stream format dispatch inside the same nested grammar), movi
    * holding per frame one '00db' DIB chunk then one '01wb' PCM-16
    * chunk of the near-equal sample split. Features pin both tracks
    * AND the interleave itself: wsum_r (frame order, q_mm10's
    * discipline), wsum_s over the RE-CONCATENATED pcm stream (chunk
    * order + split arithmetic — a swapped or resized '01wb' chunk
    * keeps sum_s but not this), and (n_chunks, first_chunk_n)
    * certifying one audio chunk per frame at n/nf + (1 if t < n mod
    * nf) samples. Audio law multipliers differ from q_mm3's WAV law,
    * so a cross-wired asset fails. The oracle replays only the
    * generating formulas — a hash match certifies the whole two-stream
    * binary round-trip.
    */
  def avDecode(spark: SparkSession, dir: String): DataFrame =
    MM.decodeAvFeatures(MM.synthAvAssets(Tables.documents(spark, dir)))
      .orderBy("media_id")

  val avDecodeSql: String =
    """WITH g AS (SELECT doc_id, 5 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |                  2 + doc_id % 3 AS nf, 48 + doc_id % 32 AS n FROM documents),
      |px AS (SELECT g.doc_id, g.w, g.h, t.range AS t,
      |              x.range AS x, y.range AS y
      |       FROM g CROSS JOIN range(4) t CROSS JOIN range(8) x
      |              CROSS JOIN range(5) y
      |       WHERE t.range < g.nf AND x.range < g.w AND y.range < g.h),
      |vid AS (SELECT doc_id,
      |         CAST(sum((t * w * h + y * w + x + 1)
      |              * ((3 * doc_id + x + 11 * y + 19 * t) % 256)) AS BIGINT)
      |           AS wsum_r
      |        FROM px GROUP BY doc_id),
      |smp AS (SELECT g.doc_id, i.range AS i,
      |               (doc_id * 37 + i.range * 11) % 4096 - 2048 AS s
      |        FROM g CROSS JOIN range(80) i WHERE i.range < g.n),
      |aud AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS sum_s,
      |               CAST(sum((i + 1) * s) AS BIGINT) AS wsum_s
      |        FROM smp GROUP BY doc_id)
      |SELECT g.doc_id AS media_id, CAST(g.w AS BIGINT) AS width,
      |       CAST(g.h AS BIGINT) AS height, CAST(g.nf AS BIGINT) AS n_frames,
      |       vid.wsum_r,
      |       CAST(8000 + 1000 * (g.doc_id % 4) AS BIGINT) AS sample_rate,
      |       CAST(g.n AS BIGINT) AS n_samples, aud.sum_s, aud.wsum_s,
      |       CAST(g.nf AS BIGINT) AS n_chunks,
      |       CAST(g.n // g.nf + CASE WHEN g.n % g.nf > 0 THEN 1 ELSE 0 END
      |            AS BIGINT) AS first_chunk_n
      |FROM g JOIN vid USING (doc_id) JOIN aud USING (doc_id)
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- TXT-7
  /** Denylist scrubbing — the PII-redaction operator shape (regex replace
    * + per-group audit counts) over the corpus' own vocabulary (the
    * synthetic text has no digits/emails, so a literal PII pattern would
    * be vacuous; the plumbing — \b-bounded alternation, global replace,
    * redaction accounting — is exactly what an email/phone scrub runs).
    */
  def redaction(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "\\b(spark|join|key)\\b"
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("text"),
        regexp_replace(col("text"), pattern, "<x>").as("redacted"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0))).cast("long").as("n_hits"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_hits").as("n_redacted"),
        sum(length(col("text")) - length(col("redacted"))).cast("long").as("bytes_saved"))
      .orderBy("lang", "source")
  }

  val redactionSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |       CAST(sum(len(regexp_extract_all(text, '\b(spark|join|key)\b'))) AS BIGINT)
      |         AS n_redacted,
      |       CAST(sum(strlen(text)
      |                - strlen(regexp_replace(text, '\b(spark|join|key)\b', '<x>', 'g')))
      |         AS BIGINT) AS bytes_saved
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- TXT-8
  /** Boilerplate/template detection: 3-gram shingles occurring in more
    * than 1/5000 of all shingle slots — the repeated-phrase scan that
    * precedes boilerplate stripping in a pretraining pipeline. Exact
    * counts (shingle explode partial-aggregates map-side; the shuffle
    * carries one row per distinct shingle per partition); the relative
    * threshold rides a broadcast 1-row total, so no driver-side action.
    * At unbounded vocabulary scale the first pass swaps to a bounded
    * sketch (Misra-Gries / SpaceSaving) with an exact recount of the
    * candidate set — output identical, memory bounded.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(explode(TF.shingles(col("text"), 3)).as("shingle"))
    val total = sh.agg(count(lit(1)).as("total"))
    sh.groupBy("shingle").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .where(col("n") * 5000 > col("total"))
      .select(col("shingle"), col("n"))
      .orderBy("shingle")
  }

  val boilerplateSql: String =
    """WITH s AS (
      |  SELECT unnest(CASE WHEN len(t) >= 3
      |           THEN list_transform(range(len(t) - 2),
      |                i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
      |           ELSE [text] END) AS shingle
      |  FROM (SELECT text, string_split(text, ' ') AS t FROM documents))
      |SELECT shingle, count(*) AS n FROM s
      |GROUP BY 1 HAVING count(*) * 5000 > (SELECT count(*) FROM s)
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- TXT-9
  /** Gopher-style repetition filter: per-doc repetition metrics — top
    * single-token fraction, duplicate-token fraction, top-bigram mass
    * fraction — and the keep/drop decision on fixed thresholds chosen
    * from the corpus' measured quantiles (top-token p90 ≈ 0.148,
    * dup p90 ≈ 0.68, bigram p90 ≈ 0.13 → thresholds 0.12/0.65/0.10
    * split the corpus roughly in half at every SF — this synthetic
    * corpus is inherently repetitive; a fixed cutoff that never fires
    * would be a vacuous filter). The decision compares the ROUNDED fractions
    * so both engines apply the identical cut. Shape: two explode +
    * partial-aggregated count stacks (tokens, bigrams), joined on
    * doc_id — one shuffle per stack plus the join, no windows.
    */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tokCounts = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max("c").as("top_tok"))
    val bgCounts = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram"))
    tokCounts.join(bgCounts, "doc_id")
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("top_tok").cast("double") / col("n_tokens"), 6).as("top_tok_frac"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_frac"),
        round(col("top_bigram").cast("double") * 2.0 / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
      .withColumn("keep",
        col("top_tok_frac") <= 0.12 && col("dup_frac") <= 0.65 &&
          col("top_bigram_frac") <= 0.10)
      .orderBy("doc_id")
  }

  val repetitionFilterSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |              count(*) AS n_distinct, max(c) AS top_tok
      |       FROM (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2) GROUP BY 1),
      |sh AS (SELECT doc_id, CASE WHEN len(tl) >= 2
      |         THEN list_transform(range(len(tl) - 1), i -> tl[i + 1] || ' ' || tl[i + 2])
      |         ELSE [text] END AS bgs
      |       FROM (SELECT doc_id, text, string_split(text, ' ') AS tl FROM documents)),
      |bc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
      |       FROM (SELECT doc_id, bg, count(*) AS c
      |             FROM (SELECT doc_id, unnest(bgs) AS bg FROM sh) GROUP BY 1, 2)
      |       GROUP BY 1)
      |SELECT doc_id, n_tokens, top_tok_frac, dup_frac, top_bigram_frac,
      |       (top_tok_frac <= 0.12 AND dup_frac <= 0.65 AND top_bigram_frac <= 0.10)
      |         AS keep
      |FROM (SELECT tc.doc_id, n_tokens,
      |             round(CAST(top_tok AS DOUBLE) / n_tokens, 6) AS top_tok_frac,
      |             round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_frac,
      |             round(CAST(top_bigram AS DOUBLE) * 2.0 / n_bigrams, 6) AS top_bigram_frac
      |      FROM tc JOIN bc ON tc.doc_id = bc.doc_id)
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- ML-3
  /** Deterministic stratified sampling: within each language stratum,
    * rank by (md5(text), doc_id) — a content-derived, engine-independent
    * shuffle — and keep the top 10% (ceil). The training-data sampling
    * primitive: reproducible across engines and runs, no RNG state.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
    val wAll = Window.partitionBy("lang")
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(wAll))
      .where(col("rk") <= ceil(col("n_lang") * 0.1).cast("long"))
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy("lang", "rk")
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
      |         count(*) OVER (PARTITION BY lang) AS n_lang
      |  FROM documents)
      |WHERE rk <= CAST(ceil(n_lang * 0.1) AS BIGINT)
      |ORDER BY lang, rk""".stripMargin

  // ----------------------------------------------------------------- ML-4
  /** Label-balance audit over the embeddings table: per-class counts and
    * fractions — the class-imbalance check before training.
    */
  def labelBalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.embeddings(spark, dir)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("pct",
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy()).cast("double"), 6))
      .orderBy("label")
  }

  val labelBalanceSql: String =
    """SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |       round(CAST(count(*) AS DOUBLE)
      |             / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS pct
      |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------- ML-5
  /** Embedding-table audit per label class: cohort size, mean vector
    * norm, and mean cosine to the class centroid (the per-dimension
    * rounded mean — the same relational element-wise-mean machinery the
    * IVF quantizer trains with). Low mean-cosine classes are the
    * mislabeled/degenerate cohorts a training pipeline flags before
    * fine-tuning on labels. One explode shuffle for the centroids (a
    * labels×dim aggregate), centroids broadcast back — the corpus never
    * shuffles.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val embs = Tables.embeddings(spark, dir)
      .where(VF.normSq(col("embedding")) > 0)
      .select(col("label").cast("long").as("label"), col("embedding"),
        VF.l2Norm(col("embedding")).as("nrm"))
    val cents = embs
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "d").agg(round(avg(col("x").cast("double")), 6).as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
        s => s.getField("cx")).as("ce"))
    embs.join(broadcast(cents), "label")
      .select(col("label"), col("nrm"),
        (VF.dot(col("embedding"), col("ce")) /
          (col("nrm") * VF.l2Norm(col("ce")))).as("ccos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg("nrm"), 6).as("avg_norm"),
        round(avg("ccos"), 6).as("avg_cos"))
      .orderBy("label")
  }

  val labelCentroidsSql: String =
    """WITH v AS (SELECT CAST(label AS BIGINT) AS label,
      |                  CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |vn AS (SELECT label, e, sqrt(list_dot_product(e, e)) AS nrm
      |       FROM v WHERE list_dot_product(e, e) > 0),
      |cents AS (SELECT label, list(cx ORDER BY d) AS ce FROM (
      |    SELECT label, d.range AS d, round(avg(e[d.range + 1]), 6) AS cx
      |    FROM vn CROSS JOIN range(64) d GROUP BY 1, 2) GROUP BY label)
      |SELECT vn.label, count(*) AS n,
      |       round(avg(nrm), 6) AS avg_norm,
      |       round(avg(list_cosine_similarity(vn.e, cents.ce)), 6) AS avg_cos
      |FROM vn JOIN cents ON vn.label = cents.label
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- TXT-13
  /** Zipf rank-frequency audit: least-squares slope/intercept of
    * ln(freq) vs ln(rank) over the top-1000 vocabulary — the corpus
    * health check that flags templated/synthetic text (natural corpora
    * sit near slope −1; flat slopes mean repetitive generation, steep
    * ones truncated vocabulary). The regression is computed from
    * explicit Σx/Σy/Σxy/Σx² sums with ONE final rounding, the same
    * formula text in both engines. Shape at scale: the frequency table
    * is the partial-aggregated wordcount shuffle; the top-1000 is
    * TakeOrderedAndProject; the window ranking and the sums then touch
    * ≤1000 rows — corpus cost is exactly one wordcount regardless of
    * size.
    */
  def zipfAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(1000)
    val w = Window.orderBy(col("n").desc, col("word"))
    val sums = freq
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("n").cast("double")))
      .agg(count(lit(1)).as("n_words"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n_words") * col("sxy") - col("sx") * col("sy")) /
      (col("n_words") * col("sxx") - col("sx") * col("sx"))
    sums.select(col("n_words"),
      round(slope, 4).as("zipf_slope"),
      round((col("sy") - slope * col("sx")) / col("n_words"), 4).as("intercept"))
  }

  val zipfAuditSql: String =
    """WITH f AS (SELECT word, count(*) AS n
      |           FROM (SELECT unnest(string_split(text, ' ')) AS word
      |                 FROM documents)
      |           GROUP BY 1 ORDER BY n DESC, word LIMIT 1000),
      |xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, word) AS DOUBLE)) AS x,
      |              ln(CAST(n AS DOUBLE)) AS y FROM f),
      |s AS (SELECT count(*) AS n_words, sum(x) AS sx, sum(y) AS sy,
      |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
      |SELECT n_words,
      |       round((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx), 4) AS zipf_slope,
      |       round((sy - (n_words * sxy - sx * sy) / (n_words * sxx - sx * sx) * sx)
      |             / n_words, 4) AS intercept
      |FROM s""".stripMargin

  // ---------------------------------------------------------------- TXT-14
  /** The demo merge table for [[subwordTokens]] — a trained-offline BPE
    * vocabulary standing in as a plan-time constant (real tables ship
    * as artifacts; the OPERATOR is the deterministic apply). Entries
    * deliberately cover every greedy path: full words ("table" beats
    * its own prefixes "tab"/"ta"), chained merges ("cust"+"om"+"er"),
    * mixed fallback ("row" = fallback 'r' + merge "ow"), single-char
    * entries ("a"), and pure fallback ("dup").
    */
  val SubwordMerges: Seq[String] = Seq(
    "table", "tab", "ta", "ble", "le", "ba", "tch", "wind", "ow",
    "str", "eam", "cust", "om", "er", "vec", "tor", "col", "umn",
    "que", "ry", "val", "ue", "fil", "ter", "or", "der", "so", "rt",
    "sm", "all", "mer", "ge", "gr", "oup", "sp", "ark", "ha", "sh",
    "sc", "an", "sl", "fast", "the", "a", "gg", "jo", "in", "key",
    "li", "ne", "da", "part")

  /** Subword (BPE-style) token accounting over the corpus
    * ([[graft.functions.SubwordTokenCount]] — greedy longest-match
    * against the broadcast merge table, native + codegen'd): per
    * document, the whitespace word count and the subword token count —
    * the REAL token budget q_ml10-13's packing math meters against a
    * trained vocabulary instead of the whitespace proxy.
    *
    * Shape at 100 TB: tokenization is map-side arithmetic fused into
    * the scan (one codegen'd call per word, no shuffle before the
    * per-doc aggregate, vocab in the references array — never a join);
    * the DuckDB oracle replays the identical greedy walk as a
    * recursive CTE over DISTINCT words joined back to occurrences —
    * a correctness form, not the scale form.
    */
  def subwordTokens(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Subword
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("doc_id"),
        Subword.wordCount(col("w"), SubwordMerges).as("nt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt").cast("long")).as("n_subtok"))
      .orderBy("doc_id")
  }

  val subwordTokensSql: String = {
    val vocabValues = SubwordMerges.map(t => s"('$t')").mkString(", ")
    s"""WITH RECURSIVE vocab(tok) AS (VALUES $vocabValues),
       |wi AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |       FROM documents),
       |wnz AS (SELECT doc_id, w FROM wi WHERE w <> ''),
       |dw AS (SELECT DISTINCT w FROM wnz),
       |st AS (
       |  SELECT w, 0 AS pos, 0 AS ntok FROM dw
       |  UNION ALL
       |  SELECT w,
       |         pos + coalesce((SELECT max(len(tok)) FROM vocab
       |                         WHERE substr(w, pos + 1, len(tok)) = tok), 1),
       |         ntok + 1
       |  FROM st WHERE pos < len(w)),
       |wc AS (SELECT w, max(ntok) AS nt FROM st GROUP BY 1)
       |SELECT wnz.doc_id AS doc_id, count(*) AS n_words,
       |       CAST(sum(wc.nt) AS BIGINT) AS n_subtok
       |FROM wnz JOIN wc USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- ML-15
  /** SEMANTIC eval-set decontamination — q_ml2/q_ml7's n-gram
    * contamination scans miss paraphrases; this is the embedding-space
    * form (the SemDeDup/decontamination pairing real pipelines run):
    * flag every corpus vector whose cosine against ANY benchmark
    * vector (the deterministic vec_id % 10 slice, q_ml2's convention)
    * reaches the threshold, with the hit count and the worst match.
    *
    * Shape at 100 TB: benchmark suites are tiny next to the corpus, so
    * the bench side BROADCASTS and the corpus streams map-only through
    * one cosine pass + a per-vec aggregate — the embedding analog of
    * q_ml7's broadcast gram probe; no corpus shuffle, no all-pairs.
    * (For a benchmark too big to broadcast, the ANN cell-blocking
    * route is q_dd8's.) Cosine arithmetic and 6dp rounding mirror
    * q_dd7's, which the DuckDB list_cosine_similarity oracle replays
    * exactly.
    */
  def semanticContamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val embs = Tables.embeddings(spark, dir)
    val bench = embs.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("eb"),
        VF.l2Norm(col("embedding")).as("nb"))
      .where(col("nb") > 0)
    embs.where(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("embedding"),
        VF.l2Norm(col("embedding")).as("na"))
      .where(col("na") > 0)
      .crossJoin(broadcast(bench))
      .withColumn("cos",
        VF.roundedCosine(col("embedding"), col("eb"), col("na"), col("nb")))
      .where(col("cos") >= 0.25)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"), max("cos").as("max_cos"))
      .orderBy("vec_id")
  }

  val semanticContaminationSql: String =
    """SELECT vec_id, count(*) AS n_bench_hits, max(cos) AS max_cos FROM (
      |  SELECT a.vec_id,
      |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                      CAST(b.embedding AS DOUBLE[])), 6) AS cos
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 10 != 0
      |        AND len(list_filter(embedding, x -> x != 0)) > 0) a
      |  JOIN (SELECT * FROM embeddings WHERE vec_id % 10 = 0
      |        AND len(list_filter(embedding, x -> x != 0)) > 0) b ON true
      |) WHERE cos >= 0.25
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- ML-16
  /** Corpus DRIFT audit between two snapshots — the check a pipeline
    * runs when a new crawl lands: compare the word distributions of
    * the old and new slices (the deterministic doc_id-parity split
    * standing in for consecutive snapshots) and report the most
    * divergent words with both probabilities. The summary statistic is
    * the same total-variation form the PQ/IVF drift monitors use on
    * code/cell usage, here on the vocabulary; the per-word rows are
    * the actionable output (which tokens exploded or vanished).
    *
    * Engine-parity note: per-word probabilities are single IEEE
    * divisions of exact integer counts — bit-identical across engines
    * — so ordering on the unrounded |diff| is stable and only the
    * OUTPUT is rounded. Shape at scale: two wordcounts in ONE
    * conditional aggregate over one corpus scan, a vocabulary-sized
    * full-outer merge, top-k = TakeOrderedAndProject.
    */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val counts = words
      .groupBy("w")
      .agg(count(when(col("doc_id") % 2 === 0, 1)).cast("double").as("c_old"),
        count(when(col("doc_id") % 2 === 1, 1)).cast("double").as("c_new"))
    val totals = counts.agg(sum("c_old").as("t_old"), sum("c_new").as("t_new"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_old", col("c_old") / col("t_old"))
      .withColumn("p_new", col("c_new") / col("t_new"))
      .withColumn("d", abs(col("p_old") - col("p_new")))
      .orderBy(col("d").desc, col("w")).limit(10)
      .select(col("w"), round(col("p_old"), 6).as("p_old"),
        round(col("p_new"), 6).as("p_new"), round(col("d"), 6).as("absdiff"))
  }

  val corpusDriftSql: String =
    """WITH wi AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |            FROM documents),
      |wnz AS (SELECT doc_id, w FROM wi WHERE w <> ''),
      |c AS (SELECT w,
      |             CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS DOUBLE) AS c_old,
      |             CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS DOUBLE) AS c_new
      |      FROM wnz GROUP BY 1),
      |t AS (SELECT sum(c_old) AS t_old, sum(c_new) AS t_new FROM c),
      |d AS (SELECT w, c_old / t_old AS p_old, c_new / t_new AS p_new,
      |             abs(c_old / t_old - c_new / t_new) AS d
      |      FROM c CROSS JOIN t)
      |SELECT w, round(p_old, 6) AS p_old, round(p_new, 6) AS p_new,
      |       round(d, 6) AS absdiff
      |FROM d ORDER BY d DESC, w LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- TXT-15
  /** Unigram language-model log-probability scoring — the LM-based
    * quality filter of curation pipelines (CCNet's shape: score each
    * document by a language model trained on a reference corpus; here
    * the corpus itself is the reference, making the oracle exact): the
    * LM is the corpus wordcount with add-one smoothing, a document's
    * score is the mean log-probability of its words, and low scores
    * flag out-of-distribution text. Rounded once at 6dp (the repo's
    * double-aggregate rule; the sum's order sensitivity is ~1e-15,
    * nine orders below the rounding).
    *
    * Shape at 100 TB: training is ONE wordcount shuffle; the LM table
    * is vocabulary-sized (always a tiny fraction of the corpus), so
    * scoring is a broadcast join back onto the word stream plus a
    * per-doc aggregate — two corpus passes total, no corpus-keyed
    * window, no driver loop.
    */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val lm = words.groupBy("w")
      .agg(count(lit(1)).cast("double").as("cnt"))
    val totals = lm.agg(sum("cnt").as("total"),
      count(lit(1)).cast("double").as("v"))
    words
      .join(broadcast(lm), "w")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(avg(log((col("cnt") + 1.0) / (col("total") + col("v")))), 6)
          .as("logprob"))
      .orderBy("doc_id")
  }

  val unigramLogProbSql: String =
    """WITH wi AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |            FROM documents),
      |wnz AS (SELECT doc_id, w FROM wi WHERE w <> ''),
      |lm AS (SELECT w, CAST(count(*) AS DOUBLE) AS cnt FROM wnz GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
      |             CAST(count(*) AS DOUBLE) AS v FROM lm)
      |SELECT wnz.doc_id AS doc_id, count(*) AS n_words,
      |       round(avg(ln((lm.cnt + 1) / (t.total + t.v))), 6) AS logprob
      |FROM wnz JOIN lm USING (w) CROSS JOIN t
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- TXT-21
  /** Bigram language-model scoring — q_txt15's LM with one order of
    * CONTEXT: P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V), the Laplace-
    * smoothed conditional over corpus bigram counts (c(w₁·) = bigrams
    * starting with w₁, V = corpus unigram vocabulary), scored as each
    * document's mean log conditional probability. The quality signal a
    * unigram LM cannot see: a doc of common words in an uncommon ORDER
    * scores low here and normal under q_txt15 — the pair is the
    * word-salad detector of LM-based curation. Bigrams are 2-shingles
    * ([[TF.shingles]] — the same native generator the dedup tier
    * uses), so extraction is map-side array arithmetic, no self-join
    * and no per-doc window; docs under 2 tokens have no bigram and
    * drop out (both engines). Rounded once at 6dp (the q_txt15 rule).
    *
    * Shape at 100 TB: training is ONE bigram-count shuffle (+ the
    * unigram context counts from the same stream); both LM tables are
    * vocabulary-sized and broadcast here — at a bigram vocab past
    * broadcast range the scoring joins fall back to hash joins on the
    * gram key, the plan Catalyst already picks once the stats say so.
    */
  def bigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vtot = docs
      .select(explode(TF.tokens(col("text"))).as("w"))
      .agg(countDistinct("w").cast("double").as("v"))
    val bg = docs.where(size(TF.tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("g"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
    val c2 = bg.groupBy("g").agg(count(lit(1)).cast("double").as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).cast("double").as("c1"))
    bg.join(broadcast(c2), "g")
      .join(broadcast(c1), "w1")
      .crossJoin(broadcast(vtot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + 1.0) / (col("c1") + col("v")))), 6)
          .as("logprob"))
      .orderBy("doc_id")
  }

  val bigramLogProbSql: String =
    """WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS t
      |            FROM documents),
      |vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
      |          FROM (SELECT unnest(t) AS w FROM t0)),
      |gg AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1
      |       FROM (SELECT doc_id,
      |               unnest(list_transform(range(len(t) - 1),
      |                 i -> array_to_string(list_slice(t, i + 1, i + 2), ' ')))
      |                 AS g
      |             FROM t0 WHERE len(t) >= 2)),
      |c2 AS (SELECT g, CAST(count(*) AS DOUBLE) AS c2 FROM gg GROUP BY 1),
      |c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM gg GROUP BY 1)
      |SELECT gg.doc_id AS doc_id, count(*) AS n_bigrams,
      |       round(avg(ln((c2.c2 + 1) / (c1.c1 + vocab.v))), 6) AS logprob
      |FROM gg JOIN c2 USING (g) JOIN c1 USING (w1) CROSS JOIN vocab
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- TXT-16
  /** CCNet-style perplexity bucketing over the unigram LM scores
    * (q_txt15's scoring stage): documents fall into head / middle /
    * tail buckets at the tertiles of the score distribution, the split
    * CCNet uses to keep the head and drop (or down-sample) the tail.
    *
    * Scale shape: the thresholds are CALIBRATED FROM A SAMPLE
    * (doc_id % 5 — deterministic, engine-independent), never from a
    * corpus-wide sort: the only sort-window runs over the sample
    * (corpus/5 rows here; a production deployment caps the residue so
    * the sample is bounded), the two tertiles come out of ONE
    * conditional aggregate over it with the interpolation arithmetic
    * written out explicitly (identical text in the oracle — no reliance
    * on two engines' percentile() agreeing bit-for-bit), and the full
    * corpus is then bucketed map-side against the broadcast 2-scalar
    * threshold row. The scored relation is computed ONCE and eagerly
    * checkpointed (q_ml14's rationale): the sample branch, the
    * threshold aggregate, and the final bucket aggregate all read the
    * checkpoint instead of re-running the LM join per consumer.
    * Scores and thresholds are rounded to 6dp BEFORE comparison, so a
    * boundary document buckets identically in both engines.
    */
  def lmBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val lm = words.groupBy("w")
      .agg(count(lit(1)).cast("double").as("cnt"))
    val totals = lm.agg(sum("cnt").as("total"),
      count(lit(1)).cast("double").as("v"))
    val scored = graft.util.ScratchCheckpoints.register(
      words.join(broadcast(lm), "w").crossJoin(broadcast(totals))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          round(avg(log((col("cnt") + 1.0) / (col("total") + col("v")))), 6)
            .as("lp"))
        .localCheckpoint())
    val samp = scored.where(col("doc_id") % 5 === 0)
      .withColumn("rn", row_number().over(Window.orderBy("lp", "doc_id")))
    val withN = samp.crossJoin(broadcast(samp.groupBy().agg(count(lit(1)).as("n"))))
      .withColumn("r1", lit(1.0) / 3 * (col("n") - 1))
      .withColumn("r2", lit(2.0) / 3 * (col("n") - 1))
    def tertile(r: Column): Column = {
      val vLo = min(when(col("rn") === floor(r) + 1, col("lp")))
      val vHi = min(when(col("rn") === least(floor(r) + 2, col("n")), col("lp")))
      round(vLo + (min(r) - floor(min(r))) * (vHi - vLo), 6)
    }
    val thr = withN.agg(tertile(col("r1")).as("t_low"),
      tertile(col("r2")).as("t_high"))
    scored.crossJoin(broadcast(thr))
      .withColumn("bucket", when(col("lp") >= col("t_high"), "head")
        .when(col("lp") >= col("t_low"), "middle").otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        round(avg("lp"), 6).as("avg_logprob"),
        min("lp").as("min_logprob"), max("lp").as("max_logprob"))
      .orderBy("bucket")
  }

  val lmBucketsSql: String =
    """WITH wi AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |            FROM documents),
      |wnz AS (SELECT doc_id, w FROM wi WHERE w <> ''),
      |lm AS (SELECT w, CAST(count(*) AS DOUBLE) AS cnt FROM wnz GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
      |             CAST(count(*) AS DOUBLE) AS v FROM lm),
      |scored AS (SELECT wnz.doc_id AS doc_id, count(*) AS n_words,
      |           round(avg(ln((lm.cnt + 1) / (t.total + t.v))), 6) AS lp
      |           FROM wnz JOIN lm USING (w) CROSS JOIN t GROUP BY 1),
      |samp AS (SELECT lp, row_number() OVER (ORDER BY lp, doc_id) AS rn
      |         FROM scored WHERE doc_id % 5 = 0),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM samp),
      |thr AS (SELECT
      |  round((SELECT lp FROM samp WHERE rn = CAST(floor(1.0/3 * (n.n - 1)) AS BIGINT) + 1)
      |    + (1.0/3 * (n.n - 1) - floor(1.0/3 * (n.n - 1)))
      |    * ((SELECT lp FROM samp WHERE rn = least(CAST(floor(1.0/3 * (n.n - 1)) AS BIGINT) + 2, n.n))
      |       - (SELECT lp FROM samp WHERE rn = CAST(floor(1.0/3 * (n.n - 1)) AS BIGINT) + 1)), 6) AS t_low,
      |  round((SELECT lp FROM samp WHERE rn = CAST(floor(2.0/3 * (n.n - 1)) AS BIGINT) + 1)
      |    + (2.0/3 * (n.n - 1) - floor(2.0/3 * (n.n - 1)))
      |    * ((SELECT lp FROM samp WHERE rn = least(CAST(floor(2.0/3 * (n.n - 1)) AS BIGINT) + 2, n.n))
      |       - (SELECT lp FROM samp WHERE rn = CAST(floor(2.0/3 * (n.n - 1)) AS BIGINT) + 1)), 6) AS t_high
      |  FROM n)
      |SELECT CASE WHEN lp >= t_high THEN 'head'
      |            WHEN lp >= t_low THEN 'middle' ELSE 'tail' END AS bucket,
      |       count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_words,
      |       round(avg(lp), 6) AS avg_logprob,
      |       min(lp) AS min_logprob, max(lp) AS max_logprob
      |FROM scored CROSS JOIN thr GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- SIM-11
  /** ANN recall/cost curve ([[Similarity.ivfRecallAudit]]): recall@10 of
    * the q_sim3 IVF index at probe depths 1/2/4 against brute-force
    * ground truth, over a held-out query sample (`vec_id % 10 = 7` —
    * disjoint from q_sim3's `vec_id < 5` serving set). The quantizer
    * trains once; each depth is a filter over one candidate join; the
    * `n_cand` column is the scored-candidate volume that the probe
    * depth buys the recall with.
    */
  def ivfRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.ivfRecallAudit(embs.where(col("vec_id") % 10 === 7), embs,
      k = 10, nProbes = Seq(1, 2, 4), nCentroids = 16, lloydIters = 2,
      trainN = 1024, seedPlanes = 6, dim = 64)
  }

  val ivfRecallAuditSql: String = {
    val (nc, iters, trainN, dim, k) = (16, 2, 1024, 64, 10)
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                      c.vec_id) AS rank
       |    FROM (SELECT * FROM v WHERE vec_id % 10 = 7
       |          AND list_dot_product(e, e) > 0) q
       |    JOIN (SELECT * FROM v WHERE list_dot_product(e, e) > 0) c
       |      ON q.vec_id != c.vec_id)
       |  WHERE rank <= $k),
       |ca AS (SELECT vec_id AS neighbor_id, e AS ne, cid FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c)
       |  WHERE rn = 1 AND list_dot_product(e, e) > 0),
       |qa AS (SELECT vec_id AS query_id, e AS qe, cid, rn AS crank FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c WHERE v.vec_id % 10 = 7)
       |  WHERE rn <= 4 AND list_dot_product(e, e) > 0),
       |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
       |cand AS (SELECT np.nprobe, qa.query_id, ca.neighbor_id,
       |         round(list_cosine_similarity(qa.qe, ca.ne), 6) AS cos
       |         FROM ca JOIN qa USING (cid) CROSS JOIN np
       |         WHERE qa.crank <= np.nprobe AND qa.query_id != ca.neighbor_id),
       |apx AS (SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT nprobe, query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY nprobe, query_id
       |             ORDER BY cos DESC, neighbor_id) AS rank FROM cand)
       |  WHERE rank <= $k),
       |t AS (SELECT count(*) AS n_truth, count(DISTINCT query_id) AS n_queries
       |      FROM exact),
       |h AS (SELECT nprobe, count(*) AS n_hit FROM apx
       |      JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
       |cc AS (SELECT nprobe, count(*) AS n_cand FROM cand GROUP BY 1)
       |SELECT cc.nprobe, t.n_queries, t.n_truth,
       |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_truth, 6) AS recall,
       |       cc.n_cand
       |FROM cc LEFT JOIN h USING (nprobe) CROSS JOIN t ORDER BY nprobe""".stripMargin
  }

  // ---------------------------------------------------------------- SIM-18
  /** Filtered ANN audit ([[Similarity.filteredIvfRecallAudit]]): the
    * pre-filter vs post-filter law for metadata-predicated vector
    * search ("nearest label-2 neighbors"), on the q_sim11 setup — one
    * shared index, truth = brute-force top-5 over the label-filtered
    * corpus, both strategies at probe depths 1/2/4. Expected shape:
    * pre-filter tracks the unfiltered recall curve; post-filter
    * collapses toward the ~10% label selectivity while scoring the
    * full candidate volume.
    */
  def filteredAnnAudit(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.filteredIvfRecallAudit(embs.where(col("vec_id") % 10 === 3),
      embs, labelValue = 2, k = 5, nProbes = Seq(1, 2, 4), nCentroids = 16,
      lloydIters = 2, trainN = 1024, seedPlanes = 6, dim = 64)
  }

  val filteredAnnAuditSql: String = {
    val (nc, iters, trainN, dim, k, lbl) = (16, 2, 1024, 64, 5, 2)
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
       |           FROM embeddings),
       |$training,
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                      c.vec_id) AS rank
       |    FROM (SELECT * FROM v WHERE vec_id % 10 = 3
       |          AND list_dot_product(e, e) > 0) q
       |    JOIN (SELECT * FROM v WHERE label = $lbl
       |          AND list_dot_product(e, e) > 0) c
       |      ON q.vec_id != c.vec_id)
       |  WHERE rank <= $k),
       |ca AS (SELECT vec_id AS neighbor_id, e AS ne, cid, label FROM (
       |    SELECT v.vec_id, v.e, v.label, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c)
       |  WHERE rn = 1 AND list_dot_product(e, e) > 0),
       |qa AS (SELECT vec_id AS query_id, e AS qe, cid, rn AS crank FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c WHERE v.vec_id % 10 = 3)
       |  WHERE rn <= 4 AND list_dot_product(e, e) > 0),
       |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
       |cand AS (SELECT np.nprobe, qa.query_id, ca.neighbor_id, ca.label,
       |         round(list_cosine_similarity(qa.qe, ca.ne), 6) AS cos
       |         FROM ca JOIN qa USING (cid) CROSS JOIN np
       |         WHERE qa.crank <= np.nprobe AND qa.query_id != ca.neighbor_id),
       |pre AS (SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT nprobe, query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY nprobe, query_id
       |             ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM cand WHERE label = $lbl)
       |  WHERE rank <= $k),
       |post AS (SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT nprobe, query_id, neighbor_id, label,
       |           row_number() OVER (PARTITION BY nprobe, query_id
       |             ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM cand)
       |  WHERE rank <= $k AND label = $lbl),
       |postdeep AS (SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT nprobe, query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY nprobe, query_id
       |             ORDER BY cos DESC, neighbor_id) AS rank2
       |    FROM (SELECT nprobe, query_id, neighbor_id, label, cos,
       |                 row_number() OVER (PARTITION BY nprobe, query_id
       |                   ORDER BY cos DESC, neighbor_id) AS rank
       |          FROM cand)
       |    WHERE rank <= ${k * 10} AND label = $lbl)
       |  WHERE rank2 <= $k),
       |t AS (SELECT count(*) AS n_truth, count(DISTINCT query_id) AS n_queries
       |      FROM exact),
       |hpre AS (SELECT nprobe, count(*) AS n_hit FROM pre
       |         JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
       |hpost AS (SELECT nprobe, count(*) AS n_hit FROM post
       |          JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
       |hpostd AS (SELECT nprobe, count(*) AS n_hit FROM postdeep
       |           JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
       |cpre AS (SELECT nprobe, count(*) AS n_cand FROM cand
       |         WHERE label = $lbl GROUP BY 1),
       |cpost AS (SELECT nprobe, count(*) AS n_cand FROM cand GROUP BY 1),
       |spre AS (SELECT 'pre' AS strategy, cpre.nprobe, t.n_queries, t.n_truth,
       |         CAST(coalesce(hpre.n_hit, 0) AS BIGINT) AS n_hit,
       |         round(CAST(coalesce(hpre.n_hit, 0) AS DOUBLE) / t.n_truth, 6) AS recall,
       |         cpre.n_cand
       |         FROM cpre LEFT JOIN hpre USING (nprobe) CROSS JOIN t),
       |spost AS (SELECT 'post' AS strategy, cpost.nprobe, t.n_queries, t.n_truth,
       |          CAST(coalesce(hpost.n_hit, 0) AS BIGINT) AS n_hit,
       |          round(CAST(coalesce(hpost.n_hit, 0) AS DOUBLE) / t.n_truth, 6) AS recall,
       |          cpost.n_cand
       |          FROM cpost LEFT JOIN hpost USING (nprobe) CROSS JOIN t),
       |spostd AS (SELECT 'post_deep' AS strategy, cpost.nprobe, t.n_queries,
       |           t.n_truth, CAST(coalesce(hpostd.n_hit, 0) AS BIGINT) AS n_hit,
       |           round(CAST(coalesce(hpostd.n_hit, 0) AS DOUBLE) / t.n_truth, 6) AS recall,
       |           cpost.n_cand
       |           FROM cpost LEFT JOIN hpostd USING (nprobe) CROSS JOIN t)
       |SELECT * FROM (SELECT * FROM spre UNION ALL SELECT * FROM spost
       |               UNION ALL SELECT * FROM spostd)
       |ORDER BY strategy, nprobe""".stripMargin
  }

  // ---------------------------------------------------------------- TXT-17
  /** BPE merge-table learning ([[graft.operators.Bpe.learnMerges]]): the
    * 6 highest-count merges over the corpus word frequencies, each
    * applied before the next is counted — the training counterpart of
    * q_txt14's merge-table apply. The oracle unrolls the 6 rounds as
    * CTE layers (the Lloyd-unroll pattern of [[ivfTrainingCtes]]) with
    * the identical space-prefixed `replace` application and identical
    * (cnt DESC, l, r) tie-break.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.learnMerges(Tables.documents(spark, dir), nMerges = 6)

  /** Generated CTE chain replaying [[graft.operators.Bpe]]'s learning
    * loop — `wf`/`st0` through `best$n`/`st$n` (per-word states carry
    * `w`), each round a CTE layer (the Lloyd-unroll pattern of
    * [[ivfTrainingCtes]]). Shared by the q_txt17 (merge table) and
    * q_txt18 (tokenize) oracles.
    */
  private def bpeCtes(n: Int): String = {
    def iter(i: Int): String =
      s"""py$i AS (SELECT freq, unnest(list_transform(range(len(s) - 1),
         |            j -> struct_pack(l := s[j + 1], r := s[j + 2]))) AS p
         |         FROM (SELECT freq, string_split(substr(state, 2), ' ') AS s
         |               FROM st${i - 1})),
         |pr$i AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |         FROM py$i GROUP BY 1, 2),
         |best$i AS (SELECT l, r, cnt FROM pr$i ORDER BY cnt DESC, l, r LIMIT 1),
         |st$i AS (SELECT w, replace(state, ' ' || b.l || ' ' || b.r,
         |                        ' ' || b.l || b.r) AS state, freq
         |         FROM st${i - 1} CROSS JOIN best$i b)""".stripMargin
    s"""wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |st0 AS (SELECT w,
       |        ' ' || array_to_string(string_split(w, ''), ' ') AS state,
       |        freq FROM wf),
       |${(1 to n).map(iter).mkString(",\n")}""".stripMargin
  }

  val bpeMergesSql: String = {
    val n = 6
    val finals = (1 to n)
      .map(i => s"SELECT $i AS rank, l AS lhs, r AS rhs, l || r AS merged, cnt FROM best$i")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(n)}
       |SELECT * FROM ($finals) ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- TXT-18
  /** Per-document token counts under the LEARNED BPE tokenizer
    * ([[graft.operators.Bpe.tokenCounts]]) — the merge sequence applied
    * in learning order (true BPE application, distinct from q_txt14's
    * greedy longest-match). The trained per-word state joins the word
    * stream once (vocabulary is the small side); documents with no
    * words have no row.
    */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.tokenCounts(Tables.documents(spark, dir), nMerges = 6)

  val bpeTokenizeSql: String =
    s"""WITH ${bpeCtes(6)},
       |tok AS (SELECT w,
       |        CAST(len(string_split(substr(state, 2), ' ')) AS BIGINT) AS n_tok
       |        FROM st6),
       |di AS (SELECT doc_id, w FROM (
       |         SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents) WHERE w <> '')
       |SELECT di.doc_id AS doc_id, count(*) AS n_words,
       |       CAST(sum(length(di.w)) AS BIGINT) AS n_chars,
       |       CAST(sum(tok.n_tok) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(length(di.w)) AS DOUBLE) / sum(tok.n_tok), 6)
       |         AS compression
       |FROM di JOIN tok USING (w) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- SIM-12
  /** ADC recall audit — q_sim11's measurement for the QUANTIZED tier:
    * recall@10 of the pure-ADC ranking ([[Similarity.pqAdcTopK]], the
    * q_sim7 codebooks) against brute-force float ground truth, at
    * depths 10 and 30 over the same held-out query sample. The depth-30
    * row is exactly what the rerank path recovers (`pqTopKReranked`
    * takes the depth-30 ADC survivors and re-ranks on floats, losing
    * nothing), so the two rows read as "ADC alone" vs "ADC + exact
    * re-rank at the shipped depth". One ADC scoring pass; each depth is
    * a broadcast-level residue of the same checkpointed ranking.
    */
  def adcRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val embs = Tables.embeddings(spark, dir)
    val queries = embs.where(col("vec_id") % 10 === 7)
    // Same (query split, corpus, k) as q_sim11's ground truth — the
    // store-cached table is built once per JVM and SHARED between them.
    val exact = Similarity.cachedTruth(queries, embs, k = 10)
    val cb = Similarity.trainPqCodebooks(embs, m = 4, ksub = 16, iters = 2,
      trainN = 1024, dim = 64)
    val codes = Similarity.pqCodes(embs, cb, m = 4, dim = 64)
      .select("vec_id", "sub", "code")
    // Round 21: the ADC ranking is referenced exactly ONCE below (the
    // two depths are a broadcast residue of the same frame), so the
    // r19-era eager localCheckpoint was a pure extra job + 15k-row
    // write/read barrier — dropped; the ranking now fuses into the
    // consumer's single plan.
    val adc = Similarity.pqAdcTopK(queries, codes, cb, k = 30, m = 4, dim = 64)
      .select("query_id", "neighbor_id", "rank")
    val depths = broadcast(Seq(10, 30).toDF("depth"))
    val truthAgg = exact.agg(count(lit(1)).as("n_truth"),
      countDistinct("query_id").as("n_queries"))
    val hits = adc.join(depths, col("rank") <= col("depth"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("depth").agg(count(lit(1)).as("n_hit"))
    depths.join(hits, Seq("depth"), "left")
      .crossJoin(broadcast(truthAgg))
      .select(col("depth"), col("n_queries"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth"), 6)
          .as("recall"))
      .orderBy("depth")
  }

  val adcRecallAuditSql: String = {
    val (m, subdim, ksub, iters, trainN, k) = (4, 16, 16, 2, 1024, 10)
    val (training, cFinal) = pqTrainingCtes(m, subdim, ksub, iters, trainN)
    val d2 = (s: String, c: String) =>
      s"round(list_dot_product($s, $s) - 2 * list_dot_product($s, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    // subspaceSum parity: m single-sub conditional sums combined in sub
    // order, so the float total is identical to Spark's order-fixed fold.
    def orderedSum(expr: String): String =
      (0 until m).map(i =>
        s"sum(CASE WHEN e.sub = $i THEN $expr ELSE 0.0 END)").mkString(" + ")
    val qnSum = (0 until m).map(i =>
      s"sum(CASE WHEN sub = $i THEN list_dot_product(s, s) ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |sv AS (SELECT vec_id, j.range AS sub,
       |       list_slice(e, j.range * $subdim + 1, j.range * $subdim + $subdim) AS s
       |       FROM v CROSS JOIN range($m) j),
       |enc AS (SELECT vec_id, sub, cid FROM (
       |   SELECT t.vec_id, t.sub, c.cid,
       |          row_number() OVER (PARTITION BY t.vec_id, t.sub
       |            ORDER BY ${d2("t.s", "c.ce")}, c.cid) AS rn
       |   FROM sv t JOIN $cFinal c ON t.sub = c.sub) WHERE rn = 1),
       |qsv AS (SELECT * FROM sv WHERE vec_id % 10 = 7),
       |qn AS (SELECT vec_id AS query_id, sqrt($qnSum) AS qn
       |       FROM qsv GROUP BY vec_id),
       |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |       ${orderedSum("list_dot_product(q.s, c.ce)")} AS dot,
       |       ${orderedSum("list_dot_product(c.ce, c.ce)")} AS rn2
       |       FROM enc e JOIN $cFinal c ON e.sub = c.sub AND e.cid = c.cid
       |            JOIN qsv q ON q.sub = e.sub
       |       GROUP BY 1, 2),
       |adc AS (SELECT query_id, neighbor_id, rank FROM (
       |   SELECT sc.query_id, sc.neighbor_id,
       |          row_number() OVER (PARTITION BY sc.query_id
       |            ORDER BY round(sc.dot / (qn.qn * sqrt(sc.rn2)), 6) DESC,
       |                     sc.neighbor_id) AS rank
       |   FROM sc JOIN qn USING (query_id)
       |   WHERE sc.rn2 > 0 AND qn.qn > 0 AND sc.query_id != sc.neighbor_id)
       |  WHERE rank <= 30),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                      c.vec_id) AS rank
       |    FROM (SELECT * FROM v WHERE vec_id % 10 = 7
       |          AND list_dot_product(e, e) > 0) q
       |    JOIN (SELECT * FROM v WHERE list_dot_product(e, e) > 0) c
       |      ON q.vec_id != c.vec_id)
       |  WHERE rank <= $k),
       |t AS (SELECT count(*) AS n_truth, count(DISTINCT query_id) AS n_queries
       |      FROM exact),
       |dp AS (SELECT unnest([10, 30]) AS depth),
       |h AS (SELECT dp.depth, count(*) AS n_hit
       |      FROM adc CROSS JOIN dp
       |      JOIN exact USING (query_id, neighbor_id)
       |      WHERE adc.rank <= dp.depth GROUP BY 1)
       |SELECT dp.depth, t.n_queries, t.n_truth,
       |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_truth, 6) AS recall
       |FROM dp LEFT JOIN h USING (depth) CROSS JOIN t ORDER BY depth""".stripMargin
  }

  // ---------------------------------------------------------------- TXT-19
  /** Exact corpus heavy hitters ([[graft.operators.HeavyHitters]]): the
    * tokens holding ≥ 3% of the corpus token mass, found by a
    * Misra-Gries sketch pass (bounded m=64 counters per map task, one
    * sketch per partition over the exchange) plus an exact semi-joined
    * verification count — the two-pass shape that stays EXACT in
    * bounded memory at 100 TB, where the candidate set a naive
    * `GROUP BY` would shuffle is unbounded. On this corpus the 3%
    * threshold splits the 30 template tokens (~3.4% each) from the rare
    * marker token (~0.1%); the sketch's eviction behavior under real
    * skew is exercised in HeavyHittersSpec's planted-Zipf tests. The
    * keep decision is integer arithmetic (`n·100 ≥ N·3`) so both
    * engines agree bit-for-bit.
    *
    * EAGER CONSTRUCTION: [[HeavyHitters.frequentItems]] executes
    * sketch pass 1 at call time (a `head()` over the corpus to collect
    * the single merged ≤ m-entry summary — bounded by construction),
    * so this entry pays a corpus scan at DataFrame CONSTRUCTION, unlike
    * every other `queries` entry (lazy plans). Bench and Verify both
    * time construction+execution together per query (the constructor
    * runs inside the timed block), so the scan is attributed to this
    * query either way; plan-audit tooling must not assume construction
    * is free here.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("item"))
      .as[String]
    graft.operators.HeavyHitters.frequentItems(toks, num = 3, denom = 100, m = 64)
  }

  val heavyHittersSql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
      |tot AS (SELECT count(*) AS n FROM toks),
      |cnt AS (SELECT item, count(*) AS n FROM toks GROUP BY 1)
      |SELECT c.item, c.n, round(CAST(c.n AS DOUBLE) / t.n, 6) AS share
      |FROM cnt c CROSS JOIN tot t
      |WHERE c.n * 100 >= t.n * 3
      |ORDER BY c.n DESC, c.item""".stripMargin

  // ---------------------------------------------------------------- TXT-20
  /** Count-Min point-query audit ([[graft.operators.CountMin]]) — the
    * OVERCOUNT-side frequency sketch next to q_txt19's Misra-Gries
    * (deterministic undercount, candidates only): a d=4 × w=512 CMS is
    * built from the raw token stream in ONE pass whose exchange is
    * bounded at ≤ d·w rows per task (no vocabulary ever materializes
    * on the sketch path — the property that makes it the 100 TB
    * point-query structure), then the top-25 true-frequency tokens are
    * point-queried against it and reported as (true_n, est_n,
    * overcount). est ≥ true ALWAYS (hash rows only inflate); the
    * overcount column shows what the ε = e/w collision bound costs on
    * this corpus. Hashing is the md5-parity [[TF.hexHash60]], so the
    * oracle replays the exact buckets — the sketch CONTENT is
    * certified, not just its bounds. Truth (the wordcount) is the
    * audit's pay-for-truth side, same contract as q_dd11/q_sim11; the
    * 25-row top table is localCheckpointed so its two consumers don't
    * re-run the wordcount.
    */
  def cmsAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val toks = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("item"))
    val sk = CountMin.sketch(toks, d = 4, w = 512)
    val top = toks.groupBy("item").agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("item")).limit(25)
      .localCheckpoint()
    CountMin.estimates(top.select("item"), sk, d = 4, w = 512)
      .join(top, Seq("item"))
      .select(col("item"), col("true_n"), col("est_n"),
        (col("est_n") - col("true_n")).as("overcount"))
      .orderBy(col("true_n").desc, col("item"))
  }

  val cmsAuditSql: String = {
    def hh(expr: String) = TF.hexHash60Sql(expr)
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
       |sk AS (SELECT hrow, bucket, CAST(count(*) AS BIGINT) AS c FROM (
       |         SELECT i.range AS hrow,
       |                ${hh("CAST(i.range AS VARCHAR) || ':' || item")} % 512 AS bucket
       |         FROM toks CROSS JOIN range(4) i)
       |       GROUP BY 1, 2),
       |tc AS (SELECT item, CAST(count(*) AS BIGINT) AS true_n FROM toks GROUP BY 1),
       |top AS (SELECT item, true_n FROM tc ORDER BY true_n DESC, item LIMIT 25),
       |q AS (SELECT top.item, top.true_n, i.range AS hrow,
       |             ${hh("CAST(i.range AS VARCHAR) || ':' || top.item")} % 512 AS bucket
       |      FROM top CROSS JOIN range(4) i)
       |SELECT q.item, any_value(q.true_n) AS true_n,
       |       min(coalesce(sk.c, 0)) AS est_n,
       |       min(coalesce(sk.c, 0)) - any_value(q.true_n) AS overcount
       |FROM q LEFT JOIN sk ON q.hrow = sk.hrow AND q.bucket = sk.bucket
       |GROUP BY q.item ORDER BY true_n DESC, q.item""".stripMargin
  }

  // ---------------------------------------------------------------- TXT-22
  /** Sketch-composition: join-size estimation from two Count-Min
    * sketches ([[graft.operators.CountMin.joinSizeEstimate]] — the CM
    * inner-product estimator). The corpus's token stream splits by
    * doc parity into two relations that NEVER see each other's data;
    * each is summarized into a d·w sketch, and min-over-rows of the
    * cellwise inner product upper-bounds the equi-join size Σ_w
    * fA(w)·fB(w). This is how a 100 TB planner prices a join before
    * paying its shuffle — two bounded summaries meet in a ≤ d·w-row
    * join. The exact join size is the audit's pay-for-truth side
    * (q_dd11 contract); output (true_pairs, est_pairs, overcount ≥ 0)
    * is all-integer, and the md5 bucket replay means the oracle
    * certifies the estimate's VALUE, not just its bound.
    */
  def cmsJoinEstimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val (d, w) = (4, 512)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("item"))
    val a = toks.where(col("doc_id") % 2 === 0).select("item")
    val b = toks.where(col("doc_id") % 2 =!= 0).select("item")
    val est = CountMin.joinSizeEstimate(
      CountMin.sketch(a, d, w), CountMin.sketch(b, d, w))
    // Exact truth store-cached (round 20; shared with q_txt23's
    // occurrences leg) — the sketch estimate above re-executes per run.
    val truth = CountMin.cachedJoinSizeTruth(a, b)
    truth.crossJoin(est)
      .select(col("true_pairs"), col("est_pairs"),
        (col("est_pairs") - col("true_pairs")).as("overcount"))
  }

  val cmsJoinEstimateSql: String = {
    def hh(expr: String) = TF.hexHash60Sql(expr)
    def sk(src: String) =
      s"""SELECT hrow, bucket, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT i.range AS hrow,
         |                ${hh("CAST(i.range AS VARCHAR) || ':' || item")} % 512 AS bucket
         |         FROM $src CROSS JOIN range(4) i)
         |       GROUP BY 1, 2""".stripMargin
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS item
       |              FROM documents),
       |ta AS (SELECT item FROM toks WHERE doc_id % 2 = 0),
       |tb AS (SELECT item FROM toks WHERE doc_id % 2 != 0),
       |ska AS (${sk("ta")}),
       |skb AS (${sk("tb")}),
       |ip AS (SELECT a.hrow, CAST(sum(a.c * b.c) AS BIGINT) AS ip
       |       FROM ska a JOIN skb b USING (hrow, bucket) GROUP BY 1),
       |est AS (SELECT min(ip) AS est_pairs FROM ip),
       |tr AS (SELECT CAST(coalesce(sum(x.ca * y.cb), 0) AS BIGINT) AS true_pairs
       |       FROM (SELECT item, count(*) AS ca FROM ta GROUP BY 1) x
       |       JOIN (SELECT item, count(*) AS cb FROM tb GROUP BY 1) y
       |         USING (item))
       |SELECT tr.true_pairs, est.est_pairs,
       |       est.est_pairs - tr.true_pairs AS overcount
       |FROM tr CROSS JOIN est""".stripMargin
  }

  // ---------------------------------------------------------------- TXT-23
  /** q_txt22's estimate ACTING as the plan decision it exists for:
    * price an equi-join from two bounded sketches BEFORE paying its
    * shuffle, and pick broadcast vs shuffle-hash from the estimate.
    * Two planted relation pairs over the same token split — the
    * OCCURRENCE streams (heavy hitters on both sides multiply:
    * millions of pairs at sf0.1, the shuffle-join regime) and their
    * DISTINCT projections (join size = the vocabulary intersection,
    * tens of rows, the broadcast regime) — are each sketched into d·w
    * cells and thresholded at 100k estimated pairs. Per scenario the
    * output holds the estimate, the exact size (pay-for-truth audit
    * side, q_dd11 contract), both decisions, and whether they agree —
    * at this corpus they must (CountMinSpec pins the law: CMS only
    * ever OVERcounts, so the one possible disagreement direction is
    * broadcast-sized joins mispriced into the shuffle tier when ε·N
    * crosses the threshold — a safe, never-OOM direction, documented
    * rather than hidden). The md5 bucket replay certifies the
    * estimates' VALUES, so the decisions are hash-certified too.
    */
  def cmsJoinDecision(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val (d, w) = (4, 512)
    val threshold = 100000L
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("item"))
    val aOcc = toks.where(col("doc_id") % 2 === 0).select("item")
    val bOcc = toks.where(col("doc_id") % 2 =!= 0).select("item")
    def leg(name: String, a: DataFrame, b: DataFrame): DataFrame = {
      val est = CountMin.joinSizeEstimate(
        CountMin.sketch(a, d, w), CountMin.sketch(b, d, w))
      // Exact truth store-cached per leg (round 20) — the estimates
      // and both decisions re-execute per run.
      val truth = CountMin.cachedJoinSizeTruth(a, b)
      truth.crossJoin(est).select(lit(name).as("scenario"),
        col("true_pairs"), col("est_pairs"))
    }
    leg("occurrences", aOcc, bOcc)
      .unionByName(leg("distincts", aOcc.distinct(), bOcc.distinct()))
      .select(col("scenario"), col("true_pairs"), col("est_pairs"),
        when(col("est_pairs") <= threshold, "broadcast").otherwise("shuffle")
          .as("est_decision"),
        when(col("true_pairs") <= threshold, "broadcast").otherwise("shuffle")
          .as("true_decision"),
        (when(col("est_pairs") <= threshold, "broadcast").otherwise("shuffle")
          === when(col("true_pairs") <= threshold, "broadcast")
            .otherwise("shuffle")).cast("long").as("agree"))
      .orderBy("scenario")
  }

  val cmsJoinDecisionSql: String = {
    def hh(expr: String) = TF.hexHash60Sql(expr)
    def sk(src: String) =
      s"""SELECT hrow, bucket, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT i.range AS hrow,
         |                ${hh("CAST(i.range AS VARCHAR) || ':' || item")} % 512 AS bucket
         |         FROM $src CROSS JOIN range(4) i)
         |       GROUP BY 1, 2""".stripMargin
    def est(a: String, b: String) =
      s"""SELECT min(ip) AS est_pairs FROM (
         |  SELECT a.hrow, CAST(sum(a.c * b.c) AS BIGINT) AS ip
         |  FROM $a a JOIN $b b USING (hrow, bucket) GROUP BY 1)""".stripMargin
    def tru(a: String, b: String) =
      s"""SELECT CAST(coalesce(sum(x.ca * y.cb), 0) AS BIGINT) AS true_pairs
         |FROM (SELECT item, count(*) AS ca FROM $a GROUP BY 1) x
         |JOIN (SELECT item, count(*) AS cb FROM $b GROUP BY 1) y
         |  USING (item)""".stripMargin
    def row(name: String, t: String, e: String) =
      s"""SELECT '$name' AS scenario, t.true_pairs, e.est_pairs,
         |  CASE WHEN e.est_pairs <= 100000 THEN 'broadcast'
         |       ELSE 'shuffle' END AS est_decision,
         |  CASE WHEN t.true_pairs <= 100000 THEN 'broadcast'
         |       ELSE 'shuffle' END AS true_decision,
         |  CAST(CASE WHEN (e.est_pairs <= 100000) = (t.true_pairs <= 100000)
         |       THEN 1 ELSE 0 END AS BIGINT) AS agree
         |FROM $t t CROSS JOIN $e e""".stripMargin
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS item
       |              FROM documents),
       |ta AS (SELECT item FROM toks WHERE doc_id % 2 = 0),
       |tb AS (SELECT item FROM toks WHERE doc_id % 2 != 0),
       |da AS (SELECT DISTINCT item FROM ta),
       |db AS (SELECT DISTINCT item FROM tb),
       |ska AS (${sk("ta")}),
       |skb AS (${sk("tb")}),
       |skda AS (${sk("da")}),
       |skdb AS (${sk("db")}),
       |e_occ AS (${est("ska", "skb")}),
       |e_dis AS (${est("skda", "skdb")}),
       |t_occ AS (${tru("ta", "tb")}),
       |t_dis AS (${tru("da", "db")})
       |${row("occurrences", "t_occ", "e_occ")}
       |UNION ALL
       |${row("distincts", "t_dis", "e_dis")}
       |ORDER BY scenario""".stripMargin
  }

  // ---------------------------------------------------------------- SIM-13
  /** Hard-negative mining ([[Similarity.hardNegatives]]): for a 4%
    * query sample (vec_id % 25 == 3), the top-5 most-cosine-similar
    * corpus vectors with a DIFFERENT label — the contrastive-training
    * negatives that sit closest to the boundary. Exact (brute-force)
    * scoring with the label inequality fused into the join, so ranks
    * are computed only over genuine negatives; at 100 TB the scoring
    * join swaps to an ANN candidate tier, this form is the audit
    * baseline.
    */
  def hardNegativeMining(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(embs.where(col("vec_id") % 25 === 3), embs, k = 5)
      .orderBy("query_id", "rank")
  }

  val hardNegativeMiningSql: String =
    """SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank FROM (
      |  SELECT q.vec_id AS query_id, q.label AS query_label,
      |         c.vec_id AS neighbor_id, c.label AS neighbor_label,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                          CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 25 = 3
      |        AND len(list_filter(embedding, x -> x != 0)) > 0) q
      |  JOIN (SELECT * FROM embeddings
      |        WHERE len(list_filter(embedding, x -> x != 0)) > 0) c
      |    ON q.vec_id != c.vec_id AND q.label != c.label
      |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- SIM-14
  /** q_sim13's SCALE path ([[Similarity.hardNegativesInt8]]): the same
    * 4% query sample mined against the int8 candidate tier — coarse
    * probe (nProbe=4 of 16 cells) → int8 candidate rank with the label
    * inequality AT the candidate stage (no rerankDepth slot wasted on a
    * positive) → exact float re-rank. One shared label-agnostic index
    * serves this and plain ANN; q_sim13's exact form is the audit
    * baseline (SimilaritySpec pins full-probe ≡ exact).
    */
  def hardNegativeMiningAnn(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.hardNegativesInt8(embs.where(col("vec_id") % 25 === 3), embs,
        k = 5, rerankDepth = 30, nCentroids = 16, nProbe = 4, lloydIters = 2,
        trainN = 1024, seedPlanes = 6, dim = 64)
      .orderBy("query_id", "rank")
  }

  val hardNegativeMiningAnnSql: String = {
    val (nc, np, iters, trainN, dim, k, rerank) = (16, 4, 2, 1024, 64, 5, 30)
    val (training, cFinal) = ivfTrainingCtes(nc, iters, trainN, seedPlanes = 6, dim = dim)
    // The q_sim5 replay (quantize → midpoint recon → cell assign →
    // probe → candidate rank → float re-rank) with the label
    // inequality in the candidate stage, exactly where the Spark side
    // fuses it.
    s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$training,
       |st AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM (
       |         SELECT d.range AS d, min(v.e[d.range + 1]) AS lo,
       |                max(v.e[d.range + 1]) AS hi
       |         FROM v CROSS JOIN range($dim) d GROUP BY 1)),
       |re AS (SELECT v.vec_id, list_transform(range($dim), d ->
       |         CASE WHEN st.hi[d + 1] > st.lo[d + 1]
       |              THEN st.lo[d + 1] +
       |                   (LEAST(GREATEST(floor((v.e[d + 1] - st.lo[d + 1])
       |                      / (st.hi[d + 1] - st.lo[d + 1]) * 255.0), 0.0), 255.0)
       |                    + 0.5) * (st.hi[d + 1] - st.lo[d + 1]) / 256.0
       |              ELSE st.lo[d + 1] END) AS re
       |       FROM v CROSS JOIN st),
       |rz AS (SELECT vec_id, re FROM re WHERE list_dot_product(re, re) > 0),
       |caq AS (SELECT vec_id AS neighbor_id, re, cid FROM (
       |    SELECT r.vec_id, r.re, c.cid,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY round(list_cosine_similarity(r.re, c.ce), 6) DESC, c.cid) AS rn
       |    FROM rz r CROSS JOIN $cFinal c)
       |  WHERE rn = 1),
       |qa AS (SELECT vec_id AS query_id, lab AS q_lab, e AS qe, cid FROM (
       |    SELECT v.vec_id, v.label AS lab, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $cFinal c WHERE v.vec_id % 25 = 3)
       |  WHERE rn <= $np AND list_dot_product(e, e) > 0),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT qa.query_id, caq.neighbor_id,
       |           row_number() OVER (PARTITION BY qa.query_id
       |             ORDER BY round(list_cosine_similarity(qa.qe, caq.re), 6) DESC,
       |                      caq.neighbor_id) AS arank
       |    FROM caq JOIN qa USING (cid)
       |         JOIN v nl ON caq.neighbor_id = nl.vec_id
       |    WHERE qa.query_id != caq.neighbor_id AND qa.q_lab != nl.label)
       |  WHERE arank <= $rerank)
       |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank FROM (
       |  SELECT cand.query_id, q.label AS query_label, cand.neighbor_id,
       |         c.label AS neighbor_label,
       |         round(list_cosine_similarity(q.e, c.e), 6) AS cos,
       |         row_number() OVER (PARTITION BY cand.query_id
       |           ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
       |                    cand.neighbor_id) AS rank
       |  FROM cand JOIN v q ON cand.query_id = q.vec_id
       |            JOIN v c ON cand.neighbor_id = c.vec_id
       |  WHERE list_dot_product(q.e, q.e) > 0 AND list_dot_product(c.e, c.e) > 0)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- ML-22
  /** Deterministic bottom-k corpus sample ([[graft.operators.Sampling]])
    * — the EXACT-size, mergeable, coordinated uniform sample next to
    * the Bernoulli samplers (q_ml3 stratified, q_ml8 temperature):
    * rank docs by the salted md5 hash of doc_id, keep the 100
    * smallest. Compiles to `TakeOrderedAndProject` (map-side ≤ k
    * heaps; the exchange carries k·partitions rows, never the corpus);
    * the merge law bottomK(A∪B) = bottomK(bottomK(A)∪bottomK(B)) is
    * what a 1000-executor run and [[graft.streaming.SampleStream]]
    * both lean on. The oracle replays the exact ranks, so WHICH docs
    * are sampled is hash-certified, not just how many.
    */
  def bottomKSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.bottomK(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", k = 100)
      .select(col("doc_id"), col("lang"), col("smp_rank"),
        col("smp_rn").cast("long").as("smp_rn"))
      .orderBy("smp_rn")

  val bottomKSampleSql: String =
    s"""SELECT doc_id, lang, h AS smp_rank,
       |       row_number() OVER (ORDER BY h, doc_id) AS smp_rn
       |FROM (SELECT doc_id, lang,
       |        ${TF.hexHash60Sql("'smp:' || CAST(doc_id AS VARCHAR)")} AS h
       |      FROM documents)
       |ORDER BY h, doc_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- ML-23
  /** TOKEN-mass-proportional document sampling
    * ([[graft.operators.Sampling.weightedBottomK]], Efraimidis–
    * Spirakis with w = whitespace token count): 100 whole documents
    * drawn without replacement, each with probability proportional to
    * its token count — sampling uniformly over the TOKEN stream while
    * emitting whole docs, the draw a training-data inspector actually
    * wants (a uniform doc sample over-represents short docs' tokens).
    * Deterministic (content-hash draws), mergeable
    * (TakeOrderedAndProject), coordinated with q_ml22's uniform
    * sample under a different salt. The oracle replays draw, key, and
    * rank arithmetic exactly (6dp-rounded key, id tie-break — the
    * ln/division 1-ulp risk absorbed like q_ml20's pow).
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedBottomK(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            TF.tokenCount(col("text")).as("w")),
        "doc_id", "w", k = 100)
      .select(col("doc_id"), col("lang"), col("w"), col("wr_key"),
        col("wr_rn").cast("long").as("wr_rn"))
      .orderBy("wr_rn")

  val weightedSampleSql: String =
    s"""SELECT doc_id, lang, w, wr_key,
       |       row_number() OVER (ORDER BY wr_key, doc_id) AS wr_rn
       |FROM (SELECT doc_id, lang, w,
       |        round(-ln((${TF.hexHash60Sql(
                   "'wsmp:' || CAST(doc_id AS VARCHAR)")} + 1)
       |                  / 1152921504606846976.0) / w, 6) AS wr_key
       |      FROM (SELECT doc_id, lang,
       |              CAST(len(string_split(text, ' ')) AS BIGINT) AS w
       |            FROM documents)
       |      WHERE w > 0)
       |ORDER BY wr_key, doc_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- SIM-15
  /** Johnson–Lindenstrauss random projection — the dimensionality-
    * reduction step in front of an ANN tier (project 64 → 16 dims,
    * then index the short vectors: 4× less index storage and 4×
    * cheaper dots, at a distance distortion the JL lemma bounds) —
    * reduced to the repo's audit form: project with a DETERMINISTIC
    * ±1 sign matrix (Achlioptas 2003's database-friendly construction;
    * entries are md5-parity bits over the literal key "rp:j:i", the
    * [[Similarity.planeWeights]] discipline, baked into the plan), and
    * report the squared-distance ratio ‖Rx_a − Rx_b‖² / (k·‖x_a −
    * x_b‖²) for every pair of a bounded id-sampled probe set —
    * expectation exactly 1, concentration the spec asserts. Each
    * projection is a [[graft.functions.FloatVectorDot]] codegen'd
    * fold (dimension order — both engines identical), the pair stage
    * subtracts THEN dots (one fold, same order both engines), and only
    * the final ratio rounds (6dp).
    *
    * Shape at 100 TB: projecting is k map-side dots per vector — no
    * shuffle, composes in front of [[Similarity.ivfTopK]]'s training
    * and [[graft.streaming.IndexMaintenance]]'s stores untouched; the
    * all-pairs here is the audit's documented bounded probe sample
    * (~n/11 ids), never a corpus join.
    */
  def randomProjectionAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val (kOut, dim) = (16, 64)
    val signArrs = (0 until kOut).map(j =>
      array((0 until dim).map(i => lit(Similarity.signEntry(j, i))): _*))
    val sample = Tables.embeddings(spark, dir)
      .where(col("vec_id") % 11 === 0)
      .where(VF.l2Norm(col("embedding")) > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"),
        array(signArrs.map(s => VF.dot(col("embedding"), s)): _*).as("y"))
    val a = sample.select(col("vec_id").as("id_a"), col("e").as("ea"),
      col("y").as("ya"))
    val b = sample.select(col("vec_id").as("id_b"), col("e").as("eb"),
      col("y").as("yb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("dx", zip_with(col("ea"), col("eb"), (x, yv) => x - yv))
      .withColumn("dy", zip_with(col("ya"), col("yb"), (x, yv) => x - yv))
      .withColumn("d2x", VF.dot(col("dx"), col("dx")))
      .withColumn("d2y", VF.dot(col("dy"), col("dy")))
      .where(col("d2x") > 0)
      .select(col("id_a"), col("id_b"),
        round(col("d2y") / (lit(kOut) * col("d2x")), 6).as("ratio"))
      .orderBy("id_a", "id_b")
  }

  val randomProjectionAuditSql: String = {
    val (kOut, dim) = (16, 64)
    def sign(j: Int, i: Int): String =
      if (TF.hexHash60Local(s"rp:$j:$i") % 2 == 0) "1.0" else "-1.0"
    val proj = (0 until kOut).map { j =>
      val s = (0 until dim).map(i => sign(j, i)).mkString(", ")
      s"list_dot_product(e, [$s])"
    }.mkString(",\n|           ")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings
       |           WHERE vec_id % 11 = 0
       |             AND list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                  CAST(embedding AS DOUBLE[])) > 0),
       |p AS (SELECT vec_id, e,
       |        [$proj] AS y
       |      FROM s),
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |            list_transform(range($dim),
       |              i -> a.e[i + 1] - b.e[i + 1]) AS dx,
       |            list_transform(range($kOut),
       |              j -> a.y[j + 1] - b.y[j + 1]) AS dy
       |          FROM p a JOIN p b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b,
       |       round(list_dot_product(dy, dy)
       |             / ($kOut * list_dot_product(dx, dx)), 6) AS ratio
       |FROM pairs WHERE list_dot_product(dx, dx) > 0
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- SIM-16
  /** The action consequence of q_sim15's distance audit: does RANKING
    * survive the 64 → 16 projection? Per q_sim1 query (vec_id < 5),
    * brute-force cosine top-10 in the PROJECTED space vs the full-dim
    * truth, reported as recall@10 — the number that decides whether
    * the 4×-cheaper index is usable (distances-within-ε says it
    * should; this measures it). Both rankings are the q_sim1
    * discipline (cos rounded 6dp, id tie-break) so the oracle replays
    * them exactly; the projection is the SAME md5-parity sign matrix
    * as q_sim15 (one projection serves audit and serving). Shape: the
    * projection adds k map-side dots per vector to q_sim1's plan —
    * the scored corpus never shuffles, top-k stays the bounded
    * aggregator.
    */
  def projectionRecall(spark: SparkSession, dir: String): DataFrame = {
    val (kOut, dim, topK) = (16, 64, 10)
    val embs = Tables.embeddings(spark, dir)
    val proj = Similarity.signProject(embs, kOut, dim)
    val full = Similarity.cachedTruth(
      embs.where(col("vec_id") < 5), embs, k = topK)
    val low = Similarity.cachedTruth(
      proj.where(col("vec_id") < 5), proj, k = topK)
    full.select(col("query_id"), col("neighbor_id"))
      .join(low.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        round(col("n_overlap") / lit(topK.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  val projectionRecallSql: String = {
    val (kOut, dim) = (16, 64)
    def sign(j: Int, i: Int): String =
      if (TF.hexHash60Local(s"rp:$j:$i") % 2 == 0) "1.0" else "-1.0"
    val proj = (0 until kOut).map { j =>
      val s = (0 until dim).map(i => sign(j, i)).mkString(", ")
      s"list_dot_product(e, [$s])"
    }.mkString(",\n|            ")
    def topk(src: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
         |                      c.vec_id) AS rank
         |    FROM (SELECT * FROM $src WHERE vec_id < 5
         |          AND list_dot_product(e, e) > 0) q
         |    JOIN (SELECT * FROM $src
         |          WHERE list_dot_product(e, e) > 0) c
         |      ON q.vec_id != c.vec_id) WHERE rank <= 10""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings),
       |p AS (SELECT vec_id,
       |        [$proj] AS e
       |      FROM v),
       |tf AS (${topk("v")}),
       |tl AS (${topk("p")})
       |SELECT tf.query_id, count(*) AS n_overlap,
       |       round(count(*) / 10.0, 6) AS recall
       |FROM tf JOIN tl USING (query_id, neighbor_id)
       |GROUP BY 1 ORDER BY query_id""".stripMargin
  }

  // ---------------------------------------------------------------- SIM-17
  /** The DIMENSION LADDER q_sim16's honest verdict demands: 16 dims
    * audits fine on distance (q_sim15's ratio ∈ [0.8, 1.2]) but ships
    * 0.1–0.3 recall@10, so where IS the deployable operating point?
    * Per rung k ∈ {16, 24, 32, 48} of the SAME md5-parity sign family
    * ("rp:j:i" — rung k is a PREFIX extension, so serving can move
    * along the ladder without re-projecting history), brute-force
    * cosine top-10 in the projected space vs the full-dim truth, and
    * per rung the aggregate recall over all queries (zero-overlap
    * queries included via the left join — dropping them would inflate
    * the mean), the storage/dot cost ratio k/64, and the deploy flag
    * at the mean-recall ≥ 0.8 bar. The first deploy=1 row is the
    * operating point an index swap should use; the full-dim truth is
    * computed ONCE (checkpointed) and serves all four rungs.
    *
    * Measured verdict on THIS corpus (SCALE.md round-15): no rung
    * deploys — recall 0.14→0.38 at sf0.01, 0.02→0.18 at sf0.1, and it
    * DROPS as the corpus grows. The mechanism is margins, not the
    * ladder: these embeddings are near-uniform (truth's 10th→11th
    * cosine gap ~0.005), an order below the O(√(1/k)) JL distortion at
    * every sub-full rung, so rank order cannot survive. SimilaritySpec
    * pins both regimes — near-dup families (margin ~0.9) deploy at
    * k=16; this corpus at none — making the ladder the DECISION tool:
    * run it, read the first deploy row, and if there is none the
    * projection tier stays off (serving full-dim is the correct call
    * here, and the audit proves it cheaply before any index swap).
    */
  def projectionLadder(spark: SparkSession, dir: String): DataFrame =
    Similarity.projectionLadder(Tables.embeddings(spark, dir),
      col("vec_id") < 5, dims = Seq(16, 24, 32, 48), dim = 64, topK = 10)

  val projectionLadderSql: String = {
    val dim = 64
    def sign(j: Int, i: Int): String =
      if (TF.hexHash60Local(s"rp:$j:$i") % 2 == 0) "1.0" else "-1.0"
    def projList(kOut: Int) = (0 until kOut).map { j =>
      val s = (0 until dim).map(i => sign(j, i)).mkString(", ")
      s"list_dot_product(e, [$s])"
    }.mkString(",\n|            ")
    def topk(src: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC,
         |                      c.vec_id) AS rank
         |    FROM (SELECT * FROM $src WHERE vec_id < 5
         |          AND list_dot_product(e, e) > 0) q
         |    JOIN (SELECT * FROM $src
         |          WHERE list_dot_product(e, e) > 0) c
         |      ON q.vec_id != c.vec_id) WHERE rank <= 10""".stripMargin
    def rungConcrete(kOut: Int) =
      s"""r$kOut AS (SELECT vec_id,
         |        [${projList(kOut)}] AS e
         |      FROM v),
         |t$kOut AS (${topk(s"r$kOut")}),
         |o$kOut AS (SELECT tf.query_id, count(*) AS n
         |       FROM tf JOIN t$kOut USING (query_id, neighbor_id)
         |       GROUP BY 1),
         |a$kOut AS (SELECT CAST($kOut AS BIGINT) AS k_dims,
         |         round(avg(coalesce(o.n, 0) / 10.0), 6) AS mean_recall,
         |         round(min(coalesce(o.n, 0) / 10.0), 6) AS min_recall,
         |         round($kOut / 64.0, 6) AS cost_ratio
         |       FROM (SELECT DISTINCT query_id FROM tf) q
         |       LEFT JOIN o$kOut o USING (query_id))""".stripMargin
    val rungs = Seq(16, 24, 32, 48)
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings),
       |tf AS (${topk("v")}),
       |${rungs.map(rungConcrete).mkString(",\n|")}
       |SELECT k_dims, mean_recall, min_recall, cost_ratio,
       |       CAST(CASE WHEN mean_recall >= 0.8 THEN 1 ELSE 0 END AS BIGINT)
       |         AS deploy
       |FROM (${rungs.map(k => s"SELECT * FROM a$k").mkString(" UNION ALL ")})
       |ORDER BY k_dims""".stripMargin
  }

  // ---------------------------------------------------------------- DD-13
  /** Exact set-similarity self-join ([[Dedup.prefixJaccardJoin]]):
    * every document pair with 3-shingle Jaccard ≥ 4/5, found by
    * df-ordered prefix filtering — the LOSSLESS candidate generator
    * (q_dd5's MinHash-LSH is the probabilistic one; q_dd11 measures
    * what banding loses, this operator loses nothing by proof). The
    * oracle replays the NAIVE all-pairs form with the same integer
    * keep decision (|∩|·5 ≥ |∪|·4) — a hash match certifies the prune
    * exact, not just plausible.
    */
  def prefixJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardJoin(Tables.documents(spark, dir), tNum = 4, tDen = 5)
      .orderBy("doc_a", "doc_b")

  val prefixJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(t) >= 3
      |           THEN list_transform(range(len(t) - 2),
      |                i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))
      |           ELSE [text] END AS shingles
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
      |ds AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS i,
      |        CAST(len(a.ss) AS BIGINT) AS sa, CAST(len(b.ss) AS BIGINT) AS sb
      |      FROM ds a JOIN ds b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |       round(CAST(i AS DOUBLE) / (sa + sb - i), 6) AS jaccard
      |FROM p WHERE i * 5 >= (sa + sb - i) * 4
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- ML-20
  /** Popularity-corrected NEGATIVE SAMPLING (the word2vec/NCE unigram^α
    * table, α = 3/4) as a declarative inverse-CDF lookup — the random
    * half of the negative-sampling toolkit (q_sim13/14 mine the HARD
    * half). The sampling table: corpus unigram counts raised to 0.75
    * (rounded 6dp — the one cross-engine pow risk, documented), summed
    * into cumulative [lo, hi) shares in word order (fixed fold order,
    * the subspaceSum discipline); draws: 20 contexts × 5 negatives,
    * u = md5("neg:ctx:draw") folded to a rational in [0,1) — exact in
    * both engines — matched to its word by the interval containment
    * join. Output proves the draw law end to end: (ctx, draw, word, u).
    *
    * Scale shape: the table is one wordcount aggregate + one window
    * cumsum, bounded by DISTINCT words and broadcast into the draw
    * stream (at a 10M-word real vocabulary it is still a ~200 MB
    * broadcast; past that the containment join becomes a bucketed
    * [[graft.operators.RangeJoin]]-style band join on share buckets —
    * same semantics, one shuffle). Draws are embarrassingly parallel.
    */
  def negativeSampling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("w", round(pow(col("n").cast("double"), 0.75), 6))
    val tot = Window.orderBy("word")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy("word")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // lo = lag(hi), NOT (cumsum − w)/tot: by fp cancellation the latter
    // need not equal the previous row's hi, so interval endpoints could
    // leave ulp-scale gaps/overlaps (a draw matching 0 or 2 words).
    // lag makes the [0,1) tiling exact BY CONSTRUCTION — each interval
    // starts exactly where the previous one ends.
    val table = counts
      .withColumn("hi_w", sum("w").over(tot))
      .withColumn("tot_w", sum("w").over(all))
      .withColumn("hi", col("hi_w") / col("tot_w"))
      .withColumn("lo",
        coalesce(lag("hi", 1).over(Window.orderBy("word")), lit(0.0)))
      .select("word", "lo", "hi")
    val m = TF.MinhashPrime
    val draws = spark.range(20).select(col("id").as("ctx"))
      .crossJoin(spark.range(5).select(col("id").as("draw")))
      .withColumn("u",
        pmod(TF.hexHash60(concat(lit("neg:"), col("ctx").cast("string"),
          lit(":"), col("draw").cast("string"))), lit(m)).cast("double") / m)
    draws.join(broadcast(table), col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("ctx"), col("draw"), col("word"), round(col("u"), 6).as("u"))
      .orderBy("ctx", "draw")
  }

  val negativeSamplingSql: String = {
    val m = TF.MinhashPrime
    s"""WITH cnt AS (SELECT word, count(*) AS n FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |    GROUP BY 1),
       |wt AS (SELECT word, round(pow(CAST(n AS DOUBLE), 0.75), 6) AS w FROM cnt),
       |tb0 AS (SELECT word,
       |    sum(w) OVER (ORDER BY word ROWS BETWEEN UNBOUNDED PRECEDING
       |       AND CURRENT ROW) /
       |    (sum(w) OVER (ORDER BY word ROWS BETWEEN UNBOUNDED PRECEDING
       |       AND UNBOUNDED FOLLOWING)) AS hi
       |  FROM wt),
       |tb AS (SELECT word,
       |    coalesce(lag(hi) OVER (ORDER BY word), 0.0) AS lo, hi
       |  FROM tb0),
       |dr AS (SELECT c.range AS ctx, d.range AS draw,
       |    CAST(${TF.hexHash60Sql(
               "'neg:' || c.range || ':' || d.range")} % $m AS DOUBLE) / $m AS u
       |  FROM range(20) c CROSS JOIN range(5) d)
       |SELECT dr.ctx, dr.draw, tb.word, round(dr.u, 6) AS u
       |FROM dr JOIN tb ON dr.u >= tb.lo AND dr.u < tb.hi
       |ORDER BY ctx, draw""".stripMargin
  }

  // ---------------------------------------------------------------- ML-21
  /** q_ml7's benchmark-decontamination scan with a
    * [[graft.operators.Bloom]] pre-filter in front of the exact join —
    * the shape a 100 TB run uses. q_ml7 joins every distinct corpus
    * (doc, 8-gram) pair against the benchmark gram set, so its shuffle
    * carries the whole corpus's gram stream; here each gram OCCURRENCE
    * is probed against the broadcast Bloom filter (k = 4 chained
    * map-side semi joins, one reused ≤ m-row broadcast) BEFORE any
    * exchange, and only surviving candidates reach the per-doc dedup +
    * exact-verify stage. No false negatives (every truly contaminated
    * pair survives — q_ml7's answer is reproduced exactly); false
    * positives are verified away downstream and REPORTED, not hidden:
    * output is per-doc (n_candidate, n_exact), so n_candidate −
    * n_exact is the measured FP overhead the pre-filter traded for the
    * shuffle cut. m = 2¹⁷ bits, k = 4 sizes the filter for the sf0.1
    * benchmark gram count (~23k grams → kn/m ≈ 0.7, FP ≈ 6.6% — big
    * enough to EXERCISE the false-positive path, small enough that the
    * verify side stays candidate-bounded). The md5-parity hashing
    * means DuckDB replays the exact bit table: which grams pass —
    * including each false positive — is hash-certified per run.
    */
  def bloomDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val k = 4; val m = 131072
    val docs = Tables.documents(spark, dir)
    val benchGrams = docs.where(col("doc_id") % 10 === 0)
      .select(explode(TF.shingles(col("text"), 8)).as("item"))
      .distinct()
    val bloom = graft.operators.Bloom.build(benchGrams, k, m)
    val corpusOcc = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(TF.shingles(col("text"), 8)).as("item"))
    // Probe per occurrence, map-side, before the dedup exchange: the
    // shuffle carries candidates only. The serving form is the AUTO
    // choice (Bloom.choosePacked over the filter's own set-bit count —
    // one bounded ≤ m-row job): at sf0.1's ~23k benchmark grams it
    // lands on the join form (four semi joins broadcasting the SAME
    // bit table — one exchange, three ReusedExchange), which is also
    // what the oracle replays; past the 10^5-gram crossover the same
    // call serves the packed codegen'd bitmap, row-for-row identical.
    val candPairs = graft.operators.Bloom
      .filterMembersAuto(corpusOcc, "item", bloom, k, m)
      .dropDuplicates("doc_id", "item")
    candPairs
      .join(broadcast(benchGrams.withColumnRenamed("item", "bgram")),
        col("item") === col("bgram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidate"),
        sum(when(col("bgram").isNotNull, 1L).otherwise(0L)).as("n_exact"))
      .orderBy("doc_id")
  }

  val bloomDecontaminationSql: String = {
    // Kirsch-Mitzelmacher replay: two md5 folds per gram, bit_i =
    // (h1 + i*h2) % m with h2 forced odd (| 1 == integer arithmetic
    // both engines: h2 is already in [0, m) so the OR is the +1-if-even).
    val hm = (salt: String) => TF.hexHash60Sql(s"'$salt:' || gram") + " % 131072"
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS t
       |           FROM documents),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
       |        THEN list_transform(range(len(t) - 7),
       |             i -> array_to_string(list_slice(t, i + 1, i + 8), ' '))
       |        ELSE [text] END) AS gram FROM t),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
       |bh AS (SELECT gram, h1,
       |              CASE WHEN h2 % 2 = 0 THEN h2 + 1 ELSE h2 END AS h2
       |       FROM (SELECT gram, ${hm("b1")} AS h1, ${hm("b2")} AS h2
       |             FROM bench)),
       |bloomb AS (SELECT DISTINCT (h1 + s.i * h2) % 131072 AS bit
       |           FROM bh CROSS JOIN (VALUES (0),(1),(2),(3)) s(i)),
       |corp AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 != 0),
       |cb AS (SELECT doc_id, gram, h1,
       |              CASE WHEN h2 % 2 = 0 THEN h2 + 1 ELSE h2 END AS h2
       |       FROM (SELECT doc_id, gram, ${hm("b1")} AS h1, ${hm("b2")} AS h2
       |             FROM corp)),
       |cand AS (SELECT doc_id, gram FROM cb
       |         WHERE h1 IN (SELECT bit FROM bloomb)
       |           AND (h1 + h2) % 131072 IN (SELECT bit FROM bloomb)
       |           AND (h1 + 2 * h2) % 131072 IN (SELECT bit FROM bloomb)
       |           AND (h1 + 3 * h2) % 131072 IN (SELECT bit FROM bloomb))
       |SELECT doc_id, count(*) AS n_candidate,
       |       CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
       |FROM cand GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- DD-14
  /** Candidate-generator audit: the two near-dup candidate stages —
    * LOSSLESS prefix filtering ([[Dedup.prefixCandidates]]) and
    * probabilistic MinHash-LSH banding ([[Dedup.minhashCandidates]],
    * md5-parity base hash) — measured against the same exact
    * shingle-Jaccard ≥ 4/5 truth: candidate volume, hits, misses, and
    * hit rate per generator. This is the decision table for a 100 TB
    * dedup run: prefix filtering guarantees hit_rate 1.0 at whatever
    * candidate volume the corpus's rare-shingle collisions produce,
    * banding fixes candidate volume at the knee and pays the measured
    * recall. Truth comes from the prefix join itself (exact by the
    * losslessness proof + q_dd13's oracle); the DuckDB replay computes
    * truth naively, so a hash match re-certifies that equivalence too.
    */
  def candidateAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Candidate and truth tables store-cached (round 20, VERDICT #1 —
    // previously per-invocation localCheckpoints): the prefix candidate
    // table serves double duty — its own volume row, and, verified, the
    // exact truth (lossless by proof, so verify(prefix candidates) IS
    // the full answer). All three tables are deterministic build
    // artifacts keyed on the corpus plan + params; every count below
    // reads graft_artifacts parquet (bounded pair tables — each side of
    // an aggregate scans its artifact, no rebuild anywhere).
    val cPrefix = Dedup.cachedPrefixCandidates(docs, tNum = 4, tDen = 5)
    val truth = Dedup.cachedPrefixTruth(docs, tNum = 4, tDen = 5)
    def audit(name: String, cand: DataFrame): DataFrame = {
      val c = cand.select("doc_a", "doc_b")
      c.agg(count(lit(1)).as("n_cand"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(
          c.join(truth, Seq("doc_a", "doc_b"), "left_semi")
            .agg(count(lit(1)).as("n_hit"))))
        .select(lit(name).as("generator"), col("n_cand"), col("n_true"),
          col("n_hit"), (col("n_true") - col("n_hit")).as("n_missed"),
          round(col("n_hit").cast("double") / col("n_true"), 6).as("hit_rate"))
    }
    audit("minhash_lsh", Dedup.cachedMinhashCandidates(docs, md5Parity = true))
      .unionAll(audit("prefix_filter", cPrefix))
      .orderBy("generator")
  }

  val candidateAuditSql: String =
    s"""WITH ${minhashPairsCtes()},
       |pds AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
       |pex AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS sz, unnest(ss) AS psh
       |        FROM pds),
       |pdf AS (SELECT psh, count(*) AS df FROM pex GROUP BY 1),
       |prk AS (SELECT e.doc_id, e.sz, e.psh,
       |        row_number() OVER (PARTITION BY e.doc_id
       |          ORDER BY d.df, e.psh) AS rs
       |        FROM pex e JOIN pdf d USING (psh)),
       |ppf AS (SELECT doc_id, sz, psh, CAST(rs AS BIGINT) AS rs FROM prk
       |        WHERE rs <= sz - ((sz * 4 + 4) // 5) + 1),
       |pcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM ppf a JOIN ppf b
       |            ON a.psh = b.psh AND a.doc_id < b.doc_id
       |           AND b.sz * 5 >= a.sz * 4 AND a.sz * 5 >= b.sz * 4
       |           AND 1 + LEAST(a.sz - a.rs, b.sz - b.rs) >=
       |               ((a.sz + b.sz) * 4 + 8) // 9),
       |tr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |       FROM pds a JOIN pds b ON a.doc_id < b.doc_id
       |       WHERE CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) * 5 >=
       |         (CAST(len(a.ss) AS BIGINT) + len(b.ss)
       |          - len(list_intersect(a.ss, b.ss))) * 4),
       |u AS (
       |  SELECT 'minhash_lsh' AS generator,
       |         (SELECT count(*) FROM cand) AS n_cand,
       |         (SELECT count(*) FROM tr) AS n_true,
       |         (SELECT count(*) FROM cand JOIN tr USING (doc_a, doc_b)) AS n_hit
       |  UNION ALL
       |  SELECT 'prefix_filter',
       |         (SELECT count(*) FROM pcand),
       |         (SELECT count(*) FROM tr),
       |         (SELECT count(*) FROM pcand JOIN tr USING (doc_a, doc_b)))
       |SELECT generator, CAST(n_cand AS BIGINT) AS n_cand,
       |       CAST(n_true AS BIGINT) AS n_true, CAST(n_hit AS BIGINT) AS n_hit,
       |       CAST(n_true - n_hit AS BIGINT) AS n_missed,
       |       round(CAST(n_hit AS DOUBLE) / n_true, 6) AS hit_rate
       |FROM u ORDER BY generator""".stripMargin

  // ---------------------------------------------------------------- ML-19
  /** Length-bucketed DYNAMIC batching with a padding-waste audit — the
    * inference/eval counterpart of the packing family (q_ml10-14 pack a
    * concatenated token stream; serving and evaluation batch WHOLE
    * sequences and pay padding to the longest in each batch). Docs are
    * bucketed by token count to the next multiple of 64 (capped at 512
    * — longer docs truncate, the standard max-length policy), ordered
    * deterministically inside each bucket (md5, doc_id), cut into
    * batches of 8, and padded to the BATCH max. Output per bucket:
    * docs, batches, real vs padded token mass, waste share — the
    * numbers that decide a bucketing config before anyone pays for the
    * padding FLOPs.
    *
    * Shape at scale: one corpus pass computes the meter map-side; the
    * ONLY shuffle is the bucket exchange feeding the in-bucket rank
    * (reused by the batch and bucket aggregates — same key); both
    * aggregates are partial+final. The oracle replays the identical
    * integer arithmetic and (md5, doc_id) order.
    */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bucket_len")
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        least(TF.tokenCount(col("text")), lit(512L)).as("n_tok"),
        md5(concat(lit("batch:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("bucket_len",
        least(ceil(col("n_tok").cast("double") / 64.0).cast("long") * 64, lit(512L)))
      .withColumn("batch_id", floor((row_number().over(w) - 1) / lit(8)).cast("long"))
      .groupBy("bucket_len", "batch_id")
      .agg(count(lit(1)).as("bn"), max("n_tok").as("bmax"),
        sum("n_tok").as("breal"))
      .groupBy("bucket_len")
      .agg(sum("bn").cast("long").as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum("breal").cast("long").as("real_tokens"),
        sum(col("bmax") * col("bn")).cast("long").as("padded_tokens"))
      .withColumn("waste_pct",
        round((col("padded_tokens") - col("real_tokens")).cast("double") /
          col("padded_tokens"), 6))
      .orderBy("bucket_len")
  }

  val lengthBucketsSql: String =
    """WITH d AS (SELECT doc_id,
      |    LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 512) AS n_tok,
      |    md5('batch:' || CAST(doc_id AS VARCHAR)) AS hk
      |  FROM documents),
      |b AS (SELECT doc_id, n_tok, hk,
      |    LEAST(CAST(ceil(CAST(n_tok AS DOUBLE) / 64.0) AS BIGINT) * 64, 512)
      |      AS bucket_len FROM d),
      |r AS (SELECT bucket_len, n_tok,
      |    CAST((row_number() OVER (PARTITION BY bucket_len
      |      ORDER BY hk, doc_id) - 1) // 8 AS BIGINT) AS batch_id FROM b),
      |ba AS (SELECT bucket_len, batch_id, count(*) AS bn, max(n_tok) AS bmax,
      |    sum(n_tok) AS breal FROM r GROUP BY 1, 2)
      |SELECT bucket_len, CAST(sum(bn) AS BIGINT) AS n_docs,
      |    count(*) AS n_batches, CAST(sum(breal) AS BIGINT) AS real_tokens,
      |    CAST(sum(bmax * bn) AS BIGINT) AS padded_tokens,
      |    round(CAST(sum(bmax * bn) - sum(breal) AS DOUBLE)
      |      / sum(bmax * bn), 6) AS waste_pct
      |FROM ba GROUP BY 1 ORDER BY bucket_len""".stripMargin

  // ---------------------------------------------------------------- ML-14
  /** Concat-and-chunk packing METERED BY THE SUBWORD TOKENIZER — the
    * q_ml11 window math under [[SubwordMerges]] instead of the
    * whitespace proxy, i.e. the packing family's `tokenCount` parameter
    * exercised end-to-end against an oracle: window boundaries now fall
    * where a trained merge vocabulary says the token budget falls,
    * which is what an actual pretraining pipeline packs by. Same scale
    * shape as q_ml11 (two-level parallel prefix sum, integer `div`,
    * map-side token counts — the subword count is one codegen'd
    * aggregate over the split array); the oracle derives each doc's
    * count from the recursive-CTE greedy walk and replays the identical
    * sequential window math.
    */
  def subwordPacking(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Subword
    graft.operators.Packing.concatPackWindows(
      Tables.documents(spark, dir), capacity = 256,
      tokenCount = Subword.textCount(_, SubwordMerges))
  }

  val subwordPackingSql: String = {
    val vocabValues = SubwordMerges.map(t => s"('$t')").mkString(", ")
    s"""WITH RECURSIVE vocab(tok) AS (VALUES $vocabValues),
       |wi AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |       FROM documents),
       |wnz AS (SELECT doc_id, w FROM wi WHERE w <> ''),
       |dw AS (SELECT DISTINCT w FROM wnz),
       |st AS (
       |  SELECT w, 0 AS pos, 0 AS ntok FROM dw
       |  UNION ALL
       |  SELECT w,
       |         pos + coalesce((SELECT max(len(tok)) FROM vocab
       |                         WHERE substr(w, pos + 1, len(tok)) = tok), 1),
       |         ntok + 1
       |  FROM st WHERE pos < len(w)),
       |wc AS (SELECT w, max(ntok) AS nt FROM st GROUP BY 1),
       |d AS (SELECT wnz.doc_id AS doc_id, CAST(sum(wc.nt) AS BIGINT) AS n
       |      FROM wnz JOIN wc USING (w) GROUP BY 1),
       |o AS (SELECT doc_id, n,
       |             sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |               AND CURRENT ROW) - n AS start
       |      FROM d WHERE n > 0),
       |e AS (SELECT doc_id, start, start + n - 1 AS fin FROM o),
       |x AS (SELECT doc_id, start, fin,
       |             unnest(generate_series(CAST(start // 256 AS BIGINT),
       |                                    CAST(fin // 256 AS BIGINT))) AS window_id
       |      FROM e)
       |SELECT window_id, count(*) AS n_docs,
       |       CAST(sum(least(fin, (window_id + 1) * 256 - 1)
       |                - greatest(start, window_id * 256) + 1) AS BIGINT) AS n_tokens
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- ML-18
  /** Concat-and-chunk packing metered by the LEARNED BPE tokenizer —
    * the full loop learn → apply → pack in one oracled query: q_txt17's
    * merge table (collected: 6 rows, the documented bounded pin) turns
    * into a map-side scalar meter ([[graft.operators.Bpe.textCount]] —
    * chained plan-time `replace`s, no join) driving q_ml11's window
    * grid. The oracle derives per-doc counts from the unrolled BPE CTE
    * chain and replays q_ml14's sequential window math verbatim.
    */
  def bpePacking(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.operators.Bpe.learnMerges(docs, nMerges = 6)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Packing.concatPackWindows(docs, capacity = 256,
      tokenCount = graft.operators.Bpe.textCount(merges))
  }

  val bpePackingSql: String =
    s"""WITH ${bpeCtes(6)},
       |wc AS (SELECT w,
       |       CAST(len(string_split(substr(state, 2), ' ')) AS BIGINT) AS nt
       |       FROM st6),
       |wi AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |       FROM documents),
       |wnz AS (SELECT doc_id, w FROM wi WHERE w <> ''),
       |d AS (SELECT wnz.doc_id AS doc_id, CAST(sum(wc.nt) AS BIGINT) AS n
       |      FROM wnz JOIN wc USING (w) GROUP BY 1),
       |o AS (SELECT doc_id, n,
       |             sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |               AND CURRENT ROW) - n AS start
       |      FROM d WHERE n > 0),
       |e AS (SELECT doc_id, start, start + n - 1 AS fin FROM o),
       |x AS (SELECT doc_id, start, fin,
       |             unnest(generate_series(CAST(start // 256 AS BIGINT),
       |                                    CAST(fin // 256 AS BIGINT))) AS window_id
       |      FROM e)
       |SELECT window_id, count(*) AS n_docs,
       |       CAST(sum(least(fin, (window_id + 1) * 256 - 1)
       |                - greatest(start, window_id * 256) + 1) AS BIGINT) AS n_tokens
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------- ML-7
  /** Benchmark decontamination by 8-gram overlap — the standard eval-
    * leakage scan (n-gram collision against a held-out benchmark set)
    * a training pipeline runs before shipping a corpus. The benchmark
    * here is the deterministic doc_id % 10 == 0 slice standing in for
    * an eval suite; output is every corpus doc sharing ≥1 8-gram with
    * it, with the shared-gram count. Shape at scale: benchmark suites
    * are tiny next to the corpus, so the distinct benchmark grams
    * BROADCAST (⌀ a few M grams for real eval sets) and the corpus side
    * streams map-only through explode → semi-aggregate — no corpus
    * shuffle beyond the per-doc distinct; docs shorter than the gram
    * width fall back to whole-text grams (same rule both engines).
    */
  def ngramContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.where(col("doc_id") % 10 === 0)
      .select(explode(TF.shingles(col("text"), 8)).as("gram"))
      .distinct()
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(TF.shingles(col("text"), 8)).as("gram"))
      .dropDuplicates("doc_id", "gram")
    corpus.join(broadcast(bench), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_id"))
  }

  val ngramContaminationSql: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS t
      |           FROM documents),
      |g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
      |        THEN list_transform(range(len(t) - 7),
      |             i -> array_to_string(list_slice(t, i + 1, i + 8), ' '))
      |        ELSE [text] END) AS gram FROM t),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |corp AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 != 0)
      |SELECT doc_id, count(*) AS n_shared
      |FROM corp JOIN bench USING (gram)
      |GROUP BY 1 ORDER BY n_shared DESC, doc_id""".stripMargin

  // ----------------------------------------------------------------- ML-8
  /** Temperature-flattened quality sampling: keep each doc with
    * probability ((q − qmin)/(qmax − qmin))^(1/T) — the importance-
    * sampling step that upweights high-quality documents without
    * discarding the tail (T > 1 flattens the acceptance curve; T = 2
    * here). Acceptance is DETERMINISTIC: the uniform draw is the
    * doc's md5-prefix hash scaled to [0, 1) ([[TF.hexHash60]]), so the
    * sample is reproducible run-over-run and engine-over-engine — no
    * RNG, the same rule q_ml3's stratified sampler uses. Both the
    * acceptance probability and the draw are rounded to 6dp before the
    * comparison (cross-engine float hygiene, as q_txt9). Shape at
    * scale: one map-only pass computes (q, u) per doc; the (qmin, qmax)
    * extrema are a single-row broadcast; the keep decision and the
    * per-lang summary are one partial-aggregated count — the corpus
    * never shuffles row data.
    */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
      TF.qualityScore(col("text")).as("q"),
      round(TF.hexHash60(col("text")).cast("double") /
        lit(1152921504606846976.0), 6).as("u"))
    val ext = d.agg(min("q").as("qmin"), max("q").as("qmax"))
    // Degenerate corpus (qmax == qmin) keeps everything EXPLICITLY (p = 1,
    // u ∈ [0,1)): without the guard p is NaN and `u < NaN` happens to be
    // true under Spark/DuckDB NaN-ordering — same outcome, but by accident.
    d.crossJoin(broadcast(ext))
      .withColumn("p", when(col("qmax") === col("qmin"), lit(1.0)).otherwise(
        round(pow((col("q") - col("qmin")) / (col("qmax") - col("qmin")), 0.5), 6)))
      .withColumn("keep", (col("u") < col("p")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_kept"),
        round(sum("keep").cast("double") / count(lit(1)), 6).as("keep_rate"))
      .orderBy("lang")
  }

  val temperatureSampleSql: String = {
    val stop = TF.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         round(ln(len(string_split(text, ' ')) + 1.0)
       |               + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |                 / len(string_split(text, ' '))
       |               - CAST(len(list_filter(string_split(text, ' '),
       |                 x -> list_contains($stop, x))) AS DOUBLE)
       |                 / len(string_split(text, ' ')), 6) AS q,
       |         round(${TF.hexHash60Sql("text")} / 1152921504606846976.0, 6) AS u
       |  FROM documents),
       |ext AS (SELECT min(q) AS qmin, max(q) AS qmax FROM d),
       |p AS (SELECT lang, u, CASE WHEN qmax = qmin THEN 1.0
       |        ELSE round(pow((q - qmin) / (qmax - qmin), 0.5), 6) END AS p
       |      FROM d CROSS JOIN ext)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN u < p THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       round(CAST(sum(CASE WHEN u < p THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS keep_rate
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- ML-10
  /** Fixed-window token chunking ([[graft.operators.Packing.tokenChunks]],
    * window 32 / stride 24 — overlapping pretraining contexts): one row
    * per chunk with an md5 over the rejoined chunk text, so the oracle
    * pins every chunk's CONTENT and boundaries, not just counts. The
    * whole op is map-side (sequence + posexplode + slice — no shuffle,
    * no UDF).
    */
  def tokenChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.tokenChunks(Tables.documents(spark, dir),
        window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  val tokenChunksSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |                  len(string_split(text, ' ')) AS n FROM documents),
      |c AS (SELECT doc_id, toks, n,
      |             unnest(generate_series(0, CAST(floor((n - 1) / 24) AS BIGINT) * 24, 24)) AS start
      |      FROM t WHERE n > 0)
      |SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_idx,
      |       CAST(least(32, n - start) AS BIGINT) AS n_tokens,
      |       md5(array_to_string(list_slice(toks, start + 1, least(start + 32, n)), ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- ML-11
  /** Concat-and-chunk sequence packing
    * ([[graft.operators.Packing.concatPackWindows]], capacity 256): the
    * padding-free packing pretraining pipelines use — documents
    * concatenate in id order, the stream splits into fixed windows, a
    * doc may straddle two. Spark computes document offsets with a
    * TWO-LEVEL parallel prefix sum (bucket totals + intra-bucket
    * windows — no single-task global window); the oracle uses the plain
    * sequential running sum, so the hash match doubles as a proof the
    * parallel decomposition equals the sequential offsets. All-integer
    * arithmetic — no float surface.
    */
  def concatPacking(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.concatPackWindows(Tables.documents(spark, dir),
      capacity = 256)

  val concatPackingSql: String =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
      |           FROM documents WHERE len(string_split(text, ' ')) > 0),
      |o AS (SELECT doc_id, n,
      |             sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND CURRENT ROW) - n AS start
      |      FROM d),
      |e AS (SELECT doc_id, start, start + n - 1 AS fin FROM o),
      |x AS (SELECT doc_id, start, fin,
      |             unnest(generate_series(CAST(start // 256 AS BIGINT),
      |                                    CAST(fin // 256 AS BIGINT))) AS window_id
      |      FROM e)
      |SELECT window_id, count(*) AS n_docs,
      |       CAST(sum(least(fin, (window_id + 1) * 256 - 1)
      |                - greatest(start, window_id * 256) + 1) AS BIGINT) AS n_tokens
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- ML-12
  /** The packing CONTINUATION form
    * ([[graft.operators.Packing.concatPackWindowsFrom]] at a nonzero
    * start offset — the exact per-micro-batch shape
    * [[graft.streaming.PackingStream]] executes): the token stream
    * resumes at offset 1000, deliberately NOT a capacity multiple, so
    * the first window is partially pre-consumed and every boundary is
    * mid-window-shifted. Oracling this directly proves the continuation
    * math — two-level parallel prefix sum rebased at an arbitrary
    * offset, integer-`div` window ids (r8 ADVICE: fractional division
    * loses exactness past 2^53 on an unbounded stream) — equals the
    * sequential oracle at a resume point, which is the algebraic core
    * of the stream ≡ batch packing law.
    */
  def concatPackingResume(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.concatPackWindowsFrom(Tables.documents(spark, dir),
      capacity = 256, startOffset = 1000L)

  val concatPackingResumeSql: String =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
      |           FROM documents WHERE len(string_split(text, ' ')) > 0),
      |o AS (SELECT doc_id, n,
      |             1000 + sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND CURRENT ROW) - n AS start
      |      FROM d),
      |e AS (SELECT doc_id, start, start + n - 1 AS fin FROM o),
      |x AS (SELECT doc_id, start, fin,
      |             unnest(generate_series(CAST(start // 256 AS BIGINT),
      |                                    CAST(fin // 256 AS BIGINT))) AS window_id
      |      FROM e)
      |SELECT window_id, count(*) AS n_docs,
      |       CAST(sum(least(fin, (window_id + 1) * 256 - 1)
      |                - greatest(start, window_id * 256) + 1) AS BIGINT) AS n_tokens
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- ML-13
  /** Domain-balanced MIXTURE construction under a token budget — the
    * data-mixing step of pretraining corpus assembly: give every
    * `source` domain an equal share of a global token budget (40% of
    * the corpus here, so the budget binds at every SF) and take each
    * domain's documents in a deterministic pseudo-random order (md5 of
    * the doc id — engine-portable, so the oracle replays the identical
    * selection) until the share is exhausted; a domain smaller than its
    * share contributes everything it has. Output is the per-domain
    * audit row (docs taken, tokens taken, the share).
    *
    * Shape at 100 TB: token counts are map-side arithmetic on the scan;
    * the greedy prefix is ONE shuffle — partition by `source`, sort by
    * the hash within each domain partition, running-sum window — and
    * the budget is a two-scalar column-pruned aggregate broadcast back
    * (one cheap extra pass; no collect, no driver loop). Domains
    * parallelize independently; a skewed domain is one partition's
    * sort, the same cost class as the packing family's prefix sums.
    */
  def mixtureConstruction(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      md5(col("doc_id").cast("string")).as("h"))
    val budget = d.agg(
      floor(sum("n_tok") * lit(0.4) / countDistinct("source"))
        .cast("long").as("budget_tokens"))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The greedy prefix as CONDITIONAL aggregates, not a filter: a
    // domain whose first hash-ordered document alone exceeds the share
    // still gets its audit row (0 docs, 0 tokens) — the per-domain
    // audit contract — and the plan keeps the exact one-shuffle shape
    // (no post-selection join back onto the domain list).
    d.withColumn("run", sum("n_tok").over(w))
      .crossJoin(broadcast(budget))
      .groupBy("source")
      .agg(
        count(when(col("run") <= col("budget_tokens"), 1)).as("n_docs"),
        coalesce(sum(when(col("run") <= col("budget_tokens"), col("n_tok"))),
          lit(0L)).as("n_tokens"),
        max("budget_tokens").as("budget_tokens"))
      .orderBy("source")
  }

  val mixtureConstructionSql: String =
    """WITH t AS (SELECT doc_id, source,
      |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |            md5(CAST(doc_id AS VARCHAR)) AS h
      |     FROM documents),
      |b AS (SELECT CAST(floor(sum(n_tok) * 0.4 / count(DISTINCT source))
      |             AS BIGINT) AS budget_tokens FROM t),
      |c AS (SELECT source, n_tok,
      |             sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |      FROM t)
      |SELECT c.source AS source,
      |       count(CASE WHEN c.run <= b.budget_tokens THEN 1 END) AS n_docs,
      |       CAST(coalesce(sum(CASE WHEN c.run <= b.budget_tokens
      |                              THEN c.n_tok END), 0) AS BIGINT) AS n_tokens,
      |       max(b.budget_tokens) AS budget_tokens
      |FROM c, b
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- ML-18
  /** Leakage-free split audit ([[DataSplits.clusterAwareSplits]]): the
    * near-dup pair graph (q_dd5's exact md5-parity pipeline) drives
    * cluster-aware train/val/test assignment, and the output row per
    * split carries the PROOF — `leaky_pairs` counts near-dup pairs
    * whose endpoints landed in different splits (0 by construction
    * under cluster assignment, and the query computes it from the
    * assigned splits rather than asserting it) next to
    * `naive_leaky_pairs`, the same count under per-document residue
    * assignment — the leakage the operator exists to prevent. A pair's
    * endpoints always share a cluster, hence a split, so attributing
    * pairs by `split_a` is unambiguous.
    *
    * The pair graph is checkpointed once and feeds both the component
    * fixpoint and the leak join (q_adv7's AQE-non-reuse rationale); the
    * naive counterfactual needs NO second assignment pass — it is a
    * pure projection of the pair's own ids.
    */
  def leakageFreeSplits(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.nearDupPairsMemo(docs, threshold = 0.5, md5Parity = true)
    val naive = (id: Column) => DataSplits.assignSplit(id,
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    // The slim assignment (4 columns) is computed ONCE and checkpointed:
    // its three consumers (the per-split aggregate and the two pair
    // join-backs) would otherwise each re-scan the corpus and re-run
    // the cluster join — the q_ml14 counted-checkpoint rationale.
    val assigned = graft.util.ScratchCheckpoints.register(
      DataSplits.clusterAwareSplits(
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words")), pairs,
        clusters = Some(Dedup.cachedClusters(pairs)))
        .select("doc_id", "cluster", "split", "n_words")
        .localCheckpoint())
    val sp = assigned.select(col("doc_id"), col("split"))
    val pairAgg = pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .groupBy(col("split_a").as("split"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("split_a") =!= col("split_b")).cast("long")).as("leaky_pairs"),
        sum((naive(col("doc_a")) =!= naive(col("doc_b"))).cast("long"))
          .as("naive_leaky_pairs"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"),
        sum("n_words").as("n_words"))
      .join(pairAgg, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"), col("n_words"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("leaky_pairs"), lit(0L)).as("leaky_pairs"),
        coalesce(col("naive_leaky_pairs"), lit(0L)).as("naive_leaky_pairs"))
      .orderBy("split")
  }

  val leakageFreeSplitsSql: String =
    s"""WITH RECURSIVE ${minhashPairsCtes()},
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node),
       |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
       |assigned AS (SELECT d.doc_id,
       |  coalesce(c.cluster, d.doc_id) AS cluster,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       |  CASE WHEN coalesce(c.cluster, d.doc_id) % 100 < 80 THEN 'train'
       |       WHEN coalesce(c.cluster, d.doc_id) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
       |pa AS (SELECT sa.split AS split, count(*) AS n_pairs,
       |  sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS leaky_pairs,
       |  sum(CASE WHEN (CASE WHEN p.doc_a % 100 < 80 THEN 'train'
       |                      WHEN p.doc_a % 100 < 90 THEN 'val' ELSE 'test' END)
       |            <> (CASE WHEN p.doc_b % 100 < 80 THEN 'train'
       |                     WHEN p.doc_b % 100 < 90 THEN 'val' ELSE 'test' END)
       |           THEN 1 ELSE 0 END) AS naive_leaky_pairs
       |  FROM pairs p JOIN assigned sa ON p.doc_a = sa.doc_id
       |               JOIN assigned sb ON p.doc_b = sb.doc_id
       |  GROUP BY 1),
       |da AS (SELECT split, count(*) AS n_docs,
       |       count(DISTINCT cluster) AS n_clusters, sum(n_words) AS n_words
       |       FROM assigned GROUP BY 1)
       |SELECT da.split, da.n_docs, da.n_clusters,
       |       CAST(da.n_words AS BIGINT) AS n_words,
       |       CAST(coalesce(pa.n_pairs, 0) AS BIGINT) AS n_pairs,
       |       CAST(coalesce(pa.leaky_pairs, 0) AS BIGINT) AS leaky_pairs,
       |       CAST(coalesce(pa.naive_leaky_pairs, 0) AS BIGINT) AS naive_leaky_pairs
       |FROM da LEFT JOIN pa USING (split) ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- ADV-7
  /** PageRank over the MinHash near-dup pair graph
    * ([[graft.operators.Graph.pageRank]], damping 0.85, 5 fixed
    * rounds): duplicate-cluster HUBS — the documents most centrally
    * embedded in near-dup structure, which curation pipelines rank to
    * pick canonical representatives or audit template explosions. The
    * oracle unrolls the identical five rounds in SQL over the same
    * md5-parity pair pipeline. Output doubles are the per-round-rounded
    * 9dp ranks themselves (bit-identical across engines by
    * construction — no final re-rounding to introduce a boundary).
    */
  def pageRankTop(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the verified pair graph ONCE (eager localCheckpoint)
    // before the 5 unrolled rounds reference it 2+2·5 times: measured
    // under the bench's AQE session the expected cross-stage exchange
    // reuse does NOT fire (GraphProbe round 7: 215 exchanges, 0 reused
    // — the MinHash pipeline re-executed per reference; 3.0 s lazy vs
    // 1.45 s checkpointed at sf0.1). The checkpoint holds only the
    // verified pair list — small by the DD posture — so this is
    // dupClusters' executor-storage trade, not a corpus materialization.
    val pairs = Dedup.nearDupPairsMemo(Tables.documents(spark, dir),
      threshold = 0.5, md5Parity = true)
    graft.operators.Graph.pageRank(pairs)
      .select(col("node"), col("rank").as("pr"))
      .orderBy(col("pr").desc, col("node")).limit(25)
  }

  val pageRankSql: String = {
    val (d, iters) = (0.85, 5)
    def step(i: Int) =
      s"""r$i AS (SELECT n.node,
         |   round((1.0 - $d) / nn.n + $d * coalesce(s.s, 0.0), 9) AS pr
         |   FROM nodes n CROSS JOIN nn
         |   LEFT JOIN (SELECT sym.dst AS node, sum(p.pr / dg.deg) AS s
         |              FROM sym JOIN r${i - 1} p ON sym.src = p.node
         |              JOIN dg ON sym.src = dg.src GROUP BY 1) s
         |     ON n.node = s.node)""".stripMargin
    val steps = (1 to iters).map(step).mkString(",\n")
    s"""WITH ${minhashPairsCtes()},
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |dg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |nodes AS (SELECT src AS node FROM dg),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT node, pr FROM r$iters ORDER BY pr DESC, node LIMIT 25""".stripMargin
  }

  // --------------------------------------------------------------- ADV-7b
  /** WEIGHTED PageRank over the same pair graph: rank splits among
    * neighbors proportionally to the verified jaccard weight
    * (rank·w/Σw) instead of uniformly, so template cores — members of
    * tight high-similarity families — outrank merely well-connected
    * borderline-collision nodes. The oracle unrolls the identical
    * weighted rounds; jaccard is already 6dp-rounded by
    * [[graft.operators.Dedup.minhashNearDups]] and ranks re-round to
    * 9dp per round, the q_adv7 float hygiene unchanged.
    */
  def pageRankWeightedTop(spark: SparkSession, dir: String): DataFrame = {
    // Same eager pair-graph checkpoint as q_adv7 (see pageRankTop).
    val pairs = Dedup.nearDupPairsMemo(Tables.documents(spark, dir),
      threshold = 0.5, md5Parity = true)
    graft.operators.Graph.pageRank(pairs, weightCol = Some("jaccard"))
      .select(col("node"), col("rank").as("pr"))
      .orderBy(col("pr").desc, col("node")).limit(25)
  }

  /** Shared weighted-PageRank CTE block over a `pairs(doc_a, doc_b,
    * jaccard)` relation: symmetrized weighted edges, weight totals, the
    * 1/N init, and `iters` unrolled rounds — the SQL mirror of
    * [[graft.operators.Graph.pageRank]] with a weight column. Final
    * ranks live in the returned relation name.
    */
  private def weightedRankCtes(d: Double = 0.85, iters: Int = 5): (String, String) = {
    def step(i: Int) =
      s"""r$i AS (SELECT n.node,
         |   round((1.0 - $d) / nn.n + $d * coalesce(s.s, 0.0), 9) AS pr
         |   FROM nodes n CROSS JOIN nn
         |   LEFT JOIN (SELECT sym.dst AS node, sum(p.pr * sym.w / dg.wsum) AS s
         |              FROM sym JOIN r${i - 1} p ON sym.src = p.node
         |              JOIN dg ON sym.src = dg.src GROUP BY 1) s
         |     ON n.node = s.node)""".stripMargin
    val block =
      s"""sym AS (SELECT doc_a AS src, doc_b AS dst, jaccard AS w FROM pairs
         |        UNION ALL SELECT doc_b, doc_a, jaccard FROM pairs),
         |dg AS (SELECT src, sum(w) AS wsum FROM sym GROUP BY 1),
         |nodes AS (SELECT src AS node FROM dg),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
         |${(1 to iters).map(step).mkString(",\n")}""".stripMargin
    (block, s"r$iters")
  }

  val pageRankWeightedSql: String = {
    val (ranks, rFinal) = weightedRankCtes()
    s"""WITH ${minhashPairsCtes()},
       |$ranks
       |SELECT node, pr FROM $rFinal ORDER BY pr DESC, node LIMIT 25""".stripMargin
  }

  // ---------------------------------------------------------------- ADV-8
  /** Triangle counts over the MinHash near-dup pair graph
    * ([[graft.operators.Graph.triangleCounts]]): dup-family density —
    * triangle-rich nodes sit in genuine pairwise-similar clusters,
    * isolated edges are the chance-collision tail. All-integer, so the
    * oracle (same wedge join + EXISTS closure) is exact with no float
    * hygiene at all.
    */
  def triangleTop(spark: SparkSession, dir: String): DataFrame = {
    // Same eager pair-graph checkpoint as q_adv7 (pageRankTop): the
    // degree-oriented enumeration references the edge list ~5 times
    // (degrees, orientation, both wedge legs, closure), and AQE does
    // not reuse the repeated pipeline subtrees at runtime.
    val pairs = Dedup.nearDupPairsMemo(Tables.documents(spark, dir),
      threshold = 0.5, md5Parity = true)
    graft.operators.Graph.triangleCounts(pairs)
      .orderBy(col("n_triangles").desc, col("node")).limit(25)
  }

  val triangleTopSql: String =
    s"""WITH ${minhashPairsCtes()},
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
       |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
       |t AS (SELECT w.a, w.b, w.c FROM w
       |      WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)),
       |m AS (SELECT unnest([a, b, c]) AS node FROM t)
       |SELECT node, count(*) AS n_triangles FROM m
       |GROUP BY 1 ORDER BY n_triangles DESC, node LIMIT 25""".stripMargin

  // ----------------------------------------------------------------- ML-9
  /** Curation funnel v2 — this round's hygiene ops composed as ONE lazy
    * plan, the q_ml6 discipline applied to the eval-safety stages: raw →
    * exact dedup (min doc id per md5) → benchmark removal + 8-gram
    * decontamination (q_ml7's rule over the deduped corpus) →
    * temperature-flattened quality sampling (q_ml8's deterministic
    * acceptance, extrema taken over the CLEAN set — the rates adapt to
    * what survives decontamination, as a real pipeline's would). Output
    * is the per-stage doc/token funnel. Every stage reuses the operator
    * its dedicated query proves; this query proves the composition:
    * benchmark grams broadcast once, the corpus is scanned by the gram
    * explode and the quality pass only, and nothing materializes between
    * stages.
    */
  def curationFunnelV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keep = docs.groupBy(TF.fingerprintMd5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
    val benchGrams = docs.where(col("doc_id") % 10 === 0)
      .select(explode(TF.shingles(col("text"), 8)).as("gram")).distinct()
    // Contamination scan over the exact-dedup corpus slice (semi join
    // BEFORE the gram explode — non-survivors never shingle).
    val contaminated = docs.where(col("doc_id") % 10 =!= 0)
      .join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(TF.shingles(col("text"), 8)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .select("doc_id").distinct()
    // ONE flagged corpus pass (round 20 — the q_ml6 round-8 rewrite
    // applied here: the stage-union form re-executed each stage's
    // upstream per branch, ~9 document scans per run; AQE does not
    // reuse repeated subtrees). Every doc is tagged once with its
    // survival flags and per-doc (q, u, tok); the slim flag table is
    // checkpointed because the quality extrema (a sub-aggregate over
    // clean docs) and the final stage aggregate both read it.
    val flagged = graft.util.ScratchCheckpoints.register(docs
      .join(keep.select(col("doc_id"), lit(1).as("is_ex")),
        Seq("doc_id"), "left")
      .join(contaminated.select(col("doc_id"), lit(1).as("is_cont")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("tok"),
        col("is_ex").isNotNull.as("f_ex"),
        (col("is_ex").isNotNull && col("doc_id") % 10 =!= 0 &&
          col("is_cont").isNull).as("f_clean"),
        TF.qualityScore(col("text")).as("q"),
        round(TF.hexHash60(col("text")).cast("double") /
          lit(1152921504606846976.0), 6).as("u"))
      .localCheckpoint())
    val ext = flagged.where(col("f_clean"))
      .agg(min("q").as("qmin"), max("q").as("qmax"))
    // Same qmax == qmin guard as temperatureSample: degenerate quality
    // spread keeps everything explicitly rather than via NaN-ordering luck.
    val thr = when(col("qmax") === col("qmin"), lit(1.0)).otherwise(
      round(pow((col("q") - col("qmin")) / (col("qmax") - col("qmin")), 0.5), 6))
    def cnt(c: Column) = coalesce(sum(when(c, 1L)), lit(0L))
    def tks(c: Column) = coalesce(sum(when(c, col("tok"))), lit(0L))
    def stageStruct(name: String, n: Column, t: Column) =
      struct(lit(name).as("stage"), n.as("n_docs"), t.as("total_tokens"))
    flagged.crossJoin(broadcast(ext))
      .withColumn("f_samp", col("f_clean") && col("u") < thr)
      .agg(count(lit(1)).as("n0"), coalesce(sum("tok"), lit(0L)).as("t0"),
        cnt(col("f_ex")).as("n1"), tks(col("f_ex")).as("t1"),
        cnt(col("f_clean")).as("n2"), tks(col("f_clean")).as("t2"),
        cnt(col("f_samp")).as("n3"), tks(col("f_samp")).as("t3"))
      .select(explode(array(
        stageStruct("0_raw", col("n0"), col("t0")),
        stageStruct("1_exact_dedup", col("n1"), col("t1")),
        stageStruct("2_decontaminated", col("n2"), col("t2")),
        stageStruct("3_sampled", col("n3"), col("t3")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"),
        col("s.total_tokens").as("total_tokens"))
      .orderBy("stage")
  }

  val curationFunnelV2Sql: String = {
    val stop = TF.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH ded AS (SELECT d.* FROM documents d
       |       JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
       |         USING (doc_id)),
       |corp AS (SELECT * FROM ded WHERE doc_id % 10 != 0),
       |tt AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
       |gall AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
       |          THEN list_transform(range(len(t) - 7),
       |               i -> array_to_string(list_slice(t, i + 1, i + 8), ' '))
       |          ELSE [text] END) AS gram FROM tt),
       |bench AS (SELECT DISTINCT gram FROM gall WHERE doc_id % 10 = 0),
       |cont AS (SELECT DISTINCT g.doc_id FROM gall g
       |         JOIN bench USING (gram)
       |         JOIN corp c ON g.doc_id = c.doc_id),
       |clean AS (SELECT * FROM corp
       |          WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |sc AS (SELECT doc_id, text,
       |       round(ln(len(string_split(text, ' ')) + 1.0)
       |             + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / len(string_split(text, ' '))
       |             - CAST(len(list_filter(string_split(text, ' '),
       |               x -> list_contains($stop, x))) AS DOUBLE)
       |               / len(string_split(text, ' ')), 6) AS q,
       |       round(${TF.hexHash60Sql("text")} / 1152921504606846976.0, 6) AS u
       |       FROM clean),
       |ex AS (SELECT min(q) AS qmin, max(q) AS qmax FROM sc),
       |samp AS (SELECT sc.* FROM sc CROSS JOIN ex
       |         WHERE u < CASE WHEN qmax = qmin THEN 1.0
       |           ELSE round(pow((q - qmin) / (qmax - qmin), 0.5), 6) END)
       |SELECT stage, n_docs, total_tokens FROM (
       |  SELECT '0_raw' AS stage, count(*) AS n_docs,
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS total_tokens
       |  FROM documents
       |  UNION ALL
       |  SELECT '1_exact_dedup', count(*),
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM ded
       |  UNION ALL
       |  SELECT '2_decontaminated', count(*),
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM clean
       |  UNION ALL
       |  SELECT '3_sampled', count(*),
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM samp
       |) ORDER BY stage""".stripMargin
  }

  // ----------------------------------------------------------------- ML-6
  /** End-to-end corpus-curation funnel — the full training-data pipeline
    * as ONE declarative plan: raw → exact dedup (keep min doc id per md5
    * fingerprint) → near-dup purge (MinHash-LSH pairs →
    * [[Dedup.dupClusters]] components → drop non-canonical members) →
    * quality gate (≥ 8 tokens, unique-token ratio ≥ 0.3) → 80/10/10
    * split assignment. Output is the stage funnel (docs + tokens
    * surviving each stage, then per split), so every stage's effect is
    * verified in one result. Each stage reuses the operator the
    * dedicated query proves (q_dd3/q_dd5/q_dd9/q_txt4/q_ml1); this query
    * proves they COMPOSE — filters stay pushed, the near-dup subgraph
    * runs over survivors only, and nothing re-reads the corpus more than
    * the stage structure requires.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Stage 1 — exact dedup: canonical = min doc id per content hash.
    val keepIds = docs.groupBy(TF.fingerprintMd5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
    val exact = docs.join(keepIds.select("doc_id"), Seq("doc_id"), "left_semi")
    // Stage 2 — near-dup purge over exact survivors: cluster the
    // MinHash-LSH pair graph, drop every non-canonical member.
    val pairs = Dedup.nearDupPairsMemo(exact, threshold = 0.5, md5Parity = true)
    val purge = Dedup.cachedClusters(pairs)
      .where(col("doc_id") =!= col("cluster")).select("doc_id")
    // ONE flagged pass instead of five stage-filtered branches (round 8):
    // the original union of per-stage aggregates re-executed each
    // stage's upstream per branch (the doc scan and the exact-dedup
    // join ran up to 4×; AQE does not reuse repeated subtrees at
    // runtime — q_adv7's measured finding). Here every doc is tagged
    // with its survival flags once — exact-canonical (broadcast-joined
    // against the canonical-id set), near-dup-purged (broadcast anti
    // set), quality — and a single aggregate emits every stage's
    // (count, token) pair as conditional sums; the funnel's cost
    // collapses to the pair pipeline + one corpus pass. Measured at
    // sf0.1: 2.43/2.63 s → see SCALE.md. Stage semantics and the
    // oracle are unchanged.
    val toks = TF.tokens(col("text"))
    val split = graft.operators.DataSplits.assignSplit(
      col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
    // keepIds is corpus-cardinality (one row per distinct content) and
    // purge scales with the corpus's DUPLICATION RATE (a heavily
    // duplicated crawl makes it corpus-scale too) — both stay plain key
    // joins with no broadcast hint, so the planner can fall back to a
    // shuffle join when the sides are large; AQE broadcasts them when
    // runtime stats say they are small.
    val flagged = docs
      .join(keepIds.select(col("doc_id"), lit(1).as("is_ex")),
        Seq("doc_id"), "left")
      .join(purge.select(col("doc_id"), lit(1).as("is_purged")),
        Seq("doc_id"), "left")
      .withColumn("tok", TF.tokenCount(col("text")))
      .withColumn("f_ex", col("is_ex").isNotNull)
      .withColumn("f_nd", col("f_ex") && col("is_purged").isNull)
      .withColumn("f_q", col("f_nd") && col("tok") >= 8 &&
        round(size(array_distinct(toks)).cast("double") /
          size(toks).cast("double"), 6) >= 0.3)
      .withColumn("split", split)
    def cnt(c: Column) = coalesce(sum(when(c, 1L)), lit(0L))
    def tks(c: Column) = coalesce(sum(when(c, col("tok"))), lit(0L))
    def stageStruct(name: String, n: Column, t: Column) =
      struct(lit(name).as("stage"), n.as("n_docs"), t.as("total_tokens"))
    val splits = Seq("test", "train", "val")
    val aggs: Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("n0"), coalesce(sum("tok"), lit(0L)).as("t0"),
      cnt(col("f_ex")).as("n1"), tks(col("f_ex")).as("t1"),
      cnt(col("f_nd")).as("n2"), tks(col("f_nd")).as("t2"),
      cnt(col("f_q")).as("n3"), tks(col("f_q")).as("t3")) ++
      splits.flatMap(s => Seq(
        cnt(col("f_q") && col("split") === s).as(s"n4_$s"),
        tks(col("f_q") && col("split") === s).as(s"t4_$s")))
    flagged.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(
        stageStruct("0_raw", col("n0"), col("t0")) +:
        stageStruct("1_exact_dedup", col("n1"), col("t1")) +:
        stageStruct("2_near_dedup", col("n2"), col("t2")) +:
        stageStruct("3_quality", col("n3"), col("t3")) +:
        splits.map(s =>
          stageStruct(s"4_$s", col(s"n4_$s"), col(s"t4_$s"))): _*)).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"),
        col("s.total_tokens").as("total_tokens"))
      // The original's stage-4 groupBy emitted rows only for non-empty
      // splits (and the oracle mirrors that); conditional sums emit
      // zeros — filter them for exactly the same row set.
      .where(!col("stage").startsWith("4_") || col("n_docs") > 0)
      .orderBy("stage")
  }

  val curationFunnelSql: String =
    s"""WITH RECURSIVE
       |ex AS (SELECT d.* FROM documents d
       |       JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
       |         USING (doc_id)),
       |${minhashPairsCtes("ex")},
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node),
       |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
       |nd AS (SELECT * FROM ex WHERE doc_id NOT IN
       |       (SELECT node FROM comp WHERE node != cluster)),
       |cur AS (SELECT * FROM nd
       |  WHERE len(string_split(text, ' ')) >= 8
       |    AND round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |              / len(string_split(text, ' ')), 6) >= 0.3)
       |SELECT stage, n_docs, total_tokens FROM (
       |  SELECT '0_raw' AS stage, count(*) AS n_docs,
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS total_tokens
       |  FROM documents
       |  UNION ALL
       |  SELECT '1_exact_dedup', count(*),
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM ex
       |  UNION ALL
       |  SELECT '2_near_dedup', count(*),
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM nd
       |  UNION ALL
       |  SELECT '3_quality', count(*),
       |         CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) FROM cur
       |  UNION ALL
       |  SELECT '4_' || CASE WHEN doc_id % 100 < 80 THEN 'train'
       |                      WHEN doc_id % 100 < 90 THEN 'val'
       |                      ELSE 'test' END, count(*),
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) FROM cur GROUP BY 1
       |) ORDER BY stage""".stripMargin
}
