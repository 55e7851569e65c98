package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** BPE merge-table LEARNING (Sennrich et al. 2016 shape) — the training
  * counterpart of the merge-table APPLY in
  * [[graft.functions.SubwordExpressions]] (q_txt14): learn, from corpus
  * word frequencies, the `nMerges` highest-count adjacent symbol pairs,
  * each merged greedily into the working vocabulary before the next
  * round is counted (so later merges compose earlier ones — "m"+"er"
  * after "e"+"r").
  *
  * Scale shape: the corpus is touched ONCE (the word-frequency
  * aggregate — the same wordcount shuffle every TXT operator bottoms
  * out in) and the vocabulary (unique words, not corpus rows) is
  * collected to the driver, where every learning round runs in memory
  * ([[learnLocal]]): zero Spark jobs per round, so the round count is
  * a driver-loop length, not a job count (see the VOCAB-SCALE STANCE
  * block). [[learn]] keeps the one-job-per-round Spark form as the
  * pinned reference.
  *
  * Symbol states are SPACE-PREFIXED strings (`" l o w"`), so applying
  * a merge is a literal non-overlapping left-to-right
  * `replace(" l r" → " lr")` — exactly greedy BPE application, with
  * identical semantics in any engine with literal `replace` (the
  * DuckDB oracle replays it verbatim). The leading separator makes a
  * symbol-BOUNDARY anchor: `" a b"` cannot match inside `" xa b"`,
  * and consuming no trailing separator means `" a a a a"` merges to
  * `" aa aa"`, not `" aa a a"`. Pair counts are over all adjacent
  * positions (overlapping, the reference implementation's zip count).
  *
  * Returns (`rank`, `lhs`, `rhs`, `merged`, `cnt`) — one row per
  * learned merge, in learning order.
  */
object Bpe {

  /** The corpus word frequencies (`w`, `freq`): one explode + one
    * word-keyed aggregate — the only corpus pass training makes.
    */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** The distributed learning loop — the reference form [[learnLocal]]
    * is pinned against (BpeSpec), reached from specs only: per round one
    * vocabulary-keyed pair-count aggregate, a top-1
    * (TakeOrderedAndProject — never a global sort), a ONE-row collect
    * of the winning pair and a narrow per-row merge apply over the
    * checkpointed vocabulary table. Returns the learned merge rows AND
    * the final per-word symbol state (`w`, `state`, `freq`) with every
    * merge applied.
    */
  private[graft] def learn(docs: DataFrame, nMerges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")

    val base = graft.util.ScratchCheckpoints.register(
      wordFreq(docs).select(col("w"),
        concat(lit(" "), concat_ws(" ", split(col("w"), ""))).as("state"),
        col("freq"))
        .localCheckpoint())

    var state = base
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (i <- 1 to nMerges) {
      val pairs = state
        .select(col("freq"), split(expr("substring(state, 2)"), " ").as("s"))
        .select(col("freq"), explode(
          transform(slice(col("s"), lit(1), size(col("s")) - 1),
            (x, j) => struct(x.as("l"), element_at(col("s"), j + 2).as("r"))))
          .as("p"))
      val top: Array[Row] = pairs
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      require(top.nonEmpty,
        s"BPE round $i found no adjacent pairs — corpus has no multi-char words")
      val (l, r, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((i, l, r, l + r, cnt))
      state = state.withColumn("state",
        replace(col("state"), lit(s" $l $r"), lit(s" $l$r")))
    }
    (merges.result(), state)
  }

  /** The learned merge table: ONE corpus wordcount, ONE collect of the
    * unpruned vocabulary (`w`, `freq` — no order or limit: the learner
    * does not depend on vocabulary order), then [[learnLocal]] on the
    * driver. Store-cached ([[Similarity.storeCachedKeyed]], keyed on the
    * input plan + nMerges): the table is a trained-tokenizer artifact —
    * deterministic, tiny (nMerges rows) — that no consumer should
    * re-learn per invocation. Same artifact class as the PQ codebooks.
    */
  def learnMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Similarity.storeCachedKeyed("bpe",
        Seq(spark, docs.queryExecution.analyzed.canonicalized, nMerges,
          "merges"),
        learnLocal(wordFreq(docs).as[(String, Long)].collect(), nMerges)
          .toDF("rank", "lhs", "rhs", "merged", "cnt"))
      // the parquet read is unordered; merge ORDER is the tokenizer
      // (consumers fold the merges in rank order)
      .orderBy("rank")
  }

  // ------------------------------------------------------------------
  // VOCAB-SCALE STANCE. Every production path — [[learnMerges]],
  // [[learnMergesLocal]] and, through the merge table, [[tokenCounts]]
  // — learns through [[learnLocal]]: ONE corpus wordcount shuffle (the
  // same aggregate every TXT operator bottoms out in), ONE driver
  // collect of the vocabulary, then the full merge loop IN MEMORY with
  // incremental pair-count maintenance — zero jobs per round — and
  // distributed exact APPLY via [[textCount]]/[[tokenCounts]]'
  // literal-replace meter. The driver holds the vocabulary: per
  // distinct word its symbol array and its pair-index entries, so
  // memory is linear in the distinct words' total length; [[learnMergesLocal]]'s
  // `minFreq`/`maxVocab` bound it where the unpruned vocabulary does
  // not fit (the pruning every production tokenizer trainer applies;
  // Sennrich-style training assumes the vocabulary fits memory
  // anyway). Learned tables are IDENTICAL to the distributed
  // [[learn]]'s by construction (spec-pinned, quirk included — see
  // applyMerge); rounds cost microseconds instead of a job and a
  // 1-row collect each (the reference form: ~32k sequential jobs for a
  // production 32k-merge vocabulary), so nMerges 6 → 32k changes the
  // driver loop's length, not the cluster's work.
  // ------------------------------------------------------------------

  /** Unsigned UTF-8 byte comparison — Spark's binary string ordering,
    * so in-memory tie-breaks match `orderBy(cnt desc, l, r)` exactly
    * (java String compareTo diverges on non-ASCII code points).
    */
  private def ltUtf8(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The literal-replace merge law on a symbol array — EXACTLY what
    * `replace(state, " l r", " lr")` does to the space-joined state,
    * quirk included: the pattern consumes no trailing separator, so it
    * fires when `syms(i) == l` and `syms(i+1)` merely STARTS WITH `r`,
    * fusing the whole next symbol (" a ba" + merge (a,b) → " aba").
    * Left-to-right, non-overlapping, scan resumes after the fused pair.
    * The in-memory learner must reproduce this byte-for-byte or its
    * table diverges from [[learn]]'s/the oracle's — BpeSpec pins
    * the quirk corpus.
    */
  private def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1).startsWith(r)) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** In-memory merge-table learning over a collected (word, freq)
    * vocabulary, in any order: identical output to the distributed
    * [[learn]] on the same vocabulary, zero Spark jobs per round. Incremental bookkeeping:
    * exact adjacent-pair counts (overlapping positions, the zip count)
    * in a tree ordered by (cnt desc, l, r) for O(log) best-pair
    * selection, plus an occurrence index keyed by (left symbol, first
    * char of right symbol) — the superset the replace quirk requires
    * (an exact-pair index would miss the " a ba" fusion sites).
    */
  private[graft] def learnLocal(vocab: Array[(String, Long)], nMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    import scala.collection.mutable
    val syms = vocab.map { case (w, _) => w.map(_.toString).toArray }
    val freq = vocab.map(_._2)
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val byLF = mutable.HashMap.empty[(String, Char), mutable.Set[Int]]
    implicit val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          if (a._1 != b._1) return if (a._1 > b._1) -1 else 1 // cnt DESC
          if (a._2 != b._2) return if (ltUtf8(a._2, b._2)) -1 else 1
          if (a._3 != b._3) return if (ltUtf8(a._3, b._3)) -1 else 1
          0
        }
      }
    val heap = mutable.TreeSet.empty[(Long, String, String)]
    def addWord(idx: Int, sign: Long, deltas: mutable.Map[(String, String), Long]): Unit = {
      val s = syms(idx)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        deltas(p) = deltas.getOrElse(p, 0L) + sign * freq(idx)
        val k = (s(i), s(i + 1).head)
        if (sign > 0) byLF.getOrElseUpdate(k, mutable.Set.empty) += idx
        i += 1
      }
      if (sign < 0) {
        i = 0
        while (i < s.length - 1) {
          byLF.get((s(i), s(i + 1).head)).foreach(_ -= idx)
          i += 1
        }
      }
    }
    def commit(deltas: mutable.Map[(String, String), Long]): Unit =
      deltas.foreach { case (p, d) =>
        if (d != 0L) {
          val old = cnt.getOrElse(p, 0L)
          if (old != 0L) heap.remove((old, p._1, p._2))
          val nw = old + d
          if (nw != 0L) { cnt(p) = nw; heap.add((nw, p._1, p._2)) }
          else cnt.remove(p)
        }
      }
    val init = mutable.HashMap.empty[(String, String), Long]
    syms.indices.foreach(addWord(_, 1L, init))
    commit(init)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (round <- 1 to nMerges) {
      require(heap.nonEmpty,
        s"BPE round $round found no adjacent pairs — corpus has no multi-char words")
      val (c, l, r) = heap.head
      merges += ((round, l, r, l + r, c))
      val deltas = mutable.HashMap.empty[(String, String), Long]
      // Candidates: every word with an adjacent (l, x) where x could
      // start with r (byLF superset); re-check per word.
      byLF.get((l, r.head)).map(_.toArray).getOrElse(Array.empty).foreach { idx =>
        val s = syms(idx)
        var affected = false
        var i = 0
        while (!affected && i < s.length - 1) {
          affected = s(i) == l && s(i + 1).startsWith(r)
          i += 1
        }
        if (affected) {
          addWord(idx, -1L, deltas)
          syms(idx) = applyMerge(s, l, r)
          addWord(idx, 1L, deltas)
        }
      }
      commit(deltas)
    }
    merges.result()
  }

  /** [[learnMerges]] with vocabulary pruning (see the stance block
    * above): `minFreq` drops hapax-class words, `maxVocab` hard-caps the
    * collected vocabulary (deterministic freq-desc/word tie-break), then
    * [[learnLocal]]. With no pruning the table is [[learnMerges]]'; with
    * pruning it is the standard trainer trade (rare words cannot
    * influence merges anyway at sensible thresholds).
    */
  def learnMergesLocal(docs: DataFrame, nMerges: Int, minFreq: Long = 1L,
      maxVocab: Int = 1 << 22): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = wordFreq(docs)
      .where(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("w"))
      .limit(maxVocab)
      .as[(String, Long)]
      .collect()
    learnLocal(vocab, nMerges).toDF("rank", "lhs", "rhs", "merged", "cnt")
  }

  /** Scalar (map-side) token-count meter under a FIXED merge list — the
    * packing family's `tokenCount` parameter driven by a LEARNED
    * tokenizer: per word, rebuild the space-prefixed symbol state,
    * apply the merges in learning order as chained literal `replace`s
    * (plan-time literals — no join, no state table; the per-row cost is
    * `merges.length` scans of a short string), count the symbols, sum
    * over the split array. Counts are identical to [[tokenCounts]]'s
    * join form by construction — same fold per word.
    */
  def textCount(merges: Seq[(String, String)])(text: Column): Column =
    graft.functions.BpeTokenCount.textCount(merges)(text)

  /** The original higher-order-function fold — `aggregate`/`filter`
    * lambdas are CodegenFallback, so every word walked an INTERPRETED
    * expression tree; kept private as the reference implementation the
    * equivalence spec pins [[textCount]]'s native expression against
    * (round 21).
    */
  private[graft] def textCountFold(merges: Seq[(String, String)])(text: Column): Column =
    aggregate(
      filter(split(text, " "), w => w =!= ""),
      lit(0L),
      (acc, w) => {
        val st0 = concat(lit(" "), concat_ws(" ", split(w, "")))
        val stN = merges.foldLeft(st0) { case (st, (l, r)) =>
          replace(st, lit(s" $l $r"), lit(s" $l$r"))
        }
        acc + size(split(substring(stN, 2, Integer.MAX_VALUE), " ")).cast("long")
      })

  /** Per-document token counts under the LEARNED tokenizer — true BPE
    * application (the merge sequence in learning order), not the greedy
    * longest-match of [[graft.functions.SubwordExpressions]] (the two
    * disagree in general; this is the one the learned table defines).
    *
    * The per-word token count is the learned merge table
    * ([[learnMerges]] — a store hit when the session already learned
    * it, so the tokenizer is never trained twice) applied to the
    * vocabulary by [[textCount]]'s ordered literal-replace fold — the
    * fold the distributed learner applies, so it equals the learner's
    * final per-word state by construction. The corpus pass is one
    * explode + one hash join on the word (vocabulary side is the SMALL
    * side at scale) + a per-doc aggregate. Documents with no words
    * (empty text) have no rows, matching the word explode. Returns
    * (`doc_id`, `n_words`, `n_chars`, `n_tokens`, `compression` =
    * chars/token, 6dp).
    */
  def tokenCounts(docs: DataFrame, nMerges: Int): DataFrame = {
    val merges = learnMerges(docs, nMerges).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val trained = wordFreq(docs)
      .select(col("w"), textCount(merges)(col("w")).as("n_tok"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .join(trained, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }
}
