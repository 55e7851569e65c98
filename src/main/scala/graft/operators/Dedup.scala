package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Deduplication operators for a large-scale training-data pipeline
  * (SURVEY.md §2.6 DD-*; motivated in the reference by MQTT QoS1
  * at-least-once delivery, sensor_publish.py:81, README.md:281).
  *
  * Scale stance (the 100 TB design):
  *  - exact dedup = hash-shuffle on the content fingerprint — one shuffle,
  *    no global sort;
  *  - near-dup = LSH banding (MinHash) or chunk-blocking (SimHash): both
  *    turn the O(n²) all-pairs problem into a per-bucket self-join whose
  *    cost follows the collision count, not n²;
  *  - all signatures are computed map-side with higher-order functions
  *    (no explode before the bucket shuffle).
  */
object Dedup {

  /** Routing for [[nearDups]] — the measured scale findings as an API
    * decision instead of documentation (SCALE.md decade probe):
    * MinHash-LSH candidate volume is collision-bound (~independent of
    * corpus size; tracks true-duplicate mass), while SimHash chunk
    * blocking is measured exponent ≈ 2.0 on low-entropy corpora and
    * blocking keys buy a constant (÷3.8 for `lang`), not a better
    * exponent. So the facade defaults to MinHash-LSH, and admits
    * SimHash ONLY with explicit blocking keys; the unblocked SimHash
    * baseline stays reachable through [[simhashNearDups]] directly,
    * clearly labeled as the measured-quadratic verification form.
    */
  sealed trait NearDupMethod

  /** The default: shingle → fused 64-perm signature+banding
    * ([[graft.functions.MinHashBands]]) → band-bucket self-join →
    * exact-Jaccard verify ≥ `threshold`. Output: (`doc_a`, `doc_b`,
    * `jaccard`).
    */
  final case class MinHashLsh(numPerms: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, threshold: Double = 0.5) extends NearDupMethod

  /** SimHash chunk blocking WITH mandatory pre-blocking keys (`lang`, a
    * length bucket, a source id — candidates must agree on all of
    * them). Output: (`doc_a`, `doc_b`, `hamming`).
    */
  final case class SimHashBlocked(blockBy: Seq[String], maxHamming: Int = 3,
      bits: Int = 64) extends NearDupMethod {
    require(blockBy.nonEmpty,
      "SimHash near-dup requires explicit blocking keys: unblocked candidate " +
        "volume is measured quadratic in corpus size (SCALE.md decade probe). " +
        "Use Dedup.simhashNearDups directly for the unblocked baseline, or " +
        "MinHashLsh (the default) for unblocked near-dup at scale.")
  }

  /** Near-duplicate pairs over (`doc_id`, `text`) documents — the one
    * user-facing entry point; routes per [[NearDupMethod]] (MinHash-LSH
    * unless blocked SimHash is requested explicitly).
    */
  def nearDups(docs: DataFrame,
      method: NearDupMethod = MinHashLsh()): DataFrame = method match {
    case m: MinHashLsh =>
      minhashNearDups(docs, m.numPerms, m.bands, m.shingleSize, m.threshold)
    case s: SimHashBlocked =>
      simhashNearDups(docs, s.maxHamming, md5Parity = false, s.bits, s.blockBy)
  }

  /** DD-1 (doc-level): exact duplicate clusters by content fingerprint.
    * Input must have (`doc_id`, `text`).
    */
  def exactClusters(docs: DataFrame): DataFrame =
    docs
      .groupBy(TF.fingerprintMd5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .where(col("n_docs") > 1)

  /** All-pairs token-set Jaccard over a (pre-blocked!) document set.
    * O(n²) in its input by construction — callers restrict `docs` (a
    * sampling predicate, a blocking key) before calling; the LSH variant
    * below is the unrestricted-scale path.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_a"),
      array_distinct(TF.tokens(col("text"))).as("ta"))
    val b = docs.select(col("doc_id").as("doc_b"),
      array_distinct(TF.tokens(col("text"))).as("tb"))
    a.crossJoin(b)
      .where(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", round(TF.jaccard(col("ta"), col("tb")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** EXACT set-similarity self-join via document-frequency-ordered
    * PREFIX FILTERING (the SSJoin/Bayardo-style All-Pairs family,
    * distributed as in Vernica et al., SIGMOD'10) — the LOSSLESS
    * complement to [[minhashCandidates]]: where MinHash-LSH trades
    * recall for collision-bound candidate volume, prefix filtering
    * keeps EVERY qualifying pair, shrinking candidates with a
    * provable-only-safe prune instead of a probabilistic one.
    *
    * The filter: order each document's `shingleSize`-shingle set by
    * global rarity (df asc, shingle asc — one total order, so the
    * least-ordered element of any intersection lies in BOTH prefixes);
    * if Jaccard(A,B) ≥ t then |A∩B| ≥ t/(1+t)·(|A|+|B|) ≥ t·|A|, so A
    * has at most |A| − ⌈t·|A|⌉ elements outside the intersection and
    * its first |A| − ⌈t·|A|⌉ + 1 df-ordered elements must hit it —
    * candidate pairs are exactly the prefix-sharing pairs, further cut
    * by the length filter t ≤ |B|/|A| ≤ 1/t. The threshold is a
    * RATIONAL tNum/tDen and every pruning + keep decision is integer
    * arithmetic (⌈t·sz⌉ = (sz·tNum + tDen − 1) div tDen; keep iff
    * |∩|·tDen ≥ |∪|·tNum), so the result is bit-deterministic and the
    * oracle can replay the naive form with the same integers.
    *
    * Shape at scale: shingle sets build map-side (fused
    * [[graft.functions.StringShingles]]); df is a wordcount aggregate;
    * the rarity rank is one doc_id exchange; the candidate join is a
    * HASH join on the prefix shingle (prefixes hold each doc's
    * LOWEST-df shingles, so the hot posting lists of common shingles
    * never enter the join); the verify touches candidate pairs only.
    * All-pairs never materializes anywhere.
    *
    * MEASURED caveat (SCALE.md prefix-vs-MinHash decade table): the
    * prune's power is rare-shingle SELECTIVITY, which depends on the
    * shingle universe growing with the corpus. On diverse real text it
    * does; on templated/low-entropy corpora it does not, and posting
    * lists — hence candidates — grow ~n²/|universe| (sf0.1: 43,543
    * plain-prefix candidates for 256 true pairs, cut to 12,784 by the
    * positional PPJoin filter, vs MinHash's collision-bound 258).
    * That trade is the operator's contract: PROOF-complete candidates
    * at a corpus-structure-dependent volume, vs banding's fixed volume
    * at measured recall (q_dd14 is the per-corpus decision table;
    * [[nearDups]] keeps MinHash the scale-safe default for exactly
    * this reason). (Implementation spans [[shingleSets]] →
    * [[prefixCandidates]] → the verify below.)
    */
  private def shingleSets(docs: DataFrame, shingleSize: Int): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(graft.functions.StringShingles.shingles(col("text"),
        shingleSize)).as("ss"))
      .withColumn("sz", size(col("ss")).cast("long"))

  /** The CANDIDATE stage of [[prefixJaccardJoin]], exposed (like
    * [[minhashCandidates]]) so the two generators' volumes and recall
    * are directly comparable (q_dd14's audit). Distinct (doc_a, doc_b)
    * pairs sharing a df-ordered prefix shingle and passing the integer
    * length AND positional filters — a PROVEN superset of the
    * ≥ tNum/tDen pairs.
    *
    * The POSITIONAL filter is the PPJoin upgrade (Xiao et al., WWW'08):
    * Jaccard ≥ t needs overlap α = ⌈t/(1+t)·(|A|+|B|)⌉, and a shared
    * prefix element at df-order ranks (pa, pb) caps the achievable
    * overlap at 1 + min(|A|−pa, |B|−pb) (only suffix elements can still
    * match). A pair whose every prefix collision fails that cap cannot
    * reach α — dropping it per-collision BEFORE the distinct is
    * lossless because the FIRST shared element of a truly-similar
    * pair's intersection always passes (everything of A∩B sits at or
    * after it in both suffixes).
    */
  def prefixCandidates(docs: DataFrame, tNum: Int = 4, tDen: Int = 5,
      shingleSize: Int = 3): DataFrame = {
    require(tNum > 0 && tDen >= tNum,
      s"threshold $tNum/$tDen must be a fraction in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val arrs = shingleSets(docs, shingleSize)
    val sets = arrs.select(col("doc_id"), col("sz"), explode(col("ss")).as("sh"))
    val dfreq = sets.groupBy("sh").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    val prefix = sets.join(dfreq, "sh")
      .withColumn("rs", row_number().over(w).cast("long"))
      // L = sz − ⌈t·sz⌉ + 1, all-integer
      .where(col("rs") <=
        col("sz") - ((col("sz") * tNum + (tDen - 1)) / tDen).cast("long") + 1)
      .select(col("doc_id"), col("sz"), col("sh"), col("rs"))
    // α = ⌈tNum·(sza+szb) / (tNum+tDen)⌉, integer
    val alpha = (((col("a.sz") + col("b.sz")) * tNum + (tNum + tDen - 1)) /
      (tNum + tDen)).cast("long")
    prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("b.sz") * tDen >= col("a.sz") * tNum &&
        col("a.sz") * tDen >= col("b.sz") * tNum &&
        lit(1L) + least(col("a.sz") - col("a.rs"), col("b.sz") - col("b.rs"))
          >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact verify of candidate pairs against the shingle sets — the
    * tail of [[prefixJaccardJoin]], exposed so an already-materialized
    * candidate table (q_dd14's audit checkpoints one) is verified
    * WITHOUT rebuilding the candidate stage.
    */
  def prefixJaccardVerify(docs: DataFrame, cands: DataFrame,
      tNum: Int = 4, tDen: Int = 5, shingleSize: Int = 3): DataFrame = {
    val arrs = shingleSets(docs, shingleSize)
    cands
      .join(arrs.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
        col("sz").as("sza")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
        col("sz").as("szb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .where(col("inter") * tDen >= col("uni") * tNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  def prefixJaccardJoin(docs: DataFrame, tNum: Int = 4, tDen: Int = 5,
      shingleSize: Int = 3): DataFrame =
    prefixJaccardVerify(docs, prefixCandidates(docs, tNum, tDen, shingleSize),
      tNum, tDen, shingleSize)

  /** MinHash-LSH candidate pairs BEFORE the exact-Jaccard verify — the
    * banding stage of [[minhashNearDups]], exposed (like
    * [[simhashCandidates]]) so candidate volume is measurable directly.
    * Returns distinct (`doc_a`, `doc_b`) rows. `md5Parity` selects the
    * md5-prefix base hash the DuckDB oracles can recompute (xxhash64
    * otherwise — the hot path).
    */
  def minhashCandidates(docs: DataFrame, numPerms: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, md5Parity: Boolean = false): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")

    // Whole signature + banding in ONE native codegen'd pass per
    // document ([[graft.functions.MinHashBands]]; round 3 — replaced the
    // explode + 64-way min() aggregate, which itself replaced round 1's
    // lead()-window form): no ~50× shingle-row explode, no aggregate
    // hash table, no exchange — the first shuffle of the pipeline is
    // now the band-bucket join. Band values are bit-identical to the
    // aggregate+fold form (differential-tested in SignatureExprSpec).
    // The banding fold lives INSIDE the expression: as a separate
    // column it would be referenced numPerms times and projection
    // collapse would inline (= recompute) the signature per reference —
    // measured 7× slower; as a generator input it evaluates once.
    val banded = docs
      .select(col("doc_id"), posexplode(
        graft.functions.SignatureExpressions.minhashBands(
          TF.shingles(col("text"), shingleSize), numPerms, bands, md5Parity))
        .as(Seq("band", "bucket")))

    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    l.join(r, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** DD near-dup via MinHash + LSH banding:
    * shingle → per-perm min-hash signature (map-side) → split into
    * `bands` bands of `numPerms/bands` rows → hash each band → self-join
    * within (band, bandHash) buckets → distinct candidate pairs →
    * verify with exact token-set Jaccard ≥ `threshold`.
    *
    * Probability a pair with true Jaccard s collides in ≥1 band:
    * 1-(1-s^r)^b (r = perms/band). With 64 perms / 16 bands (r=4),
    * s=0.8 → 0.9998; s=0.3 → 0.12 — the classic high-recall knee.
    */
  def minhashNearDups(docs: DataFrame, numPerms: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, threshold: Double = 0.5,
      md5Parity: Boolean = false): DataFrame = {
    // Verify candidates with exact Jaccard (join text back only for the
    // candidate set, not all pairs).
    val toks = docs.select(col("doc_id"),
      array_distinct(TF.tokens(col("text"))).as("toks"))
    minhashCandidates(docs, numPerms, bands, shingleSize, md5Parity)
      .join(toks.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "ta"), "doc_a")
      .join(toks.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "tb"), "doc_b")
      .withColumn("jaccard", round(TF.jaccard(col("ta"), col("tb")), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Bounded memo of [[nearDupPairsMemo]] results, keyed by (session,
    * canonicalized pair-pipeline plan) — identical corpus plan +
    * identical parameters ⇒ identical deterministic pairs. Entries are
    * EAGER localCheckpoints (so every consumer's plan bottoms out in a
    * `Scan ExistingRDD` leaf — the shape the graph/audit plan pins
    * require — and AQE can never re-execute the MinHash pipeline per
    * reference). Eviction DROPS THE REFERENCE without unpersisting: a
    * checkpointed RDD's lineage is truncated, so unpersist under a
    * still-live consumer would make it unrecomputable; the
    * ContextCleaner reclaims the blocks once the last reference goes.
    * Capacity bounds live entries (a session interleaves at most a
    * couple of distinct pair configs; pair tables are KB-scale).
    */
  private val pairsMemoCapacity = 4
  private val pairsMemo =
    new java.util.LinkedHashMap[Any, DataFrame](8, 0.75f, true)

  /** Memoized [[minhashNearDups]] — the verified near-dup pair graph as
    * DERIVED INDEX STATE: a production corpus builds its pair index
    * once and every cluster / graph / retention / audit consumer reads
    * it. Repeat invocations with an identical corpus plan and identical
    * parameters return the already-materialized table; nine
    * `SparkEntry` queries (and Bench reps) share one build instead of
    * re-running the MinHash pipeline each. NOT registered with
    * [[graft.util.ScratchCheckpoints]] — the artifact outlives any one
    * query's drain, by design.
    */
  def nearDupPairsMemo(docs: DataFrame, numPerms: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, threshold: Double = 0.5,
      md5Parity: Boolean = false): DataFrame = {
    val pipeline =
      minhashNearDups(docs, numPerms, bands, shingleSize, threshold, md5Parity)
    val key =
      (pipeline.sparkSession, pipeline.queryExecution.analyzed.canonicalized): Any
    pairsMemo.synchronized {
      val cached = pairsMemo.get(key) // refreshes LRU order on hit
      if (cached != null && !cached.sparkSession.sparkContext.isStopped) cached
      else {
        val out = pipeline.localCheckpoint() // eager
        pairsMemo.put(key, out)
        if (pairsMemo.size > pairsMemoCapacity)
          pairsMemo.remove(pairsMemo.keySet().iterator().next())
        out
      }
    }
  }

  // ------------------------------------------------------------------
  // Store-cached audit truth (round 20): the dedup audit family's
  // deterministic pay-for-truth and candidate tables promoted to the
  // disk artifact store — [[Similarity.cachedTruth]]'s stance applied
  // here (key on the INPUT plan + scalar params, session folded in;
  // BUILD artifacts only, never per-query results). One build per
  // (JVM, session, corpus plan, params) serves every audit replaying
  // it; q_dd4 and q_dd13 keep the DIRECT pipelines (the canonical
  // places the all-pairs-truth and prefix-join PLANS stay exposed and
  // plan-audited — the q_dd5 discipline), while the audits layered on
  // top (q_dd11/q_dd14) read the artifacts.

  /** [[jaccardPairs]] as a store-cached truth artifact — q_dd11's
    * exact all-pairs ground truth over its bounded block.
    */
  def cachedJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    Similarity.storeCachedKeyed("jtruth",
      Seq(docs.sparkSession, docs.queryExecution.analyzed.canonicalized,
        threshold),
      jaccardPairs(docs, threshold))

  /** [[prefixCandidates]] as a store-cached artifact — the lossless
    * candidate table q_dd14's audit counts and verifies.
    */
  def cachedPrefixCandidates(docs: DataFrame, tNum: Int = 4, tDen: Int = 5,
      shingleSize: Int = 3): DataFrame =
    Similarity.storeCachedKeyed("pcand",
      Seq(docs.sparkSession, docs.queryExecution.analyzed.canonicalized,
        tNum, tDen, shingleSize),
      prefixCandidates(docs, tNum, tDen, shingleSize))

  /** Exact ≥ tNum/tDen truth pairs — the verify of the cached prefix
    * candidates (complete by the losslessness proof), store-cached so
    * q_dd14's three truth references read one artifact.
    */
  def cachedPrefixTruth(docs: DataFrame, tNum: Int = 4, tDen: Int = 5,
      shingleSize: Int = 3): DataFrame =
    Similarity.storeCachedKeyed("ptruth",
      Seq(docs.sparkSession, docs.queryExecution.analyzed.canonicalized,
        tNum, tDen, shingleSize),
      prefixJaccardVerify(docs,
        cachedPrefixCandidates(docs, tNum, tDen, shingleSize),
        tNum, tDen, shingleSize)
        .select(col("doc_a"), col("doc_b")))

  /** [[minhashCandidates]] as a store-cached artifact — the banding
    * candidate set the recall audits (q_dd11/q_dd14) measure. q_dd5's
    * verified pipeline stays direct (its plan is the audited one).
    */
  def cachedMinhashCandidates(docs: DataFrame, numPerms: Int = 64,
      bands: Int = 16, shingleSize: Int = 3,
      md5Parity: Boolean = false): DataFrame =
    Similarity.storeCachedKeyed("mhcand",
      Seq(docs.sparkSession, docs.queryExecution.analyzed.canonicalized,
        numPerms, bands, shingleSize, md5Parity),
      minhashCandidates(docs, numPerms, bands, shingleSize, md5Parity))

  /** [[dupClusters]] as a store-cached artifact keyed on the PAIR-GRAPH
    * plan — the connected-components closure is derived index state
    * exactly like the pair graph itself ([[nearDupPairsMemo]]): five
    * declared queries (q_dd9/q_dd9b/q_dd12/q_ml6/q_ml17) resolve the
    * same closure, and each invocation re-ran the iterative fixpoint
    * (persist + per-iteration convergence jobs) over an UNCHANGED
    * memoized pair table. Callers pass the memoized pairs (a stable
    * LogicalRDD leaf within a session, so the plan key is exact);
    * streamed per-batch closures ([[graft.streaming.SplitStream]])
    * key differently every batch and keep the direct operator.
    */
  def cachedClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame =
    Similarity.storeCachedKeyed("closure",
      Seq(pairs.sparkSession, pairs.queryExecution.analyzed.canonicalized,
        aCol, bCol),
      dupClusters(pairs, aCol, bCol))

  /** SimHash candidate pairs BEFORE the Hamming cutoff — the blocking
    * stage of [[simhashNearDups]], exposed so candidate volume (the
    * operator's true scale cost) is measurable and testable directly.
    * Returns distinct (`doc_a`, `doc_b`, `hamming`) rows.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
      md5Parity: Boolean = false, bits: Int = 64,
      blockBy: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits, s"maxHamming in [0,$bits), got $maxHamming")
    require(bits >= 1 && bits <= 64, s"bits in [1,64], got $bits")
    // Whole signature + pigeonhole chunking in ONE native codegen'd
    // pass per document ([[graft.functions.SimHashChunks]]; round 3 —
    // replaced the explode + per-bit sum() aggregate; bit-identical,
    // differential-tested in SignatureExprSpec): no token explode, no
    // aggregate exchange — the first shuffle is the chunk-bucket join.
    // The chunk slicing is fused into the expression for the same
    // projection-collapse reason as MinHashBands; each emitted struct
    // carries (chunk_val, sig) so the Hamming verify reads fields of
    // the GENERATED attribute. (`bits` < 64 lets the 60-bit md5-prefix
    // hash drive the same operator; blockBy columns ride the projection.)
    val keyCols = "doc_id" +: blockBy
    val chunked = docs
      .select(keyCols.map(col) :+ posexplode(
        graft.functions.SignatureExpressions.simhashChunks(
          TF.tokens(col("text")), maxHamming, bits, md5Parity))
        .as(Seq("chunk", "cs")): _*)
      .select(keyCols.map(col) :+ col("chunk") :+
        col("cs.chunk_val").as("chunk_val") :+ col("cs.sig").as("sig"): _*)
    val joinKeys = Seq("chunk", "chunk_val") ++ blockBy
    val passthru = (blockBy :+ "chunk").map(col) :+ col("chunk_val")
    val l = chunked.select(passthru :+ col("doc_id").as("doc_a") :+ col("sig").as("sig_a"): _*)
    val r = chunked.select(passthru :+ col("doc_id").as("doc_b") :+ col("sig").as("sig_b"): _*)
    l.join(r, joinKeys)
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
  }

  /** DD near-dup via SimHash (64-bit): per-doc signature from token
    * hashes; by pigeonhole, a pair within Hamming distance `maxHamming`
    * must share at least one of `maxHamming + 1` equal-width chunks —
    * the chunk count is DERIVED from maxHamming so candidate generation
    * is complete for any requested distance (more chunks ⇒ wider nets ⇒
    * more candidates to verify, the usual recall/cost trade).
    *
    * `blockBy` composes cheap pre-blocking columns (e.g. `lang`, a
    * length bucket) into the chunk join key: only pairs agreeing on
    * every blocking column are candidates. This is the scale valve for
    * LOW-ENTROPY corpora, where clustered signatures make chunk buckets
    * collide superlinearly (measured: 272k candidates from 5k docs at
    * sf0.1 unblocked). Blocking narrows the DEFINITION — cross-block
    * near-dups are not reported — which is usually the intent (a Spanish
    * and a Chinese page are not dedup candidates). For unblocked
    * near-dup at scale prefer [[minhashNearDups]], whose banding keeps
    * candidate volume tied to true similarity rather than signature
    * entropy.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      md5Parity: Boolean = false, bits: Int = 64,
      blockBy: Seq[String] = Nil): DataFrame =
    simhashCandidates(docs, maxHamming, md5Parity, bits, blockBy)
      .where(col("hamming") <= maxHamming)

  /** 64-bit SimHash from token hashes: for each bit position, sum +1/-1
    * over the doc's token hashes and keep the sign bit. The 64 bit
    * positions are unrolled Scala-side (shift amounts must be literals in
    * the Column API); each is one fold over the token-hash array — all
    * map-side, no shuffle.
    */
  def simhash64FromHashes(hashesCol: Column): Column =
    (0 until 64).map { i =>
      val bitSum = aggregate(hashesCol, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Column-level convenience composition. Produces the same signatures
    * as [[simhashNearDups]] (both hash whole tokens with xxhash64), but
    * evaluates as interpreted HOF folds — use the operator's relational
    * form on hot paths, and materialize the token-hash array first if
    * composing this one (the signature folds over it 64 times).
    */
  def simhash64(text: Column): Column =
    simhash64FromHashes(transform(TF.tokens(text), t => xxhash64(t)))

  /** Embedding near-dup at CORPUS scale — the SemDeDup shape that
    * [[embeddingNearDups]]' pre-blocked baseline defers to: the trained
    * IVF quantizer ([[Similarity.trainCentroids]], memoized) partitions
    * the corpus into cells, and candidate pairs are the within-cell
    * pairs only — one shuffle on the cell id, per-cell cost bounded by
    * the measured cell balance (max/med ≤ 1.2, SCALE.md), never an
    * all-pairs cross. Every reported pair is verified by exact cosine ≥
    * `threshold`, so precision is 1.0 by construction; recall is the
    * fraction of true pairs that share a cell (cross-cell near-dups are
    * missed — the standard SemDeDup trade; raise `nCentroids` for
    * smaller cells and lower recall, or lower it for the reverse).
    * Output: (`vec_a`, `vec_b`, `cos`).
    *
    * `artifactKey`: see [[Similarity.trainCentroids]] — required for
    * corpora whose plans embed typed closures (the multimodal decode
    * stages), which cannot key the artifact cache by plan.
    */
  def embeddingNearDupsAnn(embs: DataFrame, threshold: Double,
      nCentroids: Int = 16, lloydIters: Int = 2, trainN: Int = 4096,
      seedPlanes: Int = 6, dim: Int = 64,
      artifactKey: Option[Seq[Any]] = None): DataFrame = {
    val centroids = Similarity.trainCentroids(embs, nCentroids, lloydIters,
        trainN, seedPlanes, dim, artifactKey)
    // Corpus cell assignment — the shared argmax (one row per vector
    // crosses the wire, not ×nCentroids). Store-cached (slot "cells"):
    // the self-join below references it twice and Spark does not reuse
    // the exchange across differently aliased sides (measured: zero
    // ReusedExchange, assignment ran twice) — persisting makes this the
    // built-once cell index the production flow persists anyway,
    // computed in ONE corpus pass. The disk tier, not the LRU memo: the
    // dd/mm near-dup family cycles ~10 distinct (corpus, centroid)
    // cell-assignment configs per full board — more than the memo's
    // capacity, so every pass re-ran an eager corpus encode per evicted
    // config (r19 memostats: cells hits=3 misses=10). The disk tier
    // holds every config at zero executor-memory cost; the assignment is
    // deterministic (6dp cosine, cid tie-break), and at 100 TB this
    // artifact is exactly what the IndexMaintenance generation stores
    // persist.
    val cells = Similarity.storeArtifact("cells", artifactKey,
      Seq(nCentroids, lloydIters, trainN, seedPlanes, dim),
      Similarity.cellArgmax(Similarity.normed(embs, "vec_id", "e", "nrm"),
        "vec_id", "e", "nrm", centroids, "e", "nrm"))
    val a = cells.select(col("cid"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = cells.select(col("cid"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cid"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos", VF.roundedCosine(col("ea"), col("eb"), col("na"), col("nb")))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair graph, labeling every member doc with its cluster's minimum
    * doc id — the stage that turns pairwise near-dup output (any of
    * [[nearDups]] / [[minhashNearDups]] / [[simhashNearDups]] /
    * [[embeddingNearDupsAnn]]) into a keep/purge decision. Without it a
    * pair list is not actionable: purging `doc_b` of every pair both
    * over-deletes (b≺c≺a chains collapse to one survivor only by luck)
    * and under-deletes (transitive members missed).
    *
    * Algorithm: iterative min-label propagation with pointer jumping
    * (label ← label of own label each round), the classic O(log d)
    * Hash-to-Min shape [Rastogi et al., ICDE'13 — public]. Each
    * iteration is two keyed joins + one aggregate over the PAIR graph
    * only — the corpus never enters; at 100 TB the pair graph is the
    * small verified-candidate output (collision-bound for MinHash-LSH,
    * SCALE.md), so iterations are cheap and few (diameter of dup
    * clusters is shallow; pointer jumping covers diameter ≤ 2^maxIters).
    * Convergence is checked with ONE driver-side scalar count per
    * iteration (the standard iterative-fixpoint control GraphX/
    * GraphFrames use — a per-iteration aggregate, not a per-row
    * collect); each generation ends in a lazy localCheckpoint that the
    * convergence count materializes, so both the executor-side lineage
    * AND the driver-side logical plan stay one generation deep (the
    * pointer jump references its input twice, so an un-truncated plan
    * would double per generation — measured 8× total slowdown on a
    * diameter-10⁵ chain, SCALE.md).
    *
    * Input: pairs with (`aCol`, `bCol`). Output: (`doc_id`, `cluster`)
    * for every doc appearing in ≥1 pair; `cluster` = min doc id of its
    * component. Deterministic (min is order-free) for any iteration
    * count past convergence.
    */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 30): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // With zero iterations the initial labels would be returned
    // unmaterialized and the edge-list unpersist below would force a
    // full upstream recompute on the caller's first action.
    require(maxIters >= 1, s"dupClusters needs maxIters >= 1, got $maxIters")
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = sym.groupBy(col("src").as("node")).agg(min("dst").as("nbr"))
        .select(col("node"), least(col("node"), col("nbr")).as("lbl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // The initial generation is persist-backed; every later one is a
      // localCheckpoint whose blocks ARE the data. Both are explicitly
      // unpersisted when superseded (the checkpointed RDD sits behind
      // the generation's LogicalRDD leaf) — leaving them to the
      // ContextCleaner keeps storage bounded only as fast as driver GC
      // notices, so a long fixpoint under GC lag would accumulate every
      // generation's blocks instead of holding the one-generation bound.
      var labelsPersisted = true
      def freeGeneration(gen: DataFrame): Unit =
        if (labelsPersisted) gen.unpersist(blocking = false)
        else gen.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
        }
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        // Propagate: each node takes the min of its own label and its
        // neighbors' labels (one shuffle on dst, one aggregate on src).
        val nbr = sym.join(labels.select(col("node").as("dst"), col("lbl").as("nlbl")), Seq("dst"))
          .groupBy(col("src").as("node")).agg(min("nlbl").as("plbl"))
        val prop = labels.join(nbr, Seq("node"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
        // Pointer jump: label ← label(label) — halves remaining chain
        // depth each round. Label values are always node ids, so the
        // self-join key set is closed.
        val nextPlan = prop.join(
            prop.select(col("node").as("lnode"), col("lbl").as("llbl")),
            col("lbl") === col("lnode"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("llbl"), col("lbl"))).as("lbl"))
        // Truncate lineage EVERY iteration, not every few: the pointer
        // jump references `prop` twice, so the un-truncated logical plan
        // DOUBLES per generation — capping every k iterations still
        // admits a 2^k× plan between caps, and driver-side analysis at
        // the cap iteration dominates wall time (measured on a
        // diameter-10^5 chain: 46-52 s at the k=5 cap iteration vs ~1 s
        // flat with per-iteration truncation — SCALE.md). localCheckpoint
        // is LAZY here so the convergence count below stays the one job
        // per iteration that materializes the generation (an eager
        // checkpoint would add a second job per iteration — measured
        // +0.25 s on q_dd9's single-iteration fixpoint at sf0.1).
        // Executor-local storage is the right in-session trade: labels
        // are tiny (2 longs per clustered doc); a multi-hour cluster job
        // would pass a checkpoint dir and use reliable checkpoint()
        // instead.
        val next = nextPlan.localCheckpoint(eager = false)
        // Driver-side scalar convergence check (bounded: one long per
        // iteration) over the two materialized generations.
        val changed = next.join(labels.select(col("node"), col("lbl").as("old")), Seq("node"))
          .where(col("lbl") =!= col("old")).count()
        // The count above materialized `next`, so the superseded
        // generation's blocks can be freed NOW — deterministic
        // one-generation storage, not ContextCleaner-eventual.
        freeGeneration(labels)
        labels = next
        labelsPersisted = false
        converged = changed == 0L
        iter += 1
      }
      // labels is persisted/checkpointed + already materialized (by the
      // convergence count), so the edge list is no longer needed.
      labels.select(col("node").as("doc_id"), col("lbl").as("cluster"))
    } finally {
      // Unconditional: a failed Spark action mid-loop must not leak the
      // cached edge list for the rest of the session.
      sym.unpersist(blocking = false)
    }
  }

  /** Keep/purge resolution over [[dupClusters]] output: one row per
    * clustered doc with its cluster id, cluster size, and `keep` = 1 for
    * the canonical member (the minimum doc id — deterministic and
    * join-free to pick) / 0 for members to purge. Docs in no pair are
    * implicitly keep (absent from the output, as from the input).
    */
  def resolveClusters(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        when(col("doc_id") === col("cluster"), 1L).otherwise(0L).as("keep"))
  }

  /** [[resolveClusters]] with the canonical member chosen by (weighted)
    * PageRank instead of min id: the keeper is the doc most centrally
    * embedded in its duplicate family — the template core — rather
    * than merely the oldest id; with `weightCol` the similarity
    * weights the DD pair emitters already carry (jaccard/cosine) bias
    * the pick toward the member its duplicates agree with most. Ties
    * (equal 9dp rank) break to min doc id — fully deterministic.
    * Output adds the member's `pr` to the resolveClusters columns.
    *
    * The pair graph is consumed by BOTH the cluster fixpoint and the
    * rank rounds — callers with an expensive pair pipeline should pass
    * a materialized `pairs` (`.localCheckpoint()`), exactly as q_adv7
    * does ([[graft.operators.Graph.pageRank]]'s reuse note).
    */
  def resolveClustersByRank(pairs: DataFrame, weightCol: Option[String] = None,
      aCol: String = "doc_a", bCol: String = "doc_b",
      clusters: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = clusters.getOrElse(dupClusters(pairs, aCol, bCol))
    val ranks = graft.operators.Graph.pageRank(pairs, aCol, bCol,
      weightCol = weightCol)
    val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    val w = Window.partitionBy("cluster").orderBy(col("pr").desc, col("doc_id"))
    cl
      .join(ranks.select(col("node").as("doc_id"), col("rank").as("pr")),
        Seq("doc_id"))
      .join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"), col("pr"),
        (row_number().over(w) === 1).cast("long").as("keep"))
  }

  /** Cluster resolution with the canonical member chosen by a
    * caller-supplied per-document SCORE — retention by quality, the
    * production policy ([[resolveClustersByRank]]'s graph-centrality
    * variant keeps the template core; this one keeps the member you'd
    * actually want in the training set: longest / most diverse / least
    * boilerplate, whatever `scoreCol` encodes). Ties break to the
    * lowest doc id.
    *
    * Returns every clustered doc with ALL of `scores`' columns plus
    * (`cluster`, `keep`). Scale shape: the fixpoint is
    * [[dupClusters]]'s bounded-lineage operator; the score join and the
    * per-cluster argmax window are one shuffle each over the
    * cluster-member table (pair-connected docs only — far smaller than
    * the corpus).
    */
  def resolveClustersByScore(pairs: DataFrame, scores: DataFrame,
      scoreCol: String = "quality",
      aCol: String = "doc_a", bCol: String = "doc_b",
      clusters: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster").orderBy(col(scoreCol).desc, col("doc_id"))
    clusters.getOrElse(dupClusters(pairs, aCol, bCol))
      .join(scores, Seq("doc_id"))
      .withColumn("keep", (row_number().over(w) === 1).cast("long"))
  }

  // ------------------------------------------------------------ DD-10
  /** Rolling k-token gram hashes: one `(doc_id, pos, h)` row per
    * length-`k` token window, `h` = md5 of the space-joined window,
    * `pos` = 0-based start-token index. Entirely map-side (split +
    * transform + posexplode — the gram stream is produced inside the
    * scan stage; the md5s are computed before any exchange). Documents
    * shorter than `k` tokens produce no grams.
    */
  def duplicateSpanGrams(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    docs.select(col("doc_id"), TF.tokens(col("text")).as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(k))))))
        .as(Seq("pos", "h")))
  }

  /** Maximal duplicated spans per document — the detection half of the
    * substring-level exact dedup of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"). The paper builds a
    * corpus-wide suffix array (single-machine, O(corpus) memory); the
    * distributed re-expression is rolling k-gram hashes: a k-token
    * window that occurs more than once ANYWHERE in the corpus
    * (cross-document or within-document) is duplicated, and every
    * repeated run of >= k tokens contains at least one duplicated
    * k-window, so detection recall matches the suffix-array form at
    * granularity k. Overlapping or touching duplicated windows merge
    * (gaps-and-islands over window starts) into maximal
    * `[start, end)` token spans.
    *
    * Shuffle census at corpus scale: (1) the gram count is a wordcount
    * shape — partial+final HashAggregate on `h`, so the exchange
    * carries (hash, partial count), not the token stream; (2) the
    * flagged-window join grams ⋈ dup-hashes is left to AQE (the
    * duplicated-hash side is collision-sized and typically broadcasts
    * at runtime); (3) one doc_id exchange feeds the island window, and
    * the two aggregates above it reuse that partitioning (doc_id is a
    * subset of their grouping keys — no further exchange).
    */
  def duplicateSpans(docs: DataFrame, k: Int): DataFrame = {
    val grams = duplicateSpanGrams(docs, k)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("h")
    spansOverGrams(grams, dup, k)
  }

  /** The islands half of [[duplicateSpans]], factored over an explicit
    * gram table and duplicated-hash set so the streamed form
    * ([[graft.streaming.SubstrDedupStream]] — gram counts summed across
    * batches, spans read from the committed gram log) runs the
    * IDENTICAL merge. `grams` is (doc_id, pos, h) rows; `dupHashes` is
    * the single-column `h` set of hashes occurring more than once.
    * Shuffle census as documented on [[duplicateSpans]]: the flagged
    * join is AQE's (dup side collision-sized), then ONE doc_id exchange
    * feeds the island window and both aggregates above it.
    */
  def spansOverGrams(grams: DataFrame, dupHashes: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + k)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    grams.join(dupHashes, "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("new_island",
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + k).as("e"))
      .select("doc_id", "s", "e")
  }

  /** Substring-level exact dedup, removal half: cut every duplicated
    * span ([[duplicateSpans]]) out of its document. One row per INPUT
    * document: `doc_id`, `n_tokens`, `n_spans` / `n_removed` (0 for
    * clean docs), and `clean_text` — the surviving tokens re-joined
    * (empty string when the whole document is duplicated text, the
    * boilerplate/template case this operator exists to kill).
    *
    * The span list is collected per document (bounded: disjoint spans
    * of length >= k, so at most n_tokens / k entries — row-local, never
    * driver-side) and the strip is a single indexed higher-order
    * `filter` over the token array, map-side after the one doc_id join.
    */
  def stripDuplicateSpans(docs: DataFrame, k: Int): DataFrame =
    stripWithSpans(docs, duplicateSpans(docs, k))

  /** The removal half factored over an explicit span table — the form a
    * STREAMED state store serves ([[graft.streaming.SubstrDedupStream]]
    * keeps gram hashes, never text; the caller brings the documents and
    * strips them against the committed cross-batch spans).
    */
  def stripWithSpans(docs: DataFrame, spanTable: DataFrame): DataFrame = {
    val spans = spanTable
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("n_removed"))
    docs.select(col("doc_id"), TF.tokens(col("text")).as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("spans").isNull, concat_ws(" ", col("t")))
          .otherwise(concat_ws(" ", filter(col("t"), (_, i) =>
            !exists(col("spans"),
              s => i >= s.getField("s") && i < s.getField("e")))))
          .as("clean_text"))
  }

  /** DD near-dup on embeddings: cosine ≥ `threshold` pairs within a
    * pre-blocked subset (the all-pairs baseline;
    * [[embeddingNearDupsAnn]] is the corpus-scale path).
    */
  def embeddingNearDups(embs: DataFrame, threshold: Double): DataFrame = {
    // Norms precomputed per vector; each pair costs one dot-product fold.
    val a = embs.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      VF.l2Norm(col("embedding")).as("na"))
    val b = embs.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      VF.l2Norm(col("embedding")).as("nb"))
    a.where(col("na") > 0).crossJoin(b.where(col("nb") > 0))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos", VF.roundedCosine(col("ea"), col("eb"), col("na"), col("nb")))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }
}
