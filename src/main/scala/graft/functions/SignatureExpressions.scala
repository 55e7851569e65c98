package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static base hashes shared by the native signature expressions and
  * referenced from their generated code. Both reproduce the column-level
  * forms bit for bit (differential-tested in SignatureExprSpec):
  *  - [[xx]] = Spark's `xxhash64(string)` (seed 42) — the hot-path hash;
  *  - [[md5Parity]] = [[TextFunctions.hexHash60]] — the md5-prefix
  *    integer the DuckDB oracles can recompute.
  */
object SignatureHash {
  def xx(s: UTF8String): Long = XxHash64Function.hash(s, StringType, 42L)

  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as an integer ([[TextFunctions.hexHash60]]
    * semantics) computed per ROW: direct byte arithmetic (bytes 0-6 plus
    * the high nibble of byte 7) over a thread-local digest — the
    * hex-string formatting of the plan-time helper is ~20× too slow for
    * a per-shingle hot loop.
    */
  def md5ParityBytes(utf8: Array[Byte]): Long = {
    val md = mdPool.get()
    md.reset()
    val d = md.digest(utf8)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  def md5Parity(s: UTF8String): Long = md5ParityBytes(s.getBytes)
  def base(s: UTF8String, md5: Boolean): Long = if (md5) md5Parity(s) else xx(s)

  /** Interpreted-mode core of [[MinHashSignature]]/[[MinHashBands]]:
    * per-permutation minima, or null for an array with no non-null
    * element.
    */
  def minhashMins(arr: ArrayData, as: Array[Long], bs: Array[Long],
      md5: Boolean): Array[Long] = {
    val P = TextFunctions.MinhashPrime
    val mins = Array.fill(as.length)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        any = true
        val raw = base(arr.getUTF8String(j), md5)
        val h = ((raw % P) + P) % P
        var i = 0
        while (i < as.length) {
          val v = (h * as(i) + bs(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else mins
  }

  /** Interpreted-mode core of [[SimHashSignature]]/[[SimHashChunks]]:
    * the packed sign-bit signature, or null for an empty array.
    */
  def simhashSig(arr: ArrayData, bits: Int, md5: Boolean): java.lang.Long = {
    if (arr.numElements() == 0) return null
    val counts = new Array[Long](bits)
    var j = 0
    while (j < arr.numElements()) {
      if (arr.isNullAt(j)) {
        var i = 0
        while (i < bits) { counts(i) -= 1; i += 1 }
      } else {
        val h = base(arr.getUTF8String(j), md5)
        var i = 0
        while (i < bits) {
          counts(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L)
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) { if (counts(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }
}

/** Whole MinHash signature in ONE map-side pass — the native codegen
  * replacement for the explode → 64-way `min()` hash aggregate
  * (SURVEY.md §4.3 "custom Expression" tier):
  *
  *   sig_i = min over shingles s of (pmod(h(s), P) · a_i + b_i) mod P
  *
  * Identical values to the aggregate form (same base hashes, same
  * affine permutations from [[TextFunctions.minhashParams]]), but per
  * document instead of per exploded row: no 50×-row explode feeds an
  * aggregate hash table, no partial/final exchange — the signature is
  * born where the document lives, and the first shuffle of the dedup
  * pipeline becomes the (tiny) band-bucket join. NULL input or a
  * shingle array with no non-null element yields NULL (the aggregate
  * form simply had no row for such docs — both exclude them).
  */
case class MinHashSignature(child: Expression, numPerms: Int, md5Parity: Boolean)
    extends UnaryExpression {

  private val P = TextFunctions.MinhashPrime
  @transient private lazy val params = TextFunctions.minhashParams(numPerms)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val mins = SignatureHash.minhashMins(
      input.asInstanceOf[ArrayData], params._1, params._2, md5Parity)
    if (mins == null) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhsAs", params._1, "long[]")
    val bsRef = ctx.addReferenceObj("mhsBs", params._2, "long[]")
    // Scala object methods are reachable from janino via the mirror
    // class's STATIC FORWARDERS (plain `SignatureHash.base(...)`);
    // `SignatureHash$.MODULE$` does not resolve under janino.
    val hashCls = "graft.functions.SignatureHash"
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mhsMins")
      val any = ctx.freshName("mhsAny")
      val j = ctx.freshName("mhsJ")
      val i = ctx.freshName("mhsI")
      val h = ctx.freshName("mhsH")
      val v = ctx.freshName("mhsV")
      s"""
         |long[] $mins = new long[$numPerms];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $j = 0; $j < $a.numElements(); $j++) {
         |  if (!$a.isNullAt($j)) {
         |    $any = true;
         |    long $h = $hashCls.base($a.getUTF8String($j), $md5Parity);
         |    $h = (($h % ${P}L) + ${P}L) % ${P}L;
         |    for (int $i = 0; $i < $numPerms; $i++) {
         |      long $v = ($h * $asRef[$i] + $bsRef[$i]) % ${P}L;
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |}
         |if (!$any) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole SimHash signature in ONE map-side pass — same replacement as
  * [[MinHashSignature]] for the explode → per-bit `sum()` aggregate:
  * for each bit i, sum ±1 over the doc's token hashes and keep the sign
  * (`sum > 0`). Bit semantics mirror the column form exactly, including
  * arithmetic `>>` (bit 63 of a negative xxhash lands correctly) and a
  * NULL token contributing −1 to every bit (the aggregate's
  * `when(...).otherwise(-1)` falls through on a NULL comparison).
  */
case class SimHashSignature(child: Expression, bits: Int, md5Parity: Boolean)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"bits in [1,64], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_signature"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    SignatureHash.simhashSig(input.asInstanceOf[ArrayData], bits, md5Parity)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hashCls = "graft.functions.SignatureHash" // static forwarders (see above)
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("shsCounts")
      val j = ctx.freshName("shsJ")
      val i = ctx.freshName("shsI")
      val h = ctx.freshName("shsH")
      val sig = ctx.freshName("shsSig")
      s"""
         |if ($a.numElements() == 0) { ${ev.isNull} = true; }
         |else {
         |  long[] $counts = new long[$bits];
         |  for (int $j = 0; $j < $a.numElements(); $j++) {
         |    if ($a.isNullAt($j)) {
         |      for (int $i = 0; $i < $bits; $i++) $counts[$i] -= 1L;
         |    } else {
         |      long $h = $hashCls.base($a.getUTF8String($j), $md5Parity);
         |      for (int $i = 0; $i < $bits; $i++) {
         |        $counts[$i] += ((($h >> $i) & 1L) == 1L) ? 1L : -1L;
         |      }
         |    }
         |  }
         |  long $sig = 0L;
         |  for (int $i = 0; $i < $bits; $i++) {
         |    if ($counts[$i] > 0) $sig |= (1L << $i);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature + LSH banding fused into one expression: returns
  * the `bands` band-bucket values directly (polynomial fold of each
  * band's signature components in the 31-bit field, seeded by the band
  * index — identical arithmetic to the column-level fold it replaces).
  *
  * Fused for a load-bearing reason: a plain signature column REFERENCED
  * `bands × rowsPerBand` times by the banding fold gets INLINED by
  * projection collapse (through the Generate node), recomputing the
  * whole signature per reference — measured 7× slower end-to-end than
  * the aggregate form it was meant to beat. Feeding `posexplode` with
  * THIS expression keeps exactly one evaluation per document by
  * construction (a generator input is evaluated once per row).
  */
case class MinHashBands(child: Expression, numPerms: Int, bands: Int,
    md5Parity: Boolean) extends UnaryExpression {
  require(bands >= 1 && numPerms % bands == 0, "bands must divide numPerms")

  private val P = TextFunctions.MinhashPrime
  private val rowsPerBand = numPerms / bands
  @transient private lazy val params = TextFunctions.minhashParams(numPerms)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override def nullable: Boolean = true

  private def bandsOf(mins: Array[Long]): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var i = b * rowsPerBand
      while (i < (b + 1) * rowsPerBand) {
        acc = (acc * 1000003L + mins(i)) % P
        i += 1
      }
      out(b) = acc
      b += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any = {
    val mins = SignatureHash.minhashMins(
      input.asInstanceOf[ArrayData], params._1, params._2, md5Parity)
    if (mins == null) null else new GenericArrayData(bandsOf(mins))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhbAs", params._1, "long[]")
    val bsRef = ctx.addReferenceObj("mhbBs", params._2, "long[]")
    val hashCls = "graft.functions.SignatureHash" // static forwarders
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mhbMins")
      val any = ctx.freshName("mhbAny")
      val j = ctx.freshName("mhbJ")
      val i = ctx.freshName("mhbI")
      val h = ctx.freshName("mhbH")
      val v = ctx.freshName("mhbV")
      val out = ctx.freshName("mhbOut")
      val b = ctx.freshName("mhbB")
      val acc = ctx.freshName("mhbAcc")
      s"""
         |long[] $mins = new long[$numPerms];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $j = 0; $j < $a.numElements(); $j++) {
         |  if (!$a.isNullAt($j)) {
         |    $any = true;
         |    long $h = $hashCls.base($a.getUTF8String($j), $md5Parity);
         |    $h = (($h % ${P}L) + ${P}L) % ${P}L;
         |    for (int $i = 0; $i < $numPerms; $i++) {
         |      long $v = ($h * $asRef[$i] + $bsRef[$i]) % ${P}L;
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |}
         |if (!$any) { ${ev.isNull} = true; }
         |else {
         |  long[] $out = new long[$bands];
         |  for (int $b = 0; $b < $bands; $b++) {
         |    long $acc = (long) $b;
         |    for (int $i = $b * $rowsPerBand; $i < ($b + 1) * $rowsPerBand; $i++) {
         |      $acc = ($acc * 1000003L + $mins[$i]) % ${P}L;
         |    }
         |    $out[$b] = $acc;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash signature + pigeonhole chunking fused into one expression:
  * returns one struct per chunk carrying (`chunk_val`, `sig`) — the
  * chunk key for the blocking join plus the full signature for the
  * Hamming verify. Fused for the same projection-collapse reason as
  * [[MinHashBands]]; feeding `posexplode` keeps one evaluation per doc,
  * and downstream reads fields of the GENERATED attribute (cheap).
  */
case class SimHashChunks(child: Expression, maxHamming: Int, bits: Int,
    md5Parity: Boolean) extends UnaryExpression {
  require(maxHamming >= 0 && maxHamming < bits, s"maxHamming in [0,$bits)")
  require(bits >= 1 && bits <= 64, s"bits in [1,64], got $bits")

  private val nChunks = maxHamming + 1
  private val width = bits / nChunks // last chunk absorbs the remainder

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_val", LongType, nullable = false),
    StructField("sig", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "simhash_chunks"
  override def nullable: Boolean = true

  private[graft] def chunkVal(sig: Long, i: Int): Long = {
    val hi = if (i == nChunks - 1) bits else (i + 1) * width
    val mask = if (hi - i * width == 64) -1L else (1L << (hi - i * width)) - 1
    (sig >> (i * width)) & mask
  }

  override protected def nullSafeEval(input: Any): Any = {
    val sig = SignatureHash.simhashSig(input.asInstanceOf[ArrayData], bits, md5Parity)
    if (sig == null) return null
    val s = sig.longValue()
    val rows = Array.tabulate[Any](nChunks) { i =>
      org.apache.spark.sql.catalyst.InternalRow(chunkVal(s, i), s)
    }
    new GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hashCls = "graft.functions.SignatureHash" // static forwarders
    val self = ctx.addReferenceObj("shcSelf", this, this.getClass.getName)
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("shcCounts")
      val j = ctx.freshName("shcJ")
      val i = ctx.freshName("shcI")
      val h = ctx.freshName("shcH")
      val sig = ctx.freshName("shcSig")
      val rows = ctx.freshName("shcRows")
      s"""
         |if ($a.numElements() == 0) { ${ev.isNull} = true; }
         |else {
         |  long[] $counts = new long[$bits];
         |  for (int $j = 0; $j < $a.numElements(); $j++) {
         |    if ($a.isNullAt($j)) {
         |      for (int $i = 0; $i < $bits; $i++) $counts[$i] -= 1L;
         |    } else {
         |      long $h = $hashCls.base($a.getUTF8String($j), $md5Parity);
         |      for (int $i = 0; $i < $bits; $i++) {
         |        $counts[$i] += ((($h >> $i) & 1L) == 1L) ? 1L : -1L;
         |      }
         |    }
         |  }
         |  long $sig = 0L;
         |  for (int $i = 0; $i < $bits; $i++) {
         |    if ($counts[$i] > 0) $sig |= (1L << $i);
         |  }
         |  Object[] $rows = new Object[$nChunks];
         |  for (int $i = 0; $i < $nChunks; $i++) {
         |    $rows[$i] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[]{ java.lang.Long.valueOf($self.chunkVal($sig, $i)),
         |                    java.lang.Long.valueOf($sig) });
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign-bucket signatures for `tables` hyperplane tables in ONE native
  * pass over a float-vector column: for each (table, plane), the
  * projection Σ_d x_d·w_d accumulates in dimension order (bit-identical
  * to the exploded sum() aggregate it replaces AND to the oracle's
  * `list_dot_product` fold), and sign bits pack per table. Weights are
  * plan-time literals supplied by the caller ([[graft.operators
  * .Similarity.planeWeights]]). Same generator-input design as
  * [[MinHashBands]] — evaluated once per row under `posexplode`, immune
  * to projection-collapse recompute. Enforces `dim` exactly (a shorter
  * vector would silently prefix-project; the oracle's list_dot_product
  * rejects it) and yields NULL for a NULL vector.
  */
case class HyperplaneBuckets(child: Expression, weights: Seq[Seq[Double]],
    planes: Int, dim: Int) extends UnaryExpression {
  require(weights.length % planes == 0, "weights must hold tables × planes rows")
  private val tables = weights.length / planes
  // Seq (STRUCTURAL equality) in the case-class signature, Array for the
  // hot loop: plan canonicalization copies expressions and compares them
  // for cached-plan/exchange reuse — an Array param's reference equality
  // made every comparison fail, so the persisted centroid table was
  // never reused and the IVF training DAG re-ran per consumer.
  @transient private lazy val w: Array[Array[Double]] = weights.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"
  override def nullable: Boolean = true

  private[graft] def dimCheck(n: Int): Unit =
    if (n != dim) throw new IllegalStateException(
      s"signBuckets: embedding dim must be $dim (got $n)")

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    dimCheck(arr.numElements())
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val wr = w(t * planes + p)
        var proj = 0.0
        var d = 0
        while (d < dim) {
          if (!arr.isNullAt(d)) proj += arr.getFloat(d).toDouble * wr(d)
          d += 1
        }
        if (proj > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("hpbW", w, "double[][]")
    val self = ctx.addReferenceObj("hpbSelf", this, this.getClass.getName)
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("hpbOut")
      val t = ctx.freshName("hpbT")
      val p = ctx.freshName("hpbP")
      val d = ctx.freshName("hpbD")
      val w = ctx.freshName("hpbWrow")
      val proj = ctx.freshName("hpbProj")
      val bucket = ctx.freshName("hpbBucket")
      s"""
         |$self.dimCheck($a.numElements());
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $bucket = 0L;
         |  for (int $p = 0; $p < $planes; $p++) {
         |    double[] $w = $wRef[$t * $planes + $p];
         |    double $proj = 0.0;
         |    for (int $d = 0; $d < $dim; $d++) {
         |      if (!$a.isNullAt($d)) $proj += (double) $a.getFloat($d) * $w[$d];
         |    }
         |    if ($proj > 0) $bucket |= (1L << $p);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignatureExpressions {
  /** Column entry: whole MinHash signature (array of `numPerms` longs). */
  def minhashSig(shingles: Column, numPerms: Int, md5Parity: Boolean): Column =
    GraftColumnBridge.column(
      MinHashSignature(GraftColumnBridge.expression(shingles), numPerms, md5Parity))

  /** Column entry: packed SimHash signature (one long, low `bits` used). */
  def simhashSig(tokens: Column, bits: Int, md5Parity: Boolean): Column =
    GraftColumnBridge.column(
      SimHashSignature(GraftColumnBridge.expression(tokens), bits, md5Parity))

  /** Column entry: fused signature + banding (array of `bands` buckets). */
  def minhashBands(shingles: Column, numPerms: Int, bands: Int,
      md5Parity: Boolean): Column =
    GraftColumnBridge.column(MinHashBands(
      GraftColumnBridge.expression(shingles), numPerms, bands, md5Parity))

  /** Column entry: fused signature + chunking (array of structs). */
  def simhashChunks(tokens: Column, maxHamming: Int, bits: Int,
      md5Parity: Boolean): Column =
    GraftColumnBridge.column(SimHashChunks(
      GraftColumnBridge.expression(tokens), maxHamming, bits, md5Parity))

  /** Column entry: per-table hyperplane sign buckets (array of longs). */
  def hyperplaneBuckets(embedding: Column, weights: Seq[Seq[Double]],
      planes: Int, dim: Int): Column =
    GraftColumnBridge.column(HyperplaneBuckets(
      GraftColumnBridge.expression(embedding), weights, planes, dim))
}
