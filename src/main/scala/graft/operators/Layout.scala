package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data LAYOUT for scan pruning — the 100 TB lever that costs nothing
  * at query time: parquet keeps min/max statistics per row group and
  * Spark's pushed filters skip row groups whose stats exclude the
  * predicate, so the fraction of data a selective scan actually reads
  * is decided by HOW ROWS WERE LAID OUT at write time. A single-column
  * sort serves one predicate column and destroys the other; the
  * classic multi-dimensional answer is the Z-ORDER (Morton 1966) curve
  * — interleave the bits of both keys, sort by the interleave, and
  * every contiguous run of rows is a RECTANGLE in key space, so
  * row-group min/max stats become tight boxes for BOTH columns at once
  * (the technique behind Delta OPTIMIZE ZORDER BY and Iceberg's sort
  * orders — public knowledge re-expressed on plain parquet).
  *
  * Everything here is plain integer Catalyst arithmetic (shift / mask
  * / or — whole-stage-codegen'd, exactly replayable in the DuckDB
  * oracle), no UDF, no custom expression: the z-value of a row is a
  * pure function of its keys, and the layout operator is
  * `repartitionByRange` + `sortWithinPartitions` on that value — one
  * range exchange at write time, zero cost at read time.
  * What it buys is measured in the SCALE.md round-15 z-order table: the
  * fraction of rows read under a 2-d box predicate drops from 10.3%
  * (single sort) to 3.8% (z-order) at 6M rows, while a 1-d band on
  * the sort column alone still favours the single sort.
  */
object Layout {

  /** The Morton interleave of the low `bits` bits of two non-negative
    * integer columns: bit i of `a` lands at position 2i, bit i of `b`
    * at 2i+1. 2·bits ≤ 63 (sign bit untouched). Pure shift/mask/or —
    * codegen-friendly and oracle-replayable.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    zValueN(Seq(a, b), bits)

  /** N-column Morton interleave — bit i of column j lands at position
    * i·n + j (n = column count), so the 2-column [[zValue]] is the
    * n = 2 case verbatim. A shared table filtered on 3+ dimensions
    * clusters on all of them at once; bits·n must stay ≤ 63, so depth
    * trades against dimension count (3 cols → ≤ 21 bits each — pair
    * with the min/max normalization [[zOrderWrite]] applies).
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"interleave needs >= 2 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits*cols must be in [cols, 63], got $bits*${cols.size}")
    val n = cols.size
    cols.zipWithIndex.flatMap { case (c, j) =>
      val cl = c.cast("long")
      (0 until bits).map(i =>
        shiftleft(shiftright(cl, i).bitwiseAND(1), i * n + j))
    }.reduce(_ bitwiseOR _)
  }

  /** Normalize a raw coordinate onto the z-grid [0, 2^bits − 1]. THE
    * one copy of the overflow-sensitive arithmetic (round 18 had to
    * fix it twice — here and in CowStore.writeGenData): divide before
    * multiplying, in double, because (c − lo) · top overflows Long
    * once the column range exceeds ~2^63/top (µs timestamps spanning a
    * few years at bits = 16), silently garbling the curve (data stays
    * correct, the skip law evaporates). Double precision loses nothing
    * that matters — the z-value is a LAYOUT key, and any monotone map
    * of the normalized coordinate preserves the rectangles. Clamped to
    * [0, top] against FP round-up at c = hi; a degenerate range
    * (hi == lo) maps to 0.
    */
  def normCoord(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val top = (1L << bits) - 1
    if (hi == lo) lit(0L)
    else least(lit(top), greatest(lit(0L),
      ((c.cast("double") - lo.toDouble) /
        (hi.toDouble - lo.toDouble) * top).cast("long")))
  }

  /** The same interleave as DuckDB SQL over column expressions `a` and
    * `b` — the oracle builder, kept NEXT to the Spark form so the two
    * cannot drift.
    */
  def zValueSql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})",
        s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " | ", ")")

  /** Lay `df` out z-ordered on (`aCol`, `bCol`) into `nFiles` parquet
    * files at `path`: one range exchange on the z-value (files cover
    * disjoint z ranges → disjoint key rectangles), rows sorted within
    * each file (row groups inside a file are sub-rectangles). The
    * scratch z column never reaches the files. `rowGroupBytes` sizes
    * the parquet row group — the skipping granularity (smaller groups
    * = finer skipping at more footer overhead; the probe uses 1 MB to
    * make the effect measurable at local scale, a 100 TB table keeps
    * the 128 MB default and relies on file-level disjointness).
    *
    * Keys are min/max-NORMALIZED to the `bits` width before
    * interleaving — load-bearing, not cosmetic: interleaving RAW keys
    * of unequal magnitude (LayoutProbe's first run: x spanning 23
    * bits, y spanning 15) leaves the z-value's high bits owned
    * entirely by the wide key, and the curve degenerates to a
    * single-column sort at every coarse granularity (measured: y-band
    * reads fell from 69% to ~2% of the table once normalized — the
    * same reason production z-order implementations rank-normalize
    * each column first). The min/max pass is one 1-row aggregate.
    */
  def zOrderWrite(df: DataFrame, aCol: String, bCol: String, path: String,
      nFiles: Int, bits: Int = 16,
      rowGroupBytes: Long = 1L << 20): Unit = {
    val r = df.agg(min(col(aCol)).cast("long"), max(col(aCol)).cast("long"),
      min(col(bCol)).cast("long"), max(col(bCol)).cast("long")).head()
    val (aMin, aMax, bMin, bMax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    df.withColumn("__z", zValue(
        normCoord(col(aCol), aMin, aMax, bits),
        normCoord(col(bCol), bMin, bMax, bits), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .parquet(path)
  }
}
