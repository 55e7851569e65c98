package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float>` embedding columns
  * (SURVEY.md §2.6 SIM-1; FIXTURES.md: `embeddings.embedding`, dim 64).
  *
  * Built from higher-order functions (`zip_with` + `aggregate`) — a
  * strict left-to-right fold with double accumulation, which both keeps
  * the arithmetic deterministic and lets the DuckDB oracle reproduce the
  * exact fp result (`list_reduce` over the same sequence). A codegen'd
  * native Expression fast path can replace the fold if the HOF shows up
  * hot in BENCH (SURVEY.md §4.3).
  */
object VectorFunctions {

  /** Dot product — native codegen'd expression ([[FloatVectorDot]]);
    * same left-to-right double accumulation as the HOF fold it replaced.
    */
  def dot(a: Column, b: Column): Column = FloatVectorDot.dot(a, b)

  /** Reference HOF implementation of the dot product (interpreted;
    * kept for the codegen-equivalence test and as the pattern for types
    * the native expression doesn't cover).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm (native dot with itself). */
  def normSq(a: Column): Column = dot(a, a)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; null-safe-ish: zero-norm vectors yield NULL
    * (divide by zero → NULL in SQL semantics on both engines).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine over PRECOMPUTED norms `na`/`nb`, rounded to 6dp — the score
    * every similarity ranking sorts on. Rounding absorbs the two
    * engines' different fp summation orders (the DuckDB oracles round
    * the same way), so ties fall to the id tie-break, not to noise.
    * Callers drop zero norms first: under ANSI the division throws.
    */
  def roundedCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** Euclidean (L2) distance. */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0), (acc, x) => acc + x))
}
