package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, composed from
  * codegen'd built-ins (`zip_with`/`aggregate`/`transform`) — no UDFs, so
  * similarity scans stay inside whole-stage codegen.
  *
  * All arithmetic is widened to double first: float accumulation loses
  * precision and would diverge from any double-computing oracle. The
  * left-to-right fold of `aggregate` gives a deterministic summation order
  * (bit-identical to DuckDB's sequential list_inner_product loop).
  */
object VectorFunctions {

  /** array<float|double> → array<double>. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Codegen'd native dot product (graft.plans.DotProductDouble) — same
    * left-to-right summation order as the fold form, so values are
    * bit-identical, just ~10-50x faster. */
  def dotProduct(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dot(asDouble(a), asDouble(b))

  /** Built-in-only fold variant (HOF, interpreted): kept as the reference
    * implementation the native expression is equivalence-tested against. */
  private[graft] def dotProductFold(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))
}
