package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from codegen'd
  * higher-order functions (`zip_with` + `aggregate`) — no UDFs, so the dot
  * product stays inside WholeStageCodegen and Catalyst can prune/pushdown
  * around it (SURVEY.md §2j array/vector family).
  *
  * Floats are widened to double BEFORE any arithmetic; the fold is a
  * sequential left fold per row, which makes results bit-identical to the
  * DuckDB oracle's `list_dot_product(CAST(x AS DOUBLE[]), ...)`.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision (left-to-right fold). Generic-dimension
    * form; prefer [[dotN]] in hot paths.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Σ aᵢ·bᵢ with the dimension known at plan time: statically unrolled into
    * `dim` element_at products — no intermediate array allocation per row,
    * one fused codegen expression. Left-associated adds, so the result is
    * bit-identical to the fold in [[dot]] (0.0 + t₁ ≡ t₁).
    */
  def dotN(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map { i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double")
    }.reduceLeft(_ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; formula spelled out identically in oracle SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity as the native codegen'd expression
    * ([[CosineSimilarity]]) — the hot-path variant; same FP result as
    * [[cosine]].
    */
  def cosineSim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** SQL fragment computing the same cosine in DuckDB given two DOUBLE[]
    * expressions — kept textually adjacent to `cosine` so both sides stay in
    * lockstep.
    */
  def cosineSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
}
