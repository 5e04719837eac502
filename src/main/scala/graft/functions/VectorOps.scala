package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType(Float) columns (F16; SURVEY.md §2.11).
  *
  * Default implementations are the native codegen'd Catalyst expressions
  * (graft.functions.VecExprs — primitive loop inside whole-stage codegen).
  */
object VectorOps {

  /** Σ aᵢ·bᵢ — dot product (codegen'd primitive loop). */
  def dot(a: Column, b: Column): Column = VecExprs.dot(a, b)

  /** Σ (aᵢ−bᵢ)² — squared euclidean distance (codegen'd). */
  def sqDist(a: Column, b: Column): Column = VecExprs.sqDist(a, b)

  /** ‖a‖₂ */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cos(a,b) = a·b / (‖a‖‖b‖) */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
