package graft.wizard

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Entity surfacing per cluster: weighted term frequency + top-n
  * (reference word_wizard.py:430-511, operators A3+W4/B6).
  *
  * Reference semantics: entity candidates from the title weigh ×3,
  * description ×2, body ×1; per cluster, the top-n candidates by weighted
  * count win (ties by insertion order → here pinned to term asc for
  * determinism, SURVEY.md §7.4.1).
  *
  * The kernel (what counts as an entity) is the deterministic local
  * heuristic "token of length ≥ minLen", standing in for the reference's
  * spaCy ORG entities — the dataflow (explode with a weight
  * literal per source zone → groupBy(cluster, term) → sum(weight) → window
  * top-n) is the operator under test, and it is one shuffle bounded by
  * |cluster|×|vocabulary|.
  */
object Ner {

  /** Weighted top-n candidate terms per cluster.
    *
    * @param zones (tokenArrayColumn, weight) pairs, e.g. title→3, body→1.
    */
  def topEntities(df: DataFrame, clusterCol: String,
                  zones: Seq[(Column, Int)], minLen: Int, n: Int): DataFrame = {
    // ONE corpus pass for all zones: each zone's token array becomes
    // (term, weight) structs and the concatenation explodes once. The
    // previous unionByName-of-selects formulation scanned (and re-tokenized)
    // the corpus once PER ZONE — at 3 zones, 3 full passes — for rows the
    // aggregation below treats identically regardless of arrival order.
    // coalesce per zone: flatten() yields NULL (not the other zones' terms)
    // if ANY element array is null — a row with a null title must still
    // contribute its body terms, exactly as the per-zone explodes did.
    val emptyZone = array().cast("array<struct<term:string,weight:int>>")
    val zoneStructs = zones.map { case (toks, weight) =>
      coalesce(
        transform(toks, t => struct(t.as("term"), lit(weight).as("weight"))),
        emptyZone)
    }
    val exploded = df.select(col(clusterCol),
        explode(flatten(array(zoneStructs: _*))).as("tw"))
      .select(col(clusterCol),
        col("tw.term").as("term"), col("tw.weight").as("weight"))
    val counted = exploded
      .filter(length(col("term")) >= minLen)
      .groupBy(col(clusterCol), col("term"))
      .agg(sum(col("weight")).as("wsum"))
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col("wsum").desc, col("term"))
    counted.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select(col(clusterCol), col("rk"), col("term"), col("wsum"))
  }
}
