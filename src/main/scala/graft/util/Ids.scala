package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Distributed ordered scans (SURVEY.md P13's shape, for unbounded tables).
  *
  * `sum(...).over(Window.orderBy(key))` is the obvious translation of a
  * pandas cumulative sum, but it funnels EVERY row through one partition
  * (WindowExec's "No Partition Defined" path) — fine for a bounded table,
  * fatal for a corpus. [[prefixSum]] produces the same values fully
  * distributed:
  *
  *  1. range-repartition + sort within partitions by the key (total order
  *     across partitions, each partition sorted — no single-point sort);
  *  2. one lightweight total-per-partition job;
  *  3. map each partition with its exclusive-prefix-sum offset.
  *
  * Determinism requires the key to be unique (range boundaries are sampled,
  * so ties may land in either of two adjacent partitions; with unique keys
  * the result is order-isomorphic to the key and thus unique and stable
  * across runs/cluster sizes — the property the oracle compare needs).
  */
object Ids {
  /** Distributed inclusive prefix sum of `valueCol` in `keyCols` order.
    * Integer math → exact and order-independent across any partitioning.
    */
  def prefixSum(df: DataFrame, outCol: String, valueCol: String,
                keyCols: String*): DataFrame = {
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(valueCol)
    val keys = keyCols.map(col)
    val sorted = df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
    // the totals job and the offset pass read it (materialization policy: graft.dedup.Dedup)
    val rdd = sorted.rdd.localCheckpoint()
    val keyIdx = keyCols.map(sorted.schema.fieldIndex)
    // one job: per-partition totals + duplicate-key detection. Rows are
    // sorted, so equal keys are adjacent; a within-partition scan plus a
    // boundary compare between consecutive partitions sees every duplicate.
    val totals = rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        var sum = 0L
        var first: Seq[Any] = null
        var prev: Seq[Any] = null
        var dup = false
        it.foreach { row =>
          sum += row.getLong(idx)
          val k = keyIdx.map(row.get)
          if (first == null) first = k
          if (prev == k) dup = true
          prev = k
        }
        Iterator((pid, sum, Option(first), Option(prev), dup))
      }
      .collect().sortBy(_._1)
    require(!totals.exists(_._5),
      s"prefixSum keys (${keyCols.mkString(",")}) are not unique — " +
        "numbering would not be deterministic (SURVEY P13 contract)")
    totals.map(t => (t._3, t._4)).filter(_._1.isDefined).sliding(2).foreach {
      case Array((_, Some(lastA)), (Some(firstB), _)) =>
        require(lastA != firstB,
          s"prefixSum keys (${keyCols.mkString(",")}) are not unique " +
            "(duplicate straddles a partition boundary)")
      case _ => ()
    }
    val offsets = totals.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val withSum = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var acc = bc.value(pid)
      it.map { row => acc += row.getLong(idx); Row.fromSeq(row.toSeq :+ acc) }
    }
    spark.createDataFrame(withSum, sorted.schema.add(outCol, LongType))
  }
}
