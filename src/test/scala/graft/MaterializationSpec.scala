package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.DedupQueries

/** The materialization policy (see `graft.dedup.Dedup`) on the queries
  * whose operators checkpoint: how many frames each checkpoints and how
  * many jobs its construction runs, and that every checkpoint is freed once
  * the query's frame is no longer referenced.
  */
class MaterializationSpec extends SparkSpec {
  private lazy val dir = fixtureDir("sf0.001")

  private val queries = Seq(
    "q25_neardup_lsh" -> (DedupQueries.q25NeardupLsh _),
    "q36_simhash_neardup" -> (DedupQueries.q36SimhashNeardup _),
    "q38_embed_dedup" -> (DedupQueries.q38EmbedDedup _),
    "q39_neardup_groups" -> (DedupQueries.q39NeardupGroups _))

  // a fresh set: `getPersistentRDDs.keySet` is a view that keeps its RDDs alive
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Ids of the RDDs that building `q` checkpointed, and the jobs the build
    * ran; the frame is consumed and unreachable once this returns.
    */
  private def buildAndConsume(q: (SparkSession, String) => DataFrame): (Set[Int], Int) = {
    val before = persisted
    var df: DataFrame = null
    val jobs = jobsDuring { df = q(spark, dir) }
    val ids = persisted -- before
    df.write.format("noop").mode("overwrite").save()
    (ids, jobs)
  }

  private def rddBlocks(ids: Set[Int]): Seq[String] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(b => b.asRDDId.exists(r => ids.contains(r.rddId)), askStorageEndpoints = true)
      .map(_.name).toSeq

  test("q25, q36, q38 and q39 checkpoint as many frames in as many construction jobs as before") {
    // (checkpointed frames, construction jobs) per query
    val expected = Map(
      "q25_neardup_lsh" -> (2, 3), "q36_simhash_neardup" -> (1, 1),
      "q38_embed_dedup" -> (1, 5), "q39_neardup_groups" -> (2, 6))
    for ((name, q) <- queries) {
      val (ids, jobs) = buildAndConsume(q)
      assert((ids.size, jobs) == expected(name), s"$name: (checkpointed, jobs)")
    }
  }

  test("every checkpoint of q25, q36, q38 and q39 is freed once its frame is dropped") {
    for ((name, q) <- queries) {
      val (ids, _) = buildAndConsume(q)
      assert(ids.nonEmpty, s"$name checkpointed nothing")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def left = (ids & persisted, rddBlocks(ids))
      while (left != (Set.empty, Nil) && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(left == (Set.empty, Nil), s"$name still holds (rdds, blocks)")
    }
  }
}
