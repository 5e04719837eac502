package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ledger is itself measured against jobs whose shape is known. */
class LedgerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withLedger[T](f: Ledger => T): T = {
    val l = new Ledger(spark.sparkContext, "spec")
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  test("one consumed spark.range(10) is one job, one stage, one task per slice") {
    withLedger { l =>
      l.span("range")(Main.consume(spark.range(0, 10, 1, 2).toDF()))
      l.drain()
      val c = l.cost(l.jobsOf(l.named("range")))
      assert((c.jobs, c.stages, c.tasks) == (1, 1, 2))
      assert(c.shuffleReadMb == 0.0 && c.shuffleWriteMb == 0.0)
    }
  }

  test("a job is billed to the innermost span and to every enclosing span") {
    withLedger { l =>
      l.span("outer") {
        l.span("inner")(Main.consume(spark.range(0, 10, 1, 2).toDF()))
        Main.consume(spark.range(0, 10, 1, 2).toDF())
      }
      l.drain()
      assert(l.jobsOf(l.named("inner")).size == 1)
      assert(l.jobsOf(l.named("outer")).size == 2)
    }
  }

  test("self time is a span's wall time minus its direct children's") {
    withLedger { l =>
      l.span("root") {
        Thread.sleep(30)
        l.span("a") { Thread.sleep(40); l.span("a1")(Thread.sleep(20)) }
        l.span("b")(Thread.sleep(40))
      }
      val Seq(root, a, a1, b) = Seq("root", "a", "a1", "b").map(n => l.named(n).head)
      assert(a.parent == root.id && b.parent == root.id && a1.parent == a.id)
      def same(x: Double, y: Double) = assert(math.abs(x - y) < 1e-9, s"$x vs $y")
      same(l.selfTime(root), root.wallS - a.wallS - b.wallS)
      same(l.selfTime(a), a.wallS - a1.wallS)
      same(l.selfTime(a1), a1.wallS)
      assert(l.selfTime(root) >= 0.03 && l.selfTime(root) < a.wallS)
    }
  }

  test("time with no task running counts as driver-only") {
    withLedger { l =>
      val t0 = System.currentTimeMillis()
      Thread.sleep(50)
      val t1 = System.currentTimeMillis()
      assert(l.idleS(t0, t1) == (t1 - t0) / 1e3)
    }
  }
}
