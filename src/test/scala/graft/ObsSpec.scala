package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `graft.obs` attributes each job, stage and task to the span it ran in. */
class ObsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sc = spark.sparkContext

  test("a span over a bare count records one job of four tasks and no shuffle") {
    val (n, s) = obs.span("count")(sc.parallelize(1 to 8, 4).count())
    assert(n == 8)
    assert(s.jobs == 1 && s.tasks == 4 && s.stages.size == 1)
    assert(s.shuffleReadBytes == 0 && s.shuffleWriteBytes == 0 && s.spillBytes == 0)
    assert(s.stages.head.tasks == 4 && s.wallMs > 0)
  }

  test("a span over a groupBy records its shuffle and a pinned job count") {
    val (rows, s) = obs.span("groupBy")(spark.range(1000).groupBy(col("id") % 7).count().collect())
    assert(rows.length == 7)
    assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0)
    // under AQE: the map stage's job, then the result job over the read
    assert(s.jobs == 2, s"groupBy span ran ${s.jobs} jobs")
    // AQE stage call sites are a CompletableFuture frame; the name comes
    // from the stage's operator scopes instead
    val names = s.stages.map(_.name)
    assert(names.forall(n => n.nonEmpty && !n.contains("withThreadLocalCaptured")), names)
  }

  test("consecutive spans attribute disjointly; jobs outside any span go to none") {
    val a = obs.span("a")(sc.parallelize(1 to 4, 2).count())._2
    sc.parallelize(1 to 5, 5).count()
    sc.setJobGroup("another", "not a span", interruptOnCancel = false)
    try sc.parallelize(1 to 6, 6).count() finally sc.clearJobGroup()
    val b = obs.span("b")(sc.parallelize(1 to 3, 3).count())._2
    assert((a.jobs, a.tasks) == (1, 2))
    assert((b.jobs, b.tasks) == (1, 3))
    assert(a.stages.map(_.id).intersect(b.stages.map(_.id)).isEmpty)
  }

  test("a span whose body throws rethrows, and the next span records only its own") {
    intercept[org.apache.spark.SparkException] {
      obs.span("fails")(sc.parallelize(1 to 4, 2).map(i => if (i == 4) sys.error("boom") else i).count())
    }
    val s = obs.span("after")(sc.parallelize(1 to 3, 3).count())._2
    assert((s.jobs, s.tasks) == (1, 3))
  }

  test("installing twice leaves one listener") {
    val l = obs.install(sc)
    assert(obs.install(sc) eq l)
    assert(ListenerBusAccess.listeners[obs.Listener](sc).size == 1)
  }
}
