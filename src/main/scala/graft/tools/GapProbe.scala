package graft.tools

import graft.{GraftSession, SparkEntry, obs}
import org.apache.spark.sql.functions.col

/** The per-query probe: calls registered queries and prints one record
  * per call from `graft.obs` — the driver phases (construct: pack code,
  * table reads and analysis; plan: optimization and physical planning;
  * exec: every job of the plan), the jobs, tasks, task p50/p95, shuffle,
  * spill and output bytes of exec, and one line per stage with its wall,
  * tasks and task p95. The residual between
  * exec wall and stage wall is AQE re-planning and scheduling, the
  * per-query constant of a warm call.
  *
  * Each query's first call (memo fill, codegen) prints as `call=first`;
  * a second, silent call finishes warming and `reps` warm calls follow.
  * The name `jobconst` instead times bare jobs of 1-32 tasks and one tiny
  * AQE shuffle job: the per-job scheduling constant.
  *
  * `runMain graft.tools.GapProbe <sfDir> <query>[,query...] [reps]`
  */
object GapProbe {
  private def report(name: String, call: String, c: obs.Call): Unit = {
    val e = c.exec
    println(f"GAP $name call=$call construct=${c.constructMs}%7.1f ms plan=${c.planMs}%7.1f ms " +
      f"exec=${e.wallMs}%7.1f ms jobs=${e.jobs}%3d tasks=${e.tasks}%4d " +
      f"task_p50/p95=${e.taskP50Ms}/${e.taskP95Ms} ms shuffle_r/w=${e.shuffleReadBytes / 1e3}%.1f/" +
      f"${e.shuffleWriteBytes / 1e3}%.1f kB spill=${e.spillBytes / 1e3}%.1f kB out=${e.outputBytes / 1e3}%.1f kB")
    e.stages.foreach { s =>
      println(f"  stage ${s.id}%4d wall=${s.wallMs}%5d ms tasks=${s.tasks}%3d " +
        f"p95=${s.p95Ms}%5d ms  ${s.name.take(90)}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GapProbe <sfDir> <query>[,query...] [reps]")
    val d = args(0)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.get("graft-gapprobe")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (name <- args(1).split(",").toSeq) {
      if (name == "jobconst") {
        for (n <- Seq(1, 4, 16, 32); r <- 1 to reps) {
          val s = obs.span(name)(spark.sparkContext.parallelize(1 to n, n).count())._2
          println(f"JOB tasks=$n%3d rep=$r ${s.wallMs}%7.1f ms")
        }
        for (r <- 1 to reps) {
          val s = obs.span(name)(
            spark.range(1000).groupBy(col("id") % 7).count().queryExecution.toRdd.count())._2
          println(f"SHUF rep=$r ${s.wallMs}%7.1f ms jobs=${s.jobs} tasks=${s.tasks}")
        }
      } else {
        val fn = SparkEntry.queries(name)
        def call(): obs.Call = obs.call(name)(fn(spark, d))
        report(name, "first", call())
        call()
        for (r <- 1 to reps) report(name, s"warm$r", call())
      }
    }
    spark.stop()
  }
}
