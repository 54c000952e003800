package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Decomposes a registered query's WARM per-call cost into driver phases
  * (guide §1/§7.3): DataFrame construction (pack code + table reads +
  * analysis), executedPlan (optimization + physical planning), and
  * execution (jobs: AQE stage materializations + the final toRdd count),
  * with the Spark jobs each call submits and each stage's task count.
  * The residual between execution wall and stage/task time is AQE
  * re-planning + scheduling — the per-query constant VERDICT r16 item 3
  * targets.
  *
  * `runMain graft.tools.GapProbe <sfDir> <query>[,query...] [reps]`
  */
object GapProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q_stochastic"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.get("graft-gapprobe")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageTasks.add(sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(l)
    for (name <- names if name == "jobconst") {
      for (n <- Seq(1, 4, 16, 32); r <- 1 to reps) {
        val t0 = System.nanoTime()
        spark.sparkContext.parallelize(1 to n, n).count()
        println(f"JOB tasks=$n%3d rep=$r ${(System.nanoTime() - t0) / 1e6}%7.1f ms")
      }
      // one shuffle job: groupBy over a tiny range (AQE path)
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        spark.range(1000).groupBy(org.apache.spark.sql.functions.col("id") % 7)
          .count().queryExecution.toRdd.count()
        println(f"SHUF rep=$r ${(System.nanoTime() - t0) / 1e6}%7.1f ms")
      }
    }
    for (name <- names if name.startsWith("table:")) {
      val t = name.stripPrefix("table:")
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        val df = spark.read.parquet(s"$d/$t.parquet")
        val t1 = System.nanoTime()
        df.queryExecution.analyzed
        val t2 = System.nanoTime()
        println(f"READ $t rep=$r read=${(t1 - t0) / 1e6}%7.1f ms " +
          f"analyze=${(t2 - t1) / 1e6}%7.1f ms")
      }
    }
    for (name <- names if !name.startsWith("table:")) {
      val fn = SparkEntry.queries(name)
      fn(spark, d).queryExecution.toRdd.count() // memo fill + codegen
      fn(spark, d).queryExecution.toRdd.count()
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        val df = fn(spark, d)
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.executedPlan // forces analysis+optimization+physical planning
        val t2 = System.nanoTime()
        jobs.set(0)
        stageTasks.clear()
        qe.toRdd.count()
        val t3 = System.nanoTime()
        Thread.sleep(200)
        val tasks = stageTasks.toArray.mkString(",")
        println(f"GAP $name rep=$r construct=${(t1 - t0) / 1e6}%7.1f ms " +
          f"plan=${(t2 - t1) / 1e6}%7.1f ms exec=${(t3 - t2) / 1e6}%7.1f ms " +
          f"jobs=${jobs.get()}%3d total=${(t3 - t0) / 1e6}%7.1f ms tasks=$tasks")
      }
    }
    spark.stop()
  }
}
