package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The one span recorder: a span is a named block of driver code, and
  * every Spark job, stage and task started under the span's job group is
  * attributed to it. Probes and tests that count jobs or time stages read
  * a [[obs.Span]] instead of keeping a listener of their own.
  *
  * {{{
  * val (rows, s) = obs.span("bars")(df.count())
  * println(s"${s.jobs} jobs, ${s.tasks} tasks, ${s.wallMs} ms")
  * }}}
  *
  * Spans do not nest. The listener is installed on the first span of a
  * SparkContext and stays; engine paths never open a span.
  */
object obs {

  /** One stage of a span: its tasks' durations and its own wall time. */
  final case class Stage(id: Int, name: String, wallMs: Long, taskMs: Vector[Long],
                         peakTaskShuffleReadBytes: Long) {
    def tasks: Int = taskMs.size
    def p50Ms: Long = pct(taskMs, 0.50)
    def p95Ms: Long = pct(taskMs, 0.95)
    def maxMs: Long = taskMs.maxOption.getOrElse(0L)
  }

  /** The record of one finished span, stages in id (submission) order. */
  final case class Span(name: String, wallMs: Double, jobs: Int, stages: Seq[Stage],
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, outputBytes: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskP50Ms: Long = pct(stages.flatMap(_.taskMs), 0.50)
    def taskP95Ms: Long = pct(stages.flatMap(_.taskMs), 0.95)
    def peakTaskShuffleReadBytes: Long = stages.map(_.peakTaskShuffleReadBytes).maxOption.getOrElse(0L)
  }

  /** A registered query's call split into its driver phases: frame
    * construction (pack code, table reads, analysis), physical planning,
    * and execution, the only phase recorded as a span.
    */
  final case class Call(constructMs: Double, planMs: Double, exec: Span)

  /** Nearest-rank quantile of task durations. */
  private def pct(ms: Seq[Long], q: Double): Long =
    if (ms.isEmpty) 0L else { val s = ms.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }

  /** A stage's call site, unless that is the CompletableFuture frame an
    * adaptive (AQE) stage is submitted from: such a stage is named by its
    * RDDs' operator scopes, which tie it to plan nodes.
    */
  private def stageName(i: StageInfo): String = {
    val site = i.name.linesIterator.nextOption().getOrElse("")
    val scopes = if (site.contains("withThreadLocalCaptured")) Bridge.operatorScopes(i) else Nil
    if (scopes.isEmpty) site else scopes.mkString(", ")
  }

  private final class StageAcc {
    var name = ""
    var wallMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var peakRead = 0L
  }

  private final class GroupAcc {
    var jobs = 0
    val stages = mutable.TreeMap.empty[Int, StageAcc]
    var read, write, spill, output = 0L
  }

  /** Attributes each job, stage and task to the job group its job was
    * started under; events outside any group are dropped.
    */
  final class Listener private[obs] extends SparkListener {
    private val stageGroup = mutable.Map.empty[Int, String]
    private val groups = mutable.Map.empty[String, GroupAcc]

    private def stage(id: Int): Option[StageAcc] =
      stageGroup.get(id).map(g => groups.getOrElseUpdate(g, new GroupAcc).stages.getOrElseUpdate(id, new StageAcc))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      for (p <- Option(e.properties); g <- Option(p.getProperty("spark.jobGroup.id")) if g.startsWith(Prefix)) {
        groups.getOrElseUpdate(g, new GroupAcc).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stage(i.stageId).foreach { s =>
        s.name = stageName(i)
        s.wallMs = (for (c <- i.completionTime; t <- i.submissionTime) yield c - t).getOrElse(0L)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stage(e.stageId); info <- Option(e.taskInfo)) {
        s.taskMs += info.duration
        Option(e.taskMetrics).foreach { m =>
          val g = groups(stageGroup(e.stageId))
          val read = m.shuffleReadMetrics.totalBytesRead
          s.peakRead = math.max(s.peakRead, read)
          g.read += read
          g.write += m.shuffleWriteMetrics.bytesWritten
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          g.output += m.outputMetrics.bytesWritten
        }
      }
    }

    private[obs] def take(group: String, name: String, wallMs: Double): Span = synchronized {
      stageGroup.filterInPlace((_, g) => g != group)
      val g = groups.remove(group).getOrElse(new GroupAcc)
      val stages = g.stages.toSeq.map { case (id, s) => Stage(id, s.name, s.wallMs, s.taskMs.toVector, s.peakRead) }
      Span(name, wallMs, g.jobs, stages, g.read, g.write, g.spill, g.output)
    }
  }

  private val Prefix = "graft.obs:"
  private var installed: Option[(SparkContext, Listener)] = None
  private var seq = 0L

  /** The listener of `sc`, installed on first use and reused after. */
  def install(sc: SparkContext): Listener = synchronized {
    installed.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      installed = Some(sc -> l)
      l
    }
  }

  /** Runs `body` as the span `name` on the active session: sets a fresh
    * job group, times `body`, waits until the listener bus is empty and
    * returns `body`'s value with the span's record. A `body` that throws
    * rethrows after its record is dropped.
    */
  def span[T](name: String)(body: => T): (T, Span) = {
    val sc = SparkSession.active.sparkContext
    val l = install(sc)
    val group = synchronized { seq += 1; s"$Prefix$name#$seq" }
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    // a failed body still drains and takes its group, so nothing of it stays
    val v = scala.util.Try(try body finally sc.clearJobGroup())
    val ms = (System.nanoTime() - t0) / 1e6
    Bridge.drainListenerBus(sc)
    val s = l.take(group, name, ms)
    (v.get, s)
  }

  /** One call of a frame-building function, split by [[Call]]'s phases;
    * execution runs every operator of the plan without collecting rows.
    */
  def call(name: String)(build: => DataFrame): Call = {
    val t0 = System.nanoTime()
    val qe = build.queryExecution
    val t1 = System.nanoTime()
    qe.executedPlan
    val t2 = System.nanoTime()
    Call((t1 - t0) / 1e6, (t2 - t1) / 1e6, span(name)(qe.toRdd.count())._2)
  }
}
