package graftbench

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import scala.collection.mutable

/** Task totals of one job group, i.e. of one span. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val stageTaskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Attributes every finished task to the job group its job was started
  * under. Installed only for traced ops, so untraced ops run without it.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for (p <- Option(e.properties); id <- Option(p.getProperty("spark.jobGroup.id"))) {
      groups.getOrElseUpdate(id, new GroupStats).jobs += 1
      e.stageIds.foreach(stageGroup(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = groups.getOrElseUpdate(id, new GroupStats)
      val ms = e.taskInfo.duration
      s.tasks += 1
      s.taskMs += ms
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def take(id: String): GroupStats = synchronized {
    stageGroup.filterInPlace((_, g) => g != id)
    groups.remove(id).getOrElse(new GroupStats)
  }
}

/** One finished span: a public call into a layer plus the action that
  * materializes its output. Spans of one op run one after another (a later
  * span reads the memos an earlier one filled), so a span's self time is
  * its whole duration.
  */
final case class Span(name: String, ms: Double, rowsOut: Long, stats: GroupStats) {
  def taskP95Ms: Double = Stats.quantile(stats.taskMs.map(_.toDouble).toSeq, 0.95)

  /** The stage with the most task time: its task p95 over its task p50. */
  def heavyStageP95OverP50: Double =
    stats.stageTaskMs.values.maxByOption(_.sum) match {
      case Some(ms) =>
        val d = ms.map(_.toDouble).toSeq
        Stats.quantile(d, 0.95) / math.max(Stats.quantile(d, 0.5), 1.0)
      case None => 0.0
    }

  /** The metrics every span records, by name. */
  def metrics: Seq[(String, Double)] = Seq(
    s"$name.ms" -> ms,
    s"$name.rows_out" -> rowsOut.toDouble,
    s"$name.shuffle_write_mb" -> stats.shuffleWriteBytes / 1e6,
    s"$name.spill_mb" -> stats.spillBytes / 1e6,
    s"$name.tasks" -> stats.tasks.toDouble,
    s"$name.task_p95_ms" -> taskP95Ms)
}

final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  private var seq = 0

  def install(): Unit = sc.addSparkListener(listener)

  def remove(): Unit = {
    BenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  /** Runs `body` as the span `name`; `body` returns the rows it produced. */
  def span(name: String)(body: => Long): Span = {
    seq += 1
    val id = s"$name#$seq"
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val rows = try body finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    BenchAccess.drainListenerBus(sc)
    Span(name, ms, rows, listener.take(id))
  }
}

object Trace {
  /** Runs every operator of `df`'s plan and returns its row count. */
  def materialize(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Bytes of all persisted RDD blocks (memos and caches), in MB. */
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

object Stats {
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
