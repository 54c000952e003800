package graftbench

import graft.GraftSession
import org.apache.spark.BenchAccess
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side: runs one workload against generated inputs
  * and writes its raw measurements as JSON (summarized by run.py).
  *
  *   --workload market_cold|tick_stream
  *   --data DIR      the generated parquet tables
  *   --work DIR      scratch space (shards, checkpoints, check outputs)
  *   --seconds S     length of the timed window
  *   --trace 0|1     1: alternate untraced and traced ops, record spans
  *   --threads N     Spark task threads (also the shuffle partitions)
  *   --warm N        warm-up ops
  *   --trace-rounds N             traced ops whose counts are reported
  *   --stream-rows N              ticks per micro-batch
  *   --result FILE
  */
object Main {
  final case class Conf(
      workload: String, data: String, work: String, seconds: Double, trace: Boolean,
      threads: Int, warm: Int, traceRounds: Int, streamRows: Long,
      result: String)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m("threads").toInt, m("warm").toInt, m("trace-rounds").toInt,
      m("stream-rows").toLong, m("result"))
  }

  private def session(c: Conf): SparkSession = {
    val s = GraftSession.builder("graftbench")
      .master(s"local[${c.threads}]")
      .config("spark.sql.shuffle.partitions", c.threads.toString)
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now(): Double = System.nanoTime() / 1e6

  /** Off the clock before an op: let the cleaner free what the last ops
    * dropped now rather than during the next op, and let the listener bus
    * catch up.
    */
  private def settle(spark: SparkSession): Unit = {
    BenchAccess.drainCleaner(spark.sparkContext)
    BenchAccess.drainListenerBus(spark.sparkContext)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c)
    val w: Workload = c.workload match {
      case "market_cold" => new MarketCold(spark, c.data, c.work)
      case "tick_stream" => new TickStream(spark, c.data, c.work, c.streamRows)
      case other => sys.error(s"unknown workload $other")
    }
    var attempted = 0
    var failed = 0
    var nextOp = 0

    /** Runs the next op: timed inside, checked outside. */
    def runOp(): Double = {
      val i = nextOp
      nextOp += 1
      attempted += 1
      w.beforeOp(i)
      val t0 = now()
      val ok = try { w.op(i); true } catch { case NonFatal(e) => e.printStackTrace(); false }
      val ms = now() - t0
      if (!ok || !w.check(i)) failed += 1
      ms
    }

    w.setup()
    // a fixed number of warm-up ops, so every run starts timing at the same
    // point of the JIT's warm-up curve
    val warm = Seq.fill(c.warm) {
      if (w.settleBetweenOps) settle(spark)
      runOp()
    }

    val opMs = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val overheadMs = mutable.ArrayBuffer.empty[Double]
    val tracer = new Tracer(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val deadline = now() + c.seconds * 1000
    // a traced run goes on until it has `traceRounds` traced ops, so that
    // its counts always come from the same ops
    while (now() < deadline || (c.trace && traced.size < c.traceRounds)) {
      if (w.settleBetweenOps) settle(spark)
      val untracedMs = runOp()
      opMs += untracedMs
      if (c.trace) {
        if (w.settleBetweenOps) settle(spark)
        tracer.install()
        val i = nextOp
        nextOp += 1
        attempted += 1
        val t0 = now()
        val rec = try {
          val r = w.tracedOp(i, tracer)
          overheadMs += now() - t0 - untracedMs
          r ++ w.tracedExtras(tracer)
        } catch { case NonFatal(e) => e.printStackTrace(); failed += 1; Nil }
        tracer.remove()
        traced += rec.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    val peakRss = peakRssMb()

    // per-layer: times are medians over every traced op, everything else
    // over the first `traceRounds`, which are the same ops in every run
    val perLayer: Map[String, Double] = if (!c.trace) Map.empty else {
      val names = traced.flatMap(_.keys).distinct
      names.map { n =>
        val rounds = if (n.endsWith("ms")) traced else traced.take(c.traceRounds)
        n -> Stats.median(rounds.map(_.getOrElse(n, 0.0)).toSeq)
      }.toMap + ("trace.overhead_ms" -> Stats.median(overheadMs.toSeq))
    }

    val (finishFailed, oracles) = w.finish(s"${c.work}/check")
    failed = math.min(attempted, failed + finishFailed)
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
    val json = Json.obj(
      "workload" -> c.workload,
      "attempted" -> attempted,
      "failed" -> failed,
      "setup_s" -> setupS,
      "warm_op_ms" -> warm,
      "op_ms" -> opMs.toSeq,
      "rows_per_op" -> w.rowsPerOp,
      "peak_rss_mb" -> peakRss,
      "per_layer" -> perLayer,
      "oracles" -> oracles,
      "config" -> Map(
        "spark_threads" -> spark.sparkContext.defaultParallelism.toString,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "jit" -> jvm.filter(_.contains("Tiered")).mkString(" "),
        "gc" -> jvm.filter(a => a.startsWith("-XX:+Use") && a.endsWith("GC")).mkString(" ")))
    Files.write(Paths.get(c.result), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Just enough JSON for the result file. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)

  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}
