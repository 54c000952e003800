package graft.tools

import java.nio.file.Files

import scala.collection.mutable

import graft.{GraftSession, obs}
import graft.sources.{CorpusJob, MarketJob}
import org.apache.commons.io.FileUtils

/** Composed-job scale rehearsal: runs the two production jobs, CorpusJob
  * (read → clean → pack → mix → shard manifest) and MarketJob (validate →
  * clean → resample → backtest → report), over each labelled dataset dir
  * in turn, each stage as a `graft.obs` span. The last label also writes
  * its shards (the full `CorpusJob.run`, into a temporary directory that
  * is removed after). Prints one JSON line: per stage its rows, wall
  * seconds, tasks, shuffle MB and peak task shuffle read, plus the
  * heaviest stage by task time and the most skewed wide stage.
  *
  * Stage boundaries are cumulative: each stage re-rides the memos the
  * previous one filled, as the composed job does, so a stage's numbers
  * are the marginal cost of its layer. Pass criteria (BASELINE.md carries
  * the measured rows): wall time sublinear in scale per job, and max/p95
  * task duration <= ~1.5 within every wide stage.
  *
  * `runMain graft.tools.JobRehearsal <label>=<sfDir> [<label>=<sfDir> ...]`
  * (`tools/gen_scale.py` writes replica dirs).
  */
object JobRehearsal {
  private def maxOverP95(s: obs.Stage): Double =
    if (s.p95Ms > 0) s.maxMs.toDouble / s.p95Ms else 0.0

  private def stageJson(s: Option[obs.Stage]): String = s.fold("null") { s =>
    f"""{"stage":${s.id},"tasks":${s.tasks},"p50_ms":${s.p50Ms},"p95_ms":${s.p95Ms},""" +
      f""""max_ms":${s.maxMs},"max_over_p95":${maxOverP95(s)}%.2f}"""
  }

  def main(args: Array[String]): Unit = {
    val dirs = args.toSeq.map { a =>
      val Array(label, dir) = a.split("=", 2)
      label -> dir
    }
    require(dirs.nonEmpty, "usage: JobRehearsal <label>=<sfDir> [<label>=<sfDir> ...]")
    val spark = GraftSession.get("graft-jobrehearsal")
    // a reduce width at which a straggler task shows
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val out = mutable.LinkedHashMap.empty[String, String]

    def stage(label: String, name: String)(action: => Long): Unit = {
      val key = s"${label}_$name"
      val (rows, s) = obs.span(key)(action)
      // skew is judged within each wide stage (>= 16 tasks) with a p95 of
      // a second or more: a narrow stage has no meaningful p95, and a
      // 136 ms max on a 9 ms p95 is scheduler noise, not a straggler
      val worst = s.stages.filter(st => st.tasks >= 16 && st.p95Ms >= 1000).maxByOption(maxOverP95)
      out(key) = f"""{"rows":$rows,"sec":${s.wallMs / 1e3}%.2f,"n_tasks":${s.tasks},""" +
        s""""worst_wide_stage":${stageJson(worst)},""" +
        s""""heaviest_stage":${stageJson(s.stages.maxByOption(_.taskMs.sum))},""" +
        f""""shuffle_read_mb":${s.shuffleReadBytes / 1e6}%.1f,"shuffle_write_mb":${s.shuffleWriteBytes / 1e6}%.1f,""" +
        f""""peak_task_shuffle_read_mb":${s.peakTaskShuffleReadBytes / 1e6}%.1f}"""
      System.err.println(s"[jobrehearsal] $key -> ${out(key)}")
    }

    for ((label, d) <- dirs) {
      stage(label, "corpus_clean")(CorpusJob.cleanedDocs(spark, d).count())
      stage(label, "corpus_pack_mix")(CorpusJob.mixedLayout(spark, d).count())
      stage(label, "corpus_manifest")(CorpusJob.manifest(spark, d).collect().length.toLong)
      stage(label, "market_summary")(MarketJob.summary(spark, d).collect().length.toLong)
    }
    val (label, d) = dirs.last
    val shards = Files.createTempDirectory("graft_shards_").toFile
    try stage(label, "corpus_shard_write")(CorpusJob.run(spark, d, shards.getPath).count())
    finally FileUtils.deleteDirectory(shards)

    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val dirJson = obj(dirs.map { case (l, dir) => l -> s""""$dir"""" })
    println(s"""{"metric":"job_rehearsal","dirs":$dirJson,"stages":${obj(out)}}""")
    spark.stop()
  }
}
