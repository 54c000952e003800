package graft

import graft.streaming.LocalCheckpointFileManager
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // null-on-div-by-zero (DuckDB-matching) semantics — see GraftSession
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // the same streaming checkpoint manager as GraftSession
      .config(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}
