package graft

import graft.etl.Cleaner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Cleaner.iqrBounds` with a validity predicate and extra aggregates:
  * one pass over the unfiltered feed must give the bounds of the valid
  * rows and counts of all of them.
  */
class CleanerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val valid = col("price") >= 10.0 && col("price") <= 180.0

  private def byFiltered(ticks: DataFrame): Map[String, Row] =
    Cleaner.iqrBounds(ticks, valid = valid, extra = Seq(count(lit(1)).as("n_raw")))
      .collect().map(r => r.getAs[String]("symbol") -> r).toMap

  test("a validity predicate gives the bounds of the pre-filtered feed; extra counts every row") {
    val ticks = Tables.ticks(spark, TestSpark.Sf)
    val got = byFiltered(ticks)
    val want = Cleaner.iqrBounds(ticks.filter(valid)).collect()
      .map(r => r.getAs[String]("symbol") -> r).toMap
    val rawN = ticks.groupBy("symbol").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty)
    assert(got.keySet == rawN.keySet)
    got.foreach { case (sym, r) =>
      assert(r.getAs[Long]("n_raw") == rawN(sym), sym)
      want.get(sym) match {
        case Some(w) =>
          assert(r.getAs[Double]("lo") == w.getAs[Double]("lo"), sym)
          assert(r.getAs[Double]("hi") == w.getAs[Double]("hi"), sym)
        case None => assert(r.isNullAt(r.fieldIndex("lo")) && r.isNullAt(r.fieldIndex("hi")), sym)
      }
    }
    // the defaults keep the plain bounds frame
    assert(Cleaner.iqrBounds(ticks).columns.toSeq == Seq("symbol", "lo", "hi"))
  }

  test("a symbol whose ticks are all invalid gets null bounds and no clean rows") {
    import spark.implicits._
    val ticks = Seq(
      ("A", 100.0), ("A", 101.0), ("A", 102.0), ("A", 103.0), ("A", 5.0), ("A", 500.0),
      ("B", 1.0), ("B", 2.0), ("B", 900.0))
      .toDF("symbol", "price")
    val got = byFiltered(ticks)
    val want = Cleaner.iqrBounds(ticks.filter(valid)).collect()
      .map(r => r.getAs[String]("symbol") -> r).toMap
    assert(want.keySet == Set("A"))
    assert(got("A").getAs[Double]("lo") == want("A").getAs[Double]("lo"))
    assert(got("A").getAs[Double]("hi") == want("A").getAs[Double]("hi"))
    assert(got("A").getAs[Long]("n_raw") == 6L && got("B").getAs[Long]("n_raw") == 3L)
    assert(got("B").isNullAt(got("B").fieldIndex("lo")) && got("B").isNullAt(got("B").fieldIndex("hi")))

    val bounds = Cleaner.iqrBounds(ticks, valid = valid, extra = Seq(count(lit(1)).as("n_raw")))
    val clean = ticks.filter(valid).join(broadcast(bounds), "symbol")
      .filter(col("price") >= col("lo") && col("price") <= col("hi"))
    assert(clean.filter(col("symbol") === "B").isEmpty)
    assert(clean.filter(col("symbol") === "A").count() == 4L)
  }

  /** The public fills compute over the frame they are given: a caller
    * that passes a fresh bars frame per batch must not pin every batch.
    */
  test("fillMissingMinutes caches nothing of the frames it is given") {
    val ticks = Tables.ticks(spark, TestSpark.Sf)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (1 to 3).foreach { batch =>
      val bars = graft.operators.Bars.ohlcv(ticks, 60).withColumn("close", col("close") + batch)
      assert(Cleaner.fillMissingMinutes(bars).collect().nonEmpty)
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"fills left ${added.size} persistent RDD(s): $added")
  }

  test("PortfolioOpt.covMatrix caches nothing of the frames it is given") {
    val ticks = Tables.ticks(spark, TestSpark.Sf)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (1 to 3).foreach { batch =>
      val bars = graft.operators.Bars.ohlcv(ticks, 3600).withColumn("close", col("close") + batch)
      assert(graft.backtest.PortfolioOpt.covMatrix(bars).collect().nonEmpty)
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"covMatrix left ${added.size} persistent RDD(s): $added")
  }
}
