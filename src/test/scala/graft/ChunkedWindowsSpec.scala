package graft

import graft.backtest.Signals
import graft.operators.{Bars, ChunkedWindows}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB hot-spot fix (SURVEY §6): fills/signals via (symbol, chunk)
  * two-level windows — parity with the plain single-window forms, and a
  * plan assertion that no row-scale window partitions by symbol alone
  * (which would sort one symbol's entire history in a single task).
  */
class ChunkedWindowsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def bars = Bars.ohlcvCached(spark, TestSpark.Sf, 60)

  private def sigKey(df: DataFrame) =
    df.select("symbol", "bucket_ms", "rn", "signal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet

  test("chunked signals match the plain single-window signals row-for-row") {
    assert(sigKey(Signals.maCrossChunked(bars)) == sigKey(Signals.maCrossPlain(bars)))
    assert(sigKey(Signals.meanReversionChunked(bars)) == sigKey(Signals.meanReversionPlain(bars)))
    assert(sigKey(Signals.momentumChunked(bars)) == sigKey(Signals.momentumPlain(bars)))
  }

  test("the fused three-signal frame equals the single signal forms row-for-row") {
    val fused = Signals.allThreePlain(bars)
    for ((c, single) <- Seq("s_ma" -> Signals.maCrossPlain(bars),
        "s_mr" -> Signals.meanReversionPlain(bars), "s_mo" -> Signals.momentumPlain(bars))) {
      val part = sigKey(fused.withColumnRenamed(c, "signal"))
      assert(part.exists(_._4 != 0), s"$c never fires")
      assert(part == sigKey(single), c)
    }
  }

  test("no row-scale window partitions by symbol alone") {
    // chunked signals AND the production fill queries (gap runs are
    // two-level by default): every window ordered by a row-scale column
    // must carry a chunk column in its partitioning; the chunk-level
    // stitch windows (ordered by ck/_ck, #chunks rows) are exempt
    def check(df: DataFrame): Unit = {
      // analyzed (pre-cache-substitution) plan: when another suite has
      // already populated the gap-run/bars memo, the optimized plan
      // collapses the whole subtree into an InMemoryRelation leaf and
      // hides its windows
      val wins = df.queryExecution.analyzed.collect { case w: LWindow => w }
      assert(wins.nonEmpty)
      wins.foreach { w =>
        val orderCols = w.orderSpec.flatMap(_.child.references.toSeq.map(_.name))
        if (orderCols.exists(Set("bucket_ms", "rn", "pt")))
          assert(w.partitionSpec.size >= 2,
            s"row-scale window must be chunk-partitioned: ${w.partitionSpec}")
      }
    }
    check(Signals.maCrossChunked(bars))
    // the production fills read the memoized gap-run cache (whose
    // InMemoryRelation hides its windows) — check the builder itself
    check(graft.etl.Cleaner.gapRuns(bars))
  }

  test("property: chunked rn/prefix/lag equal plain windows on random streams and chunkings") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import spark.implicits._
    // integer-valued closes make every prefix sum exactly representable,
    // so ALL comparisons are exact equality — no tolerance to hide a
    // boundary bug. Tiny time chunks (1/3/7 ms over a 0..40 clock) force
    // empty and single-row chunks; c down to the maxLag minimum forces
    // ghost rows to dominate whole row-chunks.
    val genRows = for {
      nSyms <- Gen.choose(1, 3)
      n <- Gen.choose(0, 120)
      rows <- Gen.listOfN(n, for {
        s <- Gen.choose(0, nSyms - 1)
        t <- Gen.choose(0L, 40L)
        v <- Gen.choose(1, 999)
      } yield (s"S$s", t, v.toDouble))
    } yield rows.distinctBy(r => (r._1, r._2))
    val prop = Prop.forAll(genRows, Gen.oneOf(1L, 3L, 7L, 1000L), Gen.oneOf(7, 8, 64)) {
      (rows, chunkMs, c) =>
        rows.isEmpty || {
          val df = rows.toDF("symbol", "bucket_ms", "close")
          val b = ChunkedWindows.withRnAndPrefixSums(df, Seq(("ps", col("close"))), chunkMs = chunkMs)
          val t = ChunkedWindows.withBoundedLags(b, Seq(("ps", 7, "lp"), ("close", 3, "lc")), c = c)
          val w = Window.partitionBy("symbol").orderBy("bucket_ms")
          val plain = df
            .withColumn("rn_p", row_number().over(w))
            .withColumn("ps_p", sum(col("close")).over(
              w.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("lp_p", lag(col("ps_p"), 7).over(w))
            .withColumn("lc_p", lag(col("close"), 3).over(w))
          val j = t.join(plain, Seq("symbol", "bucket_ms")).collect()
          j.length == rows.length && j.forall { r =>
            def optD(n: String) =
              if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[Double](n))
            r.getAs[Int]("rn") == r.getAs[Int]("rn_p") &&
              r.getAs[Double]("ps") == r.getAs[Double]("ps_p") &&
              optD("lp") == optD("lp_p") && optD("lc") == optD("lc_p")
          }
        }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("tiny chunks: rn, prefix sums and lags stitch across many boundaries") {
    // hour chunks + 64-row chunks force the boundary machinery to fire
    // hundreds of times on the test stream
    val b = ChunkedWindows.withRnAndPrefixSums(
      bars, Seq(("ps", col("close"))), chunkMs = 3600000L)
    val t = ChunkedWindows.withBoundedLags(
      b, Seq(("ps", 7, "lp"), ("close", 3, "lc")), c = 64)
    val w = Window.partitionBy("symbol").orderBy("bucket_ms")
    val plain = bars
      .withColumn("rn_p", row_number().over(w))
      .withColumn("ps_p", sum(col("close")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lp_p", lag(col("ps_p"), 7).over(w))
      .withColumn("lc_p", lag(col("close"), 3).over(w))
      .select("symbol", "bucket_ms", "rn_p", "ps_p", "lp_p", "lc_p")
    val both = t.join(plain, Seq("symbol", "bucket_ms")).collect()
    assert(both.length == bars.count())
    both.foreach { r =>
      assert(r.getAs[Int]("rn") == r.getAs[Int]("rn_p"))
      val ps = r.getAs[Double]("ps"); val psP = r.getAs[Double]("ps_p")
      assert(math.abs(ps - psP) <= 1e-9 * math.max(1.0, math.abs(psP)),
        s"prefix sum drift: $ps vs $psP")
      // lags are exact copies (ghost rows), same null pattern
      assert(r.isNullAt(r.fieldIndex("lc")) == r.isNullAt(r.fieldIndex("lc_p")))
      if (!r.isNullAt(r.fieldIndex("lc")))
        assert(r.getAs[Double]("lc") == r.getAs[Double]("lc_p"))
      assert(r.isNullAt(r.fieldIndex("lp")) == r.isNullAt(r.fieldIndex("lp_p")))
      if (!r.isNullAt(r.fieldIndex("lp"))) {
        val lp = r.getAs[Double]("lp"); val lpP = r.getAs[Double]("lp_p")
        assert(math.abs(lp - lpP) <= 1e-9 * math.max(1.0, math.abs(lpP)))
      }
    }
  }
}
