package graft

import org.scalatest.funsuite.AnyFunSuite

/** The memo registry: one entry per (name, parts) key, built once, and
  * evicted exactly once by invalidateAll.
  */
class MemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  private def noop(v: Any): Unit = ()

  test("the same key returns the same instance and builds once") {
    var builds = 0
    def get() = Memo.shareWith[Object]("MemoSpec.once", spark, sf)(noop) {
      builds += 1
      new Object
    }
    val a = get()
    assert(get() eq a)
    assert(builds == 1)
  }

  test("two names over equal (session, dataset) stay separate entries") {
    val a = Memo.shareWith[String]("MemoSpec.a", spark, sf)(noop)("a")
    val b = Memo.shareWith[String]("MemoSpec.b", spark, sf)(noop)("b")
    assert((a, b) == ("a", "b"))
    assert(Memo.shareWith[String]("MemoSpec.a", spark, sf)(noop)("other") == "a")
  }

  test("a build may fill another entry of the registry") {
    val outer = Memo.shareWith[String]("MemoSpec.outer", spark, sf)(noop) {
      Memo.shareWith[String]("MemoSpec.inner", spark, sf)(noop)("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(Memo.contains("MemoSpec.inner", spark, sf))
    // the real nested pair: the shingle table's build reads the positional stream
    Memo.invalidateAll()
    val sh = operators.TextPack.shinglesCached(spark, sf)
    assert(Memo.contains("TextPack.posShingles", spark, sf))
    assert(operators.TextPack.shinglesCached(spark, sf) eq sh)
  }

  test("invalidateAll evicts each entry once, empties the registry, and a later call rebuilds") {
    Memo.invalidateAll()
    val evicted = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var builds = 0
    def get(name: String) = Memo.shareWith[String](name, spark, sf)(v => evicted(v) += 1) {
      builds += 1
      name
    }
    get("MemoSpec.x"); get("MemoSpec.y"); get("MemoSpec.x")
    val bars = operators.Bars.ohlcvCached(spark, sf, 60)
    Memo.invalidateAll()
    assert(evicted == Map("MemoSpec.x" -> 1, "MemoSpec.y" -> 1))
    assert(!Memo.contains("MemoSpec.x", spark, sf) && !Memo.contains("MemoSpec.y", spark, sf))
    assert(!Memo.contains("Bars.ohlcv", spark, sf, 60L))
    Memo.invalidateAll()
    assert(evicted == Map("MemoSpec.x" -> 1, "MemoSpec.y" -> 1), "an evicted entry must not evict again")
    get("MemoSpec.x")
    assert(builds == 3)
    assert(!(operators.Bars.ohlcvCached(spark, sf, 60) eq bars))
  }
}
