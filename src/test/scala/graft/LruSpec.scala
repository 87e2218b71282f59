package graft

import graft.query.Lru
import org.scalatest.funsuite.AnyFunSuite

/** The query layer's one LRU (serving dfs/blocks/docs caches and the
  * query-result cache): budgets, order, absent keys and failed fetches. */
class LruSpec extends AnyFunSuite {

  /** `fetch` that records each call's keys and serves `src`. */
  private class Source[K, V](src: Map[K, V]) {
    val calls = scala.collection.mutable.ArrayBuffer[Seq[K]]()
    def apply(ks: Seq[K]): Map[K, V] = { calls += ks; src.filter(e => ks.contains(e._1)) }
  }

  test("entry budget: the oldest entries go first") {
    val lru = new Lru[Int, String](3)
    (1 to 4).foreach(i => lru.put(i, s"v$i"))
    assert(lru.size == 3 && lru.weight == 3)
    assert(lru.get(1).isEmpty && (2 to 4).forall(i => lru.get(i).contains(s"v$i")))
  }

  test("eviction order is access order: a read or a hit refreshes an entry") {
    val lru = new Lru[Int, String](3)
    (1 to 3).foreach(i => lru.put(i, s"v$i"))
    lru.get(1)
    lru.put(4, "v4")
    assert(lru.get(2).isEmpty && lru.get(1).contains("v1"))
    val src = new Source(Map(5 -> "v5"))
    assert(lru.getAll(Seq(3, 5))(src.apply) == Map(3 -> "v3", 5 -> "v5"))
    assert(src.calls == Seq(Seq(5)), "only the miss is fetched")
    // the hit refreshed 3; caching 5 evicted the eldest, 4
    assert(lru.get(3).contains("v3") && lru.get(4).isEmpty)
  }

  test("byte budget: weights add up, the eldest go until the total fits") {
    val lru = new Lru[String, Array[Byte]](10, _.fold(0L)(_.length.toLong))
    val src = new Source(Map("a" -> new Array[Byte](4), "b" -> new Array[Byte](4),
      "c" -> new Array[Byte](4), "big" -> new Array[Byte](11)))
    lru.getAll(Seq("a", "b"))(src.apply)
    assert(lru.weight == 8 && lru.size == 2)
    lru.getAll(Seq("c"))(src.apply)
    assert(lru.weight == 8 && lru.size == 2 && lru.get("a").isEmpty)
    // an entry over the whole budget is handed out, then evicted
    assert(lru.getAll(Seq("big"))(src.apply)("big").length == 11)
    assert(lru.weight == 0 && lru.size == 0)
    // re-putting a key replaces its weight
    lru.put("a", new Array[Byte](2)); lru.put("a", new Array[Byte](3))
    assert(lru.weight == 3 && lru.size == 1)
  }

  test("absent keys are cached: a repeat does not fetch again") {
    val lru = new Lru[Int, String](10)
    val src = new Source(Map(1 -> "one"))
    assert(lru.getAll(Seq(1, 2))(src.apply) == Map(1 -> "one"))
    assert(lru.getAll(Seq(1, 2))(src.apply) == Map(1 -> "one"))
    assert(src.calls == Seq(Seq(1, 2)))
    assert(lru.size == 2 && lru.get(2).isEmpty)
    // an absent key weighs what `weigh(None)` says: nothing, on a byte budget
    val bytes = new Lru[Int, Array[Byte]](10, _.fold(0L)(_.length.toLong))
    bytes.getAll(Seq(7))(_ => Map.empty)
    assert(bytes.size == 1 && bytes.weight == 0)
  }

  test("a fetch that throws caches nothing, and the next call fetches again") {
    val lru = new Lru[Int, String](10)
    lru.put(1, "one")
    val e = intercept[IllegalStateException](
      lru.getAll(Seq(1, 2, 3))(_ => throw new IllegalStateException("read failed")))
    assert(e.getMessage == "read failed")
    assert(lru.size == 1 && lru.get(1).contains("one"))
    val src = new Source(Map(2 -> "two"))
    assert(lru.getAll(Seq(1, 2, 3))(src.apply) == Map(1 -> "one", 2 -> "two"))
    assert(src.calls == Seq(Seq(2, 3)))
  }
}
