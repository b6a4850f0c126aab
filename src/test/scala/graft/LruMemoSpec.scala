package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.LruMemo

/** The bounded memo behind `graft.util.Artifacts`: overflow must evict
  * exactly the least-recently-used entry, never flush everything (a full
  * flush would re-pay every consumer's artifact compute at once).
  */
class LruMemoSpec extends AnyFunSuite {

  test("overflow evicts only the least-recently-used entry") {
    val memo = new LruMemo[String, String](3)
    Seq("a", "b", "c").foreach(k => memo.putIfAbsent(k, k.toUpperCase))
    assert(memo.size == 3)
    memo.putIfAbsent("d", "D")
    assert(memo.size == 3, "bound must hold after overflow")
    assert(memo.get("a").isEmpty, "oldest entry evicted")
    assert(memo.get("b").contains("B") && memo.get("c").contains("C") &&
      memo.get("d").contains("D"), "all other entries survive — no flush")
  }

  test("get bumps recency, so a recently-read old entry survives overflow") {
    val memo = new LruMemo[String, String](3)
    Seq("a", "b", "c").foreach(k => memo.putIfAbsent(k, k.toUpperCase))
    assert(memo.get("a").contains("A"))
    memo.putIfAbsent("d", "D")
    assert(memo.get("a").contains("A"), "read entry was most-recent, kept")
    assert(memo.get("b").isEmpty, "unread oldest entry evicted instead")
  }

  test("putIfAbsent keeps the first value and reports it to the loser") {
    val memo = new LruMemo[String, String](3)
    assert(memo.putIfAbsent("k", "first") == "first")
    assert(memo.putIfAbsent("k", "second") == "first")
    assert(memo.get("k").contains("first"))
    assert(memo.size == 1)
  }

  test("clear empties the memo") {
    val memo = new LruMemo[String, String](3)
    memo.putIfAbsent("a", "A")
    memo.clear()
    assert(memo.size == 0 && memo.get("a").isEmpty)
  }

  test("sustained churn never exceeds the bound and keeps the hot key") {
    val memo = new LruMemo[String, String](4)
    memo.putIfAbsent("hot", "H")
    (0 until 50).foreach { i =>
      memo.putIfAbsent(s"k$i", i.toString)
      assert(memo.get("hot").contains("H"), s"hot key evicted at $i")
      assert(memo.size <= 4)
    }
  }

  test("canonical caches are bounded: per-query dictionaries don't pin") {
    import graft.functions.{AcAutomaton, BpeCodec}
    // identity is shared for a repeated dictionary...
    val d = Seq("alpha", "beta")
    assert(AcAutomaton.canonical(d) eq AcAutomaton.canonical(Seq("alpha", "beta")))
    // ...and churning far past the cap neither fails nor pins: the
    // repeated dict keeps resolving (rebuilt after eviction at worst)
    (0 until AcAutomaton.CanonicalCap * 3).foreach { i =>
      AcAutomaton.canonical(Seq(s"gen$i", s"gen${i}x"))
    }
    assert(AcAutomaton.canonical(d)
      .countsOf(org.apache.spark.unsafe.types.UTF8String
        .fromString("alpha beta alpha")).numElements() == 2)
    val m = Seq(("a", "b"))
    assert(BpeCodec.canonical(m) eq BpeCodec.canonical(Seq(("a", "b"))))
    (0 until BpeCodec.CanonicalCap * 3).foreach { i =>
      BpeCodec.canonical(Seq((s"x$i", s"y$i")))
    }
  }
}
