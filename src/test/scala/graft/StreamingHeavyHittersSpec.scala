package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingHeavyHitters}

/** Streaming Misra-Gries: the eviction path's bounds (order-controlled
  * single-chunk replay — estimates are arrival-order dependent, so the spec
  * owns this path while the fixture owns the exact no-eviction path) and the
  * per-trigger snapshot/sequence contract.
  */
class StreamingHeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  private def run(chunks: Seq[Seq[(String, String)]], capacity: Int) =
    Replay(spark, rocksDb = true) { s =>
      Replay.chunks(s, chunks) { in =>
        StreamingHeavyHitters.heavyHitters(in.toDF("g", "i"), "g", "i", capacity)
      }.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    }

  test("eviction path: decrement-all keeps the majority item within MG bounds") {
    // capacity 2, one chunk, controlled order: a,a,a,b then c -> no slot,
    // global decrement (a:2, b:0 dropped), c not inserted. n=5, n/cap=2.5:
    // est(a)=2 within [true-n/cap, true] = [0.5, 3]; b and c correctly absent
    // as neither exceeds n/capacity.
    val rows = run(Seq(Seq(("g", "a"), ("g", "a"), ("g", "a"), ("g", "b"), ("g", "c"))), 2)
    assert(rows.toSet == Set(("g", 1L, "a", 2L)), rows.mkString(", "))
  }

  test("snapshots accumulate across triggers; seq tags each refresh") {
    val rows = run(Seq(
      Seq(("g", "x"), ("g", "y")),
      Seq(("g", "x")),
      Seq(("h", "z"))), 8)
    // trigger 1: g -> {x:1, y:1}; trigger 2: g -> {x:2, y:1}; trigger 3
    // touches only h (seq counters are per group)
    val g = rows.filter(_._1 == "g")
    assert(g.filter(_._2 == 1L).toSet == Set(("g", 1L, "x", 1L), ("g", 1L, "y", 1L)))
    assert(g.filter(_._2 == 2L).toSet == Set(("g", 2L, "x", 2L), ("g", 2L, "y", 1L)))
    assert(rows.filter(_._1 == "h").toSet == Set(("h", 1L, "z", 1L)))
  }

  test("groups are independent: one group's eviction never touches another") {
    val rows = run(Seq(
      Seq(("g", "a"), ("g", "b"), ("g", "c"), ("h", "k"))), 2)
    // g overflows (c triggers decrement of a:1,b:1 -> both drop, c uninserted)
    // while h's singleton survives untouched
    assert(rows.filter(_._1 == "g").isEmpty, rows.mkString(", "))
    assert(rows.filter(_._1 == "h").toSet == Set(("h", 1L, "k", 1L)))
  }
}
