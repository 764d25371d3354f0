package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingAsOf}

/** Pins StreamingAsOf's contract: micro-batch chunking is not load-bearing
  * (1-chunk and 8-chunk replays emit the identical pairing set), state
  * carries matches across batch boundaries, and timestamp ties pair
  * left-before-right (r_eu ≥ l_eu, the batch/DuckDB ASOF semantics).
  */
class StreamingAsOfSpec extends SparkTestBase {

  private def replay(rows: Seq[(Long, Long, Long, Int)], chunks: Int) =
    replayBatches(Replay.chunked(rows, chunks))

  // user 1: click(10) → purchase(20) → click(30) → purchase(40), plus a
  // tie at eu=50 (click and purchase same instant → must pair) and a
  // purchase-before-any-click user 2 (must emit nothing)
  private val rows = Seq(
    (1L, 10L, 100L, 0), (1L, 20L, 101L, 1), (1L, 30L, 102L, 0),
    (1L, 40L, 103L, 1), (1L, 50L, 104L, 0), (1L, 50L, 105L, 1),
    (2L, 15L, 200L, 1))
    .sortBy(r => (r._2, r._4, r._3))

  test("pairings are chunking-invariant and tie pairs left-before-right") {
    val expect = Set(
      (101L, 1L, 20L, 100L, 10L),  // first purchase → click @10
      (103L, 1L, 40L, 102L, 30L),  // second purchase → click @30 (state crossed batches)
      (105L, 1L, 50L, 104L, 50L))  // simultaneous click pairs (r_eu >= l_eu)
    for (chunks <- Seq(1, 3, 8)) {
      val got = replay(rows, chunks)
      assert(got == expect, s"chunks=$chunks: $got")
    }
  }

  /** Replay with an EXPLICIT batch split — the disorder cases need a
    * straggler pinned to a later micro-batch, which chunk-count splitting
    * can't express.
    */
  private def replayBatches(batches: Seq[Seq[(Long, Long, Long, Int)]]) =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, batches) { in =>
        StreamingAsOf.latestPrior(s, in.toDF("user_id", "eu", "event_id", "side")).toDF()
      }.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    }

  test("a straggler left older than the stored state cannot regress the pairing") {
    // click@30 lands in batch 1; the late click@10 straggles into batch 2
    // alongside purchase@40. Unguarded state would let click@10 overwrite
    // click@30 and pair the purchase with the stale older left; the monotone
    // guard keeps click@30, matching the batch AsOfJoin over the full data.
    val got = replayBatches(Seq(
      Seq((1L, 30L, 102L, 0)),
      Seq((1L, 10L, 100L, 0), (1L, 40L, 103L, 1))))
    assert(got == Set((103L, 1L, 40L, 102L, 30L)), got.toString)
  }

  test("an equal-eu left straggler MAY refresh state (monotone, not strict)") {
    // ties on eu keep last-writer-wins across batches — the guard is <=, so
    // in-order replays are byte-identical to the unguarded behavior
    val got = replayBatches(Seq(
      Seq((1L, 30L, 102L, 0)),
      Seq((1L, 30L, 104L, 0), (1L, 40L, 103L, 1))))
    assert(got == Set((103L, 1L, 40L, 104L, 30L)), got.toString)
  }
}
