package graft

import org.apache.spark.sql.functions._
import graft.operators.Joins
import graft.streaming.{Replay, StreamingThetaJoin}

/** Streaming row-windowed θ-join ≡ the batch [[Joins.rowWindowedTheta]]
  * contract on the same interleave, including across micro-batch boundaries
  * (ring state survives the batch cut) and for pairs in BOTH membership
  * branches (asymmetric window sizes exercise each).
  */
class StreamingThetaRowSpec extends SparkTestBase {

  // (ord, left, key, ts, id): interleaved arrivals, keys chosen so matches
  // span batch cuts and both window branches bind (leftRows=2, rightRows=1).
  private val rows = Seq(
    (1L, true, 10L, 100L, 1L),   // L1 key10
    (2L, false, 10L, 101L, 2L),  // R2 key10: L1 in last-2 lefts -> pair(1,2)
    (3L, true, 20L, 102L, 3L),   // L3 key20
    (4L, true, 10L, 103L, 4L),   // L4 key10: R2 NOT in last-1 rights? it is (only right) -> pair(4,2)
    (5L, true, 10L, 104L, 5L),   // L5 key10: R2 still the last right -> pair(5,2)
    (6L, false, 20L, 105L, 6L),  // R6 key20: lefts ring now [L4,L5] (L3 evicted) -> no key20 pair
    (7L, false, 10L, 106L, 7L),  // R7 key10: lefts ring [L4,L5] -> pairs (4,7),(5,7)
    (8L, true, 20L, 107L, 8L))   // L8 key20: rights ring [R7] (R6 evicted) -> no pair

  private def streamed(chunks: Int): Set[(Long, Long, Long)] =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, Replay.chunked(rows, chunks)) { in =>
        StreamingThetaJoin.rowWindowedTheta(
          s, in.toDF("ord", "left", "key", "ts", "id"),
          leftRows = 2, rightRows = 1).toDF()
      }.select("key", "l_id", "r_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

  private lazy val batchPairs: Set[(Long, Long, Long)] = {
    import spark.implicits._
    val l = rows.filter(_._2).toDF("ord", "left", "key", "ts", "id")
      .select(col("ord").as("l_ord"), col("key"), col("id").as("l_id"))
    val r = rows.filterNot(_._2).toDF("ord", "left", "key", "ts", "id")
      .select(col("ord").as("r_ord"), col("key").as("r_key"), col("id").as("r_id"))
    Joins.rowWindowedTheta(l, r, col("l_ord"), col("r_ord"),
        leftRows = 2, rightRows = 1, col("key") === col("r_key"))
      .select("key", "l_id", "r_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
  }

  test("hand-checked pair set (both branches + evictions bind)") {
    assert(batchPairs ==
      Set((10L, 1L, 2L), (10L, 4L, 2L), (10L, 5L, 2L), (10L, 4L, 7L), (10L, 5L, 7L)))
  }

  test("streaming == batch, single batch") {
    assert(streamed(1) == batchPairs)
  }

  test("streaming == batch across micro-batch cuts (ring state survives)") {
    assert(streamed(4) == batchPairs)
  }
}
