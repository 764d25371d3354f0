package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingEmbedDedup}

/** Streaming embedding near-dup: the documented seen-not-kept drop rule
  * (chain case pinned), cell isolation, the state cap's degrade-don't-grow
  * contract, and batch-relation equivalence on the fixture table.
  */
class EmbedDedupStreamSpec extends SparkTestBase {

  private def replay(chunks: Seq[Seq[(Long, Long, Array[Float])]],
      minCos: Double, cap: Int = Int.MaxValue): Set[Long] =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, chunks) { in =>
        StreamingEmbedDedup.firstSeen(in.toDF("cell", "vec_id", "vec"), minCos, cap)
      }.select("vec_id").collect().map(_.getLong(0)).toSet
    }

  private def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("chain a~b, b~c, a!~c: c drops against the SEEN b (documented rule)") {
    // a=(1,0), b=(.8,.6) cos(a,b)=.8; c=(.28,.96): cos(b,c)=.8, cos(a,c)=.28
    val a = v(1, 0); val b = v(0.8, 0.6); val c = v(0.28, 0.96)
    val kept = replay(Seq(Seq((0L, 1L, a)), Seq((0L, 2L, b)), Seq((0L, 3L, c))),
      minCos = 0.5)
    // true sequential-kept dedup would resurrect c; the seen-rule drops it
    assert(kept == Set(1L))
  }

  test("cells isolate comparisons; within-batch order is by vec_id") {
    val x = v(1, 0)
    val kept = replay(Seq(Seq(
      (0L, 5L, x), (0L, 2L, x),   // same cell: min id 2 wins, 5 drops
      (7L, 9L, x))),              // identical vector, other cell: kept
      minCos = 0.99)
    assert(kept == Set(2L, 9L))
  }

  test("beyond the cap arrivals still compare against the retained prefix") {
    val x = v(1, 0); val y = v(0, 1)
    val kept = replay(Seq(
      Seq((0L, 1L, x)),          // fills the cap-1 state
      Seq((0L, 2L, y)),          // kept (orthogonal) but NOT stored (cap)
      Seq((0L, 3L, x)),          // still drops against retained vec 1
      Seq((0L, 4L, y))),         // duplicate of UNSTORED vec 2 → kept: the
                                  // documented recall degrade at the cap
      minCos = 0.5, cap = 1)
    assert(kept == Set(1L, 2L, 4L))
  }

  test("kept set equals the batch pair relation on the fixture table") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long"), col("vec_id").cast("long"),
        col("embedding"))
      .as[(Long, Long, Array[Float])].collect().sortBy(_._2).toSeq
    val kept = replay(rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq, 0.4)
    val pairs = graft.similarity.Ann
      .nearDupPairs(Tables.embeddings(spark, sfDir), "label", 0.4)
      .select("vid_b").collect().map(_.getLong(0)).toSet
    val expected = rows.map(_._2).toSet -- pairs
    assert(kept == expected)
  }
}
