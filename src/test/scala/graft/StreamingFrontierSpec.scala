package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{Replay, StreamingFrontier}

/** StreamingFrontier politeness contract on hand-sized replays (the
  * q_stream_frontier oracle proves the corpus path): per-domain rounds
  * continue across micro-batches, within-batch arrivals are assigned in
  * ascending id order, and domains count independently.
  */
class StreamingFrontierSpec extends SparkTestBase {

  /** Replay (id, domain) tuples in the given chunks; returns
    * (id -> (domain, fetch_round)).
    */
  private def schedule(in: DataFrame): DataFrame =
    StreamingFrontier.schedule(in.toDF("id", "domain")
        .withColumn("ts", timestamp_micros((col("id") + 1L) * 1000000L))
        .withWatermark("ts", "0 seconds"), "id", "domain", "ts")

  private def replay(chunks: Seq[Seq[(Long, String)]]): Map[Long, (String, Long)] =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, chunks)(schedule).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    }

  test("rounds continue across micro-batches, per domain independently") {
    val r = replay(Seq(
      Seq((0L, "a.com"), (1L, "b.com")),
      Seq((2L, "a.com"), (3L, "a.com")),
      Seq((4L, "b.com"))))
    assert(r == Map(
      0L -> ("a.com", 1L), 1L -> ("b.com", 1L),
      2L -> ("a.com", 2L), 3L -> ("a.com", 3L),
      4L -> ("b.com", 2L)))
  }

  test("within one batch, a domain's arrivals are ordered by id") {
    val r = replay(Seq(Seq((9L, "a.com"), (2L, "a.com"), (5L, "a.com"))))
    assert(r == Map(2L -> ("a.com", 1L), 5L -> ("a.com", 2L),
      9L -> ("a.com", 3L)))
  }

  test("95%-dominant domain: politeness holds and state rows = |domains|, not |urls|") {
    // the crawl-frontier hot-key case: one domain owns 95% of the stream.
    // Round-robin correctness must hold for the long tail AND the per-key
    // state must stay ONE counter row per domain — numRowsTotal is pinned
    // to the domain count, so a dominant key skews COMPUTE to one
    // partition (inherent to keyed politeness) but never state.
    val urls = (0L until 200L).map(i =>
      (i, if (i % 20 == 5) s"tail${i % 40}.org" else "giant.com"))
    val sink = s"frontier_skew_${System.nanoTime}"
    val (got, peakState) = Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      val q = Replay.chunksInto(s, urls.grouped(50).toSeq) { in =>
        schedule(in).writeStream.outputMode("append")
          .format("memory").queryName(sink).start()
      }
      (s.table(sink).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))),
       q.recentProgress.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L))
    }
    val dominant = got.filter(_._2 == "giant.com").sortBy(_._1)
    assert(dominant.length == 190)
    // politeness: the dominant domain's rounds are exactly 1..190 in id order
    assert(dominant.map(_._3).toSeq == (1L to 190L),
      "dominant domain's rounds must stay a strict round-robin sequence")
    // tail domains each got their own independent 1..k sequence
    got.filter(_._2 != "giant.com").groupBy(_._2).foreach { case (d, rs) =>
      assert(rs.sortBy(_._1).map(_._3).toSeq == (1L to rs.length),
        s"tail domain $d rounds broken")
    }
    val nDomains = urls.map(_._2).distinct.size.toLong
    assert(peakState == nDomains,
      s"frontier state must be one row per domain: $peakState vs $nDomains")
  }

  test("each round contains at most one URL per domain (the politeness law)") {
    val r = replay(Seq(
      Seq((0L, "a.com"), (1L, "a.com"), (2L, "b.com")),
      Seq((3L, "b.com"), (4L, "a.com"))))
    val byRound = r.toSeq.groupBy { case (_, (d, round)) => (d, round) }
    assert(byRound.values.forall(_.size == 1), s"round collision: $r")
  }
}
