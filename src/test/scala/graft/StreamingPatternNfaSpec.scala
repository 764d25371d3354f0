package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Pattern, PatternNfa}
import graft.operators.Pattern.RunStep
import graft.streaming.{Replay, StreamingPatternNfa}

/** Streaming NFA pattern matching (streaming/StreamingPatternNfa.scala):
  * per-window overlap-capable contiguous matching through the shared
  * batch core — stream output must equal the batch operator run per
  * window bucket, unclosed windows stay silent, and closed-window state
  * evicts.
  */
class StreamingPatternNfaSpec extends SparkTestBase {
  import spark.implicits._

  private def events(in: DataFrame) = in.toDF("k", "es", "ty")
    .withColumn("ts", timestamp_micros(col("es") * 1000000L))

  test("per-window stream output equals the batch NFA; unclosed windows are silent") {
    val w = 86400L
    val steps = Seq(
      RunStep("ab", col("ty") === "a" || col("ty") === "b"),
      RunStep("b", col("ty") === "b"))
    // window 0: key 1 matches only through overlap (b consumed as step
    // 1 by one parse, step 2 by another); key 2 is broken by an x
    // between; window 1: key 1 matches; window 2: open — never emitted
    val rows = Seq(
      (1L, 100L, "b"), (1L, 110L, "b"),
      (2L, 100L, "a"), (2L, 105L, "x"), (2L, 110L, "b"),
      (1L, w + 50L, "a"), (1L, w + 60L, "b"),
      (9L, 2 * w + 10L, "x")
    ).sortBy(_._2)
    val sink = s"nfa_stream_${System.nanoTime}"
    // native-typed keys: the long key comes back as a long `u`
    val (got, lastStateRows) = Replay(spark, rocksDb = true) { s =>
      val q = Replay.chunksInto(s, rows.grouped(3).toSeq) { in =>
        StreamingPatternNfa.firstMatch(events(in), "ts", "k", steps, w)
          .writeStream.outputMode("append").format("memory")
          .queryName(sink).start()
      }
      (s.table(sink)
        .select("ws", "u", "m_start", "m_end")
        .as[(Long, Long, Long, Long)].collect().toSet,
       q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L))
    }
    // batch truth per closed window
    val all = rows.toDF("k", "es", "ty").withColumn("ws",
      expr(s"(es div $w) * $w"))
    val expected = Seq(0L, w).flatMap { ws =>
      PatternNfa.contiguousNfa(all.where(col("ws") === ws), "k", "es",
          steps, w)
        .as[(Long, Long, Long)].collect()
        .map(r => (ws, r._1, r._2, r._3))
    }.toSet
    assert(got == expected, s"stream $got vs batch $expected")
    assert(got == Set((0L, 1L, 100L, 110L), (w, 1L, w + 50L, w + 60L)),
      s"$got")
    // closed-window state evicted: only window 2's single key remains
    // (its event list + its pending timer)
    assert(lastStateRows >= 0 && lastStateRows <= 2,
      s"state must evict on close, $lastStateRows rows remain")
  }

  test("all-matches stream twin equals the batch enumeration per closed window") {
    val w = 86400L
    // same-predicate consecutive pair — the overlap-only enumeration
    val steps = Seq(
      RunStep("p1", col("ty") === "a"),
      RunStep("p2", col("ty") === "a"))
    val rows = Seq(
      // window 0: key 1 has a,a,a,a → two matches; key 2 a,x,a,a → one
      (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "a"), (1L, 130L, "a"),
      (2L, 200L, "a"), (2L, 210L, "x"), (2L, 220L, "a"), (2L, 230L, "a"),
      // window 1: key 1 one match
      (1L, w + 50L, "a"), (1L, w + 60L, "a"),
      // window 2: open — closes 0 and 1, never emits itself
      (9L, 2 * w + 10L, "x")
    ).sortBy(_._2)
    val got = Replay(spark, rocksDb = true) { s =>
      Replay.chunks(s, rows.grouped(4).toSeq) { in =>
        StreamingPatternNfa.allMatches(events(in), "ts", "k", steps, w)
      }.select("ws", "u", "match_no", "m_start", "m_end")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    }
    val all = rows.toDF("k", "es", "ty").withColumn("ws",
      expr(s"(es div $w) * $w"))
    val expected = Seq(0L, w).flatMap { ws =>
      PatternNfa.contiguousNfaAll(all.where(col("ws") === ws), "k", "es",
          steps, w)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (ws, r._1, r._2, r._3, r._4))
    }.toSet
    assert(got == expected, s"stream $got vs batch $expected")
    assert(got == Set(
      (0L, 1L, 1L, 100L, 110L), (0L, 1L, 2L, 120L, 130L),
      (0L, 2L, 1L, 220L, 230L), (w, 1L, 1L, w + 50L, w + 60L)), s"$got")
  }
}
