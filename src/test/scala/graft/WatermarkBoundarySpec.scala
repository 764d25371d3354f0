package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Replay

/** Pins the LATE-INPUT boundary the replay harnesses depend on, because
  * the two stateful operator families differ:
  *
  *  - a windowed AGGREGATE drops input by WINDOW CLOSURE — a row whose
  *    window is still open is kept even when its event time is at or
  *    below the current watermark;
  *  - transformWithState drops raw input AT-OR-BELOW the watermark,
  *    regardless of any window the processor tracks internally.
  *
  * Every TWS replay harness in the gate therefore chunks at a STRICT
  * time increase (a chunk-boundary tie would silently vanish), while
  * the windowed-agg twins may split anywhere. If a Spark upgrade moves
  * either predicate, this spec fails first — revisit the harness
  * convention in Fixtures and the funnel/NFA twins together.
  */
class WatermarkBoundarySpec extends SparkTestBase {
  import spark.implicits._

  test("windowed agg keeps open-window rows below the watermark; TWS drops at-or-below") {
    val w = 86400L
    val steps = Seq("view", "click", "buy")
    // batch 1 sets the watermark to 100; batch 2 probes the boundary:
    // key A's click AT the watermark, key B's strictly above (control),
    // key C's strictly below; batch 3 closes window 0
    val batches = Seq(
      Seq(("A", 100L, "view"), ("B", 100L, "view"), ("C", 100L, "view")),
      Seq(("A", 100L, "click"), ("B", 101L, "click"), ("C", 99L, "click")),
      Seq(("Z", 2 * w + 10L, "view")))

    def events(in: DataFrame) = in.toDF("u", "es", "ty")
      .withColumn("ts", timestamp_micros(col("es") * 1000000L))

    // TWS path: the live funnel — depth 2 iff the click survived
    val finDepths = Replay(spark, rocksDb = true) { s =>
      Replay.chunks(s, batches) { in =>
        graft.streaming.StreamingFunnel.userDepthLive(events(in), "ts",
          "u", "ty", steps, w)
      }.where(col("fin")).select("u", "depth").as[(String, Int)].collect().toMap
    }
    assert(finDepths == Map("A" -> 1, "B" -> 2, "C" -> 1),
      s"TWS must drop input at-or-below the watermark: $finDepths")

    // windowed-agg path: per-user event counts in the (still open at
    // batch 2) window — every probe row is kept
    val counts = Replay(spark) { s =>
      Replay.chunks(s, batches) { in =>
        events(in)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), s"$w seconds"), col("u"))
          .agg(count(lit(1)).as("n"))
      }.where(expr("unix_micros(window.start)") === 0L)
        .select("u", "n").as[(String, Long)].collect().toMap
    }
    assert(counts == Map("A" -> 2L, "B" -> 2L, "C" -> 2L),
      s"windowed agg must keep open-window rows below the watermark: $counts")
  }
}
