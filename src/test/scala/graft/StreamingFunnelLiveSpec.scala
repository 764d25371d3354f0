package graft

import org.apache.spark.sql.functions._
import graft.streaming.Replay

/** Progressive funnel emission (StreamingFunnel.userDepthLive): per-
  * trigger provisional depths with a snapshot+seq latest-wins contract,
  * CONVERGING to the closed-window emission; when the watermark passes a
  * window's end each key emits a terminal fin=true row (equal to the
  * closed-window depth) and its state is EVICTED — the live dashboard is
  * at most one trigger behind AND the query holds state only for open
  * windows.
  */
class StreamingFunnelLiveSpec extends SparkTestBase {
  import spark.implicits._

  private val steps = Seq("view", "click", "buy")

  test("provisional depths converge; finals equal the closed-window fold; state evicts") {
    val w = 86400L
    // user 1 converts across THREE triggers inside one window; user 2
    // anchors only; user 3's click lands before its anchor (stays 1);
    // plus a second window where user 1 stalls at depth 2, and a
    // third-window event whose watermark closes windows 0 AND 1
    // each chunk's min event time is STRICTLY above the previous chunk's
    // max: transformWithState drops input at-or-below the watermark, so a
    // chunk-boundary tie would silently vanish (the windowed-agg twin
    // keeps it — different operator, different late predicate)
    val chunks = Seq(
      Seq((1L, 100L, "view"), (2L, 150L, "view"), (3L, 50L, "click")),
      Seq((1L, 200L, "click"), (3L, 300L, "view")),
      Seq((1L, 400L, "buy"),
        (1L, w + 100L, "view"), (1L, w + 200L, "click")),
      Seq((9L, 2 * w + 10L, "view"))
    )
    val sink = s"funnel_live_${System.nanoTime}"
    // native-typed keys: the long user_id comes back as a long `u`
    val (rows, lastStateRows) = Replay(spark, rocksDb = true) { s =>
      val q = Replay.chunksInto(s, chunks) { in =>
        graft.streaming.StreamingFunnel.userDepthLive(
            in.toDF("user_id", "es", "event_type")
              .withColumn("ts", timestamp_micros(col("es") * 1000000L)),
            "ts", "user_id", "event_type", steps, w)
          .writeStream.outputMode("append").format("memory")
          .queryName(sink).start()
      }
      (s.table(sink)
        .select("ws", "u", "seq", "depth", "fin")
        .as[(Long, Long, Long, Int, Boolean)].collect(),
       q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L))
    }

    // per (ws, u): depths monotone non-decreasing in seq, fin last
    rows.groupBy(r => (r._1, r._2)).foreach { case (k, rs) =>
      val bySeq = rs.sortBy(_._3)
      val depths = bySeq.map(_._4)
      assert(depths.zip(depths.tail).forall { case (a, b) => a <= b },
        s"$k: provisional depths must be monotone, got ${depths.toSeq}")
      assert(bySeq.dropRight(1).forall(!_._5),
        s"$k: only the terminal row may be fin")
    }
    // user 1's window-0 progression is visible trigger by trigger
    val u1 = rows.filter(r => r._1 == 0L && r._2 == 1L && !r._5)
      .sortBy(_._3).map(_._4).toSeq
    assert(u1 == Seq(1, 2, 3), s"expected live 1→2→3, got $u1")

    // closed-window truth from the BATCH operator, per window
    val all = chunks.flatten.toDF("user_id", "es", "event_type")
      .withColumn("ws", expr(s"(es div $w) * $w"))
    def closedAt(ws: Long) =
      graft.operators.Funnel.userDepth(all.where(col("ws") === ws),
          "user_id", "es", "event_type", steps, w)
        .select("user_id", "depth").as[(Long, Int)].collect()
        .filter(_._2 >= 1)
        .map { case (u, d) => (ws, u) -> d }.toMap

    // FINAL rows exist exactly for the CLOSED windows (0 and 1 — the
    // watermark never passes window 2's end) and carry the closed depth
    val fins = rows.filter(_._5).map(r => (r._1, r._2) -> r._4).toMap
    assert(fins == closedAt(0L) ++ closedAt(w), s"finals $fins")

    // every fin row is its key's max-seq row: latest-wins still converges
    val latest = rows.groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.maxBy(_._3)._4 }
    for ((k, d) <- fins) assert(latest(k) == d, s"$k fin is not latest")

    // EVICTION: after windows 0 and 1 closed, only window 2's single key
    // may hold state (its FunnelState row + its pending timer row)
    assert(lastStateRows >= 0 && lastStateRows <= 2,
      s"closed-window state must be evicted, $lastStateRows rows remain")
  }
}
