package graft

import org.apache.spark.sql.functions._
import graft.streaming.Replay

/** The watermark late-data contract, pinned explicitly: a row older than
  * the current watermark is DROPPED by a stateful aggregation (surfaced in
  * numRowsDroppedByWatermark, absent from results) — the semantics every
  * q_stream_* oracle's "window end <= max event time" filter relies on
  * implicitly. Fails loudly if a Spark upgrade changes drop accounting.
  */
class LateDataSpec extends SparkTestBase {

  test("rows behind the watermark are dropped and accounted") {
    import spark.implicits._
    val sink = s"late_${System.nanoTime}"
    // watermark -> 130 after the first chunk; then 30 is 100 s behind the
    // watermark: must drop
    val (dropped, w0) = Replay(spark, partitions = 2) { s =>
      val q = Replay.chunksInto(s, Seq(Seq(10L, 20L, 130L), Seq(30L, 250L))) { in =>
        in.toDF("sec")
          .select(timestamp_seconds(col("sec")).as("ts"))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "60 seconds"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
          .writeStream.outputMode("append").format("memory")
          .queryName(sink).start()
      }
      (q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum,
       s.table(sink).where(col("ws") === 0).select("n").collect().map(_.getLong(0)))
    }
    assert(dropped >= 1, s"expected >=1 dropped-by-watermark row, got $dropped")
    // window [0,60) emitted when watermark passed 60: counts 10,20 only —
    // the late 30 never joins it
    assert(w0.toSeq == Seq(2L), s"window [0,60) must hold exactly the on-time rows, got ${w0.toSeq}")
  }
}
