package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingFirstSeen}

/** StreamingFirstSeen: first-seen set equals the batch min-doc_id keeper
  * rule regardless of micro-batch cut positions, including duplicates
  * arriving far apart (the case dropDuplicatesWithinWatermark's
  * horizon-coupled watermark cannot chain past) and out-of-order
  * within one batch.
  */
class StreamingFirstSeenSpec extends SparkTestBase {

  /** Replay (doc_id, text, source) tuples through firstSeen in the given
    * chunks; returns the kept doc_ids.
    */
  private def replay(chunks: Seq[Seq[(Long, String, String)]]): Set[Long] =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, chunks) { in =>
        StreamingFirstSeen.firstSeen(in.toDF("doc_id", "text", "source")
          .withColumn("ts", timestamp_micros((col("doc_id") + 1L) * 1000000L))
          .withWatermark("ts", "0 seconds"), "text", "ts")
      }.select("doc_id").collect().map(_.getLong(0)).toSet
    }

  test("duplicates across distant micro-batches are dropped; min doc_id kept") {
    val kept = replay(Seq(
      Seq((0L, "alpha text", "s1"), (1L, "beta text", "s1")),
      Seq((100L, "gamma text", "s2")),
      // same text as doc 0, three batches and 900 "seconds" later — a
      // delay-coupled horizon short enough for 60 s windows would have
      // evicted the state long before this arrives
      Seq((900L, "alpha text", "s2"), (901L, "delta text", "s1")),
      Seq((902L, "beta text", "s9"))))
    assert(kept == Set(0L, 1L, 100L, 901L))
  }

  test("within-batch duplicate resolves to min doc_id even out of order") {
    val kept = replay(Seq(
      Seq((7L, "same text", "a"), (3L, "same text", "b"), (5L, "same text", "c")),
      Seq((9L, "other text", "d"))))
    assert(kept == Set(3L, 9L))
  }

  test("streaming kept set equals the batch keeper rule on the fixture table") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val kept = replay(docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq)
    val expected = Tables.documents(spark, sfDir)
      .groupBy(graft.functions.TextFunctions.fingerprintMd5(col("text")).as("fp"))
      .agg(min("doc_id").as("k"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(kept == expected)
  }
}
