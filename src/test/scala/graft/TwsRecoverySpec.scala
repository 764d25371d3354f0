package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingFirstSeen}

/** Crash-recovery for CUSTOM `transformWithState` state (the
  * [[ExactlyOnceSpec]] protocol, extended from native window state to the
  * user-defined state store): a checkpointed first-seen dedup query is
  * stopped mid-stream and restarted — under RocksDB + changelog
  * checkpointing — with a second batch that RE-SENDS documents already
  * deduped before the stop. If the custom ValueState did not survive the
  * restart, those re-sent fingerprints would re-emit; if replay were
  * mishandled, first-batch emissions would duplicate. Exactly-once must
  * hold across both.
  */
class TwsRecoverySpec extends SparkTestBase {

  test("transformWithState dedup state survives kill-and-restart (RocksDB + changelog)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tws").toString
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(srcDir))

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val part1 = docs.where(col("doc_id") <= mid)
    // second batch: the rest of the corpus PLUS re-sends of 50 first-batch
    // docs under new (higher) doc_ids — same text, same fingerprint. These
    // must be suppressed by state written BEFORE the restart.
    val resend = part1.orderBy("doc_id").limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("source"))
    val part2 = docs.where(col("doc_id") > mid).unionAll(resend)

    part1.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/part1")

    val schema = part1.schema
    def runOnce(s: SparkSession): Unit = {
      val in = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$srcDir/*")
        // +1 day so no event time touches the initial watermark value 0
        // (emitting AT the watermark is rejected, not just below it)
        .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
        .withWatermark("ts", "0 seconds")
      val out = StreamingFirstSeen.firstSeen(in, "text", "ts")
        .select("doc_id", "source", "n_tok")
      Replay.drainInto(out.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start())
    }

    Replay(spark, rocksDb = true) { s =>
      runOnce(s) // first half deduped, state checkpointed
      part2.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/part2")
      runOnce(s) // restart: re-sent fingerprints must hit surviving state
    }

    val got = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSeq
    assert(got.size == got.distinct.size, "a doc_id was emitted twice across restart")

    // ground truth honoring arrival order: fps of part1 keep their part1
    // min-doc_id; fps first seen in part2 keep part2's min-doc_id
    val fp = graft.functions.TextFunctions.fingerprintMd5(col("text"))
    val k1 = part1.select(fp.as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("keeper"))
    val k2 = part2.select(fp.as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("keeper"))
      .join(k1.select("fp"), Seq("fp"), "left_anti")
    val expected = k1.unionAll(k2).select("keeper").as[Long].collect().toSeq
    assert(got.sorted == expected.sorted,
      s"emitted keepers diverge from first-seen ground truth: " +
        s"got ${got.size}, expected ${expected.size}")
    // none of the re-sent copies leaked through
    assert(got.forall(_ < 1000000L), "a re-sent duplicate was emitted after restart")
  }
}
