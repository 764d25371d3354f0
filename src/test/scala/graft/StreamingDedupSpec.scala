package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingDedup}

/** Streaming exact dedup: only the first copy per normalized content passes,
  * across micro-batches, with fingerprint state keyed and watermark-evicted.
  */
class StreamingDedupSpec extends SparkTestBase {

  test("first copy per fingerprint passes; later copies across batches are dropped") {
    import graft.sources.Sources
    val (ms, df) = Sources.replay(spark)
    // event_type stands in for the document text; normalization makes
    // "  hello   WORLD " a duplicate of "hello world"
    val out = StreamingDedup.firstSeen(df, "event_type", "ts", "10 seconds")
      .select("event_id", "event_type")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("s_dedup").start()
    try {
      ms.addData(
        Sources.EventRow(1, 100, 1, "hello world", 1.0),
        Sources.EventRow(2, 101, 1, "hello world", 1.0), // dup in-batch
        Sources.EventRow(3, 102, 1, "other doc", 1.0))
      q.processAllAvailable()
      ms.addData(
        Sources.EventRow(4, 103, 1, "  hello   WORLD ", 1.0), // dup, normalized
        Sources.EventRow(5, 104, 1, "third doc", 1.0))
      q.processAllAvailable()
      val ids = spark.table("s_dedup").select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  // ---- near-dup (MinHash/LSH) ---------------------------------------------

  private def replayMinhash(
      rows: Seq[(Long, String)], chunks: Int, minJ: Double = 0.8): Set[Long] =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, Replay.chunked(rows, chunks)) { in =>
        graft.streaming.StreamingMinhashDedup
          .firstSeen(s, in.toDF("doc_id", "text"), "doc_id", "text", 3, minJ)
          .toDF("doc_id")
      }.collect().map(_.getLong(0)).toSet
    }

  // near-identical texts (one word swapped in a 12-word doc → Jaccard of
  // 3-shingles ≈ 0.54 — below τ=0.8; use a one-word SUFFIX change → shared
  // prefix shingles dominate). Build dups by appending one extra word: for a
  // w-word doc, shingles 10 vs 11, 10 shared → jac 10/11 ≈ 0.909 ≥ 0.8.
  private val baseText = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"

  test("near-dup is dropped across batches; unrelated doc passes; chunking-invariant") {
    val rows = Seq(
      (1L, baseText),
      (2L, baseText + " mike"),          // jac 10/11 ≈ 0.909 → dropped
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, baseText),                    // identical → dropped
      (5L, "tiny"))                      // < 3 words: no shingles, always kept
    for (chunks <- Seq(1, 2, 5)) {
      val got = replayMinhash(rows, chunks)
      assert(got == Set(1L, 3L, 5L), s"chunks=$chunks: $got")
    }
  }

  test("monotone contract: a doc similar only to an earlier DROPPED doc still drops") {
    // 2 is dropped because of 1; 4 is a copy of 2 — under greedy-kept-only
    // semantics 4 would be compared against kept docs only and could pass,
    // but the absorb-all contract (and the batch pair relation the oracle
    // computes) drops anything with ANY earlier similar doc
    val rows = Seq(
      (1L, baseText),
      (2L, baseText + " mike"),
      (4L, baseText + " mike"))
    val got = replayMinhash(rows, chunks = 3)
    assert(got == Set(1L), got.toString)
  }
}
