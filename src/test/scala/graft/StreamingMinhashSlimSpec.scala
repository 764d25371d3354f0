package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamingMinhashDedup}

/** The slim production form of StreamingMinhashDedup (doc-id-only band
  * state, doc-keyed shingle store, watermark TTL, bucket cap) versus the
  * dense executable contract: kept-set equality on the fixture corpus, and
  * the lifecycle behaviors the dense form does not have — bounded bucket
  * state, horizon eviction, at-least-once replay suppression.
  */
class StreamingMinhashSlimSpec extends SparkTestBase {

  /** [[replaySlim]] plus the PEAK total state rows the query reported
    * (max over progress of Σ stateOperators.numRowsTotal) — the skew probe:
    * under a dominant key, bounded state must show up in the metric, not
    * just in the output.
    */
  private def replaySlimMeasured(
      rows: Seq[(Long, String, Long)], chunks: Int,
      bucketCap: Int, horizon: String = "1 hour"): (Set[Long], Long) =
    Replay(spark, rocksDb = true, checkCorrectness = false) { s =>
      import s.implicits._
      val sink = s"mh_skew_${System.nanoTime}"
      val q = Replay.chunksInto(s, Replay.chunked(rows, chunks)) { in =>
        slim(s, in, 0.8, "10 seconds", horizon, bucketCap)
          .writeStream.outputMode("append")
          .format("memory").queryName(sink).start()
      }
      (s.table(sink).collect().map(_.getLong(0)).toSet,
       q.recentProgress.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L))
    }

  /** The slim form over a (doc_id, text, ts_us) stream. */
  private def slim(s: SparkSession, in: DataFrame, minJ: Double,
      delay: String, horizon: String, bucketCap: Int) =
    StreamingMinhashDedup.firstSeen(
        s, in.toDF("doc_id", "text", "us")
          .withColumn("ts", timestamp_micros(col("us"))),
        "doc_id", "text", 3, minJ,
        tsCol = Some("ts"), watermarkDelay = delay,
        horizon = horizon, bucketCap = bucketCap)
      .toDF("doc_id")

  /** Replay (doc_id, text, ts_us) rows in `chunks` micro-batches through
    * the slim form with TTL enabled; returns the kept doc-id set.
    */
  private def replaySlim(
      rows: Seq[(Long, String, Long)], chunks: Int, minJ: Double = 0.8,
      horizon: String = "1 hour", bucketCap: Int = 4096,
      delay: String = "10 seconds"): Set[Long] = {
    val got = Replay(spark, rocksDb = true, checkCorrectness = false) { s =>
      import s.implicits._
      Replay.chunks(s, Replay.chunked(rows, chunks)) { in =>
        slim(s, in, minJ, delay, horizon, bucketCap)
      }.collect().map(_.getLong(0))
    }
    assert(got.length == got.distinct.length,
      s"kept ids emitted more than once: ${got.groupBy(identity).filter(_._2.length > 1).keys}")
    got.toSet
  }

  private def replayDense(rows: Seq[(Long, String)], chunks: Int): Set[Long] =
    replayDenseSeq(Replay.chunked(rows, chunks)).toSet

  private def replayDenseSeq(batches: Seq[Seq[(Long, String)]]): Seq[Long] =
    Replay(spark, rocksDb = true) { s =>
      import s.implicits._
      Replay.chunks(s, batches) { in =>
        StreamingMinhashDedup
          .firstSeenDense(s, in.toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
          .toDF("doc_id")
      }.collect().map(_.getLong(0)).toSeq
    }

  test("slim (TTL mode) == dense on the fixture corpus, chunking-invariant") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val expect = replayDense(docs, chunks = 4)
    for (chunks <- Seq(1, 4))
      assert(replaySlim(docs.map(d => (d._1, d._2, 1000000L + d._1)), chunks) == expect,
        s"slim/dense kept sets diverge at chunks=$chunks")
  }

  private val baseText =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"

  test("bucketCap bounds hot-bucket state; capped bucket still catches its dups") {
    // 40 identical docs: all land in the same 32 buckets; with cap 4 the
    // buckets stop absorbing at 4 ids, yet every later copy still verifies
    // against the absorbed representatives and drops — state is bounded by
    // the cap, not the hot-bucket population
    val rows = (1L to 40L).map(i => (i, baseText, 1000000L + i))
    val got = replaySlim(rows, chunks = 5, bucketCap = 4)
    assert(got == Set(1L), s"got $got")
  }

  test("dominant-key load: horizon eviction keeps state window-bounded, not history-bound") {
    // 95%-dominant key: every dominant doc is the same boilerplate text —
    // the adversarial hot-LSH load. Two state populations: band-bucket id
    // LISTS (one state row per bucket; their length bound is the cap,
    // behaviorally pinned by the 40-identical-docs test above) and the
    // doc-keyed transient records, whose ROW count is what numRowsTotal
    // sees and whose bound must be the event-time horizon, not the stream
    // length. One doc per 30 s against a 10-minute horizon: doubling the
    // history (40 → 80 docs = 2 more horizons of dominant arrivals) must
    // NOT double peak state rows — while the no-eviction control (1-hour
    // horizon over the same 80 docs) shows the linear growth eviction is
    // removing.
    def mix(n: Int) = (1L to n.toLong).map { i =>
      val text = if (i % 20 == 5) s"novel $i " + baseText.reverse.take(30)
        else baseText
      (i, text, i * 30000000L) // 30 s apart
    }
    def run(n: Int, horizon: String) =
      replaySlimMeasured(mix(n), chunks = n / 10, bucketCap = 4, horizon = horizon)
    val (kept40, peak40) = run(40, "10 minutes")
    val (kept80, peak80) = run(80, "10 minutes")
    val (_, peak80NoEvict) = run(80, "1 hour")
    // dominance correctness: copies inside the horizon still drop — kept =
    // doc 1 + the periodic novels + the re-keeper after each eviction gap
    assert(kept40.contains(1L) && kept80.contains(1L))
    assert(kept80.size < 20, s"dedup broke under dominance: ${kept80.size} kept")
    // eviction bound: 2× the history, ≪ 2× the state
    assert(peak80 <= peak40 * 13L / 10L + 10L,
      s"state grew with history despite horizon eviction: $peak40 -> $peak80")
    // the control proves the metric sees what eviction removes
    assert(peak80NoEvict > peak80,
      s"no-evict control should exceed evicted peak: $peak80NoEvict vs $peak80")
  }

  test("horizon eviction: a doc older than the horizon stops suppressing near-dups") {
    // A at t=100s; filler at t=400s advances the watermark past A's horizon
    // (60s); B (identical to A) at t=401s then finds no index entry — kept.
    // The filler shares no shingles with A/B. With a 1h horizon instead, B
    // is dropped — proving the kept/evicted difference is the TTL, nothing
    // else. (Keys receiving data are exempt from event-time timers, so this
    // also exercises the on-access lazy expiry path.)
    val rows = Seq(
      (1L, baseText, 100000000L),
      (2L, "one two three four five six seven eight nine ten eleven twelve", 400000000L),
      (3L, baseText, 401000000L))
    assert(replaySlim(rows, chunks = 3, horizon = "1 minute", delay = "1 second")
      == Set(1L, 2L, 3L), "evicted doc must not suppress a later near-dup")
    assert(replaySlim(rows, chunks = 3, horizon = "1 hour", delay = "1 second")
      == Set(1L, 2L), "in-horizon near-dup must still drop")
  }

  test("dense form: a redelivered batch emits no doc twice and no partial-band resolution") {
    // the gather stage counts DISTINCT bands (bitmask): redelivery re-sends
    // all 32 verdicts for docs 1-3, which a plain counter would take as a
    // second full resolution (double emit) — the done marker suppresses it
    val batch = Seq(
      (1L, baseText),
      (2L, baseText + " mike"), // near-dup of 1 → dropped
      (3L, "one two three four five six seven eight nine ten eleven twelve"))
    val got = replayDenseSeq(Seq(batch, batch))
    assert(got.sorted == Seq(1L, 3L), s"got $got")
  }

  test("at-least-once redelivery: a replayed batch emits no doc twice") {
    val rows = Seq(
      (1L, baseText, 1000000L),
      (2L, baseText + " mike", 1001000L), // near-dup of 1 → dropped
      (3L, "one two three four five six seven eight nine ten eleven twelve", 1002000L))
    // the at-least-once source redelivers the whole batch
    val got = Replay(spark, rocksDb = true, checkCorrectness = false) { s =>
      import s.implicits._
      Replay.chunks(s, Seq(rows, rows)) { in =>
        StreamingMinhashDedup.firstSeen(
            s, in.toDF("doc_id", "text", "us")
              .withColumn("ts", timestamp_micros(col("us"))),
            "doc_id", "text", 3, 0.8, tsCol = Some("ts"))
          .toDF("doc_id")
      }.collect().map(_.getLong(0)).toSeq
    }
    assert(got.sorted == Seq(1L, 3L), s"got $got")
  }
}
