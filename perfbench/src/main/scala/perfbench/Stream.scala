package perfbench

import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Tables
import graft.operators.{AggFn, AggSpec}
import graft.sources.Sources
import graft.sources.Sources.EventRow
import graft.streaming.Streams

/** Stream workload: replicated events flow through `Sources.replay` into a
  * 3600/60 s sliding CNT+SUM by `event_type` (`Streams.windowAgg`, watermark
  * 0, append mode, RocksDB state with changelog checkpointing).
  *
  * Phase 1 is open loop: one generator thread adds a chunk every tick on a
  * fixed schedule and stamps it with its due time. Phase 2 is a closed-loop
  * saturation run of fixed-size triggers. Warm-up triggers run first and
  * count as set-up. Every emitted window is checked against a batch
  * computation over the same rows.
  */
object Stream {
  val SizeSec = 3600L
  val SlideSec = 60L

  def run(opts: Map[String, String]): Map[String, Any] = {
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val rate = opts("rate").toInt
    val tickMs = opts("tick_ms").toInt
    val satRows = opts("trigger_rows").toInt
    val warmTriggers = opts("warmup").toInt
    val openShare = opts("open_share").toDouble
    val minTriggers = opts("min_triggers").toInt

    val t0 = Clock.nowMs
    val spark = Main.session(work)
    val sc = spark.sparkContext
    val tSession = Clock.nowMs
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    session.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    session.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    val rows = load(session, opts("data"))
    val feed = new Feed(rows)
    val tLoaded = Clock.nowMs

    val spans = new Spans
    val probe = if (trace) Some(new Probe("streaming.sql.batchId")) else None
    probe.foreach(sc.addSparkListener)

    val (ms, df) = Sources.replay(session)
    val agg = Streams.windowAgg(df, SizeSec, SlideSec, Seq("event_type"),
      Seq(AggSpec(AggFn.Cnt, col("value"), "cnt"), AggSpec(AggFn.Sum, col("value"), "sum_value")),
      watermark = Some("0 seconds"))
    val types = rows.iterator.map(_.event_type).distinct.toSeq.sorted.zipWithIndex.toMap
    val sink = new WindowSink(types)
    val query = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$work/checkpoint-${UUID.randomUUID()}")
      .foreachBatch(sink.write _)
      .start()

    def add(chunk: Seq[EventRow]): Long = ms.addData(chunk).json().toLong

    // Set-up: cold triggers at the saturation size, then at the chunk size.
    val chunkRows = (rate.toLong * tickMs / 1000).toInt
    (1 to warmTriggers).foreach { _ => add(feed.take(satRows)); query.processAllAvailable() }
    (1 to warmTriggers).foreach { _ => add(feed.take(chunkRows)); query.processAllAvailable() }

    // Phase 1: open loop at a fixed offered rate.
    val openMs = seconds * 1000 * openShare
    val nChunks = (openMs / tickMs).toInt
    val chunks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstOpMs = Clock.nowMs + tickMs
    val gc0 = Main.gcMs
    val generator = new Thread(() => {
      var i = 0
      while (i < nChunks && feed.remaining > 0) {
        val due = firstOpMs + i.toLong * tickMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
        val c = feed.take(chunkRows)
        val a0 = Clock.nowMs
        val offset = add(c)
        val a1 = Clock.nowMs
        chunks += Map("due_ms" -> due, "add_start_ms" -> a0, "add_end_ms" -> a1,
          "offset" -> offset, "rows" -> c.size)
        if (trace) spans.add(s"chunk-$offset", -1, "sources.add", a0, a1)
        i += 1
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    query.processAllAvailable()
    val openEndMs = Clock.nowMs

    // Phase 2: closed-loop saturation with fixed-size triggers.
    val satMs = seconds * 1000 - (openEndMs - firstOpMs)
    val sat = mutable.ArrayBuffer.empty[Map[String, Any]]
    val s0 = Clock.nowMs
    while ((sat.size < minTriggers || Clock.nowMs - s0 < satMs) && feed.remaining > 0) {
      val c = feed.take(satRows)
      val a0 = Clock.nowMs
      val offset = add(c)
      query.processAllAvailable()
      sat += Map("offset" -> offset, "rows" -> c.size, "start_ms" -> a0, "end_ms" -> Clock.nowMs)
    }
    val measureEndMs = Clock.nowMs
    val gcMs = Main.gcMs - gc0

    // Let the final no-data batch emit every window the last watermark closed.
    val maxEs = rows(feed.position - 1).es
    val closeDeadline = Clock.nowMs + 20000
    while (!query.recentProgress.exists(p => watermarkSec(p) >= maxEs) && Clock.nowMs < closeDeadline)
      Thread.sleep(20)
    query.processAllAvailable()
    val progress = query.recentProgress.toSeq
    query.stop()

    val check = sink.check(Reference(rows, feed.position, types), watermarkSec(progress.last))
    if (trace) Probe.drain(sc)
    val batches = progress.map { p =>
      val b = progressRecord(p)
      probe.fold(b) { pr =>
        val c = pr.get(p.batchId.toString)
        traceTrigger(spans, p, c, sink.spanOf(p.batchId))
        b + ("counters" -> c.toMap)
      }
    }
    val record = Map[String, Any](
      "workload_kind" -> "stream",
      "jvm_start_ms" -> Main.jvmStartMs,
      "first_op_ms" -> firstOpMs,
      "setup_ms" -> Map("jvm" -> (t0 - Main.jvmStartMs), "session" -> (tSession - t0),
        "load" -> (tLoaded - tSession), "warmup" -> (firstOpMs - tLoaded)),
      "open_end_ms" -> openEndMs,
      "measure_end_ms" -> measureEndMs,
      "tick_ms" -> tickMs,
      "rate" -> rate,
      "chunks" -> chunks.toList,
      "saturation" -> sat.toList,
      "batches" -> batches,
      "sink" -> sink.batches,
      "check" -> check,
      "rows_pushed" -> feed.position,
      "jvm_gc_ms" -> gcMs,
      "spans" -> spans.all)
    spark.stop()
    record
  }

  private def load(session: SparkSession, data: String): Array[EventRow] = {
    import session.implicits._
    Tables.eventsWithEpoch(session, data)
      .select("event_id", "es", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(_.es)
  }

  private def watermarkSec(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(Instant.parse(_).getEpochSecond).getOrElse(Long.MinValue)

  private def progressRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Map(
      "batch_id" -> p.batchId,
      "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "start_offset" -> src.flatMap(s => Option(s.startOffset)).flatMap(_.toLongOption),
      "end_offset" -> src.flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption),
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> st.map(s => Map(
        "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "rows_removed" -> s.numRowsRemoved, "update_ms" -> s.allUpdatesTimeMs,
        "removal_ms" -> s.allRemovalsTimeMs, "commit_ms" -> s.commitTimeMs,
        "memory_bytes" -> s.memoryUsedBytes, "partitions" -> s.numShufflePartitions,
        "late_rows_dropped" -> s.numRowsDroppedByWatermark)),
      "sink_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L))
  }

  /** One trace per micro-batch: the trigger, its `durationMs` parts laid out
    * in execution order (Spark reports their lengths, not their starts), the
    * sink call, and the jobs and stages attributed to the batch. */
  private def traceTrigger(spans: Spans, p: StreamingQueryProgress, c: OpCounters,
      sinkSpan: Option[(Double, Double)]): Unit = {
    val id = s"trigger-${p.batchId}"
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val root = spans.add(id, -1, "streaming.trigger", t0, t0 + d.getOrElse("triggerExecution", 0.0))
    var t = t0
    var addBatch = root
    for ((part, name) <- Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
        "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
        "addBatch" -> "add_batch", "commitOffsets" -> "commit_offsets")) {
      val len = d.getOrElse(part, 0.0)
      val s = spans.add(id, root, s"streaming.$name", t, t + len)
      if (part == "addBatch") addBatch = s
      t += len
    }
    val sinkId = sinkSpan.map { case (a, b) => spans.add(id, addBatch, "sink.foreach_batch", a, b) }
    val jobIds = c.jobSpans.map { case (job, s, e) =>
      val parent = sinkId.filter(_ => sinkSpan.exists { case (a, b) => s >= a && e <= b }).getOrElse(addBatch)
      job -> spans.add(id, parent, "scheduler.job", s, e)
    }.toMap
    c.stageSpans.foreach { case (job, _, s, e) =>
      spans.add(id, jobIds.getOrElse(job, root), "scheduler.stage", s, e)
    }
  }
}

/** Hands out the input rows in order, cutting only between distinct event
  * seconds so no chunk starts at the watermark the previous one set. */
final class Feed(rows: Array[EventRow]) {
  private var pos = 0
  def position: Int = synchronized(pos)
  def remaining: Int = synchronized(rows.length - pos)
  def take(n: Int): Seq[EventRow] = synchronized {
    var end = math.min(rows.length, pos + n)
    while (end < rows.length && end > 0 && rows(end).es == rows(end - 1).es) end += 1
    val out = rows.slice(pos, end).toSeq
    pos = end
    out
  }
}

/** foreachBatch sink: collects each micro-batch's emitted windows and keeps
  * them for the final check, timing each call. */
final class WindowSink(types: Map[String, Int]) {
  private val windows = mutable.LongMap.empty[(Long, Double)]
  private var duplicates = 0L
  private val calls = mutable.ArrayBuffer.empty[(Long, Double, Double, Int)]

  def write(df: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.nowMs
    val got = df.collect()
    synchronized {
      got.foreach { r =>
        val key = Reference.key(r.getAs[Long]("ws"), types.getOrElse(r.getAs[String]("event_type"), -1))
        if (windows.contains(key)) duplicates += 1
        windows(key) = (r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))
      }
      calls += ((batchId, t0, Clock.nowMs, got.length))
    }
  }

  def spanOf(batchId: Long): Option[(Double, Double)] =
    synchronized(calls.find(_._1 == batchId).map(c => (c._2, c._3)))

  def batches: Seq[Map[String, Any]] = synchronized(calls.toList.map { case (b, s, e, n) =>
    Map("batch_id" -> b, "start_ms" -> s, "end_ms" -> e, "rows" -> n)
  })

  /** Compares the emitted windows with the reference windows that the final
    * watermark closed (window end at or before it). */
  def check(ref: Reference, watermarkSec: Long): Map[String, Any] = synchronized {
    val want = ref.windows.filter { case (k, _) => Reference.start(k) + Stream.SizeSec <= watermarkSec }
    val missing = want.keysIterator.count(k => !windows.contains(k))
    val extra = windows.keysIterator.count(k => !want.contains(k))
    val wrong = want.count { case (k, (cnt, cents)) =>
      windows.get(k).exists { case (c, s) =>
        c != cnt || math.abs(s - cents / 100.0) > 1e-9 * math.max(1.0, math.abs(cents / 100.0))
      }
    }
    Map("expected_windows" -> want.size, "emitted_windows" -> windows.size,
      "missing" -> missing, "extra" -> extra, "wrong" -> wrong, "duplicates" -> duplicates,
      "watermark_s" -> watermarkSec)
  }
}

/** Batch computation of the sliding windows over the first `n` rows: per
  * (window start, event type), the row count and the exact sum in cents
  * (values carry two decimals). Per-minute panes are summed over each
  * window's 60 panes with a running sum. */
final case class Reference(windows: mutable.LongMap[(Long, Long)])

object Reference {
  private val TypeSlots = 8

  def key(ws: Long, typeIdx: Int): Long = Math.floorDiv(ws, Stream.SlideSec) * TypeSlots + typeIdx
  def start(key: Long): Long = Math.floorDiv(key, TypeSlots.toLong) * Stream.SlideSec

  def apply(rows: Array[EventRow], n: Int, types: Map[String, Int]): Reference = {
    require(types.size < TypeSlots && n > 0)
    val perWindow = (Stream.SizeSec / Stream.SlideSec).toInt
    val first = Math.floorDiv(rows(0).es, Stream.SlideSec) - (perWindow - 1)
    val len = (Math.floorDiv(rows(n - 1).es, Stream.SlideSec) - first + 1).toInt
    val out = mutable.LongMap.empty[(Long, Long)]
    types.values.foreach { t =>
      val cnt = new Array[Long](len)
      val cents = new Array[Long](len)
      (0 until n).foreach { i =>
        val r = rows(i)
        if (types(r.event_type) == t) {
          val p = (Math.floorDiv(r.es, Stream.SlideSec) - first).toInt
          cnt(p) += 1
          cents(p) += Math.round(r.value * 100)
        }
      }
      var c = 0L
      var s = 0L
      // window starting at pane w covers panes w .. w + perWindow - 1
      (0 until len).foreach { w =>
        if (w == 0) (0 until math.min(perWindow, len)).foreach { p => c += cnt(p); s += cents(p) }
        else {
          c -= cnt(w - 1); s -= cents(w - 1)
          val last = w + perWindow - 1
          if (last < len) { c += cnt(last); s += cents(last) }
        }
        if (c > 0) out(key((first + w) * Stream.SlideSec, t)) = (c, s)
      }
    }
    Reference(out)
  }
}
