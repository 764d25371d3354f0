package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Encoder, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The one replay harness behind every streaming fixture — the analog of
  * the reference feeding each benchmark query from one in-memory replay
  * of its input (test/benchmarks/applications/BenchmarkQuery.h:144-259),
  * a stream taken as a deterministic sequence of micro-batches.
  *
  *  - Session: [[apply]] runs the body on a CLONE of the caller's session
  *    carrying the overrides (state partitions, the RocksDB provider,
  *    `checkCorrectness`); the caller's conf is never written, so an
  *    abandoned attempt cannot leave another one misconfigured. The body
  *    builds every DataFrame from the clone it is handed, and anything it
  *    returns stays bound to the clone.
  *  - Source: a typed MemoryStream fed the fixture's chunk list
  *    ([[chunks]]), or a file stream the fixture built ([[drain]]).
  *  - Sink: a uniquely named memory sink, returned as a table of the clone,
  *    or an operator's own `start` ([[chunksInto]], [[drainInto]]).
  *  - Run loop: one `processAllAvailable` per chunk (a file stream: one in
  *    all), `stop()` in `finally`; a query the body left running is
  *    stopped when the body ends.
  */
object Replay {

  private val ids = new AtomicLong

  /** Runs `body` on a clone of `spark` with `partitions` shuffle (= state)
    * partitions: streaming state partitioning is fixed at a query's first
    * run, and every stateful operator writes state per partition per
    * micro-batch, so it is sized to the replay, not to the data.
    * `rocksDb` selects the RocksDB provider with changelog checkpointing
    * (the per-batch delta is committed, snapshots move off the commit
    * path); `transformWithState` needs it. `checkCorrectness = false`
    * disables Spark's global-watermark check for chained stateful stages
    * whose soundness the operator argues itself.
    */
  def apply[T](spark: SparkSession, partitions: Int = 4,
      rocksDb: Boolean = false, checkCorrectness: Boolean = true)(
      body: SparkSession => T): T = {
    val s = GraftColumnBridge.cloneSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    if (rocksDb) {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    }
    if (!checkCorrectness)
      s.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    try body(s)
    finally s.streams.active.foreach(_.stop())
  }

  /** `rows` as `k` contiguous chunks in order (fewer when `rows` is short). */
  def chunked[A](rows: collection.Seq[A], k: Int): Seq[Seq[A]] =
    rows.grouped(rows.length / k + 1).map(_.toSeq).toSeq

  /** Feeds `chunks` through a MemoryStream of `s` into `query`, drained
    * into a fresh memory sink; returns the sink as a table of `s`. Each
    * chunk is one micro-batch of one partition, unless `numPartitions`
    * splits every micro-batch round-robin (MemoryStream's own split).
    */
  def chunks[A: Encoder](s: SparkSession, chunks: Seq[Seq[A]],
      mode: String = "append", numPartitions: Option[Int] = None)(
      query: DataFrame => DataFrame): DataFrame = {
    val sink = sinkName()
    chunksInto(s, chunks, numPartitions)(in => memory(query(in), mode, sink))
    s.table(sink)
  }

  /** Feeds `chunks` through a MemoryStream of `s` into the query `start`
    * builds on it — an operator that owns its sink. Returns the stopped
    * query (its progress stays readable).
    */
  def chunksInto[A: Encoder](s: SparkSession, chunks: Seq[Seq[A]],
      numPartitions: Option[Int] = None)(
      start: DataFrame => StreamingQuery): StreamingQuery = {
    val ms = numPartitions.fold(MemoryStream[A](s))(MemoryStream[A](s, _))
    val q = start(ms.toDF())
    try chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    finally q.stop()
    q
  }

  /** Drains a file stream once into a fresh memory sink of its session. */
  def drain(stream: DataFrame, mode: String = "append"): DataFrame = {
    val sink = sinkName()
    drainInto(memory(stream, mode, sink))
    stream.sparkSession.table(sink)
  }

  /** Drains the file-stream query `start` starts — an operator that owns
    * its sink. Returns the stopped query.
    */
  def drainInto(start: => StreamingQuery): StreamingQuery = {
    val q = start
    try q.processAllAvailable()
    finally q.stop()
    q
  }

  private def memory(df: DataFrame, mode: String, sink: String): StreamingQuery =
    df.writeStream.outputMode(mode).format("memory").queryName(sink).start()

  private def sinkName(): String = s"replay_${ids.incrementAndGet()}"
}
