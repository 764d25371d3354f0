package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{AggSpec, TimeWindows}

/** Structured Streaming façade: the reference is a *stream* engine
  * (in-order tuple streams, SURVEY §1.1); every batch operator here also runs
  * as a streaming query. Batch mode answers the DuckDB oracle; this module
  * answers the semantics: windows + watermarks + state.
  *
  * Source: the same `events` parquet replayed through the file stream source
  * (the analog of the reference's in-memory replay,
  * test/benchmarks/applications/BenchmarkQuery.h:144-259). In production the
  * source would be Kafka/rate — the transforms are source-agnostic.
  */
object Streams {

  /** Raw events.parquet layout with `ts` slotted to whatever physical type
    * the data drop uses (nanos-long or µs NTZ — see Tables.events). The file
    * stream source needs a declared schema, so probe the batch footer once.
    */
  def eventsRawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", tsType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))

  /** Streaming view of `events` with the same columns as Tables.events
    * (+ `es` epoch seconds). The file stream source requires a directory, so
    * the single parquet file is staged into a per-sfDir temp dir once.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsRawSchema(tsType))
      .parquet(stageDir(sfDir))
    graft.Tables.normalizeTs(raw)
      .withColumn("es", TimeWindows.epochSeconds(col("ts")))
  }

  private def stageDir(sfDir: String): String = {
    import java.nio.file._
    val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = Paths.get(sys.props("java.io.tmpdir"), "graft_stream", name)
    val src = Paths.get(sfDir, "events.parquet")
    val dst = dir.resolve("events.parquet")
    // Re-stage when the source file changed (the driver regenerates the
    // testdata between rounds — a stale copy may carry an older schema).
    // ANY mtime difference counts as changed, not just "source newer": a
    // regenerated file restored with cp -p / rsync -a / archive extraction
    // keeps its original (older) timestamp and a size match would otherwise
    // mask new content. If the source is missing but a staged copy exists,
    // keep serving the copy instead of throwing on Files.size(src).
    if (!Files.exists(src)) {
      require(Files.exists(dst),
        s"events source $src is missing and no staged copy exists at $dst")
    } else {
      val stale = !Files.exists(dst) ||
        Files.size(dst) != Files.size(src) ||
        Files.getLastModifiedTime(dst).compareTo(Files.getLastModifiedTime(src)) != 0
      if (stale) {
        Files.createDirectories(dir)
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
    dir.toString
  }

  /** Sliding/tumbling window aggregation on a stream: identical AggSpec
    * surface as the batch TimeWindows. With a watermark, append mode emits
    * each window once when it finalizes — the streaming analog of the
    * reference's complete-window forwarding (ResultHandler §3.1 step 5).
    */
  def windowAgg(
      stream: DataFrame,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[AggSpec],
      watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(stream)(w => stream.withWatermark("ts", w))
    val w = window(col("ts"), s"$sizeSec seconds", s"$slideSec seconds")
    in.groupBy(w +: keys.map(col): _*)
      .agg(aggs.head.toColumn, aggs.tail.map(_.toColumn): _*)
      .withColumn("ws", col("window.start").cast("long"))
      .select(col("ws") +: keys.map(col) ++: aggs.map(a => col(a.alias)): _*)
  }

  /** Pane-based sliding aggregation in streaming: tumbling gcd-pane partial
    * aggregation chained into a sliding-window merge over the pane column —
    * Spark 3.4+ chained stateful aggregations (append mode). Raw rows reduce
    * to |panes × keys| partials in stage 1; the stage-2 stateful aggregation
    * then expands those partials size/slide-fold and shuffles the expansion
    * (streaming state requires partitioning on (window, keys), so the batch
    * path's expansion-stays-local trick does not apply) — still a win
    * whenever rows-per-pane×key exceeds 1, which is the high-rate regime.
    */
  def windowAggPaned(
      stream: DataFrame,
      sizeSec: Long,
      slideSec: Long,
      keys: Seq[String],
      aggs: Seq[graft.operators.AggSpec],
      watermark: String): DataFrame = {
    val pane = TimeWindows.gcd(sizeSec, slideSec)
    val partials = aggs.flatMap(a => a.partialCols).distinct
    val level1 = stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$pane seconds") +: keys.map(col): _*)
      .agg(partials.head._2.as(partials.head._1),
           partials.tail.map { case (n, c) => c.as(n) }: _*)
    level1
      .groupBy(window(col("window"), s"$sizeSec seconds", s"$slideSec seconds") +:
        keys.map(col): _*)
      .agg(aggs.head.finalCol, aggs.tail.map(_.finalCol): _*)
      .withColumn("ws", col("window.start").cast("long"))
      .select(col("ws") +: keys.map(col) ++: aggs.map(a => col(a.alias)): _*)
  }

  /** Stream-stream windowed θ-join (reference ThetaJoin →
    * StreamingSymmetricHashJoinExec): watermarks on both sides bound the
    * join state; the time-range condition bounds pairing exactly like the
    * batch Joins.windowedTheta.
    */
  def windowedThetaJoin(
      left: DataFrame,
      right: DataFrame,
      leftTsCol: String,
      rightTsCol: String,
      windowSec: Long,
      theta: org.apache.spark.sql.Column,
      watermark: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(r,
      theta &&
        col(rightTsCol) >= col(leftTsCol) &&
        col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $windowSec SECONDS"),
      "inner")
  }
}
