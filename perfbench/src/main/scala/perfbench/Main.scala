package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run.
  *
  * Usage: Main <batch|stream|oracle> key=value ...
  *   work=<dir>      directory for Spark's scratch files and checkpoints
  *   data=<dir>      generated input tables (events.parquet, part.parquet)
  *   expected=<dir>  batch only: one DuckDB reference parquet per fixture
  *   fixtures=a,b    batch only: fixture names from SparkEntry.queries
  *   seconds=<n>     length of the measured phase
  *   trace=<0|1>     attach listeners and record spans
  *   out=<file>      where the raw run record (JSON) is written
  *
  * Every number in the record is measured here, outside the program's entry
  * points; `run.py` turns the record into metrics.
  */
object Main {
  val Cores = 4

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opts = args.tail.map { a =>
      val i = a.indexOf('=')
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    if (mode == "oracle") {
      Files.writeString(Paths.get(opts("out")), toJson(oracle(opts("fixtures").split(",").toSeq)))
      return
    }
    val record = mode match {
      case "batch" => Batch.run(opts)
      case "stream" => Stream.run(opts)
      case other => sys.error(s"unknown mode $other")
    }
    Files.writeString(Paths.get(opts("out")), toJson(record ++ processStats))
    // Threads Spark leaves behind must not hold the process open.
    System.exit(0)
  }

  /** Each fixture's DuckDB reference SQL, from `SparkEntry.oracleSql`. */
  private def oracle(fixtures: Seq[String]): Map[String, String] = {
    val sql = graft.SparkEntry.oracleSql
    val unknown = fixtures.filterNot(sql.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"fixtures without a reference: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    fixtures.map(f => f -> sql(f)).toMap
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM start time, epoch ms: the first instant of the process's set-up. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def processStats: Map[String, Any] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    Map("peak_rss_mb" -> hwmKb / 1024.0, "heap_peak_mb" -> heapPeak / 1048576.0)
  }
}
