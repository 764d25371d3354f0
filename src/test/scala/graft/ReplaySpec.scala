package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Replay

/** [[Replay]] scopes every override to a clone of the caller's session:
  * the caller's conf is never written (not even while a replay runs), a
  * body that fails mid-feed leaves no query running, and the overrides
  * reach the query they were set for.
  */
class ReplaySpec extends SparkTestBase {
  import spark.implicits._

  private val partitionsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def callerView: (String, Option[String]) =
    (spark.conf.get(partitionsKey), spark.conf.getOption(providerKey))

  test("the caller's partitions and provider are unchanged during and after the run") {
    val before = callerView
    assert(before._1 != "7" && !before._2.contains(rocksDb),
      s"caller already carries the overrides: $before")
    val duringBatches = ArrayBuffer.empty[(String, Option[String])]
    val seenByQuery = ArrayBuffer.empty[(String, String)]
    val duringBody = Replay(spark, partitions = 7, rocksDb = true) { s =>
      Replay.chunksInto(s, Seq(Seq(1L, 2L), Seq(3L))) { in =>
        in.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          duringBatches += callerView
          seenByQuery += ((b.sparkSession.conf.get(partitionsKey),
            b.sparkSession.conf.get(providerKey)))
          ()
        }.start()
      }
      callerView
    }
    assert(duringBatches.size == 2, s"one callback per chunk: $duringBatches")
    assert(duringBatches.forall(_ == before), s"caller conf moved mid-run: $duringBatches")
    assert(duringBody == before, s"caller conf moved inside the body: $duringBody")
    assert(callerView == before, s"caller conf moved after the run: $callerView")
    assert(seenByQuery.forall(_ == ("7", rocksDb)),
      s"the overrides did not reach the query: $seenByQuery")
  }

  test("a body that throws mid-feed leaves no active query and the caller's conf unchanged") {
    val before = spark.conf.getAll
    var clone: SparkSession = null
    val failed = intercept[Exception] {
      Replay(spark, partitions = 3, rocksDb = true, checkCorrectness = false) { s =>
        clone = s
        Replay.chunks(s, Seq(Seq(1L), Seq(2L), Seq(3L))) { in =>
          in.select(when(col("value") === 2L, raise_error(lit("chunk 2 fails")))
            .otherwise(col("value")).as("v"))
        }
      }
    }
    assert(failed.getMessage.contains("chunk 2 fails"), failed.getMessage)
    assert(spark.streams.active.isEmpty && clone.streams.active.isEmpty)
    assert(spark.conf.getAll == before)

    // a query the body started itself is stopped when the body throws
    intercept[IllegalStateException] {
      Replay(spark, rocksDb = true) { s =>
        clone = s
        s.readStream.format("rate").load()
          .writeStream.format("memory").queryName(s"replay_rate_${System.nanoTime}")
          .start()
        throw new IllegalStateException("body fails with a query running")
      }
    }
    assert(spark.streams.active.isEmpty && clone.streams.active.isEmpty)
    assert(spark.conf.getAll == before)
  }

  test("a 16-partition override reaches the state operator") {
    val parts = Replay(spark, partitions = 16) { s =>
      Replay.chunksInto(s, Seq(Seq(1L, 2L, 3L), Seq(4L))) { in =>
        in.groupBy((col("value") % 2).as("k")).count()
          .writeStream.outputMode("complete").format("memory")
          .queryName(s"replay_parts_${System.nanoTime}").start()
      }.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq
    }
    assert(parts == Seq(16L), s"state operator partitions: $parts")
    assert(spark.conf.get(partitionsKey) != "16")
  }
}
