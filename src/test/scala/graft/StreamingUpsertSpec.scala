package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotLake
import graft.streaming.{Replay, StreamingUpsert}

/** Streaming CDC apply: replayed batches fold into the snapshot with
  * latest-wins semantics, versions advance pointer-last, and a replayed
  * batchId is a no-op (the exactly-once contract).
  */
class StreamingUpsertSpec extends SparkTestBase {

  private def freshRoot(tag: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_snap_${tag}_${System.nanoTime}")
    f.getAbsolutePath
  }

  test("snapshot commit is pointer-last and immutable-per-version") {
    import spark.implicits._
    val root = freshRoot("base")
    SnapshotLake.commit(Seq((1L, "a", 0L)).toDF("id", "v", "ver"), root, 0L)
    assert(SnapshotLake.currentVersion(root).contains(0L))
    SnapshotLake.commit(Seq((1L, "b", 1L)).toDF("id", "v", "ver"), root, 1L)
    assert(SnapshotLake.currentVersion(root).contains(1L))
    assert(SnapshotLake.read(spark, root).head().getString(1) == "b")
    // the old version is still intact — readers mid-flight on v0 are safe
    assert(spark.read.parquet(SnapshotLake.versionPath(root, 0L))
      .head().getString(1) == "a")
  }

  test("CDC stream folds into the snapshot; final state equals batch merge") {
    import spark.implicits._
    val root = freshRoot("cdc")
    SnapshotLake.commit(
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("id", "v", "ver"),
      root, 0L)
    Replay(spark) { s =>
      Replay.chunksInto(s, Seq(
          Seq((2L, "B1", 1L), (2L, "B2", 2L), (9L, "z", 1L)),
          Seq((1L, "A", 5L), (9L, "z2", 3L)))) { in =>
        StreamingUpsert.start(in.toDF("id", "v", "ver"), root,
          "id", "ver", freshRoot("ckpt"))
      }
    }
    val got = SnapshotLake.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "A", 5L), (2L, "B2", 2L), (3L, "c", 0L), (9L, "z2", 3L)))
    assert(SnapshotLake.currentVersion(root).contains(2L))
  }

  test("a replayed batchId is skipped, not double-applied") {
    import spark.implicits._
    val root = freshRoot("replay")
    SnapshotLake.commit(Seq((1L, "a", 0L)).toDF("id", "v", "ver"), root, 0L)
    val batch = Seq((1L, "b", 1L)).toDF("id", "v", "ver")
    assert(StreamingUpsert.applyBatch(batch, root, "id", "ver", "w", 0L))
    val v1 = SnapshotLake.read(spark, root).collect().toSeq
    // recovery replays batch 0: must be a no-op
    assert(!StreamingUpsert.applyBatch(batch, root, "id", "ver", "w", 0L))
    assert(SnapshotLake.currentVersion(root).contains(1L))
    assert(SnapshotLake.read(spark, root).collect().toSeq == v1)
  }
}
