package graft

import scala.jdk.CollectionConverters._

import graft.queries.{PipelineQueries, ReferenceQueries}

/** Every declared fixture runs end-to-end at sf0.001 and yields rows, and
  * leaves no streaming query running and the caller's conf as it found it.
  * The value-level gate is the DuckDB oracle (scripts/check.py at sf0.01);
  * this spec catches plan-breaking regressions fast.
  */
class FixturesSpec extends SparkTestBase {
  /** Live streaming-query threads, whichever session started them. */
  private def streamThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("stream execution thread")).toSet

  (ReferenceQueries.fixtures ++ PipelineQueries.fixtures).foreach { f =>
    test(s"${f.name} runs and yields rows") {
      // Tables.events sets the nanos read flag on the session it reads with,
      // once and for good; the snapshot starts after it
      Tables.events(spark, sfDir)
      val (conf, threads) = (spark.conf.getAll, streamThreads)
      val df = f.build(spark, sfDir)
      val after = spark.conf.getAll
      assert(spark.streams.active.isEmpty && streamThreads.subsetOf(threads) &&
        after == conf, s"${f.name} left a query running or changed the " +
          s"caller's conf: set ${after.toSet diff conf.toSet}, " +
          s"lost ${conf.toSet diff after.toSet}")
      assert(df.count() > 0, s"${f.name} returned no rows")
    }
  }

  test("entry yields rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name matches a query name") {
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(q))
  }
}
