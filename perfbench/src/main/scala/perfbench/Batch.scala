package perfbench

import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Closed-loop batch workload: one client runs the fixtures back to back,
  * each in its own warmed child session, and checks every result against the
  * fixture's DuckDB reference. */
object Batch {
  final case class Executed(buildStart: Double, buildEnd: Double, end: Double,
      schema: StructType, rows: Array[Row])

  def run(opts: Map[String, String]): Map[String, Any] = {
    val fixtures = opts("fixtures").split(",").toSeq
    val known = SparkEntry.queries.keySet
    val unknown = fixtures.filterNot(known)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown fixtures: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val data = opts("data")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val warmup = opts("warmup").toInt

    val t0 = Clock.nowMs
    val spark = Main.session(opts("work"))
    val sc = spark.sparkContext
    val tSession = Clock.nowMs
    def load(dir: String) = fixtures.map(n => n -> new Expected(spark, s"$dir/$n.parquet")).toMap
    val expected = load(opts("expected"))
    // Warm-up may run on a smaller input with its own references: JIT and
    // codegen warm the same way, at a fraction of the set-up time.
    val warmData = opts.getOrElse("warm_data", data)
    val warmExpected = opts.get("warm_expected").map(load).getOrElse(expected)
    val sessions = fixtures.map(n => n -> spark.newSession()).toMap
    val tReferences = Clock.nowMs

    val spans = new Spans
    val probe = if (trace) Some(new Probe("spark.jobGroup.id")) else None
    val plans = new PlanLog
    if (trace) {
      probe.foreach(sc.addSparkListener)
      sessions.values.foreach(_.listenerManager.register(plans))
    }

    val runner = new Runner(sc)
    var opId = 0
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val timeouts = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runOp(name: String, pass: Int, measured: Boolean): Boolean = {
      opId += 1
      val group = s"op-$opId"
      val session = sessions(name)
      val (input, reference) = if (measured) (data, expected) else (warmData, warmExpected)
      plans.reset()
      val res = runner(group) {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try {
          val t0 = Clock.nowMs
          val df = SparkEntry.queries(name)(session, input)
          val t1 = Clock.nowMs
          val rows = df.collect()
          Executed(t0, t1, Clock.nowMs, df.schema, rows)
        } finally sc.clearJobGroup()
      }
      val rec = mutable.LinkedHashMap[String, Any]("op" -> opId, "name" -> name, "pass" -> pass)
      val ok = res match {
        case Right(e) =>
          val mismatch = reference(name).diff(e.schema, e.rows)
          rec ++= Seq("wall_ms" -> (e.end - e.buildStart), "build_ms" -> (e.buildEnd - e.buildStart),
            "result_rows" -> e.rows.length)
          mismatch.foreach(m => rec("error") = s"mismatch: $m")
          if (trace) rec ++= traced(sc, probe.get, plans, spans, group, e)
          mismatch.isEmpty
        case Left(diag) =>
          rec("error") = diag("error")
          if (diag.contains("stack")) timeouts += (diag + ("name" -> name))
          false
      }
      rec("ok") = ok
      if (measured) ops += rec.toMap
      else if (!ok) System.err.println(s"warm-up failed: ${rec("error")}")
      ok
    }

    // Set-up: every fixture runs `warmup` times in its own session first.
    val warmOk = (1 to warmup).forall(p => fixtures.map(n => runOp(n, -p, measured = false)).forall(identity))
    val firstOpMs = Clock.nowMs
    val gc0 = Main.gcMs
    // Round robin until the deadline, at least one full pass: every query
    // gets the same number of samples, give or take one.
    val deadline = firstOpMs + seconds * 1000
    var k = 0
    while (k < fixtures.size || Clock.nowMs < deadline) {
      runOp(fixtures(k % fixtures.size), k / fixtures.size, measured = true)
      k += 1
    }
    val measureEndMs = Clock.nowMs
    runner.close()
    val record = Map[String, Any](
      "workload_kind" -> "batch",
      "jvm_start_ms" -> Main.jvmStartMs,
      "first_op_ms" -> firstOpMs,
      "measure_end_ms" -> measureEndMs,
      "warmup_ok" -> warmOk,
      "setup_ms" -> Map("jvm" -> (t0 - Main.jvmStartMs), "session" -> (tSession - t0),
        "references" -> (tReferences - tSession), "warmup" -> (firstOpMs - tReferences)),
      "passes" -> k.toDouble / fixtures.size,
      "ops" -> ops.toList,
      "timeouts" -> timeouts.toList,
      "jvm_gc_ms" -> (Main.gcMs - gc0),
      "spans" -> spans.all)
    spark.stop()
    record
  }

  /** Per-op layer record of a traced run: drains the listener bus so every
    * event of this op has arrived, then reads counters, Catalyst phases of
    * the executions that ran, and plan metrics, and records the spans. */
  private def traced(sc: SparkContext, probe: Probe, plans: PlanLog, spans: Spans,
      group: String, e: Executed): Map[String, Any] = {
    Probe.drain(sc)
    val c = probe.get(group)
    val qes = plans.take()
    val root = spans.add(group, -1, "op", e.buildStart, e.end)
    val build = spans.add(group, root, "queries.build", e.buildStart, e.buildEnd)
    val collect = spans.add(group, root, "sink.collect", e.buildEnd, e.end)
    def parentOf(s: Double, t: Double): Int = {
      def overlap(a: Double, b: Double) = math.min(t, b) - math.max(s, a)
      val (ob, oc) = (overlap(e.buildStart, e.buildEnd), overlap(e.buildEnd, e.end))
      if (ob <= 0 && oc <= 0) root else if (ob >= oc) build else collect
    }
    val phaseMs = mutable.LinkedHashMap("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
    qes.foreach { qe =>
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phaseMs.contains(phase)) {
          phaseMs(phase) += p.durationMs
          val (start, end) = (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
          spans.add(group, parentOf(start, end), s"catalyst.$phase", start, end)
        }
      }
    }
    val jobIds = c.jobSpans.map { case (job, s, t) =>
      job -> spans.add(group, parentOf(s, t), "scheduler.job", s, t)
    }.toMap
    c.stageSpans.foreach { case (job, _, s, t) =>
      spans.add(group, jobIds.getOrElse(job, root), "scheduler.stage", s, t)
    }
    val plan = qes.map(qe => PlanWalk(qe.executedPlan))
    Map(
      "counters" -> c.toMap,
      "catalyst_ms" -> phaseMs.toMap,
      "executions" -> qes.size,
      "exchanges" -> plan.map(_.exchanges).sum,
      "partial_rows" -> plan.map(_.partialRows).sum,
      "agg_build_ms" -> plan.map(_.aggBuildMs).sum,
      "agg_peak_mem_bytes" -> plan.map(_.aggPeakMem).foldLeft(0L)(_ max _))
  }
}

/** A fixture's DuckDB reference result. Results are first compared by
  * fingerprint; only a differing one is diffed row by row against the
  * sorted reference, which is then loaded once. */
final class Expected(spark: SparkSession, path: String) {
  private val df = spark.read.parquet(path)
  val fingerprint: Fingerprint = Canon.fingerprint(df)
  private lazy val canon = Canon(df.schema, df.collect())

  def diff(schema: StructType, rows: Array[Row]): Option[String] =
    if (Canon.fingerprint(schema, rows.iterator) == fingerprint) None
    else Canon(schema, rows).diff(canon).orElse(Some("fingerprint differs"))
}

/** Executions finished since the last take, as reported to the session's
  * QueryExecutionListener: the QueryExecution that actually ran. */
final class PlanLog extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[QueryExecution]
  def reset(): Unit = synchronized(buf.clear())
  def take(): Seq[QueryExecution] = synchronized { val r = buf.toList; buf.clear(); r }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(buf += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Aggregate and exchange metrics of one executed (adaptive, final) plan. */
final case class PlanWalk(exchanges: Int, partialRows: Long, aggBuildMs: Long, aggPeakMem: Long)

object PlanWalk extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): PlanWalk = {
    val aggs = collectWithSubqueries(plan) { case a: BaseAggregateExec => a }
    def metric(a: SparkPlan, k: String) = a.metrics.get(k).map(_.value).getOrElse(0L)
    val partial = aggs.filter(a =>
      a.aggregateExpressions.exists(_.mode == Partial) ||
        (a.aggregateExpressions.isEmpty && a.requiredChildDistributionExpressions.isEmpty))
    PlanWalk(
      collectWithSubqueries(plan) { case x: Exchange => x }.size,
      partial.map(metric(_, "numOutputRows")).sum,
      aggs.map(metric(_, "aggTime")).sum,
      aggs.map(metric(_, "peakMemory")).foldLeft(0L)(_ max _))
  }
}

/** Runs each op on one worker thread with a time cap. A capped op is
  * cancelled and reported with its live jobs, stages and the worker's stack;
  * the next op starts only once the worker is idle again, else the run
  * aborts, so an abandoned op never overlaps a measured one. */
final class Runner(sc: SparkContext) {
  private val capMs = Runner.CapMs
  @volatile private var worker: Thread = _
  private val pool: ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op")
    t.setDaemon(true)
    worker = t
    t
  }

  def apply[T](group: String)(body: => T): Either[Map[String, Any], T] = {
    val f = pool.submit(new Callable[T] { def call(): T = body })
    try Right(f.get(capMs, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        val st = sc.statusTracker
        val diag = Map[String, Any](
          "error" -> s"timeout after $capMs ms",
          "group" -> group,
          "live_jobs" -> st.getJobIdsForGroup(group).toSeq
            .filter(j => st.getJobInfo(j).exists(_.status.toString == "RUNNING")),
          "live_stages" -> st.getActiveStageIds().toSeq,
          "stack" -> Option(worker).map(_.getStackTrace.map(_.toString).toSeq).getOrElse(Nil))
        sc.cancelJobGroup(group)
        f.cancel(true)
        val idle = pool.submit(new Runnable { def run(): Unit = () })
        try idle.get(math.max(capMs, 10000L), TimeUnit.MILLISECONDS)
        catch {
          case _: TimeoutException =>
            System.err.println(s"aborting: worker still busy after cancel: ${Main.toJson(diag)}")
            sys.exit(3)
        }
        Left(diag)
      case e: java.util.concurrent.ExecutionException =>
        Left(Map("error" -> s"${e.getCause}".take(500)))
    }
  }

  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(capMs, TimeUnit.MILLISECONDS)
  }
}

object Runner {
  /** Time cap of one batch op: well above the slowest Paper11 query. */
  val CapMs = 30000L
}
