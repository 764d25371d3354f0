package graft

import org.apache.spark.sql.functions._

import graft.operators.Pattern
import graft.operators.Pattern.Step
import graft.streaming.Replay

/** Sequential pattern matching (operators/Pattern.scala) — the
  * MATCH_RECOGNIZE-class funnel generalization: arbitrary per-step
  * predicates, absence guards between steps, anchored window; plus the
  * per-window streaming twin's agreement with the batch fold.
  */
class PatternSpec extends SparkTestBase {
  import spark.implicits._

  private val steps = Seq(
    Step("start", col("ty") === "a"),
    Step("finish", col("ty") === "b" && col("v") > 10,
      absentBefore = Some(col("ty") === "x")))

  private def depths(rows: Seq[(Long, Long, String, Double)],
      windowSec: Long = 1000L): Map[Long, (Int, Boolean)] =
    Pattern.keyMatch(rows.toDF("k", "es", "ty", "v"), "k", "es", steps,
        windowSec)
      .select("k", "depth", "matched").as[(Long, Int, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("predicates, guards, window: the full case table") {
    val d = depths(Seq(
      // 1: clean match — a then qualifying b
      (1L, 100L, "a", 0.0), (1L, 200L, "b", 50.0),
      // 2: b fails the VALUE predicate — stalls at depth 1
      (2L, 100L, "a", 0.0), (2L, 200L, "b", 5.0),
      // 3: guard kill — x strictly between a and the qualifying b
      (3L, 100L, "a", 0.0), (3L, 150L, "x", 0.0), (3L, 200L, "b", 50.0),
      // 4: x BEFORE the anchor does not kill
      (4L, 50L, "x", 0.0), (4L, 100L, "a", 0.0), (4L, 200L, "b", 50.0),
      // 5: x AFTER the match does not kill
      (5L, 100L, "a", 0.0), (5L, 200L, "b", 50.0), (5L, 300L, "x", 0.0),
      // 6: b past the anchor window (anchor 100, W=1000 → ≤1100)
      (6L, 100L, "a", 0.0), (6L, 2000L, "b", 50.0),
      // 7: flagged events but never an anchor — depth 0
      (7L, 100L, "b", 50.0), (7L, 200L, "x", 0.0)
    ))
    assert(d == Map(1L -> (2, true), 2L -> (1, false), 3L -> (1, false),
      4L -> (2, true), 5L -> (2, true), 6L -> (1, false),
      7L -> (0, false)), s"$d")
  }

  test("equal-timestamp ties resolve in the pattern's favor, deterministically") {
    val d = depths(Seq(
      // guard at the SAME timestamp as the qualifying b: no kill
      (1L, 100L, "a", 0.0), (1L, 200L, "x", 0.0), (1L, 200L, "b", 50.0),
      // guard at the SAME timestamp as the anchor: no kill
      (2L, 100L, "x", 0.0), (2L, 100L, "a", 0.0), (2L, 200L, "b", 50.0),
      // guard strictly between, even by 1: kill
      (3L, 100L, "a", 0.0), (3L, 199L, "x", 0.0), (3L, 200L, "b", 50.0)
    ))
    assert(d == Map(1L -> (2, true), 2L -> (2, true), 3L -> (1, false)),
      s"$d")
  }

  test("a step candidate at the SAME timestamp as the previous match advances") {
    val d = depths(Seq(
      // anchor and qualifying b in the same (truncated) second: the
      // at-or-after contract — oracle-side this is ev.t >= t1
      (1L, 100L, "a", 0.0), (1L, 100L, "b", 50.0),
      // same, with a guard event also at that second: tie favors the
      // pattern on BOTH rules at once
      (2L, 100L, "a", 0.0), (2L, 100L, "x", 0.0), (2L, 100L, "b", 50.0),
      // control: candidate strictly before the anchor second never counts
      (3L, 99L, "b", 50.0), (3L, 100L, "a", 0.0)
    ))
    assert(d == Map(1L -> (2, true), 2L -> (2, true), 3L -> (1, false)),
      s"$d")
  }

  test("same-timestamp three-step chain folds in pattern order") {
    val steps3 = Seq(
      Step("s1", col("ty") === "a"),
      Step("s2", col("ty") === "b"),
      Step("s3", col("ty") === "c"))
    val got = Pattern.keyMatch(
      Seq((1L, 100L, "c", 0.0), (1L, 100L, "a", 0.0), (1L, 100L, "b", 0.0))
        .toDF("k", "es", "ty", "v"), "k", "es", steps3, 1000L)
      .select("k", "depth").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3), s"$got")
  }

  test("greedy-from-first-anchor; a kill is permanent for the gap") {
    val d = depths(Seq(
      // kill, then a later qualifying b: still blocked (k only shrinks)
      (1L, 100L, "a", 0.0), (1L, 150L, "x", 0.0),
      (1L, 200L, "b", 50.0), (1L, 300L, "b", 50.0),
      // second anchor after a kill does NOT re-anchor
      (2L, 100L, "a", 0.0), (2L, 150L, "x", 0.0),
      (2L, 400L, "a", 0.0), (2L, 500L, "b", 50.0)
    ))
    assert(d == Map(1L -> (1, false), 2L -> (1, false)), s"$d")
  }

  test("counts report: monotone at-least-step totals with step names") {
    val rows = Seq(
      (1L, 100L, "a", 0.0), (1L, 200L, "b", 50.0),
      (2L, 100L, "a", 0.0),
      (3L, 100L, "a", 0.0), (3L, 150L, "x", 0.0), (3L, 200L, "b", 50.0)
    ).toDF("k", "es", "ty", "v")
    val got = Pattern.counts(rows, "k", "es", steps, 1000L)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "start", 3L), (2L, "finish", 1L)), s"$got")
  }

  test("contiguous matching: quantifier exactness, breakers, window, first match") {
    import graft.operators.Pattern.RunStep
    val rsteps = Seq(
      RunStep("a", col("ty") === "a", plus = true),
      RunStep("b", col("ty") === "b"),
      RunStep("c", col("ty") === "c", plus = true))
    def m(rows: Seq[(Long, Long, String)], w: Long = 1000L) =
      graft.operators.Pattern.contiguousFirst(
          rows.map(r => (r._1, r._2, r._3, 0.0)).toDF("k", "es", "ty", "v"),
          "k", "es", rsteps, w)
        .as[(Long, Long)].collect().toMap
    val got = m(Seq(
      // 1: clean a+ b c+ (two as, one b, two cs)
      (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "b"),
      (1L, 130L, "c"), (1L, 140L, "c"),
      // 2: b run of length 2 — `b` is NOT plus, must NOT match
      (2L, 100L, "a"), (2L, 110L, "b"), (2L, 120L, "b"), (2L, 130L, "c"),
      // 3: a non-class event between b and c BREAKS contiguity
      (3L, 100L, "a"), (3L, 110L, "b"), (3L, 120L, "x"), (3L, 130L, "c"),
      // 4: skip-tolerant would match; strict must not (x inside)
      (4L, 100L, "a"), (4L, 105L, "x"), (4L, 110L, "b"), (4L, 120L, "c"),
      // 5: two matches — the FIRST (earliest) is reported
      (5L, 100L, "a"), (5L, 110L, "b"), (5L, 120L, "c"),
      (5L, 200L, "a"), (5L, 210L, "b"), (5L, 220L, "c"),
      // 6: window: span from match start to c's first event > W
      (6L, 100L, "a"), (6L, 110L, "b"), (6L, 2000L, "c")
    ))
    assert(got == Map(1L -> 100L, 5L -> 100L), s"$got")
    // window measured to the LAST step's FIRST event: exactly at bound
    val edge = m(Seq(
      (1L, 0L, "a"), (1L, 500L, "b"), (1L, 1000L, "c")))
    assert(edge == Map(1L -> 0L), s"$edge")
  }

  test("contiguous: boundary non-plus steps accept longer runs; interior stays strict") {
    import graft.operators.Pattern.RunStep
    val ab = Seq(RunStep("a", col("ty") === "a"),
      RunStep("b", col("ty") === "b"))
    def m(rsteps: Seq[RunStep], rows: Seq[(Long, Long, String)],
        w: Long = 1000L) =
      Pattern.contiguousFirst(
          rows.map(r => (r._1, r._2, r._3, 0.0)).toDF("k", "es", "ty", "v"),
          "k", "es", rsteps, w)
        .as[(Long, Long)].collect().toMap
    // A B over A,A,B: strict regex matches starting at the SECOND A
    val first = m(ab, Seq(
      (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "b"),
      // A B over A,B,B: events after the match are irrelevant
      (2L, 100L, "a"), (2L, 110L, "b"), (2L, 120L, "b"),
      // both at once: anchor at the last A
      (3L, 100L, "a"), (3L, 105L, "a"), (3L, 110L, "b"), (3L, 120L, "b")))
    assert(first == Map(1L -> 110L, 2L -> 100L, 3L -> 105L), s"$first")
    // the window anchors at the CONSUMED first-step event (run's last)
    val win = m(ab, Seq(
      (1L, 0L, "a"), (1L, 600L, "a"), (1L, 1500L, "b"),
      (2L, 0L, "a"), (2L, 400L, "a"), (2L, 1500L, "b")))
    assert(win == Map(1L -> 600L), s"$win")
    // INTERIOR non-plus steps still require run length exactly 1
    val abc = Seq(RunStep("a", col("ty") === "a"),
      RunStep("b", col("ty") === "b"), RunStep("c", col("ty") === "c"))
    val interior = m(abc, Seq(
      (1L, 100L, "a"), (1L, 110L, "b"), (1L, 120L, "b"), (1L, 130L, "c"),
      (2L, 100L, "a"), (2L, 105L, "a"), (2L, 110L, "b"), (2L, 120L, "c"),
      (2L, 125L, "c")))
    assert(interior == Map(2L -> 105L), s"$interior")
    // single-step pattern: earliest event of the first matching run
    val single = m(Seq(RunStep("a", col("ty") === "a")), Seq(
      (1L, 90L, "x"), (1L, 100L, "a"), (1L, 110L, "a")))
    assert(single == Map(1L -> 100L), s"$single")
  }

  test("contiguous: a window-busted occurrence does not block a later one") {
    import graft.operators.Pattern.RunStep
    val rsteps = Seq(
      RunStep("a", col("ty") === "a", plus = true),
      RunStep("b", col("ty") === "b"))
    val got = Pattern.contiguousFirst(
        Seq((1L, 0L, "a", 0.0), (1L, 10L, "b", 0.0),
          // first occurrence busts W=5; the later pair is in-window
          (1L, 100L, "a", 0.0), (1L, 103L, "b", 0.0))
          .toDF("k", "es", "ty", "v"),
        "k", "es", rsteps, 5L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 100L), s"$got")
  }

  test("one event advances at most one step, even when it satisfies two") {
    // scaladoc contract: an event matching both step i and step i+1 is
    // consumed by step i — a later step-(i+1) event is still required.
    // (Gate oracles keep step predicates disjoint, so this is pinned
    // here, not by a fixture.)
    val overlapping = Seq(
      Step("s1", col("ty") === "a" || col("ty") === "b"),
      Step("s2", col("ty") === "b"))
    def d(rows: Seq[(Long, Long, String, Double)]) =
      Pattern.keyMatch(rows.toDF("k", "es", "ty", "v"), "k", "es",
          overlapping, 1000L)
        .select("k", "depth").as[(Long, Int)].collect().toMap
    // a single b satisfies BOTH steps: it anchors as step 1 and cannot
    // also serve as step 2
    assert(d(Seq((1L, 100L, "b", 0.0))) == Map(1L -> 1))
    // a second b (same or later second) completes the pattern
    assert(d(Seq((1L, 100L, "b", 0.0), (1L, 100L, "b", 0.0))) ==
      Map(1L -> 2))
    assert(d(Seq((1L, 100L, "b", 0.0), (1L, 200L, "b", 0.0))) ==
      Map(1L -> 2))
  }

  test("measures: per-step consumed blocks of the first match, boundary rules included") {
    import graft.operators.Pattern.RunStep
    def meas(rsteps: Seq[RunStep], rows: Seq[(Long, Long, String)],
        w: Long = 1000L) =
      Pattern.contiguousMeasures(
          rows.map(r => (r._1, r._2, r._3, 0.0)).toDF("k", "es", "ty", "v"),
          "k", "es", rsteps, w)
        .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    // plus boundaries consume full runs; interior non-plus its one event
    val abc = Seq(RunStep("a", col("ty") === "a", plus = true),
      RunStep("b", col("ty") === "b"),
      RunStep("c", col("ty") === "c", plus = true))
    val full = meas(abc, Seq(
      (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "b"),
      (1L, 130L, "c"), (1L, 140L, "c"),
      // no match: nothing emitted
      (2L, 100L, "a"), (2L, 110L, "c")))
    assert(full == Set(
      (1L, 1L, "a", 100L, 110L, 2L),
      (1L, 2L, "b", 120L, 120L, 1L),
      (1L, 3L, "c", 130L, 140L, 2L)), s"$full")
    // non-plus boundaries: first consumes its run's LAST event, last its
    // run's FIRST — blocks mirror contiguousFirst's anchor/window rules
    val ab = Seq(RunStep("a", col("ty") === "a"),
      RunStep("b", col("ty") === "b"))
    val bounds = meas(ab, Seq(
      (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "b"), (1L, 130L, "b")))
    assert(bounds == Set(
      (1L, 1L, "a", 110L, 110L, 1L),
      (1L, 2L, "b", 120L, 120L, 1L)), s"$bounds")
    // first-match selection and b_start(step 1) == contiguousFirst.m_start
    val two = Seq(
      (3L, 100L, "a"), (3L, 110L, "b"),
      (3L, 200L, "a"), (3L, 210L, "b"))
    val m2 = meas(ab, two)
    assert(m2 == Set((3L, 1L, "a", 100L, 100L, 1L),
      (3L, 2L, "b", 110L, 110L, 1L)), s"$m2")
    val first = Pattern.contiguousFirst(
        two.map(r => (r._1, r._2, r._3, 0.0)).toDF("k", "es", "ty", "v"),
        "k", "es", ab, 1000L)
      .as[(Long, Long)].collect().toMap
    assert(first(3L) == 100L)
  }

  test("contiguous: a pre-1970 (negative epoch) match start is reported") {
    import graft.operators.Pattern.RunStep
    val ab = Seq(RunStep("a", col("ty") === "a"),
      RunStep("b", col("ty") === "b"))
    // the no-match sentinel must live OUTSIDE the time domain: a match
    // starting at a negative second — including exactly −1 — is a match
    val got = Pattern.contiguousFirst(
        Seq((1L, -100L, "a", 0.0), (1L, -90L, "b", 0.0),
          (2L, -1L, "a", 0.0), (2L, 0L, "b", 0.0))
          .toDF("k", "es", "ty", "v"),
        "k", "es", ab, 1000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> -100L, 2L -> -1L), s"$got")
  }

  test("measures: single-step non-plus pattern consumes ONE event — the run's first") {
    import graft.operators.Pattern.RunStep
    def meas(rsteps: Seq[RunStep], rows: Seq[(Long, Long, String)]) =
      Pattern.contiguousMeasures(
          rows.map(r => (r._1, r._2, r._3, 0.0)).toDF("k", "es", "ty", "v"),
          "k", "es", rsteps, 1000L)
        .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    // m == 1 non-plus: the block is the single anchor event (the first
    // run's FIRST — contiguousFirst's m == 1 anchor), not the whole run
    val single = meas(Seq(RunStep("a", col("ty") === "a")), Seq(
      (1L, 90L, "x"), (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "a")))
    assert(single == Set((1L, 1L, "a", 100L, 100L, 1L)), s"$single")
    // m == 1 PLUS still consumes the full first run
    val plus = meas(Seq(RunStep("a", col("ty") === "a", plus = true)), Seq(
      (1L, 100L, "a"), (1L, 110L, "a"), (1L, 120L, "x"), (1L, 130L, "a")))
    assert(plus == Set((1L, 1L, "a", 100L, 110L, 2L)), s"$plus")
  }

  test("streaming twin agrees with the batch fold per window") {
    // two day-windows; key 1 matches in w0, is guard-killed in w1;
    // key 2 anchors in w0 only
    val rows = Seq(
      (1L, 100L, "a", 0.0), (1L, 200L, "b", 50.0),
      (2L, 300L, "a", 0.0),
      (1L, 86400L + 100L, "a", 0.0), (1L, 86400L + 150L, "x", 0.0),
      (1L, 86400L + 200L, "b", 50.0),
      // window-2 event whose watermark closes w0 and w1
      (9L, 2 * 86400L + 10L, "a", 0.0)
    ).sortBy(_._2)
    val got = Replay(spark) { s =>
      Replay.chunks(s, Seq(rows)) { in =>
        graft.streaming.StreamingPattern.keyMatch(in.toDF("k", "es", "ty", "v")
            .withColumn("ts", timestamp_micros(col("es") * 1000000L)),
          "ts", "k", steps, 86400L)
      }.select("ws", "k", "depth", "matched")
        .as[(Long, Long, Int, Boolean)].collect().toSet
    }
    assert(got == Set((0L, 1L, 2, true), (0L, 2L, 1, false),
      (86400L, 1L, 1, false)), s"$got")
  }
}
