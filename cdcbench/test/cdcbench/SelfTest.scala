package cdcbench

import java.sql.Timestamp

import graft.feed.{FeedGen, FeedSpec}

/** Checks of the benchmark's own logic: order statistics, interval union,
  * error accounting and the expected-state comparison. Exits non-zero on
  * the first failure. Run with `python3 cdcbench/run.py --self-test`. */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def main(args: Array[String]): Unit = {
    // quantile: type-7 interpolation; median agrees with statistics.median
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
    expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even median")
    expect(close(Stats.quantile((1 to 10).map(_.toDouble), 0.9), 9.1), "p90 of 1..10")
    expect(Stats.quantile(Seq(5.0), 0.9) == 5.0, "single-sample quantile")
    // quartiles: values from Python's statistics.quantiles(xs, n=4)
    expect(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)), "quartiles 1..10")
    expect(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0, 5.0)) == ((1.5, 3.0, 4.5)), "quartiles 1..5")
    expect(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)), "quartiles of two (extrapolated)")
    val (q1, q2, q3) = Stats.quartiles(Seq(10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9))
    expect(close(q1, 9.725) && close(q2, 10.0) && close(q3, 10.275), "quartiles of unsorted input")

    // interval union and uncovered time
    expect(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L, "overlap union")
    expect(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0L, 100L) == 10L, "nested union")
    expect(Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L, "clipped union")
    expect(Stats.unionLength(Seq((10L, 20L), (20L, 30L)), 0L, 100L) == 20L, "touching union")
    expect(Stats.uncovered(Seq.empty, 0L, 40L) == 40L, "no children: all self time")
    expect(Stats.uncovered(Seq((10L, 20L), (15L, 25L)), 0L, 40L) == 25L, "self time")

    // error accounting: a throwing op counts as failed and records no timing
    val log = new OpLog
    expect(log.timed("op")(1).isDefined, "successful op returns")
    expect(log.timed("op")(throw new RuntimeException("boom")).isEmpty, "failed op returns None")
    log.timed("op")(2)
    log.dropLast("op"); log.fail("op", "wrong rows")
    expect(log.attempted == 3 && log.failed == 2, s"attempted/failed ${log.attempted}/${log.failed}")
    expect(log.of("op").size == 1, "failed ops leave no timing sample")
    expect(close(log.errorRate, 2.0 / 3), "error rate")
    expect(OpLog.errorRate(0, 0) == 0.0, "no operations: no error rate")

    // expected-state comparison: equal state passes, each kind of damage is caught
    val spec = FeedSpec(seed = 3L, numEvents = 3000, numUrls = 300, eventsPerSegment = 500, evolveAtEvent = 1500)
    val expected = FeedGen.expectedState(FeedGen.events(spec)).map { case (u, e) => u -> Oracle.ofEvent(e) }
    val rows = expected.values.toSeq
    expect(Oracle.diff(expected, rows).isEmpty, "identical state must agree")
    val victim = rows.head
    expect(Oracle.diff(expected, rows.tail).exists(_.contains("missing")), "missing row detected")
    expect(Oracle.diff(expected, rows :+ victim.copy(url = "x")).exists(_.contains("unexpected")),
      "extra row detected")
    expect(Oracle.diff(expected, rows :+ victim).exists(_.contains("live rows")), "duplicate row detected")
    expect(Oracle.diff(expected, victim.copy(tsMicros = victim.tsMicros + 1) +: rows.tail).nonEmpty,
      "stale version detected")
    expect(Oracle.diff(expected, victim.copy(textFp = victim.textFp ^ 1) +: rows.tail).nonEmpty,
      "text change detected")
    val v2 = rows.find(_.fetchStatus.isDefined).get
    expect(Oracle.diff(expected, v2.copy(contentLen = None) +: rows.filterNot(_ == v2)).nonEmpty,
      "lost evolved column detected")
    expect(Oracle.micros(Timestamp.valueOf("2020-01-01 00:00:00.000123")) % 1000000L == 123L,
      "timestamp micros")
    println(s"self-test: $checks checks passed")
  }
}
