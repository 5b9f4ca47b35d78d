package perfbench

/** Hand-sized cases for the benchmark's own arithmetic. Run with
  * `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var checks = 0

  private def eq[T](got: T, want: T, what: String): Unit = {
    checks += 1
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")
  }

  private def near(got: Double, want: Double, what: String): Unit = {
    checks += 1
    if (math.abs(got - want) > 1e-9 * math.max(1.0, math.abs(want)))
      throw new AssertionError(s"$what: got $got, want $want")
  }

  private def throws(what: String)(f: => Any): Unit = {
    checks += 1
    val threw = try { f; false } catch { case _: IllegalArgumentException => true }
    if (!threw) throw new AssertionError(s"$what: expected a rejection")
  }

  /** Returns the number of checks made; throws on the first that fails. */
  def run(): Int = {
    checks = 0

    // the percentile rule: the highest percentile with >= 10 samples beyond it
    eq(Stats.tailPercentile(19), None, "19 samples support no percentile")
    eq(Stats.tailPercentile(20), Some(50.0), "20 samples: p50 has 10 beyond")
    eq(Stats.tailPercentile(39), Some(50.0), "39 samples: p75 has 9 beyond")
    eq(Stats.tailPercentile(40), Some(75.0), "40 samples: p75 has 10 beyond")
    eq(Stats.tailPercentile(99), Some(75.0), "99 samples: p90 has 9 beyond")
    eq(Stats.tailPercentile(100), Some(90.0), "100 samples: p90 has 10 beyond")
    eq(Stats.tailPercentile(200), Some(95.0), "200 samples: p99 has 2 beyond")
    eq(Stats.tailPercentile(1000), Some(99.0), "1000 samples: p99.9 has 1 beyond")
    val hundred = (1 to 100).map(_.toDouble).reverse
    near(Stats.percentile(hundred, 90.0), 90.0, "nearest-rank p90 of 1..100")
    near(Stats.percentile((1 to 40).map(_.toDouble), 75.0), 30.0, "nearest-rank p75 of 1..40")
    near(Stats.percentile(Seq(5.0), 99.0), 5.0, "percentile of one sample")
    near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd median")
    near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "even median")

    // self time with overlapping child spans
    eq(Stats.coveredLength(Seq((10L, 40L), (30L, 60L), (90L, 120L)), 0L, 100L), 60L,
      "overlap counted once, overhang clipped")
    eq(Stats.coveredLength(Seq((10L, 20L), (20L, 30L)), 0L, 100L), 20L, "touching intervals")
    eq(Stats.coveredLength(Nil, 0L, 100L), 0L, "no children")
    val spans = Seq(
      Span(1, 0, "op", "api", 0L, 100000000L),
      Span(2, 1, "a", "spark", 10000000L, 40000000L),
      Span(3, 1, "b", "spark", 30000000L, 60000000L),
      Span(4, 2, "c", "commit.resolve", 15000000L, 25000000L),
      Span(5, 0, "op2", "api", 200000000L, 210000000L))
    val self = Tracer.selfTime(spans)
    near(self("api"), 0.050 + 0.010, "root self time: 100 ms minus the 50 ms its children cover, plus a bare root")
    near(self("spark"), 0.020 + 0.030, "child self time: 30 ms minus its 10 ms grandchild, plus 30 ms")
    near(self("commit.resolve"), 0.010, "leaf self time is its duration")
    near(self.values.sum, 0.110 + 0.010, "overlapping siblings each keep their own time: 10 ms beyond the roots' wall")

    // recall@10 on a hand-sized case
    val pts = Seq("a" -> Array(0f, 0f), "b" -> Array(1f, 0f), "c" -> Array(0f, 2f),
      "d" -> Array(3f, 0f), "e" -> Array(0f, -4f))
    val exact = Stats.exactTopK(Array(0f, 0f), pts, 3)
    eq(exact.map(_._1), Seq("a", "b", "c"), "exact top-3 by distance")
    near(exact(2)._2, 2.0, "exact distance is the L2 norm")
    eq(Stats.exactTopK(Array(0f, 0f), Seq("y" -> Array(1f, 0f), "x" -> Array(0f, 1f)), 1).map(_._1),
      Seq("x"), "ties break by key")
    near(Stats.recallAtK(Seq("a", "b", "z"), exact.map(_._1), 3), 2.0 / 3, "one miss of three")
    near(Stats.recallAtK(Seq("c", "b", "a"), exact.map(_._1), 3), 1.0, "order does not matter")
    near(Stats.recallAtK(Seq("a"), exact.map(_._1), 3), 1.0 / 3, "short answers count their misses")
    near(Stats.recallAtK(Seq("a", "b", "c", "d"), Seq("a", "b"), 10), 1.0,
      "fewer than k exact rows: recall over what exists")

    // ops_failed_ratio counting
    val c = new Counts
    near(c.failedRatio, 0.0, "nothing attempted")
    c.record(true)
    c.record(c.check(true, "fine") & c.check(false, "first") & c.check(false, "second"))
    c.record(false)
    c.record(true)
    eq((c.attempted, c.failed), (4L, 2L), "two checks failing in one operation count it once")
    near(c.failedRatio, 0.5, "failed over attempted")
    eq(c.failures.toSeq, Seq("first", "second"), "every failed check is reported")
    throws("more failed than attempted")(Stats.failedRatio(1, 2))

    // tracing overhead over paired operations
    near(Stats.overheadPct(Seq(1.0, 2.0, 4.0), Seq(1.1, 2.2, 40.0)), 10.0,
      "the median ratio: one slow traced operation does not decide it")
    near(Stats.overheadPct(Seq(2.0, 2.0), Seq(1.0, 3.0)), 0.0, "even count: mean of the middle ratios")
    throws("unpaired operations")(Stats.overheadPct(Seq(1.0), Seq(1.0, 2.0)))

    eq(Json.num(0.1), "0.1", "numbers keep their digits")
    eq(Json.str("a\"b\\c\n"), "\"a\\\"b\\\\c\\u000a\"", "JSON string escapes")
    throws("NaN is not a metric")(Json.num(Double.NaN))
    checks
  }
}
