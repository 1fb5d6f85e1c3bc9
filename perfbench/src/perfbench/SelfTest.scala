package perfbench

/** Checks of the benchmark's own arithmetic, no Spark needed: span self
  * time on a hand-built tree, job attribution to the innermost span, and
  * that the answer checks reject a corrupted answer.
  */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def run(): Unit = {
    // root [0,100] with children a [10,40] and b [30,60] (overlapping, so
    // 50 ms covered once) and c [70,80]; a has a child d [15,25]
    val spans = Seq(
      Span(1, 0, 1, "root", 0, 100),
      Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 60),
      Span(4, 1, 1, "c", 70, 80),
      Span(5, 2, 1, "d", 15, 25),
      Span(6, 0, 2, "other", 200, 210))
    val self = SpanTree.selfTimes(spans)
    expect(near(self(1), 100 - 50 - 10), s"root self ${self(1)} != 40")
    expect(near(self(2), 30 - 10), s"a self ${self(2)} != 20")
    expect(near(self(3), 30), s"b self ${self(3)} != 30")
    expect(near(self(5), 10), s"leaf self ${self(5)} != 10")
    expect(near(self(6), 10), s"other self ${self(6)} != 10")

    val depth = SpanTree.depths(spans)
    expect(SpanTree.innermostAt(spans, depth, 20L).map(_.name).contains("d"), "t=20 belongs to d")
    expect(SpanTree.innermostAt(spans, depth, 65L).map(_.name).contains("root"), "t=65 belongs to root")
    expect(SpanTree.innermostAt(spans, depth, 150L).isEmpty, "t=150 belongs to no span")
    expect(SpanTree.lineage(spans)(5) == Seq("d", "a", "root"), "lineage of d")

    val want = Seq((3L, 2.5), (1L, 2.5), (7L, 1.0))
    expect(Check.sameRanking(want, want).isEmpty, "identical answers pass")
    expect(Check.sameRanking(Seq((3L, 2.5), (1L, 2.5 + 1e-6), (7L, 1.0)), want).nonEmpty,
      "a score off by 1e-6 is caught")
    expect(Check.sameRanking(Seq((1L, 2.5), (3L, 2.5), (7L, 1.0)), want).nonEmpty,
      "a swapped rank is caught")
    expect(Check.sameRanking(want.take(2), want).nonEmpty, "a missing hit is caught")
    val deep = want :+ ((9L, 1.0))
    expect(Check.sameRankingUpToTies(Seq((1L, 2.5), (3L, 2.5), (9L, 1.0)), deep, 3).isEmpty,
      "tie order and a tied boundary doc pass")
    expect(Check.sameRankingUpToTies(Seq((1L, 2.5), (3L, 2.5), (4L, 1.0)), deep, 3).nonEmpty,
      "a doc outside the reference's tie group is caught")
    expect(Check.sameRankingUpToTies(Seq((1L, 2.5), (1L, 2.5), (9L, 1.0)), deep, 3).nonEmpty,
      "a duplicate hit is caught")
    expect(near(Stats.pct(Seq(1, 2, 3, 4, 5).map(_.toDouble), 90), 4.6), "p90 interpolates")
    expect(near(Stats.interquartileMean(Seq(9, 1, 4, 2, 100, 3, 5, 0).map(_.toDouble)), 3.5),
      "interquartile mean drops the outer quarters")
    println("selftest ok")
  }
}
