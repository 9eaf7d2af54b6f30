package graftbench

/** Checks of the benchmark's own metric math on synthetic inputs. Every
  * run calls [[run]] first and refuses to measure if one fails.
  */
object SelfCheck {
  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"selfcheck $what: got $got want $want")

  def run(): Unit = {
    // lower median: the lower middle of an even count, an observed value
    expect("median odd", Stats.lowerMedian(Seq(5.0, 1.0, 3.0)), 3.0)
    expect("median even", Stats.lowerMedian(Seq(4.0, 1.0, 3.0, 2.0)), 2.0)

    // tail: the highest percentile with at least 10 samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    expect("tail of 100", Stats.tail(hundred), (90.0, 90.0, 100))
    val thirty = (1 to 30).map(_.toDouble)
    expect("tail of 30", Stats.tail(thirty), (20.0, 100.0 * 20 / 30, 30))
    // too few samples to leave 10 beyond: fall back to the median
    expect("tail of 12", Stats.tail((1 to 12).map(_.toDouble)), (6.0, 50.0, 12))

    // newest file of a trigger from its cumulative input rows
    val rows = IndexedSeq(100L, 100L, 50L, 50L)
    expect("newest none", Stats.newestFile(rows, 99L), -1)
    expect("newest first", Stats.newestFile(rows, 100L), 0)
    expect("newest mid", Stats.newestFile(rows, 250L), 2)
    expect("newest all", Stats.newestFile(rows, 300L), 3)

    // wall minus the union of job spans (overlaps counted once,
    // spans clipped to the window)
    expect("uncovered", Stats.uncovered(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L))), 60L)
    expect("uncovered empty", Stats.uncovered(0L, 50L, Nil), 50L)

    // self time from nested spans: only direct children count
    val spans = Seq(
      Span(1, 0, "op", 0, 100, "r"),
      Span(2, 1, "job", 10, 40, "r"),
      Span(3, 1, "job", 30, 60, "r"),
      Span(4, 2, "stage", 15, 20, "r"))
    expect("self times", Stats.selfTimes(spans), Map(1L -> 50L, 2L -> 25L, 3L -> 30L, 4L -> 5L))

    expect("geomean", math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12, true)
  }
}
