package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract: one JSON line that a reader keeping
  * only the last ~2000 chars of the run log can still parse. These
  * checks fail at build time — not silently at a run's end — if a new
  * operator breaks the short-key mapping or grows the line past the
  * window.
  */
class BenchKeysSpec extends AnyFunSuite {

  test("bench short keys are collision-free over every emittable row") {
    val collided = SparkEntry.queries.keys.groupBy(Bench.shortKey).filter(_._2.size > 1)
    assert(collided.isEmpty, s"short-key collisions: $collided")
  }

  test("worst-case stdout JSON line fits the harness's 2000-char window") {
    // every registered query at a two-digit 99.9 s (rows ≥10 s print
    // one decimal; a three-digit row means a >100 s query at sf0.1 —
    // a stalled run whose line is moot), plus the longest named
    // errors field, built by the SAME emit path main uses
    val rows = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 99.9)
    val longest5 = SparkEntry.queries.keys.toSeq.sortBy(k => -Bench.shortKey(k).length).take(5)
    val line = Bench.stdoutLine(rows.map(_._2).sum, 99, 99.9, rows, longest5, "/data/sf0.1")
    val sbtTrailer = 80 // "[success] Total time: ..." after our line
    assert(line.length + sbtTrailer < 2000,
      s"worst-case line + trailer ${line.length + sbtTrailer} chars crowds the 2000-char parse window")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("queries").size == SparkEntry.queries.size)
    assert(json.get("errors").size == 5 && json.get("sf").asText == "sf0.1")
    // the mass-failure record parses too: >cap errors collapse to the
    // bounded errors_n count, never an unbounded name list
    assert(Bench.errorsField((1 to 60).map(i => s"q$i")) ==
      """"errors_n":60,""")
  }

  test("a throwing query lands in the error map, never as a silent fast row") {
    val reg = Seq(
      "ok_query"   -> (() => ()),
      "boom_query" -> (() => throw new RuntimeException("synthetic failure")),
      "ok2_query"  -> (() => ()))
    val (results, errors) = Bench.timeAll[() => Unit](reg, f => f())
    // every registered query produces a timing row (count == registry)...
    assert(results.map(_._1) == reg.map(_._1))
    // ...and the failure is explicitly recorded, not swallowed
    assert(errors.keySet == Set("boom_query"))
    assert(errors("boom_query").contains("synthetic failure"))
  }

  test("calib median is the lower observed median, like every query row") {
    assert(Bench.lowerMedian(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.lowerMedian(Seq(7.0)) == 7.0)
    // even count: the LOWER observed value, not an interpolation
    assert(Bench.lowerMedian(Seq(4.0, 8.0)) == 4.0)
  }

  test("medianRows is the per-query lower median across reps") {
    val reps = Seq(
      Seq("q1" -> 1.0, "q2" -> 9.0),
      Seq("q1" -> 5.0, "q2" -> 2.0),
      Seq("q1" -> 3.0, "q2" -> 4.0))
    assert(Bench.medianRows(reps) == Seq("q1" -> 3.0, "q2" -> 4.0))
    // single rep passes through untouched; even count takes the LOWER
    // median (an observed value, not an interpolation)
    assert(Bench.medianRows(Seq(Seq("q" -> 7.0))) == Seq("q" -> 7.0))
    assert(Bench.medianRows(Seq(Seq("q" -> 4.0), Seq("q" -> 8.0))) ==
      Seq("q" -> 4.0))
  }
}
