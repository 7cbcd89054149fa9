package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout JSON line must ALWAYS fit inside the driver's
  * bounded tail capture (~2000 chars of combined output, shared with the
  * sbt epilogue): r12's line overran it, the driver parsed nothing, and
  * the round lost its entire PERF round-over-round comparison (r13 verdict
  * task #2). headlineLine is size-capped by construction; this spec pins
  * the WORST case — every registry query present, 20 ceiling breaches and
  * 8 contention suspects drawn from the LONGEST registry names, 20 more
  * long-named queries failed, slowest slots also landing on long names —
  * under 1500 chars, leaving ≥500 chars of
  * headroom for the harness epilogue. A failed query is counted, never
  * timed.
  */
class BenchLineSpec extends AnyFunSuite {

  test("headline line stays under 1500 chars in a 20-breach worst case") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.size > 300, "registry should be fully populated")
    val longest = names.sortBy(n => (-n.length, n))
    val failed = longest.slice(20, 40).sorted
    // worst-case values: hundreds of seconds, full %.3f width
    val finalResults = names.map(_ -> 123.456).toMap ++
      longest.take(12).map(_ -> 999.999).toMap -- failed // longest names = slowest
    val breaches = longest.take(20).sorted
    val suspects = longest.take(8).sorted
    val contention =
      """"foreign_jvms":12,"load1":131.06,"load1_before":133.85,""" +
      """"load1_max":133.18,"foreign_cores_max":31.441,""" +
      """"start_delay_sec":120.0,"headline_contended":true,""" +
      """"variance_reruns":372"""
    val line = Bench.headlineLine(
      total = 99999.99, nQueries = names.size, finalResults = finalResults,
      gcTotal = 999.9, sfDir = "/root/testdata/sf0.1",
      contention = contention,
      breachNames = breaches, suspectNames = suspects, failedNames = failed,
      clean = false, pinnedBuildSec = 999.99, coldTotalSec = 9999.9)
    assert(line.startsWith("{") && line.endsWith("}"), "line must be one JSON object")
    assert(line.contains("\"failed_queries\":20"))
    assert(!line.contains("\n"), "line must be a single line")
    assert(line.length < 1500,
      s"worst-case headline line is ${line.length} chars — must stay under " +
        "1500 so the driver's 2000-char tail capture can never truncate it")
  }

  test("headline line carries the pin-accounting and breach-count fields") {
    val line = Bench.headlineLine(
      total = 1.0, nQueries = 2,
      finalResults = Map("q1_pricing" -> 0.5, "zz" -> 0.5),
      gcTotal = 0.1, sfDir = "/x",
      contention = """"foreign_jvms":0,"variance_reruns":0""",
      breachNames = Seq.empty, suspectNames = Seq.empty, failedNames = Seq.empty,
      clean = true, pinnedBuildSec = 3.21, coldTotalSec = 12.3)
    for (k <- Seq("\"pinned_build_sec\":3.21", "\"cold_total_sec\":12.3",
                  "\"n_breaches\":0", "\"n_suspects\":0", "\"failed_queries\":0",
                  "\"clean\":true", "\"queries_full\":"))
      assert(line.contains(k), s"missing $k in: $line")
  }

  test("a throwing query is counted as failed, not timed") {
    var calls = Map.empty[String, Int]
    def body(name: String): Unit = {
      calls += name -> (calls.getOrElse(name, 0) + 1)
      if (name == "boom") throw new IllegalStateException("planted failure")
      Thread.sleep(5)
    }
    assert(Bench.timeRun("boom")(body("boom")).isEmpty, "a failed run has no timing")
    val measured = Seq("ok", "boom").map { n =>
      n -> Bench.measureRuns(ceiling = 3.0)(() => Bench.timeRun(n)(body(n)))
    }.toMap
    assert(measured("boom").isEmpty)
    // the direct call above plus ONE run inside measureRuns
    assert(calls("boom") == 2, "a failed query is not run again")
    val okRuns = measured("ok").get
    assert(okRuns.length >= 2 && okRuns.forall(_ >= 0.005))
    val finalResults = measured.collect { case (n, Some(runs)) => n -> runs.min }
    val failed = measured.collect { case (n, None) => n }.toSeq
    val total = finalResults.values.sum
    val line = Bench.headlineLine(
      total = total, nQueries = finalResults.size, finalResults = finalResults,
      gcTotal = 0.0, sfDir = "/x", contention = "\"foreign_jvms\":0",
      breachNames = Seq.empty, suspectNames = Seq.empty, failedNames = failed,
      clean = true, pinnedBuildSec = 0.0, coldTotalSec = total)
    assert(line.contains("\"n_queries\":1,\"failed_queries\":1"), line)
    assert(!line.contains("boom"), s"a failed query must not ship a timing: $line")
  }

  test("measureRuns: best-of-2, a third run on a >2x spread, more while breaching") {
    def scripted(secs: Double*): () => Option[Double] = {
      val it = secs.iterator
      () => Some(it.next())
    }
    assert(Bench.measureRuns(3.0)(scripted(1.0, 1.5)).contains(Seq(1.0, 1.5)))
    assert(Bench.measureRuns(3.0)(scripted(1.0, 2.5, 1.1)).contains(Seq(1.0, 2.5, 1.1)))
    // both over the ceiling and still improving: up to 5 runs
    assert(Bench.measureRuns(3.0)(scripted(5.0, 4.8, 4.6, 4.4, 4.2))
      .contains(Seq(5.0, 4.8, 4.6, 4.4, 4.2)))
    // a failure on the third run fails the query
    val failThird = { var n = 0; () => { n += 1; if (n == 3) None else Some(n * 4.0) } }
    assert(Bench.measureRuns(3.0)(failThird).isEmpty)
  }
}
