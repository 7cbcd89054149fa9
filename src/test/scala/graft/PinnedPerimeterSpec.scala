package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session-pin perimeter is FROZEN as of the r13 judge ruling: pins
  * (Caches.sessionMemo) exclude their one-time build cost from every
  * min-of-runs bench number, so growing the perimeter converts measured
  * query time into invisible setup time. r14 makes the cost visible
  * (pinned_build_sec / query_first_run in the bench artifact) and this
  * spec pins the PERIMETER itself: the exact per-file count of
  * sessionMemo call sites in src/main/scala. Adding a pin anywhere fails
  * this spec — the diff must then either remove another pin or re-litigate
  * the ruling explicitly in the round's OPTIMIZATION doc.
  *
  * The same source scan guards two more perimeters: sessions are built
  * only by `graft.Session`, and only entry points (Bench, Verify, the
  * curves, tools) read environment variables or system properties, so no
  * operator grows a process-wide mode or debug switch.
  */
class PinnedPerimeterSpec extends AnyFunSuite {

  private val frozen = Map(
    // the definition itself
    "graft/Caches.scala" -> 1,
    // idempotent function registration (metadata, not data)
    "graft/functions/Hashing.scala" -> 1,
    // proto wire fixtures f11/f12/f13/e7 (decode is the subject)
    "graft/queries/MiscQueries.scala" -> 1,
    // media/index/pair-graph/eval pins + bounded corpus scalars (r9–r13)
    "graft/queries/ScaleQueries.scala" -> 33,
    // embedding-width scalar (ndims) ×2
    "graft/queries/SignalQueries.scala" -> 2,
    // trained BPE merge list (the vocab artifact; the trainer stays live)
    "graft/scale/Bpe.scala" -> 1,
    // suite bloom sketch (gramSet artifact class)
    "graft/scale/Contamination.scala" -> 1,
    // IVF ranked-assignment pin (the ANN index artifact)
    "graft/scale/Similarity.scala" -> 1,
    // relation resolution per (session, dir, table) — catalog analog
    "graft/sources/Tables.scala" -> 2)

  /** (path relative to src/main/scala, source text) of every main file. */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val out = Seq.newBuilder[(String, String)]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala"))
        out += root.relativize(p).toString ->
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    }
    out.result()
  }

  test("sessionMemo call sites exactly match the frozen r13 perimeter") {
    val re = """sessionMemo(\[[^]]*\])?\(""".r
    val found = mainSources.map { case (f, src) => f -> re.findAllIn(src).size }
      .filter(_._2 > 0).toMap
    assert(found == frozen,
      "session-pin perimeter changed (frozen by the r13 verdict — pin " +
        s"build cost is excluded from min-of-runs bench numbers).\n" +
        s"expected: ${frozen.toSeq.sorted}\nfound:    ${found.toSeq.sorted}")
  }

  test("SparkSession.builder appears only in the session factory") {
    val found = mainSources.collect {
      case (f, src) if src.contains("SparkSession.builder") => f
    }
    assert(found == Seq("graft/Session.scala"),
      s"build sessions through graft.Session.local; found builders in $found")
  }

  test("environment and system-property reads stay in entry points") {
    val entryPoints = Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/ScaleCurve.scala", "graft/StreamingCurve.scala",
      "graft/Session.scala")
    val re = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
    val found = mainSources.collect {
      case (f, src) if re.findFirstIn(src).nonEmpty &&
        !entryPoints(f) && !f.startsWith("graft/tools/") => f
    }
    assert(found.isEmpty,
      s"operator code must not read process-wide switches; found in $found")
  }
}
