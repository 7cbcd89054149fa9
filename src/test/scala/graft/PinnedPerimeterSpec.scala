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
  * operator grows a process-wide mode or debug switch. Two more keep code
  * on its shared mechanisms: the batch-keyed overwrite lives only in the
  * admission protocol, no streaming code releases session-global caches,
  * and no code outside `graft.Caches` cuts lineage by hand.
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

  private def mainSources: Seq[(String, String)] = MainSources.all

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

  test("the batch-keyed partition overwrite lives only in the admission protocol") {
    val found = mainSources.collect {
      case (f, src) if src.contains("partitionOverwriteMode") => f
    }
    assert(found == Seq("graft/streaming/Admission.scala"),
      s"write batch-keyed output through streaming.Admission; found in $found")
  }

  test("streaming code neither releases session-global caches nor checkpoints by hand") {
    val releases = mainSources.collect {
      case (f, src) if f.startsWith("graft/streaming/") &&
        src.contains("Caches.release()") => f
    }
    assert(releases.isEmpty,
      s"streaming batch bodies release through Caches.scoped; found in $releases")
    val cuts = mainSources.collect {
      case (f, src) if f != "graft/Caches.scala" &&
        (src.contains(".localCheckpoint(") || src.contains(".checkpoint(")) => f
    }
    assert(cuts.isEmpty,
      s"lineage is cut only through Caches.lazyBarrier or Caches.pinnedBarrier; " +
        s"found in $cuts")
  }
}
