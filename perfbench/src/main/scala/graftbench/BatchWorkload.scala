package graftbench

import graft.{Caches, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** `query_mix`: one closed-loop client running passes over a fixed query
  * list in a seed-shuffled order. Each query is one
  * operation: `QueryDef.build` (through `SparkEntry.queries`) followed by a
  * noop-sink action, which computes every output column.
  */
object BatchWorkload {

  /** The eight headline queries of `graft.Bench`: 4-7-job plans that run
    * no job at build time — scan, kernels and planning. */
  val QueryMix: Seq[String] = Seq("q1_pricing", "pipeline_consume_counts",
    "s7_replay_window", "a4_event_stats", "d1_dedup", "dedup_minhash_lsh",
    "emb_ivf_topk", "corpus_prepare_v7")

  /** One query run. A failed run carries no time. */
  final case class Op(name: String, pass: Int, ok: Boolean, start: Double,
                      buildEnd: Double, end: Double, error: String) {
    def buildS: Double = (buildEnd - start) / 1e3
    def actionS: Double = (end - buildEnd) / 1e3
    def totalS: Double = (end - start) / 1e3
  }

  val noopSink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Builds and runs `name` once, inside `queries`/`spark` spans. Any
    * exception marks the operation failed; `Caches.release()` always runs,
    * as in `graft.Bench`. */
  def runOp(spark: SparkSession, trace: Trace, data: String, name: String,
            pass: Int, query: (SparkSession, String) => DataFrame,
            sink: DataFrame => Unit = noopSink): Op = {
    val t0 = trace.nowMs
    var tb = t0
    try {
      val df = trace.span("queries", s"$name.build")(query(spark, data))
      tb = trace.nowMs
      trace.span("spark", s"$name.action")(sink(df))
      Op(name, pass, ok = true, t0, tb, trace.nowMs, "")
    } catch {
      case NonFatal(e) =>
        Op(name, pass, ok = false, t0, tb, t0, e.toString.take(500))
    } finally Caches.release()
  }

  def run(args: Main.Args): Map[String, Any] = {
    val cores = Main.hostCores
    val spark = Main.session(cores, args.out)
    val trace = new Trace(spark)
    val rng = new scala.util.Random(args.seed)
    val queries = SparkEntry.queries
    val ops = mutable.ArrayBuffer.empty[Op]

    // set-up: one warm-up pass (pins, JIT, codegen, table resolution). It
    // writes each query's output for the oracle check in run.py, which
    // compares outside set-up and the timed passes.
    val outputs = args.out.resolve("outputs")
    rng.shuffle(QueryMix).foreach(n => ops += runOp(spark, trace, args.data, n, 0, queries(n),
      _.coalesce(1).write.mode("overwrite").parquet(outputs.resolve(n).toString)))
    val pinBuildS = Caches.pinnedBuildSecs(spark).values.sum
    val noise = new Main.HostNoise
    val setupEndMs = trace.nowMs

    // passes until `seconds` have gone by, and at least one
    def passes(first: Int): Seq[(Int, Double, Double)] = {
      val out = mutable.ArrayBuffer.empty[(Int, Double, Double)]
      val deadline = trace.nowMs + args.seconds * 1e3
      var p = first
      while (out.isEmpty || trace.nowMs < deadline) {
        val a = trace.nowMs
        rng.shuffle(QueryMix).foreach(n => ops += runOp(spark, trace, args.data, n, p, queries(n)))
        out += ((p, a, trace.nowMs))
        p += 1
      }
      out.toSeq
    }

    // untraced passes: the end-to-end numbers
    val timed = passes(1)

    // cached / pinned / checkpointed blocks still held after the passes
    val sc = spark.sparkContext
    val heldBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val liveRdds = sc.getPersistentRDDs.size

    var layers = Map.empty[String, Any]
    if (args.trace) {
      trace.attach()
      val gc1 = graft.Bench.gcMillis()
      val traced = passes(timed.last._1 + 1)
      val gcTracedS = (graft.Bench.gcMillis() - gc1) / 1e3
      trace.flush()
      trace.detach()
      // tracing overhead: the same passes again with the listeners off
      val untraced = passes(traced.last._1 + 1)
      val tracedOps = ops.filter(o => traced.exists(_._1 == o.pass)).toSeq
      val n = traced.size.toDouble
      val perOp = tracedOps.map { o =>
        val b = trace.window(o.start, o.buildEnd)
        val w = trace.window(o.start, o.end)
        (o, b, w)
      }
      val wall = traced.map(p => p._3 - p._2).sum / 1e3
      val cpu = perOp.map(_._3.cpuS).sum
      val buildS = tracedOps.map(_.buildS).sum
      val buildBusy = perOp.map(_._2.busyS).sum
      layers = Map(
        "queries.build_s" -> buildS / n,
        "queries.build_jobs" -> perOp.map(_._2.jobs).sum / n,
        "queries.build_self_s" -> (buildS - buildBusy) / n,
        "spark.action_s" -> tracedOps.map(_.actionS).sum / n,
        "spark.jobs" -> perOp.map(_._3.jobs).sum / n,
        "spark.stages" -> perOp.map(_._3.stages).sum / n,
        "spark.tasks" -> perOp.map(_._3.tasks).sum / n,
        "spark.idle_s" -> perOp.map(x => x._1.totalS - x._3.busyS).sum / n,
        "spark.planning_ms" -> perOp.map(_._3.planningMs).sum / n,
        "spark.cpu_s" -> cpu / n,
        "spark.cpu_util" -> cpu / (wall * cores),
        "sources.scan_bytes" -> perOp.map(_._3.inBytes).sum / n,
        "sources.scan_rows" -> perOp.map(_._3.inRecords).sum / n,
        "spark.shuffle_write_bytes" -> perOp.map(_._3.shuffleWrite).sum / n,
        "spark.shuffle_read_bytes" -> perOp.map(_._3.shuffleRead).sum / n,
        "spark.spill_bytes" -> perOp.map(_._3.spill).sum / n,
        "jvm.gc_s" -> gcTracedS / n,
        "caches.pin_build_s" -> pinBuildS,
        "caches.barriers" -> perOp.map(_._3.persistedRdds).sum / n,
        "caches.live_rdds" -> liveRdds,
        "trace.overhead_s" -> (Main.median(traced.map(p => (p._3 - p._2) / 1e3)) -
          Main.median(untraced.map(p => (p._3 - p._2) / 1e3))),
        "per_query_build_jobs" -> perOp.groupBy(_._1.name).map { case (k, v) =>
          k -> v.map(_._2.jobs).sum / n },
        "per_query_jobs" -> perOp.groupBy(_._1.name).map { case (k, v) =>
          k -> v.map(_._3.jobs).sum / n })
      trace.dump(args.out.resolve("trace.json"))
    }
    val context = noise.finish()

    Main.writeJson(outputs.resolve("oracle_sql.json"),
      QueryMix.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    spark.stop()

    Map(
      "workload" -> args.workload,
      "cores" -> cores,
      "setup_s" -> (setupEndMs - args.launchMs) / 1e3,
      "passes" -> timed.map(p => (p._3 - p._2) / 1e3),
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "ok" -> o.ok,
        "build_s" -> o.buildS, "action_s" -> o.actionS, "total_s" -> o.totalS,
        "error" -> o.error)),
      "timed_passes" -> timed.map(_._1),
      "held_mb" -> heldBytes / 1e6,
      "layers" -> layers,
      "context" -> context)
  }
}
