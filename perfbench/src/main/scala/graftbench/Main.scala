package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** Benchmark JVM entry point. Runs one workload against the engine's public
  * entry points and writes raw samples (not statistics) to
  * `<out>/result.json`; `perfbench/run.py` turns them into metrics, runs the
  * oracle check and prints the result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <sf dir> --out <work dir> --launch-ms <epoch ms>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: Path,
                        launchMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("out")),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  /** Executor threads: the host's cores, capped at 4 so runs stay small
    * and comparable across hosts. */
  def hostCores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  /** Session settings of `graft.Bench`: UTC, nanosAsLong, UI off,
    * shuffle partitions = executor threads. */
  def session(executorThreads: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$executorThreads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", executorThreads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Phase marker in the harness log. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${System.currentTimeMillis() / 1e3}%.3f] $msg")

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, json.writeValueAsBytes(v))
  }

  /** Host-noise context: recorded beside the metrics, never gated. Uses
    * the engine's own /proc probes (`graft.Bench`). */
  final class HostNoise {
    private val c0 = graft.Bench.cpuSample()
    private val t0 = System.nanoTime()
    private val load1Before = graft.Bench.load1()
    private val jvmsBefore = graft.Bench.foreignJvms()
    def finish(): Map[String, Any] = {
      val c1 = graft.Bench.cpuSample()
      val dt = (System.nanoTime() - t0) / 1e9
      val foreignCores =
        if (c0._1 < 0 || c1._1 < 0 || dt <= 0) -1.0
        else ((c1._1 - c0._1) - (c1._2 - c0._2)) / (dt * 100.0) // USER_HZ jiffies
      Map("foreign_cpu_cores" -> foreignCores, "load1_before" -> load1Before,
        "load1_after" -> graft.Bench.load1(),
        "foreign_jvms" -> math.max(jvmsBefore, graft.Bench.foreignJvms()))
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val result: Map[String, Any] = args.workload match {
      case "query_mix"      => BatchWorkload.run(args)
      case "consume_stream" => ConsumeWorkload.run(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    writeJson(args.out.resolve("result.json"), result)
  }
}
