package graft.tools

/** Dump `.explain("formatted")` for named registry queries (or all) to
  * files: the plan-inspection tool for auditing scan pruning
  * (ReadSchema), filter pushdown (PushedFilters), join strategies and
  * WholeStageCodegen spans, and the before/after plan evidence of an
  * optimization round (`plans/r13/<query>_{before,after}.txt`).
  *
  * Usage:
  *   sbt 'runMain graft.tools.PlanDump <outDir> <suffix> [query ...]'
  * e.g.
  *   sbt 'runMain graft.tools.PlanDump plans/r13 before basket_affinity'
  *
  * Plans are captured at sf0.1 (the bench SF) with the same session conf
  * as Bench. AQE leaves the initial plan visible (isFinalPlan=false) —
  * that is the honest static shuffle/join inventory, same as
  * RegistryPlanAuditSpec's convention.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val sel = if (names.nonEmpty) names else graft.SparkEntry.queries.keys.toSeq.sorted
    sel.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case t: Throwable => System.err.println(s"[plandump] $name failed: $t")
      } finally graft.Caches.release()
    }
    spark.stop()
  }
}
