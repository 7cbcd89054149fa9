package graft.tools

/** One-off plan audit: for every registry query, count how many separate
  * parquet scans of each fixture table the PHYSICAL plan contains. A
  * table scanned many times in one query is either a deliberate
  * self-join (signature indexes, graph edges) or a missing lineage
  * barrier silently re-running a subtree per consumer — this prints the
  * ranking so the second kind can be hunted instead of guessed at.
  * Analysis-only (plans are built, nothing executes).
  *
  * Usage: runMain graft.tools.ScanAudit [minScans]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val minScans = args.headOption.map(_.toInt).getOrElse(4)
    val spark = graft.Session.local(4, "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val rows = graft.SparkEntry.registry.toSeq.sortBy(_._1).flatMap {
      case (name, d) =>
        try {
          val plan = d.build(spark, dir).queryExecution.executedPlan.toString
          val counts = tables.map(t =>
            t -> s"$t\\.parquet".r.findAllIn(plan).length).filter(_._2 > 0)
          val total = counts.map(_._2).sum
          if (total >= minScans)
            Some((name, total, counts.sortBy(-_._2)
              .map { case (t, c) => s"$t:$c" }.mkString(" ")))
          else None
        } catch {
          case e: Throwable =>
            System.err.println(s"[scan-audit] $name: ${e.toString.take(120)}")
            None
        } finally graft.Caches.release()
    }
    rows.sortBy(-_._2).foreach { case (n, tot, det) =>
      println(f"$tot%3d  $n%-32s $det")
    }
    spark.stop()
  }
}
