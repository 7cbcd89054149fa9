package graft

import graft.operators.Envelope
import graft.sources.Tables
import graft.streaming.ReplayJob
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** §3.3 replay as a bounded AvailableNow streaming job over a file source,
  * equal to the batch replay query; plus the RocksDB state store backing
  * the dedup state (the at-scale provider).
  */
class ReplayJobSpec extends SparkSpec {

  test("AvailableNow replay drains the window and stops; matches batch form") {
    val srcSchema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val out = java.nio.file.Files.createTempDirectory("replay").toString
    // the file-stream source wants a directory; stage the fixture into one
    val srcDir = java.nio.file.Files.createTempDirectory("replay-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      srcDir.resolve("events.parquet"))
    val from = Timestamp.valueOf("2024-01-02 00:00:00")
    val to = Timestamp.valueOf("2024-01-04 00:00:00")

    val q = ReplayJob.start(spark, srcDir.toString, srcSchema, out,
      ReplayJob.Config(from, to, filter = col("value") >= 10.0))
    q.awaitTermination(120000)

    val replayed = spark.read.parquet(s"$out/replayed")
    assert(replayed.columns.contains("replay_target"))
    val batch = Envelope.withEnvelope(Tables.events(spark, sf()))
      .filter(col("ts").between(lit(from), lit(to)) && col("value") >= 10.0)
    assert(replayed.count() == batch.count())
    assert(replayed.select("replay_target").distinct().collect()
      .forall(_.getString(0).endsWith(".replay")))
  }

  test("a restart that replays a committed-but-unacknowledged batch does not append it twice") {
    val srcSchema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val out = java.nio.file.Files.createTempDirectory("replay-restart").toString
    val srcDir = java.nio.file.Files.createTempDirectory("replay-restart-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      srcDir.resolve("events.parquet"))
    val from = Timestamp.valueOf("2024-01-02 00:00:00")
    val to = Timestamp.valueOf("2024-01-04 00:00:00")
    val cfg = ReplayJob.Config(from, to)
    def run(): Unit = {
      val q = ReplayJob.start(spark, srcDir.toString, srcSchema, out, cfg)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"replay failed: ${q.exception}")
    }

    run()
    // crash after the sink wrote but before the checkpoint recorded the
    // commit: drop the last commit, so the restart replays that batch
    val commits = new java.io.File(s"$out/_checkpoint/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .maxBy(_.toLong)
    new java.io.File(commits, last).delete()
    new java.io.File(commits, s".$last.crc").delete()
    run()

    val batch = Envelope.withEnvelope(Tables.events(spark, sf()))
      .filter(col("ts").between(lit(from), lit(to)))
    assert(spark.read.parquet(s"$out/replayed").count() == batch.count())
  }

  test("dedup state runs on the RocksDB provider (at-scale state backend)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = java.nio.file.Files.createTempDirectory("rocksdb-dedup").toString
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
      val q = graft.streaming.ConsumePipeline.start(
        Envelope.withEnvelope(input.toDF()), out, availableNow = false)
      input.addData(
        Ev(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
        Ev(1L, Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
        Ev(2L, Timestamp.valueOf("2024-01-01 10:06:00"), 1L, "click", 1.0, "{}"))
      q.processAllAvailable()
      q.stop()
      val ids = spark.read.parquet(s"$out/processed")
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L), "duplicate suppressed under RocksDB provider")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
