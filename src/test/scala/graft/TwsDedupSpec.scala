package graft

import graft.streaming.TwsDedup
import java.sql.Timestamp
import java.time.Duration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.util.Try

/** Exact processing-time-TTL idempotency: duplicates drop while the TTL
  * state lives and re-admit after expiry — the Redis `SET EX` semantics
  * of the reference (D2/W4), TTL enforced by the state store's native
  * TTLConfig. RocksDB provider, live query + sink polling (the operator
  * targets continuous pipelines, see the TwsDedup scaladoc).
  */
class TwsDedupSpec extends SparkSpec {

  private def ev(id: Long, m: Int) =
    Ev(id, Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), 1L, "click", 1.0, "{}")

  private def survivors(out: String): Seq[(Long, Int)] = {
    import spark.implicits._
    Try(spark.read.parquet(s"$out/rows")
      .select("event_id").as[Long].collect().toSeq
      .groupBy(identity).map { case (k, v) => (k, v.size) }.toSeq.sorted)
      .getOrElse(Seq.empty)
  }

  private def pollUntil(out: String, want: Seq[(Long, Int)], ms: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (survivors(out) != want && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(survivors(out) == want, s"wanted $want got ${survivors(out)}")
  }

  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  private def startQuery(input: MemoryStream[Ev], out: String, ttl: Duration) = {
    import spark.implicits._
    TwsDedup.dedupWithTtl[Ev](input.toDS(), e => e.event_id.toString, ttl)
      .writeStream
      .option("checkpointLocation", s"$out/_cp")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Ev], _: Long) =>
        b.write.mode("append").parquet(s"$out/rows"); ()
      }
      .start()
  }

  test("in-batch and cross-batch duplicates drop while the TTL state lives") {
    withRocksDb {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val out = java.nio.file.Files.createTempDirectory("tws-out").toString
      val input = MemoryStream[Ev]
      val q = startQuery(input, out, Duration.ofMinutes(10))
      try {
        input.addData(ev(1, 0), ev(1, 1), ev(2, 2))
        pollUntil(out, Seq((1L, 1), (2L, 1)))
        input.addData(ev(1, 3), ev(3, 4))          // dup of 1 within TTL + new key
        pollUntil(out, Seq((1L, 1), (2L, 1), (3L, 1)))
      } finally q.stop()
    }
  }

  test("expired TTL state re-admits the key (Redis SET EX semantics)") {
    withRocksDb {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val out = java.nio.file.Files.createTempDirectory("tws2-out").toString
      val input = MemoryStream[Ev]
      val q = startQuery(input, out, Duration.ofSeconds(1))
      try {
        input.addData(ev(7, 0))
        pollUntil(out, Seq((7L, 1)))
        Thread.sleep(2500)                          // let the 1s TTL lapse
        input.addData(ev(7, 5))
        pollUntil(out, Seq((7L, 2)))
      } finally q.stop()
    }
  }
}
