package graftbench

import graft.operators.Dedup
import graft.streaming.ConsumePipeline
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Self-tests of the harness's JVM side, run by `run.py --self-test`:
  * failure accounting, the consume correctness check, and open-loop
  * lateness accounting. Exits non-zero on the first failed expectation.
  *
  * Usage: SelfTest <work dir>
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val spark = Main.session(2, java.nio.file.Paths.get(argv(0)))
    val trace = new Trace(spark)
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: String): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      if (!cond) failures += what
    }

    // a failing operation is counted and not timed
    val bad = BatchWorkload.runOp(spark, trace, "", "boom", 1,
      (_, _) => throw new IllegalStateException("deliberate"))
    expect(!bad.ok && bad.totalS == 0.0 && bad.error.contains("deliberate"),
      "failed operation: marked failed, zero time, error kept")
    val good = BatchWorkload.runOp(spark, trace, "", "range", 1, (s, _) => s.range(1000).toDF())
    expect(good.ok && good.totalS > 0.0, "successful operation: timed")

    // the consume check accepts the batch form and rejects corrupted sinks
    val base = (0 until 200).map(i => (i.toLong, (i % 13).toLong, Seq("click", "view")(i % 2))).toArray
    val inputs = ConsumeWorkload.generate(base, 11L, 4000)
    import spark.implicits._
    val want = ConsumePipeline.route(
      Dedup.keepFirst(ConsumePipeline.fromWire(inputs.rows(0, 4000).toDF("topic", "value")),
        Seq("event_id_s"), Seq("ts")),
      ConsumePipeline.Config(), ConsumeWorkload.failurePredicate)
    def problems(p: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame,
                 r: org.apache.spark.sql.DataFrame): Seq[String] =
      ConsumeWorkload.checkAgainst(spark, inputs, 4000, p, d, r)
    val (p, d, r) = (want.processed.cache(), want.dlq.cache(), want.retry.cache())
    expect(problems(p, d, r).isEmpty, "consume check: batch form passes")
    expect(problems(p.limit(p.count().toInt - 1), d, r).nonEmpty,
      "consume check: a lost processed event fails")
    expect(problems(p.union(p.limit(1)), d, r).nonEmpty,
      "consume check: a duplicated processed event fails")
    expect(problems(p, d, r.limit(0)).nonEmpty, "consume check: a lost retry fails")
    val foreign = d.filter($"event_id_s" === "").limit(1)
      .withColumn("value", org.apache.spark.sql.functions.lit(Array[Byte](1, 2, 3)))
    expect(problems(p, d.union(foreign), r).nonEmpty,
      "consume check: a DLQ row that was never offered fails")

    // open loop: a stalled offer shows as generator lateness, and due times
    // stay on the schedule, so event latency counts the stall
    val t0 = trace.nowMs + 20
    val offers = new AtomicLong(0)
    val gen = new ConsumeWorkload.Generator(_ => { Thread.sleep(25); offers.incrementAndGet() },
      inputs, 0, 800, t0, () => trace.nowMs, new AtomicLong(0))
    gen.run()
    val chunks = gen.chunks
    val late = chunks.map(c => c.offeredMs - c.dueMs)
    expect(chunks.size == 10 && offers.get == 10, "generator: every chunk offered once")
    expect(chunks.zipWithIndex.forall { case (c, i) =>
      math.abs(c.dueMs - (t0 + (i + 1) * ConsumeWorkload.ChunkEvents * 1000.0 /
        ConsumeWorkload.Rate)) < 1e-6 }, "generator: due times follow the schedule, not the offers")
    expect(late.last > 100.0 && late.last > late.head,
      "generator: a 25 ms offer at a 10 ms period accumulates lateness")

    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"${failures.size} self-test(s) failed")
      sys.exit(1)
    }
  }
}
