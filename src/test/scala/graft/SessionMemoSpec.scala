package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Structural pins for the session-pinned frame machinery behind the
  * capstone prefix sharing (Caches.sessionMemo + pinnedBarrier): memo
  * identity, release()-survival, the builder as its own release scope,
  * and the end-to-end property that two capstone queries really do read
  * the SAME materialized stage frames.
  */
class SessionMemoSpec extends SparkSpec {

  test("sessionMemo returns the same instance per (session, key); keys are independent") {
    var builds = 0
    def mk(): java.lang.Long = { builds += 1; java.lang.Long.valueOf(builds.toLong) }
    val a1 = Caches.sessionMemo(spark, "memo-spec-a")(mk())
    val a2 = Caches.sessionMemo(spark, "memo-spec-a")(mk())
    val b = Caches.sessionMemo(spark, "memo-spec-b")(mk())
    assert(a1 eq a2, "same key must return the memoized instance, not rebuild")
    assert(builds == 2 && b == 2L, "distinct keys build independently, exactly once each")
  }

  test("pinnedBarrier frames survive Caches.release(); lazyBarrier frames do not") {
    val sc = spark.sparkContext
    Caches.release()
    val base = spark.range(0, 1000).toDF("id").withColumn("x", col("id") * 2)
    val before = sc.getPersistentRDDs.keySet
    val pinned = Caches.pinnedBarrier(base)
    val tracked = Caches.lazyBarrier(base.withColumn("y", col("x") + 1))
    assert(pinned.count() == 1000 && tracked.count() == 1000) // materialize both
    val added = sc.getPersistentRDDs.keySet.diff(before)
    assert(added.nonEmpty, "both barriers should have registered blocks")
    Caches.release()
    val surviving = sc.getPersistentRDDs.keySet.diff(before)
    assert(surviving.nonEmpty,
      "the pinned barrier's blocks must SURVIVE release() — that is the whole point")
    assert(surviving.size < added.size,
      "the tracked lazyBarrier's blocks must be gone after release()")
    // and the pinned frame is still computable after release
    assert(pinned.count() == 1000)
    surviving.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  test("a memo's pin over its builder's lazyBarrier survives release() before its first read") {
    Caches.release()
    val pin = Caches.sessionMemo(spark, "memo-spec-pin-over-barrier") {
      val grouped = Caches.lazyBarrier(spark.range(0, 1000).toDF("id")
        .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n")))
      Caches.pinnedBarrier(grouped.as("a").join(grouped.as("b"), "k"))
    }
    Caches.release()
    assert(pin.count() == 10, "the pin must not need its builder's barrier blocks")
    pin.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
  }

  test("a memo that returns a driver value releases the frames its builder registered") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val n = Caches.sessionMemo(spark, "memo-spec-plain-value") {
      Caches.persist(spark.range(0, 500).toDF("id")
        .withColumn("sq", col("id") * col("id"))).count()
    }
    assert(n == 500L)
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the builder's persisted frame must be released when the builder returns")
  }

  test("capstone queries share ONE pinned prefix: second build adds no new jobs-scale work") {
    graft.functions.Hashing.register(spark)
    val dir = "/root/testdata/sf0.001"
    // first capstone build materializes the memoized chain (its pins are
    // eager); afterwards v4 and the audit must reference the SAME
    // barriered frames — pin via the stage-frame identity
    val s1 = graft.queries.ScaleQueries.corpusStages(spark, dir)
    val s2 = graft.queries.ScaleQueries.corpusStages(spark, dir)
    assert(s1 eq s2, "corpusStages must be memoized per (session, dir)")
    // release() between queries (Verify/Bench do this) must not break a
    // later consumer of the pinned frames
    Caches.release()
    assert(s1.sem.count() > 0, "pinned stage frames stay usable after release()")
    assert(s1.ded.count() >= s1.sem.count(),
      "dedup survivors can only shrink through the chain")
  }
}
