package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `Caches.scoped` is the release domain of one batch body: it releases
  * exactly what the body registered, on success and on failure, and
  * leaves frames registered outside it cached. A barrier registers only
  * its own RDD, whatever other threads persist meanwhile.
  */
class CachesScopedSpec extends SparkSpec {

  test("scoped releases only the frames its body registered, and also when the body throws") {
    val sc = spark.sparkContext
    val outside = Caches.persist(spark.range(200).toDF("k")
      .withColumn("sq", col("k") * col("k")))
    outside.count()
    try {
      var inside: DataFrame = null
      val n = Caches.scoped {
        inside = Caches.persist(spark.range(300).toDF("k")
          .withColumn("tag", lit("inside")))
        inside.count()
      }
      assert(n == 300L)
      assert(inside.storageLevel == StorageLevel.NONE)
      assert(outside.storageLevel != StorageLevel.NONE,
        "a frame persisted before the scope must survive it")

      val before = sc.getPersistentRDDs.keySet
      var failed: DataFrame = null
      val err = intercept[IllegalStateException] {
        Caches.scoped {
          failed = Caches.persist(spark.range(400).toDF("k")
            .withColumn("tag", lit("failed")))
          failed.count()
          Caches.lazyBarrier(spark.range(500).toDF("k")).count()
          throw new IllegalStateException("batch body failed")
        }
      }
      assert(err.getMessage == "batch body failed")
      assert(failed.storageLevel == StorageLevel.NONE)
      assert(sc.getPersistentRDDs.keySet == before,
        "a throwing body must still release its frames and barriers")
      assert(outside.storageLevel != StorageLevel.NONE)
    } finally Caches.release()
    assert(outside.storageLevel == StorageLevel.NONE,
      "release() still owns frames registered outside any scope")
  }

  test("a lazyBarrier registers only its own RDD while another thread pins a frame") {
    import CachesScopedSpec.{buildSideStarted, pinMade}
    val sc = spark.sparkContext
    // creating the barrier runs its broadcast build side (AQE): the UDF
    // there holds that job open until the other thread has made its pin
    val hold = udf { (id: Long) =>
      buildSideStarted.countDown()
      pinMade.await(60, TimeUnit.SECONDS)
      id
    }
    val joined = spark.range(0, 1000).toDF("k").join(broadcast(
      spark.range(0, 64, 1, 1).toDF("id").select(hold(col("id")).as("k"))), "k")
    @volatile var barrierError: Throwable = null
    val barrierThread = new Thread(() =>
      try Caches.lazyBarrier(joined)
      catch { case e: Throwable => barrierError = e })
    barrierThread.start()
    try {
      assert(buildSideStarted.await(60, TimeUnit.SECONDS),
        s"the barrier's build side never started: $barrierError")
      // kept referenced: getPersistentRDDs holds its RDDs weakly
      val pin = Caches.pinnedBarrier(spark.range(0, 100).toDF("id"))
      val pinRdd = pin.queryExecution.logical.collectFirst {
        case r: LogicalRDD => r.rdd
      }.get
      pinMade.countDown()
      barrierThread.join(120000)
      assert(!barrierThread.isAlive && barrierError == null,
        s"the barrier did not finish cleanly: $barrierError")
      Caches.release()
      assert(sc.getPersistentRDDs.contains(pinRdd.id),
        s"release() unpersisted another thread's pin: ${pinRdd.id}")
      assert(pin.count() == 100)
      pinRdd.unpersist(blocking = false)
    } finally {
      pinMade.countDown()
      barrierThread.join(120000)
    }
  }
}

object CachesScopedSpec {
  // reached from the UDF on executor threads of this JVM (local mode):
  // a latch captured in the closure would be a serialized copy
  val buildSideStarted = new CountDownLatch(1)
  val pinMade = new CountDownLatch(1)
}
