package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `Caches.scoped` is the release domain of one batch body: it releases
  * exactly what the body registered, on success and on failure, and
  * leaves frames registered outside it cached.
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
}
