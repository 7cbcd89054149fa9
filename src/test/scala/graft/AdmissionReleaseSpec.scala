package graft

import graft.scale.Multimodal
import graft.streaming.{StreamingAdmission, StreamingMediaAdmission}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** An admission batch releases only what it persisted: frames its caller
  * (or another query in the session) holds stay cached, and a batch that
  * fails still releases its own frames.
  */
class AdmissionReleaseSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("d").toString

  test("a text admission batch leaves the caller's persisted frame cached") {
    import spark.implicits._
    val held = Caches.persist(spark.range(1000).toDF("k")
      .withColumn("held", col("k") * 3))
    held.count()
    try {
      StreamingAdmission.admitBatch(
        Seq(Doc(1L, "the quick brown fox jumps over the lazy dog again and again"),
          Doc(2L, "entirely novel sentence about glaciers carving fjords in valleys"))
          .toDF(), 0L, tmp("rel-index"), tmp("rel-out"),
        rejectedDir = Some(tmp("rel-side")))
      assert(held.storageLevel != StorageLevel.NONE,
        "the batch must not unpersist a frame it did not persist")
    } finally held.unpersist()
  }

  test("an image admission batch whose admitted append fails still releases its frames") {
    import spark.implicits._
    def png(seed: Long): Array[Byte] = {
      val (w, h) = Multimodal.pixDims(seed)
      Multimodal.pngEncodeGray(w, h, Multimodal.plantedPixels(w, h, seed, 0))
    }
    val out = java.nio.file.Files.createTempDirectory("rel-fail")
    // the admitted dir is a regular file, so the admitted append cannot
    // write under it
    val admittedFile = java.nio.file.Files.write(out.resolve("admitted"), Array[Byte](1))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val err = intercept[Exception] {
      StreamingMediaAdmission.admitBatch(
        Seq(Img(1L, png(1L)), Img(2L, png(500L))).toDF(), 0L,
        out.resolve("index").toString, admittedFile.toString)
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(t => String.valueOf(t.getMessage).contains(admittedFile.toString)),
      s"the batch should fail with the admitted append's error, got: $err")
    // the index append before it had landed
    assert(spark.read.parquet(out.resolve("index").toString).count() > 0)
    assert(sc.getPersistentRDDs.keySet == before,
      "a failed batch must still release the frames it persisted")
  }
}
