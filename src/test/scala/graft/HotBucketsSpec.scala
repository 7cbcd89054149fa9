package graft

import graft.scale.HotBuckets

/** `HotBuckets.cap` directly, not only through the band-join oracles: the
  * `maxBucket` boundary is inclusive, buckets group on every `keys`
  * column, `Int.MaxValue` is a passthrough, and the helper count column
  * never leaks into the output.
  */
class HotBucketsSpec extends SparkSpec {

  // bucket (1, "a") has 3 rows, (1, "b") 4 rows, (2, "a") 1 row
  private lazy val b = {
    val s = spark
    import s.implicits._
    Seq((1, "a", 10L), (1, "a", 11L), (1, "a", 12L),
      (1, "b", 20L), (1, "b", 21L), (1, "b", 22L), (1, "b", 23L),
      (2, "a", 30L)).toDF("band", "v", "doc_id")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("a bucket of exactly maxBucket rows is kept, maxBucket + 1 is dropped") {
    assert(ids(HotBuckets.cap(b, Seq("band", "v"), maxBucket = 3)) ==
      Seq(10L, 11L, 12L, 30L))
    assert(ids(HotBuckets.cap(b, Seq("band", "v"), maxBucket = 4)) ==
      Seq(10L, 11L, 12L, 20L, 21L, 22L, 23L, 30L))
    assert(ids(HotBuckets.cap(b, Seq("band", "v"), maxBucket = 2)) == Seq(30L))
  }

  test("buckets group on all keys columns") {
    // on band alone, band 1 is one 7-row bucket and is dropped whole
    assert(ids(HotBuckets.cap(b, Seq("band"), maxBucket = 4)) == Seq(30L))
    // on v alone, v = "a" holds 4 rows and v = "b" 4 rows
    assert(ids(HotBuckets.cap(b, Seq("v"), maxBucket = 3)).isEmpty)
    assert(ids(HotBuckets.cap(b, Seq("band", "v"), maxBucket = 3)).size == 4)
  }

  test("maxBucket = Int.MaxValue returns the input frame unchanged") {
    assert(HotBuckets.cap(b, Seq("band", "v"), Int.MaxValue) eq b)
  }

  test("the output schema carries no bucket_n column") {
    val out = HotBuckets.cap(b, Seq("band", "v"), maxBucket = 3)
    assert(out.schema == b.schema)
    assert(!out.columns.contains("bucket_n"))
  }
}
