package graft

import graft.scale.Similarity
import graft.streaming.StreamingVectorAdmission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class Vec(vec_id: Long, embedding: Array[Float])

/** Streaming vector admission: cross-batch near-dup rejection through the
  * persisted banded index only, intra-batch dedup via band collision +
  * cosine verify, replay idempotency via per-batch partition overwrite —
  * the embedding twin of StreamingAdmissionSpec.
  */
class StreamingVectorAdmissionSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("d").toString

  // 16-dim vectors; near-dups are small perturbations (cosine ~0.999 —
  // plane-sum signs almost always survive, so every band still collides),
  // distinct vectors differ in direction (cosine << threshold even on
  // band collisions, so the exact-cosine verify rejects them)
  private def base(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)
  }
  private def perturb(v: Array[Float]): Array[Float] =
    v.map(x => x + 0.01f * math.signum(x))

  // deployment-time geometry: sized for the corpus the stream grows to
  // (the spec's point is the plumbing; plan choice is spec'd in
  // VectorBandPlanSpec) — n=1000 -> (2 bands x 5 bits)
  private val plan = Similarity.vectorBandPlanAuto(1000L)

  test("cross/intra-batch vector near-dups rejected; replay idempotent") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexDir = tmp("vadm-index")
    val admittedDir = tmp("vadm-out")

    val a = base(1); val b = base(2); val c = base(3); val d = base(4)
    val input = MemoryStream[Vec]
    val q = StreamingVectorAdmission.start(
      input.toDF(), indexDir, admittedDir, tmp("vadm-ckpt"), plan,
      threshold = 0.95)
    try {
      // batch 0: two distinct vectors
      input.addData(Vec(1L, a), Vec(2L, b))
      q.processAllAvailable()
      // batch 1: near-dup of vector 1 (cross-batch), a fresh vector, and
      // an intra-batch near-dup pair (5, 6) — smaller id survives
      input.addData(Vec(4L, perturb(a)), Vec(3L, c),
        Vec(5L, d), Vec(6L, perturb(d)))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted.contains(1L) && admitted.contains(2L))
    assert(!admitted.contains(4L), "cross-batch near-dup must be rejected via the index")
    assert(admitted.contains(3L))
    assert(admitted.contains(5L) && !admitted.contains(6L),
      "intra-batch pair: smaller id survives")

    // replay batch 1 under the same id: partition overwritten, no dups
    import spark.implicits._
    val before = spark.read.parquet(indexDir).count()
    StreamingVectorAdmission.admitBatch(
      Seq(Vec(4L, perturb(a)), Vec(3L, c), Vec(5L, d), Vec(6L, perturb(d)))
        .toDF(), 1L, indexDir, admittedDir, plan, threshold = 0.95)
    assert(spark.read.parquet(indexDir).count() == before)
    assert(spark.read.parquet(admittedDir)
      .filter(col("vec_id") === 3L).count() == 1)

    // the index carries one INT-ONLY posting row per (admitted id x band);
    // the float vectors live once per id in admittedDir
    val idx = spark.read.parquet(indexDir)
    assert(idx.select("id").distinct().count() == admitted.size.toLong)
    assert(idx.groupBy("id").count().select(max("count")).head().getLong(0)
      == plan.bands.toLong)
    assert(!idx.schema.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      "posting index must not carry vector payloads")
  }

  test("semantic gate drops vectors near the held-out suite before dedup and the index") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexDir = tmp("vgate-index")
    val admittedDir = tmp("vgate-out")

    val evalVec = base(42); val fresh = base(7)
    val bench = Seq(Vec(900L, evalVec)).toDF()
    val gate = StreamingVectorAdmission.SemanticGate.forSuite(bench)
    assert(gate.contaminated(perturb(evalVec).toSeq))
    assert(!gate.contaminated(fresh.toSeq))

    val input = MemoryStream[Vec]
    val q = StreamingVectorAdmission.start(
      input.toDF(), indexDir, admittedDir, tmp("vgate-ckpt"), plan,
      threshold = 0.95, gate = Some(gate))
    try {
      input.addData(
        Vec(1L, perturb(evalVec)), // semantically the eval vector: dropped
        Vec(2L, fresh))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == Set(2L), s"expected only the clean vector, got $admitted")
    val indexed = spark.read.parquet(indexDir)
      .select("id").distinct().as[Long].collect().toSet
    assert(indexed == Set(2L), s"index must not contain gated vectors, got $indexed")
  }

  test("a cosine in [θ − 5e-7, θ) is a dup in stream and batch alike") {
    import spark.implicits._
    val theta = 0.999
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0d)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
    def cos(x: Array[Float], y: Array[Float]): Double =
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    // b(t) = a + t·u drifts away from a as t grows: bisect t so the
    // unrounded cosine lands in [θ − 5e-7, θ), where round(·, 6) = θ
    val a = base(11); val u = base(12)
    def at(t: Double) = a.indices.map(i => (a(i) + t * u(i)).toFloat).toArray
    val target = theta - 2.5e-7
    var (lo, hi) = (0.0, 1.0)
    for (_ <- 0 until 60) {
      val mid = (lo + hi) / 2
      if (cos(a, at(mid)) > target) lo = mid else hi = mid
    }
    val b = at(hi)
    val pair = Seq(Vec(1L, a), Vec(2L, b)).toDF()
    // the plant is what it claims, in Spark's own arithmetic: unrounded
    // below θ, rounded to θ, and the two vectors share a band bucket
    val c = pair.as("x").join(pair.as("y"), col("x.vec_id") === 1L && col("y.vec_id") === 2L)
      .select(Similarity.dot(col("x.embedding"), col("y.embedding")) /
        (Similarity.norm(col("x.embedding")) * Similarity.norm(col("y.embedding"))))
      .head().getDouble(0)
    assert(c >= theta - 5e-7 && c < theta, s"planted cosine $c")
    assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble == theta)
    val posts = Similarity.vectorPostings(pair, "vec_id", "embedding", plan)
    assert(posts.filter(col("id") === 1L).select("band_idx", "bucket")
      .intersect(posts.filter(col("id") === 2L).select("band_idx", "bucket")).count() > 0,
      "the planted pair must share a band bucket")

    // the batch twin calls 2 a duplicate of the indexed 1
    val first = pair.filter(col("vec_id") === 1L)
    val second = pair.filter(col("vec_id") === 2L)
    val verdict = Similarity.admitAgainstVectors(
      Similarity.vectorPostings(first, "vec_id", "embedding", plan), first, second,
      "vec_id", "embedding", theta, plan).select("is_dup").head().getBoolean(0)
    assert(verdict, "the batch twin must call the planted pair a duplicate")

    // the stream agrees, across batches (the index probe) ...
    val indexDir = tmp("vround-index")
    val admittedDir = tmp("vround-out")
    StreamingVectorAdmission.admitBatch(first, 0L, indexDir, admittedDir, plan,
      threshold = theta)
    StreamingVectorAdmission.admitBatch(second, 1L, indexDir, admittedDir, plan,
      threshold = theta)
    def admitted(dir: String) =
      spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    assert(admitted(admittedDir) == Set(1L), "cross-batch verdict differs from the batch twin")
    // ... and within one batch (the intra-batch pairs)
    val intraDir = tmp("vround-intra-out")
    StreamingVectorAdmission.admitBatch(pair, 0L, tmp("vround-intra-index"), intraDir,
      plan, threshold = theta)
    assert(admitted(intraDir) == Set(1L), "intra-batch verdict differs from the batch twin")
  }

  test("tombstones mask the vector index: near-dup of a deleted-only vector re-admits") {
    import spark.implicits._
    val indexDir = tmp("vtomb-index")
    val admittedDir = tmp("vtomb-out")
    val tombDir = tmp("vtomb-ids")
    val a = base(1)
    val b = base(2)
    StreamingVectorAdmission.admitBatch(
      Seq(Vec(1L, a), Vec(2L, b)).toDF(), 0L, indexDir, admittedDir, plan,
      threshold = 0.95)
    // right-to-be-forgotten for vector 1 between batches
    Seq(1L).toDF("vec_id").write.parquet(tombDir)
    StreamingVectorAdmission.admitBatch(
      Seq(Vec(4L, perturb(a)), Vec(5L, perturb(b))).toDF(), 1L,
      indexDir, admittedDir, plan, threshold = 0.95,
      tombstonesDir = Some(tombDir))
    val admitted = spark.read.parquet(admittedDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted.contains(4L),
      s"near-dup of the deleted-only vector must re-admit, got $admitted")
    assert(!admitted.contains(5L),
      s"near-dup of the surviving vector must stay rejected, got $admitted")
  }
}
