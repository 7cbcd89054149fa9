package graft

import graft.scale.Similarity
import graft.scale.Similarity.VectorBandPlan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Similarity`, the one vector-similarity kernel, against its
  * definition: a posting pair or match is reported iff the two vectors
  * share at least one (band_idx, bucket) posting, with the 6-decimal
  * rounded cosine as its score (pairs also need score ≥ θ); `topK` is a
  * per-query sort on (score desc, neighbor) and take. The planted
  * clusters mix near copies, band collisions that fail the verify and
  * similar vectors that share no bucket, so the brute force is not
  * vacuous; a source guard keeps every call site on the kernel.
  */
class SimilaritySpec extends SparkSpec {

  private val theta = 0.6
  private val plan = VectorBandPlan(bands = 3, bitsPerBand = 3)
  private type V = (Long, Array[Float])

  private val rnd = new scala.util.Random(20261021L)
  private def gauss(n: Int): Array[Float] = Array.fill(n)(rnd.nextGaussian().toFloat)
  private def near(v: Array[Float], noise: Double): Array[Float] =
    v.map(x => (x + noise * rnd.nextGaussian()).toFloat)

  // eight clusters of five members, noise rising from near copy to
  // unrelated, so cosines to the center span both sides of θ
  private val corpus: Seq[V] = (0 until 8).flatMap { c =>
    val center = gauss(8)
    Seq(0.0, 0.05, 0.4, 0.8, 1.6).zipWithIndex.map { case (noise, j) =>
      (c * 10L + j, near(center, noise))
    }
  }

  /** Spark's `graft_dot_f` fold: double products, left to right from 0. */
  private def dot(a: Array[Float], b: Array[Float]): Double =
    a.indices.foldLeft(0.0d)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
  private def score(a: Array[Float], b: Array[Float]): Double =
    BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def frame(rows: Seq[V]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** id -> its (band_idx, bucket) postings, as the kernel's input holds them. */
  private def bucketsOf(rows: Seq[V]): Map[Long, Set[(Int, Int)]] =
    Similarity.vectorPostings(frame(rows), "vec_id", "embedding", plan).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toSeq
      .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }

  private def triples(df: DataFrame, a: String, b: String): Seq[(Long, Long, Double)] =
    df.select(a, b, "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("postingPairs and postingMatches equal the brute force on planted vectors") {
    graft.functions.Hashing.register(spark)
    val buckets = bucketsOf(corpus)
    val shares = (x: Long, y: Long) => (buckets(x) & buckets(y)).nonEmpty
    val all = for { a <- corpus; b <- corpus if a._1 < b._1 }
      yield (a._1, b._1, score(a._2, b._2))
    // the frame really plants what it claims
    assert(all.exists { case (x, y, s) => shares(x, y) && s < theta },
      "no band collision that fails the verify")
    assert(all.exists { case (x, y, s) => !shares(x, y) && s >= theta },
      "no similar pair without a shared bucket")
    assert(all.count { case (x, y, s) => shares(x, y) && s >= theta } >= 8)

    val want = all.filter { case (x, y, s) => shares(x, y) && s >= theta }.toSet
    val got = triples(Similarity.postingPairs(
      Similarity.vectorPostings(frame(corpus), "vec_id", "embedding", plan),
      Similarity.vectorSide(frame(corpus), "vec_id", "embedding"), theta), "id_a", "id_b")
    assert(got.size == got.toSet.size, "postingPairs must be distinct")
    assert(got.toSet == want)

    // cross-probe: perturbed copies under new ids plus unrelated vectors
    // against the corpus as the index; every sharing pair, unthresholded
    val probe: Seq[V] = corpus.filter(_._1 % 3 == 0).map(v => (v._1 + 1000L, near(v._2, 0.2))) ++
      (0 until 6).map(i => (2000L + i, gauss(8)))
    val pb = bucketsOf(probe)
    val wantX = (for { b <- probe; c <- corpus if (pb(b._1) & buckets(c._1)).nonEmpty }
      yield (b._1, c._1, score(b._2, c._2))).toSet
    assert(wantX.exists(_._3 < theta) && wantX.exists(_._3 >= theta))
    val gotX = triples(Similarity.postingMatches(
      Similarity.vectorPostings(frame(probe), "vec_id", "embedding", plan),
      Similarity.vectorSide(frame(probe), "vec_id", "embedding"),
      Similarity.vectorPostings(frame(corpus), "vec_id", "embedding", plan),
      Similarity.vectorSide(frame(corpus), "vec_id", "embedding")), "b_id", "c_id")
    assert(gotX.size == gotX.toSet.size, "postingMatches must be distinct")
    assert(gotX.toSet == wantX)
  }

  test("topK equals a per-query sort on (score desc, neighbor) and take") {
    val s = spark
    import s.implicits._
    // scores on a coarse grid, so ties on score are common and the
    // neighbor id must break them
    val scored = for { q <- 1L to 5L; n <- 1L to 12L if n != q }
      yield (q, n, ((q * 7 + n * 3) % 5) / 4.0)
    val k = 4
    val want = scored.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
        .map { case ((q, n, sc), i) => (q, n, sc, i + 1) }
    }.toSet
    val got = Similarity.topK(scored.toDF("query_id", "neighbor_id", "score"), k)
      .select("query_id", "neighbor_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want)
  }

  test("one kernel: only Similarity spells the rounded cosine or a posting join") {
    val cosine = """dot\((?:[^()]|\([^()]*\))*\)\s*/\s*\(""".r
    val postingJoin = ("""band_idx"\)\s*===\s*col\("[\w.]*band_idx"\)\s*&&\s*col\("[\w.]*bucket"\)""" +
      """|,\s*Seq\("band_idx",\s*"bucket"\)""").r
    val bandHash = java.util.regex.Pattern.quote("""col("l.band_hash") === col("r.band_hash")""").r
    val home = "graft/scale/Similarity.scala"
    val sources = MainSources.all.toMap
    val kernel = sources(home)
    assert(cosine.findAllIn(kernel).size == 1, s"$home must spell the rounded cosine once")
    assert(postingJoin.findAllIn(kernel).size == 2,
      s"$home must hold one posting self-join and one cross-probe")
    assert("""row_number\(\)""".r.findAllIn(kernel).size == 1, s"$home must rank once")
    val offenders = sources.toSeq.filter(_._1 != home).flatMap { case (f, src) =>
      val c = cosine.findAllIn(src).size
      val p = postingJoin.findAllIn(src).size
      val h = if (f == "graft/scale/NearDup.scala") 0 else bandHash.findAllIn(src).size
      if (c + p + h > 0) Some(s"$f: $c cosine(s), $p posting join(s), $h band_hash join(s)")
      else None
    }
    assert(offenders.isEmpty,
      s"vector similarity outside $home (band_hash joins outside NearDup):\n" +
        offenders.mkString("\n"))
  }
}
