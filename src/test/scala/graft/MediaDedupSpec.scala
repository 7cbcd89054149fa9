package graft

import graft.scale.MediaDedup
import org.apache.spark.sql.DataFrame

/** `MediaDedup`, the one band-hash near-duplicate kernel, against its
  * definition: a pair is reported iff it shares at least one (band, v)
  * bucket no wider than `maxBucket` (counted over the capped side) and
  * its four-band Hamming distance is ≤ k. The hand-built frame plants the
  * cases a kernel bug would flip, so the brute force is not vacuous; a
  * source guard keeps every modality on the kernel.
  */
class MediaDedupSpec extends SparkSpec {

  private val k = 3
  private val maxBucket = 4
  private type H = (Long, Int, Int, Int, Int)

  private def flip(v: Int, bits: Int*): Int = bits.foldLeft(v)((x, b) => x ^ (1 << b))

  private val rnd = new scala.util.Random(20261019L)
  private def r16(): Int = rnd.nextInt(65536)

  private val hotV = 7
  // six docs share band-0 value 7: wider than maxBucket, so it is hot
  private val hot: Seq[H] = {
    val d1 = (1L, hotV, r16(), r16(), r16())
    // doc 2 is doc 1 at Hamming 3 (≤ k) whose ONLY shared bucket is the
    // hot one: the pair must be absent
    val d2 = (2L, hotV, flip(d1._3, 0), flip(d1._4, 5), flip(d1._5, 9))
    Seq(d1, d2) ++ (3L to 6L).map(i => (i, hotV, r16(), r16(), r16()))
  }
  private val planted: Seq[H] = {
    val a = (10L, r16(), r16(), r16(), r16())
    // Hamming k + 1 across one band, three cool shared buckets: absent
    val b = (11L, flip(a._2, 0, 3, 7, 12), a._3, a._4, a._5)
    val c = (12L, r16(), r16(), r16(), r16())
    // Hamming exactly k through shared cool buckets: present
    val d = (13L, flip(c._2, 1, 2), flip(c._3, 4), c._4, c._5)
    val e = (14L, r16(), r16(), r16(), r16())
    // exact copy: Hamming 0, all four buckets shared
    val f = e.copy(_1 = 15L)
    // band-3 value 0x1234 shared by exactly maxBucket docs, and 20/21
    // at Hamming k share nothing else: kept, so the pair is present
    val base = (20L, r16(), r16(), r16(), 0x1234)
    val edge = Seq(base,
      (21L, flip(base._2, 1), flip(base._3, 2), flip(base._4, 3), 0x1234),
      (22L, r16(), r16(), r16(), 0x1234), (23L, r16(), r16(), r16(), 0x1234))
    // one flip per band, Hamming 4 > k and no shared bucket either way
    val g = (30L, r16(), r16(), r16(), r16())
    val h = (31L, flip(g._2, 0), flip(g._3, 0), flip(g._4, 0), flip(g._5, 0))
    Seq(a, b, c, d, e, f) ++ edge ++ Seq(g, h)
  }
  private val background: Seq[H] = (100L until 130L).map(i => (i, r16(), r16(), r16(), r16()))
  private val corpus: Seq[H] = hot ++ planted ++ background

  private def bands(x: H): Seq[Int] = Seq(x._2, x._3, x._4, x._5)
  private def ham(x: H, y: H): Int =
    bands(x).zip(bands(y)).map { case (p, q) => Integer.bitCount(p ^ q) }.sum
  private def widths(side: Seq[H]): Map[(Int, Int), Int] =
    side.flatMap(x => bands(x).zipWithIndex.map { case (v, j) => (j, v) })
      .groupBy(identity).map { case (key, rows) => key -> rows.size }

  /** The definition, by brute force over every (a, b) combination. */
  private def bruteForce(left: Seq[H], right: Seq[H], counted: Seq[H],
                         keep: (H, H) => Boolean): Set[(Long, Long, Int)] = {
    val w = widths(counted)
    (for {
      a <- left; b <- right if keep(a, b)
      if (0 until 4).exists(j => bands(a)(j) == bands(b)(j) &&
        w((j, bands(a)(j))) <= maxBucket)
      d = ham(a, b) if d <= k
    } yield (a._1, b._1, d)).toSet
  }

  private def frame(rows: Seq[H]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  private def collected(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  test("pairs and crossPairs equal the brute-force definition on a planted frame") {
    // the frame really plants what it claims
    assert(widths(corpus)((0, hotV)) > maxBucket)
    assert(widths(corpus)((3, 0x1234)) == maxBucket)
    assert(ham(hot(0), hot(1)) <= k)

    val want = bruteForce(corpus, corpus, corpus, (a, b) => a._1 < b._1)
    val got = collected(MediaDedup.pairs(frame(corpus), k, maxBucket))
    assert(got.size == got.toSet.size, "pairs must be distinct")
    assert(got.toSet == want)
    assert(!want.exists(p => p._1 == 1L && p._2 == 2L), "hot-only pair leaked")
    assert(!want.exists(p => p._1 == 10L && p._2 == 11L), "k + 1 pair leaked")
    assert(want.contains((12L, 13L, k)) && want.contains((14L, 15L, 0)))
    assert(want.contains((20L, 21L, k)), "maxBucket-wide bucket dropped")
    assert(!want.exists(p => p._1 == 30L && p._2 == 31L))
    assert(MediaDedup.phashDuplicates(frame(corpus), k, maxBucket)
      .collect().map(_.getLong(0)).toSet == want.map(_._2))

    // cross-set: the index is the corpus, the probe copies planted docs
    // under new ids; only the index side's bucket widths count
    val probe: Seq[H] = Seq(hot(1), planted(1), planted(3), planted(4),
      planted(7), background(0)).map(x => x.copy(_1 = x._1 + 1000L))
    val wantX = bruteForce(corpus, probe, corpus, (_, _) => true)
    val gotX = collected(MediaDedup.crossPairs(
      MediaDedup.bandRows(frame(corpus)), frame(probe), k, maxBucket))
    assert(gotX.size == gotX.toSet.size, "crossPairs must be distinct")
    assert(gotX.toSet == wantX)
    assert(!wantX.exists(p => p._1 == 1L && p._2 == 1002L), "hot-only probe leaked")
    assert(wantX.contains((100L, 1100L, 0)))
    val verdicts = MediaDedup.admitAgainst(MediaDedup.bandRows(frame(corpus)),
      frame(probe), k, maxBucket).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts == probe.map(x => x._1 -> wantX.exists(_._2 == x._1)).toMap)
  }

  test("bandRows keeps the persisted image/audio and video index layouts") {
    assert(MediaDedup.bandRows(frame(corpus)).columns.toSeq ==
      Seq("doc_id", "band", "v", "b0", "b1", "b2", "b3"))
    val video = frame(corpus).withColumnRenamed("doc_id", "video_id")
      .withColumn("pos", org.apache.spark.sql.functions.lit(0))
    assert(MediaDedup.bandRows(video, Seq("video_id", "pos")).columns.toSeq ==
      Seq("video_id", "pos", "band", "v", "b0", "b1", "b2", "b3"))
    assert(MediaDedup.bandRows(frame(corpus)).count() == 4L * corpus.size)
  }

  test("one kernel: no src/main file but MediaDedup melts bands or sums band Hamming") {
    val melt = """struct(lit(0).as("band")"""
    val hamming = """bit_count\([\w.]*0 \^""".r
    val home = "graft/scale/MediaDedup.scala"
    val sources = MainSources.all.toMap
    assert(sources.get(home).exists(_.contains(melt)), s"$home must hold the melt")
    val offenders = sources.toSeq.filter(_._1 != home).flatMap { case (f, src) =>
      val n = java.util.regex.Pattern.quote(melt).r.findAllIn(src).size
      val m = hamming.findAllIn(src).size
      if (n + m > 0) Some(s"$f: $n melt(s), $m Hamming copy(ies)") else None
    }
    assert(offenders.isEmpty,
      s"band melt / four-band Hamming outside $home:\n${offenders.mkString("\n")}")
  }
}
