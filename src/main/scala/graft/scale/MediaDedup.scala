package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The one band-hash near-duplicate kernel. Every media modality hashes
  * to 64 bits packed as four 16-bit bands `b0..b3`: image aHash over
  * REAL decoded pixels ([[Multimodal.perceptualHashPng]]), audio
  * energy-difference fingerprints ([[AudioDedup]]), video keyframe
  * hashes ([[AviMjpeg]]) and the image side of image–caption pairs
  * ([[CrossModal]]). A candidate pair must agree EXACTLY on ≥1 band
  * (bit-space band blocking — the pigeonhole guarantee of an untouched
  * 16-bit quarter holds only for ≤ 3 flipped bits of 64; beyond that an
  * edit spread one flip per band defeats blocking, so band agreement is
  * the empirical recall/cost knob — the detector eval measures the
  * recall it actually buys, 0.856 vs planted clones, instead of
  * asserting it), then verify Hamming ≤ `maxHamming`.
  *
  * This object is the only place that melts a hash frame into band rows
  * or computes the four-band distance; the modalities call it:
  *   - [[bandRows]] — the melt (also the persisted index layout);
  *   - [[hamming]] — the four-band distance over two aliased sides;
  *   - [[pairs]] — the capped fused-verify self-join;
  *   - [[crossPairs]] — probe hashes against an index's band rows.
  * [[phashDuplicates]] and [[admitAgainst]] are the intra-set drop and
  * the admission verdicts built on them. Video keeps its own blocking
  * keys (keyframe position, offset votes) but melts and verifies here.
  *
  * 100 TB posture: the only shuffle columns are (band, v) ints and the
  * 4×16-bit hash — payloads never move; per-batch admission cost is
  * O(batch + bucket collisions), never O(index); the index is parquet
  * band rows, so corpus size is bounded by object storage, not memory.
  */
object MediaDedup {

  /** (doc_id, b0..b3) perceptual hashes from media payloads (undecodable
    * payloads are absent — callers needing an audit row anti-join back).
    */
  def phashes(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.perceptualHashPng(media).toDF()

  /** Melted band rows carrying the full hash (the fused-verify trick:
    * one bucket join, no hash re-join): (keys…, band, v, b0..b3). This
    * is the persisted index layout — `(doc_id, band, v, b0..b3)` for
    * image/audio, `(video_id, pos, band, v, b0..b3)` for video.
    */
  def bandRows(h: DataFrame, keys: Seq[String] = Seq("doc_id")): DataFrame = {
    val hash = Seq(col("b0"), col("b1"), col("b2"), col("b3"))
    h.select(keys.map(col) ++ (explode(array(
        struct(lit(0).as("band"), col("b0").as("v")),
        struct(lit(1).as("band"), col("b1").as("v")),
        struct(lit(2).as("band"), col("b2").as("v")),
        struct(lit(3).as("band"), col("b3").as("v")))).as("e") +: hash): _*)
      .select(keys.map(col) ++ Seq(col("e.band").as("band"), col("e.v").as("v")) ++
        hash: _*)
  }

  /** Four-band Hamming distance between the hashes of two aliased sides
    * (`df.as(a)` and `df.as(b)`, each carrying b0..b3), as INT.
    */
  def hamming(a: String, b: String): Column =
    (0 until 4).map(i => bit_count(col(s"$a.b$i") bitwiseXOR col(s"$b.b$i")))
      .reduce(_ + _).cast("int")

  /** Band rows restricted to (band, v) buckets no wider than `maxBucket` —
    * the hot-bucket suppression every band-blocked join in this engine
    * carries. aHash buckets are CONTENT-degenerate on real corpora:
    * blank/flat images share one aHash, so one band value can hold a
    * large fraction of the corpus and the bucket self-join goes
    * quadratic in its width (video measured the uncapped join at 30.4 s
    * at ×10 vs ~2 s capped). A bucket wider than the cap carries no
    * discriminative signal; dropping it from candidate generation bounds
    * per-bucket fan-out at maxBucket² — the documented recall cost is
    * pairs whose EVERY band is hot. Deterministic, so the DuckDB oracles
    * (bcnt/qband CTEs) replay the cap exactly.
    */
  private def capped(bands: DataFrame, maxBucket: Int): DataFrame =
    HotBuckets.cap(bands, Seq("band", "v"), maxBucket)

  /** Intra-set near-duplicate pairs: one band-bucket self-join over
    * capped band rows, verified in place. Distinct
    * (doc_a, doc_b, hamming) with doc_a < doc_b and hamming ≤
    * `maxHamming`.
    */
  def pairs(h: DataFrame, maxHamming: Int, maxBucket: Int = 64): DataFrame = {
    val b = capped(bandRows(h), maxBucket)
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming("a", "b").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Probe hashes against an index's band rows ([[bandRows]] layout),
    * verified in place. Only the INDEX side is capped: an index bucket
    * the whole corpus shares makes the probe O(index) per hot probe row,
    * and the cap is a property of the current index state — recounted
    * after purges. Distinct (doc_a = index doc, doc_b = probe doc,
    * hamming) with hamming ≤ `maxHamming`.
    */
  def crossPairs(indexBands: DataFrame, probe: DataFrame, maxHamming: Int,
                 maxBucket: Int = 64): DataFrame =
    bandRows(probe).as("b")
      .join(capped(indexBands, maxBucket).as("a"), Seq("band", "v"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming("a", "b").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** Intra-set duplicates: the LARGER doc_id of every [[pairs]] pair (the
    * keep-smallest admission rule, same convention as
    * `NearDup.lshDuplicates`); output (doc_id) distinct.
    */
  def phashDuplicates(ph: DataFrame, maxHamming: Int,
                      maxBucket: Int = 64): DataFrame =
    pairs(ph, maxHamming, maxBucket).select(col("doc_b").as("doc_id")).distinct()

  /** Admission verdicts for `batch` (phash frame) against `index` (band
    * rows, [[bandRows]] layout): (doc_id, is_dup) for every batch doc;
    * Hamming ≤ `maxHamming` vs ANY index member ([[crossPairs]]) makes
    * the batch image a duplicate.
    */
  def admitAgainst(index: DataFrame, batch: DataFrame, maxHamming: Int,
                   maxBucket: Int = 64): DataFrame = {
    val dups = crossPairs(index, batch, maxHamming, maxBucket)
      .select(col("doc_b").as("doc_id")).distinct()
    batch.select("doc_id")
      .join(dups.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }
}
