package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at scale: MinHash + LSH banding and SimHash
  * (SURVEY §7.1 scale/; Broder 1997 resemblance sketches, Charikar 2002
  * SimHash — public literature, see PAPERS.md).
  *
  * 100 TB posture: signatures are fixed-width per document (k longs), buckets
  * shuffle-join on (band, hash) — candidate generation is O(docs) with no
  * quadratic pair explosion; the exact-Jaccard verification only runs on
  * bucket-collision candidates. All arithmetic is explicit mod-P polynomial
  * hashing so the DuckDB oracle reproduces byte-identical signatures.
  */
object NearDup {

  import TextOps.{M32, P}

  /** Number of MinHash functions / signature width. */
  val K: Int = graft.functions.TextKernels.MinhashK
  /** LSH bands (K/bandRows rows each): 4 bands x 2 rows. */
  val Bands = 4
  val BandRows: Int = K / Bands

  /** Affine MinHash parameters h_i(x) = (a_i * x + b_i) mod P — single
    * source of truth in [[graft.functions.TextKernels]] (the native kernel
    * bakes them in); the oracle SQL is generated from these same values.
    */
  val paramsA: Seq[Long] = graft.functions.TextKernels.minhashA.toSeq
  val paramsB: Seq[Long] = graft.functions.TextKernels.minhashB.toSeq

  /** MinHash signature: array of K longs over the document's shingle
    * hashes — all K minima in one native pass ([[minhashSignatureHof]] is
    * the pure-builtin form, kept spec-cross-checked).
    */
  def minhashSignature(shingleHashes: Column): Column =
    call_function("graft_minhash_sig", shingleHashes)

  /** Higher-order-function form of [[minhashSignature]]: K interpreted
    * `array_min(transform(...))` passes, identical values.
    */
  def minhashSignatureHof(shingleHashes: Column): Column =
    array((0 until K).map { i =>
      array_min(transform(shingleHashes,
        h => (lit(paramsA(i)) * h + lit(paramsB(i))) % P))
    }: _*)

  /** LSH band hashes: Bands entries, each combining BandRows signature rows. */
  def bandHashes(sig: Column): Column =
    array((0 until Bands).map { j =>
      val lo = sig.getItem(j * BandRows)
      val hi = sig.getItem(j * BandRows + 1)
      (lo * 31 + hi) % P
    }: _*)

  /** Adds shingle hashes + minhash signature + band hashes to a frame with a
    * `text` column. Both hash stages are single native codegen'd passes
    * (`graft_shingle_hashes`, `graft_minhash_sig`).
    *
    * The signature stage is still persisted: `bands` reads `minhash_sig`
    * K times via getItem, and CollapseProject would otherwise inline (and
    * recompute) the whole text→signature pass per band — the recompute
    * blowup measured at 40x in the HOF era shrinks with native kernels but
    * does not disappear. The persisted rows are tiny (K longs + one hash
    * per shingle) and exactly what a 100 TB pipeline would checkpoint
    * between stages anyway; callers also fan the frame out to several
    * downstream joins (candidates + both verification sides).
    */
  def withSignatures(docs: DataFrame, shingleN: Int = 3): DataFrame =
    withSignatures(docs, shingleN, carryCols = None)

  /** [[withSignatures]] with the barrier narrowed to `carryCols` +
    * `minhash_sig`: callers that only band-join and sig-verify (e.g. the
    * capstones' [[lshDuplicates]] stage) shouldn't checkpoint the text
    * and shingle-hash payload — at 100 TB that's the difference between
    * checkpointing K longs per doc and checkpointing the corpus.
    */
  def withSignatures(docs: DataFrame, shingleN: Int,
                     carryCols: Option[Seq[String]]): DataFrame = {
    // lazy lineage barrier (not plain persist): every LSH caller
    // references this frame three times (bucket join + both signature
    // re-joins), so the signature subtree would otherwise be re-embedded
    // per reference in each downstream analyzed plan (Caches.lazyBarrier)
    val sigAll = docs
      .withColumn("shingle_hashes", TextOps.shingleHashes(col("text"), shingleN))
      .withColumn("minhash_sig", minhashSignature(col("shingle_hashes")))
    val projected = carryCols match {
      case Some(cs) => sigAll.select((cs :+ "minhash_sig").map(col): _*)
      case None     => sigAll
    }
    val sigs = graft.Caches.lazyBarrier(projected)
    sigs.withColumn("bands", bandHashes(col("minhash_sig")))
  }

  /** Bucket rows restricted to (band_idx, band_hash) buckets no wider
    * than `maxBucket` — the hot-bucket suppression the video family
    * proved with numbers (`AviMjpeg.videoDupPairs`: 30.4 s uncapped at
    * ×10 vs ~2 s capped). [[bandPlanAuto]] bounds EXPECTED background
    * collisions under hash uniformity; it cannot bound content-degenerate
    * buckets — boilerplate-identical documents collide in every band, so
    * one band hash can hold a large fraction of a web corpus and the
    * bucket self-join goes quadratic in its width. A bucket wider than
    * the cap carries no discriminative signal (its members are either
    * true mass-duplicates, better handled by the exact digest pass that
    * runs FIRST in every capstone chain, or boilerplate collisions);
    * dropping it bounds per-bucket fan-out at maxBucket². The window
    * partitions on the same key the join shuffles on, so the exchange is
    * shared. Deterministic — the DuckDB oracles replay the cap exactly.
    */
  private def capBuckets(buckets: DataFrame, maxBucket: Int): DataFrame =
    HotBuckets.cap(buckets, Seq("band_idx", "band_hash"), maxBucket)

  /** The one LSH bucket self-join: (doc[, sig], band_idx, band_hash)
    * bucket rows, capped ([[capBuckets]]), joined on the bucket with
    * l.doc < r.doc. `withSig` carries the MinHash signature through the
    * join for [[verified]] (the cap window partitions on the join key, so
    * the qualification rides the exchange the self-join needs anyway).
    */
  private def bucketPairs(withSigs: DataFrame, idCol: String, maxBucket: Int,
                          withSig: Boolean): DataFrame = {
    val sig = if (withSig) Seq(col("minhash_sig").as("sig")) else Nil
    val buckets = capBuckets(withSigs.select((col(idCol).as("doc") +: sig) :+
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")): _*), maxBucket)
    buckets.as("l").join(buckets.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc") < col("r.doc"))
  }

  /** [[bucketPairs]] collision rows whose signatures agree in at least
    * `minSigMatches` of K positions, verified per collision row.
    */
  private def verified(withSigs: DataFrame, idCol: String, minSigMatches: Int,
                       maxBucket: Int): DataFrame =
    bucketPairs(withSigs, idCol, maxBucket, withSig = true)
      .withColumn("m", aggregate(zip_with(col("l.sig"), col("r.sig"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("m") >= minSigMatches)

  /** LSH candidate pairs: documents sharing any (band index, band hash)
    * bucket, deduplicated, a < b. The join is a shuffle on the band hash,
    * with buckets wider than `maxBucket` suppressed ([[capBuckets]]) —
    * linear in corpus size even on boilerplate-degenerate content.
    */
  def lshCandidates(withSigs: DataFrame, idCol: String,
                    maxBucket: Int = 64): DataFrame =
    bucketPairs(withSigs, idCol, maxBucket, withSig = false)
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .distinct()

  /** Doc ids on the losing (larger-id) side of any LSH near-dup pair, in
    * ONE self-join: the band-bucket join carries both signatures, so the
    * agreement count applies directly to the collision rows — no distinct
    * pair set, no signature re-joins. Equivalent to `lshCandidates` +
    * two signature joins + the `>= minSigMatches` filter (a pair colliding
    * in several bands is verified per collision instead of once, but with
    * 4 bands that costs less than the three shuffles it saves — measured
    * 0.74 s -> 0.4 s on the v4 near-dedup stage at sf0.1). At 100 TB the
    * same trade holds: one wide shuffle (8 extra longs per band row)
    * replaces three narrow ones over the full signature table.
    */
  def lshDuplicates(withSigs: DataFrame, idCol: String,
                    minSigMatches: Int, maxBucket: Int = 64): DataFrame =
    verified(withSigs, idCol, minSigMatches, maxBucket)
      .select(col("r.doc").as(idCol)).distinct()

  /** Verified LSH near-dup PAIRS (doc_a < doc_b, distinct) — the pair
    * form of [[lshDuplicates]] (same fused one-join plan, same cap, same
    * `>= minSigMatches` verification) for callers that need the partner,
    * not just the loser: duplicate-reason attribution (was the kill an
    * intra-batch pair or an index match?) and the incremental-vs-batch
    * equivalence oracles of the v9 capstone.
    */
  def lshDupPairs(withSigs: DataFrame, idCol: String,
                  minSigMatches: Int, maxBucket: Int = 64): DataFrame =
    verified(withSigs, idCol, minSigMatches, maxBucket)
      .select(col("l.doc").as("doc_a"), col("r.doc").as("doc_b")).distinct()

  /** Exact n-gram-Jaccard near-dup pairs via an inverted shingle index:
    * explode shingles, self-join on (block, shingle), count co-occurrences,
    * then jaccard = common / (|a| + |b| - common).
    *
    * Unlike a blocked cross join with per-pair `array_intersect` (quadratic
    * in block size and linear in shingle count *per pair*), this only does
    * work for pairs that actually share a shingle — the shape that survives
    * 100 TB. Ultra-frequent shingles fan out k²: this form is the EXACT
    * reference arm (used where the query's contract is exact Jaccard over
    * all pairs); production runs use [[jaccardPairsCapped]], whose df cap
    * bounds every shingle's fan-out and replays exactly in the oracle.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, blockCol: String,
                   shingleN: Int = 3, threshold: Double = 0.2): DataFrame = {
    val sh = graft.Caches.persist(
      docs.select(col(idCol).as("doc"), col(blockCol).as("blk"),
          TextOps.shinglesNative(col("text"), shingleN).as("sh"))
        .withColumn("n_sh", size(col("sh"))))
    val ex = sh.select(col("doc"), col("blk"), col("n_sh"), explode(col("sh")).as("s"))
    ex.as("a").join(ex.as("b"),
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
        col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
               col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** [[jaccardPairs]] with a document-frequency cap: shingles appearing in
    * more than `maxDf` documents of a block are dropped from the index
    * BEFORE the co-occurrence join, and per-doc shingle counts are
    * recomputed over the kept shingles so the Jaccard stays internally
    * consistent. This is the production guard the plain inverted index
    * lacks: one boilerplate shingle shared by k documents fans out k² join
    * rows — the cap bounds every shingle's fan-out at maxDf², making worst-
    * case candidate volume O(shingles · maxDf²) regardless of corpus skew.
    * Deterministic and SQL-reproducible (oracle-checked), unlike sampling.
    */
  /** The df-capped group index [[jaccardPairsCapped]] and
    * [[containmentPairs]] share: sorted doc lists per (block,
    * shingle-hash) group no wider than `maxDf` — the persistable inverted
    * index of the capped pair family (the (blk, s) key is spent once the
    * group exists, so only the sorted doc list survives). Callers that
    * probe the same corpus repeatedly can build this once and pass it via
    * `groupsOpt` (r13: both registered consumers session-pin it).
    */
  def dfCappedGroups(docs: DataFrame, idCol: String, blockCol: String,
                     shingleN: Int = 3, maxDf: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc"), col(blockCol).as("blk"),
        explode(TextOps.shingleHashes(col("text"), shingleN)).as("s"))
      .groupBy("blk", "s").agg(collect_list(col("doc")).as("ds"))
      .filter(size(col("ds")) <= maxDf)
      .select(sort_array(col("ds")).as("ds"))

  def jaccardPairsCapped(docs: DataFrame, idCol: String, blockCol: String,
                         shingleN: Int = 3, threshold: Double = 0.2,
                         maxDf: Int = 4,
                         groupsOpt: Option[DataFrame] = None): DataFrame = {
    // One aggregation gives both the document frequency (list size) and the
    // collision group; no self-join of the exploded index ever happens. Pair
    // generation runs in-place over each kept group's sorted doc list —
    // bounded at maxDf*(maxDf-1)/2 pairs per shingle by construction, so the
    // interpreted HOF touches only tiny arrays. The index key is the
    // polynomial hash of the shingle, not the string: fixed-width longs
    // through the shuffle instead of n-gram text (the oracle replays the
    // same mod-P hash, so a collision merges identically on both engines).
    val groups = groupsOpt.getOrElse(graft.Caches.persist(
      dfCappedGroups(docs, idCol, blockCol, shingleN, maxDf)))
    val nsh = groups.select(explode(col("ds")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val co = groups
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    co.join(nsh.select(col("doc").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(nsh.select(col("doc").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Directional containment pairs: C(A→B) = |grams(A) ∩ grams(B)| /
    * |grams(A)|. Near-1 containment with modest Jaccard means A is an
    * excerpt/subset of B — the asymmetric duplication resemblance dilutes
    * (a paragraph lifted into a much longer doc halves no Jaccard
    * threshold but is still leaked text). Same df-capped group-and-pair
    * index as [[jaccardPairsCapped]] (bounded pair fan-out, hashed grams
    * through the shuffle), with each surviving pair emitted in whichever
    * direction(s) clear the threshold.
    */
  def containmentPairs(docs: DataFrame, idCol: String, blockCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 4,
                       groupsOpt: Option[DataFrame] = None): DataFrame = {
    val groups = groupsOpt.getOrElse(graft.Caches.persist(
      dfCappedGroups(docs, idCol, blockCol, shingleN, maxDf)))
    val nsh = groups.select(explode(col("ds")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val co = groups
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    // melt each undirected pair to its two directions FIRST, so the
    // per-doc shingle totals join ONCE on the contained side — the
    // two-joins-then-union spelling re-evaluated the whole index subtree
    // per direction (measured ~2x the sibling jaccard query's wall-clock)
    co.select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          col("common")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          col("common")))).as("r"))
      .select(col("r.contained").as("contained"),
        col("r.container").as("container"), col("r.common").as("common"))
      .join(nsh.select(col("doc").as("contained"), col("n_sh")), "contained")
      .withColumn("containment",
        round(col("common").cast("double") / col("n_sh").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select("contained", "container", "containment")
  }

  /** Persistable signature index of a corpus: one row per (doc, band_idx,
    * band_hash), carrying the doc's MinHash signature. This is the artifact
    * an incremental pipeline checkpoints — fixed-width rows (K+2 longs + id)
    * independent of document length, so 100 TB of text indexes to a few
    * hundred GB of parquet. Corpus text is never needed again for admission.
    */
  def signatureIndex(docs: DataFrame, idCol: String, shingleN: Int = 3): DataFrame =
    withSignatures(docs, shingleN).select(col(idCol).as("doc"), col("minhash_sig"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

  /** Incremental admission: dedup an incoming batch against an existing
    * [[signatureIndex]] WITHOUT recomputing (or even reading) the corpus.
    * The batch is signatured, probed into the index on (band_idx,
    * band_hash), and a batch doc is a duplicate when any indexed doc agrees
    * on >= `minSigMatches` of the K signature components. Returns one row
    * per batch doc: (doc_id, is_dup, matched_doc, sig_matches) with the
    * best-agreeing corpus doc (ties -> smallest id; null when no bucket
    * collision at all).
    *
    * Scale shape: work is O(batch + bucket collisions) — the corpus-side
    * cost is one shuffle of the (already tiny) index rows that share a
    * bucket with the batch; admitted docs' index rows can be unioned back
    * in to grow the index shard by shard. The INDEX side is bucket-capped
    * ([[capBuckets]], same discipline as the image/video admission
    * probes): an index bucket the whole corpus shares makes the probe
    * O(index) per hot batch row, and the cap is a property of the current
    * index state — recounted after purges.
    */
  def admitAgainst(index: DataFrame, batch: DataFrame, idCol: String,
                   shingleN: Int = 3, minSigMatches: Int = 6,
                   maxBucket: Int = 64): DataFrame = {
    val probe = signatureIndex(batch, idCol, shingleN)
      .select(col("doc").as("b_doc"), col("minhash_sig").as("b_sig"),
        col("band_idx"), col("band_hash"))
    val idx = capBuckets(index.select(col("doc").as("c_doc"),
      col("minhash_sig").as("c_sig"), col("band_idx"), col("band_hash")),
      maxBucket)
    val cand = probe.join(idx, Seq("band_idx", "band_hash"))
      .select("b_doc", "b_sig", "c_doc", "c_sig").distinct()
    val scored = cand.withColumn("sig_matches",
      aggregate(zip_with(col("b_sig"), col("c_sig"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
    // best candidate per batch doc: max sig agreement, ties -> smallest id
    val best = scored.groupBy(col("b_doc"))
      .agg(max(struct(col("sig_matches"), (-col("c_doc")).as("neg_doc"))).as("m"))
      .select(col("b_doc"), col("m.sig_matches").as("sig_matches"),
        (-col("m.neg_doc")).as("matched_doc"))
    batch.select(col(idCol).as("doc_id")).join(
        best, col("doc_id") === col("b_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("sig_matches") >= minSigMatches, lit(false)).as("is_dup"),
        col("matched_doc"),
        coalesce(col("sig_matches"), lit(0)).as("sig_matches"))
  }

  /** Partial-overlap near-dup pairs via winnowing fingerprints: documents
    * sharing >= `minShared` fingerprints ([[TextOps.winnowFingerprints]] —
    * windowed minima of positional k-gram hashes). Because winnowing
    * guarantees a shared fingerprint for ANY >= w+k-1-token overlap, this
    * catches documents that share a passage (quoted paragraph, templated
    * boilerplate, concatenated sources) that whole-document MinHash
    * dilutes below threshold. Same bounded group-and-pair shape as
    * [[jaccardPairsCapped]]: one aggregation groups docs per fingerprint,
    * the df cap (`maxDf`) bounds every fingerprint's fan-out at maxDf²
    * pairs, and pair generation runs in-place over each kept group's
    * sorted doc list — worst-case candidates O(fingerprints · maxDf²)
    * regardless of boilerplate skew.
    */
  def winnowPairs(docs: DataFrame, idCol: String, minShared: Int = 3,
                  maxDf: Int = 8): DataFrame = {
    val groups = graft.Caches.persist(
      docs.select(col(idCol).as("doc"),
          explode(TextOps.winnowFingerprints(col("text"))).as("fp"))
        .groupBy("fp").agg(collect_list(col("doc")).as("ds"))
        .filter(size(col("ds")) <= maxDf)
        .withColumn("ds", sort_array(col("ds"))))
    groups
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("doc_a", "doc_b", "n_shared")
  }

  /** Probability a pair with Jaccard similarity `s` becomes an LSH
    * candidate under `b` bands of `r` rows: 1 - (1 - s^r)^b — the banding
    * S-curve (Broder/LSH analysis, standard in the MMDS literature). The
    * curve's inflection sits near (1/b)^(1/r), which is the effective
    * similarity threshold of a (b, r) plan.
    */
  def candidateProbability(s: Double, b: Int, r: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)

  /** One (b, r) banding plan and its derived operating point. */
  final case class BandPlan(bands: Int, rows: Int) {
    /** Effective threshold: similarity at the S-curve inflection. */
    def threshold: Double = math.pow(1.0 / bands, 1.0 / rows)
    /** Recall at similarity `s` (= candidate probability). */
    def recallAt(s: Double): Double = candidateProbability(s, bands, rows)
  }

  /** Choose (b, r) for a signature budget of `k` hash functions and a target
    * Jaccard threshold: among all factorizations b·r = k, pick the plan
    * whose S-curve threshold lands closest to `targetThreshold` (ties →
    * more bands = higher recall). This is the tuning rule for sizing
    * [[withSignatures]]' banding to a corpus's dup definition — more rows
    * per band sharpens precision (raises the threshold), more bands raise
    * recall below it; the signature budget k trades index size
    * (k longs/doc) against curve sharpness. Pure arithmetic, usable at
    * planning time with no data scan.
    */
  def bandPlan(k: Int, targetThreshold: Double): BandPlan = {
    require(k > 0 && targetThreshold > 0 && targetThreshold < 1)
    val plans = (1 to k).filter(k % _ == 0)
      .map(r => BandPlan(bands = k / r, rows = r))
    plans.minBy(p => (math.abs(p.threshold - targetThreshold), -p.bands))
  }

  /** Chooses the signature budget ITSELF — the step [[bandPlan]] leaves to
    * the caller. Given the corpus size and the dup definition, find the
    * SMALLEST k (index cost: k longs per doc) with a factorization b·r = k
    * whose S-curve satisfies both error-rate targets:
    *
    *  - false negatives: recall at `dupSimilarity` (the "these are dups"
    *    Jaccard level) ≥ `minRecall`;
    *  - false positives: expected spurious candidates per doc — corpus
    *    size × candidate probability at `backgroundSimilarity` (the
    *    typical non-dup pair level) — ≤ `maxFalseCandidatesPerDoc`, which
    *    is what keeps total candidate volume LINEAR in the corpus (the
    *    100 TB constraint; a fixed per-pair FP rate would grow candidates
    *    quadratically).
    *
    * Among feasible factorizations of that k, the highest recall at
    * `dupSimilarity` wins. Pure arithmetic (the same S-curve as
    * [[candidateProbability]]), no data scan. Throws when no k ≤ `maxK`
    * is feasible — loosen a target rather than silently overshooting the
    * index budget.
    */
  def bandPlanAuto(corpusSize: Long, dupSimilarity: Double,
                   backgroundSimilarity: Double, minRecall: Double = 0.95,
                   maxFalseCandidatesPerDoc: Double = 1.0,
                   maxK: Int = 512): BandPlan = {
    require(corpusSize > 0, "corpusSize must be positive")
    require(dupSimilarity > backgroundSimilarity,
      "dup similarity must exceed the background level")
    require(minRecall > 0 && minRecall < 1)
    def feasible(p: BandPlan): Boolean =
      p.recallAt(dupSimilarity) >= minRecall &&
        corpusSize * candidateProbability(backgroundSimilarity, p.bands, p.rows) <=
          maxFalseCandidatesPerDoc
    (1 to maxK).iterator
      .map { k =>
        (1 to k).filter(k % _ == 0)
          .map(r => BandPlan(bands = k / r, rows = r))
          .filter(feasible)
      }
      .collectFirst { case ps if ps.nonEmpty =>
        ps.maxBy(_.recallAt(dupSimilarity))
      }
      .getOrElse(throw new IllegalArgumentException(
        s"no (b, r) with b*r <= $maxK meets recall >= $minRecall at " +
          s"s=$dupSimilarity and <= $maxFalseCandidatesPerDoc false " +
          s"candidates/doc at s=$backgroundSimilarity for n=$corpusSize"))
  }

  /** 32-bit SimHash over token hashes: bit b of the signature is set when
    * the (+1/-1) vote sum across tokens at that bit is positive. One native
    * codegen'd pass per document (`graft_simhash32`) — a pure map with no
    * shuffle, embarrassingly parallel at any scale. [[simhash32Exploded]]
    * is the builtin-composition form, kept spec-cross-checked.
    */
  def simhash32(docs: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol),
      call_function("graft_simhash32", col("text"), lit(M32)).as("simhash"))

  /** Explode + bit-vote-aggregation form of [[simhash32]] (identical
    * values; 32 rows per token through two shuffles).
    */
  def simhash32Exploded(docs: DataFrame, idCol: String): DataFrame = {
    val tokenHashes = docs.select(col(idCol),
        explode(transform(TextOps.tokens(col("text")),
          t => TextOps.polyHash(t, M32))).as("th"))
    val bitVotes = tokenHashes
      .select(col(idCol), col("th"), explode(sequence(lit(0), lit(31))).as("b"))
      .groupBy(idCol, "b")
      .agg(sum(when(expr("(th div CAST(pow(2, b) AS BIGINT)) % 2 = 1"), 1)
        .otherwise(-1)).as("vote"))
    bitVotes.groupBy(idCol)
      .agg(sum(when(col("vote") > 0,
        pow(lit(2.0), col("b").cast("double")).cast("long")).otherwise(0L))
        .as("simhash"))
  }
}
