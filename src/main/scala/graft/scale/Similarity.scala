package graft.scale

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §7.1 scale/): exact cosine top-k as
  * the correctness baseline, sign-quantized bucketing (an SRP-LSH variant)
  * and KMeans-centroid IVF as the 100 TB paths.
  *
  * This object is the one vector-similarity kernel: every rounded cosine,
  * banded-posting join and top-k rank in the engine goes through it —
  * batch queries, the streaming admission twin and the int8 IVF alike:
  *   - [[score]] — the cosine v·w / (|v|·|w|), rounded to 6 decimals;
  *   - [[postingPairs]] — the one (band_idx, bucket) posting self-join,
  *     ids deduplicated before the vectors join back and verify;
  *   - [[postingMatches]] — the one cross-probe of a probe's postings
  *     against an index's, scored;
  *   - [[topK]] — the one rank over (score desc, neighbor).
  * The search and dedup entry points below are compositions of these,
  * over pre-built [[vectorPostings]] / [[vectorSide]] frames where banded.
  *
  * Dot products run through the native codegen'd `graft_dot_f` expression
  * (one fused loop) with the same left-fold double-accumulation order as
  * DuckDB's `list_reduce`, so scores compare bit-identical before
  * rounding. Norms are computed once per vector, not per pair.
  *
  * Scale notes: brute force is O(queries x corpus) — fine for a bounded
  * query set against a partitioned corpus (the corpus side stays
  * distributed; queries broadcast). The bucketed variants cut the corpus
  * side by the bucket fan-out, the standard recall/latency trade.
  */
object Similarity {

  /** Elementwise-double dot product, left-fold order (HOF form — kept for
    * parity cross-checks against the native expression).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)

  /** Native one-pass dot product (requires Hashing.register on the session;
    * every entry point below registers).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot_f", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The rounded cosine of vectors `v`, `w` with norms `n`, `m`: rounded
    * to 6 decimals so verdicts and orderings are reproducible across
    * engines and identical between the batch and streaming forms.
    */
  def score(v: Column, n: Column, w: Column, m: Column): Column =
    round(dot(v, w) / (n * m), 6)

  /** [[score]] with both norms computed in place. */
  def score(v: Column, w: Column): Column = score(v, norm(v), w, norm(w))

  /** The top-k rank: rows of `scored` numbered per `by` in (`scoreCol`
    * desc, `tie`) order into `rank`, first `k` kept.
    */
  def topK(scored: DataFrame, k: Int, by: String = "query_id",
           tie: String = "neighbor_id", scoreCol: String = "score",
           rank: String = "rank"): DataFrame =
    scored.withColumn(rank, row_number().over(
        Window.partitionBy(by).orderBy(col(scoreCol).desc, col(tie))))
      .filter(col(rank) <= k)

  /** Verified near-duplicate pairs of one posting set: the (band_idx,
    * bucket) self-join over [[vectorPostings]] rows, `id_a < id_b`, ids
    * deduplicated first (ints through the exchange), then both vectors
    * joined back from the [[vectorSide]] frame `side` and scored.
    * (id_a, id_b, score) with score ≥ `threshold`.
    */
  def postingPairs(posts: DataFrame, side: DataFrame, threshold: Double): DataFrame =
    posts.as("l").join(posts.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
      .join(side.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .withColumn("score", score(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")

  /** Scored cross-probe: every (probe id, index id) pair sharing ANY
    * (band_idx, bucket) posting, deduplicated on ids, then scored on the
    * vectors joined back from the two [[vectorSide]] frames. (b_id, c_id,
    * score), unthresholded. Wrap a side in `broadcast` to broadcast it.
    */
  def postingMatches(probePosts: DataFrame, probeSide: DataFrame,
                     idxPosts: DataFrame, idxSide: DataFrame): DataFrame =
    probePosts.select(col("id").as("b_id"), col("band_idx"), col("bucket"))
      .join(idxPosts.select(col("id").as("c_id"), col("band_idx"), col("bucket")),
        Seq("band_idx", "bucket"))
      .select("b_id", "c_id").distinct()
      .join(probeSide.select(col("id").as("b_id"), col("v").as("bv"), col("n").as("bn")), "b_id")
      .join(idxSide.select(col("id").as("c_id"), col("v").as("cv"), col("n").as("cn")), "c_id")
      .select(col("b_id"), col("c_id"),
        score(col("bv"), col("bn"), col("cv"), col("cn")).as("score"))

  /** Default sign-bucket width: 2^8 = 256 buckets. Within-bucket work is
    * O(N²/2^bits), so `bits` must grow with the corpus — see [[bitsFor]].
    */
  val DefaultBits = 8

  /** Bucket-width rule for a corpus of `n` vectors: enough sign bits that
    * the expected bucket holds ~`targetBucketSize` vectors (within-bucket
    * verification is quadratic in bucket size), floor [[DefaultBits]],
    * capped by the embedding dimensionality.
    */
  def bitsFor(n: Long, dim: Int, targetBucketSize: Long = 1024L): Int = {
    val needed = math.ceil(math.log(math.max(n / targetBucketSize, 1L).toDouble)
      / math.log(2.0)).toInt
    math.min(math.max(needed, DefaultBits), dim)
  }

  /** Sign-quantization bucket over the first `bits` dimensions: bit d set
    * when component d >= 0. A degenerate-but-deterministic random-hyperplane
    * LSH (axis-aligned planes) — the structure, shuffle and join shape are
    * identical to SRP with learned/random planes.
    */
  def signBucket(vec: Column, bits: Int = DefaultBits): Column =
    (0 until bits).map { d =>
      // get() tolerates vectors shorter than `bits` (null -> bit 0), the
      // same semantics as DuckDB's out-of-bounds list index.
      when(get(vec, lit(d)) >= 0f, lit(1 << (bits - 1 - d))).otherwise(lit(0))
    }.reduce(_ + _)

  /** Banded sign buckets for multi-probe SRP (the `NearDup.lshCandidates`
    * structure transplanted to vector space): `bands` entries, band j
    * quantizing dimensions [j*bitsPerBand, (j+1)*bitsPerBand). Two vectors
    * are candidates when ANY band collides, so recall degrades gracefully
    * as `bands*bitsPerBand` grows — the scale knob single-bucket SRP lacks.
    */
  def signBands(vec: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { j =>
      (0 until bitsPerBand).map { d =>
        when(get(vec, lit(j * bitsPerBand + d)) >= 0f,
          lit(1 << (bitsPerBand - 1 - d))).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** (id, vec, norm) projection — norms computed once per vector. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      norm(col(vecCol)).as(normAs))

  /** Exact top-k cosine neighbors for each query row (excluding self).
    * Scores are rounded to 6 decimals before ranking so ordering is
    * reproducible across engines; ties break on neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    topK(broadcast(q).crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("score", score(col("qv"), col("qn"), col("cv"), col("cn"))), k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: sign-bucket blocking,
    * thresholded — the vector-space member of the dedup family (candidates
    * linear in corpus, verify only on bucket collisions).
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bits: Int = DefaultBits): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val b = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"), signBucket(col(vecCol), bits).as("bucket"))
    b.as("l").join(b.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("score", score(col("l.v"), col("l.n"), col("r.v"), col("r.n")))
      .filter(col("score") >= threshold)
      .select(col("l.id").as("vec_a"), col("r.id").as("vec_b"), col("score"))
  }

  /** SemDeDup-style semantic near-dup pairs: every vector is assigned to
    * its nearest centroid from the deterministic seeded codebook (same
    * argmax-cosine assignment as [[ivfSeededTopK]], rounded to 6 with ties
    * to the lower centroid id, so the whole pipeline replays in the DuckDB
    * oracle), then exact cosine verifies only WITHIN each cluster — the
    * cluster is the blocking key. vs sign-bucket blocking
    * ([[cosineNearDupPairs]]): clusters follow the corpus's own density
    * structure, so near-dups in a dense region can't be split across an
    * arbitrary hyperplane; the trade is one broadcast codebook pass for
    * assignment. Candidates are Σ_c n_c² — at scale, pick nLists ∝ corpus
    * size so expected cluster size (and with it per-cluster pair work)
    * stays constant, the same knob SemDeDup's k-means k turns.
    */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nLists: Int): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val c = withNorm(corpus, idCol, vecCol, "id", "v", "n")
    val cents = c.filter(col("id") < nLists)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("n").as("cn"))
    val cscored = c.crossJoin(broadcast(cents))
      .withColumn("cscore", score(col("v"), col("n"), col("cv"), col("cn")))
    // nearest-centroid pick as a hash-agg max_by on (cscore, -cent_id) —
    // lexicographic struct order == the old window's ORDER BY cscore DESC,
    // cent_id ASC. The crossJoin leaves each id's nLists rows inside one
    // partition, so the partial agg completes map-side and the shuffle
    // carries one row per vector instead of nLists rows (each with the
    // full embedding) through a per-id sort — the assignment step of IVF
    // at any scale.
    // lazy lineage barrier: the assignment feeds both sides of the
    // self-join, and a plain persist would leave the assignment subtree
    // duplicated in every downstream analyzed plan (Caches.lazyBarrier)
    val assigned = graft.Caches.lazyBarrier(
      cscored.groupBy("id")
        .agg(max_by(struct(col("v"), col("n"), col("cent_id")),
          struct(col("cscore"), (-col("cent_id")).as("_tie"))).as("r"))
        .select(col("id"), col("r.v").as("v"), col("r.n").as("n"),
          col("r.cent_id").as("list_id")))
    assigned.as("l").join(assigned.as("r"),
        col("l.list_id") === col("r.list_id") && col("l.id") < col("r.id"))
      .withColumn("score", score(col("l.v"), col("l.n"), col("r.v"), col("r.n")))
      .filter(col("score") >= threshold)
      .select(col("l.list_id").as("list_id"),
        col("l.id").as("vec_a"), col("r.id").as("vec_b"), col("score"))
  }

  /** IVF probe + rank: join query probes against a corpus carrying
    * `list_id` (a plain shuffle join — the corpus is NEVER broadcast; at
    * 100 TB the "queries" side here is the corpus itself, and a broadcast
    * hint would pin the whole table on every executor), score, window-rank
    * top-k. Each corpus vector lives in exactly one list, so a (query,
    * neighbor) pair joins at most once even under multi-probe.
    */
  private def probeTopK(probes: DataFrame, assigned: DataFrame, k: Int): DataFrame =
    topK(probes.join(assigned, "list_id")
        .filter(col("query_id") =!= col("id"))
        .withColumn("score", score(col("qv"), col("qn"), col("v"), col("n"))), k, tie = "id")
      .select(col("query_id"), col("list_id"), col("id").as("neighbor_id"),
        col("score"), col("rank"))

  private def selfProbes(assigned: DataFrame): DataFrame =
    assigned.select(col("id").as("query_id"), col("v").as("qv"),
      col("n").as("qn"), col("list_id"))

  /** IVF-style ANN: KMeans centroids form the inverted file; each query
    * probes only its nearest centroid's list. The mllib fit runs once over
    * the corpus; assignment + probe are plain shuffles. Deterministic for a
    * fixed seed+data but not oracle-reproducible (spec-checked;
    * [[ivfSeededTopK]] is the oracle-checkable variant).
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nLists: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    Hashing.register(corpus.sparkSession)
    val withFeatures = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("features", array_to_vector(col("v").cast("array<double>")))
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .fit(withFeatures)
    val assigned = model.transform(withFeatures)
      .select(col("id"), col("v"), norm(col("v")).as("n"),
        col("prediction").as("list_id"))
    probeTopK(selfProbes(assigned), assigned, k)
  }

  /** IVF with deterministic, SQL-reproducible centroids: the `nLists`
    * lowest-id vectors serve as the fixed codebook; assignment is argmax
    * cosine against them (rounded to 6, ties to the lower centroid id).
    * Identical probe shape to [[ivfTopK]], but every step replays in the
    * DuckDB oracle — the hash-checkable member of the IVF family. The
    * codebook broadcast is legitimately tiny (nLists rows); the corpus side
    * stays distributed end to end.
    */
  def ivfSeededTopK(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, nLists: Int, nProbe: Int = 1,
                    memoKey: Option[String] = None): DataFrame = {
    Hashing.register(corpus.sparkSession)
    def rankedTop(maxRank: Int): DataFrame = {
      val c = withNorm(corpus, idCol, vecCol, "id", "v", "n")
      val cents = c.filter(col("id") < nLists)
        .select(col("id").as("cent_id"), col("v").as("cv"), col("n").as("cn"))
      topK(c.crossJoin(broadcast(cents))
          .withColumn("cscore", score(col("v"), col("n"), col("cv"), col("cn"))),
          maxRank, by = "id", tie = "cent_id", scoreCol = "cscore", rank = "crank")
        .select(col("id"), col("v"), col("n"), col("cent_id"), col("crank"))
    }
    // The ranked assignment feeds the membership side AND (for nProbe > 1)
    // the probe side, and probeTopK references membership again — without
    // a barrier the corpus x codebook scoring pass recomputes per
    // reference. It is the same assignment table a production IVF
    // MATERIALIZES AS ITS INDEX: with `memoKey` (an immutable corpus, e.g.
    // the registry's embeddings fixture) it is session-pinned to crank<=2
    // — the superset every registry nProbe (1 or 2) filters — so the six
    // IVF eval queries share one index build per session instead of each
    // re-running the codebook scoring pass per run (r13; the same
    // persisted-artifact discipline as NearDup.signatureIndex).
    val top = memoKey match {
      case Some(mk) =>
        // per-query persist ON TOP of the pinned blocks: a bare
        // LogicalRDD leaf reports no size statistics, which silently
        // demoted the list_id probe join from its stats-driven broadcast
        // to sort-merge (measured: emb_ivf_probe2 0.84 -> 1.6 s). The
        // persisted filter re-exposes real stats, so the join strategy
        // stays the planner's size-based call at ANY scale, while the
        // codebook scoring pass itself stays amortized in the session pin.
        graft.Caches.persist(
          graft.Caches.sessionMemo(corpus.sparkSession,
              s"ivfIndex:$mk:$idCol:$vecCol:$nLists")(
            graft.Caches.pinnedBarrier(rankedTop(2)))
            .filter(col("crank") <= math.max(nProbe, 1)))
      case None =>
        graft.Caches.persist(rankedTop(math.max(nProbe, 1)))
    }
    // corpus membership: exactly one list per vector
    val assigned = top.filter(col("crank") === 1)
      .select(col("id"), col("v"), col("n"), col("cent_id").as("list_id"))
    // multi-probe: each query fans out to its nProbe nearest lists — the
    // standard IVF recall knob (candidates scale linearly with nProbe,
    // never quadratically)
    val probes =
      if (nProbe <= 1) selfProbes(assigned)
      else top.select(col("id").as("query_id"), col("v").as("qv"),
          col("n").as("qn"), col("cent_id").as("list_id"))
    probeTopK(probes, assigned, k)
  }

  /** Bucketed top-k: identical shape to brute force, but the cross join is
    * constrained to matching sign buckets — the corpus side is
    * pre-partitioned by bucket, so each query probes ~corpus/2^bits
    * vectors.
    */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   bits: Int = DefaultBits): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), signBucket(col(vecCol), bits).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), signBucket(col(vecCol), bits).as("bucket"))
    topK(broadcast(q).join(c, "bucket")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("score", score(col("qv"), col("qn"), col("cv"), col("cn"))), k)
      .select("query_id", "bucket", "neighbor_id", "score", "rank")
  }

  /** Banded multi-probe SRP top-k: candidates are corpus vectors sharing
    * ANY sign band with the query (the [[srpBandedNearDupPairs]] candidate
    * structure pointed at a bounded query set), then exact-cosine ranked.
    * Recall is the OR over bands — the knob [[bucketedTopK]]'s monolithic
    * bucket lacks; candidates stay linear in corpus size per query.
    */
  def bandedTopK(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 bands: Int = 4, bitsPerBand: Int = 4): DataFrame =
    postingTopK(queries, corpus, idCol, vecCol, k, _.select(col(idCol).as("id"),
      posexplode(signBands(col(vecCol), bands, bitsPerBand)).as(Seq("band_idx", "bucket"))))

  /** Banded top-k over the postings `posts` builds for each side: the
    * query side is bounded, so its postings and vectors broadcast; a
    * (query, neighbor) pair colliding in several bands is scored once
    * ([[postingMatches]]), self-matches dropped, then ranked.
    */
  private def postingTopK(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          posts: DataFrame => DataFrame): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val q = graft.Caches.persist(vectorSide(queries, idCol, vecCol))
    val c = graft.Caches.persist(vectorSide(corpus, idCol, vecCol))
    topK(postingMatches(broadcast(posts(queries)), broadcast(q), posts(corpus), c)
        .filter(col("b_id") =!= col("c_id"))
        .select(col("b_id").as("query_id"), col("c_id").as("neighbor_id"), col("score")), k)
  }

  // ------------------------------------------------------------------
  // Corpus-scaled SRP band geometry (the vector twin of NearDup.bandPlan)
  // ------------------------------------------------------------------

  /** One SRP banding plan: `bands` bands of `bitsPerBand` hashed-hyperplane
    * sign bits each. Two vectors are candidates when ANY band's bucket
    * matches; `bands` is the recall knob, `bitsPerBand` the precision knob.
    */
  final case class VectorBandPlan(bands: Int, bitsPerBand: Int) {
    require(bands > 0 && bitsPerBand > 0)
    /** Candidate probability of a pair at cosine `c` under this plan:
      * 1 − (1 − p^r)^b with p the per-hyperplane collision probability —
      * the SRP S-curve (Charikar 2002), the vector-space analog of
      * `NearDup.candidateProbability`.
      */
    def candidateProbability(c: Double): Double = {
      val p = srpBitCollisionProb(c)
      1.0 - math.pow(1.0 - math.pow(p, bitsPerBand), bands)
    }
  }

  /** Per-hyperplane SRP collision probability of two vectors at cosine
    * `c`: 1 − arccos(c)/π (Goemans–Williamson rounding identity).
    */
  def srpBitCollisionProb(c: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi

  /** Chooses (bands, bitsPerBand) FROM THE CORPUS SIZE — the step the
    * fixed 4×4 defaults skipped, and the same two error-rate targets as
    * `NearDup.bandPlanAuto`:
    *
    *  - false positives: expected spurious candidates per vector at the
    *    background level (orthogonal vectors, per-bit collision EXACTLY
    *    1/2) stay ≤ `maxFalseCandidatesPerVec` — the union bound
    *    n·b·2^(−r) ≤ f, tested in pure integer arithmetic
    *    (n·b ≤ f·2^r), which is what keeps total candidate volume LINEAR
    *    in the corpus; a fixed geometry is O(n²/2^r) — quadratic.
    *  - false negatives: recall at `dupCosine` (the "these are dups"
    *    similarity level) ≥ `minRecall` on the SRP S-curve.
    *
    * For each band count b (ascending), r(b) is the SMALLEST bit width
    * meeting the candidate ceiling (minimal r = maximal recall for that
    * b); the first b whose (b, r(b)) clears the recall floor wins — so the
    * returned plan has provably minimal bands (spec-pinned). Bits are
    * hashed Rademacher hyperplanes ([[srpBandBuckets]]), so b·r is NOT
    * capped by the embedding dimensionality. Pure arithmetic, no data
    * scan; the DuckDB oracles replay this exact search from COUNT(*).
    * Throws when no plan ≤ `maxBands`×`maxBitsPerBand` is feasible —
    * loosen a target rather than silently overshooting.
    */
  def vectorBandPlanAuto(corpusSize: Long, dupCosine: Double = 0.99,
                         minRecall: Double = 0.95,
                         maxFalseCandidatesPerVec: Long = 64L,
                         maxBands: Int = 64,
                         maxBitsPerBand: Int = 30): VectorBandPlan = {
    require(corpusSize > 0, "corpusSize must be positive")
    require(dupCosine > 0 && dupCosine < 1)
    require(minRecall > 0 && minRecall < 1)
    require(corpusSize <= (Long.MaxValue >> 7), "corpusSize overflows the integer ceiling test")
    (1 to maxBands).iterator.flatMap { b =>
      (1 to maxBitsPerBand)
        .find(r => corpusSize * b <= maxFalseCandidatesPerVec * (1L << r))
        .map(r => VectorBandPlan(b, r))
        .filter(_.candidateProbability(dupCosine) >= minRecall)
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      s"no (bands ≤ $maxBands, bits ≤ $maxBitsPerBand) meets recall ≥ " +
        s"$minRecall at cosine $dupCosine with ≤ $maxFalseCandidatesPerVec " +
        s"false candidates/vector for n=$corpusSize"))
  }

  /** [[vectorBandPlanAuto]] from the data: one count job over the corpus
    * (metadata-cheap on parquet), then pure arithmetic.
    */
  def vectorBandPlanFor(corpus: DataFrame, dupCosine: Double = 0.99,
                        minRecall: Double = 0.95,
                        maxFalseCandidatesPerVec: Long = 64L): VectorBandPlan =
    vectorBandPlanAuto(corpus.count(), dupCosine, minRecall,
      maxFalseCandidatesPerVec)

  /** Hashed-hyperplane SRP band buckets (ARRAY<INT>, one bucket per band):
    * the native kernel `graft_srp_bands`. Every plane is a deterministic
    * Rademacher (±1) functional over ALL dimensions, so unlike the
    * axis-aligned [[signBands]] the bit budget scales past the embedding
    * dim — the property [[vectorBandPlanAuto]] relies on at large corpora.
    */
  def srpBandBuckets(vec: Column, plan: VectorBandPlan): Column =
    call_function("graft_srp_bands", vec, lit(plan.bands), lit(plan.bitsPerBand))

  /** Builtin-HOF form of [[srpBandBuckets]] (identical values; interpreted
    * lambdas) — kept for the kernel cross-check spec.
    */
  def srpBandBucketsHof(vec: Column, plan: VectorBandPlan): Column =
    array((0 until plan.bands).map { j =>
      (0 until plan.bitsPerBand).map { d =>
        val p = j * plan.bitsPerBand + d
        val s = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (x, k) =>
            when((lit(1103515245L) * (lit(p * 4096L) + k.cast("long"))
              + lit(12345L)) % lit(2147483647L) % 2 === 1,
              x.cast("double")).otherwise(-x.cast("double"))),
          lit(0.0d), (acc, v) => acc + v)
        when(s >= 0, lit(1 << (plan.bitsPerBand - 1 - d))).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** Slim banded POSTING table: one (id, band_idx, bucket) row per
    * (vector × band) — ints only, no vector payload. This is the persisted
    * index shape and the only thing the candidate-generation shuffle ever
    * carries; vectors join back BY ID once per verified candidate
    * ([[vectorSide]]) — the ids-through-the-exchange discipline the
    * matryoshka/media paths already pin. (The previous shape duplicated
    * the full float vector once per band row: ×bands parquet bytes at
    * rest and a vector-wide probe exchange.)
    */
  def vectorPostings(corpus: DataFrame, idCol: String, vecCol: String,
                     plan: VectorBandPlan): DataFrame = {
    Hashing.register(corpus.sparkSession)
    corpus.select(col(idCol).as("id"),
        srpBandBuckets(col(vecCol), plan).as("bands"))
      .select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "bucket")))
  }

  /** (id, v, n) side table for post-candidate verification — vectors and
    * norms stored ONCE per id, joined back only for pairs that survived
    * the posting collision + distinct.
    */
  def vectorSide(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    Hashing.register(corpus.sparkSession)
    withNorm(corpus, idCol, vecCol, "id", "v", "n")
  }

  /** Incremental vector admission: verdicts for a batch probed against a
    * persisted posting index WITHOUT re-reading the corpus — the embedding
    * analog of `NearDup.admitAgainst`. `postings` is the [[vectorPostings]]
    * shape (id, band_idx, bucket); `vectors` carries (id, `vecCol`) for the
    * indexed ids (norms recomputed only for colliding candidates). A batch
    * vector is a dup when some indexed vector shares ANY band bucket and
    * scores ≥ `threshold` cosine; one row per batch vector:
    * (id, is_dup, matched_id, score) with the best-scoring indexed match
    * (ties → smallest id; nulls when no band collision at all). Per-batch
    * cost is O(batch + band-bucket collisions), never O(corpus), and the
    * collision shuffle carries ints only.
    */
  def admitAgainstVectors(postings: DataFrame, vectors: DataFrame,
                          batch: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, plan: VectorBandPlan): DataFrame = {
    Hashing.register(batch.sparkSession)
    val b = graft.Caches.persist(vectorSide(batch, idCol, vecCol))
    val best = topK(postingMatches(vectorPostings(batch, idCol, vecCol, plan), b,
        postings, vectorSide(vectors, idCol, vecCol)), 1, by = "b_id", tie = "c_id")
      .select(col("b_id"), col("c_id").as("matched_id"), col("score"))
    batch.select(col(idCol).as("b_id"))
      .join(best, Seq("b_id"), "left")
      .select(col("b_id").as(idCol),
        coalesce(col("score") >= threshold, lit(false)).as("is_dup"),
        col("matched_id"),
        coalesce(col("score"), lit(0.0d)).as("score"))
  }

  /** recall@k of an ANN result against the exact baseline: mean over
    * queries of |ann top-k ∩ exact top-k| / k. Inputs are any two frames
    * with (query_id, neighbor_id, rank). Queries the ANN arm missed
    * entirely count as recall 0, so a bucketing that drops a query can't
    * inflate the average. One scalar row out — the SCALE.md recall knobs
    * surfaced as driver-visible data.
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val e = exact.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val a = ann.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    e.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .agg(
        count(lit(1)).cast("int").as("n_queries"),
        // Σhits/(k·n) — the integer-sum spelling (never an order-dependent
        // double mean), so the metric is oracle-hashable
        round(sum(coalesce(col("__hits"), lit(0L))).cast("double") /
          (lit(k.toDouble) * count(lit(1)).cast("double")), 4)
          .as(s"recall_at_$k"))
  }

  /** Banded multi-probe SRP near-dup pairs: candidates are pairs whose
    * hashed-hyperplane quantization ([[srpBandBuckets]]) collides in ANY of
    * the plan's bands, deduplicated, then verified by exact cosine. Same
    * candidate-generation structure as `NearDup.lshCandidates` — explode
    * bands, shuffle-join on (band index, band bucket), distinct — and the
    * exploded posting table carries ints ONLY; vectors join back by id for
    * the surviving pairs. Geometry comes from [[vectorBandPlanAuto]] (use
    * [[srpBandedNearDupPairsAuto]] unless replaying a pinned plan): a
    * fixed plan is O(n²/2^r) candidates — quadratic with a constant
    * divisor — while the corpus-scaled plan keeps candidates/vector
    * bounded, so volume stays linear in the corpus.
    */
  def srpBandedNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double,
                            plan: VectorBandPlan): DataFrame = {
    Hashing.register(corpus.sparkSession)
    // Persisted: the side table is referenced twice (both pair sides) and
    // the postings once; without the barrier CollapseProject recomputes
    // norms + band quantizations per reference.
    val b = graft.Caches.persist(vectorSide(corpus, idCol, vecCol))
    postingPairs(vectorPostings(corpus, idCol, vecCol, plan), b, threshold)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("score"))
  }

  /** [[srpBandedNearDupPairs]] with the geometry chosen from the corpus
    * size ([[vectorBandPlanAuto]]) — one count job, then the same
    * postings-and-verify pipeline. The DuckDB oracle replays the plan
    * search from COUNT(*), so the geometry itself is hash-checked.
    */
  def srpBandedNearDupPairsAuto(corpus: DataFrame, idCol: String,
                                vecCol: String, threshold: Double,
                                dupCosine: Double = 0.99,
                                minRecall: Double = 0.95,
                                maxFalseCandidatesPerVec: Long = 64L): DataFrame =
    srpBandedNearDupPairs(corpus, idCol, vecCol, threshold,
      vectorBandPlanFor(corpus, dupCosine, minRecall, maxFalseCandidatesPerVec))

  /** Banded SRP top-k under an explicit [[VectorBandPlan]] (hashed
    * hyperplanes — the corpus-scaled twin of the fixed-geometry
    * [[bandedTopK]]): candidates are corpus vectors sharing ANY band
    * bucket with the query, ids-only through the candidate join, exact
    * cosine rank on the joined-back vectors.
    */
  def bandedTopKPlan(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     plan: VectorBandPlan): DataFrame =
    postingTopK(queries, corpus, idCol, vecCol, k, vectorPostings(_, idCol, vecCol, plan))
}
