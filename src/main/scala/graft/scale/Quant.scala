package graft.scale

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for the embedding family: per-vector symmetric
  * scale (max|v|/127), component q_i = floor(v_i/scale + 0.5) — explicit
  * round-half-up, the one rounding rule every engine reproduces exactly
  * (ROUND's half-away behavior differs across engines on ties).
  *
  * 100 TB rationale: a float32 embedding column is the dominant byte cost
  * of every ANN shuffle and of the vector store itself; int8 cuts both 4x
  * with ~1% cosine error at 64 dims. The key property making the search
  * path clean: per-vector scales CANCEL in cosine, so quantized scoring is
  * pure integer arithmetic (exact in any engine, replayable in the DuckDB
  * oracle bit for bit) — the scale is only needed to reconstruct
  * magnitudes, not to rank.
  */
object Quant {

  val QMax = 127

  /** Per-vector symmetric scale: max|v|/127 (floored at 1e-30 so the null
    * vector quantizes to zeros instead of dividing by zero). HOF form,
    * kept for the kernel cross-check spec — the hot path is the fused
    * [[quantize]] kernel.
    */
  def qscale(vec: Column): Column =
    greatest(aggregate(vec, lit(0.0d),
      (m, x) => greatest(m, abs(x.cast("double")))), lit(1e-30d)) / QMax

  /** Quantized components in [-127, 127] as BYTES — 1 B/element, so the
    * quantized corpus really is 4x smaller than the float32 it replaces
    * everywhere it moves: in the probe shuffle, in the broadcast, in the
    * persisted assignment frame. (An earlier LongType spelling was
    * 8 B/element — 2x MORE shuffle bytes than the floats; the byte width
    * is what makes the compression claim true end to end.) HOF form —
    * see [[quantize]] for the fused hot-path kernel.
    */
  def quantizeVec(vec: Column, scale: Column): Column =
    transform(vec, x => floor(x.cast("double") / scale + lit(0.5d)).cast("byte"))

  /** Fused int8 quantization — the native kernel `graft_quantize_i8`:
    * one codegen'd pass computes the per-vector scale and the rounded
    * byte components, bit-identical to `quantizeVec(v, qscale(v))`
    * (spec-cross-checked) and to the oracle replay. Requires
    * `Hashing.register` on the session — every caller here registers.
    */
  def quantize(vec: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_quantize_i8", vec)

  /** Integer dot product of two int8-quantized (byte-array) vectors — the
    * fused native kernel `graft_int_dot_range` (one codegen'd loop over
    * the packed bytes; exact 64-bit integer arithmetic, bit-identical to
    * the interpreted HOF form [[intDotHof]], spec-cross-checked, and to
    * the DuckDB `list_reduce` the quantized oracles replay). Requires
    * `Hashing.register` on the session — every caller here registers.
    */
  def intDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_int_dot_range",
      a, b, lit(1), lit(Int.MaxValue))

  /** The pure higher-order-function form of [[intDot]] (identical values;
    * interpreted — kept for the kernel cross-check spec).
    */
  def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** (id, q, qn) projection: fused-kernel quantized vector + integer norm.
    * (The per-vector scale cancels in cosine and is not carried — nothing
    * downstream ranks on magnitudes.)
    */
  def quantized(df: DataFrame, idCol: String, vecCol: String,
                idAs: String, qAs: String, nAs: String): DataFrame = {
    df.select(col(idCol).as(idAs), quantize(col(vecCol)).as(qAs))
      .withColumn(nAs, sqrt(intDot(col(qAs), col(qAs)).cast("double")))
  }

  /** IVF lists × int8 scoring — the production ANN composition
    * (IVF-flat with scalar quantization): centroid ASSIGNMENT uses exact
    * float cosine against the tiny deterministic codebook (the lowest
    * `nLists` ids, as in `Similarity.ivfSeededTopK` — assignment quality
    * is what recall hangs on, and the codebook side is nLists rows), but
    * all O(corpus × probes) within-list SCORING is the integer dot over
    * quantized vectors: 4x less data through the probe shuffle — at
    * 100 TB the corpus-side bytes are the whole cost — and exact integer
    * arithmetic, so the DuckDB oracle replays every score bit for bit.
    * Multi-probe (`nProbe`) is the same linear-candidate recall knob.
    */
  def ivfQuantizedTopK(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int, nLists: Int, nProbe: Int = 1): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("n"),
        quantize(col(vecCol)).as("q"))
      .withColumn("qn", sqrt(intDot(col("q"), col("q")).cast("double")))
    val cents = c.filter(col("id") < nLists)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("n").as("cn"))
    val cw = Window.partitionBy("id").orderBy(col("cscore").desc, col("cent_id"))
    // persisted: the assignment feeds membership AND (nProbe > 1) probes —
    // and the float vectors are DROPPED here, so everything downstream
    // moves quantized bytes only
    val top = graft.Caches.persist(
      c.crossJoin(broadcast(cents))
        .withColumn("cscore",
          round(Similarity.dot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
        .withColumn("crank", row_number().over(cw))
        .filter(col("crank") <= math.max(nProbe, 1))
        .select(col("id"), col("q"), col("qn"), col("cent_id"), col("crank")))
    val assigned = top.filter(col("crank") === 1)
      .select(col("id"), col("q"), col("qn"), col("cent_id").as("list_id"))
    val probes = top.select(col("id").as("query_id"), col("q").as("qq"),
      col("qn").as("pqn"), col("cent_id").as("list_id"))
    val scored = probes.join(assigned, "list_id")
      .filter(col("query_id") =!= col("id"))
      .withColumn("qscore",
        round(intDot(col("qq"), col("q")).cast("double") / (col("pqn") * col("qn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qscore").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("list_id"), col("id").as("neighbor_id"),
        col("qscore"), col("rank"))
  }

  /** The CORPUS-SCALED list count for [[ivfQuantizedTopK]] over `n`
    * vectors — the auto form of the documented knob: nLists =
    * max(8, ⌈√N⌉), so expected within-list candidate pairs stay
    * O(N·√N·nProbe / 1) ≈ linear-ish in N instead of O(N²/const).
    * Measured (ScaleCurve ×10, 20 k vectors): fixed nLists=8 runs 13.5 s;
    * this geometry stays in low seconds. Oracles replay the same
    * GREATEST(8, CEIL(SQRT(COUNT(*)))) so the geometry is hash-checked.
    */
  def autoLists(n: Long): Int = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Top-k cosine over int8-quantized vectors — same plan shape as the
    * exact [[Similarity.bruteForceTopK]] (queries broadcast, corpus
    * distributed), but every pairwise score is an integer dot: 4x less
    * data through the scan/shuffle and no float accumulation drift.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    Hashing.register(corpus.sparkSession)
    val q = quantized(queries, idCol, vecCol, "query_id", "qq", "qn")
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "cq", "cn")
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore",
        round(intDot(col("qq"), col("cq")).cast("double") / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qscore").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "qscore", "rank")
  }

  /** Squared-L2 distance restricted to index range [from, from+len):
    * the fused native kernel (`graft_l2sq_range`) — a strict-index-order
    * left fold, double per element, bit-identical to the interpreted HOF
    * form ([[l2sqHof]], spec-cross-checked) and to the DuckDB
    * `list_reduce` the oracle replays.
    */
  def l2sq(a: Column, b: Column, from: Int, len: Int): Column = {
    org.apache.spark.sql.functions.call_function("graft_l2sq_range",
      a, b, lit(from), lit(len))
  }

  /** The pure higher-order-function form of [[l2sq]] (identical values;
    * interpreted — kept for the kernel cross-check spec).
    */
  def l2sqHof(a: Column, b: Column, from: Int, len: Int): Column =
    aggregate(
      transform(sequence(lit(from), lit(from + len - 1)),
        i => (element_at(a, i).cast("double") - element_at(b, i).cast("double")) *
          (element_at(a, i).cast("double") - element_at(b, i).cast("double"))),
      lit(0.0d), (acc, x) => acc + x)

  /** Product quantization top-k (PQ, the IVF/SQ family's third member):
    * the D-dim space splits into `m` subspaces; each subspace has
    * `nCodes` centroids (the deterministic seeded codebook: subvectors of
    * the first nCodes corpus vectors, same discipline as ivfSeededTopK);
    * a corpus vector encodes to m code ids (argmin subspace L2, smallest
    * code on ties). Queries rank candidates by the L2 of the
    * RECONSTRUCTED vector (mathematically identical to the classic ADC
    * table sum; computed as one strict-order fold so both engines agree
    * bitwise).
    *
    * 100 TB rationale: the corpus compresses from D floats to m bytes per
    * vector (64x here) — the index that keeps a trillion vectors in
    * memory. Encoding is corpus x (nCodes·m) subspace distances, one
    * broadcast of the tiny codebook; search shuffles nothing but the
    * m-byte codes.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, subDim: Int = 16,
             nCodes: Int = 16): DataFrame = {
    val cb = corpus.filter(col(idCol) < nCodes)
      .select(col(idCol).cast("long").as("code_id"), col(vecCol).as("cv"))
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cb))
    val aggs = (0 until m).map { j =>
      min_by(col("code_id"),
        struct(l2sq(col("v"), col("cv"), j * subDim + 1, subDim), col("code_id")))
        .as(s"c$j")
    }
    val enc = scored.groupBy("id").agg(aggs.head, aggs.tail: _*)
    // reconstruct: one broadcast self-join per subspace stitches the
    // code centroids back into a full vector
    val recon0 = (0 until m).foldLeft(enc) { (df, j) =>
      df.join(broadcast(cb.select(col("code_id").as(s"cb${j}_id"),
          slice(col("cv"), j * subDim + 1, subDim).as(s"part$j"))),
        col(s"c$j") === col(s"cb${j}_id"))
    }
    val recon = recon0.select(col("id"),
      concat((0 until m).map(j => col(s"part$j")): _*).as("recon"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val adc = broadcast(q).crossJoin(recon)
      .filter(col("query_id") =!= col("id"))
      .withColumn("approx_l2sq", round(l2sq(col("qv"), col("recon"), 1, m * subDim), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_l2sq"), col("id"))
    adc.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("approx_l2sq"), col("rank"))
  }

  /** Exact squared-L2 top-k (the baseline arm PQ recall is measured
    * against — PQ ranks in L2 space, so the cosine baseline would
    * conflate metric mismatch with quantization loss).
    */
  def l2TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("l2sq", l2sq(col("qv"), col("cv"), 1, dim))
    val w = Window.partitionBy("query_id").orderBy(col("l2sq"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
