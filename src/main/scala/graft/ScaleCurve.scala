package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness (VERDICT r3 #8): synthesizes m-times-larger
  * fixture dirs by self-union with id remapping and times the most
  * expensive registry queries at each multiplier, so the "linear at
  * 100 TB" claims in SCALE.md rest on a measured curve instead of the
  * sf0.1 fixture floor. Bench-only — no oracle runs at synthesized
  * scale (the id remap preserves residue-derived distributions, not
  * DuckDB hashes).
  *
  * Id remapping: copy i adds `i * B` to each table's id column, with B a
  * multiple of L = 2^3 * 3^2 * 5^2 * 7 * 11 * 13 * 17 * 97 — the lcm of
  * every modulus the envelope/fixture derivations take (% 5, % 11, % 13,
  * % 17, % 20, % 40, % 50, % 97, % 100, ...). Every copy therefore
  * replays the SAME residue patterns: priorities, tenants, samples, and
  * join fan-outs keep their per-copy distribution, and the workload
  * scales in volume only. Orders/lineitem share one B so the join keys
  * stay aligned.
  *
  * Usage: ScaleCurve [srcSfDir] [workDir] [multipliers csv] [queries csv]
  * (4th arg restricts to a query subset — single-family iteration).
  * Prints one JSON line per multiplier.
  */
object ScaleCurve {

  /** lcm of the fixture's id-derivation moduli (see Scaladoc). */
  val L: Long = 8L * 9L * 25L * 7L * 11L * 13L * 17L * 97L

  def base(maxId: Long): Long = (maxId / L + 1L) * L

  /** m stacked copies, id columns shifted by i*B per copy; `mutate` lets
    * a table perturb content per copy.
    */
  def amplify(df: DataFrame, idCols: Seq[String], m: Int, b: Long,
              mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until m).map { i =>
      idCols.foldLeft(mutate(df, i))((d, c) => d.withColumn(c, col(c) + lit(i.toLong * b)))
    }.reduce(_ unionByName _)

  /** Per-copy character rotation over 10 frequent letters: every token of
    * every copy mutates differently, so copies are NOT near-duplicates of
    * each other. Exact-copy amplification would instead hand the near-dup
    * operators a quadratic edge blowup (every doc x its m-1 clones) and
    * the curve would measure that pathology, not volume scaling — the
    * first run did: dedup_clusters went 2.5 s -> 117 s at x10 on exact
    * copies, linear after this perturbation.
    */
  private val RotAlpha = "aeiousnrtl"
  def perturbText(d: DataFrame, i: Int): DataFrame = {
    val k = i % RotAlpha.length
    val to = RotAlpha.drop(k) + RotAlpha.take(k)
    d.withColumn("text", translate(col("text"), RotAlpha, to))
  }

  private val curveQueries = Seq(
    "q18_large_orders", "dedup_clusters", "hll_distinct_tenants",
    "emb_ivf_recall", "emb_banded_recall", "dedup_jaccard_capped",
    "corpus_prepare_v4",
    // round-6 additions: gram-/chunk-key shuffle ops and the fusion query
    "txt_novelty", "dedup_chunks", "txt_bigram_lm", "dedup_containment",
    "txt_boilerplate", "rrf_hybrid",
    // round-6 continuation: the new O(d²)-per-row embedding statistics,
    // iterative kernels (k-means, power iteration, triangles) and the
    // window-shape ops whose whole point is staying O(n) at scale
    "emb_dim_cov", "emb_pca_power", "emb_kmeans", "graph_triangles",
    "skyline_orders", "scd2_intervals", "corpus_prepare_v5",
    "evt_burst_windows", "graph_kcore",
    // round-7/8 additions: the join-free BPE encode sweep, chunk-level
    // BM25 RAG packing, packed-bit binary retrieval, and the 16-dim
    // prefix-shortlist rerank — each should scale in corpus volume only
    // (the query sides stay the fixed 5% sample)
    "txt_bpe_encode", "rag_context_pack", "emb_binary_topk",
    "emb_matryoshka_topk",
    // round-8 additions: the manifest/audit capstones (deep chains whose
    // per-stage work is linear), the kernelized entropy scan, and the
    // closed-form packing/fertility evals (txt_novelty already rides in
    // the round-6 block above)
    "corpus_prepare_v8", "corpus_audit_trail", "txt_byte_entropy",
    "pack_efficiency", "txt_bpe_fertility",
    // round-9 additions: the real-pixel media pair stage (planted-PNG
    // encode/decode is per-row work; the phash band join is the only pair
    // stage) and the kernelized int8 IVF (fixed nLists=8 — the documented
    // knob; expect super-linear within-list growth unless nLists scales
    // with the corpus, which is the point the curve row makes).
    // mm_corpus_prepare is excluded: its clone marker (+500000) is only
    // meaningful on the un-shifted fixture id space.
    "mm_phash_pairs", "emb_ivf_quant",
    // the sqrt-scaled geometry that fixes the fixed-nLists pathology —
    // the pair of curve rows IS the knob's documentation
    "emb_ivf_quant_auto",
    // round-10: the corpus-scaled SRP band plan (vectorBandPlanAuto) on
    // the banded near-dup + posting-index admission paths — candidates
    // per vector are ceiling-bounded by construction, so these rows
    // should grow ~linearly where the old fixed 4×4 geometry grew
    // O(m²/64); dedup_banded_plan rides along to record the geometry
    // actually chosen at each ×m
    "dedup_embedding_banded", "dedup_vector_incremental", "dedup_banded_plan",
    // recall-vs-floor eval: NOT memoized, so its curve row carries the
    // full posting+verify pipeline cost at every ×m (the banded row
    // above reads the session-pinned pair table after its first run)
    "dedup_vector_eval",
    // round-10 video: all-frame AVI demux + JPEG decode (pure per-row
    // work — should be flat-linear) and the keyframe-hash pair stage
    // (position-aligned band blocking; the only pair join in the family)
    "mm_video_scene_cuts", "mm_video_dedup",
    // offset voting blocks WITHOUT the position in the key — the widest
    // collision surface in the video family; the hot-bucket cap is what
    // keeps it linear, and this row is the measurement of that claim
    "mm_video_dedup_trimmed",
    // the admission probe (index-side cap) and the gate→dedup→manifest
    // capstone — the two chained forms of the same band machinery
    "mm_admit_video", "mm_video_corpus_prepare",
    // color frames cost ~6 decoded blocks per MCU vs gray's 1 — per-row
    // work, so the row should stay flat-linear like the gray form
    "mm_video_color_cuts",
    // round-11: cross-modal paired dedup — two blocked pair joins (image
    // bands + caption LSH) and two CC resolutions; every copy replants
    // its own clone classes (the +600k/700k/800k markers sit far below
    // the ~3e9 copy stride), so the row measures volume scaling of the
    // joint-class machinery
    "mm_pair_dedup",
    // video+transcript twin: keyframe-band pair join + fused CC; captions
    // demuxed from the real containers ride along per copy
    "mm_video_pair_dedup",
    // round-12 audio: WAV decode + energy-profile fingerprint (per-row
    // work) feeding the same capped band join as the image family — the
    // row should stay flat-linear like mm_phash_pairs
    "mm_audio_dedup",
    // offset voting without the position in the key — the widest audio
    // collision surface, same operator as the video trimmed row; the
    // hot-bucket cap is what keeps it linear
    "mm_audio_dedup_trimmed",
    // audio+transcript paired dedup: fingerprint-edge CC through the
    // shared cross-modal core — every copy replants its own classes
    "mm_audio_pair_dedup")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_scalecurve"
    val mults = (if (args.length > 2) args(2).split(",").toSeq.map(_.trim)
                 else Seq("1", "2", "5", "10")).map(_.toInt)
    val selected =
      if (args.length > 3) {
        val want = args(3).split(",").map(_.trim).toSet
        curveQueries.filter(want)
      } else curveQueries
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    // warm-up
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    mults.foreach { m =>
      val dir = synthesize(spark, src, work, m)
      val times = selected.map { q =>
        q -> math.min(timeQuery(spark, q, dir), timeQuery(spark, q, dir))
      }
      val qs = times.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
      println(s"""{"curve_mult":$m,"src":"$src","queries":$qs}""")
    }
    spark.stop()
  }

  /** Write the m-times-amplified fixture under `work/x{m}`; returns the
    * dir. Shared by the main and the gated ScaleCurveGateSpec.
    */
  def synthesize(spark: SparkSession, src: String, work: String,
                 m: Int): String = {
    import graft.sources.Tables
    def write(df: DataFrame, dir: String, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val dir = s"$work/x$m"
    // shared order-key base keeps the orders<->lineitem join aligned
    val orders = Tables.orders(spark, src)
    val lineitem = Tables.lineitem(spark, src)
    val bOrd = base(orders.agg(max("o_orderkey")).head.getLong(0))
    write(amplify(Tables.events(spark, src), Seq("event_id"), m,
      base(100000000L)), dir, "events")
    write(amplify(Tables.documents(spark, src), Seq("doc_id"), m,
      base(10000000L), perturbText), dir, "documents")
    // component rotation per copy (the StreamingCurve trick): copies are
    // mutually near-orthogonal, so the near-dup curve rows measure
    // VOLUME scaling — exact-copy amplification would hand the banded
    // dedup a quadratic planted-pair blowup and measure that pathology
    // instead (the text side's perturbText lesson, vector edition)
    write(amplify(Tables.embeddings(spark, src), Seq("vec_id"), m,
      base(10000000L), StreamingCurve.rotateVec), dir, "embeddings")
    write(amplify(orders, Seq("o_orderkey"), m, bOrd), dir, "orders")
    write(amplify(lineitem, Seq("l_orderkey"), m, bOrd), dir, "lineitem")
    // dimension tables pass through at 1x (same customers, same dims)
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach(t => write(Tables.table(spark, src, t), dir, t))
    dir
  }

  /** One timed noop-sink run of a registry query against `dir`. */
  def timeQuery(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    try SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[curve] $name: $e") }
    finally Caches.release()
    (System.nanoTime() - t0) / 1e9
  }
}
