package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Cross-modal paired dedup — the CLIP-style training-pair prep step: an
  * (image, caption) pair corpus is deduplicated by the JOINT equivalence
  * class (same image content AND same caption content), and the two
  * single-modality cluster structures are compared to surface
  * DISAGREEMENT as data: the same image re-captioned, or the same caption
  * re-illustrated — exactly the rows a pair-training curator must review
  * rather than silently drop.
  *
  * Both modality clusterings reuse the engine's single-modal machinery:
  * images via the band-hash kernel's capped pair join over REAL decoded
  * pixels ([[MediaDedup.pairs]]) resolved by
  * [[Clusters.connectedComponents]]; captions via MinHash LSH band
  * candidates + signature agreement ([[NearDup]]) resolved the same way.
  * The joint class is the (img_cluster, txt_cluster) composite; the
  * lowest pair_id per class is canonical.
  *
  * Scale shape: both edge generators are the blocked single-modality
  * shapes (never all-pairs), the CC runs shuffle (node, cluster) ids
  * only, and every downstream count is an id-keyed aggregation — payloads
  * and text never cross an exchange after their hash/signature pass.
  */
object CrossModal {

  /** Per-pair verdicts for an (image, caption) pair corpus.
    *
    * @param ph       perceptual hashes of the pair images
    *                 ([[MediaDedup.phashes]] layout: doc_id, b0..b3) with
    *                 doc_id = pair id
    * @param captions (idCol, text) captions, one row per pair
    * @return one row per pair: (pair_id, img_cluster, txt_cluster,
    *         class_size, is_canonical, img_disagree, txt_disagree) where
    *         img_disagree means some pair shares this pair's image
    *         cluster but not its caption cluster (and symmetrically).
    */
  def pairDedup(ph: DataFrame, captions: DataFrame, idCol: String,
                maxHamming: Int = 8, minSigMatches: Int = 6,
                maxBucket: Int = 64): DataFrame = {
    val phB = graft.Caches.persist(ph)

    // image edges: the capped fused-verify band self-join
    // (MediaDedup.pairs — blank/flat images share one aHash band, the
    // degenerate-content quadratic the cap suppresses)
    val imgEdges = MediaDedup.pairs(phB, maxHamming, maxBucket)
      .select("doc_a", "doc_b")

    // caption edges: verified LSH pairs (NearDup.lshDupPairs — capped
    // band self-join, signature agreement filtered before the distinct).
    // withSignatures barriers the signature subtree (Caches.lazyBarrier),
    // so both join sides read the checkpoint instead of re-running the
    // shingle+MinHash pass; the cap suppresses boilerplate-identical
    // captions, the text twin of the blank-image pathology.
    val txtEdges = NearDup.lshDupPairs(NearDup.withSignatures(captions),
      idCol, minSigMatches, maxBucket)

    pairDedupFromEdges(captions.select(col(idCol).as("pair_id")),
      imgEdges, txtEdges)
  }

  /** The modality-agnostic core: joint-class resolution + disagreement
    * assembly over PRE-BUILT same-modality edge lists — the entry point
    * for pair corpora whose edges come from other detectors (e.g.
    * video+transcript: keyframe-band video pairs + transcript-digest
    * classes). `pairs` is one (pair_id) row per pair; both edge frames
    * are (doc_a, doc_b) over pair ids.
    *
    * ONE CC run covers both modalities: first-modality nodes map to 2·id,
    * second-modality nodes to 2·id+1 — the namespaces are disjoint
    * (components never mix) and both maps are monotonic, so min-id
    * cluster semantics survive the decode. CC cost is serial round depth
    * (one action + checkpoint per star round), so fusing halves the
    * dominant cost vs two sequential resolutions.
    */
  def pairDedupFromEdges(pairs: DataFrame, imgEdges: DataFrame,
                         txtEdges: DataFrame): DataFrame = {
    val nsEdges = imgEdges.select((col("doc_a") * 2).as("doc_a"),
        (col("doc_b") * 2).as("doc_b"))
      .unionByName(txtEdges.select((col("doc_a") * 2 + 1).as("doc_a"),
        (col("doc_b") * 2 + 1).as("doc_b")))
    val cc = Clusters.connectedComponents(nsEdges, "doc_a", "doc_b")
    val imgCc = cc.filter(col("node") % 2 === 0)
      .select(shiftright(col("node"), 1).as("pair_id"),
        shiftright(col("cluster_id"), 1).as("img_cc"))
    val txtCc = cc.filter(col("node") % 2 === 1)
      .select(shiftright(col("node"), 1).as("pair_id"),
        shiftright(col("cluster_id"), 1).as("txt_cc"))
    assemble(pairs, imgCc, txtCc)
  }

  /** [[pairDedupFromEdges]] for corpora whose SECOND modality's clusters
    * are already resolved — e.g. digest-exact transcript classes, where
    * cluster = min pair_id per digest is a single window, no transitive
    * closure needed. Fusing such star edges into the CC buys nothing (the
    * round count is set by the OTHER side's graph depth) and costs every
    * round their row volume plus the namespacing map — measured on
    * mm_video_pair_dedup as part of the 4.6 → sub-4 s trim. `txtClusters`
    * is (pair_id, txt_cc), covering at least every pair with a non-
    * singleton class (missing pairs default to their own cluster).
    */
  def pairDedupFromEdgesResolvedTxt(pairs: DataFrame, imgEdges: DataFrame,
                                    txtClusters: DataFrame): DataFrame = {
    val cc = Clusters.connectedComponents(imgEdges, "doc_a", "doc_b")
    val imgCc = cc.select(col("node").as("pair_id"),
      col("cluster_id").as("img_cc"))
    assemble(pairs, imgCc,
      txtClusters.select(col("pair_id"), col("txt_cc")))
  }

  /** Joint-class + disagreement assembly over per-modality cluster maps
    * (left-joined; singleton pairs default to their own cluster).
    */
  private def assemble(pairs: DataFrame, imgCc: DataFrame,
                       txtCc: DataFrame): DataFrame = {
    val base = pairs
      .join(imgCc, Seq("pair_id"), "left")
      .join(txtCc, Seq("pair_id"), "left")
      .select(col("pair_id"),
        coalesce(col("img_cc"), col("pair_id")).as("img_cluster"),
        coalesce(col("txt_cc"), col("pair_id")).as("txt_cluster"))

    val nImg = base.groupBy("img_cluster").agg(count(lit(1)).as("n_img"))
    val nTxt = base.groupBy("txt_cluster").agg(count(lit(1)).as("n_txt"))
    val byClass = base.groupBy("img_cluster", "txt_cluster")
      .agg(count(lit(1)).as("class_size"), min("pair_id").as("canonical_id"))

    base
      .join(byClass, Seq("img_cluster", "txt_cluster"))
      .join(nImg, Seq("img_cluster"))
      .join(nTxt, Seq("txt_cluster"))
      .select(col("pair_id"), col("img_cluster"), col("txt_cluster"),
        col("class_size").cast("int").as("class_size"),
        (col("pair_id") === col("canonical_id")).as("is_canonical"),
        (col("n_img") > col("class_size")).as("img_disagree"),
        (col("n_txt") > col("class_size")).as("txt_disagree"))
  }

  /** Joint admission verdicts for an arriving batch of (image, caption)
    * pairs against PERSISTED single-modality indices — the incremental
    * form of [[pairDedup]]'s semantics (r12 verdict #5): both-modality
    * match ⇒ duplicate pair (rejected); exactly one modality matching ⇒
    * ADMITTED but flagged `disagree` (a re-captioned image or a
    * re-illustrated caption — curator-review rows, never silent drops).
    *
    * @param imgIndex [[MediaDedup.bandRows]] layout over admitted images
    * @param txtIndex [[NearDup.signatureIndex]] layout over admitted captions
    * @param ph       perceptual hashes of the batch pairs (pair id = doc_id)
    * @param captions (idCol, text) batch captions
    * @return (pair_id, img_dup, txt_dup, is_dup, disagree) — one row per
    *         batch pair present in EITHER input frame (full outer, so an
    *         undecodable image still gets its caption verdict)
    */
  def jointVerdicts(imgIndex: DataFrame, txtIndex: DataFrame, ph: DataFrame,
                    captions: DataFrame, idCol: String = "doc_id",
                    maxHamming: Int = 8, minSigMatches: Int = 6,
                    maxBucket: Int = 64): DataFrame = {
    val iv = MediaDedup.admitAgainst(imgIndex, ph, maxHamming, maxBucket)
      .select(col("doc_id").as("pair_id"), col("is_dup").as("img_dup"))
    val tv = NearDup.admitAgainst(txtIndex, captions, idCol,
        minSigMatches = minSigMatches, maxBucket = maxBucket)
      .select(col(idCol).as("pair_id"), col("is_dup").as("txt_dup"))
    iv.join(tv, Seq("pair_id"), "full_outer")
      .select(col("pair_id"),
        coalesce(col("img_dup"), lit(false)).as("img_dup"),
        coalesce(col("txt_dup"), lit(false)).as("txt_dup"))
      .withColumn("is_dup", col("img_dup") && col("txt_dup"))
      .withColumn("disagree", col("img_dup") =!= col("txt_dup"))
  }
}
