package graft.streaming

import graft.scale.{CrossModal, MediaDedup, Multimodal, NearDup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous (image, caption) PAIR admission — the sixth streaming twin
  * (text / vector / image / video / audio / now cross-modal pairs): an
  * arriving pair is admitted against BOTH persisted single-modality
  * indices as a JOINT verdict with `CrossModal.pairDedup` semantics —
  * both modalities matching admitted content ⇒ duplicate pair
  * (rejected); exactly one matching ⇒ ADMITTED but flagged `disagree`
  * (a re-captioned image or a re-illustrated caption, the rows a
  * pair-training curator reviews rather than silently drops).
  *
  * Per micro-batch: (1) decode + perceptual-hash the images (undecodable
  * payloads rejected with reason `undecodable`, never thrown on);
  * (2) intra-batch JOINT dedup via [[CrossModal.pairDedup]] — only the
  * canonical pair of each joint class survives (reason
  * `intra_pair_dup`); (3) joint probe of the image band index + the
  * caption signature index AS OF before this batch
  * ([[CrossModal.jointVerdicts]]), both masked by the shared tombstone
  * set (one takedown removes the pair from BOTH indices); (4) idempotent
  * append — image band rows, caption signature rows, and the admitted
  * pair ids WITH their disagreement flags — under the [[Admission]]
  * replay protocol.
  *
  * The two index directories are the ONLY cross-batch state. Per-batch
  * cost is O(batch + bucket collisions) in both modalities; payloads and
  * raw text never shuffle (hash/signature at the scan side, ints and
  * 8-byte keys through the exchanges).
  */
object StreamingPairAdmission {

  /** Admit one (batch, id) pair — also directly usable for backfill.
    * `batch` columns: (doc_id LONG, payload BINARY, text STRING).
    * `rejectedDir`, when set, receives (doc_id, reason, batch_id),
    * reason ∈ {undecodable, intra_pair_dup, pair_dup}.
    */
  def admitBatch(batch: DataFrame, batchId: Long, imgIndexDir: String,
                 txtIndexDir: String, admittedDir: String,
                 maxHamming: Int = 8, minSigMatches: Int = 6,
                 rejectedDir: Option[String] = None,
                 tombstonesDir: Option[String] = None): Unit =
    Admission.admit(batch, batchId, tombstonesDir) { b =>
      import batch.sparkSession.implicits._
      // (1) decode + hash at the scan side
      val media = batch.select(col("doc_id"), lit("image").as("media_type"),
        col("payload")).as[Multimodal.MediaRecord]
      val ph = graft.Caches.persist(MediaDedup.phashes(media))
      val undecodable = batch.select("doc_id")
        .join(ph.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("undecodable").as("reason"))
      val pairs = batch.join(ph.select("doc_id"), Seq("doc_id"), "left_semi")

      // (2) intra-batch joint dedup: one fused CC over both modality edge
      // sets; the canonical pair of each joint class survives
      val intra = graft.Caches.persist(CrossModal.pairDedup(
        ph, pairs.select(col("doc_id"), col("text")), "doc_id",
        maxHamming, minSigMatches))
      val intraDropped = intra.filter(!col("is_canonical"))
        .select(col("pair_id").as("doc_id"))
      val survivors = pairs.join(intraDropped, Seq("doc_id"), "left_anti")

      // (3) joint probe of both indices as of before this batch, masked by
      // the one tombstone set that covers both modalities of a pair
      val imgIndex = b.asOf(imgIndexDir,
        MediaDedup.bandRows(ph.limit(0)), "doc_id")
      val txtIndex = b.asOf(txtIndexDir,
        NearDup.signatureIndex(pairs.select("doc_id", "text").limit(0), "doc_id"),
        "doc")
      val verdicts = graft.Caches.persist(CrossModal.jointVerdicts(
        imgIndex, txtIndex,
        ph.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"),
        survivors.select(col("doc_id"), col("text")), "doc_id",
        maxHamming, minSigMatches))
      val admitted = verdicts.filter(!col("is_dup"))
        .select(col("pair_id").as("doc_id"), col("img_dup"), col("txt_dup"),
          col("disagree"))

      b.reject(rejectedDir, Seq(undecodable,
        intraDropped.select(col("doc_id"), lit("intra_pair_dup").as("reason")),
        verdicts.filter(col("is_dup"))
          .select(col("pair_id").as("doc_id"), lit("pair_dup").as("reason"))))

      // (4) idempotent append: band rows + signature rows + flagged ids
      val admittedIds = admitted.select("doc_id")
      b.append(MediaDedup.bandRows(
        ph.join(admittedIds, Seq("doc_id"), "left_semi")), imgIndexDir)
      b.append(NearDup.signatureIndex(
        survivors.join(admittedIds, Seq("doc_id"), "left_semi")
          .select("doc_id", "text"), "doc_id"), txtIndexDir)
      b.append(admitted, admittedDir)
    }

  /** Start the continuous pair admission over a (doc_id, payload, text)
    * source.
    */
  def start(pairsSrc: DataFrame, imgIndexDir: String, txtIndexDir: String,
            admittedDir: String, checkpoint: String,
            maxHamming: Int = 8, minSigMatches: Int = 6,
            rejectedDir: Option[String] = None,
            tombstonesDir: Option[String] = None): StreamingQuery =
    Admission.start(pairsSrc, checkpoint)(admitBatch(_, _, imgIndexDir,
      txtIndexDir, admittedDir, maxHamming, minSigMatches, rejectedDir,
      tombstonesDir))
}
