package graft.streaming

import graft.scale.{AviMjpeg, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous video-corpus growth: the streaming form of the keyframe-
  * hash admission ([[graft.scale.AviMjpeg]]) — the video sibling of
  * [[StreamingAdmission]] (text), [[StreamingVectorAdmission]]
  * (embeddings) and [[StreamingMediaAdmission]] (images). Each
  * micro-batch of (doc_id, payload) videos is (1) DEMUXED through the
  * real container (AVI movi chunks or the MP4 sample table) and its k=3
  * uniform-stride keyframes entropy-decoded and aHashed — videos that
  * fail to demux/decode are rejected with reason `undecodable`, never
  * thrown on — (2) de-duplicated WITHIN the batch (position-aligned band
  * blocking, keyframe-majority Hamming verify, smaller id wins), (3)
  * admitted against the persisted band-row index, and (4) appended —
  * admitted ids and their index rows — under the [[Admission]] replay
  * protocol.
  *
  * The index directory is the ONLY cross-batch state. Per-batch cost is
  * O(batch + band-bucket collisions), never O(corpus): payloads never
  * shuffle (demux+decode+hash happen scan-side), only ≤ k frames per
  * video ever decode whatever the video length, the probe moves
  * (pos, band, v) ints plus four 16-bit hash bands, and index buckets
  * wider than the hot-key cap are excluded from the probe (the
  * documented recall cost of keeping the probe O(batch)).
  */
object StreamingVideoAdmission {

  /** Admit one (batch, id) pair — also directly usable for backfill.
    * `batch` columns: (doc_id LONG, payload BINARY). `rejectedDir`, when
    * set, receives the audit sidecar (doc_id, reason, batch_id), reason ∈
    * {undecodable, intra_batch_dup, index_dup}.
    */
  def admitBatch(batch: DataFrame, batchId: Long, indexDir: String,
                 admittedDir: String, maxHamming: Int = 8, minMatch: Int = 2,
                 rejectedDir: Option[String] = None,
                 tombstonesDir: Option[String] = None): Unit =
    Admission.admit(batch, batchId, tombstonesDir) { b =>
      import batch.sparkSession.implicits._
      // (1) demux + decode + hash (scan-side, one pass over payloads);
      // undecodable videos fall out of the hash frame → audited by anti-join
      val media = batch.select(col("doc_id"), lit("video").as("media_type"),
        col("payload")).as[Multimodal.MediaRecord]
      val fph = graft.Caches.persist(AviMjpeg.keyframeHashes(media, k = 3).toDF())
      val undecodable = batch.select("doc_id")
        .join(fph.select(col("video_id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("undecodable").as("reason"))

      // (2) intra-batch duplicates: keyframe-majority pairs, smaller id wins
      val intraDropped0 = AviMjpeg.videoDuplicates(fph, maxHamming, minMatch)
      val intraDropped =
        if (rejectedDir.isDefined) graft.Caches.persist(intraDropped0)
        else intraDropped0
      val intraSurvivors = fph.join(intraDropped, Seq("video_id"), "left_anti")

      // (3) admission against the tombstone-masked index as of before
      // this batch: a clone of only-deleted videos admits
      val index = b.asOf(indexDir, AviMjpeg.videoBandRows(fph.limit(0)), "video_id")
      val verdicts0 = AviMjpeg.admitAgainstVideos(index, intraSurvivors,
        maxHamming, minMatch)
      val verdicts =
        if (rejectedDir.isDefined) graft.Caches.persist(verdicts0) else verdicts0
      val admitted = intraSurvivors.join(
        verdicts.filter(!col("is_dup")).select("video_id"), Seq("video_id"), "left_semi")

      b.reject(rejectedDir, Seq(undecodable,
        intraDropped.select(col("video_id").as("doc_id"),
          lit("intra_batch_dup").as("reason")),
        verdicts.filter(col("is_dup"))
          .select(col("video_id").as("doc_id"), lit("index_dup").as("reason"))))

      // (4) idempotent append: band rows to the index, ids to the corpus
      b.append(AviMjpeg.videoBandRows(admitted), indexDir)
      b.append(admitted.select(col("video_id").as("doc_id")).distinct(), admittedDir)
    }

  /** Start the continuous video admission over a (doc_id, payload) source. */
  def start(videos: DataFrame, indexDir: String, admittedDir: String,
            checkpoint: String, maxHamming: Int = 8, minMatch: Int = 2,
            rejectedDir: Option[String] = None,
            tombstonesDir: Option[String] = None): StreamingQuery =
    Admission.start(videos, checkpoint)(admitBatch(_, _, indexDir, admittedDir,
      maxHamming, minMatch, rejectedDir, tombstonesDir))
}
