package graft.streaming

import graft.scale.{MediaDedup, Multimodal}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous media-corpus growth: the streaming form of the perceptual-
  * hash admission ([[graft.scale.MediaDedup]]) — the image sibling of
  * [[StreamingAdmission]] (text MinHash) and [[StreamingVectorAdmission]]
  * (embeddings). Each micro-batch of (doc_id, payload) images is
  * (1) DECODED — real PNG pixel decode; undecodable payloads are rejected
  * with reason `undecodable`, never thrown on — (2) perceptual-hashed and
  * de-duplicated WITHIN the batch (band-bucket join, Hamming ≤
  * `maxHamming`, smaller id wins), (3) admitted against the persisted
  * band-row index, and (4) appended — admitted ids and their index rows —
  * under the [[Admission]] replay protocol.
  *
  * The index directory is the ONLY cross-batch state. Per-batch cost is
  * O(batch + band-bucket collisions), never O(corpus): payload bytes never
  * shuffle (hashing happens in the scan-side mapPartitions), and the index
  * probe moves only (band, v, 4×16-bit hash) ints.
  */
object StreamingMediaAdmission {

  /** Admit one (batch, id) pair — also directly usable for backfill.
    * `batch` columns: (doc_id LONG, payload BINARY). `rejectedDir`, when
    * set, receives the audit sidecar (doc_id, reason, batch_id), reason ∈
    * {undecodable, intra_batch_dup, index_dup}.
    */
  def admitBatch(batch: DataFrame, batchId: Long, indexDir: String,
                 admittedDir: String, maxHamming: Int = 8,
                 rejectedDir: Option[String] = None,
                 tombstonesDir: Option[String] = None): Unit =
    admitHashed(batch, batchId, indexDir, admittedDir, maxHamming,
      rejectedDir, tombstonesDir, "image", MediaDedup.phashes)

  /** The body shared with [[StreamingAudioAdmission]]: any `hash` that
    * yields (doc_id, 4×16-bit band hashes) rows — one per decodable
    * payload — runs through the same band operators.
    */
  private[streaming] def admitHashed(
      batch: DataFrame, batchId: Long, indexDir: String, admittedDir: String,
      maxHamming: Int, rejectedDir: Option[String],
      tombstonesDir: Option[String], mediaType: String,
      hash: Dataset[Multimodal.MediaRecord] => DataFrame): Unit =
    Admission.admit(batch, batchId, tombstonesDir) { b =>
      import batch.sparkSession.implicits._
      // (1) decode + hash (one pass over payloads, scan-side); undecodable
      // payloads fall out of the hash frame and are audited by anti-join
      val media = batch.select(col("doc_id"), lit(mediaType).as("media_type"),
        col("payload")).as[Multimodal.MediaRecord]
      val ph = graft.Caches.persist(hash(media))
      val undecodable = batch.select("doc_id")
        .join(ph.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("undecodable").as("reason"))

      // (2) intra-batch duplicates: smaller id wins (capped band join)
      val intraDropped0 = MediaDedup.phashDuplicates(ph, maxHamming)
      val intraDropped =
        if (rejectedDir.isDefined) graft.Caches.persist(intraDropped0)
        else intraDropped0
      val intraSurvivors = ph.join(intraDropped, Seq("doc_id"), "left_anti")

      // (3) admission against the tombstone-masked index as of before
      // this batch: a near-dup of only-deleted content admits
      val index = b.asOf(indexDir, MediaDedup.bandRows(ph.limit(0)), "doc_id")
      val verdicts0 = MediaDedup.admitAgainst(index, intraSurvivors, maxHamming)
      val verdicts =
        if (rejectedDir.isDefined) graft.Caches.persist(verdicts0) else verdicts0
      val admitted = intraSurvivors.join(
        verdicts.filter(!col("is_dup")).select("doc_id"), Seq("doc_id"), "left_semi")

      b.reject(rejectedDir, Seq(undecodable,
        intraDropped.select(col("doc_id"), lit("intra_batch_dup").as("reason")),
        verdicts.filter(col("is_dup"))
          .select(col("doc_id"), lit("index_dup").as("reason"))))

      // (4) idempotent append: band rows to the index, ids to the corpus
      b.append(MediaDedup.bandRows(admitted), indexDir)
      b.append(admitted.select("doc_id"), admittedDir)
    }

  /** Start the continuous media admission over a (doc_id, payload) source. */
  def start(images: DataFrame, indexDir: String, admittedDir: String,
            checkpoint: String, maxHamming: Int = 8,
            rejectedDir: Option[String] = None,
            tombstonesDir: Option[String] = None): StreamingQuery =
    Admission.start(images, checkpoint)(admitBatch(_, _, indexDir, admittedDir,
      maxHamming, rejectedDir, tombstonesDir))
}
