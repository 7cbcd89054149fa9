package graft.streaming

import graft.scale.AudioDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous audio-corpus growth: the streaming form of the energy-
  * profile fingerprint admission ([[graft.scale.AudioDedup]]) — the 5th
  * admission twin (text MinHash, vectors, images, video, now audio).
  * Each micro-batch of (doc_id, payload) WAV clips is (1) DECODED — real
  * RIFF/WAVE parse + PCM16 sample decode; undecodable or sub-window
  * payloads are rejected with reason `undecodable`, never thrown on —
  * (2) fingerprinted and de-duplicated WITHIN the batch (band-bucket
  * join, Hamming ≤ `maxHamming`, smaller id wins), (3) admitted against
  * the persisted band-row index, and (4) appended under the [[Admission]]
  * replay protocol.
  *
  * The fingerprint shares [[graft.scale.MediaDedup]]'s four-16-bit-band
  * layout, so the batch body IS the image twin's
  * ([[StreamingMediaAdmission]]) with the fingerprint in place of the
  * perceptual hash — hot-bucket caps included (a silent/flat clip is the
  * audio analog of a blank image: one shared fingerprint bucket).
  * Per-batch cost is O(batch + band-bucket collisions), never O(corpus);
  * payload bytes never shuffle (decode happens scan-side), and the index
  * probe moves only (band, v, 4×16-bit fingerprint) ints.
  */
object StreamingAudioAdmission {

  /** Admit one (batch, id) pair — also directly usable for backfill.
    * `batch` columns: (doc_id LONG, payload BINARY). `rejectedDir`, when
    * set, receives the audit sidecar (doc_id, reason, batch_id), reason ∈
    * {undecodable, intra_batch_dup, index_dup}.
    */
  def admitBatch(batch: DataFrame, batchId: Long, indexDir: String,
                 admittedDir: String, maxHamming: Int = 8,
                 rejectedDir: Option[String] = None,
                 tombstonesDir: Option[String] = None): Unit =
    StreamingMediaAdmission.admitHashed(batch, batchId, indexDir, admittedDir,
      maxHamming, rejectedDir, tombstonesDir, "audio",
      AudioDedup.fingerprintsWav(_).toDF())

  /** Start the continuous audio admission over a (doc_id, payload) source. */
  def start(clips: DataFrame, indexDir: String, admittedDir: String,
            checkpoint: String, maxHamming: Int = 8,
            rejectedDir: Option[String] = None,
            tombstonesDir: Option[String] = None): StreamingQuery =
    Admission.start(clips, checkpoint)(admitBatch(_, _, indexDir, admittedDir,
      maxHamming, rejectedDir, tombstonesDir))
}
