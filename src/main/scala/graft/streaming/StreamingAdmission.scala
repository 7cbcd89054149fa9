package graft.streaming

import graft.scale.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous corpus growth: the streaming form of
  * [[graft.scale.NearDup.admitAgainst]]. Each micro-batch of documents is
  * (1) near-dup'd WITHIN the batch (LSH candidates + signature agreement,
  * smaller id survives), (2) admitted against the persisted signature
  * index, and (3) appended — both the surviving documents and their index
  * rows — under the [[Admission]] replay protocol.
  *
  * The index directory is the ONLY cross-batch state, so a dedup'd corpus
  * grows past any single cluster's state capacity. Per-batch cost is
  * O(batch + bucket collisions), never O(corpus).
  */
object StreamingAdmission {

  /** Optional decontamination gate for the admission stream: docs whose
    * `shingleN`-gram overlap vs the (bounded, pre-collected) benchmark
    * suite reaches `threshold` are leaked eval content and are dropped
    * BEFORE dedup/admission — the streaming form of the v4 capstone's
    * gate. Build once via [[forSuite]] and share across every micro-batch;
    * the probe is one map-side pass per batch
    * (`Contamination.scoreAgainstSet`), no per-batch suite re-scan.
    */
  final case class DecontaminationGate(suite: Set[Long], shingleN: Int = 5,
                                       threshold: Double = 0.5)
      extends Serializable
  object DecontaminationGate {
    def forSuite(bench: DataFrame, shingleN: Int = 5,
                 threshold: Double = 0.5): DecontaminationGate =
      DecontaminationGate(
        graft.scale.Contamination.gramSet(bench, shingleN), shingleN, threshold)
  }

  /** Admit one (batch, id) pair — also directly usable for backfill.
    * `rejectedDir`, when set, receives the batch's AUDIT SIDECAR: one
    * (doc_id, reason, batch_id) row per rejected doc — reason ∈
    * {contaminated, intra_batch_dup, index_dup}, the streaming twin of
    * the batch `corpus_audit_trail`.
    */
  def admitBatch(batch: DataFrame, batchId: Long, indexDir: String,
                 admittedDir: String, minSigMatches: Int = 6,
                 gate: Option[DecontaminationGate] = None,
                 rejectedDir: Option[String] = None,
                 tombstonesDir: Option[String] = None): Unit =
    Admission.admit(batch, batchId, tombstonesDir) { b =>
      // (0) decontamination gate, when configured: contaminated docs never
      // reach dedup, the index, or the corpus. The probe carries the batch
      // columns through — the clean side is a filter over the scored batch,
      // not an anti-join back against it.
      val scored = gate.map { g =>
        graft.scale.Contamination
          .scoreAgainstSet(g.suite, batch, "doc_id", g.shingleN, g.threshold)
      }
      val cleanBatch = scored.fold(batch)(
        _.filter(!col("contaminated"))
          .select(batch.columns.map(col).toIndexedSeq: _*))
      val contaminatedRows = scored.toSeq.map(
        _.filter(col("contaminated"))
          .select(col("doc_id"), lit("contaminated").as("reason")))
      // everything was leaked eval content — the audit trail still ships
      if (cleanBatch.isEmpty) b.reject(rejectedDir, contaminatedRows)
      else {
        val sigs = NearDup.withSignatures(cleanBatch)

        // (1) intra-batch near-dups: of any agreeing pair, the smaller id
        // wins (fused band-bucket verify — NearDup.lshDuplicates,
        // equivalence spec-pinned against the candidates + signature-join
        // composition). Persisted when the sidecar is on (two consumers:
        // the anti-join and the reason rows).
        val intraDropped0 = NearDup.lshDuplicates(sigs, "doc_id", minSigMatches)
        val intraDropped =
          if (rejectedDir.isDefined) graft.Caches.persist(intraDropped0)
          else intraDropped0
        val intraSurvivors =
          cleanBatch.join(intraDropped, Seq("doc_id"), "left_anti")

        // (2) cross-shard admission against the index as of before this
        // batch, tombstone-masked (see Admission for the replay guarantee)
        val index = b.asOf(indexDir,
          NearDup.signatureIndex(batch.limit(0), "doc_id"), "doc")
        val verdicts0 = NearDup.admitAgainst(index, intraSurvivors, "doc_id",
          minSigMatches = minSigMatches)
        val verdicts =
          if (rejectedDir.isDefined) graft.Caches.persist(verdicts0) else verdicts0
        val admitted = intraSurvivors.join(
          verdicts.filter(!col("is_dup")).select("doc_id"), Seq("doc_id"), "left_semi")

        b.reject(rejectedDir, contaminatedRows ++ Seq(
          intraDropped.select(col("doc_id"), lit("intra_batch_dup").as("reason")),
          verdicts.filter(col("is_dup"))
            .select(col("doc_id"), lit("index_dup").as("reason"))))

        // (3) idempotent append: one partition per micro-batch (signatures
        // reused from the stage frame, not recomputed)
        b.append(sigs.join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("doc"), col("minhash_sig"),
            posexplode(col("bands")).as(Seq("band_idx", "band_hash"))), indexDir)
        b.append(admitted, admittedDir)
      }
    }

  /** Start the continuous admission stream over a `(doc_id, text)` source.
    * `tombstonesDir`, when set, is re-read each micro-batch, so ids
    * appended there between batches take effect on the NEXT batch.
    */
  def start(docs: DataFrame, indexDir: String, admittedDir: String,
            checkpoint: String, minSigMatches: Int = 6,
            gate: Option[DecontaminationGate] = None,
            rejectedDir: Option[String] = None,
            tombstonesDir: Option[String] = None): StreamingQuery =
    Admission.start(docs, checkpoint)(admitBatch(_, _, indexDir, admittedDir,
      minSigMatches, gate, rejectedDir, tombstonesDir))
}
