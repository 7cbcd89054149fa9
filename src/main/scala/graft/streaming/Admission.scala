package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The replay protocol every streaming admission twin (text, vector,
  * image, video, audio, pair) shares; each twin supplies only its
  * modality kernels. It is the Structured Streaming recipe for
  * exactly-once output: a replayable source plus an idempotent sink keyed
  * by batch id.
  *
  *   - **Batch-keyed overwrite.** Every output — index rows, admitted
  *     rows, the rejected-row audit sidecar — lands in its own `batch_id`
  *     partition through a dynamic partition overwrite ([[Batch.append]]),
  *     so a replayed micro-batch replaces its own partition instead of
  *     appending twice. The option is per write; the shared session's conf
  *     is left untouched.
  *   - **As-of read.** The persisted index is read AS OF before this batch
  *     ([[Batch.asOf]]): a replay filters out its own (and any later)
  *     partition, so the index side of a replay is exactly the state of
  *     the batch's first run and the replay reproduces its verdicts. Batch
  *     ids must increase monotonically; Structured Streaming guarantees it.
  *     The index directories are the only cross-batch state — no executor
  *     state store — so a corpus grows with object storage, not cluster
  *     memory.
  *   - **Tombstone trade.** Tombstones (right-to-be-forgotten, see
  *     [[graft.scale.Deletion]]) mask the index AT READ: the next batch's
  *     probe cannot match deleted content, so a near-dup of only-deleted
  *     content is admitted. The physical rewrite (`Deletion.rewritePurged`)
  *     is a separate compaction concern. The replay guarantee is therefore
  *     verdict-exact only for a FIXED tombstone set: the mask is re-read at
  *     replay time, so a crash-recovery replay after a tombstone append
  *     re-decides under the current set (a rejection whose only match was
  *     since deleted flips to admission). That is deletion law applied
  *     retroactively — a replay must not resurrect matches against purged
  *     content — and it is the deliberate trade: legal erasure outranks
  *     cross-purge verdict reproduction. Pipelines needing byte-stable
  *     replays must freeze the tombstone directory for the recovery window.
  *
  * Each batch body runs inside `graft.Caches.scoped`, so the frames it
  * and its kernels persist are released when it exits, success or not,
  * and frames other queries in the session hold are never touched.
  */
private[streaming] object Admission {

  /** One micro-batch under the protocol: its id and the tombstone set
    * re-read for it.
    */
  final class Batch(frame: DataFrame, val id: Long,
                    tombstonesDir: Option[String]) {
    private val spark = frame.sparkSession
    private lazy val tombstones = tombstonesDir
      .filter(graft.io.Fs.exists(spark, _))
      .map(spark.read.parquet(_))

    /** `dir` as of before this batch, minus tombstoned `key`s; `empty`
      * (a zero-row frame of the index layout) before the first append.
      */
    def asOf(dir: String, empty: => DataFrame, key: String): DataFrame = {
      val raw =
        if (graft.io.Fs.exists(spark, dir))
          spark.read.parquet(dir).filter(col("batch_id") < id)
        else empty
      tombstones.fold(raw)(t => graft.scale.Deletion.purge(raw, t, key))
    }

    /** Idempotent append: `df` replaces this batch's partition of `dir`. */
    def append(df: DataFrame, dir: String): Unit =
      df.withColumn("batch_id", lit(id))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)

    /** The audit sidecar: (doc_id, reason) rows appended to `dir`, if set. */
    def reject(dir: Option[String], rows: Seq[DataFrame]): Unit =
      dir.foreach(d => if (rows.nonEmpty) append(rows.reduce(_ unionByName _), d))
  }

  /** Runs `body` for a non-empty batch inside one `Caches.scoped`. */
  def admit(batch: DataFrame, batchId: Long, tombstonesDir: Option[String])(
      body: Batch => Unit): Unit =
    if (!batch.isEmpty)
      graft.Caches.scoped(body(new Batch(batch, batchId, tombstonesDir)))

  /** The continuous form: `admitBatch` per micro-batch of `src`. */
  def start(src: DataFrame, checkpoint: String)(
      admitBatch: (DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: Dataset[Row], id: Long) => admitBatch(batch, id))
      .start()
}
