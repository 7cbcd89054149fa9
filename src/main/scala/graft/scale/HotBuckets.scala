package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The single implementation of hot-bucket suppression: rows restricted
  * to blocking buckets (grouped on `keys`) no wider than `maxBucket`.
  * Every band-blocked join in the engine (text LSH, image aHash, video
  * keyframe bands, audio fingerprint bands, all admission probes, both
  * CrossModal edges) routes through here, so the physical strategy is
  * ONE decision instead of five copies drifting apart. The DuckDB
  * bcnt/qband oracle CTEs replay it.
  *
  * The plan is `count().over(Window.partitionBy(keys))` + filter. The
  * window partitions on the SAME key the downstream self-join shuffles
  * on, so the exchange is shared — and because Spark's default equi-join
  * is sort-merge, the window's sort is the sort SMJ needs anyway. One
  * pass over the input.
  *
  * Measured at ×1 on non-degenerate registry content (sf0.1, r13 —
  * SCALE.md "cap cost at ×1"): a two-phase alternative (map-side
  * `keys → n` aggregate + LEFT ANTI join of the hot keys) was within ±8 %
  * on five of six queries and 65 % slower on `mm_dedup_eval`, whose band
  * rows it computes twice; on content with real hot buckets the window
  * pays for itself by pruning rows.
  */
object HotBuckets {

  def cap(b: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) b // genuinely uncapped (skew-gate arms)
    else b.withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
}
