package graft.streaming

import java.time.Duration
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Exact wall-clock-TTL idempotency — the SURVEY §7.4.1 parity path.
  *
  * `dropDuplicatesWithinWatermark` scopes dedup state by *event time*; the
  * reference's Redis guard (`SET event:processed:<consumer>:<id> EX 3600`,
  * `service/BaseEventConsumer.java:175-204`) is *processing-time* TTL.
  * This reproduces its contract on Spark 4's `transformWithState` API
  * (first occurrence admitted, duplicates dropped while the entry lives,
  * key re-admitted after expiry), with the TTL delegated to the state
  * store's native `TTLConfig` instead of hand-armed timers.
  *
  * State eviction happens inside the store (RocksDB compaction-time drop),
  * so expired keys cost no timer firings; and the value is never updated
  * on duplicates, so the original expiry holds — exactly `SET ... EX` +
  * `EXISTS`, not `GETEX`-style sliding renewal. State per in-flight key is
  * one boolean + TTL bookkeeping, hash-partitioned by the dedup key.
  *
  * Use it on long-running continuous pipelines (its intended home):
  * pending processing-time TTL counts as available work, so a
  * `Trigger.AvailableNow` drain can keep running empty micro-batches
  * until every entry expires; `dropDuplicatesWithinWatermark` serves
  * bounded replays and backfills.
  */
object TwsDedup {

  /** One-boolean-per-key processor: admit on absent state, drop on
    * present; the store's TTL re-opens the key.
    */
  final class Processor[T](ttl: Duration)
      extends StatefulProcessor[String, T, T] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig(ttl))

    override def handleInputRows(key: String, rows: Iterator[T],
                                 timerValues: TimerValues): Iterator[T] =
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        rows.take(1)
      }
  }

  /** Deduplicate `ds` by `key` with a processing-time TTL window. */
  def dedupWithTtl[T](ds: Dataset[T], key: T => String, ttl: Duration)
                     (implicit enc: Encoder[T]): Dataset[T] = {
    val sp = ds.sparkSession
    import sp.implicits._
    ds.groupByKey(key)
      .transformWithState(new Processor[T](ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
