package graft.projection

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.domain.SignalSchema

/** The heart of the rebuild: the keyed last-writer-wins projection with
  * delete tombstones (reference operators P1-P5,
  * data-plane/internal/projection/signal.go:38-67).
  *
  * Reference semantics preserved:
  *   - LWW is by *log order* (single-partition topic ⇒ total order;
  *     docker-compose.yml:43, data-plane/README.md:165), NOT by
  *     `updated_at`. The fold therefore keys on an explicit `seq` column
  *     (Kafka offset / file line / event id) carried with every event.
  *   - A delete tombstone for an unseen key is a silent no-op
  *     (projection/signal_test.go:116-130) — falls out of the fold: the
  *     tombstone wins the fold and is then filtered.
  *   - Re-applying the same event is idempotent
  *     (projection/signal_test.go:132-151) — `max_by` over a duplicated log
  *     returns the same row.
  *
  * Scale design: the fold is one aggregation
  * (`groupBy(key).agg(max_by(struct(...), seq))`) with one shuffle on
  * `key`. `max_by` is a declarative aggregate, so Spark performs map-side
  * partial aggregation: each of the N input partitions reduces to
  * ≤ |distinct keys in partition| rows before the shuffle, and skewed hot
  * keys are bounded (each map task emits one row per hot key). No join,
  * no window. It is not a hash aggregation: the `max_by` buffer holds a
  * struct of strings, which is variable-width, and HashAggregate needs
  * fixed-width mutable buffers. So it plans as partial SortAggregate →
  * Sort → Exchange → SortAggregate → Sort, one sort on each side of the
  * shuffle (`explain`, Spark 4.1.2).
  */
object SignalProjection {

  /** P1: decode raw event bytes/strings. Malformed payloads are skipped,
    * not fatal (consumer.go:39-44): `from_json` yields null, which we
    * filter. Events missing `action` or `id` are likewise unusable.
    *
    * `carry` passes wire ENVELOPE columns (e.g. the Kafka record
    * timestamp `ets` that s12's timestamp-LWW orders by) through the
    * decode untouched — ONE definition of the validity rule for every
    * consumer, rather than a re-implemented decode per extra column.
    */
  /** THE validity rule, one definition (r16 review finding: the
    * dead-letter split had re-implemented it verbatim, so a future
    * tightening applied to decode alone would silently fork the skip
    * semantics between the two entry points).
    */
  private def validEvent(e: Column): Column =
    e.isNotNull && e.getField("action").isNotNull && e.getField("id").isNotNull

  def decode(
      raw: DataFrame, valueCol: String = "value", seqCol: String = "seq",
      carry: Seq[String] = Nil): DataFrame = {
    val parsed = raw.select(
      (col(seqCol).cast("long").as("seq") +: carry.map(col)) :+
        from_json(col(valueCol).cast("string"), SignalSchema.eventSchema).as("e"): _*)
    parsed
      .where(validEvent(col("e")))
      .select((col("seq") +: carry.map(col)) ++
        SignalSchema.eventSchema.fieldNames.toSeq.map(f => col(s"e.$f")): _*)
  }

  /** Dead-letter split: the operational extension of P1's silent skip
    * (SURVEY §1.3 "optionally route to a dead-letter sink"). One pass,
    * one predicate ([[validEvent]], shared with [[decode]]) evaluated
    * twice against the same parsed column — the rejected frame carries
    * the raw payload + seq so operators can replay it after a decoder
    * fix. Both frames share the single scan; no second parse of the
    * input. `carry` passes envelope columns through both frames, same
    * contract as decode's.
    */
  def decodeWithDeadLetter(
      raw: DataFrame, valueCol: String = "value", seqCol: String = "seq",
      carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val parsed = raw.select(
      (col(seqCol).cast("long").as("seq") +: carry.map(col)) ++ Seq(
        col(valueCol).cast("string").as("_raw"),
        from_json(col(valueCol).cast("string"), SignalSchema.eventSchema).as("e")): _*)
    val ok = validEvent(col("e"))
    val good = parsed.where(ok)
      .select((col("seq") +: carry.map(col)) ++
        SignalSchema.eventSchema.fieldNames.toSeq.map(f => col(s"e.$f")): _*)
    val dead = parsed.where(!ok)
      .select(col("seq") +: carry.map(col) :+ col("_raw").as("raw"): _*)
    (good, dead)
  }

  /** P3/P5: keyed LWW fold — latest event (by `seq`) per key, all columns.
    * One shuffle, map-side combine, no join.
    *
    * `alsoGroup` (r18): extra grouping columns that are FUNCTIONS OF THE
    * KEY (the bucketed store's `_bucket = hash(key) % B`) — grouping by
    * (key, f(key)) is the same partition of rows as grouping by key, but
    * it lets a caller that has already repartitioned by f(key) run the
    * fold WITHOUT a second exchange: HashPartitioning(f(key)) satisfies
    * ClusteredDistribution(key, f(key)) (partitioning exprs ⊆ clustering
    * exprs), so the aggregate reuses the layout the write needs anyway.
    * Callers own the function-of-key invariant; an unrelated column here
    * would change the fold from one row per key to one row per
    * (key, col) — which is why the overload is `private[graft]` (r18
    * ADVICE: the invariant was documented but unenforced for external
    * callers; in-repo callers are spec-covered).
    */
  def latestByKey(events: DataFrame, key: String = "id",
      seq: String = "seq"): DataFrame =
    latestByKey(events, key, seq, Nil)

  private[graft] def latestByKey(events: DataFrame, key: String, seq: String,
      alsoGroup: Seq[String]): DataFrame = {
    val payloadCols =
      events.columns.filterNot(c => c == key || alsoGroup.contains(c))
    val payload = struct(payloadCols.map(col).toIndexedSeq: _*)
    events
      .groupBy((key +: alsoGroup).map(col): _*)
      .agg(max_by(payload, col(seq)).as("_r"))
      .select((col(key) +: alsoGroup.map(col)) ++
        payloadCols.toSeq.map(f => col(s"_r.$f").as(f)): _*)
  }

  /** P3+P4: full projection — LWW fold then tombstone filter. The
    * resulting DataFrame is the materialized view the read API serves.
    */
  def project(events: DataFrame, key: String = "id", seq: String = "seq"): DataFrame =
    latestByKey(events, key, seq).where(col("action") =!= SignalSchema.Deleted)

  /** Decode + project in one step: the full Kafka-bytes → queryable-view
    * pipeline (reference consumer loop, consumer.go:25-73).
    */
  def fromRaw(raw: DataFrame, valueCol: String = "value", seqCol: String = "seq"): DataFrame =
    project(decode(raw, valueCol, seqCol))
}
