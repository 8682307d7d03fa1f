package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.domain.SignalSchema
import graft.projection.SignalProjection

/** The streaming heart of the rebuild (SURVEY §2.1 S3-S5, §2.5): an event
  * stream of raw `(seq, value-json)` records is decoded (malformed →
  * skipped), reduced per key inside each micro-batch (map-side combine),
  * and merged into the [[BucketedStateStore]] by `foreachBatch`.
  *
  * Delivery semantics: checkpointed source offsets + batchId-idempotent
  * state merge = exactly-once — strictly stronger than the reference's
  * at-least-once consume with idempotent apply
  * (data-plane/internal/consumer/consumer.go:46-51).
  *
  * Source pluggability (SURVEY §7.4): the raw frame is `(seq LONG, value
  * STRING)`. For Kafka, `seq` is the offset
  * (`spark.readStream.format("kafka")` → `selectExpr("offset AS seq",
  * "CAST(value AS STRING) AS value")`); for files (the offline CI path)
  * it's an explicit column in JSON-lines fixtures. Everything downstream
  * is source-agnostic.
  */
class StreamingProjection(
    spark: SparkSession,
    stateDir: String,
    numBuckets: Int = 8) {

  val store = new BucketedStateStore(spark, stateDir, numBuckets)

  /** Raw file-source frame: an explicit log position + opaque payload. */
  val rawSchema: StructType = new StructType()
    .add("seq", LongType).add("value", StringType)

  /** One micro-batch: decode → per-key LWW reduce → bucketed merge.
    * The reduced frame is persisted for the batch's lifetime: the merge
    * runs two actions over it (the affected-buckets probe and the state
    * write), and without the cache each one would re-decode and re-fold
    * the whole micro-batch.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val latest = SignalProjection.latestByKey(SignalProjection.decode(batch)).persist()
    try store.merge(latest, batchId)
    finally latest.unpersist()
  }

  /** Run any [[graft.sources.EventSource]] until exhausted (AvailableNow);
    * pass a ProcessingTime trigger for continuous operation.
    */
  def run(
      source: graft.sources.EventSource,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.stream(spark).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()

  /** Run over a JSON-lines directory until exhausted (AvailableNow). */
  def runFileStream(
      sourceDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    run(graft.sources.FileEventSource(sourceDir, maxFilesPerTrigger), checkpointDir)

  /** The queryable materialized view (tombstones filtered). The
    * empty-store fallback declares the SAME column order the populated
    * path produces — `latestByKey` emits (id, seq, <other event fields>)
    * — so positional consumers (union-by-position, tuple encoders, which
    * bind by ordinal) see one shape whether or not state exists yet.
    */
  def view: DataFrame = viewOf(store.read())

  /** The view over one read of the state (None: no state yet). */
  def viewOf(state: Option[DataFrame]): DataFrame = state match {
    case Some(st) => st.where(col("action") =!= SignalSchema.Deleted)
    case None =>
      val schema = SignalSchema.eventSchema.fields.filterNot(_.name == "id")
        .foldLeft(new StructType()
          .add("id", org.apache.spark.sql.types.StringType)
          .add("seq", LongType))((s, f) => s.add(f))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
