package graft.sources

import graft.model.{Span, Spans}
import graft.streaming.{LinkEvent, SpanEnvelope, StreamingPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType, TimestampType}

/** Span sources/sinks (SURVEY §2.1 S1-S5).
  *
  * The reference moves proto3-encoded span lists over Kafka topics keyed by
  * trace ID (KafkaSpanConsumer.java:37-49, streams/serdes/SpansSerde.java).
  * Here the wire format is Zipkin JSON_V2 span lists; the Kafka record
  * timestamp becomes the session event time (ST1). The kafka format needs the
  * spark-sql-kafka connector on the classpath (not present in this container
  * — wiring compiles and is exercised in integration environments; the
  * file-based source below runs everywhere and drives the same pipeline).
  */
object SpanSources {

  /** S2: Kafka spans topic → SpanEnvelope stream (value = JSON_V2 span list,
    * one envelope per span; record timestamp drives sessionization).
    */
  def fromKafka(spark: SparkSession, bootstrapServers: String,
      topic: String = "zipkin-spans"): Dataset[SpanEnvelope] = {
    import spark.implicits._
    val flat = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .load()
      .select(col("timestamp").as("ingest_ts"),
        explode(from_json(col("value").cast("string"), ArrayType(Spans.schema))).as("span"))
      .select(col("ingest_ts"), col("span.*"))
    // normalize exactly like the file/batch paths: canonical id FORM
    // (lowercase, zero-padded to 16 or 32 hex — length-preserving) and
    // non-null containers (TraceMerge/DependencyLinker dereference them).
    // A trace reported under BOTH its 64- and 128-bit id forms still
    // sessions to two keys — the reference behaves identically (its
    // aggregation keys on the span's reported traceId string,
    // streams/SpanAggregationTopology.java); TraceMerge's longest-id rule
    // unifies them only where both forms meet in one span list (merge())
    Spans.normalize(flat)
      // malformed JSON PERMISSIVE-parses to an all-null row; a null-keyed
      // span NPEs TraceMerge's id resolution (or stores a null-id trace) —
      // the streaming boundary drops invalid spans, like the proto path
      .where(col("trace_id").isNotNull && col("id").isNotNull)
      .select(col("ingest_ts"),
        struct(Spans.schema.fieldNames.map(col): _*).as("span"))
      .as[SpanEnvelope]
  }

  /** S1 batch ingest analog: write a span Dataset to the spans topic keyed by
    * (normalized) trace ID — the reference's span-partitioning step.
    */
  def toKafkaSpans(spans: Dataset[Span], bootstrapServers: String,
      topic: String = "zipkin-spans"): Unit =
    spans.toDF()
      .select(Spans.normalizeTraceId(col("trace_id")).as("key"),
        to_json(array(struct(col("*")))).as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()

  /** S4/S5: stream sink to a Kafka topic, keyed (trace ID / "parent:child"). */
  def toKafkaStream(df: DataFrame, keyCol: String, bootstrapServers: String,
      topic: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.select(col(keyCol).cast("string").as("key"), to_json(struct(col("*"))).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)

  /** File-based streaming source: JSON_V2 span lines landing in a directory
    * (runs in any environment; same downstream pipeline as Kafka). The span's
    * own timestamp (µs→ms) is the event time; spans without a POSITIVE one
    * take the arrival (batch) time — zipkin encodes "absent" as an explicit
    * 0 as often as null, and either would otherwise become an epoch-0 event
    * time that the watermark drops as late, silently losing the span from
    * its trace.
    *
    * REPLAY HAZARD: when catching up on HISTORICAL files, one timestamp-less
    * span's wall-clock fallback advances the watermark to "now" and every
    * older span in later micro-batches is dropped as late. Replays of aged
    * data should go through the Kafka source ([[fromKafka]]), whose record
    * timestamp is the original receive time — historically placed, so the
    * fallback cannot outrun the data.
    */
  def fromJsonFiles(spark: SparkSession, path: String): Dataset[SpanEnvelope] = {
    import spark.implicits._
    Spans.normalize(spark.readStream.schema(Spans.schema).json(path))
      // drop malformed (all-null) lines — see fromKafka's boundary filter
      .where(col("trace_id").isNotNull && col("id").isNotNull)
      .select(coalesce(
          when(col("timestamp") > 0, timestamp_micros(col("timestamp"))),
          current_timestamp())
        .as("ingest_ts"),
        struct(col("*")).as("span"))
      .as[SpanEnvelope]
  }

  /** Batch JSON_V2 span lines (fixtures, backfills). */
  def fromJson(spark: SparkSession, path: String): Dataset[Span] =
    Spans.readJson(spark, path)

  /** Batch parquet span source (backfills, store re-reads) — same
    * normalization contract as the JSON path.
    */
  def fromParquet(spark: SparkSession, path: String): Dataset[Span] = {
    import spark.implicits._
    Spans.normalize(spark.read.parquet(path)).as[Span]
  }

  // ——— S3/S4: the dependency-link topic between the two topologies ———
  // The reference hands links from SpanAggregationTopology (producer,
  // SpanAggregationTopology.java:94-96) to DependencyStorageTopology
  // (consumer, DependencyStorageTopology.java:68) over `zipkin-dependency`,
  // values as zipkin DependencyLink JSON (DependencyLinkSerde). Same record
  // shape here: {"parent","child","callCount","errorCount"} + the record's
  // event time.

  private val linkHandoffSchema = StructType(Seq(
    StructField("event_ts", TimestampType, nullable = false),
    StructField("parent", StringType, nullable = false),
    StructField("child", StringType, nullable = false),
    StructField("callCount", LongType, nullable = false),
    StructField("errorCount", LongType, nullable = false)))

  /** S4 analog of the link producer: stream link events to a JSON handoff
    * directory (the file-backed stand-in for the `zipkin-dependency` topic).
    */
  def linksToJsonFiles(links: Dataset[LinkEvent], path: String,
      checkpoint: String): StreamingQuery =
    StreamingPipeline.startShared(links.toDF()
      .select(col("event_ts"), col("parent"), col("child"),
        col("call_count").as("callCount"), col("error_count").as("errorCount")))(_
      .format("json")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"))

  /** S3: dependency-link source over the file-backed handoff — the second
    * stage's input, decoupled from the aggregation stage exactly like the
    * reference's topology boundary.
    */
  def linksFromJsonFiles(spark: SparkSession, path: String): Dataset[LinkEvent] = {
    import spark.implicits._
    spark.readStream.schema(linkHandoffSchema).json(path)
      .select(col("event_ts"), col("parent"), col("child"),
        col("callCount").as("call_count"), col("errorCount").as("error_count"))
      // a malformed line PERMISSIVE-parses to nulls, and a null count NPEs
      // the primitive-Long LinkEvent deserializer — which crash-loops the
      // stage-2 query on the checkpoint-pinned file forever. Drop it like
      // every other ingest boundary drops malformed records.
      .where(col("event_ts").isNotNull && col("parent").isNotNull &&
        col("child").isNotNull && col("call_count").isNotNull &&
        col("error_count").isNotNull)
      .as[LinkEvent]
  }

  /** S3 Kafka variant: `zipkin-dependency` topic, value = DependencyLink
    * JSON, record timestamp = event time (same classpath caveat as
    * [[fromKafka]]).
    */
  def linksFromKafka(spark: SparkSession, bootstrapServers: String,
      topic: String = "zipkin-dependency"): Dataset[LinkEvent] = {
    import spark.implicits._
    val valueSchema = StructType(linkHandoffSchema.filterNot(_.name == "event_ts"))
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .load()
      .select(col("timestamp").as("event_ts"),
        from_json(col("value").cast("string"), valueSchema).as("l"))
      .select(col("event_ts"), col("l.parent").as("parent"), col("l.child").as("child"),
        col("l.callCount").as("call_count"), col("l.errorCount").as("error_count"))
      // non-JSON record → null struct → null counts → primitive-field NPE
      // crash-loop (see linksFromJsonFiles); drop malformed records instead
      .where(col("event_ts").isNotNull && col("parent").isNotNull &&
        col("child").isNotNull && col("call_count").isNotNull &&
        col("error_count").isNotNull)
      .as[LinkEvent]
  }
}
