package graft.streaming

import java.sql.Timestamp

import graft.core.{DependencyLinker, TraceMerge}
import graft.model.{DependencyLink, Span, Trace}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** A span batch on the wire: the event time is the transport's record
  * timestamp (the reference sessionizes on the Kafka record timestamp —
  * SpanAggregationTopologyTest.java:82-86, SURVEY §2.9 ST1), carried
  * separately from the span's own µs timestamp.
  */
final case class SpanEnvelope(ingest_ts: Timestamp, span: Span)

/** A completed trace with its session close time (watermark-driven emit). */
final case class ClosedTrace(trace_id: String, close_ts: Timestamp, spans: Seq[Span],
    root_ts: Long)

final case class LinkEvent(event_ts: Timestamp, parent: String, child: String,
    call_count: Long, error_count: Long)

/** The reference's three Kafka Streams topologies as Structured Streaming
  * stages (SURVEY §3.2). Each stage is a composable Dataset transform; wire
  * them source→sink with `writeStream` (kafka/parquet/memory). Emit-on-close
  * (the reference's `suppress(untilWindowCloses)`) falls out of Append mode +
  * watermark: a session's row is produced exactly once, when the watermark
  * passes its end (ST2/ST4).
  *
  * Scale posture: state is keyed by (trace_id, session) / (edge, window) —
  * partitioned by key across executors, no global state; watermark bounds
  * state retention exactly like the reference's store retention (ST6).
  */
object StreamingPipeline {

  private val artifactIsolation = "spark.sql.artifact.isolation.enabled"
  private val startLock = new Object

  /** Start an engine stream on the executor's shared classloader. Spark 4
    * isolates session artifacts by default: every `start()` clones the
    * session with artifact state of its own, and the executor runs that
    * query's tasks under a classloader of its own. Spark's codegen cache is
    * keyed by (context classloader, source), so each query would compile
    * the same generated classes again, and six of them overflow the cache's
    * 100 entries and recompile on every batch. The engine's queries use no
    * session-scoped artifacts (every class they run is on the application
    * classpath), so the stream's clone is taken with isolation off, and the
    * caller's setting is put back once the query has started (unset if it
    * was unset). The lock keeps two concurrent starts from restoring each
    * other's value mid-start.
    */
  private[graft] def startShared[T](data: Dataset[T])(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val conf = data.sparkSession.conf
    startLock.synchronized {
      // getAll holds only explicit settings; getOption would report the default
      val prev = conf.getAll.get(artifactIsolation)
      conf.set(artifactIsolation, "false")
      try sink(data.writeStream).start()
      finally prev match {
        case Some(v) => conf.set(artifactIsolation, v)
        case None => conf.unset(artifactIsolation)
      }
    }
  }

  /** A1/A2: session-window trace aggregation, gap = traceTimeout (default
    * 1 min, KafkaStorageBuilder.java:225), grace 0 ⇒ watermark delay 0
    * (late spans for a closed session are dropped — same as the reference,
    * ST5). Append output: one row per closed session.
    */
  def sessionTraces(envelopes: Dataset[SpanEnvelope], gap: String = "1 minute",
      watermarkDelay: String = "0 seconds"): Dataset[ClosedTrace] = {
    val spark = envelopes.sparkSession
    import spark.implicits._
    envelopes
      .withWatermark("ingest_ts", watermarkDelay)
      .groupBy(session_window(col("ingest_ts"), gap), col("span.trace_id").as("trace_id"))
      .agg(collect_list(col("span")).as("spans"))
      .select(col("trace_id"), col("session_window.end").as("close_ts"), col("spans"))
      .as[(String, Timestamp, Seq[Span])]
      .map { case (id, close, spans) =>
        val merged = TraceMerge.merge(spans)
        ClosedTrace(id, close, merged, graft.operators.SpanPipeline.rootTimestamp(merged))
      }
  }

  /** A1/A2 via explicit state (ST8): `flatMapGroupsWithState` with event-time
    * timeout — the direct analog of the reference's session store + suppress.
    * Behaviorally equivalent to [[sessionTraces]]; kept as the escape hatch
    * for semantics `session_window` can't express (e.g. per-key gap).
    */
  def sessionTracesWithState(envelopes: Dataset[SpanEnvelope],
      gapMs: Long = 60000L): Dataset[ClosedTrace] = {
    val spark = envelopes.sparkSession
    import spark.implicits._

    // Split timestamped spans into gap-separated sessions and emit every
    // session already final under the watermark. One micro-batch can carry
    // several sessions' worth of a trace (backlog catch-up), so gaps WITHIN
    // the accumulated state matter, not just the cross-batch timeout.
    def evaluate(traceId: String, rows: Seq[(Long, Span)], watermark: Long,
        state: GroupState[Seq[(Long, Span)]]): Iterator[ClosedTrace] = {
      val sorted = rows.sortBy(_._1)
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[(Long, Span)])
      for (r <- sorted) {
        if (sessions.last.nonEmpty && r._1 - sessions.last.last._1 >= gapMs)
          sessions += scala.collection.mutable.ArrayBuffer.empty[(Long, Span)]
        sessions.last += r
      }
      val (closed, open) = sessions.filter(_.nonEmpty)
        .partition(sess => sess.last._1 + gapMs <= watermark)
      val emitted = closed.iterator.map { sess =>
        val merged = TraceMerge.merge(sess.map(_._2).toSeq)
        ClosedTrace(traceId, new Timestamp(sess.last._1 + gapMs), merged,
          graft.core.Traces.rootTimestamp(merged))
      }.toVector
      if (open.isEmpty) state.remove()
      else {
        state.update(open.flatten.toSeq)
        // wake when the earliest still-open session could close
        state.setTimeoutTimestamp(open.map(_.last._1).min + gapMs)
      }
      emitted.iterator
    }

    envelopes
      .withWatermark("ingest_ts", "0 seconds")
      .groupByKey(_.span.trace_id)
      .flatMapGroupsWithState[Seq[(Long, Span)], ClosedTrace](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (traceId: String, batch: Iterator[SpanEnvelope],
         state: GroupState[Seq[(Long, Span)]]) =>
          val prev = state.getOption.getOrElse(Seq.empty)
          val arrived = batch.map(e => (e.ingest_ts.getTime, e.span)).toSeq
          val watermark = state.getCurrentWatermarkMs()
          evaluate(traceId, prev ++ arrived, watermark, state)
      }
  }

  /** A3/P3/P4: closed traces → keyed dependency-link events, stamped with the
    * session close time (the reference emits links when the session closes).
    */
  def dependencyLinkEvents(traces: Dataset[ClosedTrace]): Dataset[LinkEvent] = {
    val spark = traces.sparkSession
    import spark.implicits._
    traces.flatMap(t => DependencyLinker.link(t.spans)
      .map(l => LinkEvent(t.close_ts, l.parent, l.child, l.call_count, l.error_count)))
  }

  /** A4: per-minute windowed call/error counts per edge
    * (DependencyStorageTopology.java:70-105). Append emits a window's total
    * once the watermark passes it; Update mode streams running counts.
    *
    * Run this as its own streaming query over the link stream's sink: Spark
    * drops event-time lineage across the typed flatMap in
    * [[dependencyLinkEvents]], so a second stateful window cannot chain into
    * the session-aggregation plan — the stage boundary here mirrors the
    * reference's `zipkin-dependency` topic between its two topologies.
    */
  def dependencyWindowCounts(links: Dataset[LinkEvent], window: String = "1 minute",
      watermarkDelay: String = "0 seconds"): DataFrame =
    links.toDF()
      .withWatermark("event_ts", watermarkDelay)
      .groupBy(org.apache.spark.sql.functions.window(col("event_ts"), window),
        col("parent"), col("child"))
      .agg(sum("call_count").as("call_count"), sum("error_count").as("error_count"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("parent"), col("child"), col("call_count"), col("error_count"))

  /** Wire the closed-trace stream into the date-partitioned serving store
    * (S6). Semantics (ST7): appends are at-least-once — a micro-batch
    * retried after a crash re-appends its rows — and a trace whose spans
    * span several sessions lands as several partial rows. Both collapse at
    * read time: `TraceQueries.fromStore` re-merges per trace_id with
    * TraceMerge (the reference's read/upsert merge,
    * TraceStorageTopology.java:108-115; dedup is exactly TraceMerge's job
    * per SURVEY ST7). Retention is `StoreLayout.dropExpired` out-of-band.
    *
    * Traces with no span timestamps take the session close time as their
    * store timestamp (root_ts 0 would land them in the 1970-01-01 partition,
    * unreachable by any realistic range read).
    */
  def tracesToStore(traces: Dataset[ClosedTrace], path: String,
      checkpoint: String): StreamingQuery =
    startShared(traces)(_
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[ClosedTrace], _: Long) =>
        // pure column projection — no encoder round trip on the spans array
        graft.store.StoreLayout.writeTraces(
          batch.toDF().select(col("trace_id"), col("spans"),
            when(col("root_ts") === 0L, unix_micros(col("close_ts")))
              .otherwise(col("root_ts")).as("root_ts")), path)
      })

  /** Wire the windowed dependency counts into the date-partitioned serving
    * store (S6, dependency side — the analog of [[tracesToStore]]). Append
    * rows are final per (window, edge) under the watermark; a retried
    * micro-batch re-appends IDENTICAL finals, which collapse at read time
    * via `StoreLayout.readDependencyWindows`' full-row dedup (the keyed
    * RocksDB upsert analog) — re-summing alone would double-count them.
    */
  def dependencyWindowsToStore(windowCounts: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    startShared(windowCounts)(_
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the epoch id IS the retry-idempotence key: a replayed batch
        // repeats it, so the read-side dedup collapses exactly the retries
        graft.store.StoreLayout.writeDependencyWindows(batch, path, batchId)
      })

  /** Envelope stream → the span-projection schema the name-store builders
    * aggregate over, so the streaming stores are the SAME expressions as the
    * batch ones (content parity by construction, sort order included).
    */
  private def envelopeSpanFields(envelopes: Dataset[SpanEnvelope]): DataFrame =
    envelopes.toDF().select(
      col("span.local_endpoint.service_name").as("service"),
      col("span.name").as("name"),
      col("span.remote_endpoint.service_name").as("remote_service"),
      col("span.tags").as("tags"),
      unix_micros(col("ingest_ts")).as("event_us"))

  /** A7/A8 streaming name stores (Update mode: sets grow monotonically,
    * mirroring the reference's upsert processors; the aggregation itself is
    * the shared relational builder from [[graft.operators.SpanPipeline]]).
    */
  def spanNameSets(envelopes: Dataset[SpanEnvelope]): DataFrame =
    graft.operators.SpanPipeline.spanNamesRelational(envelopeSpanFields(envelopes))

  /** A8 streaming remote-service-name store (Update mode;
    * TraceStorageTopology.java:187-205 upsert analog).
    */
  def remoteServiceNameSets(envelopes: Dataset[SpanEnvelope]): DataFrame =
    graft.operators.SpanPipeline.remoteServiceNamesRelational(envelopeSpanFields(envelopes))

  /** A8 streaming autocomplete store for the configured keys (Update mode;
    * TraceStorageTopology.java:207-228 upsert analog).
    */
  def autocompleteTagSets(envelopes: Dataset[SpanEnvelope], keys: Seq[String]): DataFrame =
    graft.operators.SpanPipeline.autocompleteTagsRelational(envelopeSpanFields(envelopes), keys)

  /** Persist a name-store aggregation as the parquet serving table the query
    * surface reads — the name-store leg next to [[tracesToStore]] /
    * [[dependencyWindowsToStore]], completing the five persisted stores of
    * the reference (streams/TraceStorageTopology.java:131-149).
    *
    * Complete mode, not Update: an Update-mode micro-batch carries only the
    * keys whose set grew THAT batch, so overwriting the store with it would
    * drop every service the batch didn't touch; Complete re-emits the full
    * aggregate, and the whole-store overwrite is then exactly the
    * reference's upsert-to-latest. The state this holds is the name-store
    * keyspace itself (services × small sorted sets) — the smallest state in
    * the pipeline, safe to retain unwatermarked. The parquet swap is not
    * atomic for a reader listing files mid-rewrite; at cluster scale the
    * overwrite lands in a versioned directory behind a view flip, while the
    * write-then-serve round-trip (this engine's store contract) is
    * unaffected.
    */
  private def nameSetsToStore(sets: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    startShared(sets)(_
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Complete)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      })

  /** A7 span-names store → parquet (TraceStorageTopology.java:131-140). */
  def spanNamesToStore(envelopes: Dataset[SpanEnvelope], path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    nameSetsToStore(spanNameSets(envelopes), path, checkpoint)

  /** A8 remote-service-names store → parquet (TraceStorageTopology.java:187-205). */
  def remoteServiceNamesToStore(envelopes: Dataset[SpanEnvelope], path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    nameSetsToStore(remoteServiceNameSets(envelopes), path, checkpoint)

  /** A8 autocomplete-tags store → parquet (TraceStorageTopology.java:207-228). */
  def autocompleteTagsToStore(envelopes: Dataset[SpanEnvelope], keys: Seq[String],
      path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    nameSetsToStore(autocompleteTagSets(envelopes, keys), path, checkpoint)

  /** Scale-safe autocomplete sink: batch-local delta append + merge-on-read
    * (the trace store's pattern). The reference makes exactly this store
    * persistent because tag VALUES are unbounded
    * (streams/TraceStorageTopology.java:143-149) — with Complete mode
    * ([[autocompleteTagsToStore]]) both the streaming state emitted per batch
    * and the per-batch whole-store rewrite grow with the distinct-value
    * count, which is fine for the bounded name stores but not here.
    *
    * Each micro-batch aggregates ITS OWN rows (the same relational builder,
    * run as a static aggregation inside foreachBatch) and appends that
    * delta. No streaming state at all — a cumulative Update-mode
    * `collect_set` would re-emit a key's ENTIRE accumulated set every batch
    * it grows, making the store O(batches × set size) for a hot key; the
    * batch-local delta keeps it linear in values actually observed.
    * [[readAutocompleteStore]] collapses deltas per key at read time;
    * at-least-once re-appends and cross-batch repeats collapse in the same
    * array_distinct.
    *
    * Deltas are partitioned by `seen_date` (the UTC date of the span's
    * ingest time), so the reference's windowed-store lifecycle applies to
    * this store family too (streams/TraceStorageTopology.java:143-149 keeps
    * autocomplete in a 7-day window store): retention is
    * `StoreLayout.dropExpired(path, "seen_date", cutoff)` and compaction is
    * the same per-partition generation commit as the trace store.
    */
  def autocompleteTagsToStoreIncremental(envelopes: Dataset[SpanEnvelope],
      keys: Seq[String], path: String,
      checkpoint: String): StreamingQuery =
    startShared(envelopes)(_
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[SpanEnvelope], _: Long) =>
        appendAutocompleteDelta(envelopeSpanFields(batch), keys, path)
      })

  /** One delta-append body shared by the streaming sink's foreachBatch and
    * batch seeding/backfill (SparkEntry's q_store_autocomplete gate): the
    * batch's OWN per-(seen_date, tag_key) sorted-set aggregate — the SAME
    * relational builder as the Update-mode store and the batch query
    * surface, with `seen_date` as an extra grouping key, so the three paths
    * cannot drift — appended as delta rows. Requires an `event_us` column on
    * `spanFields` (µs span ingest time) for the `seen_date` partition
    * assignment; rows with a NULL ingest time are excluded (the F5 null-key
    * guard: a null date would land in the default-partition directory, which
    * the generation resolver never serves post-compaction and retention
    * never expires — silent data in limbo is worse than an explicit drop).
    * Never blocked, never lost: a delta file a concurrent compaction didn't
    * snapshot stays served outside the committed generation's manifest
    * (StoreLayout's generation-commit contract).
    */
  def appendAutocompleteDelta(spanFields: DataFrame, keys: Seq[String],
      path: String): Unit =
    graft.operators.SpanPipeline.autocompleteTagsRelational(
      spanFields.where(col("event_us").isNotNull), keys,
      extraGroups = Seq("seen_date" ->
        expr(graft.store.StoreLayout.epochDayExpr("event_us", 86400000000L))))
      .repartition(col("seen_date"))
      .write.partitionBy("seen_date")
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(path)

  /** Read-side collapse of [[autocompleteTagsToStoreIncremental]]'s delta
    * rows back to the (tag_key, sorted value set) serving shape the query
    * surface expects — one hash aggregation, prunable by tag_key at scan;
    * retained `seen_date` partitions resolve through the generation layout
    * and collapse together (the sets union across dates).
    */
  def readAutocompleteStore(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    // typed-empty schema: the query surface probing before the first
    // micro-batch commits must see an empty store, not a discovery failure
    val emptySchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("tag_key", StringType),
        StructField("values", ArrayType(StringType)),
        StructField("seen_date", DateType)))
    }
    graft.store.StoreLayout.collapseSetDeltas(
      graft.store.StoreLayout.readSetStore(spark, path, Some(emptySchema)),
      "tag_key", "values")
  }
}
