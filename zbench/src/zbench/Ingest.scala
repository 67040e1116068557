package zbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable

import graft.core.{DependencyLinker, TraceMerge}
import graft.operators.TraceQueries
import graft.sources.{ProtoSpans, SpanSources}
import graft.store.StoreLayout
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared handles for one leg. */
final case class Ctx(spark: SparkSession, probe: SparkProbe, streams: StreamProbe,
    tracer: Tracer, work: Path, seed: Long, checks: Checks)

/** What one leg reports: its end-to-end metrics under their own names,
  * the two every workload shares (process CPU per operation, the gated
  * figure, and the median latency the tracing overhead compares),
  * per-layer metrics and the median set-up time.
  */
final case class LegResult(named: Map[String, Metric], cpuMsPerOp: Double, p50Ms: Double,
    layers: Map[String, Metric], setupS: Double)

/** The reference's full ingest topology on MemoryStream (the stand-in for
  * the Kafka spans topic): proto envelopes → session traces → trace store;
  * session traces → links → JSON handoff → 1-minute window counts →
  * dependency store; span-name, remote-name and autocomplete stores.
  */
final class Topology(ctx: Ctx, dir: Path, keys: Seq[String]) {
  import ctx.spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext

  val input: MemoryStream[(Timestamp, Array[Byte])] = MemoryStream[(Timestamp, Array[Byte])]
  val tracesPath: String = dir.resolve("traces").toString
  val depsPath: String = dir.resolve("deps").toString
  val namesPath: String = dir.resolve("span_names").toString
  val remotePath: String = dir.resolve("remote_names").toString
  val autoPath: String = dir.resolve("autocomplete").toString
  private val handoff = dir.resolve("link_handoff")
  java.nio.file.Files.createDirectories(handoff)
  private def chk(n: String) = dir.resolve("checkpoints").resolve(n).toString

  /** name → query; `deps` reads what `links` writes, so it is waited on last.
    * The state of each stateful query lives in one shuffle partition: a
    * micro-batch is a few hundred spans, and more partitions would only
    * multiply the per-batch state-store commits.
    */
  val queries: Seq[(String, StreamingQuery)] = SparkProbe.tagged(ctx.spark, "ingest") {
    val parts = ctx.spark.conf.get("spark.sql.shuffle.partitions")
    ctx.spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
    val envelopes = ProtoSpans.envelopes(input.toDF().toDF("timestamp", "value"))
    Seq[(String, () => StreamingQuery)](
      "traces" -> (() => StreamingPipeline.tracesToStore(
        StreamingPipeline.sessionTraces(envelopes), tracesPath, chk("traces"))),
      "links" -> (() => SpanSources.linksToJsonFiles(
        StreamingPipeline.dependencyLinkEvents(StreamingPipeline.sessionTraces(envelopes)),
        handoff.toString, chk("links"))),
      "span_names" -> (() => StreamingPipeline.spanNamesToStore(envelopes, namesPath, chk("names"))),
      "remote_names" -> (() =>
        StreamingPipeline.remoteServiceNamesToStore(envelopes, remotePath, chk("remote"))),
      "autocomplete" -> (() =>
        StreamingPipeline.autocompleteTagsToStoreIncremental(envelopes, keys, autoPath, chk("auto"))),
      "deps" -> (() => StreamingPipeline.dependencyWindowsToStore(
        StreamingPipeline.dependencyWindowCounts(
          SpanSources.linksFromJsonFiles(ctx.spark, handoff.toString)),
        depsPath, chk("deps"))))
      .map { case (n, start) => n -> start() }
    } finally ctx.spark.conf.set("spark.sql.shuffle.partitions", parts)
  }
  def query(name: String): StreamingQuery = queries.find(_._1 == name).get._2

  /** Send one batch and wait until every sink has committed it. */
  def send(batch: Seq[Record]): Unit = {
    input.addData(batch.map(r => (r.ts, r.value)))
    queries.foreach(_._2.processAllAvailable())
  }

  /** Wait out the no-data batches that emit what the last watermark closed. */
  def settle(): Unit = {
    def marks = queries.map(q => Option(q._2.lastProgress).map(_.batchId).getOrElse(-1L))
    var prev = marks
    var stable = 0
    while (stable < 3) {
      queries.foreach(_._2.processAllAvailable())
      Thread.sleep(150)
      val now = marks
      if (now == prev && queries.forall(!_._2.status.isTriggerActive)) stable += 1
      else stable = 0
      prev = now
    }
  }

  def stop(): Unit = queries.foreach(_._2.stop())
}

/** The `ingest` leg: a closed loop with one feeder. */
final class Ingest(ctx: Ctx, shape: TraceShape, spansPerBatch: Int, compactEvery: Int) {
  private val spark = ctx.spark
  import spark.implicits._

  def run(seconds: Double, setupReps: Int): LegResult = {
    // set-up: start the six streaming queries and let them initialize
    val setups = mutable.ArrayBuffer.empty[Double]
    var topo: Topology = null
    val feed = new Feed(shape, ctx.seed, spansPerBatch)
    for (rep <- 1 to setupReps) {
      if (topo != null) { topo.stop(); Files.rm(ctx.work.resolve(s"ingest${rep - 1}")) }
      val t0 = System.nanoTime()
      topo = new Topology(ctx, ctx.work.resolve(s"ingest$rep"), feed.gen.tagKeys)
      topo.queries.foreach(_._2.processAllAvailable())
      setups += (System.nanoTime() - t0) / 1e9
    }
    // the first batch compiles the micro-batch plans: a warm-up, timed apart
    val f0 = System.nanoTime()
    topo.send(feed.nextBatch())
    val firstBatchMs = (System.nanoTime() - f0) / 1e6
    ctx.streams.reset()
    val before = ctx.probe.snapshot(spark, "ingest")

    val lags = mutable.ArrayBuffer.empty[Double]
    val genMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val sent = mutable.ArrayBuffer.empty[Vector[Record]]
    var spans = 0L
    var busyNs = 0L
    val cpu0 = Proc.cpuNs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // measured: whole rounds of `compactEvery` batches, each closed by a
    // compaction, until the deadline; so every run's CPU covers the same mix
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadline) {
      for (_ <- 1 to compactEvery) ctx.tracer.root("ingest.batch") {
        val g0 = System.nanoTime()
        val s0 = feed.truth.spans
        val batch = ctx.tracer.span("bench", "generate")(feed.nextBatch())
        spans += feed.truth.spans - s0
        genMs += (System.nanoTime() - g0) / 1e6
        val t0 = System.nanoTime()
        ctx.tracer.span("streaming", "commit")(send(topo, batch))
        val lag = System.nanoTime() - t0
        lags += lag / 1e6
        busyNs += lag
        sent += batch
      }
      val c0 = System.nanoTime()
      ctx.tracer.root("ingest.compact")(ctx.tracer.span("store", "compact")(compact(topo)))
      val c = System.nanoTime() - c0
      compactMs += c / 1e6
      busyNs += c
      rounds += 1
    }
    val cpuNs = Proc.cpuNs() - cpu0
    val engine = ctx.probe.snapshot(spark, "ingest").minus(before)
    val streams = topo.queries.map { case (name, q) => name -> ctx.streams.get(spark, q.id.toString) }.toMap
    val n = lags.size

    // after the window: the last batch (every record still due and the flush
    // traces), the no-data batches that emit what its watermark closed, and
    // one compaction of the whole store, which the checks read through
    send(topo, feed.lastBatch())
    topo.settle()
    val dropped = ctx.streams.get(spark, topo.query("traces").id.toString).droppedByWatermark
    topo.stop()
    compact(topo)
    verify(topo, feed, dropped)

    val (lagTail, lagPct) = Stats.tail(lags.toSeq)
    System.err.println(f"[zbench] ingest: first batch $firstBatchMs%.0f ms, then $rounds round(s), $n batches, " +
      f"$spans spans, lags " + lags.map(x => f"$x%.0f").mkString(" ") + f" ms (tail = p$lagPct%.0f), " +
      "set-ups " + setups.map(x => f"$x%.2f").mkString(" ") + " s")
    val named = Map(
      "spans_per_s" -> Metric(spans / (busyNs / 1e9), "1/s"),
      "ingest_lag_p50_ms" -> Metric(Stats.median(lags.toSeq), "ms"),
      "ingest_lag_tail_ms" -> Metric(lagTail, "ms"),
      "cpu_ms_per_kspan" -> Metric(cpuNs / 1e6 / (spans / 1000.0), "ms"))
    val layers = mutable.LinkedHashMap.empty[String, Metric]
    if (ctx.tracer.enabled) layers ++= layerMetrics(topo, feed, sent.toSeq, streams, compactMs.toSeq, n)
    layers ++= Main.sparkMetrics("ingest", engine, spans / 1000.0)
    layers("streaming.first_batch_ms") = Metric(firstBatchMs, "ms")
    layers("bench.generate_ms") = Metric(Stats.mean(genMs.toSeq), "ms")
    LegResult(named, named("cpu_ms_per_kspan").value, named("ingest_lag_p50_ms").value,
      layers.toMap, Stats.median(setups.toSeq))
  }

  /** One batch, checked: every query committed it without failing. */
  private def send(topo: Topology, batch: Seq[Record]): Unit = {
    val ok = try { topo.send(batch); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[zbench] batch failed: $e"); false }
    ctx.checks.check("ingest.batch_committed", ok)
  }

  private var rewritten = 0L

  /** Compact the trace store, counting the bytes of the files it writes. */
  private def compact(topo: Topology): Unit = {
    val before = Files.listing(java.nio.file.Paths.get(topo.tracesPath))
    StoreLayout.compactTraces(spark, topo.tracesPath)
    rewritten += Files.listing(java.nio.file.Paths.get(topo.tracesPath))
      .collect { case (p, b) if !before.contains(p) => b }.sum
  }

  /** Every store against the truth the feed accumulated. */
  private def verify(topo: Topology, feed: Feed, dropped: Long): Unit = {
    val c = ctx.checks
    val endTs = feed.startMs + 400L * 86400000L
    val lookback = 800L * 86400000L
    val stored = TraceQueries.fromStore(StoreLayout.readTraces(spark, topo.tracesPath, endTs, lookback))
      .collect().filterNot(t => feed.flushIds.contains(t.trace_id))
    val got = stored.map(t => t.trace_id -> t.spans.map(s => (s.id, s.isShared)).toSet).toMap
    val want = feed.truth.traceSpans.map { case (k, v) => k -> v.toSet }.toMap
    c.same("ingest.trace_count", got.size, want.size)
    val wrong = want.count { case (id, keys) => !got.get(id).contains(keys) }
    c.same("ingest.trace_contents_mismatched", wrong, 0)

    val edges = StoreLayout.readDependencyWindows(spark, topo.depsPath, endTs, lookback)
      .where(!col("parent").isin(feed.flushServices: _*))
      .groupBy("parent", "child").agg(sum("call_count"), sum("error_count"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    c.same("ingest.edges", edges, feed.truth.edges.toMap)

    def sets(path: String, setCol: String) =
      spark.read.parquet(path).select(col("service"), col(setCol)).as[(String, Seq[String])]
        .collect().map(r => r._1 -> r._2.toList).toMap
    def truthSets(m: mutable.HashMap[String, mutable.TreeSet[String]]) =
      m.map { case (k, v) => k -> v.toList }.toMap
    c.same("ingest.span_names", sets(topo.namesPath, "span_names"), truthSets(feed.truth.spanNames))
    c.same("ingest.remote_names", sets(topo.remotePath, "remote_service_names"),
      truthSets(feed.truth.remoteNames))
    val auto = StreamingPipeline.readAutocompleteStore(spark, topo.autoPath)
      .as[(String, Seq[String])].collect().map(r => r._1 -> r._2.toList).toMap
    c.same("ingest.autocomplete", auto, truthSets(feed.truth.tagValues))
    c.same("ingest.late_dropped", dropped, feed.truth.lateSpans)
  }

  /** Traced run only: per-module figures around the public calls. */
  private def layerMetrics(topo: Topology, feed: Feed, sent: Seq[Vector[Record]],
      q: Map[String, QueryTotals], compactMs: Seq[Double], batches: Int): Map[String, Metric] = {
    val out = mutable.LinkedHashMap.empty[String, Metric]
    val nb = math.max(1, batches).toDouble
    // sources: one static decode of every measured record through the program's
    // envelope function; timestamps are unique per record, so records that
    // yield no span are the ones it skipped
    val recs = sent.flatten
    val df = spark.createDataset(recs.map(r => (r.ts, r.value))).toDF("timestamp", "value").cache()
    df.count()
    val t0 = System.nanoTime()
    val (decoded, withSpans) = ctx.tracer.root("ingest.decode") {
      ctx.tracer.span("sources", "envelopes") {
        val env = SparkProbe.tagged(spark, "bench")(ProtoSpans.envelopes(df)
          .agg(count(lit(1)), countDistinct(col("ingest_ts"))).as[(Long, Long)].first())
        env
      }
    }
    out("sources.decode_ms") = Metric((System.nanoTime() - t0) / 1e6 / nb, "ms")
    df.unpersist()
    out("sources.spans_decoded") = Metric(decoded.toDouble, "count")
    out("sources.records_skipped") = Metric((recs.size - withSpans).toDouble, "count")
    ctx.checks.same("ingest.records_skipped", recs.size - withSpans,
      recs.count(r => java.util.Arrays.equals(r.value, feed.corrupt)).toLong)
    val links = q("links"); val deps = q("deps")
    out("sources.link_handoff_ms") = Metric(
      (links.phase("addBatch") + deps.phase("latestOffset") + deps.phase("getBatch")) / nb, "ms")

    val sess = q("traces")
    out("streaming.sessionize.add_batch_ms") = Metric(sess.phase("addBatch") / nb, "ms")
    out("streaming.sessionize.state_commit_ms") = Metric(sess.stateCommitMs / nb, "ms")
    out("streaming.sessionize.state_rows") = Metric(sess.stateRows.toDouble, "count")
    out("streaming.sessionize.state_mb") = Metric(sess.stateBytes / 1048576.0, "MB")
    out("streaming.sessionize.late_dropped") = Metric(sess.droppedByWatermark.toDouble, "count")
    out("streaming.link.add_batch_ms") = Metric(deps.phase("addBatch") / nb, "ms")
    out("streaming.link.state_commit_ms") = Metric(deps.stateCommitMs / nb, "ms")
    out("streaming.link.state_rows") = Metric(deps.stateRows.toDouble, "count")
    out("streaming.wal_commit_ms") = Metric(q.values.map(_.phase("walCommit")).sum / nb, "ms")
    out("streaming.planning_ms") = Metric(q.values.map(_.phase("queryPlanning")).sum / nb, "ms")

    // core: the same merge and link calls the sessionizer makes, replayed on
    // the traces the feed sent, one call per trace
    val traces = recs.filterNot(r => java.util.Arrays.equals(r.value, feed.corrupt))
      .flatMap(r => ProtoSpans.decodeList(r.value)).groupBy(_.trace_id).values.toSeq
    val (mergeUs, linkUs) = ctx.tracer.root("ingest.core") {
      val m0 = System.nanoTime()
      val merged = ctx.tracer.span("core", "merge")(traces.map(TraceMerge.merge))
      val m1 = System.nanoTime()
      ctx.tracer.span("core", "link")(merged.foreach(DependencyLinker.link))
      val m2 = System.nanoTime()
      ((m1 - m0) / 1e3 / traces.size, (m2 - m1) / 1e3 / traces.size)
    }
    out("core.merge_us_per_trace") = Metric(mergeUs, "us")
    out("core.link_us_per_trace") = Metric(linkUs, "us")
    // rows, not traces: partial sessions and retried appends each count
    out("streaming.traces_closed") = Metric(StoreLayout.readTraces(spark, topo.tracesPath,
      feed.startMs + 400L * 86400000L, 800L * 86400000L).count().toDouble, "count")
    out("streaming.windows_emitted") = Metric(
      StoreLayout.readDependencyWindows(spark, topo.depsPath, feed.startMs + 400L * 86400000L,
        800L * 86400000L).count().toDouble, "count")

    out("store.compact_ms") = Metric(Stats.mean(compactMs), "ms")
    out("store.bytes_rewritten") = Metric(rewritten.toDouble, "B")
    val bytes = Files.dataFiles(java.nio.file.Paths.get(topo.tracesPath))._2
    out("store.files_written") = Metric(Seq(topo.tracesPath, topo.depsPath, topo.namesPath,
      topo.remotePath, topo.autoPath).map(p => Files.dataFiles(java.nio.file.Paths.get(p))._1).sum.toDouble, "count")
    out("store.bytes_per_span") = Metric(bytes.toDouble / math.max(1L, feed.truth.spans), "B")
    out.toMap
  }
}
