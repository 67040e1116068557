package zbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.core.{QueryRequest, Traces}
import graft.model.{Span, Trace}
import graft.operators.{AssembledStores, GraftStorage, SpanPipeline, StorageConfig, TraceQueries}
import graft.store.StoreLayout
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Size of the `query` leg's store corpus. */
final case class CorpusShape(days: Int, tracesPerDay: Int, appends: Int,
    partialShare: Double, compactedShare: Double, buckets: Int)

/** The generated corpus and everything a query must return, computed in
  * memory from the generator's traces.
  */
final class Corpus(val shape: TraceShape, val size: CorpusShape, seed: Long) {
  val gen = new TraceGen(shape, seed)
  val startMs: Long = 1767225600000L // 2026-01-01T00:00Z
  val endMs: Long = startMs + size.days * 86400000L
  private val rng = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
  val traces: Vector[GenTrace] = Vector.tabulate(size.days * size.tracesPerDay) { i =>
    val dayStart = startMs + (i / size.tracesPerDay) * 86400000L
    gen.nextTrace((dayStart + rng.nextLong(86400000L - 60000L)) * 1000L)
  }.sortBy(_.rootTsUs)

  /** Store rows, append by append: each trace lands in the append of its
    * time slice; a partial trace is split in two rows, the second appended
    * one append later (a session the trace outlived).
    */
  val appends: Vector[Vector[Trace]] = {
    val out = Vector.fill(size.appends + 1)(mutable.ArrayBuffer.empty[Trace])
    for ((t, i) <- traces.zipWithIndex) {
      val a = (i.toLong * size.appends / traces.size).toInt
      if (t.spans.size > 1 && rng.nextDouble() < size.partialShare) {
        val (first, second) = t.spans.partition(_ => rng.nextBoolean())
        val (x, y) = if (first.isEmpty || second.isEmpty) t.spans.splitAt(1) else (first, second)
        out(a) += Trace(t.traceId, x, Corpus.rootTs(x))
        out(a + 1) += Trace(t.traceId, y, Corpus.rootTs(y))
      } else out(a) += Trace(t.traceId, t.spans, t.rootTsUs)
    }
    out.map(_.toVector).filter(_.nonEmpty)
  }

  /** (window start ms, parent, child) → (calls, errors), one window per trace. */
  val windows: Map[(Long, String, String), (Long, Long)] =
    traces.flatMap { t =>
      val w = t.rootTsUs / 1000 / 60000 * 60000
      t.calls.map(c => (w, c.parent, c.child) -> c.error)
    }.groupBy(_._1).map { case (k, v) => k -> (v.size.toLong, v.count(_._2).toLong) }

  private val all = traces.flatMap(_.spans)
  val spanNames: Map[String, List[String]] =
    all.groupBy(_.localServiceName.get).map { case (k, v) => k -> v.flatMap(_.name).distinct.sorted.toList }
  val remoteNames: Map[String, List[String]] =
    all.filter(_.remoteServiceName.isDefined).groupBy(_.localServiceName.get)
      .map { case (k, v) => k -> v.flatMap(_.remoteServiceName).distinct.sorted.toList }
  val tagValues: Map[String, List[String]] = gen.tagKeys.map(k =>
    k -> all.flatMap(_.tags.get(k)).distinct.sorted.toList).toMap
  val byId: Map[String, GenTrace] = traces.map(t => t.traceId -> t).toMap
}

object Corpus {
  /** Root-span timestamp, else the earliest one (Zipkin's trace timestamp). */
  def rootTs(spans: Seq[Span]): Long =
    spans.find(_.parent_id.isEmpty).flatMap(_.timestamp)
      .getOrElse(spans.flatMap(_.timestamp).min)

  /** Zipkin's find-traces predicate, evaluated in memory. */
  def matches(r: QueryRequest, t: GenTrace): Boolean = {
    val ts = t.rootTsUs
    if (ts < (r.endTs - r.lookback) * 1000 || ts > r.endTs * 1000) return false
    val spans = t.spans
    if (r.serviceName.exists(n => !spans.exists(_.localServiceName.contains(n)))) return false
    if (r.spanName.exists(n => !spans.exists(_.name.contains(n)))) return false
    val scope = r.serviceName.map(n => spans.filter(_.localServiceName.contains(n))).getOrElse(spans)
    val annotationsOk = r.annotationQuery.forall { case (k, v) =>
      if (v.isEmpty) scope.exists(s => s.annotations.exists(_.value == k) || s.tags.contains(k))
      else scope.exists(_.tags.get(k).contains(v))
    }
    annotationsOk && r.minDuration.forall(min => spans.exists(_.duration.exists(_ >= min)))
  }
}

/** The `query` leg: build the stores with the writers the streaming sinks
  * call, then one closed-loop client issues a seeded Zipkin-UI mix.
  */
final class QueryLeg(ctx: Ctx, shape: TraceShape, size: CorpusShape) {
  private val spark = ctx.spark
  import spark.implicits._

  private val storage = new GraftStorage(StorageConfig(autocompleteKeys = Seq("environment", "http.method")))
  private val table = "zbench_traces_by_id"
  private val writeMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = ctx.tracer.span("store", what)(body)
    writeMs.getOrElseUpdate(what, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    r
  }

  final case class Paths(traces: String, deps: String, names: String, remote: String,
      auto: String, byId: String)

  /** Write every store; returns the store paths. */
  def build(corpus: Corpus, dir: java.nio.file.Path): Paths = SparkProbe.tagged(spark, "query.setup") {
    val p = Paths(dir.resolve("traces").toString, dir.resolve("deps").toString,
      dir.resolve("span_names").toString, dir.resolve("remote_names").toString,
      dir.resolve("autocomplete").toString, dir.resolve("traces_by_id").toString)
    val windowsByAppend = corpus.windows.toSeq.sortBy(_._1._1)
      .grouped(math.max(1, corpus.windows.size / size.appends + 1)).toSeq
    for ((rows, i) <- corpus.appends.zipWithIndex) {
      timed("write_traces")(StoreLayout.writeTraces(spark.createDataset(rows).toDF(), p.traces))
      val spans = rows.flatMap(_.spans)
      timed("write_names")(StreamingPipeline.appendAutocompleteDelta(
        spark.createDataset(spans).toDF().select(
          col("local_endpoint.service_name").as("service"), col("name"),
          col("remote_endpoint.service_name").as("remote_service"), col("tags"),
          col("timestamp").as("event_us")),
        corpus.gen.tagKeys, p.auto))
      if (i < windowsByAppend.size)
        timed("write_deps")(StoreLayout.writeDependencyWindows(
          windowsByAppend(i).map { case ((w, a, b), (n, e)) => (w, a, b, n, e) }
            .toDF("window_start_ms", "parent", "child", "call_count", "error_count"),
          p.deps, i.toLong))
    }
    val allSpans = spark.createDataset(corpus.traces.flatMap(_.spans))
    timed("write_names") {
      SpanPipeline.spanNames(allSpans).write.parquet(p.names)
      SpanPipeline.remoteServiceNames(allSpans).write.parquet(p.remote)
    }
    timed("write_by_id")(StoreLayout.writeTracesBucketed(
      spark.createDataset(corpus.traces.map(t => Trace(t.traceId, t.spans, t.rootTsUs))),
      table, p.byId, size.buckets))
    val dates = (0 until math.round(size.days * size.compactedShare).toInt)
      .map(d => java.time.LocalDate.ofEpochDay(corpus.startMs / 86400000L + d))
    timed("compact_corpus")(StoreLayout.compactTracePartitions(spark, p.traces, dates))
    p
  }

  sealed trait Q { def kind: String }
  final case class FindTraces(r: QueryRequest) extends Q { val kind = "find_traces" }
  final case class GetTrace(id: String) extends Q { val kind = "get_trace" }
  final case class GetTraces(ids: Seq[String]) extends Q { val kind = "get_traces" }
  final case class Names(what: String, service: String) extends Q { val kind = "names" }
  final case class Autocomplete(key: String) extends Q { val kind = "autocomplete" }
  final case class Dependencies(endTs: Long, lookback: Long) extends Q { val kind = "dependencies" }

  /** The UI mix, dealt in a fixed order of 20 queries per deck so every run
    * does the same kinds of work in the same order: 8 find-traces, 3
    * get-trace, 1 get-traces, 4 names, 1 autocomplete, 3 dependencies.
    * Find-traces cycle through five lookbacks from one hour (one partition)
    * to the whole retention, and through five predicate forms (service
    * only, span name, error tag, tag plus annotation, minimum duration). The
    * seed picks the services (Zipf-skewed), the end times and the trace ids,
    * half of which come from a hot set of 16.
    */
  final class Mix(corpus: Corpus, seed: Long) {
    private val rng = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    private val zipf = new Zipf(corpus.gen.services.size, shape.zipf)
    private val hot = Vector.fill(16)(corpus.traces(rng.nextInt(corpus.traces.size)).traceId)
    private val span = corpus.endMs - corpus.startMs
    private val lookbacks = Vector(3600000L, 6 * 3600000L, 86400000L, span / 2, span)
    private def service() = corpus.gen.services(zipf.sample(rng))
    private def id() =
      if (rng.nextBoolean()) hot(rng.nextInt(hot.size))
      else corpus.traces(rng.nextInt(corpus.traces.size)).traceId
    private def range(lb: Long): (Long, Long) =
      (corpus.startMs + lb + rng.nextLong(math.max(1L, span - lb + 1)), lb)

    // F find-traces, T get-trace, M get-traces, N names, A autocomplete,
    // D dependencies; the deck opens with one of each kind
    private val deck = "FTNDMAFNFTFDFNFTFNFD"
    val deckSize: Int = deck.length
    private var i = 0
    private var finds = 0
    private var deps = 0
    private var names = 0

    def next(): Q = {
      val k = deck(i % deck.length)
      i += 1
      k match {
        case 'F' =>
          val svc = service()
          val v = finds % 5
          val (end, lb) = range(lookbacks((finds + finds / 5) % lookbacks.size))
          finds += 1
          FindTraces(QueryRequest(
            serviceName = Some(svc),
            spanName = if (v == 1) Some(corpus.gen.ops(svc)(rng.nextInt(3))) else None,
            annotationQuery =
              if (v == 2) Map("error" -> "")
              else if (v == 3) Map("http.method" -> "GET", corpus.gen.annotationValues(0) -> "")
              else Map.empty,
            minDuration = if (v == 4) Some(50000L) else None,
            endTs = end, lookback = lb, limit = 10))
        case 'T' => GetTrace(id())
        case 'M' => GetTraces(Seq.fill(5)(id()).distinct)
        case 'N' =>
          names += 1
          Names(Seq("services", "spans", "remote")(names % 3), service())
        case 'A' => Autocomplete(corpus.gen.tagKeys(i / deck.length % corpus.gen.tagKeys.size))
        case _ =>
          deps += 1
          val (end, lb) = range(lookbacks(deps % lookbacks.size))
          Dependencies(end, lb)
      }
    }
  }

  private val planMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val execMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val resolveMs = mutable.ArrayBuffer.empty[Double]
  private var partitionsRead = 0L
  private var filesScanned = 0L
  private var rowsReturned = 0L

  /** Plan, then execute, a query's result; plan and execution timed apart. */
  private def runPlan[T](kind: String, ds: Dataset[T]): Array[T] = {
    val p0 = System.nanoTime()
    ctx.tracer.span("operators", kind)(ds.queryExecution.executedPlan)
    val p1 = System.nanoTime()
    val rows = ctx.tracer.span("spark", "collect")(ds.collect())
    val p2 = System.nanoTime()
    planMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (p1 - p0) / 1e6
    execMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (p2 - p1) / 1e6
    rowsReturned += rows.length
    rows
  }

  private def resolve(body: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val df = ctx.tracer.span("store", "resolve")(body)
    resolveMs += (System.nanoTime() - t0) / 1e6
    if (ctx.tracer.enabled) filesScanned += df.inputFiles.length
    df
  }

  private def stores(p: Paths): AssembledStores = AssembledStores(None,
    Some(spark.read.parquet(p.names)), Some(spark.read.parquet(p.remote)),
    Some(StreamingPipeline.readAutocompleteStore(spark, p.auto)), None)

  /** Run one query and check it against the in-memory answer. */
  private def execute(q: Q, p: Paths, corpus: Corpus): Boolean = q match {
    case FindTraces(r) =>
      // over-read by a minute on both sides: partial rows of one trace carry
      // their own root_ts, and the exact window applies after the merge
      val margin = 60000L
      val store = resolve(StoreLayout.readTraces(spark, p.traces, r.endTs + margin, r.lookback + 2 * margin))
      partitionsRead += Math.floorDiv(math.min(r.endTs + margin, corpus.endMs - 1), 86400000L) -
        Math.floorDiv(math.max(r.endTs - r.lookback - margin, corpus.startMs), 86400000L) + 1
      val got = runPlan(q.kind, storage.getTraces(
        AssembledStores(Some(TraceQueries.fromStore(store)), None, None, None, None), spark, r))
      val want = corpus.traces.filter(Corpus.matches(r, _))
        .sortBy(t => (-t.rootTsUs, t.traceId)).take(r.limit)
      got.map(t => (t.trace_id, t.spans.size)).toSeq == want.map(t => (t.traceId, t.spans.size))
    case GetTrace(id) =>
      val store = resolve(StoreLayout.readTracesBucketed(spark, table, p.byId, size.buckets))
      val got = runPlan(q.kind, TraceQueries.getTraceBucketed(store, id))
      got.length == 1 && sameSpans(got(0), corpus.byId(id))
    case GetTraces(ids) =>
      val store = resolve(StoreLayout.readTracesBucketed(spark, table, p.byId, size.buckets))
      val got = runPlan(q.kind, TraceQueries.getTraceManyBucketed(store, ids))
      got.map(_.trace_id).toSet == ids.toSet && got.forall(t => sameSpans(t, corpus.byId(t.trace_id)))
    case Names(what, svc) =>
      val s = stores(p)
      val df = what match {
        case "services" => storage.serviceNames(s, spark)
        case "spans" => storage.spanNames(s, spark, svc)
        case _ => storage.remoteServiceNames(s, spark, svc)
      }
      val got = runPlan(q.kind, df.as[String]).toList
      got == (what match {
        case "services" => corpus.spanNames.keys.toList.sorted
        case "spans" => corpus.spanNames.getOrElse(svc, Nil)
        case _ => corpus.remoteNames.getOrElse(svc, Nil)
      })
    case Autocomplete(key) =>
      runPlan(q.kind, storage.autocompleteValues(stores(p), spark, key).as[String]).toList ==
        corpus.tagValues(key)
    case Dependencies(end, lb) =>
      val windows = resolve(StoreLayout.readDependencyWindows(spark, p.deps, end, lb))
      val got = runPlan(q.kind, storage.dependencies(
        AssembledStores(None, None, None, None, Some(windows)), spark, end, lb)
        .as[(String, String, Long, Long)]).toSeq
      val want = corpus.windows.toSeq.filter { case ((w, _, _), _) => w >= end - lb && w <= end }
        .groupBy(x => (x._1._2, x._1._3)).toSeq
        .map { case ((a, b), v) => (a, b, v.map(_._2._1).sum, v.map(_._2._2).sum) }
        .sortBy(x => (x._1, x._2))
      got == want
  }

  private def sameSpans(t: Trace, g: GenTrace): Boolean =
    t.spans.map(s => (s.id, s.isShared)).toSet == g.spans.map(s => (s.id, s.isShared)).toSet

  /** `wholeDecks`: keep going past the deadline to the end of a deck, so every
    * run's figures cover the same mix of kinds (the gated runs do).
    */
  def run(seconds: Double, setupReps: Int, wholeDecks: Boolean): LegResult = {
    val corpus = new Corpus(shape, size, ctx.seed)
    val setups = mutable.ArrayBuffer.empty[Double]
    var paths: Paths = null
    for (rep <- 1 to setupReps) {
      val dir = ctx.work.resolve(s"query$rep")
      if (rep > 1) Files.rm(ctx.work.resolve(s"query${rep - 1}"))
      spark.sql(s"DROP TABLE IF EXISTS $table")
      writeMs.clear()
      val t0 = System.nanoTime()
      paths = ctx.tracer.root("query.setup")(build(corpus, dir))
      setups += (System.nanoTime() - t0) / 1e9
    }
    val (files, bytes) = Files.dataFiles(java.nio.file.Paths.get(paths.traces))

    // warm-up: one query of each kind, checked but not timed
    val w0 = System.nanoTime()
    val warm = new Mix(corpus, ctx.seed ^ 0x5851F42D4C957F2DL)
    for (_ <- 1 to 6) {
      val q = warm.next()
      val ok = try execute(q, paths, corpus)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[zbench] query failed: $q: $e"); false }
      ctx.checks.check(s"query.warmup.${q.kind}", ok, q.toString)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    planMs.clear(); execMs.clear(); resolveMs.clear()
    partitionsRead = 0; filesScanned = 0; rowsReturned = 0
    val mix = new Mix(corpus, ctx.seed)
    val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var n = 0L
    val kinds = Seq("find_traces", "get_trace", "get_traces", "names", "autocomplete", "dependencies")
    val before = ctx.probe.snapshot(spark, "query.")
    val beforeKind = kinds.map(k => k -> ctx.probe.snapshot(spark, s"query.$k")).toMap
    val cpu0 = Proc.cpuNs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (n < 6 || System.nanoTime() < deadline || (wholeDecks && n % mix.deckSize != 0)) {
      val q = mix.next()
      val t0 = System.nanoTime()
      val ok = SparkProbe.tagged(spark, s"query.${q.kind}") {
        ctx.tracer.root(s"query.${q.kind}") {
          try execute(q, paths, corpus)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[zbench] query failed: $q: $e"); false }
        }
      }
      lat.getOrElseUpdate(q.kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      n += 1
      ctx.checks.check(s"query.${q.kind}", ok, q.toString)
    }
    val cpuNs = Proc.cpuNs() - cpu0
    val all = lat.values.flatten.toSeq
    val (tail, tailPct) = Stats.tail(all)
    val (ftTail, ftPct) = Stats.tail(lat("find_traces").toSeq)
    System.err.println(f"[zbench] query: set-ups " + setups.map(x => f"$x%.2f").mkString(" ") +
      f" s, warm-up ${warmS}%.1f s, then $n queries; tail = p$tailPct%.1f of ${all.size}; " +
      f"find_traces tail = p$ftPct%.1f of ${lat("find_traces").size}")
    def p50(k: String) = Stats.median(lat.getOrElse(k, mutable.ArrayBuffer(0.0)).toSeq)
    val named = Map(
      "query_p50_ms" -> Metric(Stats.median(all), "ms"),
      "query_tail_ms" -> Metric(tail, "ms"),
      "find_traces_p50_ms" -> Metric(p50("find_traces"), "ms"),
      "find_traces_tail_ms" -> Metric(ftTail, "ms"),
      "get_trace_p50_ms" -> Metric(p50("get_trace"), "ms"),
      "dependencies_p50_ms" -> Metric(p50("dependencies"), "ms"),
      "names_p50_ms" -> Metric(p50("names"), "ms"),
      "queries_per_s" -> Metric(n / (all.sum / 1e3), "1/s"),
      "cpu_ms_per_query" -> Metric(cpuNs / 1e6 / n, "ms"))

    val layers = mutable.LinkedHashMap.empty[String, Metric]
    val total = ctx.probe.snapshot(spark, "query.").minus(before)
    layers ++= Main.sparkMetrics("query", total, n.toDouble)
    for ((k, v) <- lat) layers(s"operators.$k.p50_ms") = Metric(Stats.median(v.toSeq), "ms")
    if (ctx.tracer.enabled) {
      for (k <- kinds) {
        val t = ctx.probe.snapshot(spark, s"query.$k").minus(beforeKind(k))
        val runs = math.max(1, lat.get(k).map(_.size).getOrElse(0)).toDouble
        layers(s"operators.$k.plan_ms") = Metric(Stats.mean(planMs.getOrElse(k, Nil).toSeq), "ms")
        layers(s"operators.$k.exec_ms") = Metric(Stats.mean(execMs.getOrElse(k, Nil).toSeq), "ms")
        layers(s"operators.$k.tasks") = Metric(t.tasks / runs, "count")
        layers(s"operators.$k.shuffle_kb") = Metric(t.shuffleBytes / 1024.0 / runs, "KB")
      }
      for ((k, v) <- writeMs) layers(s"store.${k}_ms") = Metric(Stats.mean(v.toSeq), "ms")
      layers("store.resolve_ms") = Metric(Stats.mean(resolveMs.toSeq), "ms")
      val reads = math.max(1, resolveMs.size).toDouble
      layers("store.partitions_read") = Metric(partitionsRead / math.max(1.0, lat.get("find_traces").map(_.size).getOrElse(1).toDouble), "count")
      layers("store.files_scanned") = Metric(filesScanned / reads, "count")
      layers("store.bytes_scanned") = Metric(total.bytesRead / reads, "B")
      layers("store.rows_scanned_per_row_returned") =
        Metric(total.recordsRead.toDouble / math.max(1L, rowsReturned), "count")
      layers("store.corpus_files") = Metric(files.toDouble, "count")
      layers("store.corpus_bytes") = Metric(bytes.toDouble, "B")
      // core: the row merge the read path runs, replayed on the stored rows
      val rows = corpus.appends.flatten.groupBy(_.trace_id).toSeq
      val m0 = System.nanoTime()
      ctx.tracer.root("query.core")(ctx.tracer.span("core", "merge_rows")(
        rows.foreach { case (id, rs) => Traces.mergeRows(id, rs) }))
      layers("core.merge_rows_us_per_trace") = Metric((System.nanoTime() - m0) / 1e3 / rows.size, "us")
    }
    LegResult(named, named("cpu_ms_per_query").value, named("query_p50_ms").value,
      layers.toMap, Stats.median(setups.toSeq))
  }
}
