package zbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The traffic every leg runs with. Sizes are the benchmark's, stated once. */
object Traffic {
  val traces: TraceShape = TraceShape(services = 12, depth = 3, fanOut = 3, share128 = 0.5,
    errorShare = 0.08, localShare = 0.4, lateShare = 0.1, retryShare = 0.04,
    corruptShare = 0.01, zipf = 1.1)
  val spansPerBatch = 1000
  val compactEvery = 2
  val corpus: CorpusShape = CorpusShape(days = 2, tracesPerDay = 250, appends = 2,
    partialShare = 0.3, compactedShare = 0.5, buckets = 4)
  val docs: DocShape = DocShape(docs = 800, lowQuality = 0.05, pii = 0.05, exactDup = 0.06,
    nearDup = 0.08, piiVariant = 0.02, contaminated = 0.03)
}

/** The benchmark's entry point. A workload is one leg — `ingest` or `query` — run
  * in a fresh SparkSession on local[k], k = min(4, cores). The third leg,
  * `curate`, runs in every traced run, beside the other two.
  *
  * Untraced (`--trace 0`): the leg set up several times (the median is
  * `setup_s`), then measured for `--seconds`; prints the leg's metrics under
  * their own names, then one JSON line with the gated metrics: CPU per
  * operation, peak RSS and set-up time.
  *
  * Traced (`--trace 1`): all three legs with layer spans recorded (so every
  * layer reports on every workload), then the workload's own leg untraced
  * (tracing overhead) and untraced on local[1] (one-core CPU ratio), the
  * traced legs for a third of `--seconds` each, the two repeats for a
  * quarter; the JSON line holds the per-layer metrics.
  */
object Main {
  val workloads: Seq[String] = Seq("ingest", "query")
  val legs: Seq[String] = Seq("ingest", "query", "curate")

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("zbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def sparkMetrics(leg: String, t: TaskTotals, units: Double): Map[String, Metric] = Map(
    s"spark.$leg.task_cpu_s" -> Metric(t.cpuNs / 1e9, "s"),
    s"spark.$leg.deser_cpu_s" -> Metric(t.deserCpuNs / 1e9, "s"),
    s"spark.$leg.off_cpu_s" -> Metric(t.offCpuS, "s"),
    s"spark.$leg.gc_s" -> Metric(t.gcMs / 1e3, "s"),
    s"spark.$leg.jobs" -> Metric(t.jobs.toDouble, "count"),
    s"spark.$leg.tasks" -> Metric(t.tasks.toDouble, "count"),
    s"spark.$leg.records_per_task" -> Metric(t.recordsRead.toDouble / math.max(1L, t.tasks), "count"),
    s"spark.$leg.shuffle_mb" -> Metric(t.shuffleBytes / 1048576.0, "MB"),
    s"spark.$leg.spill_mb" -> Metric(t.spillBytes / 1048576.0, "MB"),
    s"spark.$leg.task_cpu_ms_per_op" -> Metric(t.cpuNs / 1e6 / math.max(1e-9, units), "ms"))

  /** `gated`: the run whose end-to-end metrics are the result (several
    * set-ups, whole query decks); traced runs take one set-up and stop at
    * the deadline. A topology start takes about 1 s and still gets faster
    * as the JIT warms, so ingest takes the median of seven; a corpus build
    * takes about 5 s, so query takes the median of three.
    */
  def runLeg(ctx: Ctx, leg: String, seconds: Double, gated: Boolean): LegResult = {
    val setupReps = if (!gated) 1 else if (leg == "ingest") 7 else 3
    val t0 = System.nanoTime()
    val r = leg match {
      case "ingest" =>
        new Ingest(ctx, Traffic.traces, Traffic.spansPerBatch, Traffic.compactEvery).run(seconds, setupReps)
      case "query" => new QueryLeg(ctx, Traffic.traces, Traffic.corpus).run(seconds, setupReps, gated)
      case "curate" => new CurateLeg(ctx, Traffic.docs).run(seconds, setupReps)
    }
    System.err.println(f"[zbench] $leg leg took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  private final class Session(work: Path, cores: Int) {
    val spark: SparkSession = session(cores, work)
    val probe = new SparkProbe
    val streams = new StreamProbe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(streams)
    def ctx(dir: String, seed: Long, checks: Checks, tracer: Tracer): Ctx =
      Ctx(spark, probe, streams, tracer, work.resolve(dir), seed, checks)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val leg = opts("workload")
    require(workloads.contains(leg), s"unknown workload $leg (one of ${workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val checks = new Checks
    SelfCheck.run(seed, checks)
    val s = new Session(work, cores)
    if (opts("trace") != "1") {
      val r = runLeg(s.ctx("run", seed, checks, new Tracer(false)), leg, seconds, gated = true)
      s.spark.stop()
      // gated: CPU, memory and set-up; wall-clock figures are printed only
      // (they drift with the host's scheduling far more than CPU time does)
      val gated = Map("cpu_ms_per_op" -> Metric(r.cpuMsPerOp, "ms"),
        "setup_s" -> Metric(r.setupS, "s"), "peak_rss_mb" -> Metric(Proc.peakRssMb(), "MB"))
      // every operation (batch, query, curation pass) is one output check
      val failedShare = checks.failed.toDouble / checks.attempted
      report(checks, r.named ++ gated + ("failed_op_share" -> Metric(failedShare, "ratio")), gated)
    } else {
      val tracer = new Tracer(true)
      val traced = legs.map(l => l -> runLeg(s.ctx(s"traced_$l", seed, checks, tracer), l, seconds / 3, gated = false)).toMap
      val plain = runLeg(s.ctx("plain", seed, checks, new Tracer(false)), leg, seconds / 4, gated = false)
      val layers = mutable.LinkedHashMap.empty[String, Metric]
      traced.values.foreach(layers ++= _.layers)
      layers ++= zipkinCheck(s.spark, tracer, work.resolve("trace"), checks)
      for ((layer, ms) <- tracer.selfMs) layers(s"trace.self_ms.$layer") = Metric(ms, "ms")
      // the traced leg's p50 against the untraced repeat's, both this run's
      layers("trace.overhead_pct") = Metric(
        100.0 * (traced(leg).p50Ms / plain.p50Ms - 1), "%")
      s.spark.stop()
      val one = new Session(work, 1)
      val single = runLeg(one.ctx("one_core", seed, checks, new Tracer(false)), leg, seconds / 4, gated = false)
      one.spark.stop()
      val k = s"spark.$leg.task_cpu_ms_per_op"
      layers("spark.cpu_ratio_1core") = Metric(plain.layers(k).value / single.layers(k).value, "ratio")
      // the curation leg has no workload of its own: its end-to-end
      // figures ride along as figures of the functions layer
      for (k <- Seq("docs_per_s", "cpu_ms_per_kdoc")) layers(s"functions.$k") = traced("curate").named(k)
      val named = traced.values.flatMap(_.named).toMap
      report(checks, named, layers.toMap)
    }
  }

  /** Write the layer spans as Zipkin V2 JSON, read them back through the
    * program's own JSON source and link them with its dependency linker: the
    * edges must be the parent→child layer calls the tracer recorded.
    */
  private def zipkinCheck(spark: SparkSession, tracer: Tracer, dir: Path,
      checks: Checks): Map[String, Metric] = {
    tracer.writeJson(dir.resolve("layer-spans.json"))
    val spans = graft.sources.SpanSources.fromJson(spark, dir.toString).collect()
    val edges = graft.core.DependencyLinker.merge(
      spans.groupBy(_.trace_id).values.toSeq.flatMap(t => graft.core.DependencyLinker.link(t.toSeq)))
      .map(l => (l.parent, l.child) -> l.call_count).toMap
    checks.same("trace.spans_read_back", spans.length, tracer.recorded.size)
    checks.same("trace.layer_edges", edges, tracer.layerEdges)
    Map("trace.spans" -> Metric(spans.length.toDouble, "count"),
      "trace.layer_edges" -> Metric(edges.size.toDouble, "count"))
  }

  private def json(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Human-readable lines for `shown`, then the one JSON result line. */
  def report(checks: Checks, shown: Map[String, Metric], result: Map[String, Metric]): Unit = {
    for ((k, m) <- shown.toSeq.sortBy(_._1)) println(f"  $k%-44s ${m.value}%16.4f ${m.unit}")
    val ms = result.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${json(k)}: {${json("value")}: ${m.value}, ${json("unit")}: ${json(m.unit)}}"
    }.mkString(", ")
    println(s"""{"correct": ${checks.failed == 0}, "attempted": ${checks.attempted}, """ +
      s""""failed": ${checks.failed}, "metrics": {$ms}}""")
  }
}
