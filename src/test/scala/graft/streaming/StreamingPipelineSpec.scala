package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.model.{Endpoint, Span}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics pinned by the reference's TopologyTestDriver tests
  * (SpanAggregationTopologyTest.java:57-108): two spans of trace `a` in one
  * session; a trace-`c` record one-gap-later closes it; exactly one trace and
  * one dependency link are emitted. Event times start at 1000 ms, not the
  * reference's 0: Spark's initial watermark is 0 and rows at event-time ≤
  * watermark are dropped as late (deviation from TopologyTestDriver's event
  * clock, same observable behavior for any realistic timestamp).
  */
class StreamingPipelineSpec extends SparkSpec {

  import spark.implicits._

  private def ep(s: String) = Some(Endpoint(service_name = Some(s)))
  private val spanA = Span(trace_id = "000000000000000a", id = "000000000000000a",
    name = Some("op_a"), kind = Some("CLIENT"), local_endpoint = ep("svc_a"),
    remote_endpoint = ep("svc_b"))
  private val spanB = Span(trace_id = "000000000000000a", id = "000000000000000b",
    parent_id = Some("000000000000000a"), name = Some("op_b"), kind = Some("SERVER"),
    local_endpoint = ep("svc_b"), shared = Some(true))
  private val spanC = Span(trace_id = "000000000000000c", id = "000000000000000c")

  private val gapMs = 60000L

  private def runSession(viaState: Boolean, tag: String = ""): Array[ClosedTrace] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEnvelope]
    val traces =
      if (viaState) StreamingPipeline.sessionTracesWithState(input.toDS(), gapMs)
      else StreamingPipeline.sessionTraces(input.toDS(), "1 minute")
    val name = s"traces_out_$viaState$tag"
    val q = traces.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(SpanEnvelope(new Timestamp(1000L), spanA))
      input.addData(SpanEnvelope(new Timestamp(1000L), spanB))
      q.processAllAvailable()
      // nothing emitted while the session is open (suppress-until-close, ST4)
      assert(spark.table(name).count() == 0)
      // a record one-gap-later advances the watermark and closes trace a
      input.addData(SpanEnvelope(new Timestamp(gapMs + 1001), spanC))
      q.processAllAvailable()
      if (viaState) {
        // event-time timeouts fire against the previous batch's watermark:
        // one more micro-batch (still within trace c's session) triggers it
        input.addData(SpanEnvelope(new Timestamp(gapMs + 1002), spanC))
        q.processAllAvailable()
      }
      spark.table(name).as[ClosedTrace].collect()
    } finally q.stop()
  }

  test("engine streams run their tasks on one shared executor classloader, " +
      "and start() leaves the caller's artifact-isolation setting as it was") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.artifact.isolation.enabled"
    def setting = spark.conf.getAll.get(key)
    val input = MemoryStream[Long]
    val loaders = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def start(name: String) = StreamingPipeline.startShared(input.toDS())(_
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        batch.mapPartitions { _ =>
          val l = Thread.currentThread.getContextClassLoader
          Iterator(s"${l.getClass.getName}@${System.identityHashCode(l)}")
        }.collect().foreach(l => loaders.add(name -> l))
      })
    val original = setting
    val queries = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQuery]
    try {
      spark.conf.unset(key)
      queries += start("unset")
      assert(setting.isEmpty, "an unset isolation setting must stay unset")
      spark.conf.set(key, "true")
      queries += start("set")
      assert(setting.contains("true"), "an explicit isolation setting must survive start()")
      input.addData(1L, 2L, 3L)
      queries.foreach(_.processAllAvailable())
      import scala.jdk.CollectionConverters._
      val byQuery = loaders.asScala.groupBy(_._1).map { case (q, ls) => q -> ls.map(_._2).toSet }
      assert(byQuery.keySet == Set("unset", "set"))
      assert(byQuery.values.forall(_.size == 1), byQuery)
      assert(byQuery("unset") == byQuery("set"),
        s"per-query classloaders split the codegen cache: $byQuery")
    } finally {
      queries.foreach(_.stop())
      original.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("session_window path: trace emitted once, on close, merged (A1/A2/ST4)") {
    val emitted = runSession(viaState = false)
    assert(emitted.length == 1)
    assert(emitted.head.trace_id == "000000000000000a")
    assert(emitted.head.spans.map(_.id).sorted ==
      Seq("000000000000000a", "000000000000000b"))
  }

  test("flatMapGroupsWithState path emits the same closed trace (ST8)") {
    val emitted = runSession(viaState = true)
    assert(emitted.length == 1)
    assert(emitted.head.trace_id == "000000000000000a")
    assert(emitted.head.spans.map(_.id).sorted ==
      Seq("000000000000000a", "000000000000000b"))
  }

  test("stateful sessionizer is state-store-provider agnostic: RocksDB ≡ " +
      "the default heap-backed store") {
    // the 1000-executor posture: HDFSBackedStateStoreProvider keeps every
    // key in executor heap (state size caps at memory), RocksDB spills to
    // local disk with incremental snapshots — a 100 TB ingest runs the
    // latter. The sessionizer must not care which one holds its state.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val viaDefault = runSession(viaState = true, tag = "_hdfs")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val viaRocks = runSession(viaState = true, tag = "_rocks")
      assert(viaRocks.map(t => (t.trace_id, t.close_ts,
          t.spans.map(_.id).sorted)).toSeq ==
        viaDefault.map(t => (t.trace_id, t.close_ts,
          t.spans.map(_.id).sorted)).toSeq)
      assert(viaRocks.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("state path splits gap-separated sessions arriving in ONE batch (backlog catch-up)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEnvelope]
    val q = StreamingPipeline.sessionTracesWithState(input.toDS(), gapMs)
      .writeStream.format("memory").queryName("catchup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // one batch carries two sessions of trace a (1 s and 5 min), exactly
      // what a stalled-then-recovered job replays
      input.addData(
        SpanEnvelope(new Timestamp(1000L), spanA),
        SpanEnvelope(new Timestamp(5 * gapMs), spanB.copy(parent_id = None)))
      q.processAllAvailable()
      // advance the watermark past both session closes
      input.addData(SpanEnvelope(new Timestamp(10 * gapMs), spanC))
      q.processAllAvailable()
      input.addData(SpanEnvelope(new Timestamp(10 * gapMs + 1), spanC))
      q.processAllAvailable()
      val got = spark.table("catchup_out").as[ClosedTrace].collect()
        .filter(_.trace_id == "000000000000000a").sortBy(_.close_ts.getTime)
      assert(got.length == 2, s"expected two sessions, got ${got.toSeq}")
      assert(got(0).spans.map(_.id) == Seq("000000000000000a"))
      assert(got(1).spans.map(_.id) == Seq("000000000000000b"))
      assert(got(0).close_ts.getTime == 1000L + gapMs)
      assert(got(1).close_ts.getTime == 6 * gapMs)
    } finally q.stop()
  }

  test("full chain: spans → sessions → links → windowed counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEnvelope]
    val links = StreamingPipeline.dependencyLinkEvents(
      StreamingPipeline.sessionTraces(input.toDS(), "1 minute"))
    val q = links.writeStream.format("memory").queryName("links_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(SpanEnvelope(new Timestamp(1000L), spanA))
      input.addData(SpanEnvelope(new Timestamp(1000L), spanB))
      input.addData(SpanEnvelope(new Timestamp(gapMs + 1001), spanC))
      q.processAllAvailable()
      // close trace c too, so both sessions' links are final
      input.addData(SpanEnvelope(new Timestamp(3 * gapMs + 1000), spanC.copy(trace_id = "000000000000000d", id = "000000000000000d")))
      q.processAllAvailable()
      val got = spark.table("links_out").as[LinkEvent].collect()
      assert(got.length == 1) // trace a: svc_a → svc_b; traces c/d have no kinds+endpoints
      val l = got.head
      assert(l.parent == "svc_a" && l.child == "svc_b" &&
        l.call_count == 1L && l.error_count == 0L)
      // the link is stamped with the session close time (start + gap)
      assert(l.event_ts.getTime == gapMs + 1000) // session start (1000) + gap

      // batch-verify the windowed count stage over the emitted links
      val winDf = StreamingPipeline.dependencyWindowCounts(
        spark.createDataset(got.toIndexedSeq))
      // (batch path: same expression tree works un-streamed)
      val rows = winDf.collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("call_count") == 1L)
      assert(rows.head.getAs[Long]("window_start_ms") % 60000 == 0)
    } finally q.stop()
  }

  test("streaming → partitioned store → query surface round trip (S6/ST7)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-store")
    val storePath = s"$tmp/traces"
    val input = MemoryStream[SpanEnvelope]
    val q = StreamingPipeline.tracesToStore(
      StreamingPipeline.sessionTraces(input.toDS(), "1 minute"),
      storePath, s"$tmp/chk")
    try {
      // realistic (date-bearing) event times so the store partitions sanely
      val t0 = 1704844800000L // 2024-01-10T00:00Z ms
      input.addData(SpanEnvelope(new Timestamp(t0), spanA.copy(timestamp = Some(t0 * 1000))))
      input.addData(SpanEnvelope(new Timestamp(t0), spanB.copy(timestamp = Some(t0 * 1000))))
      input.addData(SpanEnvelope(new Timestamp(t0 + gapMs + 1), spanC))
      q.processAllAvailable()
      val stored = graft.operators.TraceQueries.fromStore(
        graft.store.StoreLayout.readTraces(spark, storePath, t0 + 1000, 3600_000L))
      val got = graft.operators.TraceQueries.getTraces(stored,
        graft.core.QueryRequest(serviceName = Some("svc_a"), endTs = t0 + 1000)).collect()
      assert(got.length == 1 && got.head.trace_id == "000000000000000a" &&
        got.head.spans.size == 2)
    } finally q.stop()
  }

  test("two-stage e2e: sessions → link handoff files → windowed counts (S3/S4)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-two-stage")
    val linkDir = s"$tmp/links"

    def linked(tid: String, at: Long): Seq[SpanEnvelope] = Seq(
      SpanEnvelope(new Timestamp(at), spanA.copy(trace_id = tid, id = tid)),
      SpanEnvelope(new Timestamp(at),
        spanB.copy(trace_id = tid, parent_id = Some(tid), id = tid.reverse)))

    // ——— stage 1: spans → sessions → links → the handoff directory ———
    val input = MemoryStream[SpanEnvelope]
    val stage1 = graft.sources.SpanSources.linksToJsonFiles(
      StreamingPipeline.dependencyLinkEvents(
        StreamingPipeline.sessionTraces(input.toDS(), "1 minute")),
      linkDir, s"$tmp/chk1")
    try {
      input.addData(linked("00000000000000a1", 1000L): _*)           // closes at 61 s
      input.addData(linked("00000000000000b1", 5 * gapMs): _*)       // closes at 360 s
      // flusher edge far ahead: closes stage-1 sessions a1/b1 AND, once its
      // own session closes, becomes stage 2's watermark pusher
      input.addData(SpanEnvelope(new Timestamp(20 * gapMs),
        spanA.copy(trace_id = "00000000000000f1", id = "00000000000000f1",
          local_endpoint = Some(Endpoint(service_name = Some("svc_x"))),
          remote_endpoint = Some(Endpoint(service_name = Some("svc_y"))))))
      input.addData(SpanEnvelope(new Timestamp(30 * gapMs), spanC))  // closes f1
      stage1.processAllAvailable()
    } finally stage1.stop()

    // ——— stage 2: link files → windowed counts (separate query, exactly
    // the reference's topology handoff at the zipkin-dependency topic) ———
    val stage2In = graft.sources.SpanSources.linksFromJsonFiles(spark, linkDir)
    val stage2 = StreamingPipeline.dependencyWindowCounts(stage2In)
      .writeStream.format("memory").queryName("two_stage_out")
      .outputMode(OutputMode.Append).start()
    try stage2.processAllAvailable() finally stage2.stop()

    val streamed = spark.table("two_stage_out").collect()
      .filter(r => r.getAs[String]("parent") == "svc_a")
    assert(streamed.length == 2, s"expected one window per session: ${streamed.toSeq}")
    assert(streamed.forall(_.getAs[Long]("window_start_ms") % 60000 == 0))

    // batch path over the same spans must agree on the per-edge totals
    val batchSpans = (linked("00000000000000a1", 1000L) ++
      linked("00000000000000b1", 5 * gapMs)).map(_.span)
    val batchTotal = graft.operators.SpanPipeline.dependencyLinks(
        graft.operators.SpanPipeline.aggregateTraces(
          spark.createDataset(batchSpans)))
      .toDF().select($"link.*")
      .groupBy("parent", "child").sum("call_count")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamedTotal = streamed.map(_.getAs[Long]("call_count")).sum
    assert(batchTotal(("svc_a", "svc_b")) == streamedTotal)

    // ——— stage 2b: same link stream → windowed counts → partitioned store
    // → query surface (the full S3→S6→S7 loop on the dependency side) ———
    val store = s"$tmp/depwin"
    val q3 = StreamingPipeline.dependencyWindowsToStore(
      StreamingPipeline.dependencyWindowCounts(
        graft.sources.SpanSources.linksFromJsonFiles(spark, linkDir)),
      store, s"$tmp/chk3")
    try q3.processAllAvailable() finally q3.stop()
    val deps = graft.operators.TraceQueries.dependencies(
        graft.store.StoreLayout.readDependencyWindows(spark, store, 30 * gapMs, 30 * gapMs),
        endTs = 30 * gapMs, lookback = 30 * gapMs)
      .collect().map(r => (r.getAs[String]("parent"), r.getAs[String]("child")) ->
        r.getAs[Long]("call_count")).toMap
    assert(deps(("svc_a", "svc_b")) == streamedTotal)
  }

  test("name stores persist to parquet and serve the query surface (A7/A8 → S6)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-name-store")
    val input = MemoryStream[SpanEnvelope]
    val q1 = StreamingPipeline.spanNamesToStore(input.toDS(), s"$tmp/span_names", s"$tmp/chk1")
    val q2 = StreamingPipeline.remoteServiceNamesToStore(
      input.toDS(), s"$tmp/remote_names", s"$tmp/chk2")
    val q3 = StreamingPipeline.autocompleteTagsToStore(
      input.toDS(), Seq("env"), s"$tmp/tags", s"$tmp/chk3")
    val withTagA = spanA.copy(tags = Map("env" -> "prod", "ignored" -> "x"))
    val withTagB = spanB.copy(tags = Map("env" -> "dev"))
    try {
      input.addData(SpanEnvelope(new Timestamp(1000L), withTagA))
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      // a second batch GROWS the sets: the store must then serve the full
      // re-emitted aggregate, not only this batch's changed keys
      input.addData(SpanEnvelope(new Timestamp(1001L), withTagB))
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
    } finally Seq(q1, q2, q3).foreach(_.stop())

    import graft.operators.{SpanPipeline, TraceQueries}
    val spanNamesStore = spark.read.parquet(s"$tmp/span_names")
    assert(TraceQueries.serviceNames(spanNamesStore).collect().map(_.getString(0)).toSeq
      == Seq("svc_a", "svc_b"))
    assert(TraceQueries.spanNames(spanNamesStore, "svc_b")
      .collect().map(_.getString(0)).toSeq == Seq("op_b"))
    assert(TraceQueries.remoteServiceNames(
        spark.read.parquet(s"$tmp/remote_names"), "svc_a")
      .collect().map(_.getString(0)).toSeq == Seq("svc_b"))
    assert(TraceQueries.autocompleteValues(spark.read.parquet(s"$tmp/tags"), "env")
      .collect().map(_.getString(0)).toSeq == Seq("dev", "prod"))
    // the persisted store equals the batch builder over the same spans
    val batch = SpanPipeline.spanNames(spark.createDataset(Seq(withTagA, withTagB)))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val stored = spanNamesStore
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(batch == stored)
  }

  test("incremental autocomplete store: batch-local deltas collapse to the " +
      "Complete-mode store and the batch builder (A8, unbounded-value path)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-auto-inc")
    val withTagA = spanA.copy(tags = Map("env" -> "prod", "ignored" -> "x"))
    val withTagB = spanB.copy(tags = Map("env" -> "dev"))
    val inU = MemoryStream[SpanEnvelope]
    val inC = MemoryStream[SpanEnvelope]
    val qU = StreamingPipeline.autocompleteTagsToStoreIncremental(
      inU.toDS(), Seq("env"), s"$tmp/inc", s"$tmp/chk_u")
    val qC = StreamingPipeline.autocompleteTagsToStore(
      inC.toDS(), Seq("env"), s"$tmp/full", s"$tmp/chk_c")
    try {
      // two batches so the set GROWS across a batch boundary: the
      // incremental store must then hold >1 delta row for the key and
      // still collapse to the complete answer
      inU.addData(SpanEnvelope(new Timestamp(1000L), withTagA))
      inC.addData(SpanEnvelope(new Timestamp(1000L), withTagA))
      Seq(qU, qC).foreach(_.processAllAvailable())
      inU.addData(SpanEnvelope(new Timestamp(1001L), withTagB))
      inC.addData(SpanEnvelope(new Timestamp(1001L), withTagB))
      Seq(qU, qC).foreach(_.processAllAvailable())
    } finally Seq(qU, qC).foreach(_.stop())

    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("tag_key") -> r.getSeq[String](1)).toMap
    val rawDeltas = spark.read.parquet(s"$tmp/inc")
    assert(rawDeltas.count() > 1, "expected one delta row per growing batch")
    val incremental = asMap(StreamingPipeline.readAutocompleteStore(spark, s"$tmp/inc"))
    val complete = asMap(spark.read.parquet(s"$tmp/full"))
    val batch = asMap(graft.operators.SpanPipeline.autocompleteTags(
      spark.createDataset(Seq(withTagA, withTagB)), Seq("env")))
    assert(incremental == batch, s"incremental $incremental != batch $batch")
    assert(complete == batch, s"complete $complete != batch $batch")
    // and the query surface serves it unchanged
    assert(graft.operators.TraceQueries.autocompleteValues(
        StreamingPipeline.readAutocompleteStore(spark, s"$tmp/inc"), "env")
      .collect().map(_.getString(0)).toSeq == Seq("dev", "prod"))
    // compaction collapses the delta rows physically (counted through the
    // generation resolver — absorbed loose files keep a one-cycle grace on
    // disk but are manifest-excluded from reads); same served answer
    graft.store.StoreLayout.compactSetStore(spark, s"$tmp/inc", "tag_key", "values")
    assert(graft.store.StoreLayout.readAll(spark, s"$tmp/inc", "seen_date").count() == 1,
      "one row per (seen_date, key) after compaction")
    assert(asMap(StreamingPipeline.readAutocompleteStore(spark, s"$tmp/inc")) == batch)
  }

  test("streaming name store accumulates sets in Update mode (A7)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEnvelope]
    val q = StreamingPipeline.spanNameSets(input.toDS())
      .writeStream.format("memory").queryName("names_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(SpanEnvelope(new Timestamp(1000L), spanA))
      input.addData(SpanEnvelope(new Timestamp(1001L), spanB))
      q.processAllAvailable()
      val got = spark.table("names_out")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      assert(got("svc_a") == Set("op_a") && got("svc_b") == Set("op_b"))
    } finally q.stop()
  }

  test("streaming remote-name and autocomplete stores accumulate in Update mode (A8)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SpanEnvelope]
    val q1 = StreamingPipeline.remoteServiceNameSets(input.toDS())
      .writeStream.format("memory").queryName("remote_out")
      .outputMode(OutputMode.Update).start()
    val q2 = StreamingPipeline.autocompleteTagSets(input.toDS(), Seq("env"))
      .writeStream.format("memory").queryName("tags_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(SpanEnvelope(new Timestamp(1000L),
        spanA.copy(tags = Map("env" -> "prod", "ignored" -> "x"))))
      input.addData(SpanEnvelope(new Timestamp(1001L),
        spanA.copy(id = "000000000000000e", tags = Map("env" -> "dev"))))
      q1.processAllAvailable(); q2.processAllAvailable()
      val remotes = spark.table("remote_out")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      assert(remotes("svc_a") == Set("svc_b"))
      val tags = spark.table("tags_out")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      assert(tags == Map("env" -> Set("prod", "dev"))) // allowlist filters "ignored"
    } finally { q1.stop(); q2.stop() }
  }

  // ——— checkpoint-rollback replay rig: snapshot a query's checkpoint after
  // batch k, run batch k+1 for real, then restore the snapshot and restart —
  // the ENGINE now believes k+1 never committed and re-runs it through the
  // actual foreachBatch machinery (same batch id, same data). This is the
  // real at-least-once redelivery ST7 claims survive, not a hand-simulated
  // double append.
  // one copy of the snapshot/rollback plumbing, shared with SparkEntry's
  // q_stream_store_autocomplete rig
  private def copyDir(src: String, dst: String): Unit = graft.SparkEntry.copyDir(src, dst)
  private def deleteDir(dir: String): Unit = graft.SparkEntry.deleteDir(dir)

  test("set-store sink survives an engine-level micro-batch replay (ST7)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay-set")
    val store = s"$tmp/inc"; val chk = s"$tmp/chk"; val snap = s"$tmp/snap"
    val input = MemoryStream[SpanEnvelope]
    def start() = StreamingPipeline.autocompleteTagsToStoreIncremental(
      input.toDS(), Seq("env"), store, chk)
    var q = start()
    try {
      input.addData(SpanEnvelope(new Timestamp(1000L),
        spanA.copy(tags = Map("env" -> "prod"))))
      q.processAllAvailable()
    } finally q.stop()
    copyDir(chk, snap)
    q = start()
    try {
      input.addData(SpanEnvelope(new Timestamp(2000L),
        spanB.copy(tags = Map("env" -> "dev"))))
      q.processAllAvailable()
    } finally q.stop()
    def served() = StreamingPipeline.readAutocompleteStore(spark, store)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val answer = served()
    assert(answer == Map("env" -> Seq("dev", "prod")))
    val physBefore = spark.read.parquet(store).count()
    // roll the checkpoint back and restart with NO new data: the engine must
    // re-run the second batch through the real sink
    deleteDir(chk); copyDir(snap, chk)
    q = start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(store).count() > physBefore,
      "the restarted query must have replayed the uncommitted batch's append")
    assert(served() == answer, "replayed deltas must collapse in the set union")
    // compaction then collapses the replay physically; the answer never moves
    graft.store.StoreLayout.compactSetStore(spark, store, "tag_key", "values")
    assert(served() == answer)
  }

  test("dependency-window sink: a replayed micro-batch repeats its epoch id " +
      "and the read-side collapse drops exactly the retry (ST7)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay-deps")
    val store = s"$tmp/deps"; val chk = s"$tmp/chk"; val snap = s"$tmp/snap"
    val t0 = 1704844800000L // 2024-01-10T00:00Z — a real store date
    val input = MemoryStream[LinkEvent]
    def start() = StreamingPipeline.dependencyWindowsToStore(
      StreamingPipeline.dependencyWindowCounts(input.toDS()), store, chk)
    // batch 0: one link in minute 0 — its window stays open (watermark 0)
    var q = start()
    try {
      input.addData(LinkEvent(new Timestamp(t0), "api", "db", 1L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    copyDir(chk, snap)
    // batch 1+: a link ten minutes on advances the watermark past minute 0,
    // so the engine emits that window's FINAL and the sink appends it with
    // its epoch id
    q = start()
    try {
      input.addData(LinkEvent(new Timestamp(t0 + 600000L), "api", "cache", 1L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val raw = () => spark.read.parquet(store)
      .select("window_start_ms", "parent", "child", "call_count", "error_count", "batch_id")
    val rowsBefore = raw().count()
    assert(rowsBefore >= 1, "the watermark advance must have flushed a final")
    def served() = graft.operators.TraceQueries.dependencies(
      graft.store.StoreLayout.readDependencyWindows(spark, store, t0 + 3600000L, 7200000L),
      endTs = t0 + 3600000L, lookback = 7200000L).collect()
      .map(r => (r.getAs[String]("parent"), r.getAs[String]("child"),
        r.getAs[Long]("call_count"))).toSet
    val answer = served()
    assert(answer == Set(("api", "db", 1L)))
    // rollback + restart: the engine re-runs the emitting batch for real.
    // The restart uses a FRESH source instance replaying the same log — a
    // MemoryStream object tracks its committed offset in-process and would
    // refuse the rolled-back commit ("offsets committed out of order"),
    // whereas a real source (Kafka) keeps that state in the checkpoint we
    // just rolled back; same addData structure → same offsets
    deleteDir(chk); copyDir(snap, chk)
    val input2 = MemoryStream[LinkEvent]
    input2.addData(LinkEvent(new Timestamp(t0), "api", "db", 1L, 0L))
    input2.addData(LinkEvent(new Timestamp(t0 + 600000L), "api", "cache", 1L, 0L))
    q = StreamingPipeline.dependencyWindowsToStore(
      StreamingPipeline.dependencyWindowCounts(input2.toDS()), store, chk)
    try q.processAllAvailable() finally q.stop()
    assert(raw().count() > rowsBefore, "the replay must have re-appended the final")
    // the replayed final carries the SAME epoch id — the full row (batch_id
    // included) is an exact duplicate, which is precisely what the read-side
    // dropDuplicates collapses; a fresh id would (correctly) double-count
    assert(raw().distinct().count() == rowsBefore,
      "replayed finals must duplicate their originals exactly, epoch id included")
    assert(served() == answer)
  }

  test("q_stream_store_autocomplete: the engine-built store serves exactly " +
      "the in-memory q_a8 answer (ST1/ST4/ST7 behind one oracle)") {
    val dir = "/root/testdata/sf0.001"
    def values(q: String) = graft.SparkEntry.queries(q)(spark, dir)
      .collect().map(_.getString(0)).toSeq
    val streamed = values("q_stream_store_autocomplete")
    assert(streamed.nonEmpty)
    assert(streamed == values("q_a8_autocomplete"),
      "streaming-engine-built store drifted from the relational answer")
  }

  // the two row-store twins: each engine-built store (stateful sessionizer →
  // trace sink; windowed counts → dependency sink, both with the multi-batch
  // checkpoint-rollback replay) must serve byte-identical answers to its
  // batch-built q_store_* twin — the same equivalence the sf0.01 oracle
  // hash-checks, pinned here at sf0.001 on every test run
  test("q_stream_store_traces: the engine-built trace store serves exactly " +
      "the batch store's find-traces answer (ST8/ST4/ST7 behind one oracle)") {
    val dir = "/root/testdata/sf0.001"
    def rows(q: String) = graft.SparkEntry.queries(q)(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val streamed = rows("q_stream_store_traces")
    assert(streamed.nonEmpty)
    assert(streamed == rows("q_store_find_traces"),
      "streaming-engine-built trace store drifted from the batch store answer")
  }

  test("q_stream_store_dependencies: the engine-built window store serves " +
      "exactly the batch store's dependencies answer (A4/ST4/ST7 behind one oracle)") {
    val dir = "/root/testdata/sf0.001"
    def rows(q: String) = graft.SparkEntry.queries(q)(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    val streamed = rows("q_stream_store_dependencies")
    assert(streamed.nonEmpty)
    assert(streamed == rows("q_store_dependencies"),
      "streaming-engine-built window store drifted from the batch store answer")
  }

  test("streaming exact dedup: first arrival survives, in-horizon duplicates " +
      "drop, state evicts past the watermark (bounded-state ingest dedup)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "content", "ingest_ts")
    val out = graft.functions.Dedup.exactStream(
      docs, Seq("content"), "ingest_ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("dedup_stream_out")
      .outputMode(OutputMode.Append()).start()
    def ids() = spark.table("dedup_stream_out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    def ts(s: Long) = new Timestamp(s * 1000L)
    try {
      // batch 1: an in-batch duplicate (doc 3 repeats doc 1's content)
      input.addData((1L, "aaa", ts(1000)), (2L, "bbb", ts(1001)), (3L, "aaa", ts(1002)))
      q.processAllAvailable()
      assert(ids() == Set(1L, 2L))
      // batch 2: a cross-batch duplicate inside the horizon drops; a fresh
      // key emits (watermark after batch 1 = 1002 - 10 s, "aaa" state live)
      input.addData((4L, "aaa", ts(1005)), (5L, "ccc", ts(1003)))
      q.processAllAvailable()
      assert(ids() == Set(1L, 2L, 5L))
      // batch 3 only ADVANCES the watermark (to 1030 - 10 s = 1020, past
      // "aaa"'s expiry 1000 + 10 s): eviction is what bounds state at scale
      input.addData((6L, "ddd", ts(1030)))
      q.processAllAvailable()
      // batch 4: the same content re-arrives AFTER its state was evicted —
      // it re-emits; the batch `exact` pass over the store collapses these
      // stragglers (the documented bounded-state trade)
      input.addData((7L, "aaa", ts(1035)))
      q.processAllAvailable()
      assert(ids() == Set(1L, 2L, 5L, 6L, 7L))
    } finally q.stop()
  }

  test("streaming curation: quality-failing rows never reach the sink, and " +
      "raw-different/redaction-equal copies collapse (redact BEFORE dedup)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val out = graft.operators.Curation.curateStream(
      docs, "text", "ingest_ts", "365 days")
    val q = out.writeStream.format("memory").queryName("curate_stream_out")
      .outputMode(OutputMode.Append()).start()
    def ids() = spark.table("curate_stream_out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    def ts(s: Long) = new Timestamp(s * 1000L)
    // passes the quality gate: 8–512 tokens, sane lengths, a stopword
    val good = "the quick brown fox jumps over the lazy dog again"
    try {
      // batch 1: a good doc with a contact line, and a junk doc (one token
      // → fails the 8-token band) that must be filtered IN-stream
      input.addData(
        (1L, good + " contact user1@example.com or call +1 (415) 555-0101", ts(1000)),
        (2L, "junkjunkjunk", ts(1001)))
      q.processAllAvailable()
      assert(ids() == Set(1L), "quality-failing row must not reach the sink")
      // batch 2: same doc re-delivered with a DIFFERENT contact line — raw
      // text differs, redacted text matches; only a flow that redacts
      // before the dedup state can drop it
      input.addData(
        (3L, good + " contact user3@example.com or call +1 (415) 555-0303", ts(1002)))
      q.processAllAvailable()
      assert(ids() == Set(1L),
        "redaction-equal redelivery must collapse against the dedup state")
      // and the survivor's text is the redacted form, not the raw one
      val kept = spark.table("curate_stream_out")
        .collect().map(_.getAs[String]("text")).toSeq
      assert(kept == Seq(good + " contact <EMAIL> or call <PHONE>"))
    } finally q.stop()
  }
}
