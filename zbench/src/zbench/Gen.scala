package zbench

import java.util.SplittableRandom

import graft.model.{Annotation, Endpoint, Span}

/** Shape of the generated Zipkin traffic (one per workload). */
final case class TraceShape(
    services: Int,        // distinct services in the call graph
    depth: Int,           // RPC hops below the root server span
    fanOut: Int,          // max downstream calls per server span
    share128: Double,     // share of traces with 128-bit ids
    errorShare: Double,   // share of server halves tagged "error"
    localShare: Double,   // share of server spans with a local (kindless) child
    lateShare: Double,    // share of local spans reported after the watermark passed them
    retryShare: Double,   // share of on-time records the reporter sends twice
    corruptShare: Double, // share of extra records that are malformed proto
    zipf: Double)         // skew of root-service popularity

/** One RPC the generator built: ground truth for one dependency edge sample. */
final case class Call(parent: String, child: String, error: Boolean)

/** A generated trace. `spans` are reported on time, `late` after the
  * watermark passed them; `calls` is the edge truth (late spans are local
  * and never carry an edge).
  */
final case class GenTrace(traceId: String, spans: Vector[Span], late: Vector[Span],
    calls: Vector[Call], rootTsUs: Long)

/** Seeded Zipkin call-tree generator. Services form a DAG (service i only
  * calls higher-numbered services), so trees have bounded depth, and every
  * RPC is reported as a CLIENT span in the caller plus a shared SERVER span
  * with the same id in the callee — the two halves TraceMerge keeps apart and
  * DependencyLinker folds into one edge.
  */
final class TraceGen(shape: TraceShape, seed: Long) {
  private val rng = new SplittableRandom(seed)
  val services: Vector[String] = Vector.tabulate(shape.services)(i => f"svc$i%02d")
  private val opsPerService = 3
  def ops(svc: String): Vector[String] =
    Vector.tabulate(opsPerService)(i => s"$svc.op$i")
  val tagKeys: Seq[String] = Seq("environment", "http.method")
  private val envs = Vector("prod", "staging", "canary")
  private val methods = Vector("GET", "POST", "PUT", "DELETE")
  val annotationValues: Vector[String] = Vector("cache.miss", "retry")

  // each service calls a few fixed downstreams: a bounded, seeded edge set
  private val downstream: Vector[Vector[Int]] = Vector.tabulate(shape.services) { i =>
    val cands = (i + 1 until shape.services).toVector
    if (cands.isEmpty) Vector.empty
    else Vector.fill(math.min(3, cands.size))(cands(rng.nextInt(cands.size))).distinct
  }
  // roots come from the first half of the graph, Zipf-skewed
  private val zipf = new Zipf(math.max(1, shape.services / 2), shape.zipf)

  private def hex16(): String = f"${rng.nextLong()}%016x"
  private def newSpanId(): String = {
    var id = hex16()
    while (id == "0000000000000000") id = hex16()
    id
  }

  def nextTrace(startUs: Long): GenTrace = {
    val traceId = if (rng.nextDouble() < shape.share128) hex16() + hex16() else hex16()
    val spans = Vector.newBuilder[Span]
    val late = Vector.newBuilder[Span]
    val env = envs(rng.nextInt(envs.size))

    def ep(s: String) = Some(Endpoint(service_name = Some(s)))

    // one server span of `svc` (root when parent is None) and its subtree
    def serve(svcIdx: Int, id: String, parent: Option[String], shared: Boolean,
        ts: Long, dur: Long, level: Int): Unit = {
      val svc = services(svcIdx)
      val error = parent.isDefined && rng.nextDouble() < shape.errorShare
      val tags = Map("environment" -> env,
        "http.method" -> methods(rng.nextInt(methods.size))) ++
        (if (error) Map("error" -> "500") else Map.empty)
      val annotations =
        if (rng.nextInt(4) == 0)
          Seq(Annotation(ts + 1, annotationValues(rng.nextInt(annotationValues.size))))
        else Nil
      spans += Span(trace_id = traceId, parent_id = parent, id = id, kind = Some("SERVER"),
        name = Some(ops(svc)(rng.nextInt(opsPerService))), timestamp = Some(ts),
        duration = Some(dur), local_endpoint = ep(svc), annotations = annotations,
        tags = tags, shared = if (shared) Some(true) else None)
      if (rng.nextDouble() < shape.localShare) {
        val local = Span(trace_id = traceId, parent_id = Some(id), id = newSpanId(),
          name = Some(s"$svc.db"), timestamp = Some(ts + 2), duration = Some(dur / 4 + 1),
          local_endpoint = ep(svc), tags = Map("environment" -> env))
        if (rng.nextDouble() < shape.lateShare) late += local else spans += local
      }
      val downs = downstream(svcIdx)
      if (level < shape.depth && downs.nonEmpty) {
        val n = 1 + rng.nextInt(shape.fanOut)
        var offset = 5L
        for (_ <- 0 until n) {
          val callee = downs(rng.nextInt(downs.size))
          val childId = newSpanId()
          val childDur = math.max(10L, dur / (n + 1))
          val calleeName = services(callee)
          spans += Span(trace_id = traceId, parent_id = Some(id), id = childId,
            kind = Some("CLIENT"), name = Some(ops(calleeName)(0)),
            timestamp = Some(ts + offset), duration = Some(childDur),
            local_endpoint = ep(svc), remote_endpoint = ep(calleeName),
            tags = Map("environment" -> env))
          serve(callee, childId, Some(id), shared = true, ts + offset + 1,
            childDur - 2, level + 1)
          offset += childDur
        }
      }
    }

    serve(zipf.sample(rng), newSpanId(), None, shared = false, startUs,
      1000L + rng.nextInt(200000), 0)
    val all = spans.result()
    // edge truth: one call per shared server half, erroring iff it is tagged
    val edgeTruth = all.filter(_.isShared).map { s =>
      val client = all.find(c => c.id == s.id && !c.isShared).get
      Call(client.localServiceName.get, s.localServiceName.get, s.tags.contains("error"))
    }
    GenTrace(traceId, all, late.result(), edgeTruth, startUs)
  }
}

/** Zipf(n, s) over 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
