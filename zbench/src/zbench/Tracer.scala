package zbench

import scala.collection.mutable

/** One recorded layer span. Times are µs since the epoch. */
final case class LayerSpan(traceId: String, id: String, parent: Option[String],
    layer: String, name: String, startUs: Long, durUs: Long)

/** Layer spans recorded from the benchmark's own code, around its calls into
  * each module. One root per batch, query or curation pass; children share
  * its trace id. Disabled, it adds one branch per call and records nothing.
  * Spans stay in memory and are written once, at the end.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[LayerSpan]
  private var stack: List[(String, String)] = Nil // (trace id, span id)
  private var nextId = 1L
  private val clockBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  private def nowUs(): Long = clockBaseUs + (System.nanoTime() - nanoBase) / 1000L
  private def newId(): String = { nextId += 1; f"${0x7a00000000000000L + nextId}%016x" }

  /** A new root span: a new trace. */
  def root[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = stack
      stack = Nil
      try span("bench", name)(body) finally stack = saved
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val traceId = stack.headOption.map(_._1).getOrElse(id)
      val parent = stack.headOption.map(_._2)
      stack = (traceId, id) :: stack
      val start = nowUs()
      try body
      finally {
        stack = stack.tail
        spans += LayerSpan(traceId, id, parent, layer, name, start, math.max(1L, nowUs() - start))
      }
    }

  def recorded: Seq[LayerSpan] = spans.toSeq

  /** Self time per layer, ms: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(Some(s.id), Nil)
          .map(c => (c.startUs, c.startUs + c.durUs)).sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        for ((a, b) <- kids) {
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        (s.durUs - math.min(covered, s.durUs)) / 1000.0
      }.sum
    }
  }

  /** (parent layer, child layer) → calls: the edges a Zipkin dependency
    * linker must derive from the written spans.
    */
  def layerEdges: Map[(String, String), Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.flatMap(s => s.parent.flatMap(byId.get).map(p => (p.layer, s.layer)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  /** Zipkin V2 JSON lines, in the snake_case field form the program's JSON
    * reader (`SpanSources.fromJson`) takes. Every span is a SERVER span of
    * its layer, so parent→child layer calls become dependency edges.
    */
  def writeJson(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try for (s <- spans) {
      val parent = s.parent.map(p => s""""parent_id":"$p",""").getOrElse("")
      w.write(s"""{"trace_id":"${s.traceId}",$parent"id":"${s.id}","kind":"SERVER",""" +
        s""""name":"${s.name}","timestamp":${s.startUs},"duration":${s.durUs},""" +
        s""""local_endpoint":{"service_name":"${s.layer}"}}""")
      w.newLine()
    } finally w.close()
  }
}
