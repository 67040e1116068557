package zbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.{Endpoint, Span}
import graft.sources.ProtoSpans

/** One transport record: the proto3 `ListOfSpans` bytes and the record
  * timestamp the pipeline sessionizes on.
  */
final case class Record(ts: Timestamp, value: Array[Byte])

/** Everything the ingest leg must find in the stores, accumulated from the
  * records actually sent. Built from the generator's own structures, never
  * from the program's output.
  */
final class IngestTruth {
  /** trace id → distinct (span id, shared) keys reported on time */
  val traceSpans = mutable.HashMap.empty[String, mutable.HashSet[(String, Boolean)]]
  val edges = mutable.HashMap.empty[(String, String), (Long, Long)]
  val spanNames = mutable.HashMap.empty[String, mutable.TreeSet[String]]
  val remoteNames = mutable.HashMap.empty[String, mutable.TreeSet[String]]
  val tagValues = mutable.HashMap.empty[String, mutable.TreeSet[String]]
  var lateSpans = 0L
  var spans = 0L

  def names(s: Span, keys: Seq[String]): Unit =
    for (svc <- s.localServiceName) {
      s.name.foreach(n => spanNames.getOrElseUpdate(svc, mutable.TreeSet.empty) += n)
      s.remoteServiceName.foreach(r =>
        remoteNames.getOrElseUpdate(svc, mutable.TreeSet.empty) += r)
      for ((k, v) <- s.tags if keys.contains(k))
        tagValues.getOrElseUpdate(k, mutable.TreeSet.empty) += v
    }
}

/** The ingest leg's seeded record stream. Batch `b` covers event time
  * [start + b·batchMs, start + (b+1)·batchMs) with batchMs = 50 s, so a
  * trace's records in consecutive batches stay inside one 1-minute session,
  * while sessions close and 1-minute windows finalize a few batches after
  * their last span. Every record gets a distinct timestamp (even slots on
  * time, odd slots for late reports), so a record that decodes to nothing
  * is countable from the output alone.
  *
  * Per trace: one record per reporting service, 70% sent in the trace's own
  * batch and the rest in the next (out of order across services); retries
  * resend a record one batch later; late local spans go out three batches
  * later with their original timestamp, when even the session they would
  * open has ended behind the watermark; corrupt records are a proto length
  * prefix running past the end of the buffer.
  */
final class Feed(shape: TraceShape, seed: Long, spansPerBatch: Int,
    val batchMs: Long = 50000L, val startMs: Long = 1767225600000L /* 2026-01-01 */) {
  val gen = new TraceGen(shape, seed)
  val truth = new IngestTruth
  private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
  // batch → (records due then: (span payload or corrupt bytes, fixed ts or -1))
  private val due = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Seq[Span], Long)]]
  private var next = 0
  private val lateIndex = mutable.HashMap.empty[Int, Int] // origin batch → late records
  val corrupt: Array[Byte] = Array[Byte](0x0A, 0x7F, 0x0A, 0x01)
  val flushServices: Seq[String] = Seq("zz_flush_a", "zz_flush_b")

  private def schedule(b: Int, spans: Seq[Span], fixedTs: Long = -1L): Unit =
    due.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((spans, fixedTs))

  private def windowStart(b: Int): Long = startMs + b * batchMs

  /** Generate the traces that start in batch `b` and schedule their
    * records; in the last batch everything goes out at once, on time.
    */
  private def plan(b: Int, last: Boolean): Unit = {
    // a batch also carries the spill of the one before (about 30% of its
    // records), so the last batch, which spills nothing, plans 30% fewer spans
    val quota = if (last) spansPerBatch * 7 / 10 else spansPerBatch
    var planned = 0
    while (planned < quota) {
      val startUs = (windowStart(b) + rng.nextLong(batchMs / 2)) * 1000L
      val t = gen.nextTrace(startUs)
      planned += t.spans.size + t.late.size
      val onTime = if (last) t.spans ++ t.late else t.spans
      for ((_, group) <- onTime.groupBy(_.localServiceName.get).toSeq.sortBy(_._1)) {
        val sendAt = if (last || rng.nextDouble() < 0.7) b else b + 1
        schedule(sendAt, group)
        if (!last && rng.nextDouble() < shape.retryShare) schedule(sendAt + 1, group)
      }
      if (!last) for (s <- t.late) {
        val k = lateIndex.getOrElse(b, 0)
        lateIndex(b) = k + 1
        schedule(b + 3, Seq(s), windowStart(b) + 2L * k + 1)
      }
      for (c <- t.calls) {
        val k = (c.parent, c.child)
        val (n, e) = truth.edges.getOrElse(k, (0L, 0L))
        truth.edges(k) = (n + 1, if (c.error) e + 1 else e)
      }
    }
  }

  private def encode(b: Int, items: Seq[(Seq[Span], Long)]): Vector[Record] = {
    var slot = 0L
    val out = Vector.newBuilder[Record]
    def onTime(): Long = { slot += 1; windowStart(b) + 2 * slot }
    for ((spans, fixedTs) <- items) {
      val late = fixedTs >= 0
      for (s <- spans) {
        truth.names(s, gen.tagKeys)
        truth.spans += 1
        if (late) truth.lateSpans += 1
        else truth.traceSpans.getOrElseUpdate(s.trace_id, mutable.HashSet.empty) +=
          ((s.id, s.isShared))
      }
      out += Record(new Timestamp(if (late) fixedTs else onTime()), ProtoSpans.encodeList(spans))
      if (rng.nextDouble() < shape.corruptShare) out += Record(new Timestamp(onTime()), corrupt)
    }
    val recs = out.result()
    // late reports of this batch's traces take odd slots below its highest
    // on-time slot, so the watermark this batch sets is already past them
    require(lateIndex.getOrElse(b, 0) <= slot,
      s"batch $b: ${lateIndex.getOrElse(b, 0)} late reports but only $slot on-time records")
    recs
  }

  /** The next batch. */
  def nextBatch(): Vector[Record] = {
    val b = next
    next += 1
    plan(b, last = false)
    encode(b, due.remove(b).getOrElse(Nil).toSeq)
  }

  /** The last batch: its own traces whole and on time, every record still
    * due (late reports only where the watermark has passed them; the rest
    * are never sent), and two far-future flush traces. The second pushes the
    * session watermark past the first, whose RPC then moves the link
    * stream's watermark past every window of real traffic.
    */
  def lastBatch(): Vector[Record] = {
    val b = next
    next += 1
    plan(b, last = true)
    val pending = due.toSeq.sortBy(_._1).flatMap(_._2)
      .filter { case (_, ts) => ts < 0 || ts + 62000L < windowStart(b - 1) }
    due.clear()
    encode(b, pending) ++ flush(windowStart(b) + 3600000L, 1) ++ flush(windowStart(b) + 7200000L, 2)
  }

  val flushIds: Set[String] = Set(1, 2).map(k => f"${0xF1005L + k}%016x")

  private def flush(ts: Long, k: Int): Vector[Record] = {
    val id = f"${0xF1005L + k}%016x"
    def ep(s: String) = Some(Endpoint(service_name = Some(s)))
    val spans = Seq(
      Span(trace_id = id, id = id, kind = Some("SERVER"), name = Some("flush"),
        timestamp = Some(ts * 1000), duration = Some(10), local_endpoint = ep(flushServices(0))),
      Span(trace_id = id, parent_id = Some(id), id = f"${0xF2005L + k}%016x",
        kind = Some("SERVER"), name = Some("flush"), timestamp = Some(ts * 1000 + 1),
        duration = Some(5), local_endpoint = ep(flushServices(1))))
    spans.foreach(truth.names(_, gen.tagKeys))
    Vector(Record(new Timestamp(ts), ProtoSpans.encodeList(spans)))
  }
}
