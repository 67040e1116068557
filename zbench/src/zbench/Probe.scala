package zbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine totals for one tag. Times are summed over tasks. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L        // executorRunTime
  var cpuNs = 0L        // executorCpuTime: run-CPU only
  var deserCpuNs = 0L   // executorDeserializeCpuTime, kept apart from run-CPU
  var gcMs = 0L
  var recordsRead = 0L  // input + shuffle records
  var bytesRead = 0L    // input bytes (files scanned)
  var shuffleBytes = 0L // shuffle write
  var spillBytes = 0L   // memory + disk spill

  def offCpuS: Double = math.max(0.0, runMs / 1e3 - cpuNs / 1e9)

  def minus(o: TaskTotals): TaskTotals = {
    val d = new TaskTotals
    d.jobs = jobs - o.jobs; d.tasks = tasks - o.tasks; d.runMs = runMs - o.runMs
    d.cpuNs = cpuNs - o.cpuNs; d.deserCpuNs = deserCpuNs - o.deserCpuNs
    d.gcMs = gcMs - o.gcMs; d.recordsRead = recordsRead - o.recordsRead
    d.bytesRead = bytesRead - o.bytesRead; d.shuffleBytes = shuffleBytes - o.shuffleBytes
    d.spillBytes = spillBytes - o.spillBytes
    d
  }
}

/** The benchmark's one SparkListener: task metrics summed per tag, where the
  * tag is the `zbench.tag` local property of the thread that ran the job
  * (streaming query threads inherit it from the thread that started them).
  */
final class SparkProbe extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val totals = mutable.HashMap.empty[String, TaskTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.TagKey)))
      .getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
    synchronized { totals.getOrElseUpdate(tag, new TaskTotals).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val tag = Option(stageTag.get(e.stageId)).getOrElse("untagged")
    synchronized {
      val t = totals.getOrElseUpdate(tag, new TaskTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.deserCpuNs += m.executorDeserializeCpuTime
      t.gcMs += m.jvmGCTime
      t.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      t.bytesRead += m.inputMetrics.bytesRead
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals of every tag starting with `prefix`, after draining the bus. */
  def snapshot(spark: SparkSession, prefix: String): TaskTotals = {
    org.apache.spark.zbench.Bus.drain(spark.sparkContext)
    synchronized {
      val sum = new TaskTotals
      for ((k, t) <- totals if k.startsWith(prefix)) {
        sum.jobs += t.jobs; sum.tasks += t.tasks; sum.runMs += t.runMs; sum.cpuNs += t.cpuNs
        sum.deserCpuNs += t.deserCpuNs; sum.gcMs += t.gcMs; sum.recordsRead += t.recordsRead
        sum.bytesRead += t.bytesRead; sum.shuffleBytes += t.shuffleBytes
        sum.spillBytes += t.spillBytes
      }
      sum
    }
  }
}

object SparkProbe {
  val TagKey = "zbench.tag"

  /** Run `body` with this thread's jobs tagged `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}

/** Per streaming query: micro-batch phase times, state commit time and
  * watermark drops summed over its batches; state size at its largest.
  */
final class QueryTotals {
  val phaseMs = mutable.HashMap.empty[String, Long]
  var stateCommitMs = 0L
  var stateRows = 0L       // largest numRowsTotal of any batch
  var stateBytes = 0L      // largest memoryUsedBytes of any batch
  var droppedByWatermark = 0L

  def phase(name: String): Long = phaseMs.getOrElse(name, 0L)

  def copy(): QueryTotals = {
    val c = new QueryTotals
    c.phaseMs ++= phaseMs; c.stateCommitMs = stateCommitMs
    c.stateRows = stateRows; c.stateBytes = stateBytes
    c.droppedByWatermark = droppedByWatermark
    c
  }
}

/** The benchmark's one StreamingQueryListener. */
final class StreamProbe extends StreamingQueryListener {
  private val byName = mutable.HashMap.empty[String, QueryTotals]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    synchronized {
      val t = byName.getOrElseUpdate(Option(p.name).getOrElse(p.id.toString), new QueryTotals)
      val it = p.durationMs.entrySet().iterator()
      while (it.hasNext) {
        val kv = it.next()
        t.phaseMs(kv.getKey) = t.phase(kv.getKey) + kv.getValue.longValue
      }
      if (p.stateOperators.nonEmpty) {
        t.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        t.droppedByWatermark += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
        t.stateRows = math.max(t.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        t.stateBytes = math.max(t.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def get(spark: SparkSession, name: String): QueryTotals = {
    org.apache.spark.zbench.Bus.drain(spark.sparkContext)
    synchronized(byName.get(name).map(_.copy()).getOrElse(new QueryTotals))
  }

  def reset(): Unit = synchronized(byName.clear())
}
