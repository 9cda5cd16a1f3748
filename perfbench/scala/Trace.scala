package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty)

/** In-memory span store: spans are kept until the run ends and then
  * written out as one JSON line each.
  */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val base = System.currentTimeMillis() * 1000L -
    System.nanoTime() / 1000L

  def now: Long = base + System.nanoTime() / 1000L
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = { buf.add(s); () }
  def all: Seq[Span] = buf.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_us":${s.start},"end_us":${s.end}"""
      if (s.attrs.nonEmpty)
        sb ++= ""","attrs":""" + Json.obj(s.attrs.toSeq.map { case (k, v) =>
          k -> Json.num(v) })
      sb ++= "}\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
    ()
  }
}

/** Executor-side totals for one layer (the value of the `perfbench.layer`
  * local property the jobs ran under).
  */
final class ExecAcc {
  val jobs, stages, tasks = new LongAdder
  val cpuNs, runMs, schedMs, gcMs = new LongAdder
  val shuffleRead, shuffleWrite, spill, inputRows = new LongAdder
  val peakExecMem = new AtomicLong(0)
}

/** The benchmark's own listener: attributes every job, stage and task to
  * the layer and span the client thread set as local properties, records
  * a span per job, and tracks cached-block bytes.
  */
final class LayerListener(spans: Spans) extends SparkListener {
  val acc = new ConcurrentHashMap[String, ExecAcc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long, String, Long)]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private val cachedNow = new AtomicLong(0)
  val cachedPeak = new AtomicLong(0)

  private def of(layer: String): ExecAcc =
    acc.computeIfAbsent(layer, _ => new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    val layer = Option(prop("perfbench.layer")).getOrElse("other")
    val parent = Option(prop("perfbench.span")).map(_.toLong).getOrElse(0L)
    val trace = Option(prop("perfbench.trace")).getOrElse("")
    of(layer).jobs.increment()
    e.stageIds.foreach(s => stageLayer.put(s, layer))
    jobInfo.put(e.jobId, (layer, parent, trace, e.time * 1000L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val info = jobInfo.remove(e.jobId)
    if (info != null) {
      val (layer, parent, trace, start) = info
      spans.add(Span(spans.nextId(), parent, trace, s"job.$layer", start,
        e.time * 1000L, Map("job_id" -> e.jobId.toDouble)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val layer = stageLayer.get(e.stageInfo.stageId)
    if (layer != null) of(layer).stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    val m = e.taskMetrics
    if (layer != null && m != null) {
      val a = of(layer)
      a.tasks.increment()
      a.cpuNs.add(m.executorCpuTime)
      a.runMs.add(m.executorRunTime)
      a.gcMs.add(m.jvmGCTime)
      if (e.taskInfo != null) {
        val sched = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
            e.taskInfo.gettingResultTime else 0L)
        a.schedMs.add(math.max(0L, sched))
      }
      a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.inputRows.add(m.inputMetrics.recordsRead)
      a.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId =>
        val size = info.memSize + info.diskSize
        val prev = Option(blockBytes.put(info.blockId.name, size)).getOrElse(0L)
        val cur = cachedNow.addAndGet(size - prev)
        cachedPeak.accumulateAndGet(cur, math.max)
      case _ =>
    }
  }
}

/** Catalyst phase times of every query execution, from its
  * `QueryPlanningTracker`.
  */
final class PlanListener extends QueryExecutionListener {
  val phaseNs = new ConcurrentHashMap[String, LongAdder]()

  def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseNs.computeIfAbsent(phase, _ => new LongAdder)
        .add((s.endTimeMs - s.startTimeMs) * 1000000L)
    }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(qe)
}

/** Micro-batch layer totals from each `StreamingQueryProgress`. */
final class StreamListener extends StreamingQueryListener {
  val batches, inputRows, stateRows, stateMem = new LongAdder
  val durMs = new ConcurrentHashMap[String, LongAdder]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.increment()
    inputRows.add(p.numInputRows)
    p.durationMs.asScala.foreach { case (k, v) =>
      durMs.computeIfAbsent(k, _ => new LongAdder).add(v.longValue)
    }
    p.stateOperators.foreach { s =>
      stateRows.add(s.numRowsTotal); stateMem.add(s.memoryUsedBytes)
    }
  }
}

/** Minimal JSON writing for the result record. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def strMap(m: collection.Map[String, String]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) })
  def numMap(m: collection.Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}

/** Largest heap occupancy after a full collection since the last
  * `reset`, from the JVM's GC notifications. Young collections are left
  * out: what they leave depends on how much dead data the old generation
  * holds at that moment, which varies from run to run.
  */
object HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val peak = new AtomicLong(0)
  private val gcs = new AtomicLong(0)
  private val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n, _) => {
    lazy val info = GarbageCollectionNotificationInfo.from(
      n.getUserData.asInstanceOf[CompositeData])
    if (n.getType == GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION &&
        info.getGcAction == "end of major GC") {
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      gcs.incrementAndGet()
      peak.accumulateAndGet(used, math.max)
    }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  def reset(): Unit = { peak.set(0); gcs.set(0) }
  def peakBytes: Long = peak.get
  def gcCount: Long = gcs.get
}

/** Accumulates the phase results of the traced module calls. */
final class ModuleStats {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit =
    values.update(k, values.getOrElse(k, 0.0) + v)
}
