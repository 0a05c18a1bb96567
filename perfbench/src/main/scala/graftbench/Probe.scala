package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work counters for one job tag: a layer (`pipeline`, `sinks`, ...)
  * or one named call (`cc`, `probe`, ...). */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def +(o: SparkCounters): SparkCounters = {
    val c = new SparkCounters
    c.jobs = jobs + o.jobs
    c.tasks = tasks + o.tasks
    c.executorCpuNs = executorCpuNs + o.executorCpuNs
    c.executorRunMs = executorRunMs + o.executorRunMs
    c.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
    c.spillBytes = spillBytes + o.spillBytes
    c.inputBytes = inputBytes + o.inputBytes
    c
  }
}

/** Attributes every Spark job to the layer and call the harness tagged it
  * with (`SparkContext.addJobTag`), and counts stage attempts and failures
  * for `failed_ratio`. Jobs launched with no harness tag land under
  * `untagged`. Registered in traced and untraced runs alike: the
  * per-event work is a few map updates. */
final class LayerListener extends SparkListener {
  val byLayer = mutable.Map.empty[String, SparkCounters]
  val byCall = mutable.Map.empty[String, SparkCounters]
  var stagesAttempted = 0L
  var stagesFailed = 0L
  var executorCpuNs = 0L
  private val stageOwner = mutable.Map.empty[Int, (String, Option[String])]

  private def counters(m: mutable.Map[String, SparkCounters], k: String) =
    m.getOrElseUpdate(k, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val layer = tags.collectFirst { case t if t.startsWith(Tags.Layer) => t.stripPrefix(Tags.Layer) }
      .getOrElse("untagged")
    val call = tags.collectFirst { case t if t.startsWith(Tags.Call) => t.stripPrefix(Tags.Call) }
    (counters(byLayer, layer) +: call.map(counters(byCall, _)).toSeq).foreach(c => c.jobs += 1)
    e.stageIds.foreach(s => stageOwner(s) = (layer, call))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesAttempted += 1
    if (e.stageInfo.failureReason.isDefined) stagesFailed += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) executorCpuNs += m.executorCpuTime
    val (layer, call) = stageOwner.getOrElse(e.stageId, ("untagged", None))
    (counters(byLayer, layer) +: call.map(counters(byCall, _)).toSeq).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.executorCpuNs += m.executorCpuTime
        c.executorRunMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def reset(): Unit = synchronized {
    byLayer.clear(); byCall.clear(); stageOwner.clear()
    stagesAttempted = 0; stagesFailed = 0; executorCpuNs = 0
  }
}

object Tags {
  val Layer = "graftbench-layer-"
  val Call = "graftbench-call-"
}

final case class Span(id: Int, parent: Int, name: String, layer: String, startNs: Long, endNs: Long)

/** Workload → phase → layer-call spans, kept in memory and written out at
  * exit. When tracing is on, each layer call also tags the Spark jobs it
  * launches with its layer (and call) so [[LayerListener]] can attribute
  * executor work; when off, `call` just runs the body. Job tags and the
  * span stack are per thread: a `foreachBatch` body runs on the stream's
  * own thread, and its spans hang under the phase that started the query. */
final class Tracer(@volatile var enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  @volatile private var threadRoot = 0
  private val stack = new ThreadLocal[List[(Int, String)]] { override def initialValue() = Nil }

  private def open(name: String, layer: String): (Int, Int, Long) = synchronized {
    val id = nextId
    nextId += 1
    val parent = stack.get.headOption.map(_._1).getOrElse(threadRoot)
    (id, parent, System.nanoTime())
  }

  private def record[T](name: String, layer: String)(body: Int => T): T = {
    if (!enabled) return body(0)
    val (id, parent, t0) = open(name, layer)
    stack.set((id, layer) :: stack.get)
    try body(id)
    finally {
      stack.set(stack.get.tail)
      val s = Span(id, parent, name, layer, t0, System.nanoTime())
      synchronized(spans += s)
    }
  }

  /** A workload or phase span; other threads' spans hang under the latest
    * phase opened here. */
  def phase[T](name: String)(body: => T): T = record(name, "") { id =>
    val prevRoot = threadRoot
    if (enabled) threadRoot = id
    try body finally threadRoot = prevRoot
  }

  /** One call into a layer's public function: a span plus, when tracing,
    * the layer and call job tags (replacing any enclosing layer's tags, so
    * each job belongs to exactly one layer). */
  def call[T](layer: String, name: String)(body: => T): T = record(s"$layer.$name", layer) { _ =>
    if (!enabled) body
    else {
      val outer = sc.getJobTags().filter(t => t.startsWith(Tags.Layer) || t.startsWith(Tags.Call))
      val mine = Set(Tags.Layer + layer, Tags.Call + name)
      sc.removeJobTags(outer)
      sc.addJobTags(mine)
      try body
      finally {
        sc.removeJobTags(mine)
        sc.addJobTags(outer)
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Total wall time of the spans with this name. */
  def totalMs(name: String): Double = all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  /** Self time per span: its duration minus the union of its children's
    * intervals (children on another thread can overlap each other). */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Spans as JSON lines: id, parent, name, layer, run id, start/end
    * (ns since the first span) and self time. */
  def write(path: java.nio.file.Path, runId: String): Unit = {
    val ss = all.sortBy(_.startNs)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "run" -> runId,
        "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
        "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> selfMs(s, kids.getOrElse(s.id, Nil))))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** This JVM's own resource readings. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  /** Whole-stage and expression classes Janino compiled so far (cache
    * misses of Spark's generated-code cache), all in this JVM's driver. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  @volatile private var heapAfterGcPeak = 0L

  /** Follow the heap in use right after each collection (every heap pool,
    * so after a young collection it still holds the old generation's
    * uncollected garbage): its peak bounds from above what the run kept
    * live, whatever size the GC chose for the heap. */
  def watchHeap(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapAfterGcPeak = math.max(heapAfterGcPeak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _                      =>
    }
  }
  def heapAfterGcPeakMb: Double = heapAfterGcPeak / (1024.0 * 1024.0)

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Minimal JSON writer for the harness's result line and span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def value(v: Any): String = v match {
    case null                           => "null"
    case s: String                      => str(s)
    case b: Boolean                     => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                      => d.toString
    case f: Float                       => value(f.toDouble)
    case n: Int                         => n.toString
    case n: Long                        => n.toString
    case m: Map[_, _]                   => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_]                     => xs.map(value).mkString("[", ",", "]")
    case other                          => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
