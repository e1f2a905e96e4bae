package regridbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the program. `parent` is the id of the
  * enclosing span (-1 for an op's root span); spans of one op share `op`. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val start: Long) {
  var end: Long = -1L
}

/** In-memory spans, recorded from the benchmark's own code around each
  * call into a layer. While a span is open its id is the Spark job group,
  * so [[GroupListener]] attributes jobs, tasks and shuffle bytes to it.
  * `active` is switched per op; an inactive tracer only runs the body. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var active = false
  var op = -1
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Spark work attributed to one job group (one span). */
final class GroupMetrics {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** SparkListener keyed by job group. Events arrive on the single
  * listener-bus thread; read the map only after [[ListenerDrain]]. */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, GroupMetrics]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def metrics(g: String) = byGroup.computeIfAbsent(g, _ => new GroupMetrics)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val m = metrics(g)
        m.jobs += 1
        e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val m = metrics(g)
      m.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); tm <- Option(e.taskMetrics)) {
      val m = metrics(g)
      m.tasks += 1
      m.runMs += tm.executorRunTime
      m.cpuNs += tm.executorCpuTime
      m.schedulerDelayMs += math.max(0L, e.taskInfo.duration - tm.executorRunTime -
        tm.executorDeserializeTime - tm.resultSerializationTime)
      m.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
      m.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
      m.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
    }

  def of(group: String): GroupMetrics = Option(byGroup.get(group)).getOrElse(new GroupMetrics)
}

/** Process-wide counters read from the JVM's management beans and /proc. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Bytes allocated so far by the live threads (Spark's task threads are
    * pooled, so they survive across ops). */
  def allocatedBytes: Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  /** Classes Spark's code generator has compiled so far (cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap in use after a full collection: what set-up left resident. */
  def retainedHeapBytes: Long = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Hypervisor steal time of the whole host, in seconds since boot. */
  def stealS: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } finally src.close()
  }

  def loadavg: Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  }
}
