package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process-wide counters read at op and span boundaries. Local mode
  * runs the scheduler and the executors in this JVM, so each covers both. */
object Probe {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** (bytes written, from Hadoop `FileSystem` storage statistics summed
    * over schemes; local filesystem calls, from [[CountingLocalFileSystem]]). */
  def fs(): (Long, Long) = {
    val bytes = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(st => Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)).sum
    (bytes, CountingLocalFileSystem.ops.get)
  }

  def isOldGen(pool: String): Boolean = Seq("Old", "Tenured").exists(pool.contains)

  /** Old-generation usage after the most recent collection, in bytes. */
  def oldGenAfterGc(): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.isCollectionUsageThresholdSupported && isOldGen(p.getName))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
}

/** Peak old-generation usage after collection while armed: a listener
  * on every collector's notifications reads the old pool's usage after
  * each collection, young ones included. Notifications arrive on
  * another thread, so arming and disarming first wait until every
  * collection so far has been delivered. */
object OldGenPeak {
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.toSeq.map(_.asInstanceOf[com.sun.management.GarbageCollectorMXBean])
  /** Id of the last collection delivered, per collector. */
  private val delivered = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val peak = new java.util.concurrent.atomic.AtomicLong
  @volatile private var armed = false

  beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
    (n: javax.management.Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (armed) {
          val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if Probe.isOldGen(pool) => u.getUsed }.sum
          peak.accumulateAndGet(old, math.max(_, _))
        }
        delivered.merge(info.getGcName, info.getGcInfo.getId, (x, y) => math.max(x, y))
      }, null, null))
  // collections made before the listener was registered send nothing
  beans.foreach(b => Option(b.getLastGcInfo).foreach(g =>
    delivered.merge(b.getName, g.getId, (x, y) => math.max(x, y))))

  private def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    def pending = beans.exists(b => Option(b.getLastGcInfo).exists(g =>
      delivered.getOrDefault(b.getName, 0L) < g.getId))
    while (pending && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def arm(): Unit = { settle(); peak.set(Probe.oldGenAfterGc()); armed = true }
  def disarm(): Long = { settle(); armed = false; peak.get }
}

/** Counts the listener attributes to one span. */
final class Counts {
  var jobs, cpuNs, shuffleBytes, spillBytes, records = 0L
}

/** Attributes each Spark job, and its stages' task metrics, to the span
  * whose id was in the `perfbench.span` local property when the job was
  * submitted. Jobs come from the single benchmark thread, so that span
  * is the innermost one open at job start. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val bySpan = mutable.HashMap[Int, Counts]()
  @volatile private var fence: (Int, CountDownLatch) = (-1, new CountDownLatch(0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanListener.Fence))).foreach(_ =>
      fence = (e.jobId, fence._2))
    props.flatMap(p => Option(p.getProperty(SpanListener.Prop))).map(_.toInt)
      .foreach { id =>
        bySpan.getOrElseUpdate(id, new Counts).jobs += 1
        e.stageIds.foreach(stageSpan.getOrElseUpdate(_, id))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == fence._1) fence._2.countDown()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { id =>
      val c = bySpan.getOrElseUpdate(id, new Counts)
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.records += m.inputMetrics.recordsRead
    }
  }

  /** Wait until the listener bus has delivered every event posted
    * before now: events arrive in order, so once a fence job's end is
    * seen, all earlier jobs and tasks have been counted. */
  def drain(sc: SparkContext): Unit = {
    val latch = new CountDownLatch(1)
    fence = (-1, latch)
    sc.setLocalProperty(SpanListener.Fence, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanListener.Fence, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def counts(id: Int): Counts = synchronized(bySpan.getOrElse(id, new Counts))
}

object SpanListener {
  val Prop = "perfbench.span"
  val Fence = "perfbench.fence"
}

/** One span: name, start, end, parent, and the op id every span of an
  * op shares; filesystem counters are read at both boundaries. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    start: Long, fs0: (Long, Long)) {
  var end = 0L
  var fs1: (Long, Long) = fs0
  def seconds: Double = (end - start) / 1e9
  def fsBytes: Long = fs1._1 - fs0._1
  def fsOps: Long = fs1._2 - fs0._2
}

/** In-memory span recorder for the traced run. Spans are written out
  * once, by [[write]], when the run ends. */
final class Tracer(spark: SparkSession) extends Spans {
  private val sc = spark.sparkContext
  val listener = new SpanListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextOp = 0

  /** A root span; everything opened inside it shares its op id. */
  def op[T](name: String)(f: => T): (T, Span) = {
    require(stack.isEmpty, "ops do not nest")
    nextOp += 1
    var root: Span = null
    val out = apply(name) { root = stack.head; f }
    (out, root)
  }

  def apply[T](name: String)(f: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size, parent.map(_.op).getOrElse(nextOp), name,
      parent.map(_.id).getOrElse(-1), System.nanoTime(), Probe.fs())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanListener.Prop, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      s.fs1 = Probe.fs()
      stack = stack.tail
      sc.setLocalProperty(SpanListener.Prop, parent.map(_.id.toString).orNull)
    }
  }

  def all: Seq[Span] = spans.toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum
  def counts(s: Span): Counts = listener.counts(s.id)

  /** Counts of `s` and all its descendants. */
  def deepCounts(s: Span): Counts = {
    val c = new Counts
    def add(x: Span): Unit = {
      val k = counts(x)
      c.jobs += k.jobs; c.cpuNs += k.cpuNs; c.shuffleBytes += k.shuffleBytes
      c.spillBytes += k.spillBytes; c.records += k.records
      children(x).foreach(add)
    }
    add(s)
    c
  }

  /** Every op's children must fit inside it: their durations sum to no
    * more than the op span (non-negative self time). */
  def selfTimesConsistent: Boolean =
    spans.filter(_.parent == -1).forall(s => selfSeconds(s) >= 0)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = counts(s)
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${c.jobs},""" +
        s""""executor_cpu_ns":${c.cpuNs},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes},"input_records":${c.records},""" +
        s""""fs_bytes_written":${s.fsBytes},"fs_ops":${s.fsOps}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
