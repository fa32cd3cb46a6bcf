package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Layer boundaries as the benchmark sees them. The untraced run passes
  * frames through untouched; the traced run records a span per boundary and
  * materializes each layer's output there, so the work lands in the layer
  * that did it rather than in whichever later action happened to force it.
  */
trait Tracer {
  def span[T](name: String)(body: => T): T
  /** The frame, persisted and counted when tracing. */
  def mat(df: DataFrame): DataFrame
  def release(): Unit = ()
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
  def mat(df: DataFrame): DataFrame = df
}

final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, runId: String) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Every Spark job started inside a span runs
  * under that span's job group, so listener counts land on the span.
  */
final class SpanTracer(spark: SparkSession, val runId: String) extends Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private val persisted = mutable.ArrayBuffer[DataFrame]()
  private val sc = spark.sparkContext

  def span[T](name: String)(body: => T): T = {
    val parent = if (stack.isEmpty) -1 else stack.top
    val id = spans.length
    spans += Span(name, System.nanoTime(), 0L, parent, runId)
    stack.push(id)
    sc.setJobGroup(s"$id", name)
    try body
    finally {
      stack.pop()
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      if (stack.isEmpty) sc.clearJobGroup() else sc.setJobGroup(s"${stack.top}", spans(stack.top).name)
    }
  }

  def mat(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    p.count()
    p
  }

  override def release(): Unit = { persisted.foreach(_.unpersist(blocking = true)); persisted.clear() }

  /** Duration minus the union of the direct children's intervals. */
  def selfTime(id: Int): Double = {
    val s = spans(id)
    val kids = spans.filter(_.parent == id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def total(name: String): Double = spans.filter(_.name == name).map(_.dur).sum
  def selfTotal(name: String): Double = spans.indices.filter(spans(_).name == name).map(selfTime).sum

  def toJson: String = spans.zipWithIndex.map { case (s, i) =>
    s"""{"id":$i,"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run_id":"${s.runId}"}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Job, stage and task totals from a SparkListener, with each job's wall
  * time attributed to the program file named in its call site and to the
  * span (job group) it ran under.
  */
final class JobListener extends SparkListener {
  import JobListener.Job
  private val lock = new Object
  val jobs = mutable.Map[Int, Job]()
  var stages = 0L; var tasks = 0L
  var taskNs = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spill = 0L; var gcMs = 0L
  val taskNsByGroup = mutable.Map[String, Long]().withDefaultValue(0L)
  private val stageGroup = mutable.Map[Int, String]()

  private val CallSite = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val file = CallSite.findFirstMatchIn(site).map(_.group(1)).getOrElse("unknown")
    jobs(e.jobId) = Job(e.time, -1L, file, group)
    e.stageIds.foreach(stageGroup(_) = group)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val ns = m.executorRunTime * 1000000L
      taskNs += ns
      taskNsByGroup(stageGroup.getOrElse(e.stageId, "")) += ns
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }

  /** Wall milliseconds covered by at least one job between `from` and `to`. */
  def jobUnionMs(from: Long, to: Long): Long = lock.synchronized {
    val iv = jobs.values.filter(_.end >= 0).map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var s = Long.MinValue; var en = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > en) { if (en > s) covered += en - s; s = a; en = b } else en = math.max(en, b)
    }
    if (en > s) covered += en - s
    covered
  }

  def jobMsByFile: Map[String, Long] = lock.synchronized {
    jobs.values.filter(_.end >= 0).groupBy(_.file).map { case (f, js) => f -> js.map(j => j.end - j.start).sum }
  }
}

object JobListener {
  final case class Job(start: Long, var end: Long, file: String, group: String)
}

/** JVM readings over a run: JIT time, classes loaded, largest post-GC heap. */
final class JvmProbe {
  private val comp = ManagementFactory.getCompilationMXBean
  private val cls = ManagementFactory.getClassLoadingMXBean
  @volatile var maxLiveHeap = 0L
  private val jit0 = comp.getTotalCompilationTime
  private val classes0 = cls.getTotalLoadedClassCount

  ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          var used = 0L
          info.getGcInfo.getMemoryUsageAfterGc.values().forEach(u => used += u.getUsed)
          if (used > maxLiveHeap) maxLiveHeap = used
        }
      }, null, null)
    case _ => ()
  }

  def jitSeconds: Double = (comp.getTotalCompilationTime - jit0) / 1000.0
  def classesLoaded: Long = cls.getTotalLoadedClassCount - classes0
}

object Caches {
  /** (persistent RDDs, cached MB) as the session's storage reports them. */
  def status(spark: SparkSession): (Long, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    (sc.getPersistentRDDs.size.toLong, mb)
  }
}
