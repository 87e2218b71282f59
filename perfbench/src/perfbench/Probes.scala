package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters keyed by the job group the harness sets around each
  * operation (`SparkContext.setJobGroup`). Jobs started without a group
  * (none are expected: child threads inherit the caller's group) count
  * under `fallbackGroup`. */
final class JobCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L
    var inputBytes = 0L; var outputBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var jobNs = 0L
  }
  @volatile var fallbackGroup: String = "none"
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSite = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** (group, call site) -> summed job wall time (ms). */
  private val passes = new ConcurrentHashMap[(String, String), java.lang.Long]()
  @volatile private var lastJobEnd = -1
  private val sqlSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(x.executionId, JobCounters.callSite(x.details))
    case _ =>
  }

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobCounters.GroupKey)))
      .getOrElse(fallbackGroup)
    jobGroup.put(e.jobId, g)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    // a SQL action's jobs may run on Spark's own threads (broadcasts,
    // adaptive stages), whose stacks hold no program frame: name them
    // after the action that started the SQL execution
    val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty(JobCounters.SqlExecutionKey)))
      .flatMap(id => Option(sqlSites.get(id.toLong)))
    val stageSite = if (e.stageInfos.isEmpty) "other"
      else JobCounters.callSite(e.stageInfos.maxBy(_.stageId).details)
    jobSite.put(e.jobId, if (stageSite != "other") stageSite else sqlSite.getOrElse("other"))
    val a = acc(g)
    a.synchronized(a.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val a = acc(g); a.synchronized(a.stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.get(e.jobId)
    val s = jobStartMs.get(e.jobId)
    if (g != null && s != null) {
      val ms = e.time - s
      val a = acc(g)
      a.synchronized(a.jobNs += ms * 1000000L)
      passes.merge((g, jobSite.getOrDefault(e.jobId, "unknown")), ms, (x, y) => x + y)
    }
    lastJobEnd = e.jobId
  }

  /** Wait until every event posted before this call has been delivered:
    * run one tiny job and wait for this listener to see its end (a
    * listener queue delivers in order). */
  def drain(sc: SparkContext): Unit = {
    sc.setJobGroup("perfbench.drain", "drain", interruptOnCancel = false)
    try {
      val jobs0 = sc.statusTracker.getJobIdsForGroup("perfbench.drain").length
      sc.parallelize(Seq(1), 1).count()
      val ids = sc.statusTracker.getJobIdsForGroup("perfbench.drain")
      val target = if (ids.length > jobs0) ids.max else -1
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (lastJobEnd < target && System.nanoTime() < deadline) Thread.sleep(2)
    } finally sc.clearJobGroup()
  }

  def get(g: String): Option[Acc] = Option(groups.get(g))

  /** Sum over the groups accepted by `p`. */
  def sum(p: String => Boolean): Acc = {
    val t = new Acc
    groups.forEach { (g, a) =>
      if (p(g)) a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs
        t.inputBytes += a.inputBytes; t.outputBytes += a.outputBytes
        t.shuffleWriteBytes += a.shuffleWriteBytes; t.spillBytes += a.spillBytes
        t.jobNs += a.jobNs
      }
    }
    t
  }

  /** Job wall seconds per call site within group `g`. */
  def passSeconds(g: String): Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    passes.forEach { (k, ms) => if (k._1 == g) b += k._2 -> ms / 1000.0 }
    b.result()
  }
}

object JobCounters {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
  /** The local property naming a job's SQL execution. */
  val SqlExecutionKey = "spark.sql.execution.id"

  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(([\w]+)\.scala:\d+\)""".r

  /** `File.method` of the first program frame in a job's call-site stack
    * (Spark's long form), line numbers stripped; anonymous-function frames
    * are named after their enclosing method. */
  def callSite(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(cls, method, file) if cls.startsWith("graft.") =>
        val m = method.split('$').filter(x => x.nonEmpty && x != "anonfun" &&
          !x.forall(_.isDigit) && x != "adapted")
        s"$file.${m.headOption.getOrElse("anon")}"
    }.getOrElse("other")
}

/** File listings of an index directory, per top-level table. */
object Listing {
  import scala.jdk.CollectionConverters._

  case class Table(files: Long, bytes: Long)

  /** Data files (hidden and `_`-prefixed bookkeeping files excluded) and
    * their bytes, per top-level directory of `dir`. */
  def tables(dir: String): Map[String, Table] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return Map.empty
    val tops = java.nio.file.Files.list(root)
    try tops.iterator().asScala.filter(java.nio.file.Files.isDirectory(_)).map { t =>
      val w = java.nio.file.Files.walk(t)
      try {
        val fs = w.iterator().asScala.filter { p =>
          java.nio.file.Files.isRegularFile(p) && {
            val n = p.getFileName.toString
            !n.startsWith(".") && !n.startsWith("_")
          }
        }.toSeq
        t.getFileName.toString -> Table(fs.length, fs.map(java.nio.file.Files.size(_)).sum)
      } finally w.close()
    }.toMap
    finally tops.close()
  }

  /** Every regular file under `dir` with its size (for listing diffs). */
  def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return Map.empty
    val w = java.nio.file.Files.walk(root)
    try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally w.close()
  }

  /** Bytes of the files present in `after` but not in `before`. */
  def writtenBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.filter { case (p, _) => !before.contains(p) }.map(_._2).sum

  def totalBytes(dir: String): Long = tables(dir).valuesIterator.map(_.bytes).sum
}

/** JVM counters from JMX. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** (collections, collection ms) summed over all collectors. */
  def gc(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionCount)).sum,
      bs.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the calling thread. */
  def threadAllocated(): Long = threads.getCurrentThreadAllocatedBytes

  /** Heap in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Seconds since the JVM started. */
  def uptimeSeconds(): Double = {
    val rt = ManagementFactory.getRuntimeMXBean
    (System.currentTimeMillis() - rt.getStartTime) / 1000.0
  }
}
