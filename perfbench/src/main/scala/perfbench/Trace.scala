package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval: run → operation → Spark job → stage. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Operation spans are opened by the harness around
 * every call it makes into the program; the id of the innermost open span is
 * published as a Spark local property, so jobs submitted underneath it — also
 * from pool threads the program starts, which inherit local properties — are
 * linked to it by [[StageListener]]. Nothing is written until the run ends.
 */
final class Tracer(val runId: String, sc: Option[SparkContext]) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val PropertyKey = "perfbench.span"

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[A](name: String)(f: => A): A = {
    val id = open(name)
    try f finally close(id)
  }

  private val opened = new ConcurrentHashMap[Long, (String, Long, Long)]() // id → (name, parent, start)

  /** Open a span on this thread; it becomes the parent of later spans and jobs. */
  def open(name: String): Long = {
    val id = nextId()
    opened.put(id, (name, current, System.nanoTime()))
    stack.set(id :: stack.get())
    publish()
    id
  }

  def close(id: Long): Unit = Option(opened.remove(id)).foreach { case (name, parent, t0) =>
    record(Span(id, name, parent, t0, System.nanoTime(), runId))
    stack.set(stack.get().filterNot(_ == id))
    publish()
  }

  private def publish(): Unit =
    sc.foreach(_.setLocalProperty(PropertyKey, if (current == 0L) null else current.toString))

  def record(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Per-stage facts gathered from the listener bus. */
final class StageFacts(val stageId: Int, val name: String, val numTasks: Int) {
  @volatile var submitNs: Long = 0L
  @volatile var firstLaunchMs: Long = Long.MaxValue
  @volatile var submitMs: Long = 0L
  @volatile var endNs: Long = 0L
  @volatile var jobId: Int = -1
  val taskMs = new AtomicLong(); val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
  val tasks = new AtomicLong(); val failed = new AtomicLong(); val shuffleBytes = new AtomicLong()
  val inputRecords = new AtomicLong()
  /** `parquet at StagedExport.scala:41` → `StagedExport.scala`. */
  def callSiteFile: String = name.split(" at ").lastOption.map(_.split(':').head.trim).getOrElse(name)
}

final class JobFacts(val jobId: Int, val startNs: Long, val span: Long, val execution: Long) {
  @volatile var endNs: Long = 0L
}

/** Collects job, stage, task and SQL-execution facts for the traced run. */
final class StageListener extends SparkListener {
  val stages = new ConcurrentHashMap[Int, StageFacts]()
  val jobs = new ConcurrentHashMap[Int, JobFacts]()
  /** SQL execution id → output path of a write command, when it is one. */
  val writePaths = new ConcurrentHashMap[Long, String]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val Command = "InsertIntoHadoopFsRelationCommand"
  private val Uri = """(?:file|hdfs|s3a|gs|abfss?):/[^,\s\]]+""".r

  /** The first URI after the last mention of the write command: its output
    * path (the formatted plan lists the command's arguments after its
    * children, whose scan locations come first). */
  private def writePath(plan: String): Option[String] = {
    val at = plan.lastIndexOf(Command)
    if (at < 0) None else Uri.findFirstIn(plan.substring(at))
  }

  private def facts(info: StageInfo): StageFacts =
    stages.computeIfAbsent(info.stageId, _ => new StageFacts(info.stageId, info.name, info.numTasks))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = new JobFacts(e.jobId, System.nanoTime(),
      prop("perfbench.span").map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val f = facts(e.stageInfo)
    f.submitNs = System.nanoTime()
    f.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    f.jobId = Option(stageToJob.get(e.stageInfo.stageId)).map(_.intValue).getOrElse(-1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    facts(e.stageInfo).endNs = System.nanoTime()
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stages.get(e.stageId)).foreach(f => synchronized {
      f.firstLaunchMs = math.min(f.firstLaunchMs, e.taskInfo.launchTime)
    })
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val f = stages.computeIfAbsent(e.stageId, id => new StageFacts(id, "unknown", 0))
    f.tasks.incrementAndGet()
    if (!e.taskInfo.successful) f.failed.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      f.taskMs.addAndGet(m.executorRunTime)
      f.cpuNs.addAndGet(m.executorCpuTime)
      f.gcMs.addAndGet(m.jvmGCTime)
      f.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      f.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      writePath(s.physicalPlanDescription).foreach(writePaths.put(s.executionId, _))
    case _ => ()
  }

  def stageList: Seq[StageFacts] = stages.values().asScala.toSeq.sortBy(_.stageId)
  def jobList: Seq[JobFacts] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def jobOf(s: StageFacts): Option[JobFacts] = Option(jobs.get(s.jobId))

  def reset(): Unit = { stages.clear(); jobs.clear(); writePaths.clear(); stageToJob.clear() }
}
