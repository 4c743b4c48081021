package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.actors.{Actor, MergeStrategy}
import graft.llm.LlmClient

/** One recorded span: a call the benchmark made into a layer. */
final case class Span(id: Long, layer: String, name: String,
    startNs: Long, endNs: Long, parent: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest per thread; while a span is open
  * its id is the Spark local property [[Tracer.Prop]], which threads
  * started inside it inherit, so the jobs a call submits are charged to
  * its span. A disabled tracer runs the body and records nothing.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def apply[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val saved = sc.getLocalProperty(Tracer.Prop)
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, layer, name, t0, System.nanoTime(),
          stack.headOption.getOrElse(0L)))
        sc.setLocalProperty(Tracer.Prop, saved)
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
  def clear(): Unit = done.clear()
}

object Tracer {
  val Prop = "perfbench.span"
}

/** What the listener keeps per job, stage and task. Times are epoch ms
  * (Spark's clock); spans are converted with [[Ledger.nsToMs]].
  */
final case class JobRec(jobId: Int, span: Option[Long], group: String,
    execId: Option[Long], submitMs: Long, stageIds: Seq[Int],
    sourceFile: Option[String])
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, input: Long, spill: Long)

/** Spark listener that records jobs, stages and tasks as they finish,
  * so layer counters are read from outside the program.
  */
final class Ledger extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobEndMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val execSource =
    new java.util.concurrent.ConcurrentHashMap[Long, String]()
  // wall-clock anchor to compare span nanoTime with listener epoch ms
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nsToMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      Ledger.sourceFile(e.details).foreach(execSource.put(e.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong)
    val own = e.stageInfos.sortBy(_.stageId).lastOption
      .flatMap(s => Ledger.sourceFile(s.details))
    jobs.add(JobRec(e.jobId, prop(Tracer.Prop).map(_.toLong),
      prop("spark.jobGroup.id").getOrElse(""), execId, e.time,
      e.stageIds, own.orElse(execId.flatMap(i => Option(execSource.get(i))))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEndMs.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null)
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def clear(): Unit = { jobs.clear(); tasks.clear(); jobEndMs.clear() }
}

object Ledger {
  /** Source file of the first program frame (package `graft`, skipping
    * `CacheBin`, whose eager pins run on behalf of their caller) in a
    * Spark call-site stack; a job submitted by the benchmark itself, such
    * as the terminal write, is `perfbench`.
    */
  private val Frame = """\b(graft|perfbench)\.[\w.$]+\(([A-Za-z]\w*)\.scala:\d+\)""".r
  def sourceFile(details: String): Option[String] =
    Option(details).flatMap { d =>
      val frames = Frame.findAllMatchIn(d).map(m => (m.group(1), m.group(2))).toSeq
      frames.collectFirst { case ("graft", f) if f != "CacheBin" => f }
        .orElse(frames.collectFirst { case ("perfbench", _) => "perfbench" })
    }
}

/** Per-layer roll-up of spans joined with the listener's records. */
final class Rollup(spans: Seq[Span], ledger: Ledger) {
  private val jobs = ledger.jobs.asScala.toSeq
  // jobs without the span property (AQE and broadcast jobs run on
  // Spark's own threads) inherit the span of their SQL execution
  private val execSpan: Map[Long, Long] = jobs.flatMap(j =>
    for (e <- j.execId; s <- j.span) yield e -> s).toMap
  private def spanOf(j: JobRec): Option[Long] =
    j.span.orElse(j.execId.flatMap(execSpan.get))
  private val stageJob: Map[Int, JobRec] =
    jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
  private val tasks = ledger.tasks.asScala.toSeq

  def spansOf(layer: String, name: String = null): Seq[Span] =
    spans.filter(s => s.layer == layer && (name == null || s.name == name))

  def jobsIn(ss: Seq[Span]): Seq[JobRec] = {
    val ids = ss.map(_.id).toSet
    jobs.filter(j => spanOf(j).exists(ids.contains))
  }

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.map(_.jobId).toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(j => ids.contains(j.jobId)))
  }

  def jobsInGroups(prefix: String): Seq[JobRec] =
    jobs.filter(_.group.startsWith(prefix))

  /** Stages of these jobs that ran at least one task (skipped stages,
    * whose output was reused, do not count).
    */
  def stages(js: Seq[JobRec]): Int = tasksOf(js).map(_.stageId).distinct.size

  /** Span wall not covered by any running task of the span's own jobs,
    * summed over the spans: time the driver spent planning, waiting on
    * scheduling, collecting or computing outside Spark tasks.
    */
  def driverSeconds(ss: Seq[Span]): Double = ss.map { s =>
    val lo = ledger.nsToMs(s.startNs)
    val hi = ledger.nsToMs(s.endNs)
    val iv = tasksOf(jobsIn(Seq(s)))
      .map(t => (math.max(lo, t.launchMs.toDouble), math.min(hi, t.finishMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo) - covered) / 1000.0
  }.sum

  /** Source file that submitted each job, counted. */
  def jobsBySource(js: Seq[JobRec]): Map[String, Int] =
    js.groupBy(_.sourceFile.getOrElse("unknown")).map { case (k, v) => k -> v.size }
}

/** Benchmark-owned LLM client: counts calls and time around the mock,
  * and separately counts SQL-generation prompts so the serve batch memo
  * hit share can be read from outside.
  */
final class CountingLlm(inner: LlmClient) extends LlmClient {
  val calls = new AtomicLong()
  val generateCalls = new AtomicLong()
  val busyNs = new AtomicLong()
  @volatile var counting = false
  def complete(prompt: String): String = {
    val t0 = System.nanoTime()
    val out = inner.complete(prompt)
    if (counting) {
      busyNs.addAndGet(System.nanoTime() - t0)
      calls.incrementAndGet()
      if (prompt.startsWith("Write one SQL query")) generateCalls.incrementAndGet()
    }
    out
  }
}

/** Wraps one pipeline actor so each `act` is a span. Name, output and
  * merge strategy pass through, so merging is unchanged.
  */
final case class TracedActor(inner: Actor, layerName: String,
    tracer: Tracer) extends Actor {
  def name: String = inner.name
  override def outputName: String = inner.outputName
  override def strategy: MergeStrategy = inner.strategy
  override def skill: String = inner.skill
  def act(ds: DataFrame): DataFrame = tracer("actors", layerName)(inner.act(ds))
}

/** JVM-wide gauges read from the management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0
  /** Live heap: heap in use right after a full collection. */
  def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def flags: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments
    .asScala.toSeq.filterNot(_.startsWith("--add-opens"))
}
