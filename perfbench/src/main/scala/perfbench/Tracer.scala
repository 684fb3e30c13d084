package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds (fractional),
  * the clock Spark's listener events use. `parent` is 0 at the root. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Spark job: `spanProp` is the span id the submitting thread had open
  * (-1 if none), `stageIds` every stage the job's DAG lists. */
final case class Job(id: Int, start: Double, end: Double, desc: String,
                     spanProp: Int, stageIds: Seq[Int]) {
  def interval: (Double, Double) = (start, end)
}

/** One stage that actually ran (was submitted). */
final case class Stage(id: Int, submitted: Double)

/** One finished task with its executor metrics. */
final case class Task(stageId: Int, launch: Double, finish: Double,
                      runMs: Double, cpuMs: Double, gcMs: Double,
                      shuffleWrite: Long, shuffleRead: Long, spill: Long,
                      resultBytes: Long) {
  def dur: Double = finish - launch
}

/** Resource counts of a set of jobs. */
final case class Usage(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
                       gcS: Double, shuffleWrite: Long, spill: Long)

/** Everything one traced pass recorded, with the attribution rules. */
final case class Trace(spans: Seq[Span], jobs: Seq[Job], stages: Seq[Stage],
                       tasks: Seq[Task]) {
  /** Owning span of every job (jobs no span covers are left out). */
  lazy val jobSpan: Map[Int, Int] =
    jobs.flatMap(j => Trace.attribute(spans, j).map(j.id -> _)).toMap

  /** Owning job of every stage that ran: of the jobs listing the stage,
    * the latest one started by the time it was submitted. */
  lazy val stageJob: Map[Int, Int] = stages.flatMap { st =>
    jobs.filter(j => j.stageIds.contains(st.id) && j.start <= st.submitted + Trace.TolMs)
      .sortBy(_.start).lastOption.map(j => st.id -> j.id)
  }.toMap

  private lazy val children: Map[Int, Seq[Int]] =
    spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id) }

  /** The span and all spans opened under it. */
  def subtree(id: Int): Set[Int] =
    Set(id) ++ children.getOrElse(id, Nil).flatMap(subtree)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Jobs attributed to `span` or to any span under it. */
  def jobsUnder(span: Span): Seq[Job] = {
    val ids = subtree(span.id)
    jobs.filter(j => jobSpan.get(j.id).exists(ids))
  }

  def tasksOf(js: Seq[Job]): Seq[Task] = {
    val ids = js.map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(ids))
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.map(_.id).toSet
    stages.filter(s => stageJob.get(s.id).exists(ids))
  }

  def usage(js: Seq[Job]): Usage = {
    val ts = tasksOf(js)
    Usage(js.size, stagesOf(js).size, ts.size, ts.map(_.cpuMs).sum / 1e3,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum)
  }

  /** Wall time inside `span` that none of its jobs covers. */
  def driverGapMs(span: Span): Double =
    Stats.uncovered((span.start, span.end), jobsUnder(span).map(_.interval))

  def json: String = {
    def q(s: String) = "\"" + Option(s).getOrElse("").replace("\\", "\\\\")
      .replace("\"", "\\\"").replace("\n", " ") + "\""
    val sp = spans.map(s => s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"start":${s.start},"end":${s.end}}""")
    val jb = jobs.map(j => s"""{"id":${j.id},"start":${j.start},"end":${j.end},"desc":${q(j.desc)},"span":${jobSpan.getOrElse(j.id, 0)},"stages":[${j.stageIds.mkString(",")}]}""")
    val st = stages.map(s => s"""{"id":${s.id},"submitted":${s.submitted},"job":${stageJob.getOrElse(s.id, -1)}}""")
    val tk = tasks.map(t => s"""{"stage":${t.stageId},"launch":${t.launch},"finish":${t.finish},"runMs":${t.runMs},"cpuMs":${t.cpuMs},"gcMs":${t.gcMs},"shuffleWrite":${t.shuffleWrite},"shuffleRead":${t.shuffleRead},"spill":${t.spill},"resultBytes":${t.resultBytes}}""")
    s"""{"spans":[${sp.mkString(",\n")}],\n"jobs":[${jb.mkString(",\n")}],\n"stages":[${st.mkString(",\n")}],\n"tasks":[${tk.mkString(",\n")}]}\n"""
  }
}

object Trace {
  /** Listener event times are whole milliseconds; span times are not. */
  val TolMs = 1.0

  /** The span a job belongs to. The span id the submitting thread had
    * open wins while that span is still open at the job's start; a job
    * from a thread whose id is stale or absent (a pool thread that
    * inherited the property of an earlier span) goes to the latest-started
    * span open at its start. */
  def attribute(spans: Seq[Span], job: Job): Option[Int] = {
    def open(s: Span) = s.start <= job.start + TolMs && job.start <= s.end + TolMs
    spans.find(s => s.id == job.spanProp && open(s)).map(_.id)
      .orElse(spans.filter(open).sortBy(s => (s.start, s.id)).lastOption.map(_.id))
  }
}

/** Benchmark-side tracer: spans around calls into the engine's public
  * API, and a SparkListener whose jobs, stages and tasks are attributed to
  * the span open when they ran. Everything stays in memory until
  * `stop`. */
final class Tracer(sc: SparkContext) {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  private def now(): Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var enabled = false

  /** Time `body` as a span named `name`, child of the span open on this
    * thread. A no-op wrapper while the tracer is disabled. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get
      val start = now()
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      try body
      finally {
        spans.add(Span(id, name, stack.headOption.getOrElse(0), start, now()))
        open.set(stack)
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  /** The spans open on this thread, to hand to a worker thread. */
  def context: List[Int] = open.get

  /** Run `body` with `spans` open, on a worker thread. */
  def adopt[T](spans: List[Int])(body: => T): T = {
    open.set(spans)
    try body finally open.set(Nil)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).orNull
      val sp = p.flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(-1)
      jobStarts.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, desc, sp,
        e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.add(Stage(e.stageInfo.stageId,
        e.stageInfo.submissionTime.map(_.toDouble).getOrElse(now())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize))
    }
  }

  /** Start recording: spans open and the listener attaches. */
  def start(): Unit = { sc.addSparkListener(listener); enabled = true }

  /** Stop recording, wait until every posted event reached the listener,
    * and return what was recorded. */
  def stop(): Trace = {
    enabled = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    Trace(spans.asScala.toSeq.sortBy(_.id), jobs.asScala.toSeq.sortBy(_.id),
      stages.asScala.toSeq.sortBy(_.id), tasks.asScala.toSeq)
  }
}

object Tracer {
  /** Spark local property carrying the open span's id into job events. */
  val Prop = "perfbench.span"
}
