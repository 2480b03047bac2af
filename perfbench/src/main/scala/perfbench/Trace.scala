package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the run, on the
  * same base as the millisecond times in Spark's listener events. */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000
}

/** One span of the traced run. All spans of one entry run share its
  * trace id; `parent` is 0 for the entry span. Times in epoch µs. */
final case class Span(trace: String, id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** One entry run as the harness timed it: frame is [t0, t1), sink is
  * [t1, t2). `analysisUs` is the analysis phase of the frame the entry
  * returned, which no execution reports because the sink re-plans it. */
final case class EntryRun(trace: String, entry: String, t0: Long, t1: Long, t2: Long,
                          analysisUs: Long)

/** Layer attribution for the traced run, built only from Spark's
  * public listener interfaces. The harness tags every entry run's jobs
  * with `setJobGroup(trace)`; streaming queries started during an entry
  * run (whose jobs carry the query's run id as group) are mapped to it
  * when they start. Events are kept in memory and turned into spans and
  * per-layer sums by [[summarize]] once the entry run has drained. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val catalog =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog

  /** Trace id of the entry run in progress, set by the harness thread. */
  @volatile private var current: String = null
  private val lock = new Object
  private val groupTrace = mutable.Map[String, String]()
  private val jobGroup = mutable.Map[Int, String]()

  private final class Exec(val trace: String, val id: Long, val root: Long, val stream: Boolean,
                           val start: Long) {
    var end: Long = -1
  }
  private final class Job(val trace: String, val id: Int, val exec: Long, val stream: Boolean,
                          val start: Long) {
    var end: Long = -1
  }
  private val execs = mutable.Map[Long, Exec]()
  private val phases = mutable.Map[Long, Map[String, Long]]()
  private var pendingPhases: Option[Map[String, Long]] = None
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stages = ArrayBuffer[(Int, Int, Long, Long)]() // stage, job, start, end
  private val others = ArrayBuffer[Span]() // metastore calls and streaming batches
  private val streams = mutable.Map[String, mutable.Set[String]]() // trace -> run ids
  private val terminated = mutable.Set[String]()
  private val sums = mutable.Map[String, mutable.Map[String, Double]]()
  private var fencesDone = 0L
  private var fencesPosted = 0L

  private val FenceGroup = "perfbench-fence"

  private def add(trace: String, key: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(trace, mutable.Map[String, Double]())
    m(key) = m.getOrElse(key, 0.0) + v
  }
  private def traceOf(group: String): Option[String] =
    Option(group).flatMap(groupTrace.get)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
      jobGroup(e.jobId) = group
      traceOf(group).foreach { t =>
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobs(e.jobId) = new Job(t, e.jobId, exec, group != t, e.time * 1000)
        e.stageIds.foreach(stageJob(_) = e.jobId)
        add(t, "sched.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (jobGroup.remove(e.jobId).contains(FenceGroup)) fencesDone += 1
      jobs.get(e.jobId).foreach(_.end = e.time * 1000)
      lock.notifyAll()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      for (j <- stageJob.get(si.stageId); job <- jobs.get(j)) {
        val start = si.submissionTime.map(_ * 1000).getOrElse(job.start)
        val end = si.completionTime.map(_ * 1000).getOrElse(start)
        stages += ((si.stageId, j, start, end))
        add(job.trace, "sched.stages", 1)
        if (si.numTasks == 1) add(job.trace, "sched.one_task_stages", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
        val t = job.trace
        val info = e.taskInfo
        add(t, "sched.tasks", 1)
        if (info.failed || info.killed) add(t, "sched.failed_tasks", 1)
        stageSubmit.get(e.stageId).foreach(s =>
          add(t, "sched.task_wait_s", math.max(0L, info.launchTime * 1000 - s) / 1e6))
        Option(e.taskMetrics).foreach { m =>
          add(t, "exec.run_s", m.executorRunTime / 1e3)
          add(t, "exec.cpu_s", m.executorCpuTime / 1e9)
          add(t, "exec.gc_s", m.jvmGCTime / 1e3)
          add(t, "scan.bytes", m.inputMetrics.bytesRead.toDouble)
          add(t, "scan.rows", m.inputMetrics.recordsRead.toDouble)
          add(t, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(t, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(t, "spill.bytes", m.diskBytesSpilled.toDouble)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        traceOf(s.jobGroupId.orNull).foreach { t =>
          execs(s.executionId) = new Exec(t, s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), !s.jobGroupId.contains(t), s.time * 1000)
          add(t, "catalyst.execs", 1)
        }
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        execs.get(s.executionId).foreach { x =>
          x.end = s.time * 1000
          pendingPhases.foreach(phases(x.id) = _)
        }
        pendingPhases = None
        lock.notifyAll()
      }
      case _ =>
    }
  }

  /** The session's execution listeners run inside the dispatch of an
    * execution's end event on the shared listener queue, before this
    * tracer's own handler of that event (they were registered first), so
    * the phases they see belong to the next execution end handled above. */
  private val executionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      pendingPhases = Some(qe.tracker.phases.map { case (k, p) => k -> p.durationMs })
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // posted on the query's thread while the entry's start() waits for it
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val t = current
      if (t != null) lock.synchronized {
        groupTrace(e.runId.toString) = t
        streams.getOrElseUpdate(t, mutable.Set[String]()) += e.runId.toString
      }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      traceOf(p.runId.toString).foreach { t =>
        val start = java.time.Instant.parse(p.timestamp)
        val startUs = start.getEpochSecond * 1000000 + start.getNano / 1000
        val durMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        others += Span(t, 0, 0, "batch", s"batch ${p.batchId}", startUs, startUs + durMs * 1000)
        add(t, "stream.batches", 1)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = lock.synchronized {
      terminated += e.runId.toString
      lock.notifyAll()
    }
  }

  // metastore calls post a pre event and a post event on the calling thread
  private val pending = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val catalogListener = new ExternalCatalogEventListener {
    override def onEvent(e: ExternalCatalogEvent): Unit = {
      val name = e.getClass.getSimpleName
      if (name.endsWith("PreEvent")) pending.set(Clock.nowUs :: pending.get)
      else pending.get match {
        case start :: rest =>
          pending.set(rest)
          val t = current
          if (t != null) lock.synchronized {
            others += Span(t, 0, 0, "metastore", name, start, Clock.nowUs)
            add(t, "metastore.ddl_ops", 1)
          }
        case Nil =>
      }
    }
  }

  def attach(): Unit = {
    // the session's execution listener manager, and with it its bus on
    // the shared listener queue, is created on first use: register first
    // so that the bus runs before this tracer's own listener
    spark.listenerManager.register(executionListener)
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    catalog.addListener(catalogListener)
  }

  def detach(): Unit = {
    catalog.removeListener(catalogListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(executionListener)
    sc.removeSparkListener(sparkListener)
  }

  def begin(trace: String): Unit = {
    lock.synchronized(groupTrace(trace) = trace)
    current = trace
  }

  /** Closes an entry run once every event it caused has been delivered:
    * a one-task fence job runs after the entry, so its end event reaches
    * the listener after every earlier job, stage, task and execution
    * event of the shared listener queue (which also carries the
    * execution listener's callbacks); then every streaming query the
    * entry started must have terminated, and every job it started must
    * have ended. Returns the number of waits that timed out. */
  def end(trace: String): Int = {
    current = null
    val target = lock.synchronized { fencesPosted += 1; fencesPosted }
    sc.setJobGroup(FenceGroup, "trace fence")
    sc.parallelize(Seq(0), 1).count()
    def await(done: => Boolean): Int = lock.synchronized {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!done && System.nanoTime() < deadline) lock.wait(20)
      if (done) 0 else 1
    }
    await(fencesDone >= target) +
      await(streams.getOrElse(trace, Nil).forall(terminated.contains)) +
      await(jobs.values.forall(j => j.trace != trace || j.end >= 0))
  }

  /** Spans and per-layer sums of one drained entry run. The tree is
    * entry -> frame | sink -> execution -> job -> stage; metastore calls
    * and streaming batches hang under frame or sink by start time, and a
    * streaming job under the batch it ran in. */
  def summarize(r: EntryRun): (Seq[Span], Map[String, Double]) = lock.synchronized {
    val t = r.trace
    val wall = r.t2 - r.t0
    var nextId = 3L
    def newId(): Long = { nextId += 1; nextId }
    def under(start: Long): Long = if (start < r.t1) 2L else 3L
    val base = Seq(
      Span(t, 1, 0, "entry", r.entry, r.t0, r.t2),
      Span(t, 2, 1, "frame", r.entry, r.t0, r.t1),
      Span(t, 3, 1, "sink", r.entry, r.t1, r.t2))

    val myExecs = execs.values.filter(_.trace == t).toSeq.sortBy(_.id)
    val execId = myExecs.map(x => x.id -> newId()).toMap
    val extra = others.filter(_.trace == t).toSeq.map { s =>
      s.copy(id = newId(), parent = under(s.start))
    }
    val batches = extra.filter(_.kind == "batch")
    def batchAt(stream: Boolean, start: Long): Option[Long] =
      if (stream) batches.find(b => b.start <= start && start <= b.end).map(_.id) else None
    val execSpans = myExecs.map { x =>
      val parent = (if (x.root != x.id) execId.get(x.root) else None)
        .orElse(batchAt(x.stream, x.start))
      Span(t, execId(x.id), parent.getOrElse(under(x.start)), "exec", s"execution ${x.id}",
        x.start, if (x.end >= 0) x.end else r.t2)
    }
    val myJobs = jobs.values.filter(_.trace == t).toSeq.sortBy(_.id)
    val jobId = myJobs.map(j => j.id -> newId()).toMap
    val jobSpans = myJobs.map { j =>
      val parent = execId.get(j.exec).orElse(batchAt(j.stream, j.start))
      Span(t, jobId(j.id), parent.getOrElse(under(j.start)), "job", s"job ${j.id}",
        j.start, if (j.end >= 0) j.end else r.t2)
    }
    val stageSpans = stages.toSeq.collect { case (s, j, a, b) if jobId.contains(j) =>
      Span(t, newId(), jobId(j), "stage", s"stage $s", a, b)
    }
    val spans = base ++ execSpans ++ extra ++ jobSpans ++ stageSpans

    val self = Stats.selfTimes(spans.map(s => Stats.Node(s.id, s.parent, s.start, s.end)))
    val m = mutable.Map[String, Double]() ++ sums.getOrElse(t, Map.empty)
    val jobIv = jobSpans.map(s => (s.start, s.end))
    val batchIv = batches.map(s => (s.start, s.end))
    m("entry.frame_s") = (r.t1 - r.t0) / 1e6
    m("entry.sink_s") = (r.t2 - r.t1) / 1e6
    m("entry.wall_s") = wall / 1e6
    m("sched.driver_gap_s") = (wall - Stats.covered(jobIv, r.t0, r.t2)) / 1e6
    m("metastore.ddl_s") = extra.filter(_.kind == "metastore").map(s => s.end - s.start).sum / 1e6
    m("stream.trigger_s") = batchIv.map { case (a, b) => b - a }.sum / 1e6
    m("stream.idle_s") =
      if (streams.contains(t)) (wall - Stats.covered(batchIv, r.t0, r.t2)) / 1e6 else 0.0
    val ph = myExecs.flatMap(x => phases.get(x.id))
    m("catalyst.analysis_s") = (ph.map(_.getOrElse("analysis", 0L)).sum * 1000 + r.analysisUs) / 1e6
    m("catalyst.optimizer_s") = ph.map(_.getOrElse("optimization", 0L)).sum / 1e3
    m("catalyst.planning_s") = ph.map(_.getOrElse("planning", 0L)).sum / 1e3
    m("trace.self_s") = self.values.sum / 1e6
    spans.groupBy(_.kind).foreach { case (k, ss) => m(s"self.${k}_s") = ss.map(s => self(s.id)).sum / 1e6 }
    // frame and sink split the entry's window by construction; jobs
    // attributed to it must lie inside that window (2 ms of slack for
    // the millisecond event clock) for job-covered time plus the driver
    // gap to be its wall time
    m("check.jobs_outside") = myJobs.count(j => j.start < r.t0 - 2000 || j.end > r.t2 + 2000).toDouble
    // executions of other sessions (a streaming query runs its batches
    // in a clone of the session) report no planning phases
    val missing = myExecs.count(x => x.end >= 0 && !phases.contains(x.id))
    m("check.missing_phases") = missing.toDouble
    if (missing > 0) m(s"check.missing_phases.${r.entry}") = missing.toDouble
    (spans, m.toMap)
  }
}
