package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Epoch milliseconds with sub-millisecond resolution. Spark's listener
  * events carry epoch ms; harness spans need nanoTime precision on the same
  * axis so that a job can be placed inside the call that started it. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One span: `name` is the layer boundary (`op`, `SparkEntry.build`,
  * `io.write`, `pipelines.<call>`, `ops.Shared.<part>`, and after the run
  * `exec.job`, `catalyst.<phase>`, `streaming.batch`); `op` is the id shared
  * by every span of one operation. */
final case class Span(id: Int, op: Int, pass: Int, name: String,
    label: String, start: Double, end: Double, parent: Int) {
  def dur: Double = end - start
  def contains(t: Double): Boolean = t >= start && t <= end
  def layer: String = name match {
    case "SparkEntry.build" => "SparkEntry"
    case n if n.startsWith("ops.Shared.") => "ops.Shared"
    case n => n.takeWhile(_ != '.')
  }
}

/** Spans around the harness's calls into each layer. Kept in memory and
  * written out when the run ends. Disabled, `span` only runs its body. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var pass = 0
  private var nextId = 0
  private var stack: List[(Int, Int)] = Nil // (span id, op id)

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val (parent, op) = stack.headOption.getOrElse((0, id))
      stack = (id, op) :: stack
      val t0 = Clock.nowMs()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, op, pass, name, label, t0, Clock.nowMs(), parent)
      }
    }

  def newId(): Int = { nextId += 1; nextId }
}

/** Scheduler and executor counts, one record per job and per stage. */
final class ExecListener extends SparkListener {
  final class JobRec(val id: Int, val start: Double, val stageIds: Seq[Int]) {
    var end: Double = Double.NaN
    var skipped = 0
  }
  final class StageRec {
    var submitted = Double.NaN
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0.0; var cpuMs = 0.0; var schedDelayMs = 0.0; var gcMs = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.skipped = j.stageIds.count(s => !stages.get(s).exists(!_.submitted.isNaN))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec)
    if (s.submitted.isNaN)
      s.submitted = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec)
    val info = e.taskInfo
    s.tasks += 1
    if (!info.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }
}

/** (phase, start ms, end ms) per action; `fromAction` is false for the
  * analysis of a returned DataFrame that the harness reads off its own query
  * execution (no listener event covers it). */
final case class PhaseRec(phases: Seq[(String, Double, Double)], fromAction: Boolean)

/** Catalyst phase times of every action (analysis, optimization, planning). */
final class CatalystListener extends QueryExecutionListener {
  val recs = mutable.ArrayBuffer.empty[PhaseRec]

  def record(qe: QueryExecution, fromAction: Boolean): Unit = {
    val ps = qe.tracker.phases.toSeq
      .filter { case (n, _) => fromAction || n == "analysis" }
      .map { case (n, p) => (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      .sortBy(_._2)
    if (ps.nonEmpty) synchronized { recs += PhaseRec(ps, fromAction) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, fromAction = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, fromAction = true)
}

/** One micro-batch's progress: start (epoch ms) and phase times. */
final case class BatchRec(runId: String, start: Double, triggerMs: Double,
    addBatchMs: Double, planningMs: Double, walMs: Double,
    stateCommitMs: Double, stateRows: Long, stateBytes: Long)

/** Micro-batch progress of every stream query. */
final class StreamListener extends StreamingQueryListener {
  val recs = mutable.ArrayBuffer.empty[BatchRec]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val ops = p.stateOperators.toSeq
    val r = BatchRec(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      d("triggerExecution"), d("addBatch"), d("queryPlanning"),
      d("walCommit") + d("commitOffsets"), ops.map(_.commitTimeMs.toDouble).sum,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    synchronized { recs += r }
  }
}

/** The three listeners, attached only while a traced pass runs. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecListener
  val catalyst = new CatalystListener
  val stream = new StreamListener
  private var attached = false

  def attach(on: Boolean): Unit = if (on != attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(catalyst)
      spark.streams.addListener(stream)
    } else {
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(catalyst)
      spark.streams.removeListener(stream)
    }
    attached = on
  }
}

/** Per-layer metrics of one traced pass, from its harness spans and the
  * listener records that fall inside them. Every listener record is placed
  * in the innermost harness span containing its start; job, phase and
  * micro-batch records also become spans, so each layer's self time is its
  * spans' time minus the part their children cover. */
object Layers {

  private def innermost(t: Double, cands: Seq[Span]): Option[Span] = {
    var best: Span = null
    cands.foreach(s => if (s.contains(t) && (best == null || s.dur < best.dur)) best = s)
    Option(best)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Returns the pass's metrics and its derived spans (jobs, phases,
    * micro-batches) with parents assigned. */
  def ofPass(harness: Seq[Span], ls: Listeners, tracer: Tracer,
      outputBytes: Long, outputFiles: Long): (Map[String, Double], Seq[Span]) = {
    val pass = harness.headOption.map(_.pass).getOrElse(0)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val MB = 1e6

    // micro-batches first: jobs and phases may sit inside them
    val streams = ls.stream.synchronized(ls.stream.recs.toList)
      .flatMap(r => innermost(r.start, harness).map(r -> _))
    val batchSpans = streams.map { case (r, parent) =>
      Span(tracer.newId(), parent.op, pass, "streaming.batch", r.runId,
        r.start, r.start + r.triggerMs, parent.id)
    }
    val parents = harness ++ batchSpans
    val harnessById = harness.map(s => s.id -> s).toMap
    // the harness span a derived span belongs to (through a micro-batch)
    def owner(s: Span): Span =
      harnessById.getOrElse(s.parent, batchSpans.find(_.id == s.parent)
        .flatMap(b => harnessById.get(b.parent)).orNull)

    val (jobs, stages) = ls.exec.synchronized(
      (ls.exec.jobs.values.toList, ls.exec.stages.values.toList))
    val jobSpans = jobs.filterNot(_.end.isNaN).flatMap { j =>
      innermost(j.start, parents).map { p =>
        add("exec.jobs", 1); add("exec.skipped_stages", j.skipped)
        Span(tracer.newId(), p.op, pass, "exec.job", j.id.toString, j.start, j.end, p.id)
      }
    }
    stages.filterNot(_.submitted.isNaN).foreach { s =>
      innermost(s.submitted, parents).foreach { p =>
        add("exec.stages", 1); add("exec.tasks", s.tasks.toDouble)
        add("exec.failed_tasks", s.failedTasks.toDouble)
        add("exec.task_ms", s.runMs); add("exec.cpu_ms", s.cpuMs)
        add("exec.scheduler_delay_ms", s.schedDelayMs); add("exec.gc_ms", s.gcMs)
        add("exec.shuffle_read_mb", s.shuffleRead / MB)
        add("exec.shuffle_write_mb", s.shuffleWrite / MB)
        add("exec.spill_mb", s.spill / MB)
        val h = if (p.name == "streaming.batch") harnessById(p.parent) else p
        if (h.name == "SparkEntry.build") add("SparkEntry.build_tasks", s.tasks.toDouble)
      }
    }
    jobSpans.foreach { j =>
      if (owner(j) != null && owner(j).name == "SparkEntry.build") add("SparkEntry.build_jobs", 1)
    }

    val phaseSpans = ls.catalyst.synchronized(ls.catalyst.recs.toList).flatMap { r =>
      innermost(r.phases.head._2, parents).toSeq.flatMap { p =>
        if (r.fromAction) add("catalyst.actions", 1)
        r.phases.map { case (name, s, e) =>
          add(s"catalyst.${name}_ms", e - s)
          Span(tracer.newId(), p.op, pass, s"catalyst.$name", "", s, e, p.id)
        }
      }
    }

    streams.foreach { case (r, _) =>
      add("streaming.batches", 1); add("streaming.trigger_ms", r.triggerMs)
      add("streaming.add_batch_ms", r.addBatchMs); add("streaming.planning_ms", r.planningMs)
      add("streaming.wal_commit_ms", r.walMs); add("streaming.state_commit_ms", r.stateCommitMs)
    }
    // state size: each query run's last batch
    streams.groupBy(_._1.runId).values.map(_.maxBy(_._1.start)._1).foreach { r =>
      add("streaming.state_rows", r.stateRows.toDouble)
      add("streaming.state_mb", r.stateBytes / MB)
    }

    harness.foreach { s =>
      s.name match {
        case "SparkEntry.build" => add("SparkEntry.build_ms", s.dur)
        case n if n.startsWith("ops.Shared.") => add("ops.Shared.build_ms", s.dur)
        case n if n.startsWith("pipelines.") => add(s"${n}_ms", s.dur)
        case _ =>
      }
      // the write of a result, or the upsert at the end of a pipeline call:
      // its last job writes the files, the rest of the call after that job
      // commits them
      if (s.name == "io.write" || s.name.startsWith("pipelines.")) {
        val own = jobSpans.filter(j => owner(j) eq s)
        if (own.nonEmpty) {
          val last = own.maxBy(_.start)
          add("io.write_ms", last.dur)
          add("io.commit_ms", math.max(0.0, s.end - own.map(_.end).max))
        } else add("io.commit_ms", s.dur)
      }
    }
    add("io.written_mb", outputBytes / MB)
    add("io.files", outputFiles.toDouble)

    // self time per layer
    val all = harness ++ batchSpans ++ jobSpans ++ phaseSpans
    val children = all.groupBy(_.parent)
    val selfMs = mutable.LinkedHashMap.empty[String, Double]
    all.filter(s => s.name != "exec.job" && !s.name.startsWith("catalyst.")).foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      selfMs(s.layer) = selfMs.getOrElse(s.layer, 0.0) + s.dur - covered(kids, s.start, s.end)
    }
    selfMs("exec") = covered(jobSpans.map(j => (j.start, j.end)), Double.MinValue, Double.MaxValue)
    selfMs("catalyst") = covered(phaseSpans.map(j => (j.start, j.end)), Double.MinValue, Double.MaxValue)
    selfMs.foreach { case (l, v) => m(s"$l.self_ms") = v }
    (m.toMap, batchSpans ++ jobSpans ++ phaseSpans)
  }
}
