package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation as the benchmark saw it from outside. Times are
  * epoch milliseconds (the clock Spark's listener events use) plus a
  * nanosecond duration for the op itself. */
final case class OpRec(
    round: Int,
    name: String,
    kind: String,
    module: String,
    startMs: Long,
    composeEndMs: Long,
    endMs: Long,
    secs: Double,
    composeSecs: Double,
    ok: Boolean,
    traced: Boolean,
    fsReads: Long = 0,
    fsLists: Long = 0,
    fsWrites: Long = 0,
    bytesWritten: Long = 0,
    filesAdded: Long = 0,
    rowsChanged: Long = -1,
    composeAnalyzeMs: Long = 0)

/** The benchmark's own instrumentation: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for Catalyst's phase tracker.
  * It only records; attribution to ops and layers happens in [[summarize]]
  * after the listener bus is drained. Registered on traced runs only. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val submitted = mutable.Set.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phases]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the stage details carry the long call site: the full driver stack
    // of the thread that ran the action
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, e.taskInfo.duration,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    phases += Phases(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Trace {

  final case class Job(id: Int, startMs: Long, stages: Seq[Int], site: String) {
    var endMs: Long = startMs
  }
  final case class Task(stage: Int, runMs: Long, durMs: Long, inBytes: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Phases(startMs: Long, analyzeMs: Long, optimizeMs: Long, planMs: Long)

  /** ETL module a job belongs to: the innermost `graft.etl` frame of the
    * stack that submitted it. */
  def etlModule(site: String): Option[String] =
    site.linesIterator.collectFirst {
      case l if l.contains("graft.etl.") =>
        l.trim.stripPrefix("graft.etl.").takeWhile(c => c != '$' && c != '.')
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of `[start, end]` intervals clipped to `[lo, hi]`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.map { case (s, e) => (s max lo, e min hi) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = curE max e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer metrics over the traced rounds. Sums are per traced round;
    * ratios are over all traced work; the ETL layers are per fixture build
    * (the pipeline runs in set-up), except the checks, which a query runs. */
  def summarize(t: Trace, ops: Seq[OpRec], fixture: Seq[OpRec], builds: Int,
      cores: Int, gcSecs: Double, manifestKinds: Seq[String],
      manifestWrites: Set[String], operatorModules: Seq[String])
      : Map[String, Double] = t.synchronized {
    val traced = ops.filter(_.traced)
    val rounds = traced.map(_.round).distinct.size max 1
    val out = mutable.LinkedHashMap.empty[String, Double]
    def perRound(x: Double) = x / rounds
    val mb = 1024.0 * 1024.0

    def jobsIn(lo: Long, hi: Long) = t.jobs.values.filter(j => j.startMs >= lo && j.startMs <= hi)
    val opOfJob = mutable.Map.empty[Int, OpRec]
    (fixture.filter(_.traced) ++ traced).foreach(o => jobsIn(o.startMs, o.endMs).foreach(j => opOfJob(j.id) = o))
    val stageOp = mutable.Map.empty[Int, OpRec]
    val stageJob = mutable.Map.empty[Int, Job]
    t.jobs.values.foreach { j =>
      opOfJob.get(j.id).foreach(o => j.stages.foreach(s => stageOp(s) = o))
      j.stages.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
    val fTasks = t.tasks.filter(k => stageOp.get(k.stage).exists(_.round < 0))
    val tTasks = t.tasks.filter(k => stageOp.get(k.stage).exists(_.round >= 0))
    def taskSecs(ts: Iterable[Task]) = ts.iterator.map(_.runMs).sum / 1000.0

    // composition: the part of each op before its result frame existed
    out("SparkEntry.compose_s") = perRound(traced.map(_.composeSecs).sum)
    out("SparkEntry.compose_jobs") =
      perRound(traced.map(o => jobsIn(o.startMs, o.composeEndMs).size).sum)

    val inOps = t.phases.filter(p => traced.exists(o => p.startMs >= o.startMs && p.startMs <= o.endMs))
    out("catalyst.analyze_s") =
      perRound((inOps.map(_.analyzeMs).sum + traced.map(_.composeAnalyzeMs).sum) / 1000.0)
    out("catalyst.optimize_s") = perRound(inOps.map(_.optimizeMs).sum / 1000.0)
    out("catalyst.plan_s") = perRound(inOps.map(_.planMs).sum / 1000.0)

    val wall = traced.map(_.secs).sum
    out("exec.task_s") = perRound(taskSecs(tTasks))
    out("exec.cpu_busy_ratio") = if (wall > 0) taskSecs(tTasks) / (wall * cores) else 0.0
    out("exec.scan_mb") = perRound(tTasks.map(_.inBytes).sum / mb)
    out("exec.shuffle_read_mb") = perRound(tTasks.map(_.shuffleRead).sum / mb)
    out("exec.shuffle_write_mb") = perRound(tTasks.map(_.shuffleWrite).sum / mb)
    out("exec.spill_mb") = perRound(tTasks.map(_.spill).sum / mb)
    out("exec.gc_s") = perRound(gcSecs)
    val skews = tTasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs.toDouble)
      d.max / math.max(median(d.toSeq), 1.0)
    }
    out("exec.task_skew") = median(skews.toSeq)
    val tJobs = t.jobs.values.filter(j => opOfJob.get(j.id).exists(_.round >= 0))
    val allStages = tJobs.flatMap(_.stages).toSeq
    out("exec.skipped_stage_ratio") =
      if (allStages.isEmpty) 0.0 else allStages.count(s => !t.submitted(s)).toDouble / allStages.size

    // ETL modules by the call site that ran each stage's job
    def perBuild(x: Double) = x / (builds max 1)
    for (m <- Seq("Staging", "Clean", "Transform", "Warehouse", "Pipeline"))
      out(s"etl.$m.task_s") = perBuild(taskSecs(fTasks.filter(k =>
        stageJob.get(k.stage).flatMap(j => etlModule(j.site)).contains(m))))
    out("etl.Warehouse.apply_s") =
      perBuild(fixture.filter(_.name == "Warehouse.apply").map(_.secs).sum)
    out("etl.Transform.writeWarehouse_s") =
      perBuild(fixture.filter(_.name == "Transform.writeWarehouse").map(_.secs).sum)
    // the q_checks query is Pipeline.checks over the cached warehouse
    out("etl.Pipeline.checks_s") = perRound(traced.filter(_.name == "q_checks").map(_.secs).sum)

    // table format: per op type, averaged over the ops of that type
    val jobIv = t.jobs.values.map(j => (j.startMs, j.endMs)).toSeq
    for (k <- manifestKinds) {
      val os = traced.filter(o => o.module == "Manifests" && o.name == k)
      def avg(f: OpRec => Double) = if (os.isEmpty) 0.0 else os.map(f).sum / os.size
      out(s"manifest.$k.driver_only_s") =
        avg(o => (o.endMs - o.startMs - covered(jobIv, o.startMs, o.endMs)) / 1000.0)
      out(s"manifest.$k.fs_read_ops") = avg(_.fsReads.toDouble)
      out(s"manifest.$k.fs_list_ops") = avg(_.fsLists.toDouble)
      out(s"manifest.$k.fs_write_ops") = avg(_.fsWrites.toDouble)
      if (manifestWrites(k)) {
        out(s"manifest.$k.bytes_written_mb") = avg(_.bytesWritten / mb)
        out(s"manifest.$k.files_added") = avg(_.filesAdded.toDouble)
      }
    }

    // corpus operators by the module that implements them
    for (m <- operatorModules) {
      val os = traced.filter(_.module == m)
      val st = tTasks.filter(k => stageOp.get(k.stage).exists(_.module == m))
      out(s"operators.$m.op_s") = perRound(os.map(_.secs).sum)
      out(s"operators.$m.task_s") = perRound(taskSecs(st))
    }
    out.toMap
  }
}
