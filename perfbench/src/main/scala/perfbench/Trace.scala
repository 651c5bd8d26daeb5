package perfbench

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Per-layer tracing from Spark's own listeners.
  *
  * A `SparkListener` records jobs, stages, tasks and RDD block stores; a
  * `QueryExecutionListener` records each query execution's planning phases.
  * The trace is attached only for traced passes. Events stay in memory;
  * `closePass` drains the listener bus, turns the pass's events into
  * op → job → stage spans and per-layer figures, and clears the buffers.
  */
final class Trace(spark: SparkSession, workload: String, cores: Int) {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageDone]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val blocks = new ConcurrentHashMap[String, (Int, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, Job(e.jobId, group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.put(i.stageId, StageDone(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      if (m == null) tasks.add(Task(e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0, failed))
      else tasks.add(Task(e.stageId, e.taskInfo.duration, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        failed))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { id =>
        if (b.storageLevel.isValid)
          blocks.putIfAbsent(id.name, (id.rddId, b.memSize + b.diskSize))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        qes.add(Qe(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def listenerManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    listenerManager.register(qeListener)
  }

  private def detach(): Unit = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    listenerManager.unregister(qeListener)
  }

  /** Spans of every traced pass, one JSON object per line. */
  val spans = new StringBuilder

  /** Detaches, then returns the pass's per-layer figures. `gcS` is the JVM's
    * GC time during the pass, `tsvBytes` the pass's TSV input size (0 when
    * it reads none). */
  def closePass(ops: Seq[OpClock], gcS: Double, tsvBytes: Long): Map[String, Double] = {
    detach()
    val jobList = jobs.values.asScala.toSeq.sortBy(_.id)
    val taskList = tasks.asScala.toSeq
    val tasksByStage = taskList.groupBy(_.stage)
    val qeList = qes.asScala.toSeq
    val byId = ops.map(o => o.id -> o).toMap
    // A stage listed by several jobs ran (and is counted) in the first one;
    // later jobs list it as skipped.
    val owner: Map[Int, Int] = jobList.flatMap(j => j.stageIds.map(_ -> j.id))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    def ran(j: Job): Seq[Int] = j.stageIds.filter(owner(_) == j.id)

    def opOf(j: Job): Option[OpClock] =
      Option(j.group).map(_.stripPrefix(s"$workload/")).flatMap(byId.get)
        .orElse(ops.find(o => j.start >= o.startMs && j.start <= o.endMs))
    def kindAt(o: OpClock, t: Long): String =
      o.segments.find { case (_, s, e) => t >= s && t <= e }
        .orElse(o.segments.filter(_._2 <= t).lastOption)
        .map(_._1).getOrElse("build")
    val jobsOf: Map[String, Seq[(Job, String)]] = jobList.flatMap { j =>
      opOf(j).map(o => o.id -> (j, kindAt(o, j.start)))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    final case class OpFig(op: OpClock, buildJobs: Int, execJobs: Int, stages: Int,
        tasks: Int, taskS: Double, execTaskS: Double, skew: Double, driverOnlyS: Double,
        planS: Double, inB: Long, outB: Long, shRB: Long, shWB: Long, spillB: Long,
        failures: Int, catalogOutB: Long)

    val figs = ops.map { o =>
      val js = jobsOf.getOrElse(o.id, Nil)
      def tasksOf(sel: Seq[(Job, String)]) =
        sel.flatMap(jk => ran(jk._1)).flatMap(s => tasksByStage.getOrElse(s, Nil))
      val all = tasksOf(js)
      val execTasks = tasksOf(js.filter(_._2 != "build"))
      val catalogTasks = tasksOf(js.filter(_._2 == "catalog"))
      val doneStages = js.flatMap(jk => ran(jk._1)).flatMap(s => Option(stages.get(s)))
      val skew = doneStages.filter(s => tasksByStage.getOrElse(s.id, Nil).size >= 2)
        .sortBy(s => -(s.complete - s.submit)).headOption.map { s =>
          val d = tasksByStage(s.id).map(_.durMs.toDouble).sorted
          val med = d(d.size / 2)
          if (med > 0) d.last / med else 1.0
        }.getOrElse(1.0)
      // wall time of the op during which no job of this op was running
      val covered = js.map { case (j, _) =>
        (math.max(j.start, o.startMs), math.min(if (j.end < 0) o.endMs else j.end, o.endMs))
      }.filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach)
          else (sum + e - math.max(s, reach), e)
        }._1
      val planMs = qeList.filter(q => q.start >= o.startMs && q.start <= o.endMs &&
        kindAt(o, q.start) != "build").map(_.planMs).sum
      OpFig(o, js.count(_._2 == "build"), js.count(_._2 != "build"), doneStages.size,
        all.size, all.map(_.durMs).sum / 1e3, execTasks.map(_.durMs).sum / 1e3, skew,
        math.max(0.0, o.wallNs / 1e9 - covered / 1e3), planMs / 1e3,
        all.map(_.inB).sum, all.map(_.outB).sum, all.map(_.shReadB).sum,
        all.map(_.shWriteB).sum, all.map(_.spillB).sum, all.count(_.failed),
        catalogTasks.map(_.outB).sum)
    }

    figs.foreach { f =>
      val o = f.op
      spans ++= Json.render(Map("type" -> "op", "id" -> o.id, "parent" -> None,
        "workload" -> workload, "name" -> o.name, "module" -> o.module,
        "pass" -> o.pass, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "wall_s" -> o.wallNs / 1e9, "build_s" -> o.buildNs / 1e9,
        "plan_s" -> f.planS, "act_s" -> o.actNs / 1e9,
        "catalog_s" -> o.catalogNs / 1e9, "build_jobs" -> f.buildJobs,
        "exec_jobs" -> f.execJobs, "stages" -> f.stages, "tasks" -> f.tasks,
        "task_s" -> f.taskS, "task_skew" -> f.skew, "driver_only_s" -> f.driverOnlyS,
        "input_b" -> f.inB, "output_b" -> f.outB, "shuffle_read_b" -> f.shRB,
        "shuffle_write_b" -> f.shWB, "spill_b" -> f.spillB, "ok" -> o.ok))
      spans += '\n'
      jobsOf.getOrElse(o.id, Nil).foreach { case (j, kind) =>
        spans ++= Json.render(Map("type" -> "job", "id" -> s"job${j.id}",
          "parent" -> o.id, "phase" -> kind, "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> j.stageIds))
        spans += '\n'
        ran(j).flatMap(s => Option(stages.get(s))).foreach { s =>
          val ts = tasksByStage.getOrElse(s.id, Nil)
          spans ++= Json.render(Map("type" -> "stage", "id" -> s"stage${s.id}",
            "parent" -> s"job${j.id}", "start_ms" -> s.submit, "end_ms" -> s.complete,
            "tasks" -> ts.size, "task_s" -> ts.map(_.durMs).sum / 1e3,
            "max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(_.durMs).max / 1e3)))
          spans += '\n'
        }
      }
    }

    val mb = 1024.0 * 1024.0
    val opWall = figs.map(_.op.wallNs / 1e9).sum
    val execWall = figs.map(f => f.op.actNs / 1e9 - f.planS).sum
    val pinBlocks = blocks.values.asScala.toSeq
    val perModule = Trace.modules.flatMap { m =>
      val fs = figs.filter(_.op.module == m)
      Seq(s"$m.build_frac" -> fs.map(_.op.buildNs / 1e9).sum / opWall,
        s"$m.exec_frac" -> fs.map(_.op.actNs / 1e9).sum / opWall,
        s"$m.build_jobs" -> fs.map(_.buildJobs).sum.toDouble,
        s"$m.shuffle_mb" -> fs.map(_.shWB).sum / mb)
    }
    val out = Map(
      "spark.build_s" -> figs.map(_.op.buildNs / 1e9).sum,
      "spark.build_jobs" -> figs.map(_.buildJobs).sum.toDouble,
      "spark.plan_s" -> figs.map(_.planS).sum,
      "spark.exec_s" -> execWall,
      "spark.exec_jobs" -> figs.map(_.execJobs).sum.toDouble,
      "spark.stages" -> figs.map(_.stages).sum.toDouble,
      "spark.tasks" -> figs.map(_.tasks).sum.toDouble,
      "spark.task_s" -> figs.map(_.taskS).sum,
      "spark.busy_frac" -> figs.map(_.execTaskS).sum / math.max(1e-9, execWall * cores),
      "spark.task_skew" -> Trace.median(figs.map(_.skew)),
      "spark.driver_only_s" -> figs.map(_.driverOnlyS).sum,
      "spark.shuffle_read_mb" -> figs.map(_.shRB).sum / mb,
      "spark.shuffle_write_mb" -> figs.map(_.shWB).sum / mb,
      "spark.spill_mb" -> figs.map(_.spillB).sum / mb,
      "spark.input_mb" -> figs.map(_.inB).sum / mb,
      "spark.task_failures" -> figs.map(_.failures).sum.toDouble,
      "jvm.gc_s" -> gcS,
      "pins.count" -> pinBlocks.map(_._1).distinct.size.toDouble,
      "pins.mb" -> pinBlocks.map(_._2).sum / mb,
      "sources.tsv_input_mb" ->
        figs.filter(_.op.module == "ops.cleaning").map(_.inB).sum / mb,
      "sources.catalog_write_frac" -> figs.map(_.op.catalogNs / 1e9).sum / opWall,
      "sources.catalog_mb" -> figs.map(_.catalogOutB).sum / mb,
      "sources.write_amp" ->
        (if (tsvBytes > 0) figs.map(_.outB).sum.toDouble / tsvBytes else 0.0)
    ) ++ perModule

    jobs.clear(); stages.clear(); tasks.clear(); qes.clear(); blocks.clear()
    out
  }
}

object Trace {
  private final case class Job(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final case class StageDone(id: Int, submit: Long, complete: Long)
  private final case class Task(stage: Int, durMs: Long, inB: Long, outB: Long,
      shReadB: Long, shWriteB: Long, spillB: Long, failed: Boolean)
  private final case class Qe(start: Long, planMs: Long)

  /** Engine modules, the layers per-module figures are reported for. */
  val modules: Seq[String] = Seq("ops.cleaning", "ops.quality", "ops.summarize",
    "ops.sketch", "ops.cohort", "stats", "stats.assoc", "ml", "text.search", "dedup",
    "text", "multimodal")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
