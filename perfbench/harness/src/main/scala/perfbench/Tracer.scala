package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects, during traced passes, what Spark's public listener APIs report:
  * jobs and stages (tagged with the job group the benchmark thread set to
  * the query's id) and every executed QueryExecution's planning phases.
  * Everything is kept in memory; [[spans]] turns one query's share into
  * JSONL span records after the run.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val ended = ConcurrentHashMap.newKeySet[String]()
  private lazy val stageJob: Map[Int, Seq[Job]] =
    jobs.values.asScala.toSeq.flatMap(j => j.stageIds.map(_ -> j))
      .groupMap(_._1)(_._2)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits until every event posted so far has reached this listener (a
    * marker job is queued behind them), then stops listening.
    */
  def detach(spark: SparkSession, marker: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(marker, "drain listener queue")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    while (!ended.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      if (j.group != null) ended.add(j.group)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages.put((i.stageId, i.attemptNumber()),
      Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(System.currentTimeMillis()),
        i.numTasks))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
      if (s.firstLaunch < 0) s.firstLaunch = e.taskInfo.launchTime
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stages.get((i.stageId, i.attemptNumber()))).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis())
      val m = i.taskMetrics
      if (m != null) s.metrics = Map(
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_records" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val graftNodes =
      try PlanNodes.collectWithSubqueries(qe.executedPlan) {
        case p if p.getClass.getName.startsWith("graft.plans.") => p
      }.size
      catch { case NonFatal(_) => 0 }
    plans.add(Plan(phases(qe.tracker), graftNodes))
  }

  /** Span records of one traced query: the query, its build (the
    * `fn(spark, dir)` call), the noop-sink action, the cache release, every
    * planning phase, job and stage. Children point at their parent's id and
    * all share the query id.
    */
  def spans(q: QueryRun): Seq[String] = {
    def span(id: String, parent: String, name: String, start: Double, end: Double,
        attrs: (String, Any)*): String =
      Json.obj(Seq("qid" -> q.qid, "query" -> q.name, "id" -> id, "parent" -> parent,
        "name" -> name, "start" -> start, "end" -> end) ++ attrs: _*)
    val root = q.qid
    val build = s"$root/build"
    val sink = s"$root/sink"
    def phaseParent(t: Double) = if (t < q.buildEnd) build else sink
    // executions whose planning began while the query ran (tracker times are whole ms)
    val mine = plans.asScala.toSeq.filter { p =>
      p.phases.nonEmpty && p.phases.head._2 >= q.start - 1 && p.phases.head._2 <= q.end
    }
    val planSpans = (q.phases +: mine.map(_.phases)).zipWithIndex.flatMap { case (ph, k) =>
      ph.map { case (n, s, e) => span(s"$root/plan$k.$n", phaseParent(s), s"plan.$n", s, e) }
    }
    val qJobs = jobs.values.asScala.toSeq.filter(_.group == q.qid).sortBy(_.id)
    val jobSpans = qJobs.map { j =>
      span(s"$root/job${j.id}", phaseParent(j.start.toDouble), "job", j.start.toDouble,
        (if (j.end < 0) j.start else j.end).toDouble)
    }
    val stageSpans = stages.values.asScala.toSeq.flatMap { s =>
      // the latest job of this query that lists the stage and started before it
      stageJob.getOrElse(s.id, Nil).filter(j => j.group == q.qid && j.start <= s.submit)
        .sortBy(-_.start).headOption.map { j =>
          span(s"$root/stage${s.id}.${s.attempt}", s"$root/job${j.id}", "stage",
            s.submit.toDouble, (if (s.end < 0) s.submit else s.end).toDouble,
            "tasks" -> s.numTasks,
            "queue_wait_ms" -> (if (s.firstLaunch < 0) 0L else s.firstLaunch - s.submit),
            "metrics" -> s.metrics)
        }
    }
    Seq(
      span(root, null, "query", q.start, q.end, "pass" -> q.pass,
        "error" -> q.error, "persisted_rdds" -> q.persistedRdds,
        "stored_bytes" -> q.storedBytes,
        "graft_nodes" -> mine.map(_.graftNodes).sum),
      span(build, root, "build", q.start, q.buildEnd),
      span(sink, root, "sink", q.buildEnd, q.sinkEnd),
      span(s"$root/release", root, "release", q.sinkEnd, q.end)
    ) ++ planSpans ++ jobSpans ++ stageSpans
  }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Stage(id: Int, attempt: Int, submit: Long, numTasks: Int) {
    @volatile var firstLaunch: Long = -1L
    @volatile var end: Long = -1L
    @volatile var metrics: Map[String, Any] = Map.empty
  }
  final case class Plan(phases: Seq[(String, Double, Double)], graftNodes: Int)

  def phases(t: QueryPlanningTracker): Seq[(String, Double, Double)] =
    t.phases.toSeq.map { case (n, s) => (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
      .sortBy(_._2)
}

object PlanNodes extends AdaptiveSparkPlanHelper
