package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the benchmark sets around each query. Spark copies a
  * thread's local properties into every job it starts, and a streaming
  * query's thread inherits them from the thread that started it. The job
  * group would not be enough: a streaming query replaces it with its run id. */
object Tags {
  val Query = "perfbench.query"
  val Pass = "perfbench.pass"
  val Phase = "perfbench.phase"
}

/** One benchmark-side span: a pass, a query, or a query's construct or exec
  * phase. Times are epoch milliseconds, the clock of Spark's events. A job
  * span's `site` is the call site Spark names its first stage after. */
final case class Span(name: String, query: String, pass: Int, startMs: Long, endMs: Long,
                      site: String = "")

/** One query's work in one pass, as the benchmark and the listeners saw it. */
final class Counters {
  var constructNs, execNs, checkpointBytes = 0L
  var constructJobs, execJobs, execStages, execTasks, failedTasks = 0L
  var cpuNs, gcMs, schedWaitMs, runMs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRows, writeBytes, writeRows = 0L
  var analysisNs, optimizationNs, planningMs, planNodes = 0L
  var ohaAggMs, ohaFallbackTasks, ohaTasks = 0L
  var batches, batchMs, addBatchMs, streamPlanningMs, commitMs, stateRows = 0L
}

/** The per-layer metrics of a set of counters (one pass, or one query).
  *
  * Times are in seconds where the source has nanosecond resolution and the
  * layer runs on every workload. Times that Spark reports in whole
  * milliseconds, or whose layer is absent from some workload, are given as a
  * `share` of a nanosecond-timed base instead (named in each comment), so
  * no value is a coarse or structurally constant time. */
object Layers {
  def of(cs: Seq[Counters], cores: Int): Map[String, (Double, String)] = {
    def sum(f: Counters => Long): Double = cs.map(f).sum.toDouble
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val mb = 1048576.0
    val constructS = sum(_.constructNs) / 1e9
    val execS = sum(_.execNs) / 1e9
    val cpuS = sum(_.cpuNs) / 1e9
    // base of the *_share times: the queries' wall time (construct + exec)
    val passMs = (constructS + execS) * 1e3
    Map(
      "queries.construct_s" -> (constructS, "s"),
      "queries.construct_jobs" -> (sum(_.constructJobs), "count"),
      "queries.ms_per_job" -> (1000 * ratio(constructS + execS, sum(_.constructJobs) + sum(_.execJobs)), "ms"),
      "queries.checkpoint_mb" -> (sum(_.checkpointBytes) / mb, "MB"),
      "catalyst.analysis_s" -> (sum(_.analysisNs) / 1e9, "s"),
      "catalyst.optimization_s" -> (sum(_.optimizationNs) / 1e9, "s"),
      "catalyst.planning_share" -> (ratio(sum(_.planningMs), passMs), "share"),
      "catalyst.plan_nodes" -> (sum(_.planNodes), "count"),
      "exec.s" -> (execS, "s"),
      "exec.cpu_s" -> (cpuS, "s"),
      "exec.gc_share" -> (ratio(sum(_.gcMs), passMs), "share"),
      "exec.util" -> (ratio(cpuS, execS * cores), "share"),
      "exec.jobs" -> (sum(_.execJobs), "count"),
      "exec.stages" -> (sum(_.execStages), "count"),
      "exec.tasks" -> (sum(_.execTasks), "count"),
      // slot wait over slot wait plus run time, summed over exec tasks
      "exec.sched_wait_share" -> (ratio(sum(_.schedWaitMs), sum(_.schedWaitMs) + sum(_.runMs)), "share"),
      "exec.shuffle_write_mb" -> (sum(_.shuffleWrite) / mb, "MB"),
      "exec.shuffle_read_mb" -> (sum(_.shuffleRead) / mb, "MB"),
      "exec.spill_mb" -> (sum(_.spill) / mb, "MB"),
      "exec.failed_tasks" -> (sum(_.failedTasks), "count"),
      "tables.scan_mb" -> (sum(_.scanBytes) / mb, "MB"),
      "tables.scan_rows" -> (sum(_.scanRows), "count"),
      "functions.objhash_agg_share" -> (ratio(sum(_.ohaAggMs), passMs), "share"),
      "functions.sort_fallback_share" -> (ratio(sum(_.ohaFallbackTasks), sum(_.ohaTasks)), "share"),
      "streaming.batches" -> (sum(_.batches), "count"),
      "streaming.batch_share" -> (ratio(sum(_.batchMs), passMs), "share"),
      "streaming.add_batch_share" -> (ratio(sum(_.addBatchMs), passMs), "share"),
      "streaming.planning_share" -> (ratio(sum(_.streamPlanningMs), passMs), "share"),
      "streaming.commit_share" -> (ratio(sum(_.commitMs), passMs), "share"),
      "streaming.state_rows" -> (sum(_.stateRows), "count"),
      "sinks.write_mb" -> (sum(_.writeBytes) / mb, "MB"),
      "sinks.write_rows" -> (sum(_.writeRows), "count"))
  }
}

/** Everything the listeners saw, keyed by (query, pass); built only for a
  * traced run. All three listeners use Spark's public listener APIs. */
final class Trace(spark: SparkSession) {
  private type Key = (String, Int)

  private final case class Job(id: Int, key: Key, phase: String, group: String, site: String,
                               startMs: Long, var endMs: Long = -1L, var succeeded: Boolean = false)
  private final case class ExecPlan(analysisMs: Long, optimizationMs: Long,
                                    planningMs: Long, ruleNs: Long, startMs: Long, nodes: Long,
                                    ohaAggMs: Long, ohaFallbackTasks: Long, ohaAccs: Set[Long])
  private final case class Task(key: Key, accs: Set[Long])

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, (Key, String)]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val completedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[ExecPlan]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val streamsStarted, streamsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val counters = mutable.LinkedHashMap.empty[Key, Counters]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val execOrder = mutable.ArrayBuffer.empty[Key]
  @volatile private var markerJob, markerEnded = -1

  def counter(key: Key): Counters = synchronized(counters.getOrElseUpdate(key, new Counters))

  private def keyOf(p: java.util.Properties): Option[(Key, String)] =
    Option(p).flatMap(p => Option(p.getProperty(Tags.Query)).map(q =>
      ((q, p.getProperty(Tags.Pass).toInt), p.getProperty(Tags.Phase))))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      keyOf(e.properties).foreach { case (key, phase) =>
        if (phase == "marker") markerJob = e.jobId else {
          val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
          val j = Job(e.jobId, key, phase, e.properties.getProperty("spark.jobGroup.id"), site, e.time)
          jobs.add(j); jobById.put(e.jobId, j)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobById.get(e.jobId)).foreach { j => j.endMs = e.time; j.succeeded = e.jobResult == JobSucceeded }
      if (e.jobId == markerJob) markerEnded = e.jobId
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      keyOf(e.properties).filter(_._2 != "marker").foreach { kp =>
        stagePhase.put(e.stageInfo.stageId, kp)
        stageSubmitMs.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(0L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.failureReason.isEmpty && stagePhase.containsKey(e.stageInfo.stageId))
        completedStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stagePhase.get(e.stageId)).foreach { case (key, phase) =>
        val c = counter(key)
        val m = e.taskMetrics
        c.synchronized {
          if (phase == "exec") {
            // a task killed because its job was cancelled is neither
            e.reason match {
              case Success => c.execTasks += 1
              case _: TaskKilled =>
              case _ => c.failedTasks += 1
            }
            if (m != null) {
              c.cpuNs += m.executorCpuTime
              c.gcMs += m.jvmGCTime
              c.runMs += m.executorRunTime
              c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
            c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime))
          }
          if (m != null) {
            c.scanBytes += m.inputMetrics.bytesRead
            c.scanRows += m.inputMetrics.recordsRead
            c.writeBytes += m.outputMetrics.bytesWritten
            c.writeRows += m.outputMetrics.recordsWritten
          }
        }
        if (phase == "exec")
          tasks.add(Task(key, e.taskInfo.accumulables.map(_.id).toSet))
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The exec action is the benchmark's noop write. No query runs a V2
    * overwrite itself, so every other action belongs to construction. */
  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit =
      if (funcName == "overwrite" && qe.logical.isInstanceOf[OverwriteByExpression]) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val plan = qe.executedPlan
        val oha = Plans.collectWithSubqueries(plan) { case a: ObjectHashAggregateExec => a }
        def metric(a: ObjectHashAggregateExec, n: String) = a.metrics.get(n).map(_.value).getOrElse(0L)
        // Rule times have nanosecond resolution. The action re-analyses a
        // frame that is already analysed, so its rule time is optimization.
        plans.add(ExecPlan(ms("analysis"), ms("optimization"), ms("planning"),
          qe.tracker.rules.values.map(_.totalTimeNs).sum,
          ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
          Plans.collectWithSubqueries(plan) { case p => p }.size.toLong,
          oha.map(metric(_, "aggTime")).sum, oha.map(metric(_, "numTasksFallBacked")).sum,
          oha.flatMap(_.metrics.values.map(_.id)).toSet))
      }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = streamsStarted.incrementAndGet()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = streamsEnded.incrementAndGet()
  }

  /** Registers the listeners for one traced pass. */
  def attach(): Unit = {
    markerJob = -1
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listeners have seen everything the pass posted, then
    * removes them. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def span(s: Span): Unit = spans += s

  /** Called after each traced exec action, in order, so the n-th noop write
    * seen by the QueryExecutionListener belongs to the n-th call. */
  def execDone(key: Key): Unit = execOrder += key

  /** Storage blocks still held after a query's action, before cleanup. */
  def checkpointHeld(key: Key): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    counter(key).checkpointBytes += bytes
  }

  /** Waits until every listener queue has delivered what the pass posted:
    * a marker job for the shared queue, the noop writes for the execution
    * listener, and a terminated event per started stream. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tags.Query, "marker"); sc.setLocalProperty(Tags.Pass, "-1")
    sc.setLocalProperty(Tags.Phase, "marker")
    sc.parallelize(Seq(1), 1).count()
    Seq(Tags.Query, Tags.Pass, Tags.Phase).foreach(sc.setLocalProperty(_, null))
    val deadline = System.nanoTime() + 60L * 1000000000L
    def done = markerJob >= 0 && markerEnded == markerJob && plans.size >= execOrder.size && streamsEnded.get >= streamsStarted.get
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
    require(done, s"listener events missing after 60 s: marker=${markerEnded >= 0} " +
      s"plans=${plans.size}/${execOrder.size} streams=${streamsEnded.get}/${streamsStarted.get}")
  }

  /** Per-(query, pass) counters, and the span tree with self times. */
  def finish(): (Seq[((String, Int), Counters)], Seq[Map[String, Any]]) = {
    val allJobs = jobs.asScala.toSeq
    // Only jobs and stages that succeeded are counted: adaptive execution
    // may start a stage's job and cancel it when it re-plans, and whether
    // that job got to start is a race.
    allJobs.filter(_.succeeded).foreach { j =>
      val c = counter(j.key)
      if (j.phase == "construct") c.constructJobs += 1 else if (j.phase == "exec") c.execJobs += 1
    }
    completedStages.asScala.foreach { id =>
      val (key, phase) = stagePhase.get(id)
      if (phase == "exec") counter(key).execStages += 1
    }
    val planList = plans.asScala.toSeq
    require(planList.size == execOrder.size,
      s"${planList.size} noop writes observed for ${execOrder.size} exec actions")
    val planOf = execOrder.zip(planList).toMap
    planOf.foreach { case (key, p) =>
      val c = counter(key)
      c.optimizationNs += p.ruleNs; c.planningMs += p.planningMs
      c.planNodes += p.nodes; c.ohaAggMs += p.ohaAggMs; c.ohaFallbackTasks += p.ohaFallbackTasks
    }
    tasks.asScala.foreach { t =>
      planOf.get(t.key).filter(p => p.ohaAccs.exists(t.accs.contains)).foreach(_ => counter(t.key).ohaTasks += 1)
    }
    // A streaming query sets its run id as the job group of its batch jobs.
    val streamKey = allJobs.filter(_.phase == "construct").map(j => j.group -> j.key).toMap
    val batchSpans = mutable.ArrayBuffer.empty[Span]
    progress.asScala.foreach { e =>
      val p = e.progress
      streamKey.get(p.runId.toString).foreach { key =>
        val c = counter(key)
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.batches += 1; c.batchMs += d("triggerExecution"); c.addBatchMs += d("addBatch")
        c.streamPlanningMs += d("queryPlanning"); c.commitMs += d("walCommit") + d("commitOffsets")
        c.stateRows += p.stateOperators.map(_.numRowsUpdated).sum
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batchSpans += Span("stream.batch", key._1, key._2, start, start + d("triggerExecution"))
      }
    }
    val jobSpans = allJobs.filter(_.endMs >= 0).map(j =>
      Span(s"${j.phase}.job", j.key._1, j.key._2, j.startMs, j.endMs, j.site))
    val catalystSpans = planOf.toSeq.flatMap { case ((q, pass), p) =>
      val a = p.startMs + p.analysisMs
      val o = a + p.optimizationMs
      Seq(Span("catalyst.analysis", q, pass, p.startMs, a),
        Span("catalyst.optimization", q, pass, a, o),
        Span("catalyst.planning", q, pass, o, o + p.planningMs))
    }
    (counters.toSeq, Trace.tree(spans.toSeq ++ jobSpans ++ batchSpans ++ catalystSpans))
  }
}

object Trace {
  /** Nests spans by name (pass > query > construct|exec > jobs, batches,
    * catalyst phases) and gives each its self time: its duration minus the
    * part of it that its children cover. */
  def tree(all: Seq[Span]): Seq[Map[String, Any]] = {
    val index = all.zipWithIndex.collect {
      case (s, i) if Set("pass", "query", "construct", "exec")(s.name) => (s.name, s.query, s.pass) -> i
    }.toMap
    def parent(s: Span): Int = (s.name match {
      case "pass" => None
      case "query" => index.get(("pass", "", s.pass))
      case "construct" | "exec" => index.get(("query", s.query, s.pass))
      case n =>
        val phase = if (n.startsWith("construct") || n == "stream.batch") "construct" else "exec"
        index.get((phase, s.query, s.pass))
    }).getOrElse(-1)
    val parents = all.map(parent)
    val children = all.indices.groupBy(parents)
    all.indices.map { i =>
      val s = all(i)
      val kids = children.getOrElse(i, Nil).map(all)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      Map("id" -> i, "parent" -> parents(i), "name" -> s.name,
        "trace" -> s"pass ${s.pass}/${s.query}", "query" -> s.query, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> (s.endMs - s.startMs - covered),
        "site" -> s.site)
    }
  }
}
