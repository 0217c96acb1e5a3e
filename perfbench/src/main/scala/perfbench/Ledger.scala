package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's per-layer ledger, built only from public hooks: a
  * SparkListener (tasks, stages, jobs, SQL executions), a
  * QueryExecutionListener (the planning tracker's phase times), the
  * CodegenMetrics histograms and the JVM's GC and memory MXBeans.
  *
  * Listener events arrive on Spark's asynchronous bus, so they are only
  * recorded (in memory) while the run goes on; [[window]] attributes them
  * to a time window after `spark.stop()` has drained the bus.
  */
final class Ledger {
  import Ledger._

  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val stages = new ConcurrentLinkedQueue[Span]()
  private val actions = new ConcurrentLinkedQueue[Span]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  val listener: SparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val delay = (i.finishTime - i.launchTime) - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        tasks.add(Task(i.finishTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
          math.max(0L, delay)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(Span(s.stageId, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), stageJob.getOrDefault(s.stageId, -1)))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStart.put(e.jobId, (e.time, exec))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, exec) = jobStart.getOrDefault(e.jobId, (e.time, -1L))
      jobs.add(Span(e.jobId, start, e.time, exec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        actions.add(Span(s.executionId,
          sqlStart.getOrDefault(s.executionId, s.time), s.time, -1L))
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.durationMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  // --- sampled in the driver thread, per pass -------------------------
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private def compileStats(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  private var gc0 = 0L
  private var compile0 = (0L, 0.0)
  private var storageMbPeak = 0.0
  private var cachedRddsPeak = 0
  private var memoEntriesPeak = 0

  def passStart(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs()
    compile0 = compileStats()
    storageMbPeak = 0.0
    cachedRddsPeak = 0
    memoEntriesPeak = 0
  }

  def afterOp(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    storageMbPeak = math.max(storageMbPeak,
      sc.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0))
    cachedRddsPeak = math.max(cachedRddsPeak, sc.getPersistentRDDs.size)
    memoEntriesPeak = math.max(memoEntriesPeak, Ledger.memoEntries())
  }

  def passEnd(): Seq[(String, Any)] = {
    val (n1, sum1) = compileStats()
    val (n0, sum0) = compile0
    // the histogram's reservoir keeps every sample until it holds 1028;
    // past that its mean stands in for the samples it dropped
    val compileMs =
      if (n1 <= 1028) sum1 - sum0
      else CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean * (n1 - n0)
    Seq(
      "codegen.compiles" -> (n1 - n0),
      "codegen.compile_ms" -> compileMs,
      "jvm.gc_ms" -> (gcMs() - gc0),
      "jvm.heap_peak_mb" ->
        heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0),
      "plans.memo_entries_peak" -> memoEntriesPeak,
      "plans.cached_rdds_peak" -> cachedRddsPeak,
      "plans.storage_mb_peak" -> storageMbPeak)
  }

  // --- listener records attributed to a window, after spark.stop() ----
  private def within(t: Long, a: Long, b: Long) = t >= a && t <= b

  /** Executor totals of the tasks that finished in [a, b]. */
  def executor(a: Long, b: Long): Seq[(String, Any)] = {
    val ts = tasks.asScala.filter(t => within(t.finishMs, a, b)).toSeq
    Seq(
      "executor.run_ms" -> ts.map(_.runMs).sum,
      "executor.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "executor.gc_ms" -> ts.map(_.gcMs).sum,
      "executor.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum,
      "executor.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum,
      "executor.spill_bytes" -> ts.map(_.spill).sum,
      "executor.input_rows" -> ts.map(_.inRows).sum,
      "executor.output_bytes" -> ts.map(_.outBytes).sum,
      "scheduler.tasks" -> ts.size,
      "scheduler.delay_ms" -> ts.map(_.delayMs).sum)
  }

  /** Every listener-derived layer metric for the window [a, b]. */
  def window(a: Long, b: Long): Seq[(String, Any)] = {
    val js = jobs.asScala.toSeq
    val acts = actions.asScala.filter(x => within(x.endMs, a, b)).toSeq
    // wall time of each action during which none of its jobs ran
    val idle = acts.map { x =>
      val busy = js.filter(j => j.endMs > x.startMs && j.startMs < x.endMs)
        .map(j => (math.max(j.startMs, x.startMs), math.min(j.endMs, x.endMs)))
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
          val s1 = math.max(s, reach)
          (acc + math.max(0L, e - s1), math.max(reach, e))
        }._1
      (x.endMs - x.startMs) - busy
    }.sum
    val ph = phases.asScala.filter(p => within(p.startMs, a, b)).toSeq
    def phase(n: String) = ph.filter(_.name == n).map(_.ms).sum
    Seq(
      "sql.analysis_ms" -> phase(QueryPlanningTrackerPhases.Analysis),
      "sql.optimization_ms" -> phase(QueryPlanningTrackerPhases.Optimization),
      "sql.planning_ms" -> phase(QueryPlanningTrackerPhases.Planning),
      "sql.driver_idle_ms" -> idle,
      "scheduler.jobs" -> js.count(j => within(j.endMs, a, b)),
      "scheduler.stages" -> stages.asScala.count(s => within(s.endMs, a, b))
    ) ++ executor(a, b)
  }

  /** operation -> action -> job -> stage, nested, for the ops in
    * `opSpans` (name, start, end). */
  def spans(opSpans: Seq[(String, Long, Long)]): Seq[ListMap[String, Any]] = {
    val acts = actions.asScala.toSeq.sortBy(_.startMs)
    val js = jobs.asScala.toSeq.sortBy(_.startMs)
    val sts = stages.asScala.toSeq.sortBy(_.startMs)
    def job(j: Span) = ListMap("job" -> j.id, "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "stages" -> sts.filter(_.parent == j.id).map(s =>
        ListMap("stage" -> s.id, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    def action(x: Span) = ListMap("action" -> x.id, "start_ms" -> x.startMs,
      "end_ms" -> x.endMs, "jobs" -> js.filter(_.parent == x.id).map(job))
    opSpans.map { case (name, a, b) =>
      ListMap("op" -> name, "start_ms" -> a, "end_ms" -> b,
        "actions" -> acts.filter(x => x.startMs >= a && x.endMs <= b).map(action),
        "jobs_outside_actions" -> js.filter(j => j.parent < 0 &&
          j.startMs >= a && j.endMs <= b).map(job))
    }
  }
}

/** Phase names of Spark's QueryPlanningTracker. */
object QueryPlanningTrackerPhases {
  import org.apache.spark.sql.catalyst.QueryPlanningTracker
  val Analysis: String = QueryPlanningTracker.ANALYSIS
  val Optimization: String = QueryPlanningTracker.OPTIMIZATION
  val Planning: String = QueryPlanningTracker.PLANNING
}

object Ledger {
  private final case class Task(finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      inRows: Long, outBytes: Long, delayMs: Long)
  private final case class Span(id: Long, startMs: Long, endMs: Long,
      parent: Long)
  private final case class Phase(name: String, startMs: Long, ms: Long)

  def install(spark: SparkSession): Ledger = {
    val l = new Ledger
    spark.sparkContext.addSparkListener(l.listener)
    spark.listenerManager.register(l.queryListener)
    l
  }

  /** Live entries across every `DfLru` memo (ScopedMemo's included). The
    * registry is private to the program, so it is read reflectively; a
    * program without it reads 0.
    */
  def memoEntries(): Int =
    try {
      val companion = Class.forName("graft.plans.DfLru$")
      val module = companion.getField("MODULE$").get(null)
      val f = companion.getDeclaredField("instances")
      f.setAccessible(true)
      f.get(module).asInstanceOf[java.util.List[graft.plans.DfLru]]
        .asScala.map(_.size).sum
    } catch { case _: ReflectiveOperationException => 0 }
}
