package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * index of the enclosing span in the run's span list, or -1 for a root.
  */
final case class Span(name: String, layer: String, startMs: Double, endMs: Double, parent: Int)

/** The traced run's recorder: the benchmark's own Spark listeners plus
  * JVM counters, all kept in memory until the run ends.
  *
  * Root spans are the benchmark's operations; bench-side child spans
  * (build, execution) are added by the harness around its calls. The
  * listeners add planning-phase spans (from each execution's
  * `QueryPlanningTracker`) and job spans, and attach each to the
  * operation whose interval holds its start. Spans that start in no
  * operation (planning done before the timed phase) are dropped.
  */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val planPhases = ArrayBuffer.empty[(String, Long, Long)]
  private val jobs = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private var executions = 0L
  private var stages = 0L
  private var tasks = 0L
  private var taskRunMs = 0L
  private var taskCpuNs = 0L
  private var taskGcMs = 0L
  private var inputBytes = 0L
  private var shuffleWriteBytes = 0L
  private var shuffleReadBytes = 0L
  private var spillBytes = 0L

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      executions += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phase != "parsing") planPhases += ((phase, s.startTimeMs, s.endTimeMs))
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs(e.jobId) = (e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        taskGcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val heapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    val mem = ManagementFactory.getMemoryMXBean
    while (sampling) {
      heapPeak.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, math.max(_, _))
      Thread.sleep(20)
    }
  }, "perfbench-heap-sampler")
  sampler.setDaemon(true)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  // Spark records every generated-class compile (milliseconds) in this
  // JVM-wide histogram. Its reservoir holds every sample until it has
  // 1028; past that the compile time is estimated from the count and the
  // reservoir's mean.
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    (h.getCount, if (h.getCount <= snap.size) snap.getValues.sum.toDouble else snap.getMean * h.getCount)
  }

  private val (gc0, jit0, (compiles0, compileMs0)) = (gcMs(), jitMs(), codegen())

  spark.listenerManager.register(queryListener)
  spark.sparkContext.addSparkListener(sparkListener)
  sampler.start()

  /** Stops recording and returns the layer counters plus the planning and
    * job spans, attached to the given roots (index, startMs, endMs).
    */
  def finish(roots: Seq[(Int, Double, Double)], wallS: Double): (Map[String, Double], Seq[Span]) = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    sampling = false
    sampler.join()
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    val (compiles1, compileMs1) = codegen()
    lock.synchronized {
      // Listener times are whole milliseconds, so a start up to 1 ms
      // outside an operation still belongs to the nearest one.
      def rootOf(t: Double): Option[Int] = {
        def distance(s: Double, e: Double) = math.max(s - t, t - e)
        roots.minByOption { case (_, s, e) => distance(s, e) }
          .collect { case (i, s, e) if distance(s, e) <= 1.0 => i }
      }
      val spans =
        planPhases.toSeq.flatMap { case (p, s, e) => rootOf(s.toDouble).map(Span(p, "planning", s.toDouble, e.toDouble, _)) } ++
          jobs.toSeq.sortBy(_._1).flatMap { case (id, (s, e)) =>
            if (e < 0) None else rootOf(s.toDouble).map(Span(s"job$id", "exec", s.toDouble, e.toDouble, _))
          }
      def phaseS(p: String) = planPhases.collect { case (`p`, s, e) => e - s }.sum / 1e3
      val cores = spark.sparkContext.defaultParallelism
      val mb = 1024.0 * 1024.0
      val m = Map(
        "planning.analysis_s" -> phaseS("analysis"),
        "planning.optimization_s" -> phaseS("optimization"),
        "planning.physical_s" -> phaseS("planning"),
        "planning.executions" -> executions.toDouble,
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> stages.toDouble,
        "exec.tasks" -> tasks.toDouble,
        "exec.task_run_s" -> taskRunMs / 1e3,
        "exec.task_cpu_s" -> taskCpuNs / 1e9,
        "exec.task_gc_s" -> taskGcMs / 1e3,
        "exec.input_mb" -> inputBytes / mb,
        "exec.shuffle_write_mb" -> shuffleWriteBytes / mb,
        "exec.shuffle_read_mb" -> shuffleReadBytes / mb,
        "exec.spill_mb" -> spillBytes / mb,
        "exec.core_utilization" -> (if (wallS > 0) taskRunMs / 1e3 / (wallS * cores) else 0.0),
        "codegen.compiles" -> (compiles1 - compiles0).toDouble,
        "codegen.compile_s" -> (compileMs1 - compileMs0) / 1e3,
        "jvm.jit_s" -> (jitMs() - jit0) / 1e3,
        "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
        "jvm.heap_peak_mb" -> heapPeak.get / mb)
      (m, spans)
    }
  }
}
