package graftbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one operation, summed over its jobs. */
final class Counters {
  var jobs, eagerJobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizeMs, physicalMs, execNs = 0L

  def json: String =
    s""""jobs":$jobs,"eager_jobs":$eagerJobs,"stages":$stages,"tasks":$tasks,""" +
      s""""run_ms":$runMs,"cpu_ns":$cpuNs,"gc_ms":$gcMs,"delay_ms":$delayMs,""" +
      s""""shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,"spill":$spill,""" +
      s""""analysis_ms":$analysisMs,"optimize_ms":$optimizeMs,"physical_ms":$physicalMs,""" +
      s""""exec_ns":$execNs"""
}

/** The traced run's recorder. Every operation runs under its own Spark
  * job group, so the scheduler listener attributes jobs, stages and
  * tasks to it; the query-execution listener attributes planning phases
  * and execution time to the operation that is current when the
  * execution ends (one client thread, and the bus is drained before an
  * operation closes). Spans go to `spans.jsonl` as
  * {id, name, layer, start_ms, end_ms, parent}. */
final class Tracer(spark: SparkSession, spansPath: String) {
  private val out = new PrintWriter(spansPath, "UTF-8")
  private val byOp = new ConcurrentHashMap[String, Counters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile private var current: String = null
  @volatile private var buildEndMs = Long.MaxValue

  private def counters(op: String): Counters = byOp.computeIfAbsent(op, _ => new Counters)

  def span(id: String, name: String, layer: String, start: Long, end: Long,
      parent: String): Unit = synchronized {
    val p = if (parent == null) "null" else "\"" + parent + "\""
    out.println(s"""{"id":"$id","name":"$name","layer":"$layer","start_ms":$start,"end_ms":$end,"parent":$p}""")
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (op != null) {
        val c = counters(op)
        c.synchronized {
          c.jobs += 1
          if (e.time <= buildEndMs && op == current) c.eagerJobs += 1
        }
        e.stageIds.foreach(stageOp.put(_, op))
        jobStart.put(e.jobId, (op, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        span(s"$op/job${e.jobId}", s"job ${e.jobId}", "spark.job", t0, e.time, op)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val c = counters(op)
        c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val m = e.taskMetrics
        val c = counters(op)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.resultSerializationTime)
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val executions = new QueryExecutionListener {
    private def record(qe: QueryExecution, ns: Long): Unit = {
      val op = current
      if (op != null) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val c = counters(op)
        c.synchronized {
          c.analysisMs += ms("analysis")
          c.optimizeMs += ms("optimization")
          c.physicalMs += ms("planning")
          c.execNs += ns
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ns)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, 0L)
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(executions)

  /** Opens operation `op`. Until [[built]] is called, the jobs of a
    * query operation count as eager; an operation that builds no plan
    * has none. */
  def begin(op: String, query: Boolean): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    current = op
    buildEndMs = if (query) Long.MaxValue else Long.MinValue
    spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
  }

  /** Marks the end of plan construction: jobs started up to now are
    * the eager ones. */
  def built(): Unit = buildEndMs = System.currentTimeMillis()

  def end(op: String): Counters = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    current = null
    counters(op)
  }

  def close(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.listenerManager.unregister(executions)
    spark.sparkContext.removeSparkListener(scheduler)
    out.close()
  }
}
