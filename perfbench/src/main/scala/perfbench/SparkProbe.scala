package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from Spark's own channels: a `SparkListener` (jobs,
  * stages, tasks, task time, shuffle, spill), a `QueryExecutionListener`
  * (the planning phases of `qe.tracker`), `CodegenMetrics` (compile time
  * and generated method size), the JVM's collectors (GC time) and the
  * block manager's storage report (cached bytes).
  *
  * Listeners are registered only in a traced run, so an untraced run
  * measures the program without them.
  */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
                          taskTimeS: Double, shuffleReadMb: Double,
                          shuffleWriteMb: Double, spillMb: Double,
                          planS: Double, codegenCompileS: Double,
                          gcS: Double) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskTimeS - o.taskTimeS,
    shuffleReadMb - o.shuffleReadMb, shuffleWriteMb - o.shuffleWriteMb,
    spillMb - o.spillMb, planS - o.planS,
    codegenCompileS - o.codegenCompileS, gcS - o.gcS)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskTimeS + o.taskTimeS,
    shuffleReadMb + o.shuffleReadMb, shuffleWriteMb + o.shuffleWriteMb,
    spillMb + o.spillMb, planS + o.planS,
    codegenCompileS + o.codegenCompileS, gcS + o.gcS)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

final class SparkProbe(spark: SparkSession) {
  private val MB = 1024.0 * 1024.0
  private val jobs, stages, tasks, taskTimeMs = new AtomicLong
  private val shuffleRead, shuffleWrite, spill, planNs = new AtomicLong
  @volatile private var cachedPeakBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.incrementAndGet()
        taskTimeMs.addAndGet(m.executorRunTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      planNs.addAndGet(qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Exact while the reservoir holds every sample (≤ 1028 compiles),
    * mean × count beyond that.
    */
  private def codegenCompileS: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount / 1000.0
  }

  def codegenMaxMethodBytes: Long =
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax

  private def gcS: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Current counters; waits for the listener bus to deliver every
    * event posted so far.
    */
  def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, taskTimeMs.get / 1000.0,
      shuffleRead.get / MB, shuffleWrite.get / MB, spill.get / MB,
      planNs.get / 1e9, codegenCompileS, gcS)
  }

  /** Samples the bytes held by persisted RDDs and datasets and keeps the
    * peak; called at span boundaries, so short-lived peaks between two
    * samples are missed.
    */
  def sampleCached(): Unit = {
    val now = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    if (now > cachedPeakBytes) cachedPeakBytes = now
  }

  def cachedMbPeak: Double = cachedPeakBytes / MB
}
