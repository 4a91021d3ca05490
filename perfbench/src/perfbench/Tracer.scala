package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one public call cost, layer by layer. Times in seconds. */
final case class Call(
    layer: String, name: String, wallS: Double,
    jobs: Long, stages: Long, tasks: Long,
    jobS: Double, planS: Double, cpuS: Double, gcS: Double, runS: Double,
    shuffleW: Long, shuffleR: Long, spill: Long,
    fsList: Long, fsRead: Long, fsWrite: Long, fsBytesR: Long, fsBytesW: Long,
    progress: Seq[Map[String, Long]]) {
  def driverS: Double = wallS - jobS
}

/** Per-call tracing from the benchmark's side of the API: a SparkListener,
  * a QueryExecutionListener and a StreamingQueryListener feed counters
  * that are reset before and read after each call, together with Hadoop
  * local-filesystem statistics. Calls run one at a time (a single
  * closed-loop client), so everything between two boundaries belongs to
  * the call. Counters are read only after the listener bus has delivered
  * every event posted during the call and the job-end and progress counts
  * match what was started. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  private var started, ended, stages, tasks = 0L
  private var cpuNs, gcMs, runMs, shuffleW, shuffleR, spill, planMs = 0L
  private val progress = ArrayBuffer.empty[Map[String, Long]]
  /** Calls whose counters never settled within the drain timeout. */
  var unsettled = 0

  val calls = ArrayBuffer.empty[Call]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      started += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      ended += 1; jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        gcMs += m.jvmGCTime
        runMs += m.executorRunTime
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private val phases = Set("analysis", "optimization", "planning")
    private def add(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.collect { case (p, s) if phases(p) => s.durationMs }.sum
      lock.synchronized { planMs += ms }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) lock.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain(0)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streams)
  }

  private def fsBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Wait until the bus has delivered everything posted so far, every job
    * that started has ended, and `batches` progress events have arrived. */
  private def drain(batches: Int): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      PerfbenchBus.drain(sc)
      settled = lock.synchronized(started == ended && progress.size >= batches)
      if (!settled) Thread.sleep(10)
    }
    if (!settled) unsettled += 1
  }

  private def reset(): Unit = lock.synchronized {
    intervals.clear(); progress.clear()
    started = 0; ended = 0; stages = 0; tasks = 0
    cpuNs = 0; gcMs = 0; runMs = 0; shuffleW = 0; shuffleR = 0; spill = 0; planMs = 0
  }

  /** Run `body` as one traced call of `layer`. `batches` is the number of
    * micro-batches the call is expected to complete. */
  def call[A](layer: String, name: String, batches: Int = 0)(body: => A): A = {
    drain(0)
    reset()
    val (l0, r0, w0) = FsOps.snapshot()
    val (br0, bw0) = fsBytes()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = math.max(System.currentTimeMillis(), t0ms)
    drain(batches)
    val (l1, r1, w1) = FsOps.snapshot()
    val (br1, bw1) = fsBytes()
    lock.synchronized {
      val jobS = math.min(Stats.unionLength(intervals.toSeq, t0ms, t1ms) / 1000.0, wall)
      calls += Call(layer, name, wall, ended, stages, tasks, jobS, planMs / 1000.0, cpuNs / 1e9,
        gcMs / 1000.0, runMs / 1000.0, shuffleW, shuffleR, spill,
        l1 - l0, r1 - r0, w1 - w0, br1 - br0, bw1 - bw0, progress.toSeq)
    }
    out
  }
}
