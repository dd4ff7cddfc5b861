package kgbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters gathered by the benchmark's own listeners between two
  * [[Tracer.snapshot]] calls.
  */
final case class Counters(jobs: Long, jobSites: Seq[String], tasks: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long,
    taskMs: Seq[Long], actions: Seq[Tracer.Action],
    progress: Seq[Map[String, Long]]) {

  def minus(o: Counters): Counters = Counters(jobs - o.jobs,
    jobSites.drop(o.jobSites.length), tasks - o.tasks,
    gcMs - o.gcMs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, taskMs.drop(o.taskMs.length),
    actions.drop(o.actions.length), progress.drop(o.progress.length))

  def plus(o: Counters): Counters = Counters(jobs + o.jobs,
    jobSites ++ o.jobSites, tasks + o.tasks, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
    taskMs ++ o.taskMs, actions ++ o.actions, progress ++ o.progress)

  /** Skew signal: slowest task over the median task. */
  def taskMaxOverMedian: Double =
    if (taskMs.isEmpty) 0.0
    else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
}

/** A SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * that belong to the benchmark. Nothing inside the program is changed to
  * collect these numbers.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Action

  private var jobs = 0L
  private val jobSites = ArrayBuffer.empty[String]
  private var tasks = 0L
  private var gcMs = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val taskMs = ArrayBuffer.empty[Long]
  private val actions = ArrayBuffer.empty[Action]
  private val progress = ArrayBuffer.empty[Map[String, Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        jobs += 1
        // the result stage is named after the action's call site
        jobSites += e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        tasks += 1
        taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          gcMs += m.jvmGCTime
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val roots = qe.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
      Tracer.this.synchronized {
        actions += Action(funcName, durationNs / 1e6, roots)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        val d = e.progress.durationMs
        val m = scala.collection.mutable.Map.empty[String, Long]
        d.forEach((k, v) => m(k) = v.longValue)
        progress += m.toMap
      }
  }

  /** Start receiving events. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop receiving events, after the pending ones are delivered. */
  def detach(): Unit = {
    org.apache.spark.kgbench.BusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Counters so far, after every pending listener event is delivered. */
  def snapshot(): Counters = {
    org.apache.spark.kgbench.BusBridge.drain(spark.sparkContext)
    synchronized {
      Counters(jobs, jobSites.toList, tasks, gcMs, shuffleRead, shuffleWrite, spill,
        taskMs.toList, actions.toList, progress.toList)
    }
  }

  /** Run `body`; return its wall time in ms and the counters it moved. */
  def measure[T](body: => T): (T, Double, Counters) = {
    val before = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    (out, ms, snapshot().minus(before))
  }
}

object Tracer {
  val empty: Counters = Counters(0, Nil, 0, 0, 0, 0, 0, Nil, Nil, Nil)

  /** One finished Dataset action: its name ("collect", "count", "command",
    * ...), its duration, and the root paths of the files it read.
    */
  final case class Action(name: String, ms: Double, reads: Seq[String])
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
