package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Filesystem metadata-operation counter for the traced session. Bound
  * to `fs.file.impl` only when tracing, so untraced runs use the
  * program's own `NioLocalFileSystem` unchanged. Calls the checksum
  * layer makes on itself (create → mkdirs, exists → getFileStatus) are
  * counted once, at the outermost call.
  */
object FsCounter {
  val ops = new AtomicLong()
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def count[T](body: => T): T = {
    val d = depth.get()
    if (d == 0) ops.incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }
}

class CountingLocalFileSystem extends graft.sources.NioLocalFileSystem {
  import FsCounter.count

  override def listStatus(f: Path): Array[FileStatus] = count(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = count(super.getFileStatus(f))
  override def exists(f: Path): Boolean = count(super.exists(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = count(super.mkdirs(f, p))
  override def rename(src: Path, dst: Path): Boolean = count(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    count(super.delete(f, recursive))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    count(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    count(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
}

/** Spark job and task accounting keyed by job group. Every operation
  * runs under its own job group (`op-<seq>`), so each job, and each
  * task of its stages, is tied to the operation that caused it.
  */
final case class JobSpan(id: Int, group: String, start: Long, var end: Long)

final class TaskTotals {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var spill = 0L; var output = 0L
}

final class JobTrace extends SparkListener {

  val jobs = mutable.ArrayBuffer[JobSpan]()
  val totals = mutable.Map[String, TaskTotals]()
  private val stageGroup = mutable.Map[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += JobSpan(e.jobId, group, e.time, -1L)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val group = stageGroup.getOrElse(e.stageId, "")
    val t = totals.getOrElseUpdate(group, new TaskTotals)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.output += m.outputMetrics.bytesWritten
    }
  }
}

final case class PhaseSpan(phase: String, start: Long, end: Long)
final case class QuerySpan(start: Long, phases: Seq[PhaseSpan], exchanges: Int)

/** Catalyst phase spans (analysis, optimization, planning) and the
  * Exchange count of every executed query, stamped with wall-clock
  * times so each can be placed inside the operation span that ran it.
  */
final class PlanTrace extends QueryExecutionListener with AdaptiveSparkPlanHelper {

  val queries = mutable.ArrayBuffer[QuerySpan]()

  private def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  private def record(qe: QueryExecution, succeeded: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq.collect {
      case (name, p) if name != "parsing" => PhaseSpan(name, p.startTimeMs, p.endTimeMs)
    }.sortBy(_.start)
    // a failed query may have no executed plan to inspect
    val ex = if (succeeded) exchanges(qe.executedPlan) else 0
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.head.start
    synchronized { queries += QuerySpan(start, phases, ex) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, succeeded = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, succeeded = false)
}
