package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLongArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as seen on the listener bus, with the task metrics and the
  * named accumulator updates (the `ocf*` custom metrics surface there under
  * their descriptions) of every task that ran for it. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var deserializeMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  val accums: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** Outside-in view of task execution: jobs keyed by job group (the op id)
  * and start time, stages and task metrics summed per job. Events arrive on
  * the listener-bus thread; read only after [[org.apache.spark.perfbench.BusDrain]]. */
final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.deserializeMs += m.executorDeserializeTime
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      }
      e.taskInfo.accumulables.foreach { a =>
        for (name <- a.name; up <- a.update) up match {
          case v: Long if name.startsWith("OCF ") => j.accums(name) += v
          case _ =>
        }
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)
}

/** One micro-batch progress report of a streaming query. */
final case class ProgressRec(triggerStartMs: Long, durations: Map[String, Long])

final class StreamListener extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[ProgressRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    progress += ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def snapshot(): Seq[ProgressRec] = synchronized(progress.toVector)
}

/** The default checksummed local file system (`LocalFileSystem` over
  * `RawLocalFileSystem`) with its entry points counted. Installed through
  * `fs.file.impl`, so the traced run writes exactly the files the untraced
  * run writes. Bytes come from Hadoop's own per-scheme statistics. Writes
  * that bypass Hadoop (`java.nio` in `graft.sources.GraftIO` for `file:`
  * paths, and in `graft.spark.OcfFiles`) are not seen. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { bump(Open); super.open(f, bufferSize) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    bump(Create); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    bump(Create); super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { bump(Rename); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { bump(Delete); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { bump(List); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { bump(GetStatus); super.getFileStatus(f) }
}

object CountingLocalFileSystem {
  val Open = 0; val List = 1; val GetStatus = 2; val Create = 3; val Rename = 4; val Delete = 5
  val names: Seq[String] = Seq("open", "list", "get_status", "create", "rename", "delete")
  val enabled = new AtomicBoolean(false)
  private val counts = new AtomicLongArray(names.size)

  private def bump(i: Int): Unit = if (enabled.get) counts.incrementAndGet(i)

  /** Call counts by name plus `bytes_read` / `bytes_written` of the `file:` scheme. */
  def snapshot(): Map[String, Long] = {
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    names.indices.map(i => names(i) -> counts.get(i)).toMap ++ Map(
      "bytes_read" -> stats.map(_.getBytesRead).sum,
      "bytes_written" -> stats.map(_.getBytesWritten).sum)
  }
}
