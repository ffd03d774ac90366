package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

/** The traced run's collectors and the per-layer metrics computed from
  * them. Everything is observed from outside the engine: the listener bus
  * (jobs, stages, tasks, `ocf*` custom metrics), streaming progress, the
  * counting `file:` file system, the JVM's MXBeans, the op spans, and the
  * Spark-free kernel probe. */
final class Layers(spark: SparkSession) {
  private val exec = new ExecListener
  private val streams = new StreamListener
  private var fs0: Map[String, Long] = Map.empty
  private var fs1: Map[String, Long] = Map.empty

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(streams)
    fs0 = CountingLocalFileSystem.snapshot()
    CountingLocalFileSystem.enabled.set(true)
  }

  def detach(): Unit = {
    CountingLocalFileSystem.enabled.set(false)
    fs1 = CountingLocalFileSystem.snapshot()
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.streams.removeListener(streams)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1).foreach {
      case (s, e) => if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  private def jobsOf(op: OpRec, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.group == op.group || (j.startMs >= op.startMs && j.startMs <= op.endMs))

  private def interval(j: JobRec): (Double, Double) = (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)

  def metrics(p: Phase, untraced: Phase, wl: Workload, inputs: DecodeInputs): mutable.LinkedHashMap[String, Double] = {
    val ops = p.ops
    val n = math.max(1, ops.size).toDouble
    val jobs = exec.snapshot()
    val progress = streams.snapshot()
    val byOp = ops.map(o => o -> jobsOf(o, jobs))
    val opJobs = byOp.flatMap(_._2).distinctBy(_.id)
    def perOp(f: JobRec => Double): Double = opJobs.map(f).sum / n
    def accum(name: String): Double = perOp(_.accums(name).toDouble)
    def spanMs(name: String): Seq[Span] = ops.flatMap(_.spans.filter(_.name == name))
    val m = mutable.LinkedHashMap.empty[String, Double]
    Main.LayerUnits.foreach { case (k, _) => m(k) = 0.0 }

    val kernel = KernelProbe.run(inputs)
    kernel.foreach { case (k, v) => m(k) = v }

    m("exec.jobs") = opJobs.size / n
    m("exec.stages") = perOp(_.stages.toDouble)
    m("exec.tasks") = perOp(_.tasks.toDouble)
    m("exec.driver_ms") = byOp.map { case (o, js) => o.ms - covered(js.map(interval), o.startMs, o.endMs) }.sum / n
    m("exec.task_deserialize_ms") = perOp(_.deserializeMs.toDouble)
    m("exec.executor_cpu_ms") = perOp(_.cpuNs / 1e6)
    m("exec.executor_run_ms") = perOp(_.runMs.toDouble)
    m("exec.gc_ms") = perOp(_.gcMs.toDouble)
    m("exec.shuffle_write_bytes") = perOp(_.shuffleWriteBytes.toDouble)
    m("exec.shuffle_read_bytes") = perOp(_.shuffleReadBytes.toDouble)
    val kernelMs = wl.kernelCostMs(kernel)
    if (m("exec.executor_cpu_ms") > 0) m("avro.kernel_share_of_executor_cpu") = kernelMs / m("exec.executor_cpu_ms")

    m("sources.scan_plan_ms") = ops.filter(_.out.tableBlocks > 0).flatMap(_.spans.filter(_.name == "plan")).map(_.ms).sum / n
    m("sources.scan_tasks") = ops.map(_.out.scanTasks).sum / n
    m("sources.blocks_read") = accum("OCF blocks visited")
    m("sources.bytes_read") = accum("OCF bytes fetched")
    val tableBlocks = ops.map(_.out.tableBlocks).sum
    if (tableBlocks > 0) m("sources.blocks_read_ratio") = m("sources.blocks_read") * n / tableBlocks
    m("sources.files_written") = accum("OCF files written")
    m("sources.rows_written") = accum("OCF datums written")
    m("sources.bytes_written") = accum("OCF bytes written (post-codec)")
    // statement return minus the end of its last job, for ops that wrote
    m("sources.commit_tail_ms") = byOp.map { case (o, js) =>
      o.spans.find(_.name == "execute").map { ex =>
        val writes = js.filter(j => j.startMs >= ex.startMs && j.startMs <= ex.endMs && j.accums("OCF files written") > 0)
        if (writes.isEmpty) 0.0 else math.max(0.0, ex.endMs - writes.map(_.endMs).max)
      }.getOrElse(0.0)
    }.sum / n
    val payload = ops.map(_.out.payloadBytes).sum
    val fs = fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)).toDouble }
    // files the engine writes through java.nio are invisible to the Hadoop
    // counters; the warehouse diff around each op sees them land
    m("fs.files_landed") = ops.map(_.files.created).sum / n
    m("fs.files_removed") = ops.map(_.files.removed).sum / n
    m("fs.bytes_landed") = ops.map(_.files.bytesCreated).sum / n
    if (payload > 0) m("sources.write_amp") = ops.map(_.files.bytesCreated).sum.toDouble / payload
    val maint = spanMs("maintenance")
    m("sources.maintenance_ms") = maint.map(_.ms).sum / n
    m("sources.maintenance_bytes_rewritten") = opJobs.filter(j => maint.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
      .map(_.accums("OCF bytes written (post-codec)").toDouble).sum / n

    val inOps = progress.filter(pr => ops.exists(o => pr.triggerStartMs >= o.startMs - 1 && pr.triggerStartMs <= o.endMs))
    def dur(k: String): Double = inOps.map(_.durations.getOrElse(k, 0L)).sum / n
    m("streaming.add_batch_ms") = dur("addBatch")
    m("streaming.query_planning_ms") = dur("queryPlanning")
    m("streaming.wal_commit_ms") = dur("walCommit")
    m("streaming.latest_offset_ms") = dur("latestOffset")
    m("streaming.trigger_ms") = dur("triggerExecution")

    fs.foreach { case (k, v) => m(s"fs.$k") = v / n }
    m("jvm.gc_ms_per_op") = p.gcMs / n
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m("jvm.heap_after_gc_mb") = heap.getUsed / 1e6

    m("span.op_self_ms") = ops.map(o => o.ms - covered(o.spans.map(s => (s.startMs, s.endMs)), o.startMs, o.endMs)).sum / n
    Seq("plan", "execute", "verify", "maintenance").foreach { name =>
      m(s"span.${name}_self_ms") = byOp.flatMap { case (o, js) =>
        o.spans.filter(_.name == name).map(s => s.ms - covered(js.map(interval), s.startMs, s.endMs))
      }.sum / n
    }
    if (untraced.p50 > 0) m("trace.overhead_pct") = (p.p50 / untraced.p50 - 1) * 100
    m
  }

  /** Spans of the traced phase: op roots with their children and the
    * listener's job spans (stage counts included). */
  def writeSpans(dir: java.io.File, name: String, p: Phase): Unit = {
    dir.mkdirs()
    val jobs = exec.snapshot()
    val ops = p.ops.map { o =>
      Map("op" -> o.i, "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.good,
        "children" -> (o.spans.map(s => Map("name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
          jobsOf(o, jobs).map(j => Map("name" -> s"job-${j.id}", "start_ms" -> j.startMs.toDouble,
            "end_ms" -> j.endMs.toDouble, "stages" -> j.stages, "tasks" -> j.tasks))))
    }
    java.nio.file.Files.write(new java.io.File(dir, s"$name.json").toPath, Json(Map("ops" -> ops)).getBytes("UTF-8"))
  }
}

object Layers {
  /** What the collectors cannot see from outside the engine, and why. */
  val Unmeasured: Map[String, String] = Map(
    "fs.create, fs.rename, fs.bytes_written of commits" ->
      ("graft.sources.GraftIO creates and renames file: paths through java.nio, bypassing Hadoop FileSystem; " +
        "fs.files_landed and fs.bytes_landed count what lands in the warehouse instead"),
    "graft.spark.OcfFiles" -> "writes through java.nio; no workload calls it",
    "scan planning apart from analysis and optimization" ->
      "sources.scan_plan_ms is the whole queryExecution.executedPlan time of the op's query")
}
