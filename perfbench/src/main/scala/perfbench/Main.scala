package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One op as the loop saw it. */
final case class OpRec(i: Int, startMs: Double, endMs: Double, out: OpOut, spans: Seq[Span], error: Option[String],
                       files: Files.Diff = Files.Diff(0, 0, 0)) {
  def ms: Double = endMs - startMs
  def good: Boolean = error.isEmpty && out.ok
  def group: String = s"op-$i"
}

final case class Phase(ops: Seq[OpRec], wallS: Double, cpuMs: Double, gcMs: Double, stealMs: Double = 0) {
  def good: Seq[OpRec] = ops.filter(_.good)
  def failed: Int = ops.count(!_.good)
  def p50: Double = Stats.median(ops.map(_.ms))
}

/** Runs one workload: set-up (repeated, median reported), a closed loop of
  * checked ops for `--seconds`, the end-of-run check, and prints a report
  * plus the one-line JSON result. `--trace 1` first runs an untraced
  * comparison phase of a quarter of the time, then attaches the outside-in
  * collectors for the measured phase and reports the per-layer metrics. */
object Main {
  val SetupReps = 3

  /** Per-layer metric → unit. Every traced run reports all of them. */
  val LayerUnits: Seq[(String, String)] =
    Shapes.Names.flatMap(s => Seq(s"avro.decode_rows_per_s.$s" -> "rows/s", s"avro.decode_mb_per_s.$s" -> "MB/s")) ++
      DecodeInputs.Codecs.map(c => s"avro.ocf_read_mb_per_s.$c" -> "MB/s") ++
      DecodeInputs.Codecs.filter(_ != "null").map(c => s"avro.decompress_mb_per_s.$c" -> "MB/s") ++
      Seq("avro.kernel_share_of_executor_cpu" -> "ratio",
        "framing.kpl_mb_per_s" -> "MB/s", "framing.spring_mb_per_s" -> "MB/s", "framing.registry_get_ns" -> "ns") ++
      Shapes.Names.map(s => s"spark.catalyst_decode_rows_per_s.$s" -> "rows/s") ++
      Seq("spark.catalyst_encode_rows_per_s" -> "rows/s",
        "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count", "exec.driver_ms" -> "ms",
        "exec.task_deserialize_ms" -> "ms", "exec.executor_cpu_ms" -> "ms", "exec.executor_run_ms" -> "ms",
        "exec.gc_ms" -> "ms", "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
        "sources.scan_plan_ms" -> "ms", "sources.scan_tasks" -> "count", "sources.blocks_read" -> "count",
        "sources.bytes_read" -> "B", "sources.blocks_read_ratio" -> "ratio",
        "sources.files_written" -> "count", "sources.rows_written" -> "rows", "sources.bytes_written" -> "B",
        "sources.commit_tail_ms" -> "ms", "sources.write_amp" -> "ratio", "sources.maintenance_ms" -> "ms",
        "sources.maintenance_bytes_rewritten" -> "B",
        "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
        "streaming.latest_offset_ms" -> "ms", "streaming.trigger_ms" -> "ms") ++
      CountingLocalFileSystem.names.map(n => s"fs.$n" -> "count") ++
      Seq("fs.bytes_read" -> "B", "fs.bytes_written" -> "B",
        "fs.files_landed" -> "count", "fs.files_removed" -> "count", "fs.bytes_landed" -> "B",
        "jvm.gc_ms_per_op" -> "ms", "jvm.heap_after_gc_mb" -> "MB",
        "span.op_self_ms" -> "ms", "span.plan_self_ms" -> "ms", "span.execute_self_ms" -> "ms",
        "span.verify_self_ms" -> "ms", "span.maintenance_self_ms" -> "ms",
        "trace.overhead_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new java.io.File(a("work")).getAbsoluteFile
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = Session.start(cores, work, trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = workload match {
      case "stream_decode" => new StreamDecode(spark, seed, cores)
      case "lake_scan" => new LakeScan(spark, seed, cores, work, orders = 12000, docs = 6000, appends = 4)
      case "ingest_upsert" => new IngestUpsert(spark, seed, work, newPerEpoch = 5000, updatesPerEpoch = 3000)
    }
    var exit = 1
    try {
      val p0 = System.nanoTime()
      wl.prepare()
      val prepareS = (System.nanoTime() - p0) / 1e9
      val repS = (0 until SetupReps).map { r =>
        val s = System.nanoTime(); wl.setup(r); (System.nanoTime() - s) / 1e9
      }
      val setupS = sessionS + prepareS + Stats.median(repS)
      val report = mutable.LinkedHashMap.empty[String, Any]
      report("workload") = workload; report("seed") = seed; report("local") = s"local[$cores]"
      report("nproc") = Runtime.getRuntime.availableProcessors
      report("heap") = a.getOrElse("heap", "")
      report("session_s") = sessionS; report("prepare_s") = prepareS; report("setup_reps_s") = repS

      val (phase, metrics, untraced) = if (!trace) {
        val p = run(spark, wl, seconds, 0)
        (p, endToEnd(wl, p, setupS, wl.storedBytesPerRow, report), None)
      } else {
        // untraced quarters before and after the traced phase, so warm-up
        // drift does not read as tracing overhead
        val u1 = run(spark, wl, seconds / 4, 0)
        val layers = new Layers(spark)
        layers.attach()
        val p = run(spark, wl, seconds, u1.ops.size, Some(new java.io.File(work, "warehouse")))
        layers.detach()
        val u2 = run(spark, wl, seconds / 4, u1.ops.size + p.ops.size)
        val u = Phase(u1.ops ++ u2.ops, u1.wallS + u2.wallS, u1.cpuMs + u2.cpuMs, u1.gcMs + u2.gcMs)
        val inputs = wl match { case s: StreamDecode => s.inputs; case _ => new DecodeInputs(seed, StreamDecode.Base) }
        val m = layers.metrics(p, u, wl, inputs)
        report("unmeasured") = Layers.Unmeasured
        Option(a.getOrElse("trace-dir", null)).foreach(d => layers.writeSpans(new java.io.File(d), s"$workload-seed$seed", p))
        report("traced_end_to_end") = endToEnd(wl, p, setupS, wl.storedBytesPerRow, report)
        (p, m, Some(u))
      }
      val finished = try wl.finish() catch { case e: Exception => report("finish_error") = e.toString; false }
      val attempted = phase.ops.size + untraced.map(_.ops.size).getOrElse(0)
      val failed = phase.failed + untraced.map(_.failed).getOrElse(0)
      report("fail_ratio") = failed.toDouble / math.max(1, attempted)
      report("final_check") = if (finished) "table matches the replay" else "FAILED"
      (phase.ops ++ untraced.toSeq.flatMap(_.ops)).filterNot(_.good).take(5).foreach { o =>
        System.err.println(s"perfbench: op ${o.i} failed: ${o.error.getOrElse(o.out.detail)}")
      }
      val units = if (trace) LayerUnits.toMap else EndToEndUnits.toMap
      metrics.foreach { case (k, v) => println(f"$k%-40s ${fmt(v)}%14s ${units(k)}") }
      println("detail " + Json(report))
      val correct = failed == 0 && finished
      println(Json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> (failed + (if (finished) 0 else 1)),
        "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })))
      exit = if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        exit = 1
    } finally {
      wl match { case i: IngestUpsert => i.stop(); case _ => }
      spark.stop()
    }
    System.out.flush()
    sys.exit(exit)
  }

  private def fmt(v: Double): String = if (math.abs(v) >= 1000) f"$v%.1f" else f"$v%.4f"

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "queries_per_s" -> "1/s", "rows_per_s" -> "rows/s", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "cpu_ms_per_op" -> "ms", "stored_bytes_per_row" -> "B/row")

  private def endToEnd(wl: Workload, p: Phase, setupS: Double, storedPerRow: Double,
                       report: mutable.Map[String, Any]): mutable.LinkedHashMap[String, Double] = {
    val lat = p.ops.map(_.ms)
    val n = lat.size
    val tailPct = wl.tailPct
    report("op_tail_pct") = tailPct; report("op_samples") = n
    report("op_tail_samples_beyond") = lat.count(_ > Stats.pct(lat, tailPct))
    report("ops_failed") = p.failed; report("wall_s") = p.wallS; report("gc_ms") = p.gcMs
    report("host_steal_ms") = p.stealMs
    mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "queries_per_s" -> p.good.size / p.wallS,
      "rows_per_s" -> p.good.map(_.out.rows).sum / p.wallS,
      "op_p50_ms" -> Stats.median(lat),
      "op_tail_ms" -> Stats.pct(lat, tailPct),
      "cpu_ms_per_op" -> p.cpuMs / math.max(1, n),
      "stored_bytes_per_row" -> storedPerRow)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** CPU time the host took from this machine's virtual CPUs (the `steal`
    * column of /proc/stat, ms summed over CPUs); 0 where not available. */
  def stealMs(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble * 10 finally f.close()
  } catch { case _: Exception => 0.0 }

  /** The closed loop: one client thread runs ops back to back until
    * `seconds` have passed and a cycle of the op mix is complete; each op's
    * jobs carry the op id as job group. */
  def run(spark: SparkSession, wl: Workload, seconds: Double, firstOp: Int,
          watch: Option[java.io.File] = None): Phase = {
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs()
    val steal0 = stealMs()
    val t0 = System.nanoTime()
    var i = firstOp
    while ((System.nanoTime() - t0) / 1e9 < seconds || (i - firstOp) % wl.cycle != 0) {
      val sp = new Spans
      val before = watch.map(Files.sizes)
      sc.setJobGroup(s"op-$i", "perfbench op", interruptOnCancel = false)
      val s = Clock.nowMs()
      val (out, err) =
        try (wl.op(i, sp), None)
        catch { case e: Exception => (OpOut(ok = false, rows = 0), Some(e.toString)) }
        finally sc.clearJobGroup()
      val e = Clock.nowMs()
      val diff = before.map(b => Files.diff(b, Files.sizes(watch.get))).getOrElse(Files.Diff(0, 0, 0))
      ops += OpRec(i, s, e, out, sp.spans.toSeq, err, diff)
      i += 1
    }
    Phase(ops.toSeq, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e6, gcMs() - gc0, stealMs() - steal0)
  }
}
