package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What one op reports back to the loop. `rows` is the op's unit of work
  * for `rows_per_s`; `tableBlocks` the OCF blocks of the tables it read;
  * `payloadBytes` the bytes it handed the engine to ingest. */
final case class OpOut(ok: Boolean, rows: Long, detail: String = "",
                       tableBlocks: Long = 0L, payloadBytes: Long = 0L, scanTasks: Long = 0L)

/** A named interval inside one op. Times are ms on the same clock as the
  * listener bus (`System.currentTimeMillis`), kept as doubles. */
final case class Span(name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** The child spans of one op: `plan`, `execute`, `verify`, `maintenance`.
  * Recording is two clock reads per span, so the untraced runs keep it
  * too. (The commit tail is derived from `execute` and the job spans.) */
final class Spans {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  def apply[T](name: String)(body: => T): T = {
    val s = Clock.nowMs()
    try body finally spans += Span(name, s, Clock.nowMs())
  }
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One closed-loop workload. `prepare()` generates the seeded inputs and
  * the expected answers once; `setup(rep)` does the engine's part of the
  * set-up (landing, caching, starting streams, warm-up) into a fresh
  * namespace and is repeated to measure set-up time (the last repetition
  * is the one the ops use); `op(i)` runs one checked operation; `finish()`
  * runs the end-of-run check. */
trait Workload {
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  def op(i: Int, sp: Spans): OpOut
  /** Ops per cycle of the op sequence; a timed loop ends on a cycle
    * boundary, so every run holds the same mix of op kinds. */
  def cycle: Int
  /** The tail percentile reported as `op_tail_ms`: the highest one with at
    * least ten samples beyond it at this workload's usual op count, fixed
    * so that a change in the op count cannot move it. */
  def tailPct: Double
  def finish(): Boolean
  def storedBytesPerRow: Double
  /** Single-thread kernel cost (ms) of one op, from the kernel probe's
    * rates, for the kernel's share of executor CPU. */
  def kernelCostMs(rates: Map[String, Double]): Double = 0.0
}

object Shuffle {
  /** A seeded Fisher-Yates permutation. */
  def apply(xs: IndexedSeq[Int], r: java.util.Random): IndexedSeq[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Answer comparison for query results: rows compared as multisets,
  * doubles within a relative 1e-9 (sums may run in another order). */
object Answers {
  type Answer = Seq[Seq[Any]]

  def of(rows: Array[Row]): Answer =
    rows.toSeq.map(r => r.toSeq.map(norm)).sortBy(_.map(k => if (k == null) "" else k.toString).mkString("\u0001"))

  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case xs: scala.collection.Seq[_] => xs.map(norm)
    case o => o
  }

  def same(a: Answer, b: Answer): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => x.size == y.size && x.zip(y).forall((close _).tupled) }

  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) => p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
    case (p: Seq[_], q: Seq[_]) => p.size == q.size && p.zip(q).forall((close _).tupled)
    case _ => x == y
  }
}

object Files {
  /** Files that appeared in / vanished from a tree between two listings. */
  final case class Diff(created: Long, removed: Long, bytesCreated: Long)

  def sizes(root: java.io.File): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk)) else out += f.getPath -> f.length
    walk(root)
    out.result()
  }

  def diff(before: Map[String, Long], after: Map[String, Long]): Diff = {
    val created = after.keySet -- before.keySet
    Diff(created.size, (before.keySet -- after.keySet).size, created.iterator.map(after).sum)
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: java.io.File): Long = sizes(dir).values.sum
}

object Session {
  def start(cores: Int, work: java.io.File, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", new java.io.File(work, "warehouse").getAbsolutePath)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    if (trace) {
      // the JVM-wide FileSystem cache may hold a `file:` instance created
      // before the session conf applied; drop it so the counting one is used
      val uri = new java.net.URI("file:///")
      val conf = spark.sparkContext.hadoopConfiguration
      if (!org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingLocalFileSystem]) {
        org.apache.hadoop.fs.FileSystem.closeAll()
        require(org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingLocalFileSystem],
          "counting file system did not install")
      }
    }
    spark
  }
}
