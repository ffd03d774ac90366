package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

/** `lake_scan`: readers query Avro landed in `GraftCatalog` tables. Set-up
  * generates `lineitem`, `orders` and the nested `documents` table from the
  * seed, lands them through `graft-ocf` by many appends (partitioned, with
  * stats, Bloom and block index columns) and adds a merge-on-read `DELETE`
  * layer. Each op runs one query of a fixed mix; its answer is compared with
  * the query's answer computed in plain Scala over the generated rows (minus
  * the deleted ones), once per run. */
final class LakeScan(spark: SparkSession, seed: Long, cores: Int, work: java.io.File,
                     orders: Int, docs: Int, appends: Int) extends Workload {
  import LakeScan._

  /** A query and its oracle over the live generated rows. */
  private case class Query(kind: String, sql: String, tables: Seq[String], oracle: Live => Seq[Row]) {
    def on(prefix: String): String = tables.foldLeft(sql)((s, t) => s.replace(s"{$t}", s"$prefix$t"))
  }

  private var ns = ""
  private var pool: IndexedSeq[Query] = IndexedSeq.empty
  private var answers: IndexedSeq[Answers.Answer] = IndexedSeq.empty
  private var order: IndexedSeq[Int] = IndexedSeq.empty
  private var blocks: Map[String, Long] = Map.empty
  private var liveRows = 0L
  private var tableRows: Map[String, Long] = Map.empty

  private var sources: Map[String, DataFrame] = Map.empty

  override def prepare(): Unit = {
    val (li, od, dc) = generate(new java.util.Random(seed))
    val generated = Map("lineitem" -> li, "orders" -> od, "documents" -> dc)
    // the landing source: the generated rows, checkpointed so the appends
    // do not ship them with every task
    sources = Map("lineitem" -> LineitemType, "orders" -> OrdersType, "documents" -> DocumentsType).map { case (t, tp) =>
      t -> spark.createDataFrame(spark.sparkContext.parallelize(generated(t), cores), tp).localCheckpoint(eager = true)
    }
    val live = Live(generated.map { case (t, rows) => t -> Deletes.get(t).fold(rows)(d => rows.filterNot(d._2)) })
    pool = queries(new java.util.Random(seed ^ 0x5eed))
    answers = pool.map(q => Answers.of(q.oracle(live).toArray))
    tableRows = Tables.map(t => t -> live.rows(t).size.toLong).toMap
    liveRows = tableRows.values.sum
    // each cycle runs one query of every kind, in a seeded order; the
    // cycles alternate between the two instances of each kind
    val r = new java.util.Random(seed ^ 0xc0ffee)
    order = (0 until 64).flatMap(c => Shuffle(pool.indices.filter(_ / cycle == c % 2), r))
  }

  override def setup(rep: Int): Unit = {
    ns = s"bench.lake$rep"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    Ddl.foreach { case (t, ddl) => spark.sql(s"CREATE TABLE $ns.$t $ddl") }
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "documents" -> "doc_id").foreach { case (t, k) =>
      // one writer task per append: each append adds one file per partition
      (0 until appends).foreach(i => sources(t).where(s"pmod($k, $appends) = $i").coalesce(1).writeTo(s"$ns.$t").append())
    }
    Deletes.foreach { case (t, (pred, _)) => spark.sql(s"DELETE FROM $ns.$t WHERE $pred") }
    blocks = Tables.map(t => t -> dataBlocks(tableDir(t))).toMap
    pool.indices.groupBy(pool(_).kind).values.map(_.head).foreach { i => // warm-up: one query of each kind
      val o = runQuery(i, new Spans)
      if (!o.ok) System.err.println(s"perfbench: warm-up ${o.detail}")
    }
  }

  private def tableDir(t: String): java.io.File =
    new java.io.File(new java.io.File(work, "warehouse"), ns.stripPrefix("bench.") + "/" + t)

  private def runQuery(qi: Int, sp: Spans): OpOut = {
    val q = pool(qi)
    val df = sp("plan") { val d = spark.sql(q.on(s"$ns.")); d.queryExecution.executedPlan; d }
    val rows = sp("execute")(df.collect())
    sp("verify") {
      val got = Answers.of(rows)
      val ok = Answers.same(got, answers(qi))
      OpOut(ok, q.tables.map(tableRows).sum,
        if (ok) "" else s"${q.kind}: answer differs from the oracle: got ${got.take(3)} want ${answers(qi).take(3)}",
        tableBlocks = q.tables.map(blocks).sum, scanTasks = PlanWalk.scanTasks(df.queryExecution.executedPlan))
    }
  }

  override def op(i: Int, sp: Spans): OpOut = runQuery(order(i % order.size), sp)

  override def tailPct: Double = 75.0

  override def cycle: Int = Kinds

  override def finish(): Boolean = true

  override def storedBytesPerRow: Double =
    Tables.map(t => Files.treeBytes(tableDir(t))).sum.toDouble / liveRows

  private def queries(r: java.util.Random): IndexedSeq[Query] = {
    def key = 1 + r.nextInt(orders)
    def mode = ShipModes(r.nextInt(ShipModes.length))
    (0 until 2).flatMap { _ =>
      val (k, m1, m2, d, x) = (key.toLong, mode, mode, r.nextInt(90), r.nextInt(4000))
      val d1 = LocalDate.of(1993, 1, 1).plusDays(r.nextInt(1500))
      val lo = key.toLong
      val cutoff = LocalDate.of(1999, 1, 1).minusDays(d)
      Seq(
        // explicit columns: a partitioned table lists its partition column last
        Query("point_lookup", s"SELECT ${LineitemType.fieldNames.mkString(", ")} FROM {lineitem} WHERE l_orderkey = $k",
          Seq("lineitem"), _.li.filter(_.getLong(0) == k)),
        Query("partition_agg", s"SELECT l_returnflag, count(*), sum(l_quantity), sum(l_extendedprice) " +
          s"FROM {lineitem} WHERE l_shipmode = '$m1' GROUP BY l_returnflag", Seq("lineitem"),
          _.li.filter(_.getString(11) == m1).groupBy(_.getString(8)).toSeq.map { case (f, rs) =>
            Row(f, rs.size.toLong, rs.map(_.getDouble(4)).sum, rs.map(_.getDouble(5)).sum) }),
        Query("full_scan_agg", s"SELECT l_linestatus, l_returnflag, count(*), sum(l_extendedprice * (1 - l_discount)), " +
          s"avg(l_quantity), max(l_shipdate) FROM {lineitem} WHERE l_shipdate <= date_sub(DATE'1999-01-01', $d) " +
          "GROUP BY l_linestatus, l_returnflag", Seq("lineitem"),
          _.li.filter(r => !date(r, 10).isAfter(cutoff)).groupBy(r => (r.getString(9), r.getString(8))).toSeq.map {
            case ((s, f), rs) => Row(s, f, rs.size.toLong, rs.map(r => r.getDouble(5) * (1 - r.getDouble(6))).sum,
              rs.map(_.getDouble(4)).sum / rs.size, rs.map(_.getDate(10)).maxBy(_.getTime)) }),
        Query("nested_projection", s"SELECT meta.lang, count(*), sum(meta.stats.n_words), max(doc_id), sum(size(tags)) " +
          s"FROM {documents} WHERE meta.stats.n_chars > $x GROUP BY meta.lang", Seq("documents"),
          _.dc.filter(_.getStruct(1).getStruct(2).getInt(0) > x).groupBy(_.getStruct(1).getString(0)).toSeq.map {
            case (lang, rs) => Row(lang, rs.size.toLong, rs.map(_.getStruct(1).getStruct(2).getInt(1).toLong).sum,
              rs.map(_.getLong(0)).max, rs.map(_.getSeq[String](2).size.toLong).sum) }),
        Query("count_min_max", s"SELECT count(*), min(l_orderkey), max(l_orderkey), min(l_shipdate), max(l_shipdate) " +
          s"FROM {lineitem} WHERE l_shipmode = '$m2'", Seq("lineitem"), { l =>
          val rs = l.li.filter(_.getString(11) == m2)
          Seq(Row(rs.size.toLong, rs.map(_.getLong(0)).min, rs.map(_.getLong(0)).max,
            rs.map(_.getDate(10)).minBy(_.getTime), rs.map(_.getDate(10)).maxBy(_.getTime)))
        }),
        Query("broadcast_join", s"SELECT o_orderpriority, count(*), sum(l_extendedprice) FROM {lineitem} " +
          s"JOIN {orders} ON l_orderkey = o_orderkey WHERE o_orderdate BETWEEN DATE'$d1' AND DATE'${d1.plusDays(60)}' " +
          "AND o_orderstatus = 'F' GROUP BY o_orderpriority", Seq("lineitem", "orders"), { l =>
          val picked = l.od.filter(o => o.getString(2) == "F" && !date(o, 4).isBefore(d1) && !date(o, 4).isAfter(d1.plusDays(60)))
            .map(o => o.getLong(0) -> o.getString(5)).toMap
          l.li.filter(r => picked.contains(r.getLong(0))).groupBy(r => picked(r.getLong(0))).toSeq.map { case (p, rs) =>
            Row(p, rs.size.toLong, rs.map(_.getDouble(5)).sum) }
        }),
        Query("merge_on_read", s"SELECT o_orderstatus, count(*), sum(o_totalprice), min(o_orderkey) FROM {orders} " +
          s"WHERE o_orderkey BETWEEN $lo AND ${lo + orders / 4} GROUP BY o_orderstatus", Seq("orders"),
          _.od.filter(o => o.getLong(0) >= lo && o.getLong(0) <= lo + orders / 4).groupBy(_.getString(2)).toSeq.map {
            case (st, rs) => Row(st, rs.size.toLong, rs.map(_.getDouble(3)).sum, rs.map(_.getLong(0)).min) }))
    }.toIndexedSeq
  }

  private def date(r: Row, i: Int): LocalDate = r.getDate(i).toLocalDate

  private def generate(r: java.util.Random): (Seq[Row], Seq[Row], Seq[Row]) = {
    val li = mutable.ArrayBuffer.empty[Row]
    val od = mutable.ArrayBuffer.empty[Row]
    val base = LocalDate.of(1992, 1, 1)
    for (k <- 1L to orders.toLong) {
      val date = base.plusDays(r.nextInt(2400))
      od += Row(k, 1L + r.nextInt(orders / 10), Statuses(r.nextInt(3)), Shapes.eighths(r, 400000),
        java.sql.Date.valueOf(date), Priorities(r.nextInt(Priorities.length)), Shapes.str(r, 10, 40))
      for (ln <- 1 to 1 + r.nextInt(7)) {
        li += Row(k, ln, 1L + r.nextInt(200000), 1L + r.nextInt(10000), (1 + r.nextInt(50)).toDouble,
          Shapes.eighths(r, 100000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Flags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
          java.sql.Date.valueOf(date.plusDays(1 + r.nextInt(120))), ShipModes(r.nextInt(ShipModes.length)),
          Shapes.str(r, 10, 40))
      }
    }
    val dc = (1L to docs.toLong).map { k =>
      val chars = 50 + r.nextInt(5000)
      Row(k, Row(Langs(r.nextInt(Langs.length)), Sources(r.nextInt(Sources.length)), Row(chars, chars / (4 + r.nextInt(4)))),
        (0 until r.nextInt(5)).map(_ => Tags(r.nextInt(Tags.length))), Shapes.str(r, 20, 80))
    }
    (li.toSeq, od.toSeq, dc)
  }
}

object LakeScan {
  val Tables: Seq[String] = Seq("lineitem", "orders", "documents")
  val Kinds = 7
  val ShipModes: Array[String] = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Langs: Array[String] = Array("en", "de", "fr", "es", "ja", "pt")
  val Sources: Array[String] = Array("web", "news", "forum", "wiki")
  val Tags: Array[String] = Array("a", "bb", "ccc", "dddd", "eeeee", "ffffff")
  val Statuses: Array[String] = Array("F", "O", "P")
  val Flags: Array[String] = Array("R", "A", "N")
  val LineStatuses: Array[String] = Array("O", "F")

  val LineitemType: StructType = StructType.fromDDL(
    "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate DATE, l_shipmode STRING, l_comment STRING")
  val OrdersType: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, " +
      "o_orderpriority STRING, o_comment STRING")
  val DocumentsType: StructType = StructType.fromDDL(
    "doc_id BIGINT, meta STRUCT<lang: STRING, source: STRING, stats: STRUCT<n_chars: INT, n_words: INT>>, " +
      "tags ARRAY<STRING>, text STRING")

  private val Mor = "`write.delete.mode` 'merge-on-read'"
  val Ddl: Seq[(String, String)] = Seq(
    "lineitem" -> (s"(${LineitemType.toDDL}) USING `graft-ocf` PARTITIONED BY (l_shipmode) " +
      s"OPTIONS (statsColumns 'l_orderkey,l_shipdate', bloomColumns 'l_orderkey', blockIndex 'true', $Mor)"),
    "orders" -> (s"(${OrdersType.toDDL}) USING `graft-ocf` PARTITIONED BY (o_orderpriority) " +
      s"OPTIONS (statsColumns 'o_orderkey,o_orderdate', bloomColumns 'o_orderkey', blockIndex 'true', $Mor)"),
    "documents" -> (s"(${DocumentsType.toDDL}) USING `graft-ocf` " +
      s"OPTIONS (statsColumns 'doc_id', bloomColumns 'meta.lang', $Mor)"))

  /** The merge-on-read delete layer: SQL predicate and its Scala mirror. */
  val Deletes: Map[String, (String, Row => Boolean)] = Map(
    "lineitem" -> ("l_orderkey % 53 = 7", (r: Row) => r.getLong(0) % 53 == 7),
    "orders" -> ("o_orderkey % 41 = 5", (r: Row) => r.getLong(0) % 41 == 5))

  /** The generated rows still live after the delete layer. */
  final case class Live(rows: Map[String, Seq[Row]]) {
    def li: Seq[Row] = rows("lineitem"); def od: Seq[Row] = rows("orders"); def dc: Seq[Row] = rows("documents")
  }

  /** OCF blocks in the table's live data files (delete files excluded). */
  def dataBlocks(dir: java.io.File): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(dir).filter { f =>
      val n = f.getName
      n.endsWith(".avro") && !n.startsWith(".") && !n.contains("del") && !f.getPath.contains("/_")
    }.map { f =>
      val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      try { var n = 0L; while (r.hasNext) { r.nextBlock(); n += 1 }; n } finally r.close()
    }.sum
  }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Input partitions planned by every DSv2 scan of an executed plan. */
  def scanTasks(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case b: BatchScanExec => b.inputPartitions.size.toLong }.sum
}
