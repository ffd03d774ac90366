package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import OcfPackedPartition.splitsOf

/** Small-split packing: a scan of many small files runs about one task per
  * core (Spark's `FilePartition` rule over `spark.sql.files.*`), every
  * reader factory reads a packed task as its splits in turn, and the scans
  * that promise Spark one key or one sorted run per task stay unpacked. */
class OcfPackingSpec extends AnyFunSuite {

  private val warehouse = java.nio.file.Files.createTempDirectory("graft-pack-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-packing-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gp", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gp.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gp.ns")
    s
  }

  private def tempDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def scanOf(df: DataFrame): OcfScan =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[OcfScan]

  private def planned(df: DataFrame): Array[InputPartition] =
    scanOf(df).toBatch.planInputPartitions()

  private def packedCount(parts: Array[InputPartition]): Int =
    parts.count(_.isInstanceOf[OcfPackedPartition])

  /** Run `body` with session confs set, restoring the previous values. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** An open cost above any split size: every split is its own task, the
    * plan before packing — the reference the packed answers must match. */
  private def unpacked[T](body: => T): T =
    withConf("spark.sql.files.openCostInBytes" -> (1L << 40).toString)(body)

  /** `n` small files of flat (id, v) rows, ids 0 until rows. */
  private def smallFiles(n: Int, rows: Long, opts: (String, String)*): String = {
    val dir = tempDir("graft-pack")
    val w = spark.range(0, rows).selectExpr("id", "concat('v', id) AS v")
      .repartition(n).write.format("graft-ocf").mode("append")
    opts.foldLeft(w)((b, kv) => b.option(kv._1, kv._2)).save(dir)
    dir
  }

  private def lanes(df: DataFrame): Seq[Boolean] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.supportsColumnar }

  test("many small files plan about minPartitionNum tasks covering every split") {
    val dir = smallFiles(24, 2400)
    val df = spark.read.format("graft-ocf").load(dir)
    val parts = planned(df)
    val cores = spark.sparkContext.defaultParallelism
    assert(splitsOf(parts).size == 24, "every file is still planned, once")
    assert(splitsOf(parts).map(_.fileIndex).distinct.size == 24)
    assert(parts.length <= cores + 1 && packedCount(parts) > 0,
      s"24 small files at parallelism $cores planned ${parts.length} tasks")
    // the governing Spark conf: a smaller minPartitionNum packs tighter
    withConf("spark.sql.files.minPartitionNum" -> "2") {
      val two = planned(spark.read.format("graft-ocf").load(dir))
      assert(two.length <= 3, s"minPartitionNum=2 planned ${two.length} tasks")
      assert(splitsOf(two).size == 24)
    }
    unpacked {
      assert(planned(spark.read.format("graft-ocf").load(dir)).length == 24)
    }
    assert(df.count() == 2400L)
  }

  test("pack mirrors FilePartition: largest first, next-fit, large splits alone") {
    val mb = 1L << 20
    def sp(i: Int, len: Long): OcfSplit = OcfInputPartition(i, 0L, len)
    // 8 x 1 MB at openCost 4 MB over 2 cores: target = 40 MB / 2 = 20 MB,
    // so four splits (4 x 5 MB charged) fill a task
    val even = OcfScan.pack(Array.tabulate(8)(sp(_, mb)), 128 * mb, 4 * mb, 2)
    assert(even.length == 2)
    assert(even.forall(_.asInstanceOf[OcfPackedPartition].splits.length == 4))
    // the target never exceeds splitSize: a split of splitSize runs alone
    val mixed = OcfScan.pack(Array(sp(0, mb), sp(1, 16 * mb), sp(2, mb)), 16 * mb, 4 * mb, 1)
    assert(mixed.toSeq.map(p => splitsOf(Array(p))) ==
      Seq(Seq(sp(0, mb), sp(2, mb)), Seq(sp(1, 16 * mb))))
    assert(mixed(0).isInstanceOf[OcfPackedPartition] && mixed(1).isInstanceOf[OcfInputPartition])
    // nothing packs: the plan is returned as is, in order
    val alone = Array(sp(0, 64), sp(1, 64))
    assert(OcfScan.pack(alone, 64, 4 * mb, 4).toSeq == alone.toSeq)
  }

  test("packed answers are exact on the row lane (nested) and the columnar lane") {
    val dir = tempDir("graft-pack-nested")
    spark.range(0, 1200)
      .selectExpr("id", "named_struct('a', id * 2, 'b', concat('s', id)) AS s",
        "array(id, id + 1) AS xs")
      .repartition(20).write.format("graft-ocf").mode("append").save(dir)
    val expect = (0L until 1200L).map(i => (i, i * 2, s"s$i", Seq(i, i + 1)))
    def rows(df: DataFrame) = df.select("id", "s.a", "s.b", "xs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getSeq[Long](3))).toSeq.sortBy(_._1)

    val rowLane = spark.read.format("graft-ocf").option("columnar", "false").load(dir)
    assert(packedCount(planned(rowLane)) > 0)
    assert(lanes(rowLane) == Seq(false))
    assert(rows(rowLane) == expect)

    val flat = spark.read.format("graft-ocf").load(smallFiles(20, 1500))
    assert(packedCount(planned(flat)) > 0)
    assert(lanes(flat) == Seq(true))
    assert(flat.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted == (0L until 1500L).map(i => (i, s"v$i")))
  }

  test("packed answers are exact with _pos + position deletes and with equality deletes") {
    spark.sql(
      """CREATE TABLE gp.ns.mor (id BIGINT, v STRING) USING `graft-ocf`
        |OPTIONS (statsColumns 'id', `write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.range(0, 960).selectExpr("id", "concat('v', id) AS v").repartition(16)
      .writeTo("gp.ns.mor").append()
    spark.sql("DELETE FROM gp.ns.mor WHERE id % 10 = 3")
    def posRows(df: DataFrame) = df.selectExpr("id", "v", "_file", "_pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq.sorted
    val mor = spark.table("gp.ns.mor")
    val parts = planned(mor.selectExpr("id", "_pos"))
    assert(packedCount(parts) > 0, "whole-file _pos splits pack too")
    assert(splitsOf(parts).forall(s => s.start == 0L && !s.aligned))
    val got = posRows(mor)
    assert(got.map(_._1) == (0L until 960L).filterNot(_ % 10 == 3))
    assert(got.forall { case (id, v, _, _) => v == s"v$id" })
    assert(got == unpacked(posRows(spark.table("gp.ns.mor"))),
      "packed _pos ordinals equal the one-split-per-task read")

    spark.sql("CREATE TABLE gp.ns.eq (id BIGINT, v STRING) USING `graft-ocf`")
    spark.range(0, 960).selectExpr("id", "concat('v', id) AS v").repartition(16)
      .writeTo("gp.ns.eq").append()
    spark.range(0, 960, 7).selectExpr("id", "concat('u', id) AS v")
      .writeTo("gp.ns.eq").option("upsertKeys", "id").append()
    val eq = spark.table("gp.ns.eq")
    assert(scanOf(eq).description().contains("EqualityDeletes"))
    assert(packedCount(planned(eq)) > 0)
    val byId = eq.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(byId.length == 960 && byId.toMap.size == 960, "each key exactly once")
    assert(byId.forall { case (id, v) => v == (if (id % 7 == 0) s"u$id" else s"v$id") })
  }

  test("packed answers are exact under COUNT(*) and COUNT+MIN/MAX pushdown") {
    val df = spark.read.format("graft-ocf").load(smallFiles(24, 2400, "statsColumns" -> "id"))
    val cnt = df.groupBy().count()
    assert(scanOf(cnt).description().contains("PushedAggregation: [COUNT(*)]"))
    assert(packedCount(planned(cnt)) > 0)
    assert(cnt.head.getLong(0) == 2400L)

    val agg = df.agg(count("*"), min("id"), max("id"))
    assert(scanOf(agg).description().contains("PushedAggregation: [COUNT(*), MIN(id), MAX(id)]"),
      scanOf(agg).description())
    assert(packedCount(planned(agg)) > 0)
    val r = agg.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2400L, 0L, 2399L)))
  }

  test("runtime filtering reads the right rows through a factory built before filter()") {
    val dir = tempDir("graft-pack-dpp")
    spark.range(0, 900).selectExpr("id", "concat('p', id % 3) AS p").repartition(12)
      .write.format("graft-ocf").partitionBy("p").mode("append").save(dir)
    val fact = spark.read.format("graft-ocf").load(dir)
    val scan = scanOf(fact.select("id", "p")).asInstanceOf[SupportsRuntimeFiltering]
    val batch = scan.asInstanceOf[Batch]
    val preFactory = batch.createReaderFactory()
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("p", Array[Any]("p2"))))
    val parts = batch.planInputPartitions()
    assert(packedCount(parts) > 0 && splitsOf(parts).size == 12,
      s"the 12 surviving p2 files pack: ${parts.length} tasks")
    val rows = parts.toSeq.flatMap { part =>
      val r = preFactory.createReader(part)
      val b = Seq.newBuilder[(Long, String)]
      try while (r.next()) b += ((r.get().getLong(0), r.get().getUTF8String(1).toString))
      finally r.close()
      b.result()
    }
    assert(rows.forall(_._2 == "p2"))
    assert(rows.map(_._1).sorted == (0L until 900L).filter(_ % 3 == 2))
  }

  test("blocks and bytes read summed over packed tasks equal the unpacked plan") {
    val df = spark.read.format("graft-ocf").option("blockBytes", "512")
      .load(smallFiles(16, 4000))
    val scan = scanOf(df)
    val parts = planned(df)
    assert(packedCount(parts) > 0)
    val factory = scan.toBatch.createReaderFactory()
    def drain[T](r: PartitionReader[T]): Map[String, Long] =
      try { while (r.next()) r.get(); r.currentMetricsValues().map(m => m.name -> m.value).toMap }
      finally r.close()
    def total(ms: Seq[Map[String, Long]]): Map[String, Long] =
      ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val splits = splitsOf(parts).toArray[InputPartition]
    val rowPacked = total(parts.toSeq.map(p => drain(factory.createReader(p))))
    val rowSplit = total(splits.toSeq.map(p => drain(factory.createReader(p))))
    assert(rowPacked == rowSplit)
    assert(rowPacked("ocfSplitsRead") == 16L && rowPacked("ocfBlocksRead") >= 16L)
    val colPacked = total(parts.toSeq.map(p => drain(factory.createColumnarReader(p))))
    val colSplit = total(splits.toSeq.map(p => drain(factory.createColumnarReader(p))))
    assert(colPacked == colSplit && colPacked == rowPacked)

    // end to end: the scan node's SQL metrics, packed vs one split per task
    def scanMetrics(d: DataFrame): Map[String, Long] = {
      d.collect()
      d.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
        .metrics.collect { case (k, m) if k.startsWith("ocf") => k -> m.value }.toMap
    }
    val packedRun = scanMetrics(df.select("id", "v"))
    val unpackedRun = unpacked(scanMetrics(df.select("id", "v")))
    assert(packedRun == unpackedRun && packedRun("ocfSplitsRead") == 16L, s"$packedRun vs $unpackedRun")
  }

  test("withheld: a reportPartitioning scan keeps one key per partition") {
    val dir = tempDir("graft-pack-keyed")
    spark.range(0, 600).selectExpr("id", "concat('k', id % 3) AS p").repartition(8)
      .write.format("graft-ocf").partitionBy("p").mode("append").save(dir)
    val df = spark.read.format("graft-ocf").option("reportPartitioning", "true").load(dir)
      .select("id", "p")
    val parts = planned(df)
    assert(parts.length == 24 && packedCount(parts) == 0)
    assert(parts.forall(_.isInstanceOf[OcfKeyedInputPartition]))
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      assert(df.groupBy("p").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("k0" -> 200L, "k1" -> 200L, "k2" -> 200L))
    }
  }

  test("withheld: a sortedBy-stamped scan keeps its Sort elision and sorted tasks") {
    val dir = tempDir("graft-pack-sorted")
    spark.range(0, 1200).selectExpr("(id * 7919) % 1200 AS k", "id AS payload").repartition(16)
      .write.format("graft-ocf").option("sortColumns", "k").mode("append").save(dir)
    val df = spark.read.format("graft-ocf").load(dir)
    assert(scanOf(df).outputOrdering().nonEmpty)
    val parts = planned(df)
    assert(parts.length == 16 && packedCount(parts) == 0)
    val swp = df.sortWithinPartitions("k")
    val plan = swp.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ["), s"layout-satisfied sort must vanish:\n$plan")
    val runs = swp.select("k").rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toVector))
      .collect()
    assert(runs.forall(r => r == r.sorted), "every task's rows arrive sorted")
    assert(runs.flatten.sorted.toSeq == (0L until 1200L))
  }
}
