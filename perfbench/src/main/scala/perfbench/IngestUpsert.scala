package perfbench

import scala.collection.mutable

import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingIngest

/** `ingest_upsert`: a Structured Streaming query decodes Avro bare-datum
  * payloads from a `MemoryStream` with `StreamingIngest.decodeBareDatums`
  * and upserts them (`upsertKeys`) into a merge-on-read `graft-ocf`
  * catalog table. One op is one epoch: add a seeded batch (new keys plus
  * updates skewed toward recent keys), wait for it to commit, then prove it
  * visible with a count and a sum. Every 4th op also runs a `DELETE`, every
  * 6th a `rewrite_position_deletes` or `compact`. At the end the whole
  * table is compared with a replay of everything sent. */
final class IngestUpsert(spark: SparkSession, seed: Long, work: java.io.File,
                         newPerEpoch: Int, updatesPerEpoch: Int) extends Workload {
  import IngestUpsert._

  private var table = ""
  private var stream: MemoryStream[Array[Byte]] = _
  private var query: StreamingQuery = _
  private var rnd: java.util.Random = _
  private val replay = mutable.HashMap.empty[Long, (String, Long)]
  private var maxId = 0L
  private var epoch = 0L
  private var maintenance = 0

  override def setup(rep: Int): Unit = {
    if (query != null) query.stop()
    replay.clear(); maxId = 0L; epoch = 0L; maintenance = 0
    rnd = new java.util.Random(seed)
    val ns = s"bench.ingest$rep"
    table = s"$ns.events"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    spark.sql(s"CREATE TABLE $table (id BIGINT, v STRING, n BIGINT, ts BIGINT) USING `graft-ocf` " +
      "OPTIONS (statsColumns 'id', `write.delete.mode` 'merge-on-read')")
    stream = MemoryStream[Array[Byte]](Encoders.BINARY, spark)
    query = StreamingIngest.decodeBareDatums(stream.toDF().toDF("value"), "value", EventSchemaJson)
      .select("record.*")
      .writeStream
      .option("checkpointLocation", new java.io.File(work, s"checkpoint-$rep").getAbsolutePath)
      .option("upsertKeys", "id")
      .toTable(table)
    (0 until 3).foreach(_ => op(-1, new Spans)) // warm-up epochs
  }

  private def nextEpoch(): (Seq[Array[Byte]], Long) = {
    epoch += 1
    val schema = new org.apache.avro.Schema.Parser().parse(EventSchemaJson)
    val ids = mutable.LinkedHashSet.empty[Long]
    if (maxId > 0) while (ids.size < math.min(updatesPerEpoch.toLong, maxId)) {
      val u = rnd.nextDouble()
      ids += maxId - (maxId * u * u * u).toLong // skewed toward recent keys
    }
    (1 to newPerEpoch).foreach(_ => { maxId += 1; ids += maxId })
    val recs = ids.toSeq.map { id =>
      val r = new GenericData.Record(schema)
      r.put("id", id); r.put("v", Shapes.str(rnd, 4, 24)); r.put("n", epoch * 1000000L + rnd.nextInt(1000000))
      r.put("ts", epoch)
      replay(id) = (r.get("v").toString, r.get("n").asInstanceOf[Long])
      r: GenericRecord
    }
    val payloads = Shapes.encode(schema, recs.iterator).toVector
    (payloads, payloads.map(_.length.toLong).sum)
  }

  override def op(i: Int, sp: Spans): OpOut = {
    val (payloads, bytes) = nextEpoch()
    sp("execute") { stream.addData(payloads); query.processAllAvailable() }
    if (i >= 0 && i % 4 == 3) sp("maintenance") {
      val r = (i / 4) % 17
      spark.sql(s"DELETE FROM $table WHERE id % 17 = $r")
      replay.filterInPlace((id, _) => id % 17 != r)
    }
    if (i >= 0 && i % 6 == 5) sp("maintenance") {
      maintenance += 1
      val proc = if (maintenance % 2 == 1) "rewrite_position_deletes" else "compact"
      spark.sql(s"CALL bench.system.$proc(table => '${table.stripPrefix("bench.")}')").collect()
    }
    sp("verify") {
      val r = spark.sql(s"SELECT count(*), coalesce(sum(n), 0L) FROM $table").head()
      val want = (replay.size.toLong, replay.valuesIterator.map(_._2).sum)
      val ok = (r.getLong(0), r.getLong(1)) == want
      OpOut(ok, payloads.size, if (ok) "" else s"epoch $epoch: table has (count, sum n) = (${r.getLong(0)}, ${r.getLong(1)}), replay $want",
        payloadBytes = bytes)
    }
  }

  /** The DELETE (every 4th op) and maintenance (every 6th) cadences repeat every 12 ops. */
  override def tailPct: Double = 55.0

  override def cycle: Int = 12

  override def finish(): Boolean = {
    query.processAllAvailable()
    query.stop()
    val got = spark.sql(s"SELECT id, v, n FROM $table").collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
    got.length == replay.size && got.forall { case (id, vn) => replay.get(id).contains(vn) }
  }

  override def storedBytesPerRow: Double =
    Files.treeBytes(new java.io.File(new java.io.File(work, "warehouse"), table.stripPrefix("bench.").replace('.', '/'))).toDouble /
      math.max(1, replay.size)

  def stop(): Unit = if (query != null && query.isActive) query.stop()
}

object IngestUpsert {
  val EventSchemaJson: String =
    """{"type":"record","name":"Event","namespace":"bench","fields":[
      |{"name":"id","type":"long"},{"name":"v","type":"string"},
      |{"name":"n","type":"long"},{"name":"ts","type":"long"}]}""".stripMargin
}
