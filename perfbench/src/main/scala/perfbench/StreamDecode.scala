package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.avro.{Schema => ASchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.spark.{functions => gfn}

/** The seeded message column of one micro-batch, mixing the reference's
  * three payload modes over the four schema shapes:
  *  - `ocf.<shape>`: Object Container Files of 100 datums, codecs rotating
  *    over null/deflate/snappy/zstandard/bzip2 (the Lambda / Python-UDF mode);
  *  - `bare.<shape>` and `resolve.<shape>` (reader≠writer): bare datums;
  *  - `registry.<shape>`: bare datums whose writer schema is found per
  *    stream name in a schema registry (the Glue mode);
  *  - `spring.<shape>`: KPL-aggregated records of 25 Spring-framed bare
  *    datums each (the Spring Cloud mode).
  * `expected(key)` is (datums, checksum sum) computed from the generator's
  * own values. */
final class DecodeInputs(seed: Long, base: Int) {
  import DecodeInputs._

  val ocf = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Array[Byte])]] // shape -> (codec, file)
  val messages = mutable.ArrayBuffer.empty[(String, String, Array[Byte])] // (key, stream, payload)
  val bare = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]] // shape -> datums
  val springRecords = mutable.ArrayBuffer.empty[Array[Byte]] // Spring-framed sub-records
  val expected = mutable.LinkedHashMap.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
  var payloadBytes = 0L

  private val rnd = new java.util.Random(seed)
  private var nextId = 0L

  private def count(shape: String, frac: Double): Int = math.max(1, (base * Shapes.weight(shape) * frac).toInt)

  private def gen(shape: String, n: Int) = {
    val w = Shapes.writer(shape)
    (0 until n).map { _ => nextId += 1; Shapes.datum(shape, w, nextId, rnd) }
  }

  private def expect(key: String, s: ASchema, ds: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
    val (n, c) = expected(key)
    expected(key) = (n + ds.size, c + ds.iterator.map(Shapes.checksum(s, _)).sum)
  }

  private def add(key: String, stream: String, payload: Array[Byte]): Unit = {
    messages += ((key, stream, payload)); payloadBytes += payload.length
  }

  Shapes.Names.foreach { shape =>
    val w = Shapes.writer(shape)
    val files = ocf.getOrElseUpdate(shape, mutable.ArrayBuffer.empty)
    gen(shape, count(shape, 1.0)).grouped(OcfDatums).zipWithIndex.foreach { case (ds, i) =>
      val codec = Codecs(i % Codecs.size)
      val f = Shapes.container(w, codec, ds)
      files += ((codec, f)); payloadBytes += f.length
      expect(s"ocf.$shape", w, ds)
    }
    val ds = gen(shape, count(shape, 1.0))
    val enc = Shapes.encode(w, ds.iterator).toVector
    bare(shape) = mutable.ArrayBuffer.from(enc)
    enc.foreach(add(s"bare.$shape", "", _))
    expect(s"bare.$shape", w, ds)
  }

  Shapes.readerJson.keys.toSeq.sorted.foreach { shape =>
    val (w, r) = (Shapes.writer(shape), Shapes.reader(shape))
    val ds = gen(shape, count(shape, 0.5))
    Shapes.encode(w, ds.iterator).foreach(add(s"resolve.$shape", "", _))
    expect(s"resolve.$shape", r, ds)

    val rs = gen(shape, count(shape, 0.125))
    Shapes.encode(w, rs.iterator).zipWithIndex.foreach { case (b, i) => add(s"registry.$shape", s"$shape-s${i % 4}", b) }
    expect(s"registry.$shape", w, rs)

    val ss = gen(shape, count(shape, 0.125))
    Shapes.encode(w, ss.iterator).map(b => springFrame(contentType(shape), b)).toVector
      .grouped(KplRecords).foreach { sub => springRecords ++= sub; add(s"spring.$shape", "", kplAggregate(sub)) }
    expect(s"spring.$shape", w, ss)
  }

  def datums: Long = expected.values.map(_._1).sum
}

object DecodeInputs {
  val Codecs: Seq[String] = Seq("null", "deflate", "snappy", "zstandard", "bzip2")
  val OcfDatums = 100
  val KplRecords = 25

  def contentType(shape: String): String = s"application/vnd.$shape.v1+avro"

  /** spring-cloud-stream embedded headers: 0xFF, count, then per header a
    * 1-byte key length, key, 4-byte big-endian value length, JSON value. */
  def springFrame(contentType: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 64)
    val k = "contentType".getBytes(StandardCharsets.UTF_8)
    val v = ("\"" + contentType + "\"").getBytes(StandardCharsets.UTF_8)
    out.write(0xff); out.write(1); out.write(k.length); out.write(k)
    out.write(v.length >>> 24); out.write(v.length >>> 16); out.write(v.length >>> 8); out.write(v.length)
    out.write(v); out.write(body)
    out.toByteArray
  }

  /** KPL `AggregatedRecord` (protobuf) with magic prefix and MD5 trailer. */
  def kplAggregate(records: Seq[Array[Byte]]): Array[Byte] = {
    val pb = new ByteArrayOutputStream()
    def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      o.write(v.toInt)
    }
    def bytes(o: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
      varint(o, (field << 3) | 2L); varint(o, b.length.toLong); o.write(b)
    }
    bytes(pb, 1, "pk".getBytes(StandardCharsets.UTF_8))
    records.foreach { data =>
      val rec = new ByteArrayOutputStream(data.length + 8)
      varint(rec, 1L << 3); varint(rec, 0L)
      bytes(rec, 3, data)
      bytes(pb, 3, rec.toByteArray)
    }
    val body = pb.toByteArray
    val out = new ByteArrayOutputStream(body.length + 20)
    out.write(Array(0xf3, 0x89, 0x9a, 0xc2).map(_.toByte))
    out.write(body)
    out.write(java.security.MessageDigest.getInstance("MD5").digest(body))
    out.toByteArray
  }
}

/** `stream_decode`: each op decodes one cached micro-batch of VARBINARY
  * messages through `graft.spark.functions` and checks a checksum over
  * every decoded field against the generator's. A micro-batch is one
  * stream's frame: the OCF containers of one shape, the KPL records of one
  * shape, or the bare / reader≠writer / registry datums of one shape. Ops
  * cycle through the frames, each cycle in a seeded order. No file is
  * touched. */
final class StreamDecode(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  private var in: DecodeInputs = _
  private var frames: IndexedSeq[(String, DataFrame)] = IndexedSeq.empty // frame -> analyzed decode query
  private var order: IndexedSeq[Int] = IndexedSeq.empty

  private val registry = graft.framing.SchemaRegistry.inMemory(
    Shapes.readerJson.keys.toSeq.flatMap(s => (0 until 4).map(i => s"$s-s$i" -> Shapes.writerJson(s))): _*)

  private def frameOf(kind: String): String = kind.split('.') match {
    case Array("ocf" | "spring", _) => kind
    case Array(_, shape) => s"msg.$shape"
  }

  private def kinds(frame: String): Seq[String] = in.expected.keys.filter(k => frameOf(k) == frame).toSeq.sorted

  def inputs: DecodeInputs = in

  override def prepare(): Unit = in = new DecodeInputs(seed, StreamDecode.Base)

  override def setup(rep: Int): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val rows = in.ocf.toSeq.flatMap { case (shape, files) => files.map(f => Row(s"ocf.$shape", "", f._2)) } ++
      in.messages.map { case (k, s, p) => Row(k, s, p) }
    val schema = StructType(Seq(StructField("key", StringType), StructField("stream", StringType),
      StructField("payload", BinaryType)))
    frames = rows.groupBy(r => frameOf(r.getString(0))).toIndexedSeq.sortBy(_._1).map { case (frame, rs) =>
      // cached in memory; the local checkpoint cuts the lineage, so tasks
      // do not carry the parallelized payloads
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rs, cores), schema)
        .persist(StorageLevel.MEMORY_ONLY).localCheckpoint(eager = true)
      frame -> decode(frame, df).groupBy("key").agg(count(lit(1)).as("n"), sum("cs").as("cs"))
    }
    val r = new java.util.Random(seed ^ 0xc0ffee)
    order = (0 until 64).flatMap(_ => Shuffle(frames.indices, r))
    frames.indices.foreach { i => // warm-up: plan, codegen and JIT once per frame
      val o = runFrame(i, new Spans)
      if (!o.ok) System.err.println(s"perfbench: warm-up ${o.detail}")
    }
  }

  /** The Spark type `from_avro` gives a shape, as the schema for parsing its JSON renderings. */
  private def sqlType(shape: String): DataType =
    graft.spark.SchemaConverters.toSqlType(graft.avro.AvroSchemaParser.parse(Shapes.writerJson(shape))).dataType

  /** Decode one frame and checksum every decoded field: `(key, cs)` rows. */
  private def decode(frame: String, df: DataFrame): DataFrame = frame.split('.') match {
    case Array("ocf", shape) =>
      df.select(gfn.avro_ocf_explode(col("payload"), Shapes.writerJson(shape)))
        .select(lit(frame).as("key"), expr(Shapes.checksumSql(Shapes.writer(shape), "")).as("cs"))
    case Array("spring", shape) =>
      val w = Shapes.writer(shape)
      val json = gfn.spring_kpl_decode_all(col("payload"), Map(DecodeInputs.contentType(shape) -> Shapes.writerJson(shape)))
      df.select(explode(from_json(json, ArrayType(sqlType(shape)))).as("d"))
        .select(lit(frame).as("key"), expr(Shapes.checksumSql(w, "d")).as("cs"))
    case Array("msg", shape) =>
      // one decoded column per kind, evaluated only on that kind's rows,
      // then the kind's checksum; two projections so each datum decodes once
      val w = Shapes.writer(shape)
      val decoders = kinds(frame).map(k => k.takeWhile(_ != '.') match {
        case "bare" => (k, gfn.from_avro(col("payload"), Shapes.writerJson(shape)), w)
        case "resolve" => (k, gfn.from_avro(col("payload"), Shapes.writerJson(shape), Shapes.readerJson(shape)), Shapes.reader(shape))
        case "registry" => (k, from_json(gfn.registry_decode_json(col("stream"), col("payload"), registry), sqlType(shape)), w)
      })
      val decoded = df.select(col("key") +: decoders.zipWithIndex.map { case ((k, c, _), i) =>
        when(col("key") === k, c).as(s"d$i") }: _*)
      val cs = decoders.zipWithIndex.map { case ((k, _, s), i) => s"WHEN '$k' THEN ${Shapes.checksumSql(s, s"d$i")}" }
      decoded.select(col("key"), expr(s"CASE key ${cs.mkString(" ")} END").as("cs"))
  }

  private def runFrame(fi: Int, sp: Spans): OpOut = {
    val (frame, query) = frames(fi)
    // the query is analyzed once per set-up; each op plans and runs a fresh
    // copy of it, as a streaming query does per micro-batch
    val df = sp("plan") { val d = query.select("*"); d.queryExecution.executedPlan; d }
    val rows = sp("execute")(df.collect())
    sp("verify") {
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = kinds(frame).map(k => k -> in.expected(k)).toMap
      val ok = got == want
      OpOut(ok, want.values.map(_._1).sum, if (ok) "" else s"$frame: checksums $got, generator $want")
    }
  }

  override def op(i: Int, sp: Spans): OpOut = runFrame(order(i % order.size), sp)

  override def tailPct: Double = 85.0

  override def cycle: Int = frames.size

  override def finish(): Boolean = true

  /** Payload bytes of the message column per decoded datum. */
  override def storedBytesPerRow: Double = in.payloadBytes.toDouble / in.datums

  override def kernelCostMs(rates: Map[String, Double]): Double = {
    // datums decoded to Catalyst rows (typed modes) or to generic datums
    // (JSON modes), plus block decompression of the containers
    val decode = in.expected.toSeq.map { case (key, (n, _)) =>
      val Array(mode, shape) = key.split('.')
      val rate = if (mode == "registry" || mode == "spring") rates.get(s"avro.decode_rows_per_s.$shape")
                 else rates.get(s"spark.catalyst_decode_rows_per_s.$shape")
      rate.filter(_ > 0).map(n / _ * 1000.0).getOrElse(0.0)
    }.sum
    val inflate = in.ocf.values.flatten.toSeq.map { case (codec, f) =>
      rates.get(s"avro.decompress_mb_per_s.$codec").filter(_ > 0).map(f.length / 1e6 / _ * 1000.0).getOrElse(0.0)
    }.sum
    (decode + inflate) / frames.size // ops are spread evenly over the frames
  }
}

object StreamDecode {
  /** Datums of the flat shape per mode; the other shapes scale by their weight. */
  val Base = 15000
}
