package perfbench

import org.apache.spark.sql.catalyst.InternalRow

import graft.avro.{AvroBinaryReader, AvroBinaryWriter, AvroCodecs, AvroDatumReader, AvroSchemaParser, Ocf}
import graft.framing.{KplDeaggregator, SchemaRegistry, SpringHeaders}
import graft.spark.{CatalystAvroReader, CatalystAvroWriter, SchemaConverters}

/** Spark-free timing of the decode kernel's public functions over the
  * decode workload's own generated payloads, one thread, with warm-up:
  * `AvroDatumReader.read`, `Ocf.readAll`, `AvroCodecs(name).decompress`,
  * `CatalystAvroReader` / `CatalystAvroWriter`, `KplDeaggregator.decode`,
  * `SpringHeaders.extract` and `SchemaRegistry.get`. */
object KernelProbe {
  private val WarmMs = 60.0
  private val MeasureMs = 150.0
  @volatile private var sink = 0L

  /** Units per second of `pass`, after a warm-up; `units` is per pass. */
  private def rate(units: Double)(pass: => Long): Double = {
    val w0 = Clock.nowMs()
    while (Clock.nowMs() - w0 < WarmMs) sink += pass
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 2 || (System.nanoTime() - t0) / 1e6 < MeasureMs) { sink += pass; passes += 1 }
    units * passes / ((System.nanoTime() - t0) / 1e9)
  }

  def run(in: DecodeInputs): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Shapes.Names.foreach { shape =>
      val schema = AvroSchemaParser.parse(Shapes.writerJson(shape))
      val datums = in.bare(shape).toArray
      val bytes = datums.map(_.length.toLong).sum
      val reader = new AvroDatumReader(schema)
      val rows = rate(datums.length) { var h = 0L; datums.foreach(d => if (reader.read(d) != null) h += 1); h }
      out(s"avro.decode_rows_per_s.$shape") = rows
      out(s"avro.decode_mb_per_s.$shape") = rows * bytes / datums.length / 1e6
      val catalyst = CatalystAvroReader.forSchema(schema)
      out(s"spark.catalyst_decode_rows_per_s.$shape") =
        rate(datums.length) { var h = 0L; datums.foreach(d => if (catalyst(new AvroBinaryReader(d)) != null) h += 1); h }
    }

    val flat = AvroSchemaParser.parse(Shapes.writerJson("flat"))
    val flatRows = in.bare("flat").toArray.map(d => CatalystAvroReader.forSchema(flat)(new AvroBinaryReader(d)).asInstanceOf[InternalRow])
    val encode = CatalystAvroWriter.compile(SchemaConverters.toSqlType(flat).dataType, flat)
    val buf = new AvroBinaryWriter(256)
    out("spark.catalyst_encode_rows_per_s") =
      rate(flatRows.length) { var h = 0L; flatRows.foreach { r => buf.reset(); encode(r, buf); h += buf.size }; h }

    val files = in.ocf.values.flatten.toSeq
    DecodeInputs.Codecs.foreach { codec =>
      val fs = files.filter(_._1 == codec).map(_._2).toArray
      out(s"avro.ocf_read_mb_per_s.$codec") =
        rate(fs.map(_.length.toLong).sum / 1e6) { var h = 0L; fs.foreach(f => h += Ocf.readAll(f)._2.size); h }
    }
    // 64 KiB blocks of flat datums, compressed by each codec
    val raw = in.bare("flat").iterator.flatten.toArray
    val blocks = raw.grouped(64 * 1024).toArray
    DecodeInputs.Codecs.filter(_ != "null").foreach { codec =>
      val c = AvroCodecs(codec)
      val packed = blocks.map(c.compress)
      out(s"avro.decompress_mb_per_s.$codec") =
        rate(raw.length / 1e6) { var h = 0L; packed.foreach(b => h += c.decompress(b).length); h }
    }

    val kpl = in.messages.filter(_._1.startsWith("spring.")).map(_._3).toArray
    out("framing.kpl_mb_per_s") =
      rate(kpl.map(_.length.toLong).sum / 1e6) { var h = 0L; kpl.foreach(p => h += KplDeaggregator.decode(p).records.size); h }
    val framed = in.springRecords.toArray
    out("framing.spring_mb_per_s") =
      rate(framed.map(_.length.toLong).sum / 1e6) { var h = 0L; framed.foreach(p => h += SpringHeaders.extract(p).body.length); h }
    val keys = Shapes.readerJson.keys.toSeq.flatMap(s => (0 until 4).map(i => s"$s-s$i")).toArray
    val registry = SchemaRegistry.inMemory(keys.map(k => k -> Shapes.writerJson(k.takeWhile(_ != '-'))).toIndexedSeq: _*)
    val gets = 100000
    out("framing.registry_get_ns") =
      1e9 / rate(gets) { var h = 0L; var i = 0; while (i < gets) { if (registry.get(keys(i % keys.length)) != null) h += 1; i += 1 }; h }
    out.toMap
  }
}
