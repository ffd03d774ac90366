package graft

import graft.avro._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class AvroKernelSpec extends AnyFunSuite {

  val userSchemaJson: String =
    """{"type": "record", "name": "User", "namespace": "example.avro", "fields": [
      |{"type": "string", "name": "name"},
      |{"type": ["int", "null"], "name": "favorite_number"},
      |{"type": ["string", "null"], "name": "favorite_color"}]}""".stripMargin

  test("zigzag varint known vectors") {
    // spec examples: 0→0x00, -1→0x01, 1→0x02, -2→0x03, 2→0x04
    def enc(v: Long): Seq[Int] = {
      val w = new AvroBinaryWriter(); w.writeLong(v); w.toByteArray.map(_ & 0xff).toSeq
    }
    assert(enc(0) == Seq(0x00)); assert(enc(-1) == Seq(0x01))
    assert(enc(1) == Seq(0x02)); assert(enc(-2) == Seq(0x03)); assert(enc(2) == Seq(0x04))
    assert(enc(64) == Seq(0x80, 0x01))
    for (v <- Seq(0L, 1L, -1L, 63L, 64L, -64L, -65L, 256L, Int.MaxValue.toLong,
        Int.MinValue.toLong, Long.MaxValue, Long.MinValue)) {
      val w = new AvroBinaryWriter(); w.writeLong(v)
      assert(new AvroBinaryReader(w.toByteArray).readLong() == v, s"round-trip $v")
    }
  }

  test("writer growth computes capacity in Long and fails typed past the array limit") {
    import AvroBinaryWriter.{MaxCapacity, grownCapacity}
    assert(grownCapacity(64, 60, 10) == 128, "doubles")
    assert(grownCapacity(64, 60, 1000) == 1060, "or takes the need when larger")
    // doubling a 1 GB buffer overflows Int: clamped to the limit instead
    assert(grownCapacity(1 << 30, 1 << 30, 1) == MaxCapacity)
    assert(grownCapacity(MaxCapacity - 10, MaxCapacity - 10, 10) == MaxCapacity)
    // one byte past the limit, and a need whose Int sum would wrap negative
    intercept[AvroCapacityException](grownCapacity(MaxCapacity, MaxCapacity - 4, 5))
    intercept[AvroCapacityException](grownCapacity(Int.MaxValue, Int.MaxValue - 1, Int.MaxValue))
  }

  test("schema parse + canonical form + fingerprint") {
    val s = AvroSchemaParser.parse(userSchemaJson).asInstanceOf[ARecord]
    assert(s.fullName == "example.avro.User")
    assert(s.fields.map(_.name) == Seq("name", "favorite_number", "favorite_color"))
    assert(s.fields(1).schema == AUnion(Seq(AInt, ANull)))
    assert(s.canonical.contains("\"example.avro.User\""))
    // canonical form is stable across whitespace/attribute-order variants
    val s2 = AvroSchemaParser.parse(
      """{"namespace":"example.avro","fields":[
        |{"name":"name","type":"string"},
        |{"name":"favorite_number","type":["int","null"]},
        |{"name":"favorite_color","type":["string","null"]}],
        |"name":"User","type":"record"}""".stripMargin)
    assert(s.fingerprint == s2.fingerprint)
  }

  test("datum round-trip: primitives, arrays, maps, unions, enum, fixed") {
    val json =
      """{"type":"record","name":"T","fields":[
        |{"name":"b","type":"boolean"},{"name":"i","type":"int"},
        |{"name":"l","type":"long"},{"name":"f","type":"float"},
        |{"name":"d","type":"double"},{"name":"s","type":"string"},
        |{"name":"by","type":"bytes"},
        |{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}},
        |{"name":"fx","type":{"type":"fixed","name":"F","size":4}},
        |{"name":"arr","type":{"type":"array","items":"long"}},
        |{"name":"m","type":{"type":"map","values":"string"}},
        |{"name":"u","type":["null","string","long"]}]}""".stripMargin
    val schema = AvroSchemaParser.parse(json).asInstanceOf[ARecord]
    val datum = AvroRecord(schema, Array[Any](
      true, 42, 1234567890123L, 1.5f, math.Pi, "héllo", Array[Byte](1, 2, 3),
      "B", Array[Byte](9, 8, 7, 6), Vector(1L, 2L, 3L),
      mutable.LinkedHashMap("k1" -> "v1", "k2" -> "v2"), "branch"))
    val bytes = new AvroDatumWriter(schema).toBytes(datum)
    val back = new AvroDatumReader(schema).read(bytes).asInstanceOf[AvroRecord]
    assert(back == datum)
    // union long branch
    val datum2 = AvroRecord(schema, datum.values.clone()); datum2.values(11) = 77L
    val back2 = new AvroDatumReader(schema).read(
      new AvroDatumWriter(schema).toBytes(datum2)).asInstanceOf[AvroRecord]
    assert(back2.get("u") == 77L)
  }

  test("logical types round-trip: decimal/date/time/timestamp/uuid") {
    val json =
      """{"type":"record","name":"L","fields":[
        |{"name":"dec","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
        |{"name":"decf","type":{"type":"fixed","name":"DF","size":8,"logicalType":"decimal","precision":16,"scale":4}},
        |{"name":"dt","type":{"type":"int","logicalType":"date"}},
        |{"name":"tm","type":{"type":"int","logicalType":"time-millis"}},
        |{"name":"tu","type":{"type":"long","logicalType":"time-micros"}},
        |{"name":"tsm","type":{"type":"long","logicalType":"timestamp-millis"}},
        |{"name":"tsu","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"id","type":{"type":"string","logicalType":"uuid"}}]}""".stripMargin
    val schema = AvroSchemaParser.parse(json).asInstanceOf[ARecord]
    assert(schema.fields(0).schema == ADecimal(10, 2, ABytes))
    val datum = AvroRecord(schema, Array[Any](
      new java.math.BigDecimal("-12345.67"), new java.math.BigDecimal("9999.1234"),
      java.time.LocalDate.of(2024, 2, 29), java.time.LocalTime.of(13, 45, 30),
      java.time.LocalTime.of(1, 2, 3, 123456000),
      java.time.Instant.parse("2024-06-01T12:00:00.123Z"),
      java.time.Instant.parse("1969-07-20T20:17:40.000123Z"),
      "f81d4fae-7dec-11d0-a765-00a0c91e6bf6"))
    val back = new AvroDatumReader(schema).read(
      new AvroDatumWriter(schema).toBytes(datum)).asInstanceOf[AvroRecord]
    assert(back == datum)
  }

  test("invalid logical type degrades to physical with warning, not error") {
    val s = AvroSchemaParser.parse(
      """{"type":"bytes","logicalType":"decimal","precision":-1,"scale":2}""")
    assert(s == ABytes)
    val s2 = AvroSchemaParser.parse("""{"type":"long","logicalType":"date"}""")
    assert(s2 == ALong)
  }

  test("schema resolution: field skip, defaults, promotions") {
    val writer = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},{"name":"gone","type":{"type":"array","items":"string"}},
        |{"name":"b","type":"string"}]}""".stripMargin)
    val reader = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"b","type":"string"},{"name":"a","type":"long"},
        |{"name":"added","type":"double","default":2.5}]}""".stripMargin)
    val w = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},{"name":"gone","type":{"type":"array","items":"string"}},
        |{"name":"b","type":"string"}]}""".stripMargin)
    val datum = AvroRecord(w.asInstanceOf[ARecord], Array[Any](7, Vector("x", "y"), "keep"))
    val bytes = new AvroDatumWriter(w).toBytes(datum)
    val resolved = new AvroDatumReader(writer, Some(reader)).read(bytes).asInstanceOf[AvroRecord]
    assert(resolved.get("a") == 7L)       // int → long promotion
    assert(resolved.get("b") == "keep")   // reordered field matched by name
    assert(resolved.get("added") == 2.5)  // reader default materialized
    intercept[NoSuchElementException](resolved.get("gone")) // skipped, not materialized
  }

  test("union evolution: writer union branch resolved against reader") {
    val writer = AvroSchemaParser.parse("""["int","string"]""")
    val reader = AvroSchemaParser.parse("""["string","long"]""")
    val r = new AvroDatumReader(writer, Some(reader))
    val wInt = new AvroBinaryWriter(); wInt.writeLong(0); wInt.writeInt(41)
    assert(r.read(wInt.toByteArray) == 41L) // int branch promoted to reader long
    val wStr = new AvroBinaryWriter(); wStr.writeLong(1); wStr.writeString("s")
    assert(r.read(wStr.toByteArray) == "s")
  }

  test("enum resolution honors reader default for unknown symbols") {
    val writer = AvroSchemaParser.parse(
      """{"type":"enum","name":"E","symbols":["A","B","NEW"]}""")
    val reader = AvroSchemaParser.parse(
      """{"type":"enum","name":"E","symbols":["A","B","OTHER"],"default":"OTHER"}""")
    val enc = new AvroBinaryWriter(); enc.writeInt(2) // "NEW"
    assert(new AvroDatumReader(writer, Some(reader)).read(enc.toByteArray) == "OTHER")
  }

  test("array negative-count sized blocks decode and O(1) skip") {
    // hand-encode [10, 20] as a sized block: count=-2, byteSize=2, items, 0
    val w = new AvroBinaryWriter()
    w.writeLong(-2); w.writeLong(2); w.writeLong(10); w.writeLong(20); w.writeLong(0)
    val schema = AvroSchemaParser.parse("""{"type":"array","items":"long"}""")
    assert(new AvroDatumReader(schema).read(w.toByteArray) == Vector(10L, 20L))
    val in = new AvroBinaryReader(w.toByteArray)
    AvroSkipper.compile(schema)(in)
    assert(in.atEnd)
  }

  test("OCF write/read round-trip across all codecs") {
    val schema = AvroSchemaParser.parse(userSchemaJson).asInstanceOf[ARecord]
    val datums = (0 until 500).map(i => AvroRecord(schema,
      Array[Any](s"user$i", if (i % 3 == 0) null else i, if (i % 2 == 0) "red" else null)))
    for (codec <- Seq("null", "deflate", "snappy", "zstandard", "bzip2")) {
      val bytes = Ocf.writeAll(schema, datums, codec)
      val (s, back) = Ocf.readAll(bytes)
      assert(back.size == 500, codec)
      assert(back == datums.toVector, codec)
    }
  }

  test("OCF block flush: >64 KB of datums produces multiple blocks, all readable") {
    val schema = AvroSchemaParser.parse("""{"type":"record","name":"Big","fields":[
      |{"name":"payload","type":"string"}]}""".stripMargin).asInstanceOf[ARecord]
    val big = "x" * 1000
    val datums = (0 until 200).map(_ => AvroRecord(schema, Array[Any](big)))
    val bytes = Ocf.writeAll(schema, datums, "null")
    val (_, back) = Ocf.readAll(bytes)
    assert(back.size == 200)
  }

  test("unsupported codec raises a clear error") {
    val e = intercept[AvroResolutionException](AvroCodecs("lzo"))
    assert(e.getMessage.contains("lzo"))
  }

  test("recursive schema (linked list) parses and round-trips") {
    val json = """{"type":"record","name":"Node","fields":[
      |{"name":"value","type":"int"},
      |{"name":"next","type":["null","Node"]}]}""".stripMargin
    val schema = AvroSchemaParser.parse(json).asInstanceOf[ARecord]
    val inner = AvroRecord(schema, Array[Any](2, null))
    val outer = AvroRecord(schema, Array[Any](1, inner))
    val back = new AvroDatumReader(schema).read(
      new AvroDatumWriter(schema).toBytes(outer)).asInstanceOf[AvroRecord]
    assert(back.get("value") == 1)
    assert(back.get("next").asInstanceOf[AvroRecord].get("value") == 2)
  }
}
