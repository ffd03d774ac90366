package perfbench

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory

/** The four schema shapes of the decode workload and a seeded datum
  * generator for each. Datums are encoded with the Apache Avro library, so
  * the inputs do not depend on the engine under test. */
object Shapes {
  val Names: Seq[String] = Seq("flat", "nested", "union", "wide")

  private val flatJson =
    """{"type":"record","name":"Flat","namespace":"bench","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"},
      |{"name":"score","type":"double"},{"name":"qty","type":"int"},
      |{"name":"flag","type":"boolean"},{"name":"ts","type":"long"}]}""".stripMargin

  private val nestedJson =
    """{"type":"record","name":"Nested","namespace":"bench","fields":[
      |{"name":"id","type":"long"},
      |{"name":"user","type":{"type":"record","name":"User","fields":[
      |  {"name":"name","type":"string"},{"name":"age","type":"int"},
      |  {"name":"address","type":{"type":"record","name":"Addr","fields":[
      |    {"name":"city","type":"string"},{"name":"zip","type":"int"}]}}]}},
      |{"name":"items","type":{"type":"array","items":{"type":"record","name":"Item","fields":[
      |  {"name":"sku","type":"string"},{"name":"qty","type":"int"},{"name":"price","type":"double"}]}}},
      |{"name":"attrs","type":{"type":"map","values":"long"}}]}""".stripMargin

  private val unionJson =
    """{"type":"record","name":"Uni","namespace":"bench","fields":[
      |{"name":"id","type":"long"},
      |{"name":"a","type":["null","long"]},{"name":"b","type":["null","string"]},
      |{"name":"c","type":["null","double"]},{"name":"d","type":["int","null"]},
      |{"name":"e","type":["null","boolean"]},{"name":"f","type":["string","long","double"]},
      |{"name":"g","type":["null","string","long"]}]}""".stripMargin

  private val wideTypes = Seq("long", "string", "double", "int", "boolean")
  private val wideJson = {
    val cols = (0 until 40).map(i => s"""{"name":"c$i","type":"${wideTypes(i % wideTypes.size)}"}""")
    s"""{"type":"record","name":"Wide","namespace":"bench","fields":[{"name":"id","type":"long"},${cols.mkString(",")}]}"""
  }

  /** Reader schemas that differ from the writer (drop a field, promote
    * int to long, add a defaulted field): the registry-resolution mode. */
  private val flatReaderJson =
    """{"type":"record","name":"Flat","namespace":"bench","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"},
      |{"name":"score","type":"double"},{"name":"qty","type":"long"},
      |{"name":"flag","type":"boolean"},{"name":"region","type":"string","default":"eu"}]}""".stripMargin

  private val nestedReaderJson = {
    val w = new ASchema.Parser().parse(nestedJson)
    val kept = w.getFields.asScala.filter(_.name != "attrs").map(f => new ASchema.Field(f, f.schema()))
    val channel = new ASchema.Field("channel", ASchema.create(ASchema.Type.STRING), null, "web")
    ASchema.createRecord("Nested", null, "bench", false, (kept :+ channel).asJava).toString
  }

  val writerJson: Map[String, String] =
    Map("flat" -> flatJson, "nested" -> nestedJson, "union" -> unionJson, "wide" -> wideJson)
  val readerJson: Map[String, String] = Map("flat" -> flatReaderJson, "nested" -> nestedReaderJson)

  def writer(shape: String): ASchema = new ASchema.Parser().parse(writerJson(shape))
  def reader(shape: String): ASchema = new ASchema.Parser().parse(readerJson(shape))

  /** Relative decode cost of one datum, so every shape gets a similar share
    * of a micro-batch's work. */
  val weight: Map[String, Double] = Map("flat" -> 1.0, "nested" -> 0.5, "union" -> 0.8, "wide" -> 0.25)

  private val cities = Array("oslo", "lima", "kyiv", "pune", "cork", "nice", "bern", "agra")

  def str(r: java.util.Random, min: Int, max: Int): String = {
    val n = min + r.nextInt(max - min + 1)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  /** A double that is an exact multiple of 1/8, so sums are exact. */
  def eighths(r: java.util.Random, max: Int): Double = r.nextInt(max * 8) / 8.0

  def datum(shape: String, schema: ASchema, id: Long, r: java.util.Random): GenericRecord = {
    val rec = new GenericData.Record(schema)
    rec.put("id", id)
    shape match {
      case "flat" =>
        rec.put("name", str(r, 4, 16)); rec.put("score", eighths(r, 10000))
        rec.put("qty", r.nextInt(1000)); rec.put("flag", r.nextBoolean()); rec.put("ts", 1700000000L + r.nextInt(1000000))
      case "nested" =>
        val us = schema.getField("user").schema()
        val as = us.getField("address").schema()
        val addr = new GenericData.Record(as)
        addr.put("city", cities(r.nextInt(cities.length))); addr.put("zip", 10000 + r.nextInt(89999))
        val user = new GenericData.Record(us)
        user.put("name", str(r, 3, 12)); user.put("age", 18 + r.nextInt(70)); user.put("address", addr)
        rec.put("user", user)
        val is = schema.getField("items").schema().getElementType
        val items = (0 until r.nextInt(4)).map { _ =>
          val it = new GenericData.Record(is)
          it.put("sku", str(r, 6, 6)); it.put("qty", 1 + r.nextInt(9)); it.put("price", eighths(r, 500)); it
        }
        rec.put("items", items.asJava)
        rec.put("attrs", (0 until r.nextInt(3)).map(i => s"k$i" -> Long.box(r.nextInt(100000).toLong)).toMap.asJava)
      case "union" =>
        def maybe(v: => Any): Any = if (r.nextInt(4) == 0) null else v
        rec.put("a", maybe(r.nextInt(1000000).toLong)); rec.put("b", maybe(str(r, 2, 10)))
        rec.put("c", maybe(eighths(r, 1000))); rec.put("d", maybe(r.nextInt(1000)))
        rec.put("e", maybe(r.nextBoolean()))
        rec.put("f", r.nextInt(3) match {
          case 0 => str(r, 1, 8); case 1 => r.nextInt(100000).toLong; case _ => eighths(r, 1000) })
        rec.put("g", r.nextInt(3) match { case 0 => null; case 1 => str(r, 1, 8); case _ => r.nextInt(1000).toLong })
      case "wide" =>
        (0 until 40).foreach { i =>
          rec.put(s"c$i", wideTypes(i % wideTypes.size) match {
            case "long" => r.nextInt(1000000).toLong
            case "string" => str(r, 2, 8)
            case "double" => eighths(r, 1000)
            case "int" => r.nextInt(10000)
            case _ => r.nextBoolean()
          })
        }
    }
    rec
  }

  def encode(schema: ASchema, datums: Iterator[GenericRecord]): Iterator[Array[Byte]] = {
    val w = new GenericDatumWriter[GenericRecord](schema)
    val bos = new ByteArrayOutputStream(256)
    var enc: org.apache.avro.io.BinaryEncoder = null
    datums.map { d =>
      bos.reset()
      enc = EncoderFactory.get().binaryEncoder(bos, enc)
      w.write(d, enc); enc.flush()
      bos.toByteArray
    }
  }

  /** One Object Container File holding `datums`, written with `codec`. */
  def container(schema: ASchema, codec: String, datums: Seq[GenericRecord]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val fw = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    fw.setCodec(CodecFactory.fromString(codec))
    fw.create(schema, bos)
    datums.foreach(fw.append)
    fw.close()
    bos.toByteArray
  }

  private def nonNull(u: ASchema): Seq[ASchema] = u.getTypes.asScala.filter(_.getType != ASchema.Type.NULL).toSeq

  /** Per-datum checksum over every leaf of the value read with `s`: the
    * generator's expected value. [[checksumSql]] is its SQL mirror. Fields
    * the reader adds take their default; int read as long keeps its value. */
  def checksum(s: ASchema, v: Any): Long = s.getType match {
    case ASchema.Type.NULL => 7L
    case ASchema.Type.BOOLEAN => if (v.asInstanceOf[Boolean]) 2L else 1L
    case ASchema.Type.INT => v.asInstanceOf[Int].toLong
    case ASchema.Type.LONG => v match { case i: Int => i.toLong; case l: Long => l }
    case ASchema.Type.DOUBLE => math.round(v.asInstanceOf[Double] * 8)
    case ASchema.Type.STRING =>
      val str = v.toString
      str.length * 31L + (if (str.isEmpty) 0 else str.charAt(0).toLong)
    case ASchema.Type.RECORD =>
      val rec = v.asInstanceOf[GenericRecord]
      s.getFields.asScala.zipWithIndex.map { case (f, i) =>
        val fv = if (rec.getSchema.getField(f.name) != null) rec.get(f.name) else f.defaultVal()
        (i + 1) * checksum(f.schema(), fv)
      }.sum
    case ASchema.Type.ARRAY =>
      val xs = v.asInstanceOf[java.util.Collection[Any]].asScala
      xs.map(checksum(s.getElementType, _)).sum + 3L * xs.size
    case ASchema.Type.MAP =>
      val m = v.asInstanceOf[java.util.Map[Any, Any]].asScala
      m.map { case (k, x) => checksum(s.getValueType, x) + k.toString.length }.sum + 5L * m.size
    case ASchema.Type.UNION =>
      val branches = nonNull(s)
      if (v == null) 7L
      else if (branches.size == 1) checksum(branches.head, v)
      else {
        val b = branches.indexWhere(t => t.getType == s.getTypes.get(GenericData.get().resolveUnion(s, v)).getType)
        (b + 1) * 11L + checksum(branches(b), v)
      }
    case t => throw new IllegalArgumentException(s"shape type $t is not generated")
  }

  /** `e` is the SQL expression of the value; an empty `e` on a record means
    * its fields are top-level columns (the output of a generator). */
  def checksumSql(s: ASchema, e: String, depth: Int = 0): String = s.getType match {
    case ASchema.Type.BOOLEAN => s"(CASE WHEN $e THEN 2L WHEN NOT $e THEN 1L END)"
    case ASchema.Type.INT | ASchema.Type.LONG => s"CAST($e AS BIGINT)"
    case ASchema.Type.DOUBLE => s"CAST(round($e * 8) AS BIGINT)"
    case ASchema.Type.STRING => s"(CAST(length($e) AS BIGINT) * 31 + ascii($e))"
    case ASchema.Type.RECORD =>
      s.getFields.asScala.zipWithIndex.map { case (f, i) =>
        val ref = if (e.isEmpty) s"`${f.name}`" else s"$e.`${f.name}`"
        s"${i + 1}L * ${checksumSql(f.schema(), ref, depth)}"
      }.mkString("(", " + ", ")")
    case ASchema.Type.ARRAY =>
      val (acc, x) = (s"acc$depth", s"x$depth")
      s"(aggregate($e, 0L, ($acc, $x) -> $acc + ${checksumSql(s.getElementType, x, depth + 1)}) + 3L * size($e))"
    case ASchema.Type.MAP =>
      val (acc, x) = (s"acc$depth", s"x$depth")
      s"(aggregate(map_entries($e), 0L, ($acc, $x) -> $acc + " +
        s"${checksumSql(s.getValueType, s"$x.value", depth + 1)} + length($x.key)) + 5L * size($e))"
    case ASchema.Type.UNION =>
      nonNull(s) match {
        case Seq(one) => s"coalesce(${checksumSql(one, e, depth)}, 7L)"
        case many =>
          val whens = many.zipWithIndex.map { case (b, i) =>
            s"WHEN $e.member$i IS NOT NULL THEN ${(i + 1) * 11}L + ${checksumSql(b, s"$e.member$i", depth)}"
          }
          s"(CASE ${whens.mkString(" ")} ELSE 7L END)"
      }
    case t => throw new IllegalArgumentException(s"shape type $t is not generated")
  }
}
