package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types._

/** Seeded nested Parquet table for the `nested_read` and `nested_write`
  * workloads: the FIXTURES F1/F2 shapes (structs in arrays in maps, at
  * every nesting combination) plus wide leaves that no narrow query
  * touches. The wide leaves are seeded pseudo-random text, which Parquet
  * cannot compress much, so a scan that reads them pays for them and a
  * pruning regression shows up in `scan_bytes`.
  *
  * The same seed writes the same rows into the same [[Files]] files. They
  * are written with Parquet's own writer, in the layout Spark writes
  * (Snappy, one row group per file, Spark's nested list and map groups),
  * so that no Spark session has to start for them. */
object NestedData {
  val Files = 8

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val longs = ArrayType(LongType)
  private val pair = struct("col1" -> LongType, "col2" -> LongType)

  val schema: StructType = struct(
    "id" -> LongType,
    "someStr" -> StringType,
    "someLong" -> LongType,
    "someDouble" -> DoubleType,
    "someBoolean" -> BooleanType,
    "someStrArray" -> ArrayType(StringType),
    "someComplexArray" -> ArrayType(pair),
    "struct" -> struct("col1" -> LongType, "col2" -> LongType, "col3" -> LongType,
      "subArray" -> longs, "condition" -> BooleanType, "blob" -> StringType),
    "nestedStruct" -> struct(
      "childStruct" -> struct("col1" -> LongType, "col2" -> LongType, "note" -> StringType),
      "str" -> StringType),
    "someArrayOfArrays" -> ArrayType(longs),
    "someArrayOfComplexArrays" -> ArrayType(
      struct("col1" -> LongType, "col2" -> longs, "col3" -> LongType)),
    "crazyStruct" -> struct(
      "justAString" -> StringType,
      "repeatedStuff" -> ArrayType(struct(
        "justABool" -> BooleanType,
        "longArray" -> longs,
        "anotherRepeatedStuff" -> ArrayType(
          struct("innerField1" -> StringType, "innerField2" -> StringType)))),
      "payload" -> StringType),
    "mapOfArray" -> MapType(StringType, ArrayType(struct("val1" -> StringType,
      "val2" -> StringType, "val3" -> LongType, "val4" -> StringType))),
    "doc" -> struct("title" -> StringType, "body" -> StringType, "tags" -> ArrayType(StringType)))

  /** Row `id` of the table for `seed`. */
  def row(seed: Long, id: Long): Row = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    def n(m: Int): Long = r.nextInt(m).toLong
    def text(len: Int): String = {
      val sb = new java.lang.StringBuilder(len)
      var i = 0
      while (i < len) {
        val c = r.nextInt(28)
        sb.append(if (c >= 26) ' ' else ('a' + c).toChar)
        i += 1
      }
      sb.toString
    }
    def arr[T](max: Int)(f: => T): Seq[T] = Seq.fill(1 + r.nextInt(max))(f)
    Row(
      id,
      s"s${n(1000)}",
      n(1000000),
      n(100000) / 100.0,
      r.nextBoolean(),
      arr(4)(s"w${n(50)}"),
      arr(3)(Row(n(100), n(1000))),
      Row(n(100), n(1000), n(1000), arr(5)(n(100)), r.nextInt(3) == 0, text(150)),
      Row(Row(n(50), n(1000), text(150)), s"n${n(300)}"),
      arr(3)(arr(3)(n(1000))),
      arr(3)(Row(n(100), arr(3)(n(100)), n(1000))),
      Row(s"j${n(200)}",
        arr(2)(Row(r.nextBoolean(), arr(3)(n(1000)),
          arr(2)(Row(s"a${n(100)}", s"b${n(100)}")))),
        text(200)),
      Seq("k1", "k2", "k3").map(k => k -> Seq(Row(s"v${n(500)}", s"u${n(500)}", n(100), text(80)))).toMap,
      Row(s"t${n(500)}", text(400), arr(3)(s"tag${n(20)}")))
  }

  def write(seed: Long, rows: Long, out: String): Unit = {
    val parquetSchema = new SparkToParquetSchemaConverter().convert(schema)
    val groups = new SimpleGroupFactory(parquetSchema)
    new File(out).mkdirs()
    for (i <- 0 until Files) {
      val writer = ExampleParquetWriter.builder(new Path(f"$out/part-$i%05d.parquet"))
        .withType(parquetSchema)
        .withConf(new Configuration())
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      try (rows * i / Files until rows * (i + 1) / Files).foreach { id =>
        val g = groups.newGroup()
        fill(g, schema, row(seed, id))
        writer.write(g)
      } finally writer.close()
    }
    new File(out, "_SUCCESS").createNewFile()
  }

  /** Spark's Parquet layout: a list is a group of repeated `list` groups
    * holding an `element`, a map a group of repeated `key_value` groups. */
  private def fill(g: Group, s: StructType, r: Row): Unit =
    s.fields.zipWithIndex.foreach { case (f, i) => if (!r.isNullAt(i)) add(g, f.name, f.dataType, r.get(i)) }

  private def add(g: Group, name: String, dt: DataType, v: Any): Unit = dt match {
    case s: StructType => fill(g.addGroup(name), s, v.asInstanceOf[Row])
    case ArrayType(e, _) =>
      val list = g.addGroup(name)
      v.asInstanceOf[Seq[Any]].foreach(x => add(list.addGroup("list"), "element", e, x))
    case MapType(k, t, _) =>
      val map = g.addGroup(name)
      v.asInstanceOf[Map[Any, Any]].foreach { case (a, b) =>
        val kv = map.addGroup("key_value")
        add(kv, "key", k, a)
        add(kv, "value", t, b)
      }
    case LongType => g.append(name, v.asInstanceOf[Long])
    case DoubleType => g.append(name, v.asInstanceOf[Double])
    case BooleanType => g.append(name, v.asInstanceOf[Boolean])
    case StringType => g.append(name, v.asInstanceOf[String])
  }
}
