package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}

import graft.PruneBench

/** Parquet column-chunk bytes a scan must fetch, from the files' footers
  * (`PruneBench.requiredBytes`): the compressed size of every column chunk
  * the scan's read schema selects. Local-filesystem byte counters miss
  * Parquet's vectored reads; footer accounting does not, and it repeats
  * exactly from run to run. */
final class Footers(conf: Configuration, linkRoot: String) {
  private val cache = scala.collection.mutable.Map.empty[(String, StructType), Long]
  private val tables = scala.collection.mutable.Map.empty[String, StructType]

  /** (bytes the scan's read schema selects, bytes the table's full schema selects). */
  def apply(scan: ScanRec): (Long, Long) =
    scan.paths.map(p => (bytes(p, scan.required), bytes(p, tableSchema(p))))
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }

  /** Cached: the benchmark only asks about input tables, which no query changes. */
  private def bytes(path: String, schema: StructType): Long =
    cache.getOrElseUpdate((path, schema), PruneBench.requiredBytes(directoryOf(path), schema, conf))

  /** The table's own top-level columns, from its files' footers; a
    * top-level column selects every column chunk below it. The executed
    * scan's relation is no base: schema pruning narrows its data schema to
    * what the query reads. */
  private def tableSchema(path: String): StructType = tables.getOrElseUpdate(path, {
    val files = new File(directoryOf(path)).listFiles((_, n) => n.endsWith(".parquet"))
    val names = files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
      finally reader.close()
    }.distinct
    StructType(names.map(StructField(_, StringType)))
  })

  /** `requiredBytes` sums the `*.parquet` files of a directory; a table
    * stored as a single file is given a one-file directory linking to it. */
  private def directoryOf(path: String): String = {
    val f = new File(new Path(path).toUri.getPath)
    if (f.isDirectory) f.getPath
    else {
      val dir = new File(linkRoot, Integer.toHexString(f.getPath.hashCode) + "-" + f.getName)
      val link = new File(dir, f.getName)
      if (!link.exists()) {
        dir.mkdirs()
        Files.createSymbolicLink(link.toPath, f.toPath)
      }
      dir.getPath
    }
  }
}

/** Leaf counting of a read schema: an empty struct (a skeleton) counts as
  * one leaf, a map counts its key and value leaves. */
object Leaves {
  def count(dt: DataType): Int = dt match {
    case s: StructType => if (s.isEmpty) 1 else s.fields.map(f => count(f.dataType)).sum
    case a: ArrayType => count(a.elementType)
    case m: MapType => count(m.keyType) + count(m.valueType)
    case _ => 1
  }
}
