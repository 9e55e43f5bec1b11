package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType}

/** A query of a workload. `build` returns the query's DataFrame; for the
  * battery it runs the library's query function, which is where iterative
  * operators run their eager rounds. */
final case class BenchQuery(name: String, build: () => DataFrame)

/** Row count, sum and xor of the row hashes of a result: the part of
  * `Verify.canonFingerprint` that the committed canon files hold. It does
  * not depend on row order or partitioning. */
final case class Fingerprint(n: Long, sum: String, xor: String)

/** One workload: its inputs, its queries in pass order, the timed final
  * action and the output check. */
trait Workload {
  def name: String
  /** Directory of the input tables; `scan_bytes` counts scans below it. */
  def inputs: String
  /** The timed region's budget per pass: a run times
    * round(seconds / secondsPerPass) passes, so that every run of a workload
    * has the same number of samples. */
  def secondsPerPass: Double
  def queries: Seq[BenchQuery]
  /** Reads every input once, before the warm-up pass. */
  def touch(): Unit
  /** The timed final action that consumes the query's DataFrame: by
    * default a `noop` write, which runs the whole query. It returns the
    * fingerprint of what it produced, computed lazily so that the check
    * runs outside the timed region. */
  def execute(q: BenchQuery, df: DataFrame): () => Fingerprint = {
    df.write.mode("overwrite").format("noop").save()
    () => Workload.fingerprint(df)
  }
  /** The fingerprint a correct execution produces. */
  def expected(q: BenchQuery): Option[Fingerprint]
}

object Workload {
  /** The [[Fingerprint]] of a result by `Verify.canonFingerprint`'s recipe,
    * in one aggregation: without the sorted sample rows that it also
    * collects, which take a second job and which no check uses. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val rendered = df.columns.sorted.toSeq.map { c =>
      val base = if (df.schema(c).dataType == BinaryType) hex(col(c)) else col(c).cast("string")
      coalesce(base, lit("\u0000NULL"))
    }
    val h = conv(substring(md5(concat_ws("\u0001", rendered: _*)), 1, 15), 16, 10).cast("long")
    val r = df.agg(count(lit(1)),
      coalesce(sum(h.cast(DecimalType(38, 0))) % lit(BigDecimal("18446744073709551616")),
        lit(BigDecimal(0))),
      coalesce(bit_xor(h), lit(0L))).collect().head
    Fingerprint(r.getLong(0), r.getDecimal(1).toBigInteger.toString(16),
      java.lang.Long.toHexString(r.getLong(2)))
  }
}

/** The `battery` workload: six `SparkEntry.queries` over the repo's
  * TPC-H-ish sf0.1 tables, checked against the committed canon
  * fingerprints. One query of each light family stratum: single-pass
  * d04 (dedup), m16 (media), q71 (analytics), s01 (search) and t14 (text),
  * and the iterative q114 (graph, an eager loop of rounds). None of them
  * uses a process-scoped memo. The run's seed orders them. */
final class Battery(spark: SparkSession, sfDir: String, canonFile: String, seed: Long)
    extends Workload {
  val name = "battery"
  val inputs: String = sfDir
  val secondsPerPass = 5.0

  private val expectations: Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(canonFile)).asScala.toSeq
      .map(_.trim.split("\\s+")).collect { case Array(q, n, s, x) => q -> Fingerprint(n.toLong, s, x) }
      .toMap

  val queries: Seq[BenchQuery] = new scala.util.Random(seed).shuffle(Seq("d04_simhash",
    "m16_bmp_features", "q71_attribution", "q114_assortativity", "s01_knn_exact", "t14_winsorize")
  ).map { q =>
    val fn = graft.SparkEntry.queries.getOrElse(q, (_: SparkSession, _: String) =>
      throw new NoSuchElementException(s"query $q is not in SparkEntry.queries"))
    BenchQuery(q, () => fn(spark, sfDir))
  }

  def touch(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach(t => graft.queries.Queries.t(spark, sfDir, t).count())

  def expected(q: BenchQuery): Option[Fingerprint] = expectations.get(q.name)
}

/** The two nested workloads share the seeded table: the temp view `nested`
  * for SQL text, and a fresh read for the DataFrame API. */
abstract class NestedWorkload(spark: SparkSession, dataDir: String) extends Workload {
  val inputs: String = dataDir
  protected def src: DataFrame = spark.read.parquet(dataDir)
  protected def sql(text: String): () => DataFrame = () => spark.sql(text)

  def touch(): Unit = {
    src.createOrReplaceTempView("nested")
    spark.table("nested").count()
  }

  /** Reference fingerprints: each query with schema-on-read and Spark's
    * built-in nested pruning both off, i.e. a full-schema read. They depend
    * only on the seed, so they are kept next to the table and computed only
    * by the first run that needs them, after its measurements. */
  private lazy val references: Map[String, Fingerprint] = {
    val file = Paths.get(s"$dataDir/_references-$name.tsv")
    if (!Files.exists(file)) {
      val keys = Seq("spark.graft.schemaOnRead.enabled", "spark.sql.optimizer.nestedSchemaPruning.enabled")
      keys.foreach(spark.conf.set(_, "false"))
      val lines = try queries.map { q =>
        val f = Workload.fingerprint(q.build())
        Seq(q.name, f.n, f.sum, f.xor).mkString("\t")
      } finally keys.foreach(spark.conf.unset)
      Files.write(file, lines.asJava)
    }
    Files.readAllLines(file).asScala.toSeq.map(_.split("\t"))
      .collect { case Array(q, n, s, x) => q -> Fingerprint(n.toLong, s, x) }.toMap
  }

  def expected(q: BenchQuery): Option[Fingerprint] = references.get(q.name)
}

/** `nested_read`: the narrow query shapes of SURVEY §2, in SQL text and in
  * the DataFrame API. Each touches a few leaves of structs whose wide
  * siblings it never reads; no query reads the widest leaf, `doc.body`. */
final class NestedRead(spark: SparkSession, dataDir: String) extends NestedWorkload(spark, dataDir) {
  import spark.implicits._
  val name = "nested_read"
  val secondsPerPass = 3.3

  val queries: Seq[BenchQuery] = Seq(
    BenchQuery("select_sql", sql(
      """SELECT id, struct.col1, nestedStruct.childStruct.col2, nestedStruct.str
        |FROM nested WHERE someLong < 500000""".stripMargin)),
    BenchQuery("where_only_sql", sql(
      """SELECT id, someStr FROM nested
        |WHERE struct.condition AND nestedStruct.childStruct.col1 % 3 = 0""".stripMargin)),
    BenchQuery("explode_sql", sql(
      """SELECT id, e.col1, e.col2 FROM nested
        |LATERAL VIEW explode(someComplexArray) x AS e WHERE e.col2 > 10""".stripMargin)),
    BenchQuery("consecutive_explode_df", () => src
      .select($"id", explode($"someArrayOfComplexArrays").as("c"))
      .select($"id", $"c.col3", explode($"c.col2").as("v"))),
    BenchQuery("window_sql", sql(
      """SELECT id, struct.col1, row_number() OVER (
        |  PARTITION BY nestedStruct.childStruct.col1 ORDER BY someLong, id) AS rn
        |FROM nested WHERE someBoolean""".stripMargin)),
    BenchQuery("self_join_sql", sql(
      """SELECT a.id, a.struct.col1, b.nestedStruct.str
        |FROM nested a JOIN nested b ON a.id = b.id + 1 WHERE a.someBoolean""".stripMargin)),
    BenchQuery("union_df", () => src.select($"id", $"struct.col1".as("v"))
      .union(src.select($"id", $"nestedStruct.childStruct.col1".as("v")))),
    BenchQuery("map_value_sql", sql(
      """SELECT id, mapOfArray['k1'][0].val1 AS v1, mapOfArray['k3'][0].val3 AS v3
        |FROM nested""".stripMargin)),
    BenchQuery("group_part_df", () => src
      .groupBy($"crazyStruct.repeatedStuff"(0)("justABool").as("b"))
      .agg(count(lit(1)).as("n"), max($"someLong").as("m"))))
}

/** `nested_write`: ETL shapes over the same files that demand whole
  * subtrees (`select *`, grouping and ordering by a whole struct, struct
  * passthrough) and write nested Parquet back. The rule still runs on
  * every plan but can narrow little. The check reads the written files. */
final class NestedWrite(spark: SparkSession, dataDir: String, outDir: String)
    extends NestedWorkload(spark, dataDir) {
  import spark.implicits._
  val name = "nested_write"
  val secondsPerPass = 2.5

  val queries: Seq[BenchQuery] = Seq(
    BenchQuery("select_star_sql", sql("SELECT * FROM nested WHERE someLong % 8 = 3")),
    BenchQuery("group_struct_sql", sql(
      """SELECT nestedStruct.childStruct AS cs, count(*) AS n, max(someLong) AS m
        |FROM nested GROUP BY nestedStruct.childStruct""".stripMargin)),
    BenchQuery("order_struct_sql", sql(
      "SELECT id, struct FROM nested WHERE someBoolean ORDER BY struct, id")),
    BenchQuery("passthrough_df", () => src.filter($"someDouble" > 500)
      .select($"id", $"crazyStruct", $"mapOfArray")),
    BenchQuery("passthrough_sql", sql(
      "SELECT id, doc, someComplexArray FROM nested WHERE doc.title < 't2'")),
    BenchQuery("order_struct_df", () => src.select($"id", $"nestedStruct", $"someArrayOfComplexArrays")
      .orderBy($"nestedStruct".desc, $"id").limit(5000)))

  override def execute(q: BenchQuery, df: DataFrame): () => Fingerprint = {
    val out = s"$outDir/${q.name}"
    df.write.mode("overwrite").parquet(out)
    () => Workload.fingerprint(spark.read.parquet(out))
  }
}
