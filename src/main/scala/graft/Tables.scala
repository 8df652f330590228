package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Typed-table loaders over the driver fixtures (FIXTURES.md).
  *
  * The reference's data model is schema-less newline text placed on
  * `h(filename) % N` nodes (`/root/reference/src/file_distributor/
  * fd_core.cc:41-48`); the new engine's native surface is columnar parquet
  * with real schemas — placement, locality and caching are delegated to the
  * storage layer + Spark. `spark.read.parquet` subsumes the reference's S1-S4
  * scan/ingest operators (SURVEY.md §2.1).
  *
  * '''Schema cache.''' `spark.read.parquet` infers a schema by reading
  * footers in a one-task Spark job, and every query build used to pay that
  * job again for every table it reads. [[load]] infers a table's schema
  * once and hands it to later reads (`spark.read.schema(s).parquet(path)`:
  * still a fresh relation with fresh attribute ids, so self-joins work).
  * An entry is keyed by
  *  - the qualified path;
  *  - the file version: `(length, modificationTime)` of a single file, or
  *    the sorted `(path, length, modificationTime)` of every file under a
  *    directory (Spark names part files anew on every overwrite, so a
  *    rewrite changes the key);
  *  - the session confs the inferred schema depends on: the ones
  *    `ParquetToSparkSchemaConverter(SQLConf)` reads, plus schema merging
  *    and summary files, which `ParquetUtils.inferSchema` reads.
  *
  * When any part of the key changes, the next load infers again and
  * replaces the path's entry, so the cache holds one entry per distinct
  * path. A path that cannot be statted (missing, a glob) is read uncached
  * and fails exactly as `spark.read.parquet` does.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What an inferred schema depends on besides its path. */
  private case class SchemaKey(version: Seq[(String, Long, Long)],
      confs: Seq[Boolean])

  /** qualified path → (the key its schema was inferred under, schema) */
  private val schemas = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fileVersion(fs, p) match {
      case None => spark.read.parquet(path)
      case Some(version) =>
        val qualified = fs.makeQualified(p).toString
        // taken before inferring: a rewrite racing the inference leaves
        // the entry under the old version, so the next load infers again
        val key = SchemaKey(version, inferenceConfs(spark))
        Option(schemas.get(qualified)) match {
          case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(qualified, (key, df.schema))
            df
        }
    }
  }

  /** `None` when `p` cannot be statted. */
  private def fileVersion(fs: FileSystem, p: Path): Option[Seq[(String, Long, Long)]] =
    try {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) Some(Seq(("", st.getLen, st.getModificationTime)))
      else {
        val it = fs.listFiles(p, true)
        val files = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          files += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(files.result().sorted)
      }
    } catch { case _: java.io.IOException => None }

  /** The session confs a parquet schema's inference reads: those of the
    * `ParquetToSparkSchemaConverter(SQLConf)` constructor (Spark 4.1), in
    * its order, then `ParquetUtils.inferSchema`'s schema-merging and
    * summary-file switches.
    */
  private def inferenceConfs(spark: SparkSession): Seq[Boolean] = {
    val c = spark.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
      c.legacyParquetNanosAsLong, c.parquetFieldIdReadEnabled,
      c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation,
      c.isParquetSchemaMergingEnabled, c.isParquetSchemaRespectSummaries)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Normalize `events.ts` to a session-TZ TimestampType column whatever
    * the fixture generation wrote: TIMESTAMP(NANOS) parquet reads as a raw
    * long (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[graft.GraftSession]]) and converts nanos → micros here; plain
    * timezone-less TIMESTAMP(MICROS) reads as TIMESTAMP_NTZ and casts over
    * (instant-preserving — sessions run UTC, matching the oracle's naive
    * reading). Downstream ops always see TimestampType, so `unix_micros`
    * / window arithmetic resolve identically across fixture vintages.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all fixture tables as temp views for `spark.sql` use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** SQL entry point: run a statement against the registered fixture
    * tables — the engine's ad-hoc query surface.
    */
  def sql(spark: SparkSession, dir: String, statement: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(statement)
  }

  // ── typed Dataset[T] surface (graft.model) ──

  import org.apache.spark.sql.Dataset
  import graft.model._

  def lineitemDS(s: SparkSession, d: String): Dataset[Lineitem] = {
    import s.implicits._; lineitem(s, d).as[Lineitem]
  }
  def ordersDS(s: SparkSession, d: String): Dataset[Order] = {
    import s.implicits._; orders(s, d).as[Order]
  }
  def customerDS(s: SparkSession, d: String): Dataset[Customer] = {
    import s.implicits._; customer(s, d).as[Customer]
  }
  def documentsDS(s: SparkSession, d: String): Dataset[Document] = {
    import s.implicits._; documents(s, d).as[Document]
  }
  def embeddingsDS(s: SparkSession, d: String): Dataset[Embedding] = {
    import s.implicits._; embeddings(s, d).as[Embedding]
  }
  def eventsDS(s: SparkSession, d: String): Dataset[Event] = {
    import s.implicits._; events(s, d).as[Event]
  }
}
