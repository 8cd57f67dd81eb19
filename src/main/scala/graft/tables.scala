package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All queries in [[SparkEntry]] read these parquet tables; the DuckDB
  * oracle reads the very same files, so names/types line up by
  * construction. Reads go through `spark.read.parquet` so Catalyst gets
  * full pushdown (PushedFilters / ReadSchema pruning) into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaOf(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Each table file's inferred schema, per session, keyed by path and
    * modification time: inference is a one-task job, so it runs once per
    * file and session, and again only when the file is rewritten. The
    * session is held WEAKLY so a recycled or stopped session isn't
    * pinned on the heap by its entries. A missing file has no schema
    * (None), so its read raises as an uncached read would.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, Long), StructType]]())
  private def schemaOf(s: SparkSession, path: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
    mtime.map(t => schemas.computeIfAbsent(s, _ => TrieMap.empty)
      .getOrElseUpdate((path, t), s.read.parquet(path).schema))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations, so the loader adapts to what the file declares:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    (PARQUET_TYPE_ILLEGAL), so read raw long nanos (legacy conf) and
    *    convert with integer division — ns-since-epoch exceeds 2^53, so a
    *    double division would corrupt the value. DuckDB reads the same
    *    file at ns precision, hence the `::TIMESTAMP` truncation casts in
    *    time-predicate oracles.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): reads natively
    *    as TIMESTAMP_NTZ; cast to session-zone TIMESTAMP (exact under the
    *    pinned UTC session) so downstream code sees the same column type
    *    either way. The oracle casts become no-ops at µs precision.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Unlike `events.ts` (TIMESTAMP NANOS), the star-schema date
    * columns are plain microsecond TIMESTAMP_NTZ — the ordinary
    * loaders are timestamp-safe, and date predicates push down to the
    * parquet scan. These aliases exist so query code documents that
    * the timestamp column is deliberately touched.
    */
  def ordersTs(s: SparkSession, d: String): DataFrame = orders(s, d)
  def lineitemTs(s: SparkSession, d: String): DataFrame = lineitem(s, d)

  /** Streaming file-source variant of [[events]] (S4 semantics:
    * schema-declared streaming read of a drop location). The declared
    * schema (a streaming source cannot infer one) is branched on the
    * batch-read footer type, and the same ts normalization as the batch
    * reader is applied, so stream and batch lineages produce identical
    * rows under either testdata encoding.
    *
    * The footer sniff reads [[load]]'s schema cache. An absent or
    * unreadable drop file (e.g. the location is still empty) falls back
    * to the current-generation µs encoding, so the stream can be built
    * over a dir files will only later land in (the documented S4
    * contract); the declared schema stays because an empty location
    * cannot be inferred. A drop dir that mixes testdata generations
    * would read some files under the wrong declared type — acceptable
    * for the single-generation harness.
    */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsLong =
      try schemaOf(s, s"$d/events.parquet").exists(_("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    val tsType: org.apache.spark.sql.types.DataType =
      if (tsIsLong) org.apache.spark.sql.types.LongType
      else org.apache.spark.sql.types.TimestampNTZType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", tsType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    // glob (not a bare file path) so the stream source's basePath
    // resolves to the directory
    val raw = s.readStream.schema(schema).parquet(s"$d/events.parque[t]")
    if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  /** Streaming file-source variant of [[documents]] (same S4 drop-
    * location semantics as [[eventsStream]]); plain µs-safe types, no
    * conversion needed.
    */
  def documentsStream(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    s.readStream.schema(schema).parquet(s"$d/documents.parque[t]")
  }

  /** Streaming file-source variant of [[embeddings]] (S4 drop-location
    * semantics) — the arrival shape of a vector-ingest pipeline.
    */
  def embeddingsStream(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType)))
    s.readStream.schema(schema).parquet(s"$d/embeddings.parque[t]")
  }
}
