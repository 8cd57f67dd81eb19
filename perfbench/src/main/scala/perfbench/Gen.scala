package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. The same seed always yields the same rows. Tables use
  * the column names and types of the project's test data, so
  * `TestdataAdapter`, `SparkEntry` and the DuckDB oracle read them as
  * they read that data.
  */
object Gen {
  val Customers = 15000 // the customer table's size at sf0.1
  val Nations = 25
  /** 2024-01-01T00:00:00Z: event time starts here, so timestamps (and
    * the hour-of-day score) depend on the seed only.
    */
  val EpochMs = 1704067200000L
  val Modalities = Array("PIX", "TED", "DOC", "Boleto")
  val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** customer and nation parquet tables under `dir`. */
  def dims(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val cust = (1 to Customers).map { k =>
      Row(k.toLong, f"Customer#$k%09d", r.nextInt(Nations),
        math.round((r.nextDouble() * 10999.98 - 999.99) * 100) / 100.0)
    }
    val custSchema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType)))
    writeTable(spark.createDataFrame(java.util.Arrays.asList(cust: _*), custSchema),
      dir, "customer")
    val nat = (0 until Nations).map(k => Row(k, s"NATION$k", k % 5))
    val natSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    writeTable(spark.createDataFrame(java.util.Arrays.asList(nat: _*), natSchema),
      dir, "nation")
  }

  /** Write `df` as the single file `<dir>/<name>.parquet`, the layout
    * of the test data, which DuckDB reads by file name.
    */
  def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Main.deleteTree(tmp)
  }

  /** Payers skewed by a Zipf(1.0) law over a seeded permutation of the
    * customer keys.
    */
  final class Payers(seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x9a7e5L)
    private val perm = {
      val a = Array.tabulate(Customers)(_ + 1L)
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val cdf = {
      val w = Array.tabulate(Customers)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      perm(math.min(if (i >= 0) i else -i - 1, Customers - 1))
    }
  }

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** JSON-lines events in the reference's wire schema, with seeded
    * UUID ids; `next` returns one event's id and line.
    */
  final class WireEvents(seed: Long) {
    private val r = new SplittableRandom(seed)
    private val payers = new Payers(seed)
    def next(eventTimeMs: Long): (String, String) = {
      val id = new java.util.UUID(r.nextLong(), r.nextLong()).toString
      val payer = payers.next()
      val payee = 1L + r.nextInt(Customers)
      val region = r.nextInt(Nations)
      val modality = Modalities(r.nextInt(Modalities.length))
      val value = math.round(-math.log(1.0 - r.nextDouble()) * 100000.0) / 100.0
      val ts = isoFmt.format(java.time.Instant.ofEpochMilli(eventTimeMs))
      id -> (s"""{"id_transacao":"$id","id_usuario_pagador":"$payer",""" +
        s""""id_usuario_recebedor":"$payee","id_regiao":"$region",""" +
        s""""modalidade_pagamento":"$modality","data_horario":"$ts",""" +
        s""""valor_transacao":$value}""")
    }
  }

  /** Write `lines` to `stage`, then rename into `dest` atomically, so a
    * file-stream source never sees a partial file.
    */
  def land(stage: Path, dest: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = stage.resolve(name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dest.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  val Words: Array[String] = ("a the agg batch big column customer data filter " +
    "group hash join key line merge order part query row scan slow small fast sort " +
    "spark stream table value vector window").split(" ")
  val Langs = Array("en", "de", "es", "fr", "zh")

  /** The `documents` table (doc_id, text, lang, source, n_chars): `n`
    * documents of 40 to 90 words, written in a seeded row order. One in
    * seven is a near-duplicate of an earlier document, one word
    * replaced (3-shingle Jaccard at least 0.87), so the dedup indexes
    * find pairs and chains of them.
    */
  def documents(spark: SparkSession, dir: Path, seed: Long, n: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0xd0c5L)
    val texts = new Array[Array[String]](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i > 0 && r.nextInt(7) == 0) {
          val w = texts(r.nextInt(i)).clone()
          w(r.nextInt(w.length)) = Words(r.nextInt(Words.length))
          w
        } else Array.fill(40 + r.nextInt(51))(Words(r.nextInt(Words.length)))
    }
    val rows = new scala.util.Random(seed)
      .shuffle(texts.indices.toVector).map { i =>
        val t = texts(i).mkString(" ")
        Row(i.toLong, t, Langs(i % Langs.length), s"src${i % 20}", t.length.toLong)
      }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    writeTable(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      dir, "documents")
  }

  /** The `embeddings` table (vec_id, embedding, label): `n` 64-float
    * vectors around 10 seeded cluster centres, label = cluster, in a
    * seeded row order.
    */
  def embeddings(spark: SparkSession, dir: Path, seed: Long, n: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0xe8bL)
    def gauss(): Double = {
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres = Array.fill(10, 64)(gauss() / 8)
    val vecs = (0 until n).map { i =>
      val c = r.nextInt(centres.length)
      (i.toLong, centres(c).map(x => (x + gauss() / 20).toFloat).toSeq, c)
    }
    val rows = new scala.util.Random(seed)
      .shuffle(vecs).map { case (id, v, c) => Row(id, v, c) }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    writeTable(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      dir, "embeddings")
  }

  /** The `events` table (event_id, ts, user_id, event_type, value) with
    * `n` rows over 30 days, payers Zipf-skewed over the customer keys.
    */
  def events(spark: SparkSession, dir: Path, seed: Long, n: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0xe7e27L)
    val payers = new Payers(seed)
    val span = 30L * 24 * 3600 * 1000 * 1000
    val rows = (0 until n).map { i =>
      Row(i.toLong, EpochMs * 1000 + r.nextLong(span), payers.next(),
        EventTypes(r.nextInt(EventTypes.length)),
        math.round(-math.log(1.0 - r.nextDouble()) * 30000.0) / 100.0)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    import org.apache.spark.sql.functions._
    // microsecond TIMESTAMP_NTZ, the encoding the test data ships
    writeTable(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value")), dir, "events")
  }
}
