package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io._
import graft.multimodal.Multimodal

class IoMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("schema evolution: mixed-schema parquet reads with mergeSchema") {
    // a long-lived sink accretes columns over its lifetime; files
    // written before a column existed must read as NULL for it, and
    // the footer-level merge must not rewrite or reorder old data
    val dir = s"${Scratch.dir("evolve")}/t"
    (1L to 100L).map(i => (i, s"v1_$i")).toDF("id", "a")
      .write.parquet(dir) // epoch 1: (id, a)
    (101L to 200L).map(i => (i, s"v2_$i", i * 10))
      .toDF("id", "a", "b")
      .write.mode("append").parquet(dir) // epoch 2: adds b
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("id", "a", "b"))
    assert(df.count() == 200)
    // pre-evolution rows surface NULL for the new column; new rows
    // carry it — and the filter still prunes at the scan (nulls are
    // row-group-stat prunable, not a full-scan penalty)
    assert(df.filter(col("b").isNull).count() == 100)
    assert(df.filter(col("b").isNotNull).agg(sum(col("b")))
      .head().getLong(0) == (101L to 200L).map(_ * 10).sum)
    // default (no mergeSchema) picks one footer — documents WHY the
    // option matters: without it the new column may silently vanish
    val plain = spark.read.parquet(dir)
    assert(plain.count() == 200)
  }

  test("corrupt file among good ones: fail-closed default, opt-in skip") {
    // at millions of files a truncated write eventually happens; the
    // engine's posture is a deliberate choice, pinned here: default
    // FAILS the job (correctness first — a silent skip is data loss),
    // ignoreCorruptFiles=true is the explicit triage mode that reads
    // past it and keeps every healthy row
    val dir = java.nio.file.Paths.get(Scratch.dir("corrupt"), "t")
    (1L to 100L).toDF("id").coalesce(1).write.parquet(dir.toString)
    Files.write(dir.resolve("part-zzz.parquet"),
      "not a parquet file".getBytes)
    val schema = StructType(Seq(StructField("id", LongType)))
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).parquet(dir.toString).collect()
    }
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val rows = spark.read.schema(schema).parquet(dir.toString).count()
      assert(rows == 100, s"healthy rows must survive the skip: $rows")
    } finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
  }

  test("CSV sink/source round-trip preserves rows (S3/O7)") {
    val tmp = Scratch.dir("csv")
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.0)).toDF("id", "s", "v")
    CsvSink(s"$tmp/out").write(df)
    val back = CsvSource(s"$tmp/out").load(spark)
    assert(back.count() == 2)
    assert(back.schema("id").dataType == IntegerType) // inference: narrowest int
    assert(back.schema("v").dataType == DoubleType)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val typed = CsvSource(s"$tmp/out", schema = Some(schema)).load(spark)
    assert(typed.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", -2.0)))
  }

  test("JSON and ORC sink/source round-trips preserve rows and types") {
    val tmp = Scratch.dir("fmt")
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.0)).toDF("id", "s", "v")
    graft.io.JsonSink(s"$tmp/j").write(df)
    val j = graft.io.JsonSource(s"$tmp/j").load(spark)
    assert(j.select("id", "s", "v").as[(Long, String, Double)]
      .collect().toSet == Set((1L, "a", 1.5), (2L, "b", -2.0)))
    graft.io.OrcSink(s"$tmp/o").write(df)
    val o = graft.io.OrcSource(s"$tmp/o").load(spark)
    // columnar: schema survives exactly (no inference pass)
    assert(o.schema("id").dataType == LongType)
    assert(o.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", -2.0)))
  }

  test("file-stream source reads a drop folder with declared schema (S4)") {
    val tmp = Scratch.dir("drop")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.option("header", "true").csv(s"$tmp/in")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val stream = FileStreamSource(s"$tmp/in", schema).loadStream(spark)
    assert(stream.isStreaming)
    val got = graft.streaming.StreamingJob.runToMemory(
      stream.groupBy().agg(sum(col("v")).as("total")), mode = "complete")
    assert(got.as[Double].head() == 30.0)
  }

  test("rate source produces streaming rows") {
    val s = RateSource(10).loadStream(spark)
    assert(s.isStreaming && s.columns.toSeq == Seq("timestamp", "value"))
  }

  test("idempotent batch sink: redelivered batch replaces, not appends") {
    val tmp = Scratch.dir("idem")
    val sink = IdempotentBatchSink(s"$tmp/t")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    sink.write(b0, batchId = 0)
    sink.write(Seq((3L, "c")).toDF("id", "s"), batchId = 1)
    sink.write(b0, batchId = 0) // at-least-once redelivery
    val all = spark.read.parquet(s"$tmp/t")
    assert(all.count() == 3) // no duplicates from the replay
    assert(all.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("KafkaSource without the connector jar fails with deploy guidance") {
    // the sandbox classpath has no spark-sql-kafka; the source must
    // translate Spark's DATA_SOURCE_NOT_FOUND into an actionable
    // message instead of a raw ClassNotFoundException
    val e = intercept[IllegalStateException] {
      graft.io.KafkaSource("localhost:9092", "tx").loadStream(spark)
    }
    assert(e.getMessage.contains("spark-sql-kafka-0-10"),
      s"error must name the missing package, got: ${e.getMessage}")
    assert(e.getCause != null, "original lookup failure must be chained")
  }

  test("media rows: payload bytes + typed meta survive the round trip") {
    val docs = Seq((7L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    val row = media.as[Multimodal.MediaRow].head()
    assert(row.media_id == 7L && row.modality == "image")
    assert(new String(row.payload, "UTF-8") == "hello world")
    assert(row.meta.format == "fake/raw" && row.meta.channels == 3)
  }

  test("feature extraction: partition-batched, deterministic stub codec") {
    val docs = Seq((1L, "abc"), (2L, "abc"), (3L, "xyz"))
      .toDF("doc_id", "text").repartition(2)
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(docs).as[Multimodal.MediaRow], dim = 4)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(feats(1L) == feats(2L) && feats(1L) != feats(3L))
    // exact stub semantics: byte folds into feature[i % dim]
    val want = Multimodal.Codec.decodeStub("abc".getBytes("UTF-8"), 4).toSeq
    assert(feats(1L) == want)
    assert(feats.values.forall(_.length == 4))
  }

  test("decodeImage: PNG round-trip recovers exact dims, channels, luminance") {
    val png = Multimodal.Codec.encodePng(3, 2, (x, y) => {
      val g = 10 * (y * 3 + x) + 5
      (g << 16) | (g << 8) | g
    })
    assert(Multimodal.Codec.sniffFormat(png) == "image/png")
    val Some((meta, f)) = Multimodal.Codec.decodeImage(png, 6)
    assert(meta == Multimodal.MediaMeta("image/png", 3, 2, 3))
    // dim == pixels -> feature i IS pixel i's luminance; PNG is
    // lossless so the values are exact (same float expression)
    val want = (0 until 6).map(i => (3 * (10 * i + 5)) / 765.0f)
    assert(f.toSeq == want)
  }

  test("decodeImage: JPEG decodes true dims; lossy values not pinned") {
    val img = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpg = bos.toByteArray
    assert(Multimodal.Codec.sniffFormat(jpg) == "image/jpeg")
    val Some((meta, f)) = Multimodal.Codec.decodeImage(jpg, 4)
    assert(meta.format == "image/jpeg" && meta.width == 5 && meta.height == 4)
    assert(f.forall(v => v >= 0f && v <= 5f)) // 20 px / 4 dims, lum <= 1
  }

  test("decodeFeatures: unreadable payloads degrade to the stub, flagged") {
    val docs = Seq((1L, "not an image")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs).as[Multimodal.MediaRow]
    val d = Multimodal.decodeFeatures(media, dim = 4).collect()(0)
    assert(!d.decoded, "text bytes must take the fallback path")
    assert(d.format == "fake/raw", "fallback passes the metadata claim through")
    assert(d.features.toSeq ==
      Multimodal.Codec.decodeStub("not an image".getBytes("UTF-8"), 4).toSeq)
    // a real PNG through the same typed transform decodes for real
    val png = Multimodal.Codec.encodePng(2, 2, (_, _) => 0x40C0FF)
    val withPng = Seq(Multimodal.MediaRow(9L, "image", png,
      Multimodal.MediaMeta("claims/wrong", 0, 0, 0))).toDS()
    val r = Multimodal.decodeFeatures(withPng, dim = 4).collect()(0)
    assert(r.decoded && r.format == "image/png" && r.width == 2 &&
      r.height == 2 && r.channels == 3,
      "decode must report pixel truth, not the metadata claim")
  }

  test("frame sampling stub batches payload ranges") {
    val frames = Multimodal.Codec.sampleFrames(Array[Byte](1, 2, 3, 4, 5), 2)
    assert(frames.map(_.toSeq) == Seq(Seq(1, 2), Seq(3, 4), Seq(5)))
  }

  test("resize transform subsamples payloads and refreshes metadata") {
    val docs = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val resized = Multimodal.resize(
      Multimodal.mediaFromDocuments(docs).as[Multimodal.MediaRow], outLen = 5)
      .collect()(0)
    assert(resized.payload.length == 5 && resized.meta.width == 5)
    // deterministic nearest-neighbor picks
    assert(new String(resized.payload, "UTF-8") == "acegi")
    assert(Multimodal.Codec.resizeStub(Array.emptyByteArray, 5).isEmpty)
  }

  test("resizeImage: real rescale to target dims; solid color bit-exact; fallback") {
    import Multimodal.Codec
    // 8×6 solid gray: any interpolation of a constant field is the
    // constant, and PNG is lossless — decode-back must be bit-exact
    val g = 143
    val png = Codec.encodePng(8, 6, (_, _) => (g << 16) | (g << 8) | g)
    val rz = Codec.resizeImage(png, 3, 2).get
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rz))
    assert(back.getWidth == 3 && back.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 3)
      assert((back.getRGB(x, y) & 0xFFFFFF) == ((g << 16) | (g << 8) | g),
        s"pixel ($x,$y) changed under solid-color resize")
    // non-image payloads are not silently mangled: real path declines
    assert(Codec.resizeImage("not an image".getBytes, 3, 2).isEmpty)
    // the Dataset transform degrades those to the stub, flagged
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, "image",
      "garbage payload".getBytes,
      Multimodal.MediaMeta("fake/raw", 0, 0, 1))).toDS()
    val out = Multimodal.resizeMedia(media, 3, 2).collect()(0)
    assert(out.meta.format == "unknown" && out.payload.length == 6)
  }

  test("GVID demux: round-trip, truncation/lying-header rejection, per-frame decode") {
    import Multimodal.Codec
    val f1 = Codec.encodePng(2, 2, (_, _) => 0x646464) // gray 100
    val f2 = Codec.encodePng(2, 2, (_, _) => 0xC8C8C8) // gray 200
    val vid = Codec.encodeVideo(Seq(f1, f2))
    val back = Codec.demuxFrames(vid).get
    assert(back.length == 2)
    assert(back(0).sameElements(f1) && back(1).sameElements(f2))
    // empty container is valid (zero frames), not an error
    assert(Codec.demuxFrames(Codec.encodeVideo(Seq.empty)).get.isEmpty)
    // truncated payload: the length-prefix walk must detect the lie
    assert(Codec.demuxFrames(vid.dropRight(3)).isEmpty)
    // header claims more frames than the payload holds
    val lying = vid.clone()
    lying(7) = 9 // frame count int32's low byte: 2 -> 9
    assert(Codec.demuxFrames(lying).isEmpty)
    // wrong magic degrades, flagged, in the Dataset pass
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "video", vid,
        Multimodal.MediaMeta("video/gvid", 0, 0, 0)),
      Multimodal.MediaRow(2L, "video", "AVI?nope".getBytes,
        Multimodal.MediaMeta("video/gvid", 0, 0, 0))).toDS()
    val out = Multimodal.videoStats(media).collect().sortBy(_.media_id)
    assert(out(0).decoded && out(0).n_frames == 2 &&
      out(0).frame_w == 2 && out(0).frame_h == 2)
    assert(math.round(out(0).first_lum * 255) == 100 &&
      math.round(out(0).last_lum * 255) == 200)
    assert(!out(1).decoded && out(1).n_frames == 0)
  }

  test("decodeAudio: WAV round-trip recovers rate, channels, samples, exact RMS/peak") {
    import Multimodal.Codec
    // alternating ±1200: RMS = peak = 1200 exactly (perfect-square
    // sqrt is exact in double), mean-free regardless of parity
    val samples = Array.tabulate[Short](41)(i =>
      (if (i % 2 == 0) 1200 else -1200).toShort)
    val wav = Codec.encodeWav(16000, samples)
    val a = Codec.decodeAudio(wav).get
    assert(a.sampleRate == 16000 && a.channels == 1 && a.nSamples == 41L)
    assert(a.rms == 1200.0 && a.peak == 1200)
    // zero-length audio: no division blowup
    val silent = Codec.decodeAudio(Codec.encodeWav(8000, Array.empty)).get
    assert(silent.nSamples == 0L && silent.rms == 0.0 && silent.peak == 0)
    // non-WAV payloads decline; the Dataset pass degrades them flagged
    assert(Codec.decodeAudio("not audio at all".getBytes).isEmpty)
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav,
        Multimodal.MediaMeta("audio/wav", 0, 0, 0)), // meta lies: 0 ch
      Multimodal.MediaRow(2L, "audio", "garbage".getBytes,
        Multimodal.MediaMeta("audio/wav", 0, 0, 7))).toDS()
    val out = Multimodal.audioStats(media).collect().sortBy(_.media_id)
    assert(out(0).decoded && out(0).sample_rate == 16000 &&
      out(0).channels == 1 && out(0).rms == 1200.0)
    assert(!out(1).decoded && out(1).channels == 7 &&
      out(1).n_samples == 7L) // stub: claim passed through, byte count
  }
}
