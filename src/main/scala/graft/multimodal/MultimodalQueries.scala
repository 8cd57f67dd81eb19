package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations for the multimodal plumbing over
  * `documents` (payload = UTF-8 bytes as the opaque binary column).
  * The metadata pass is oracle-checked exactly (byte length + md5
  * digest are engine-independent); the stub-decoded feature extraction
  * is oracle-checked by CONTRACT (shape + mass invariants per media),
  * with exact values pinned in IoMultimodalSpec.
  */
object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.payloadMeta(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))),
    // The stub decode's float fold is engine-specific, so the ORACLE
    // checks the extraction by CONTRACT (the a37 trick), one row per
    // media so the per-row plumbing (typed batch transform, schema,
    // row alignment) is what's actually gated:
    //  · media_id / modality / dim: literal shape columns the oracle
    //    recomputes from the source table;
    //  · nonneg_ok: every feature ≥ 0 (the fold adds unsigned bytes);
    //  · mass_ok: 0 ≤ Σfeatures ≤ payload bytes (each byte adds at
    //    most 1/255·255 = 1), strictly > 0 when the payload is
    //    non-empty — a row misalignment or dropped batch fails this.
    // Exact feature values stay pinned by IoMultimodalSpec.
    "mm_features" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val media = Multimodal.mediaFromDocuments(docs)
        .as[Multimodal.MediaRow]
      val f = Multimodal.extractFeatures(media, dim = 16).toDF()
        .withColumn("fsum", aggregate(col("features"), lit(0.0),
          (acc, x) => acc + x.cast("double")))
      f.join(docs.select(col("doc_id").as("media_id"),
          octet_length(col("text")).as("n_bytes")), Seq("media_id"))
        .select(col("media_id"), col("modality"),
          size(col("features")).as("dim"),
          forall(col("features"), x => x >= 0f).as("nonneg_ok"),
          (col("fsum") >= 0 && col("fsum") <= col("n_bytes") &&
            (col("n_bytes") === 0 || col("fsum") > 0)).as("mass_ok"))
    }),
    // REAL image decode over generated PNG fixtures: each document
    // becomes a small PNG (dims + gray pixel values deterministic
    // functions of doc_id, encoded losslessly in the fixture-builder
    // map), then [[Multimodal.decodeFeatures]] decodes it back with
    // javax.imageio. The contract oracle (a37 trick) recomputes what
    // the decode must recover:
    //  · decoded: ImageIO accepted every fixture (fallback not taken);
    //  · width/height: true PIXEL dims, recomputed from doc_id — a
    //    codec that trusted the metadata claim instead of the pixels
    //    would still pass these, so the fixture's metadata struct
    //    LIES (0×0) and decoded dims must differ from it;
    //  · channels = 3 (TYPE_INT_RGB);
    //  · px0_ok: feature 0, scaled back by 255, equals pixel (0,0)'s
    //    gray value exactly — dim (64) ≥ pixels (≤35), so feature i
    //    IS pixel i's luminance and one flipped byte fails the row;
    //  · mass_ok: 0 < Σfeatures ≤ pixels (luminance ∈ (0,1] per px).
    "mm_decode_real" -> ((s, dir) => {
      import s.implicits._
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val w = (id % 7 + 1).toInt
        val h = (id % 5 + 1).toInt
        // gray range 1..255: a doc whose every pixel were 0 would
        // make the fsum>0 invariant vacuously false
        val png = Multimodal.Codec.encodePng(w, h, (x, y) => {
          val g = ((id * 31 + x * 7 + y * 13) % 255).toInt + 1
          (g << 16) | (g << 8) | g
        })
        // metadata claims 0×0: the decode must report pixel truth
        Multimodal.MediaRow(id, "image", png,
          Multimodal.MediaMeta("image/png", 0, 0, 3))
      })
      val f = Multimodal.decodeFeatures(media, dim = 64).toDF()
        .withColumn("fsum", aggregate(col("features"), lit(0.0),
          (acc, x) => acc + x.cast("double")))
      f.select(col("media_id"), col("decoded"), col("format"),
        col("width"), col("height"), col("channels"),
        (roundHalfAway(element_at(col("features"), 1) * 255) ===
          (col("media_id") * 31) % 255 + 1).as("px0_ok"),
        (col("fsum") > 0 &&
          col("fsum") <= col("width") * col("height")).as("mass_ok"))
    }),
    // REAL resize contract: solid-gray PNG fixtures of varying dims
    // are resized to 3×2 and decoded BACK — the decoded dims must be
    // the target, every pixel must still be the original gray (a
    // solid color survives any interpolation bit-exactly through the
    // lossless PNG round-trip), and the luminance mass must equal
    // 6 pixels × gray exactly
    "mm_resize_real" -> ((s, dir) => {
      import s.implicits._
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val w = (id % 7 + 1).toInt
        val h = (id % 5 + 1).toInt
        val g = ((id * 31) % 255).toInt + 1
        val png = Multimodal.Codec.encodePng(w, h,
          (_, _) => (g << 16) | (g << 8) | g)
        Multimodal.MediaRow(id, "image", png,
          Multimodal.MediaMeta("image/png", w, h, 3))
      })
      val rz = Multimodal.resizeMedia(media, 3, 2)
      val f = Multimodal.decodeFeatures(rz, dim = 8).toDF()
        .withColumn("fsum", aggregate(col("features"), lit(0.0),
          (acc, x) => acc + x.cast("double")))
      f.select(col("media_id"), col("decoded"), col("width"), col("height"),
        (roundHalfAway(element_at(col("features"), 1) * 255) ===
          (col("media_id") * 31) % 255 + 1).as("px_ok"),
        (roundHalfAway(col("fsum") * 255) ===
          ((col("media_id") * 31) % 255 + 1) * 6).as("mass_ok"))
    }),
    // REAL audio decode over generated WAV fixtures: each document
    // becomes a 16-bit PCM mono WAV (sample count + amplitude
    // deterministic functions of doc_id; samples alternate ±amp so
    // RMS = peak = amp exactly — a perfect-square sqrt is exact in
    // double). The contract oracle recomputes what the decode must
    // recover:
    //  · decoded: javax.sound accepted every fixture;
    //  · sample_rate / channels: container truth (the fixture's
    //    metadata struct LIES — claims 0 channels — so matching these
    //    proves the codec read the RIFF header, not the claim);
    //  · n_samples: recomputed from doc_id;
    //  · rms_ok / peak_ok: sample-domain features equal the planted
    //    amplitude exactly — one flipped sample byte fails the row.
    "mm_audio_real" -> ((s, dir) => {
      import s.implicits._
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val n = (id % 50 + 10).toInt
        val amp = ((id % 512) + 1).toInt * 32 // ≤ 16416, inside Short
        val samples = Array.tabulate[Short](n)(i =>
          (if (i % 2 == 0) amp else -amp).toShort)
        Multimodal.MediaRow(id, "audio",
          Multimodal.Codec.encodeWav(8000, samples),
          Multimodal.MediaMeta("audio/wav", 0, 0, 0))
      })
      Multimodal.audioStats(media).toDF()
        .select(col("media_id"), col("decoded"), col("sample_rate"),
          col("channels"), col("n_samples"),
          (roundHalfAway(col("rms")) === (col("media_id") % 512 + 1) * 32)
            .as("rms_ok"),
          (col("peak") === (col("media_id") % 512 + 1) * 32)
            .as("peak_ok"))
    }),
    // REAL container demux + per-frame REAL image decode: each
    // document becomes a GVID container (a documented length-prefixed
    // frame format — see Codec.encodeVideo; the sandbox has no
    // compressed-video codec to put behind a real MP4 demux) holding
    // k solid-gray PNG frames, k/dims/grays deterministic functions
    // of doc_id. The contract oracle recomputes what the demux +
    // frame codec must recover: true frame count (the metadata struct
    // LIES — claims 0×0, 0 channels), first-frame pixel dims, and
    // first/last-frame mean luminance equal to the planted grays
    // exactly — a dropped/reordered frame or an off-by-one in the
    // length-prefix walk fails the row.
    // ADVERSARIAL audio fixtures — the decode fallback contract: a
    // malformed payload must degrade to decoded=false with the
    // documented passthrough row (n_samples = byte length, channels
    // from the claimed metadata), never throw, and must not disturb
    // valid rows in the same partition. Kinds: valid PCM (control),
    // zero-sample WAV (VALID — an empty recording decodes, rms 0),
    // header truncated mid-'fmt ', IEEE-float format code (a real
    // WAV this engine's 16-bit-PCM contract refuses), non-RIFF
    // garbage, and 8-bit PCM (parseable container, wrong sample
    // width). Fixture-only by design (no table input): the oracle
    // pins the exact expected row per kind.
    "mm_audio_malformed" -> ((s, _) => {
      import s.implicits._
      def patched(bytes: Array[Byte])(
          f: java.nio.ByteBuffer => Unit): Array[Byte] = {
        val b = bytes.clone()
        f(java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN))
        b
      }
      val valid = Multimodal.Codec.encodeWav(8000,
        Array[Short](1000, -1000, 1000, -1000))
      val twoSamp = Multimodal.Codec.encodeWav(8000,
        Array[Short](1000, -1000))
      val rows = Seq(
        (1L, valid),
        (2L, Multimodal.Codec.encodeWav(8000, Array.empty[Short])),
        (3L, valid.take(20)),                       // torn header
        (4L, patched(twoSamp)(_.putShort(20, 3))),  // IEEE-float fmt
        (5L, "not a riff header at all".getBytes("US-ASCII")),
        (6L, patched(twoSamp) { bb =>               // 8-bit PCM
          bb.putShort(34, 8); bb.putShort(32, 1); bb.putInt(28, 8000)
        })
      ).map { case (id, payload) =>
        Multimodal.MediaRow(id, "audio", payload,
          Multimodal.MediaMeta("audio/wav", 0, 0, 7))
      }
      Multimodal.audioStats(s.createDataset(rows)).toDF()
        .select(col("media_id"), col("decoded"), col("sample_rate"),
          col("channels"), col("n_samples"),
          roundHalfAway(col("rms"), 6).as("rms"), col("peak"))
    }),
    "mm_video_real" -> ((s, dir) => {
      import s.implicits._
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val k = (id % 4 + 1).toInt
        val w = (id % 5 + 1).toInt
        val h = (id % 3 + 1).toInt
        val frames = (0 until k).map { i =>
          val g = ((id * 31 + i * 17) % 255).toInt + 1
          Multimodal.Codec.encodePng(w, h,
            (_, _) => (g << 16) | (g << 8) | g)
        }
        Multimodal.MediaRow(id, "video",
          Multimodal.Codec.encodeVideo(frames),
          Multimodal.MediaMeta("video/gvid", 0, 0, 0))
      })
      Multimodal.videoStats(media).toDF()
        .select(col("media_id"), col("decoded"), col("n_frames"),
          col("frame_w"), col("frame_h"),
          (roundHalfAway(col("first_lum") * 255) ===
            (col("media_id") * 31) % 255 + 1).as("first_ok"),
          (roundHalfAway(col("last_lum") * 255) ===
            (col("media_id") * 31 + (col("media_id") % 4) * 17) % 255 + 1)
            .as("last_ok"))
    }),
    // frame-sampling plumbing; the stub's byte-range frames make the
    // stats pure arithmetic, so this one IS oracle-checked
    "mm_frame_stats" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
        .as[Multimodal.MediaRow]
      Multimodal.frameStats(media, every = 32).toDF()
    }))

  val oracleSql: Map[String, String] = Map(
    // contract oracle (see the query's comment): shape columns
    // recomputed from the source, invariant cells literal
    "mm_features" ->
      """SELECT doc_id AS media_id, 'image' AS modality, 16 AS dim,
        |       TRUE AS nonneg_ok, TRUE AS mass_ok
        |FROM documents""".stripMargin,
    // real-decode contract: every invariant cell literal, the decoded
    // pixel dimensions recomputed from doc_id (the fixture's metadata
    // claims 0×0, so matching these proves the codec read the pixels)
    "mm_decode_real" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |       'image/png' AS format,
        |       (doc_id % 7 + 1)::INT AS width,
        |       (doc_id % 5 + 1)::INT AS height,
        |       3 AS channels, TRUE AS px0_ok, TRUE AS mass_ok
        |FROM documents""".stripMargin,
    // resize contract: decoded target dims + solid-color pixel/mass
    // preservation, every invariant cell literal
    "mm_resize_real" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |       3 AS width, 2 AS height,
        |       TRUE AS px_ok, TRUE AS mass_ok
        |FROM documents""".stripMargin,
    // real-demux contract: container truth + per-frame codec
    // invariants, shape columns recomputed from doc_id
    "mm_video_real" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |       (doc_id % 4 + 1)::INT AS n_frames,
        |       (doc_id % 5 + 1)::INT AS frame_w,
        |       (doc_id % 3 + 1)::INT AS frame_h,
        |       TRUE AS first_ok, TRUE AS last_ok
        |FROM documents""".stripMargin,
    // real-audio contract: header truth + sample-domain invariants,
    // shape columns recomputed from doc_id
    "mm_audio_real" ->
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |       8000 AS sample_rate, 1 AS channels,
        |       (doc_id % 50 + 10)::BIGINT AS n_samples,
        |       TRUE AS rms_ok, TRUE AS peak_ok
        |FROM documents""".stripMargin,
    // malformed-fixture contract: the exact expected row per kind —
    // valid and zero-sample WAVs decode, torn header / IEEE-float /
    // garbage / 8-bit degrade to the documented passthrough
    "mm_audio_malformed" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, TRUE,  8000::INT, 1::INT, 4::BIGINT, 1000.0::DOUBLE, 1000::INT),
        |  (2::BIGINT, TRUE,  8000::INT, 1::INT, 0::BIGINT,    0.0::DOUBLE,    0::INT),
        |  (3::BIGINT, FALSE,    0::INT, 7::INT, 20::BIGINT,   0.0::DOUBLE,    0::INT),
        |  (4::BIGINT, FALSE,    0::INT, 7::INT, 48::BIGINT,   0.0::DOUBLE,    0::INT),
        |  (5::BIGINT, FALSE,    0::INT, 7::INT, 24::BIGINT,   0.0::DOUBLE,    0::INT),
        |  (6::BIGINT, FALSE,    0::INT, 7::INT, 48::BIGINT,   0.0::DOUBLE,    0::INT))
        |  AS t(media_id, decoded, sample_rate, channels, n_samples,
        |       rms, peak)""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
        |       octet_length(encode(text))::INT AS n_bytes,
        |       md5(text) AS digest,
        |       'fake/raw' AS format,
        |       (length(text) % 640)::INT AS width,
        |       (length(text) % 480)::INT AS height
        |FROM documents""".stripMargin,
    "mm_frame_stats" ->
      """WITH l AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id AS media_id,
        |       ceil(n / 32.0)::INT AS n_frames,
        |       least(32, n)::INT AS first_bytes,
        |       CASE WHEN n = 0 THEN 0
        |            ELSE n - (ceil(n / 32.0)::INT - 1) * 32 END::INT
        |         AS last_bytes
        |FROM l""".stripMargin)
}
