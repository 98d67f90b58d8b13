package graft.multimodal

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video handled as opaque `binary`
  * columns plus a typed metadata struct, with decode / feature-extract
  * / resize / frame-sample stages.
  *
  * ALL three media tiers decode FOR REAL — no stub remains:
  *  - image: [[BmpCodec]] parses 24bpp Windows DIB byte-for-byte
  *    (row padding + bottom-up rows).
  *  - audio: [[WavCodec]] walks the RIFF chunk list and parses
  *    `fmt `/`data` PCM chunks.
  *  - video: [[Y4mCodec]] parses the YUV4MPEG2 header line and walks
  *    `FRAME` chunks — the container has no frame count, so a decoded
  *    `nFrames` is proof of a real frame walk.
  * Each parser is golden-tested against handcrafted container bytes in
  * MultimodalSpec and oracle-checked end-to-end against closed-form
  * synthesis parameters (`mm_features`, `mm_*_decode` below).
  *
  * Scale notes: media blobs are the widest column by far — every query
  * prunes to (id, meta) before any shuffle and touches `content` only
  * in the narrow per-partition decode pass; nothing ever shuffles raw
  * bytes. Feature extraction is mapPartitions-batched so a real codec
  * can amortize decoder init per partition (the JVM analog of a
  * pandas-batched UDF).
  */
object Multimodal {

  /** Typed metadata carried next to the opaque bytes. */
  case class MediaMeta(width: Int, height: Int, sampleRate: Int, nFrames: Int)

  case class MediaRecord(
      media_id: Long,
      media_type: String, // image | audio | video
      content: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      /** decoded per-type level: image = mean grey over all pixels,
        * audio = mean PCM sample, video = mean luma of the first frame
        */
      mean_level: Double)

  /** Deterministic REAL-container corpus derived from `documents` (the
    * test environment ships no binary table): every blob is genuine
    * on-disk bytes of its format — BMP for image rows, RIFF/WAVE for
    * audio, YUV4MPEG2 for video — with dimensions/rates/frame counts
    * and pixel/sample values all pure functions of (doc_id, n_chars),
    * so oracles can recompute every decoded field closed-form. Stands
    * in for `spark.read.parquet` of a real media table with the same
    * schema; synthesis+decode is one narrow per-partition pass.
    */
  def mediaTable(t: Tables): DataFrame = {
    val s = t.documents.sparkSession
    import s.implicits._
    t.documents.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) => synthRecord(id, nChars) })
      .toDF()
  }

  /** One synthesized media row; the closed-form parameter formulas here
    * are mirrored verbatim in the `mm_*` oracles.
    */
  private[multimodal] def synthRecord(id: Long, nChars: Long): MediaRecord =
    (id % 3) match {
      case 0 => // image: 24bpp BMP, grey(i) = (id·7 + i·3) mod 256
        val w = (id % 31 + 1).toInt
        val h = (id % 17 + 1).toInt
        val bytes = BmpCodec.encode(w, h,
          (x, y) => ((id * 7 + (y.toLong * w + x) * 3) % 256).toInt)
        MediaRecord(id, "image", bytes, w, h, 0, 1)
      case 1 => // audio: mono 16-bit PCM WAV, sample(i) = (id·31+i·7) mod 2^16 − 2^15
        val rate = 8000 + (id % 5).toInt * 2000
        val n    = (nChars % 240 + 1).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        MediaRecord(id, "audio", WavCodec.encode(rate, samples), 0, 0, rate, 0)
      case _ => // video: C420jpeg Y4M, luma(f,i) = (id·11 + f·5 + i·3) mod 256
        val w   = ((id % 8) + 1).toInt * 2
        val h   = ((id % 4) + 1).toInt * 2
        val fps = 24 + (id % 4).toInt * 6
        val nf  = (nChars % 240 + 1).toInt
        val bytes = Y4mCodec.encode(w, h, fps, 1, nf,
          (f, i) => ((id * 11 + f * 5L + i * 3L) % 256).toInt)
        MediaRecord(id, "video", bytes, w, h, 0, nf)
    }

  /** Batched per-partition decode: dispatch on the media type and parse
    * the container bytes with the real codec for that format.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // per-partition init seam: a heavier codec opens its tables here once
      batch.map { r =>
        val mean = r.media_type match {
          case "image" => BmpCodec.decode(r.content).meanLevel
          case "audio" => WavCodec.decode(r.content).meanSample
          case "video" => Y4mCodec.decode(r.content).firstFrameMean
          case other =>
            throw new IllegalArgumentException(s"unknown media type $other")
        }
        MediaFeatures(r.media_id, r.media_type, r.content.length.toLong, mean)
      }
    }
  }

  /** Resize manifest: the metadata half of the thumbnailing op (the
    * pixel-content half — decode, resample, re-encode — is
    * [[resizedPx]]). The scale math is INTEGER: width clamps to `maxW`
    * and height becomes `h·maxW div w` — exact in every engine, where a
    * float scale factor would diverge on decimal-vs-double rounding.
    */
  def resize(media: DataFrame, maxW: Int): DataFrame =
    media
      .withColumn("height",
        when(col("width") <= maxW, col("height"))
          .otherwise(floor(col("height") * maxW / col("width")).cast("int")))
      .withColumn("width", least(col("width"), lit(maxW)))

  /** Frame sampling for video rows: one output row per kept frame,
    * every `step`-th frame. The frame count comes from DECODING the
    * container (Y4M carries no frame-count field — [[Y4mCodec.decode]]
    * walks the stream), not from trusting declared metadata; the walk
    * happens in the narrow per-partition pass and only (id, frame_no)
    * rows ever reach the explode — content bytes are not duplicated
    * per frame and never shuffle.
    */
  def frameSample(media: DataFrame, step: Int): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.filter(col("media_type") === "video")
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, Y4mCodec.decode(bytes).nFrames)
      })
      .toDF("media_id", "n_frames")
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step)))
          .as("frame_no"))
  }

  /** Feature extraction as a declared query: synthesize the real
    * container corpus, decode every blob with its format's parser, and
    * emit the decoded statistics. The oracle recomputes byte sizes and
    * per-type means closed-form from the synthesis parameters — a wrong
    * encoder OR a wrong parser diverges.
    */
  val features = Query(
    "mm_features",
    (s, dir) => {
      import s.implicits._
      extractFeatures(mediaTable(Tables(s, dir)).as[MediaRecord])
        .toDF()
        .withColumn("mean_level", round(col("mean_level"), 4))
        .orderBy(col("media_id"))
    },
    oracle = Some("""
      SELECT doc_id AS media_id,
        ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
        (CASE doc_id % 3
          WHEN 0 THEN 54 + ((3 * (doc_id % 31 + 1) + 3) // 4 * 4) * (doc_id % 17 + 1)
          WHEN 1 THEN 44 + 2 * (n_chars % 240 + 1)
          ELSE length('YUV4MPEG2 W' || ((doc_id % 8 + 1) * 2)::VARCHAR
                 || ' H' || ((doc_id % 4 + 1) * 2)::VARCHAR
                 || ' F' || (24 + (doc_id % 4) * 6)::VARCHAR
                 || ':1 Ip A1:1 C420jpeg') + 1
               + (n_chars % 240 + 1) * (6 + 6 * (doc_id % 8 + 1) * (doc_id % 4 + 1))
        END)::BIGINT AS n_bytes,
        CASE doc_id % 3
          WHEN 0 THEN round(list_sum(list_transform(
            range(0, ((doc_id % 31 + 1) * (doc_id % 17 + 1))::INT),
            i -> (doc_id * 7 + i * 3) % 256))::DOUBLE
            / ((doc_id % 31 + 1) * (doc_id % 17 + 1)), 4)
          WHEN 1 THEN round(list_sum(list_transform(
            range(0, (n_chars % 240 + 1)::INT),
            i -> (doc_id * 31 + i * 7) % 65536 - 32768))::DOUBLE
            / (n_chars % 240 + 1), 4)
          ELSE round(list_sum(list_transform(
            range(0, (4 * (doc_id % 8 + 1) * (doc_id % 4 + 1))::INT),
            i -> (doc_id * 11 + i * 3) % 256))::DOUBLE
            / (4 * (doc_id % 8 + 1) * (doc_id % 4 + 1)), 4)
        END AS mean_level
      FROM documents ORDER BY media_id
    """),
  )

  /** Frame sampling as a declared query: every 7th frame of each video,
    * with the frame count discovered by the decoder's frame walk.
    */
  val frames = Query(
    "mm_frame_sample",
    (s, dir) => {
      frameSample(mediaTable(Tables(s, dir)), step = 7)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("frame_no")).as("last_frame"))
        .orderBy(col("media_id"))
    },
    oracle = Some("""
      SELECT doc_id AS media_id,
        len(range(0, (n_chars % 240 + 1)::INT, 7)) AS n_sampled,
        list_max(range(0, (n_chars % 240 + 1)::INT, 7)) AS last_frame
      FROM documents
      WHERE doc_id % 3 = 2  -- ['image','audio','video'][3] = 'video'
      ORDER BY media_id
    """),
  )

  /** Resize as a declared query — the thumbnailing manifest: every
    * image/video row's dimensions clamped to a 16-px-wide box,
    * aspect-preserving, audio untouched (width 0). Pure per-row
    * metadata math; the oracle recomputes the scale from the synthesis
    * dimension formulas.
    */
  val resized = Query(
    "mm_resize",
    (s, dir) => {
      resize(mediaTable(Tables(s, dir)), maxW = 16)
        .select(col("media_id"), col("media_type"),
          col("width"), col("height"))
        .orderBy(col("media_id"))
    },
    oracle = Some("""
      WITH dims AS (
        SELECT doc_id AS media_id,
          ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
          CASE doc_id % 3
            WHEN 0 THEN doc_id % 31 + 1
            WHEN 1 THEN 0
            ELSE (doc_id % 8 + 1) * 2 END AS w,
          CASE doc_id % 3
            WHEN 0 THEN doc_id % 17 + 1
            WHEN 1 THEN 0
            ELSE (doc_id % 4 + 1) * 2 END AS h
        FROM documents
      )
      SELECT media_id, media_type,
        least(w, 16)::INT AS width,
        (CASE WHEN w <= 16 THEN h ELSE h * 16 // w END)::INT AS height
      FROM dims ORDER BY media_id
    """),
  )

  /** PIXEL-CONTENT resize — the real thumbnailing op ([[resized]] above
    * is the metadata manifest): every image row's BMP bytes are decoded,
    * nearest-neighbor-resampled into the same 16-px-wide aspect box
    * (height clamped to ≥1 — a 31×1 source must not produce a 0-height
    * image), and RE-ENCODED through [[BmpCodec]]; the emitted fields
    * come from decoding the RESIZED bytes back, so a malformed
    * re-encode fails loudly. The oracle recomputes the resampled mean
    * closed-form from the synthesis grey formula and the floor source
    * mapping — a wrong resample kernel (wrong rounding, transposed
    * axes, off-by-one row walk) diverges.
    *
    * Scale shape: decode→resample→re-encode is the same narrow
    * per-partition pass as [[extractFeatures]]; blobs never shuffle
    * (the only exchange is the presentation sort).
    */
  val resizedPx = Query(
    "mm_resize_px",
    (s, dir) => {
      import s.implicits._
      mediaTable(Tables(s, dir))
        .filter(col("media_type") === "image")
        .select(col("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val src = BmpCodec.decode(bytes)
          val w2  = math.min(src.width, 16)
          val h2  =
            if (src.width <= 16) src.height
            else math.max(1, src.height * 16 / src.width)
          val out = BmpCodec.decode(BmpCodec.resizeNearest(bytes, w2, h2))
          (id, out.width, out.height, out.fileSize, out.meanLevel)
        })
        .toDF("media_id", "width", "height", "file_size", "mean_level")
        .withColumn("mean_level", round(col("mean_level"), 4))
        .orderBy(col("media_id"))
    },
    oracle = Some("""
      WITH img AS (
        SELECT doc_id AS media_id,
          (doc_id % 31 + 1) AS w,
          (doc_id % 17 + 1) AS h
        FROM documents WHERE doc_id % 3 = 0
      ), t AS (
        SELECT media_id, w, h,
          least(w, 16) AS w2,
          CASE WHEN w <= 16 THEN h ELSE greatest(1, h * 16 // w) END AS h2
        FROM img
      )
      SELECT media_id, w2::INT AS width, h2::INT AS height,
        (54 + ((3 * w2 + 3) // 4 * 4) * h2)::INT AS file_size,
        round(list_sum(list_transform(range(0, (w2 * h2)::INT),
          i -> (media_id * 7
                + ((i // w2) * h // h2 * w + (i % w2) * w // w2) * 3) % 256))::DOUBLE
          / (w2 * h2), 4) AS mean_level
      FROM t ORDER BY media_id
    """),
  )

  /** Real audio decode: a deterministic WAV corpus is synthesized from
    * `documents` parameters (rate, sample count, and a PCM waveform are
    * all pure functions of doc_id/n_chars), encoded to real RIFF bytes,
    * and then every output field is read back by PARSING those bytes
    * with [[WavCodec.decode]] in the batched per-partition seam. The
    * oracle recomputes the parameters directly — if either the encoder
    * or the byte-walking parser is wrong, the values diverge.
    *
    * Scale shape: generation+decode are one narrow mapPartitions pass;
    * blobs never shuffle (the only exchange is the final sort).
    */
  val wavDecode = Query(
    "mm_wav_decode",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars"))
        // sort the two-column INPUT, not the decoded output: a range
        // sort downstream of the narrow codec pass re-executes the
        // whole pass in its boundary sampler (mm_av_sync's r16
        // profile: identical codec work ran twice); sorted input +
        // order-preserving narrow stages yield the same global
        // media_id order in ONE pass
        .orderBy(col("doc_id")).as[(Long, Long)]
      val decoded = params.mapPartitions { it =>
        it.map { case (id, nChars) =>
          val rate    = 8000 + (id % 5).toInt * 2000
          val n       = (nChars % 240 + 1).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toShort)
          val w = WavCodec.decode(WavCodec.encode(rate, samples))
          (id, w.sampleRate, w.nChannels, w.bitsPerSample, w.nSamples,
            w.nSamples * 1000L / w.sampleRate, w.meanSample)
        }
      }.toDF("media_id", "sample_rate", "n_channels", "bits_per_sample",
        "n_samples", "duration_ms", "mean_sample")
      decoded
        .withColumn("mean_sample", round(col("mean_sample"), 4))
    },
    oracle = Some("""
      SELECT doc_id AS media_id,
        (8000 + (doc_id % 5) * 2000)::INT AS sample_rate,
        1 AS n_channels,
        16 AS bits_per_sample,
        (n_chars % 240 + 1)::INT AS n_samples,
        (n_chars % 240 + 1) * 1000 // (8000 + (doc_id % 5) * 2000)
          AS duration_ms,
        round(list_sum(list_transform(range(0, (n_chars % 240 + 1)::INT),
          i -> (doc_id * 31 + i * 7) % 65536 - 32768))::DOUBLE
          / (n_chars % 240 + 1), 4) AS mean_sample
      FROM documents ORDER BY media_id
    """),
  )

  /** Real image decode, same contract as [[wavDecode]]: a deterministic
    * 24bpp BMP corpus is synthesized (dimensions and grey levels are
    * pure functions of doc_id), encoded to real DIB bytes, and every
    * output field is read back by PARSING those bytes with
    * [[BmpCodec.decode]] — including the row padding and bottom-up row
    * order (top_left only comes out right if the parser walks the pixel
    * array correctly). The oracle recomputes the parameters directly.
    *
    * Grey level at image-linear index i (= y·w + x) is
    * (doc_id·7 + i·3) mod 256.
    */
  val bmpDecode = Query(
    "mm_bmp_decode",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents.select(col("doc_id"))
        // sort the two-column INPUT, not the decoded output: a range
        // sort downstream of the narrow codec pass re-executes the
        // whole pass in its boundary sampler (mm_av_sync's r16
        // profile: identical codec work ran twice); sorted input +
        // order-preserving narrow stages yield the same global
        // media_id order in ONE pass
        .orderBy(col("doc_id")).as[Long]
      val decoded = params.mapPartitions { it =>
        it.map { id =>
          val w = (id % 31 + 1).toInt
          val h = (id % 17 + 1).toInt
          val bytes = BmpCodec.encode(w, h,
            (x, y) => ((id * 7 + (y.toLong * w + x) * 3) % 256).toInt)
          val b = BmpCodec.decode(bytes)
          (id, b.width, b.height, b.bitsPerPixel, b.fileSize, b.meanLevel,
            b.topLeft)
        }
      }.toDF("media_id", "width", "height", "bits_per_pixel", "file_size",
        "mean_level", "top_left")
      decoded
        .withColumn("mean_level", round(col("mean_level"), 4))
    },
    oracle = Some("""
      SELECT doc_id AS media_id,
        (doc_id % 31 + 1)::INT AS width,
        (doc_id % 17 + 1)::INT AS height,
        24 AS bits_per_pixel,
        (54 + ((3 * (doc_id % 31 + 1) + 3) // 4 * 4) * (doc_id % 17 + 1))::INT
          AS file_size,
        round(list_sum(list_transform(
          range(0, ((doc_id % 31 + 1) * (doc_id % 17 + 1))::INT),
          i -> (doc_id * 7 + i * 3) % 256))::DOUBLE
          / ((doc_id % 31 + 1) * (doc_id % 17 + 1)), 4) AS mean_level,
        ((doc_id * 7) % 256)::INT AS top_left
      FROM documents ORDER BY media_id
    """),
  )

  /** Real video decode, same contract as [[wavDecode]]/[[bmpDecode]]:
    * a deterministic YUV4MPEG2 corpus is synthesized (dimensions, frame
    * rate, frame count, and per-frame luma planes are pure functions of
    * doc_id/n_chars), encoded to real Y4M bytes, and every output field
    * is read back by PARSING those bytes with [[Y4mCodec.decode]]. The
    * frame count is NOT in the container header — the decoder discovers
    * it by walking `FRAME` chunks, and `last_top_left` (first luma byte
    * of the final frame) only comes out right if every frame boundary
    * landed exactly. The oracle recomputes all fields closed-form.
    *
    * Luma of frame f at raster index i is (doc_id·11 + f·5 + i·3) mod 256.
    */
  val videoDecode = Query(
    "mm_video_decode",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars"))
        // sort the two-column INPUT, not the decoded output: a range
        // sort downstream of the narrow codec pass re-executes the
        // whole pass in its boundary sampler (mm_av_sync's r16
        // profile: identical codec work ran twice); sorted input +
        // order-preserving narrow stages yield the same global
        // media_id order in ONE pass
        .orderBy(col("doc_id")).as[(Long, Long)]
      val decoded = params.mapPartitions { it =>
        it.map { case (id, nChars) =>
          val w   = ((id % 8) + 1).toInt * 2
          val h   = ((id % 4) + 1).toInt * 2
          val fps = 24 + (id % 4).toInt * 6
          val nf  = (nChars % 240 + 1).toInt
          val bytes = Y4mCodec.encode(w, h, fps, 1, nf,
            (f, i) => ((id * 11 + f * 5L + i * 3L) % 256).toInt)
          val d = Y4mCodec.decode(bytes)
          (id, d.width, d.height, d.fpsNum, d.fpsDen, d.nFrames,
            d.nFrames * 1000L * d.fpsDen / d.fpsNum,
            d.firstFrameMean, d.lastTopLeft)
        }
      }.toDF("media_id", "width", "height", "fps_num", "fps_den",
        "n_frames", "duration_ms", "first_frame_mean", "last_top_left")
      decoded
        .withColumn("first_frame_mean", round(col("first_frame_mean"), 4))
    },
    oracle = Some("""
      SELECT doc_id AS media_id,
        ((doc_id % 8 + 1) * 2)::INT AS width,
        ((doc_id % 4 + 1) * 2)::INT AS height,
        (24 + (doc_id % 4) * 6)::INT AS fps_num,
        1 AS fps_den,
        (n_chars % 240 + 1)::INT AS n_frames,
        (n_chars % 240 + 1) * 1000 // (24 + (doc_id % 4) * 6) AS duration_ms,
        round(list_sum(list_transform(
          range(0, (4 * (doc_id % 8 + 1) * (doc_id % 4 + 1))::INT),
          i -> (doc_id * 11 + i * 3) % 256))::DOUBLE
          / (4 * (doc_id % 8 + 1) * (doc_id % 4 + 1)), 4) AS first_frame_mean,
        ((doc_id * 11 + (n_chars % 240) * 5) % 256)::INT AS last_top_left
      FROM documents ORDER BY media_id
    """),
  )

  /** Windowed audio feature extraction over REAL decoded PCM: each
    * audio blob's samples (parsed back out of the RIFF bytes by
    * [[WavCodec.decodeSamples]] — not taken from the synthesis
    * formula) are chunked into fixed 64-sample windows and each window
    * reduces to its RMS level — the per-segment loudness profile an
    * audio-training pipeline computes before silence trimming /
    * segment filtering. Decode and windowing happen in ONE narrow
    * per-partition pass; only (id, window_no, n, rms) rows — never
    * sample arrays — leave it, so nothing sample-sized shuffles. The
    * oracle recomputes every window closed-form from the synthesis
    * parameters; the sum-of-squares fits a double exactly
    * (≤ 64·2¹⁵² < 2⁵³), so sqrt+round agree bit-for-bit.
    */
  val audioRms = Query(
    "mm_audio_rms",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      val rows = params.mapPartitions { it =>
        it.flatMap { case (id, nChars) =>
          val rate = 8000 + (id % 5).toInt * 2000
          val n    = (nChars % 240 + 1).toInt
          val synth = Array.tabulate(n)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toShort)
          val samples = WavCodec.decodeSamples(WavCodec.encode(rate, synth))
          samples.grouped(64).zipWithIndex.map { case (w, wi) =>
            val ss = w.foldLeft(0L)((a, v) => a + v.toLong * v)
            (id, wi, w.length, math.sqrt(ss.toDouble / w.length))
          }
        }
      }.toDF("media_id", "window_no", "n_samples", "rms")
      rows
        .withColumn("rms", round(col("rms"), 4))
        .orderBy(col("media_id"), col("window_no"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, (n_chars % 240 + 1)::INT AS n FROM documents
      ), w AS (
        SELECT doc_id, n, unnest(range(0, (n + 63) // 64)) AS win FROM p
      )
      SELECT doc_id AS media_id, win::INT AS window_no,
        least(64, n - win * 64)::INT AS n_samples,
        round(sqrt(list_sum(list_transform(
            range(win * 64, least(n::BIGINT, win * 64 + 64)),
            i -> ((doc_id * 31 + i * 7) % 65536 - 32768)
               * ((doc_id * 31 + i * 7) % 65536 - 32768)))::DOUBLE
          / least(64, n - win * 64)), 4) AS rms
      FROM w ORDER BY media_id, window_no
    """),
  )

  /** 60-bit difference hash of a BMP blob: sample an 11×6
    * nearest-neighbor grid of decoded grey levels, bit b = 1 iff
    * grey(x,y) < grey(x+1,y). Exposed for the locality spec.
    */
  private[multimodal] def dhash60(bytes: Array[Byte]): Long = {
    val (dw, dh, grey) = BmpCodec.decodeGrey(bytes)
    var hash = 0L
    var b = 0
    while (b < 60) {
      val gx = b % 10
      val gy = b / 10
      val sy  = gy * dh / 6
      val sx1 = gx * dw / 11
      val sx2 = (gx + 1) * dw / 11
      if (grey(sy * dw + sx1) < grey(sy * dw + sx2)) hash |= 1L << b
      b += 1
    }
    hash
  }

  private val AudioBins = Array(1, 2, 4, 8, 16, 32)

  /** 60-bit audio fingerprint from decoded PCM: 10 windows × 64
    * samples, bit (win·6 + b) = 1 iff the window's Walsh–Hadamard
    * coefficient c_k (k = [[AudioBins]](b), the [[spectrogram]]
    * kernel) is negative. WHT signs, not energy deltas, on purpose:
    * signs are content-sensitive across unrelated clips (measured 6
    * colliding group-pairs in 79 800 — an energy-contour hash
    * collides two orders of magnitude more on phase-shifted
    * synthetic audio), integer-exact (the spectrogram's ±1-basis
    * argument), and gain-robust — a volume change scales every
    * coefficient by the same positive factor, flipping only
    * coefficients near zero, so a re-levelled copy sits a few bits
    * away, not 30.
    */
  private def audioHash(samples: Array[Short]): Long = {
    var h   = 0L
    var win = 0
    while (win < 10) {
      var bi = 0
      while (bi < 6) {
        val k = AudioBins(bi)
        var c = 0L
        var j = 0
        while (j < 64) {
          val sign =
            if (java.lang.Integer.bitCount(k & j) % 2 == 0) 1 else -1
          c += samples(win * 64 + j).toLong * sign
          j += 1
        }
        if (c < 0) h |= 1L << (win * 6 + bi)
        bi += 1
      }
      win += 1
    }
    h
  }

  /** 60-bit TEMPORAL video fingerprint: bit f = 1 iff frame f+1's
    * decoded luma sum is below frame f's — the luma-trajectory
    * contour, walked out of real YUV4MPEG2 bytes (the mm_scenecut
    * machinery). A uniform brightness shift moves every frame sum by
    * the same amount, so the contour — and the hash — is unchanged.
    */
  private def contourHash60(bytes: Array[Byte]): Long = {
    val sums = Y4mCodec.frameLumaSums(bytes)._3
    var hash = 0L
    var b = 0
    while (b < 60) {
      if (sums(b + 1) < sums(b)) hash |= 1L << b
      b += 1
    }
    hash
  }

  // ─────────────── media near-dup channels (image, audio, video) ────

  /** One media near-dup channel: what the image, audio and video rows
    * differ in, and nothing else. The pair pipeline, the oracle CTE
    * chains, the rows ([[MediaRows]]), the blob lake, the persisted
    * index and the ingest loop are written once, over these values.
    *
    *  - `name` keys the row names (`dd_<name>_*`) and the index,
    *    upsert-demo and delete-demo families ([[family]]);
    *    `lakeFamily` and `streamFamily` name the blob lake and the
    *    ingest loop's published root; `logArtifact` and `lakeArtifact`
    *    name the channel's `ss_index_manifest` entries (a lake without
    *    an artifact name is not audited);
    *  - `params` is the DDL of the synthesis parameters after
    *    `media_id` (the ingest loop's stream schema);
    *  - `blob` synthesizes one container from its parameters (in
    *    `params` order, as LONG) and `fingerprint` decodes it into the
    *    60-bit hash — the decode seam; `hashExpr` is the same hash in
    *    closed form over the parameter columns, so the DuckDB oracles
    *    need no codec;
    *  - `corpus`, `night1` and `night2` derive the parameter frames of
    *    the corpus and the two nightly arrival waves from `documents`;
    *    `corpusSql`, `night1Sql` and `night2Sql` are their SQL twins
    *    (the same columns in the same order).
    *
    * Every channel's corpus keys a base group g = id − id%3: the three
    * ids of a group are re-encodes of one item, the planted near-dups.
    * The arrival waves sit at fixed id offsets: night 1 is a new
    * re-encode of corpus items (+500000) plus a fresh wave (+600000);
    * night 2 re-encodes night 1's fresh wave (+700000, a dup ONLY if
    * night 1 was ingested) plus a second fresh wave (+800000).
    */
  final case class MediaChannel(name: String, lakeFamily: String,
      streamFamily: String, logArtifact: String,
      lakeArtifact: Option[String], params: String,
      blob: Seq[Long] => Array[Byte], fingerprint: Array[Byte] => Long,
      hashExpr: String,
      corpus: DataFrame => DataFrame, night1: DataFrame => DataFrame,
      night2: DataFrame => DataFrame,
      corpusSql: String, night1Sql: String, night2Sql: String) {

    def family(kind: String): String = s"graft_${name}_$kind"

    def streamSchema: String = s"media_id LONG, $params"

    /** `ps` narrowed to (media_id, params…), every column LONG. */
    private def longParams(ps: DataFrame): DataFrame =
      ps.select((col("media_id") +: org.apache.spark.sql.types.StructType
        .fromDDL(params).fieldNames.toSeq.map(col))
        .map(_.cast("long")): _*)

    /** (media_id, content): each parameter row's synthesized container,
      * encoded per partition. */
    def blobs(ps: DataFrame): DataFrame = {
      import ps.sparkSession.implicits._
      val synth = blob
      longParams(ps).mapPartitions(_.map { r =>
        (r.getLong(0), synth((1 until r.length).map(r.getLong)))
      }).toDF("media_id", "content")
    }

    /** (media_id, dhash): decode-seam hashing — each blob is encoded and
      * fingerprinted per partition and never shuffles (a production
      * pipeline reads the blob column of its media lake here). */
    def hashes(ps: DataFrame): DataFrame = {
      import ps.sparkSession.implicits._
      val (synth, fp) = (blob, fingerprint)
      longParams(ps).mapPartitions(_.map { r =>
        (r.getLong(0), fp(synth((1 until r.length).map(r.getLong))))
      }).toDF("media_id", "dhash")
    }

    def corpusHashes(s: SparkSession, dir: String): DataFrame =
      hashes(corpus(Tables(s, dir).documents))

    /** `SELECT media_id, <hash> AS dhash` over a parameter relation. */
    def hashSql(rel: String): String =
      s"SELECT media_id, $hashExpr AS dhash FROM $rel"
  }

  /** w, h of a corpus-sized canvas, keyed off the base group g. */
  private def baseDims(df: DataFrame): DataFrame = df
    .withColumn("w", (col("g") % 31 + 1).cast("int"))
    .withColumn("h", (col("g") % 17 + 1).cast("int"))

  /** w, h of a fresh-wave canvas: LARGER (97–127 × 53–69) than the
    * corpus's ≤31×17. At corpus dims the 11×6 dHash sample grid
    * degenerates (few distinct gradient patterns, so any "fresh" hash
    * collides with some corpus image within Hamming 5) and the
    * admission rows could not observe their own ingest. The night-2
    * re-encode wave keys its canvas off its night-1 twin's id
    * (media_id − 100000), so the twins hash the same grid.
    */
  private def freshDims(df: DataFrame, twinOffset: Long = 0L): DataFrame = df
    .withColumn("w", ((col("media_id") - twinOffset) % 31 + 97).cast("int"))
    .withColumn("h", ((col("media_id") - twinOffset) % 17 + 53).cast("int"))

  /** Image: 24bpp BMP, grey(x, y) = (g·7 + (y·w + x)·3 + v) mod 256 —
    * the three ids of a group are brightness shifts v = 0, 1, 2 of one
    * image. Fingerprint: the 60-bit dHash ([[dhash60]]). Night 1 is a
    * new shift (v = 3) of corpus images plus fresh bases on fresh
    * canvases ([[freshDims]]); night 2 is v = 1 of night 1's fresh
    * wave plus a second fresh wave.
    */
  val Image: MediaChannel = MediaChannel("image",
    lakeFamily = "graft_media_lake", streamFamily = "graft_stream_img",
    logArtifact = "media_ingest_log", lakeArtifact = Some("media_lake"),
    params = "g LONG, v INT, w INT, h INT",
    blob = { case Seq(g, v, w, h) =>
      BmpCodec.encode(w.toInt, h.toInt,
        (x, y) => ((g * 7 + (y * w + x) * 3 + v) % 256).toInt) },
    fingerprint = dhash60,
    hashExpr = """list_sum(list_transform(range(0, 60), b ->
            CASE WHEN
              (g * 7 + (((b // 10) * h) // 6 * w
                 + ((b % 10) * w) // 11) * 3 + v) % 256
              <
              (g * 7 + (((b // 10) * h) // 6 * w
                 + (((b % 10) + 1) * w) // 11) * 3 + v) % 256
            THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT""",
    corpus = d => baseDims(d.select(col("doc_id").as("media_id"),
      (col("doc_id") - col("doc_id") % 3).as("g"),
      (col("doc_id") % 3).cast("int").as("v"))),
    night1 = d => baseDims(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("media_id"),
          (col("doc_id") - col("doc_id") % 3).as("g"), lit(3).as("v")))
      .unionByName(freshDims(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 600000).as("media_id"),
          (col("doc_id") + 1000000).as("g"), lit(0).as("v")))),
    night2 = d => freshDims(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 700000).as("media_id"),
          (col("doc_id") + 1000000).as("g"), lit(1).as("v")), 100000L)
      .unionByName(freshDims(d.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 800000).as("media_id"),
          (col("doc_id") + 2000000).as("g"), lit(0).as("v")))),
    corpusSql = """
        SELECT doc_id AS media_id,
               doc_id - (doc_id % 3) AS g,
               doc_id % 3 AS v,
               ((doc_id - (doc_id % 3)) % 31) + 1 AS w,
               ((doc_id - (doc_id % 3)) % 17) + 1 AS h
        FROM documents""",
    night1Sql = """
        SELECT doc_id + 500000 AS media_id,
               doc_id - (doc_id % 3) AS g, 3 AS v,
               ((doc_id - (doc_id % 3)) % 31) + 1 AS w,
               ((doc_id - (doc_id % 3)) % 17) + 1 AS h
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 600000, doc_id + 1000000, 0,
               ((doc_id + 600000) % 31) + 97,
               ((doc_id + 600000) % 17) + 53
        FROM documents WHERE doc_id % 7 = 3""",
    night2Sql = """
        SELECT doc_id + 700000 AS media_id,
               doc_id + 1000000 AS g, 1 AS v,
               ((doc_id + 600000) % 31) + 97 AS w,
               ((doc_id + 600000) % 17) + 53 AS h
        FROM documents WHERE doc_id % 7 = 3
        UNION ALL
        SELECT doc_id + 800000, doc_id + 2000000, 0,
               ((doc_id + 800000) % 31) + 97,
               ((doc_id + 800000) % 17) + 53
        FROM documents WHERE doc_id % 7 = 5""")

  /** Audio: mono 16-bit PCM RIFF/WAVE; the three ids of a group are
    * GAIN-SHIFTED re-levelings of one clip (stored PCM divided by
    * gain = 2^(id%3), truncating — DuckDB's `//`). The Knuth-multiplier
    * phase term de-aliases base clips: a plain g·31 phase walk left 93
    * of 1.39 M group pairs with IDENTICAL fingerprints at sf0.1,
    * measured; this has zero. Fingerprint: WHT signs ([[audioHash]]).
    * Night 1 is a new re-leveling (gain 8) plus never-heard clips (new
    * g — the hashes are effectively random, no canvas trick needed);
    * night 2 re-levels (gain 2) night 1's fresh wave plus a second
    * fresh wave.
    */
  val Audio: MediaChannel = MediaChannel("audio",
    lakeFamily = "graft_audio_lake", streamFamily = "graft_stream_aud",
    logArtifact = "audio_ingest_log", lakeArtifact = None,
    params = "g LONG, gain LONG",
    blob = { case Seq(g, gain) =>
      WavCodec.encode(8000 + (g % 5).toInt * 2000,
        Array.tabulate((640 + (g % 5) * 64).toInt) { i =>
          val s0 = (g * 2654435761L + i.toLong * 7 +
            (g % 13 + 1) * i.toLong * i +
            (g % 29 + 1) * i.toLong * 11) % 65536 - 32768
          (s0 / gain).toShort
        }) },
    fingerprint = bytes => audioHash(WavCodec.decodeSamples(bytes)),
    // WHT coefficients are exact sums of int16 in both engines
    hashExpr = """list_sum(list_transform(range(0, 60), b ->
            CASE WHEN
              list_sum(list_transform(range(0, 64), j ->
                (((g * 2654435761 + ((b // 6) * 64 + j) * 7
                   + (g % 13 + 1) * ((b // 6) * 64 + j) * ((b // 6) * 64 + j)
                   + (g % 29 + 1) * ((b // 6) * 64 + j) * 11)
                  % 65536 - 32768) // gain)
                * (CASE WHEN bit_count(([1,2,4,8,16,32][(b % 6)::INT + 1])
                                       & j) % 2 = 0
                   THEN 1 ELSE -1 END))) < 0
            THEN (1::BIGINT << b::INT) ELSE 0::BIGINT END))::BIGINT""",
    corpus = d => d.select(col("doc_id").as("media_id"),
      (col("doc_id") - col("doc_id") % 3).as("g"),
      expr("shiftleft(cast(1 as bigint), cast(doc_id % 3 as int))")
        .as("gain")),
    night1 = d => d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("media_id"),
          (col("doc_id") - col("doc_id") % 3).as("g"), lit(8L).as("gain"))
      .unionByName(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 600000).as("media_id"),
          (col("doc_id") + 1000000).as("g"), lit(1L).as("gain"))),
    night2 = d => d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 700000).as("media_id"),
          (col("doc_id") + 1000000).as("g"), lit(2L).as("gain"))
      .unionByName(d.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 800000).as("media_id"),
          (col("doc_id") + 2000000).as("g"), lit(1L).as("gain"))),
    corpusSql = """
        SELECT doc_id AS media_id, doc_id - (doc_id % 3) AS g,
               (1::BIGINT << (doc_id % 3)::INT) AS gain
        FROM documents""",
    night1Sql = """
        SELECT doc_id + 500000 AS media_id,
               doc_id - (doc_id % 3) AS g, 8 AS gain
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 600000, doc_id + 1000000, 1
        FROM documents WHERE doc_id % 7 = 3""",
    night2Sql = """
        SELECT doc_id + 700000 AS media_id,
               doc_id + 1000000 AS g, 2 AS gain
        FROM documents WHERE doc_id % 7 = 3
        UNION ALL
        SELECT doc_id + 800000, doc_id + 2000000, 1
        FROM documents WHERE doc_id % 7 = 5""")

  /** Video: C420jpeg YUV4MPEG2; the three ids of a group are uniform
    * BRIGHTNESS-SHIFTED re-encodes (+v on every pixel, no wrap — luma
    * stays ≤ 250). Per-frame base levels walk a quadratic Knuth family
    * keyed by g mod 97 / mod 89 (a linear walk left thousands of
    * unrelated clips with colliding contours), so unrelated clips
    * collide zero times in 1.39 M group pairs at sf0.1. Fingerprint:
    * the luma contour ([[contourHash60]]) — a shift cancels out of it,
    * so every re-encode is hash-IDENTICAL to its base, and the closed
    * form compares only the per-frame base levels (v does not enter).
    * Night 1 is a new shift (v = 3) plus fresh clips; night 2 is v = 1
    * of night 1's fresh wave plus a second fresh wave.
    */
  val Video: MediaChannel = MediaChannel("video",
    lakeFamily = "graft_video_lake", streamFamily = "graft_stream_vid",
    logArtifact = "video_ingest_log", lakeArtifact = None,
    params = "g LONG, v INT",
    blob = { case Seq(g, v) =>
      def base(f: Int): Int =
        (((g * 2654435761L + f.toLong * f * ((g % 97) + 1) * 31 +
          f.toLong * ((g % 89) + 1) * 7) % 65521) % 200).toInt
      Y4mCodec.encode(((g % 8) + 1).toInt * 2, ((g % 4) + 1).toInt * 2,
        24 + (g % 4).toInt * 6, 1, (61 + g % 5).toInt,
        (f, i) => base(f) + (i * 3) % 50 + v.toInt) },
    fingerprint = contourHash60,
    hashExpr = """list_sum(list_transform(range(0, 60), b ->
            CASE WHEN
              ((g * 2654435761 + (b+1)*(b+1) * ((g % 97) + 1) * 31
                 + (b+1) * ((g % 89) + 1) * 7) % 65521) % 200
              <
              ((g * 2654435761 + b*b * ((g % 97) + 1) * 31
                 + b * ((g % 89) + 1) * 7) % 65521) % 200
            THEN (1::BIGINT << b::INT) ELSE 0::BIGINT END))::BIGINT""",
    corpus = d => d.select(col("doc_id").as("media_id"),
      (col("doc_id") - col("doc_id") % 3).as("g"),
      (col("doc_id") % 3).cast("int").as("v")),
    night1 = d => d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("media_id"),
          (col("doc_id") - col("doc_id") % 3).as("g"), lit(3).as("v"))
      .unionByName(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 600000).as("media_id"),
          (col("doc_id") + 1000000).as("g"), lit(0).as("v"))),
    night2 = d => d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 700000).as("media_id"),
          (col("doc_id") + 1000000).as("g"), lit(1).as("v"))
      .unionByName(d.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 800000).as("media_id"),
          (col("doc_id") + 2000000).as("g"), lit(0).as("v"))),
    corpusSql = """
        SELECT doc_id AS media_id, doc_id - (doc_id % 3) AS g,
               doc_id % 3 AS v
        FROM documents""",
    night1Sql = """
        SELECT doc_id + 500000 AS media_id,
               doc_id - (doc_id % 3) AS g, 3 AS v
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 600000, doc_id + 1000000, 0
        FROM documents WHERE doc_id % 7 = 3""",
    night2Sql = """
        SELECT doc_id + 700000 AS media_id, doc_id + 1000000 AS g, 1 AS v
        FROM documents WHERE doc_id % 7 = 3
        UNION ALL
        SELECT doc_id + 800000, doc_id + 2000000, 0
        FROM documents WHERE doc_id % 7 = 5""")

  /** The channels, in registry order. */
  val channels: Seq[MediaChannel] = Seq(Image, Audio, Video)
  /** Perceptual image fingerprint (difference hash): the image-side
    * near-duplicate primitive, bridging the multimodal tier into the
    * dedup family the way [[graft.dedup.DedupQueries]]' SimHash does
    * for text. Pixels come from DECODING the real BMP bytes
    * ([[BmpCodec.decodeGrey]] walks the padded bottom-up rows back
    * into image order — the formula is only the corpus generator);
    * the hash samples an 11×6 nearest-neighbor grid and sets bit
    * b = 1 iff grey(x,y) < grey(x+1,y) — 60 bits so the value stays
    * in a signed BIGINT on both engines (the dd_simhash precedent).
    * Near-identical images differ in a few gradient comparisons →
    * small Hamming distance; pair search over the fingerprints is a
    * bit_count(xor) join or banded buckets, independent of image
    * size. Per-row compute, no shuffle beyond the presentation sort.
    */
  val imageDhash = Query(
    "mm_image_dhash",
    // the base images (v = 0) of the Image channel's corpus
    (s, dir) => Image.hashes(Image.corpus(Tables(s, dir).documents)
        .filter(col("media_id") % 3 === 0))
      .orderBy(col("media_id")),
    oracle = Some(s"""
      WITH p0 AS (${Image.corpusSql}
      ), p AS (SELECT * FROM p0 WHERE media_id % 3 = 0)
      ${Image.hashSql("p")} ORDER BY media_id
    """),
  )

  /** The banded-candidate pair pipeline behind every channel's dups and
    * clusters rows — the media analog of `dd_minhash_lsh`: the
    * channel's corpus hashes (decode seam, blobs never shuffle) → 6
    * ten-bit bands → a ≤[[graft.operators.BandedIndex.HotBandCap]]
    * members-per-band cap, windowed on the same exchange the self-join
    * shuffles on (degenerate bands — flat images collapse to dhash 0 —
    * saturate it at sf0.1 and drop on both engines) → (band, value)
    * self-join → `bit_count(xor) ≤ 5` confirm. By pigeonhole a pair
    * within Hamming 5 shares one of the 6 bands exactly, so banding
    * loses nothing at the threshold. Returns (id_a, id_b, hamming),
    * unsorted.
    */
  private def mediaPairs(s: SparkSession, dir: String,
      ch: MediaChannel): DataFrame = {
    val capped = bandsOfHashes(ch.corpusHashes(s, dir))
      .withColumn("bc",
        count(lit(1)).over(Window.partitionBy(col("bno"), col("bval"))))
      .filter(col("bc") <= graft.operators.BandedIndex.HotBandCap)
      .drop("bc")
    capped.as("a")
      .join(capped.as("b"),
        col("a.bno") === col("b.bno") && col("a.bval") === col("b.bval") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        expr("cast(bit_count(a.dhash ^ b.dhash) as int)").as("hamming"))
      .filter(col("hamming") <= 5)
      .distinct()
  }

  /** The SQL twin of [[mediaPairs]] up to a `pairs` CTE, the corpus
    * parameters in `p` (everything integer).
    */
  private[graft] def pairCtes(ch: MediaChannel): String = s"""
      p AS (${ch.corpusSql}
      ), hh AS (${ch.hashSql("p")}
      ), bands0 AS (
        SELECT media_id, dhash, unnest(range(0, 6)) AS bno FROM hh
      ), bands1 AS (
        SELECT media_id, dhash, bno,
               (dhash >> (bno * 10)::INT) & 1023 AS bval
        FROM bands0
      ), bands AS (
        SELECT media_id, dhash, bno, bval FROM (
          SELECT *, count(*) OVER (PARTITION BY bno, bval) AS bc
          FROM bands1)
        WHERE bc <= ${graft.operators.BandedIndex.HotBandCap}
      ), pairs AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
          bit_count(xor(a.dhash, b.dhash))::INT AS hamming
        FROM bands a JOIN bands b
          ON a.bno = b.bno AND a.bval = b.bval AND a.media_id < b.media_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 5
      )"""

  /** [[pairCtes]] walked to its closure: `cl(media_id, cluster)` labels
    * each paired item with its component's minimum id, and
    * `purged(media_id)` lists the non-representatives. Needs
    * `WITH RECURSIVE`.
    */
  private[graft] def clusterCtes(ch: MediaChannel): String =
    s"""${pairCtes(ch)},
      edges AS (SELECT id_a, id_b FROM pairs),
      ${graft.dedup.DedupQueries.ccWalkSql},
      cl AS (SELECT id AS media_id, min(lbl) AS cluster
             FROM walk GROUP BY id),
      purged AS (SELECT media_id FROM cl WHERE media_id <> cluster)"""

  /** The ONE near-dup cluster frame (media_id, cluster) of a channel —
    * the transitive closure of [[mediaPairs]] labeled with each
    * component's minimum media_id (union-find in one bounded task under
    * the 50 M-edge threshold, min-label propagation above it). Shared
    * by the clusters report, the purge rows, the index delete demo and
    * [[pairManifest]]'s image_dup gate, so none can drift from the
    * clustering it claims to apply. Items in no pair carry no row.
    */
  private[multimodal] def clusterFrame(s: SparkSession, dir: String,
      ch: MediaChannel): DataFrame =
    graft.dedup.DedupQueries.connectedComponents(mediaPairs(s, dir, ch))
      .select(col("id").as("media_id"), col("lbl").as("cluster"))

  /** A cluster frame's purge routes (shard, media_id): the generic
    * [[graft.dedup.DedupQueries.purgePlan]] emitter's keep-one-
    * representative rule, purges only — one deletion list for a
    * channel's lake and its index.
    */
  private def purgeRoutes(clusters: DataFrame): DataFrame =
    graft.dedup.DedupQueries
      .purgePlan(clusters.withColumnRenamed("media_id", "doc_id"))
      .filter(col("action") === "purge")
      .select(col("shard"), col("doc_id").as("media_id"))

  /** A channel's corpus laid out as a shard-partitioned BLOB lake: one
    * Hive partition per tx_shards shard key of media_id (the SAME
    * salted-md5 function that routes the purge plans), the blobs
    * exactly the bytes the near-dup chain fingerprints, published once
    * per corpus generation — one lake layout across modalities, so
    * `applyPurge` is the one deletion pass for all of them. Blobs never
    * shuffle. The image lake is the manifest's `media_lake`.
    */
  private[graft] def shardedMediaLake(s: SparkSession, dir: String,
      ch: MediaChannel = Image): String = synchronized {
    graft.core.IndexDirs.publishCurrent(s.sparkContext.hadoopConfiguration,
        dir, "documents.parquet", ch.lakeFamily) { tmp =>
      ch.blobs(ch.corpus(Tables(s, dir).documents))
        .withColumn("shard",
          graft.dedup.DedupQueries.shardOf(col("media_id")))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$tmp/media")
    }
  }

  /** A channel's blob lake in its POST-PURGE state — the media twin of
    * `ensurePurgedTextLake`: the channel's purge routes applied once
    * per lake generation (the remaining-probe + `applyPurge` +
    * `_purge_applied` marker), so the deletion is durable and never
    * re-run.
    */
  private[graft] def ensurePurgedMediaLake(s: SparkSession, dir: String,
      ch: MediaChannel): String = {
    val layout = shardedMediaLake(s, dir, ch)
    graft.core.IndexDirs.appliedOnce(s.sparkContext.hadoopConfiguration,
        layout, "_purge_applied") {
      val plan = purgeRoutes(clusterFrame(s, dir, ch))
      val remaining = s.read.parquet(s"$layout/media")
        .join(plan.select(col("media_id")), Seq("media_id"), "left_semi")
        .limit(1).collect()
      if (remaining.nonEmpty)
        graft.dedup.DedupQueries.applyPurge(s, layout, plan,
          sub = "media", key = "media_id")
    }
    layout
  }

  /** The `dd_purge_apply` contract on a media lake: apply the
    * channel's purge (per-shard anti-join, compacted, crash-safe swaps,
    * untouched shards byte-identical) and report per-shard surviving
    * counts READ BACK FROM THE POST-DELETE LAYOUT next to the plan's
    * purge counts — full-outer, so a fully-purged shard still reports
    * n_media = 0.
    */
  private def mediaPurgeApplyRun(s: SparkSession, dir: String,
      ch: MediaChannel): DataFrame = {
    val layout = ensurePurgedMediaLake(s, dir, ch)
    val survived = s.read.parquet(s"$layout/media")
      .groupBy(col("shard")).agg(count(lit(1)).as("n_media"))
      // the layout's partition column reads back int32 — int64 on
      // the wire, and match the plan's key type for the join
      .select(col("shard").cast("long").as("shard"), col("n_media"))
    val purged = purgeRoutes(clusterFrame(s, dir, ch)).groupBy(col("shard"))
      .agg(count(lit(1)).as("n_purged"))
    survived.join(purged, Seq("shard"), "full")
      .select(col("shard"),
        coalesce(col("n_media"), lit(0L)).as("n_media"),
        coalesce(col("n_purged"), lit(0L)).as("n_purged"))
      .orderBy(col("shard"))
  }

  /** The near-dup rows of one channel, each oracle-gated by DuckDB SQL
    * over the channel's closed-form synthesis parameters:
    *  - `dd_<c>_dups`: the [[mediaPairs]] report;
    *  - `dd_<c>_clusters`: its closure ([[clusterFrame]]; the oracle
    *    walks it with a recursive CTE);
    *  - `dd_<c>_purge_apply`: the purge executed against the channel's
    *    blob lake ([[mediaPurgeApplyRun]]); the oracle reconciles the
    *    per-shard counts from scratch over the same closure;
    *  - `dd_<c>_probe`: the night-1 admission SCREEN against the
    *    persisted index ([[probeMediaIndex]]: dup/new at Hamming ≤ 5
    *    with the best distance, 99 = no candidate);
    *  - `dd_<c>_upsert`: the same screen after a base build minus the
    *    media_id % 5 == 0 slice plus the nightly append of that slice —
    *    the probe's oracle verbatim, which it meets only if the band
    *    routing and the sig append are both right;
    *  - `dd_<c>_index_delete`: the screen after the channel's purge
    *    propagated into the index; the oracle screens against the
    *    corpus minus the closure's non-representatives. The cap is
    *    probe-time, so bands whose membership drops back under it must
    *    produce candidates again.
    * The two-night ingest row is `StreamingQueries.mediaStreamIngest`
    * over [[streamIngestOracle]].
    */
  final class MediaRows(ch: MediaChannel) {
    java.util.Objects.requireNonNull(ch,
      "media channel read before its initialisation")

    private def row(kind: String, oracle: String)(
        run: (SparkSession, String) => DataFrame): Query =
      Query(s"dd_${ch.name}_$kind", run, oracle = Some(oracle))

    private def screenNight1(s: SparkSession, dir: String,
        idx: String): DataFrame =
      probeMediaIndex(s, idx, ch.hashes(ch.night1(Tables(s, dir).documents)))

    val dups: Query = row("dups", s"""
      WITH ${pairCtes(ch)}
      SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b
    """)((s, dir) => mediaPairs(s, dir, ch).orderBy(col("id_a"), col("id_b")))

    val clusters: Query = row("clusters", s"""
      WITH RECURSIVE ${clusterCtes(ch)}
      SELECT media_id, cluster FROM cl ORDER BY media_id
    """)((s, dir) => clusterFrame(s, dir, ch).orderBy(col("media_id")))

    val purgeApply: Query = row("purge_apply", s"""
      WITH RECURSIVE ${clusterCtes(ch)},
      routed AS (
        SELECT d.doc_id AS media_id,
          ('0x' || substr(md5('shard1:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
            % 16 AS shard,
          (p.media_id IS NOT NULL) AS is_purged
        FROM documents d LEFT JOIN purged p ON p.media_id = d.doc_id)
      SELECT shard,
        sum(CASE WHEN is_purged THEN 0 ELSE 1 END)::BIGINT AS n_media,
        sum(CASE WHEN is_purged THEN 1 ELSE 0 END)::BIGINT AS n_purged
      FROM routed GROUP BY 1 ORDER BY 1
    """)((s, dir) => mediaPurgeApplyRun(s, dir, ch))

    val probe: Query = row("probe", s"""
      WITH ${admissionCtes(ch)},
      ${mediaScreenCtes(ch, "p", "pc", "in1")}
      SELECT media_id, status, best_hamming FROM iverdict_p
      ORDER BY media_id
    """)((s, dir) => screenNight1(s, dir, buildMediaIndex(s, dir, ch)))

    val upsert: Query = row("upsert", probe.oracle.get)(
      (s, dir) => screenNight1(s, dir, upsertDemoMediaIndex(s, dir, ch)))

    val indexDelete: Query = row("index_delete", s"""
      WITH RECURSIVE ${clusterCtes(ch)},
      ${admissionCtes(ch)},
      sur AS (
        SELECT * FROM pc WHERE media_id NOT IN (SELECT media_id FROM purged)
      ),
      ${mediaScreenCtes(ch, "d", "sur", "in1")}
      SELECT media_id, status, best_hamming FROM iverdict_d
      ORDER BY media_id
    """)((s, dir) => screenNight1(s, dir, deleteDemoMediaIndex(s, dir, ch)))
  }

  val imageRows = new MediaRows(Image)
  val audioRows = new MediaRows(Audio)
  val videoRows = new MediaRows(Video)

  /** Per-shard deletion lists over the IMAGE near-dup clusters,
    * through the generic [[graft.dedup.DedupQueries.purgePlan]] emitter
    * (the text chain is `dd_purge_plan`): the same keep-one-
    * representative rule, purge rows and salted-md5 shard routing for
    * any modality's cluster frame, checked by the driver. Images in no
    * cluster are implicit keeps and carry no row. Zero shuffles beyond
    * the cluster chain and the presentation sort (PurgePlanSpec pins
    * keep-one-per-cluster, purge + keep = members, and corpus
    * identity).
    */
  val imagePurge = Query(
    "dd_image_purge",
    (s, dir) => graft.dedup.DedupQueries
      .purgePlan(clusterFrame(s, dir, Image)
        .withColumnRenamed("media_id", "doc_id"))
      .withColumnRenamed("doc_id", "media_id")
      .orderBy(col("media_id")),
    oracle = Some(s"""
      WITH RECURSIVE ${clusterCtes(Image)}
      SELECT ('0x' || substr(md5('shard1:' || media_id::VARCHAR), 1, 8))::BIGINT
               % 16 AS shard,
             media_id, cluster,
             CASE WHEN media_id = cluster THEN 'keep' ELSE 'purge' END
               AS action
      FROM cl ORDER BY media_id
    """),
  )
  /** ONE decode pass per image producing BOTH the quality verdict and
    * the 8-dim alignment feature vector — the shared seam behind
    * [[pairManifest]] and [[alignScore]], so the manifest's gates and
    * the standalone score can never disagree AND the blobs are walked
    * once. The quality reduction is [[imageQuality]]'s (generalized to
    * the full [[Image]] channel corpus via the (g, v) synthesis
    * parameters); the feature vector is the 8 index-strided mean
    * intensities m_j = (Σ_{i ≡ j mod 8} grey_i) / |{i ≡ j mod 8}| —
    * integer-exact moments of the REAL decoded pixels (truncating
    * division, identical in both engines).
    */
  private[multimodal] def imageFeatureFrame(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    Image.blobs(Image.corpus(Tables(s, dir).documents))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (dw, dh, grey) = BmpCodec.decodeGrey(bytes)
        val n = dw.toLong * dh
        var sum = 0L; var ss = 0L; var sharp = 0L
        val js = new Array[Long](8); val jc = new Array[Long](8)
        var i = 0
        while (i < grey.length) {
          val gg = grey(i).toLong
          sum += gg; ss += gg * gg
          js(i % 8) += gg; jc(i % 8) += 1
          if (i % dw < dw - 1) sharp += math.abs(grey(i + 1).toLong - gg)
          i += 1
        }
        val lowContrast = ss * n - sum * sum < 400L * n * n
        val flat = sharp < 8L * (dw - 1) * dh
        val m = Array.tabulate(8)(j => js(j) / math.max(1L, jc(j)))
        (id, !(lowContrast || flat), m)
      }
    }.toDF("media_id", "img_pass", "m")
  }

  /** The paired embedding reduced to the feature space's 8 dimensions:
    * e_j = Σ_{i ≡ j mod 8} ⌊emb_i · 1000⌋ — each float component
    * floored to an exact per-mille INTEGER before any summation (the
    * ss_index_stats discipline) so summation order cannot move the
    * result, and the magnitudes keep every downstream product inside
    * int64 (|e_j| ≤ 8 000, m_j ≤ 255 ⇒ |dot| ≤ 1.6·10⁷,
    * 100·dot² ≤ 2.7·10¹⁶, 9·‖m‖²‖e‖² ≤ 2.4·10¹⁵).
    */
  private[multimodal] def embReduced(s: SparkSession,
      dir: String): DataFrame =
    Tables(s, dir).embeddings.select(col("vec_id").as("media_id"),
      array((0 until 8).map { j =>
        (0 until 64 by 8).map { k =>
          floor(element_at(col("embedding"), j + k + 1).cast("double") *
            lit(1000.0)).cast("long")
        }.reduce(_ + _)
      }: _*).as("e"))

  /** The ONE alignment formula, as column expressions over the `m`
    * (image features) and `e` (reduced embedding) arrays — shared by
    * [[alignScore]] and [[pairManifest]] so the manifest's fourth gate
    * IS the scored query's verdict. `aligned` ⇔ cos(m, e) ≥ 0.3 via
    * the divisionless integer compare dot > 0 ∧ 100·dot² ≥ 9·‖m‖²‖e‖²
    * (θ² = 9/100 exactly; no division, no sqrt inside the gate).
    */
  private[multimodal] object Align {
    private def pairSum(f: (Column, Column) => Column): Column =
      (0 until 8).map { j =>
        f(element_at(col("m"), j + 1), element_at(col("e"), j + 1))
      }.reduce(_ + _)
    def dot: Column = pairSum(_ * _)
    def mm: Column  = pairSum((a, _) => a * a)
    def ee: Column  = pairSum((_, b) => b * b)
    def aligned(dot: Column, mm: Column, ee: Column): Column =
      dot > 0 && lit(100L) * dot * dot >= lit(9L) * mm * ee
  }

  /** Shared DuckDB CTE chain ending in `adots(media_id, dot, mm, ee)`
    * — the oracle twin of [[imageFeatureFrame]] × [[embReduced]],
    * recomputing the strided image moments from the synthesis formula
    * and the per-mille-floored embedding reduction; shared verbatim by
    * `mm_align_score` and `mm_pair_manifest`. Depends on the `p`
    * CTE of the [[Image]] corpus parameters.
    */
  private val alignDotsSql = """
      afeats AS (
        SELECT media_id, j.j,
          list_sum(list_transform(
            list_filter(range(0, w*h), i -> i % 8 = j.j),
            i -> (g * 7 + i * 3 + v) % 256))::BIGINT
          // greatest(1,
               len(list_filter(range(0, w*h), i -> i % 8 = j.j))) AS fm
        FROM p, (SELECT unnest(range(0, 8)) AS j) j
      ), aef AS (
        SELECT vec_id AS media_id, j.j,
          list_sum(list_transform(
            list_filter(range(0, 64), i -> i % 8 = j.j),
            i -> floor(embedding[i+1]::DOUBLE * 1000)::BIGINT))::BIGINT AS e
        FROM embeddings, (SELECT unnest(range(0, 8)) AS j) j
      ), adots AS (
        SELECT f.media_id, sum(f.fm * e.e)::BIGINT AS dot,
          sum(f.fm * f.fm)::BIGINT AS mm, sum(e.e * e.e)::BIGINT AS ee
        FROM afeats f JOIN aef e ON f.media_id = e.media_id AND f.j = e.j
        GROUP BY 1)"""

  /** Cross-modal ALIGNMENT scoring — the CLIP-style caption↔media
    * similarity filter, the single highest-impact gate in LAION-class
    * pair curation: pairs whose media content and caption embedding
    * disagree are mislabeled scrapes that poison contrastive training.
    * The media side is a deterministic 8-dim integer feature vector
    * from the REAL decoded pixels (the quality seam's strided means —
    * no second decode, [[imageFeatureFrame]] computes both); the text
    * side is the paired doc's `embeddings` vector reduced to the same
    * 8 dims by per-mille-floored integer sums. Similarity is exact
    * integer arithmetic end-to-end: `aligned` is the divisionless
    * cos ≥ 0.3 compare (100·dot² vs 9·‖m‖²‖e‖², dot > 0), and the
    * reported `align_cos` divides exact integers once at the end
    * (sqrt is IEEE-correctly-rounded in both engines; 4 dp). θ = 0.3
    * was probed against the corpus synthesis first: it splits every
    * SF (95/500 at sf0.001, 425/2000 at sf0.1) — the r9
    * flag-threshold lesson. Pairs with no embedding row have no score
    * (inner join; the manifest LEFT-joins and fails them closed).
    *
    * Scale shape: one codec decode seam (shared with the manifest),
    * one narrow embeddings scan, one equi-join on media_id, per-row
    * integer expression work; no shuffle beyond the join and the
    * presentation sort.
    */
  val alignScore = Query(
    "mm_align_score",
    (s, dir) => {
      imageFeatureFrame(s, dir)
        .join(embReduced(s, dir), Seq("media_id"))
        .withColumn("dot", Align.dot)
        .withColumn("mmag", Align.mm)
        .withColumn("emag", Align.ee)
        .select(col("media_id"), col("dot"),
          when(col("mmag") > 0 && col("emag") > 0,
            round(col("dot") / (sqrt(col("mmag")) * sqrt(col("emag"))), 4))
            .otherwise(lit(0.0)).as("align_cos"),
          Align.aligned(col("dot"), col("mmag"), col("emag")).as("aligned"))
        .orderBy(col("media_id"))
    },
    oracle = Some(s"""
      WITH p AS (${Image.corpusSql}
      ), $alignDotsSql
      SELECT media_id, dot,
        CASE WHEN mm > 0 AND ee > 0
             THEN round(dot / (sqrt(mm) * sqrt(ee)), 4)
             ELSE 0.0 END AS align_cos,
        (dot > 0 AND 100*dot*dot >= 9*mm*ee) AS aligned
      FROM adots ORDER BY media_id
    """),
  )

  /** Cross-modal PAIR CURATION — the LAION-style joint filter that
    * turns per-modality verdicts into ONE decision per (media,
    * caption) pair: an image-text pair survives only if the image
    * passes quality gating, the image is its near-dup cluster's
    * REPRESENTATIVE (keep one per cluster — non-reps are dropped here,
    * closing the loop `dd_image_clusters` opens), and the caption
    * passes the text keep rule. Every kernel is shared verbatim with
    * its single-modality query: the BMP decode + quality reduction is
    * [[imageQuality]]'s (generalized to the full [[Image]] channel
    * re-encode corpus via the (g, v) synthesis parameters), clusters
    * are the image [[clusterFrame]] (= `dd_image_clusters`),
    * and the caption verdict is `TextQueries.qualityScored` — one
    * definition each, so the manifest cannot drift from the filters it
    * composes. Drop reasons are prioritized (image_quality >
    * image_dup > text_quality) so each dropped pair names the FIRST
    * gate it failed, and `keep = (drop_reason = 'ok')`.
    *
    * Scale shape: image verdicts compute in the codec decode seam
    * (blobs never shuffle); the caption verdict is per-row expression
    * work on the same documents scan, joined on doc_id (co-partitioned
    * scans of the same key); the cluster frame is CORPUS-derived (one
    * row per image in any near-dup pair — at web scale a large
    * corpus fraction), so it is joined PLAIN and AQE decides the
    * strategy at runtime: broadcast when it measures small, shuffled
    * hash join when it doesn't — the same discipline as the text
    * side's `dd_cluster_split`. No corpus-sized shuffle beyond the
    * presentation sort at test SFs.
    */
  val pairManifest = Query(
    "mm_pair_manifest",
    (s, dir) => {
      val imgQ = imageFeatureFrame(s, dir)
      val clusters = clusterFrame(s, dir, Image)
      val captions = graft.text.TextQueries.qualityScored(s, dir)
        .select(col("doc_id"), (col("verdict") === "keep").as("text_keep"))
      imgQ
        .join(embReduced(s, dir), Seq("media_id"), "left")
        // the fourth gate: the shared Align formula; a pair with no
        // embedding row has no score and FAILS CLOSED (a curation
        // manifest must not certify alignment it never measured)
        .withColumn("aligned",
          coalesce(Align.aligned(Align.dot, Align.mm, Align.ee),
            lit(false)))
        .join(clusters, Seq("media_id"), "left")
        .join(captions, col("media_id") === col("doc_id"))
        .withColumn("is_rep",
          col("cluster").isNull || col("cluster") === col("media_id"))
        .withColumn("drop_reason",
          when(!col("img_pass"), "image_quality")
            .when(!col("is_rep"), "image_dup")
            .when(!col("text_keep"), "text_quality")
            .when(!col("aligned"), "misaligned")
            .otherwise("ok"))
        .select(col("media_id"), col("doc_id"),
          col("img_pass"), col("is_rep").as("img_rep"), col("text_keep"),
          col("aligned"),
          (col("drop_reason") === "ok").as("keep"), col("drop_reason"))
        .orderBy(col("media_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE ${clusterCtes(Image)},
      ${graft.text.TextQueries.qualityScoredSql},
      iq AS (
        SELECT media_id, w, h, w * h AS n,
          list_sum(list_transform(range(0, w * h),
            i -> (g * 7 + i * 3 + v) % 256))::BIGINT AS s,
          list_sum(list_transform(range(0, w * h),
            i -> ((g * 7 + i * 3 + v) % 256)
               * ((g * 7 + i * 3 + v) % 256)))::BIGINT AS ss,
          coalesce(list_sum(list_transform(
            list_filter(range(0, w * h), i -> i % w < w - 1),
            i -> abs((g * 7 + (i + 1) * 3 + v) % 256
                   - (g * 7 + i * 3 + v) % 256))), 0)::BIGINT AS sharp
        FROM p
      ), verdicts AS (
        SELECT media_id,
          NOT ((ss * n - s * s < 400 * n * n)
            OR (sharp < 8 * (w - 1) * h)) AS img_pass
        FROM iq),
      $alignDotsSql,
      al AS (
        SELECT media_id,
          (dot > 0 AND 100*dot*dot >= 9*mm*ee) AS aligned
        FROM adots)
      SELECT v.media_id, t.doc_id,
        v.img_pass,
        (cl.cluster IS NULL OR cl.cluster = v.media_id) AS img_rep,
        t.verdict = 'keep' AS text_keep,
        coalesce(al.aligned, FALSE) AS aligned,
        (CASE WHEN NOT v.img_pass THEN 'image_quality'
              WHEN cl.cluster IS NOT NULL AND cl.cluster <> v.media_id
                THEN 'image_dup'
              WHEN t.verdict <> 'keep' THEN 'text_quality'
              WHEN NOT coalesce(al.aligned, FALSE) THEN 'misaligned'
              ELSE 'ok' END) = 'ok' AS keep,
        CASE WHEN NOT v.img_pass THEN 'image_quality'
             WHEN cl.cluster IS NOT NULL AND cl.cluster <> v.media_id
               THEN 'image_dup'
             WHEN t.verdict <> 'keep' THEN 'text_quality'
             WHEN NOT coalesce(al.aligned, FALSE) THEN 'misaligned'
             ELSE 'ok' END AS drop_reason
      FROM verdicts v
      LEFT JOIN cl USING (media_id)
      LEFT JOIN al USING (media_id)
      JOIN txq t ON t.doc_id = v.media_id
      ORDER BY v.media_id
    """),
  )

  /** A/V SYNC audit — the mux-consistency check a video-ingest
    * pipeline runs before pairing tracks for training: for every
    * media id, the audio track's decoded duration against the video
    * track's, with the drift and an out-of-sync verdict (>5 %). A
    * capture/transcode chain that dropped audio samples produces a
    * pair that subtitle/alignment models must not train on. The
    * corpus plants that failure: the audio track is synthesized to
    * cover the video duration (samples = nf·rate/fps), except every
    * 7th id ships a 10 %-truncated track — the classic
    * "audio ends early" mux bug. BOTH durations come from REAL codec
    * walks ([[WavCodec.decode]]'s sample count,
    * [[Y4mCodec.decode]]'s frame walk + header fps — Y4M carries no
    * frame-count field, so the count IS the walk), the tier's
    * decode-for-real contract. Durations are integer microseconds
    * (truncating division, both engines); the verdict is the
    * divisionless |drift|·20 > video_us. Video params are
    * [[synthRecord]]'s with a short-clip frame count (nf = n_chars mod
    * 48 + 1) so the per-row audio synthesis stays small.
    *
    * Scale shape: one codec seam, two decodes per row, only five
    * scalar columns leave; no shuffle beyond the presentation sort.
    */
  val avSync = Query(
    "mm_av_sync",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id")).as[(Long, Long)]
      val rows = params.mapPartitions { it =>
        it.map { case (id, nChars) =>
          val w    = ((id % 8) + 1).toInt * 2
          val h    = ((id % 4) + 1).toInt * 2
          val fps  = 24 + (id % 4).toInt * 6
          val nf   = (nChars % 48 + 1).toInt
          val rate = 8000 + (id % 5).toInt * 2000
          val ideal = (nf.toLong * rate / fps).toInt
          val nSamp = if (id % 7 == 0) ideal * 9 / 10 else ideal
          val vid = Y4mCodec.encode(w, h, fps, 1, nf,
            (f, i) => ((id * 11 + f * 5L + i * 3L) % 256).toInt)
          val aud = WavCodec.encode(rate, Array.tabulate(nSamp)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toShort))
          val vDec = Y4mCodec.decode(vid)
          val aDec = WavCodec.decode(aud)
          val videoUs = vDec.nFrames.toLong * 1000000L * vDec.fpsDen /
            vDec.fpsNum
          val audioUs = aDec.nSamples.toLong * 1000000L / aDec.sampleRate
          val drift   = audioUs - videoUs
          (id, audioUs, videoUs, drift, math.abs(drift) * 20 > videoUs)
        }
      }.toDF("media_id", "audio_us", "video_us", "drift_us", "out_of_sync")
      // presentation order comes from sorting the two-column INPUT
      // above (one cheap columnar range sort), not the codec output:
      // a range sort AFTER the narrow mapPartitions made the sampler
      // execute the whole encode+decode pass a SECOND time just to
      // pick boundaries — the r16 profile showed two ~0.75 s jobs
      // running identical codec work (checkpointing was measured not
      // to pay; moving the sort upstream removes the second pass
      // outright). Sorted input + order-preserving narrow stages
      // leave the output globally ordered by media_id.
      rows
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id,
          (24 + (doc_id % 4) * 6)::BIGINT AS fps,
          (n_chars % 48 + 1)::BIGINT AS nf,
          (8000 + (doc_id % 5) * 2000)::BIGINT AS rate
        FROM documents
      ), tracks AS (
        SELECT doc_id, fps, nf, rate,
          CASE WHEN doc_id % 7 = 0
               THEN (nf * rate // fps) * 9 // 10
               ELSE nf * rate // fps END AS n_samp
        FROM p
      ), d AS (
        SELECT doc_id,
          n_samp * 1000000 // rate AS audio_us,
          nf * 1000000 // fps AS video_us
        FROM tracks)
      SELECT doc_id AS media_id, audio_us, video_us,
             audio_us - video_us AS drift_us,
             abs(audio_us - video_us) * 20 > video_us AS out_of_sync
      FROM d ORDER BY media_id
    """),
  )

  /** Windowed SPECTRUM over real decoded PCM: each 64-sample window of
    * [[mm_audio_rms]]'s corpus reduces to six Walsh–Hadamard
    * coefficients c_k = Σ xᵢ·(−1)^popcount(k∧i) for k ∈ {1,2,4,8,16,
    * 32} — the sequency-domain analogue of an FFT spectrogram slice
    * (the per-segment frequency profile an audio pipeline feeds to
    * silence/bandwidth filters). Hadamard, not Fourier, ON PURPOSE:
    * the ±1 basis keeps every coefficient an exact integer sum of
    * int16 samples (|c_k| ≤ 64·2¹⁵ < 2²², exact in both engines),
    * whereas cos/sin are not correctly-rounded in either engine's libm
    * and a cross-engine hash gate over trig is a coin flip at rounding
    * boundaries. A production FFT swap changes only the per-window
    * kernel, not the dataflow.
    *
    * Same scale shape as [[audioRms]]: decode + window + transform in
    * ONE narrow per-partition pass, only (id, window, bin, coef)
    * scalar rows ever leave it — blobs never shuffle. The oracle
    * recomputes every coefficient closed-form from the synthesis
    * parameters.
    */
  val spectrogram = Query(
    "mm_spectrogram",
    (s, dir) => {
      import s.implicits._
      val bins = Array(1, 2, 4, 8, 16, 32)
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      val rows = params.mapPartitions { it =>
        it.flatMap { case (id, nChars) =>
          val rate = 8000 + (id % 5).toInt * 2000
          val n    = (nChars % 240 + 1).toInt
          val synth = Array.tabulate(n)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toShort)
          val samples = WavCodec.decodeSamples(WavCodec.encode(rate, synth))
          samples.grouped(64).zipWithIndex.flatMap { case (w, wi) =>
            bins.map { k =>
              var c = 0L
              var i = 0
              while (i < w.length) {
                val sign = if (java.lang.Integer.bitCount(k & i) % 2 == 0) 1 else -1
                c += w(i).toLong * sign
                i += 1
              }
              (id, wi, k, c)
            }
          }
        }
      }.toDF("media_id", "window_no", "bin", "coef")
      rows.orderBy(col("media_id"), col("window_no"), col("bin"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, (n_chars % 240 + 1)::INT AS n FROM documents
      ), w AS (
        SELECT doc_id, n, unnest(range(0, (n + 63) // 64)) AS win FROM p
      ), b AS (
        SELECT doc_id, n, win, unnest([1, 2, 4, 8, 16, 32]) AS bin FROM w
      )
      SELECT doc_id AS media_id, win::INT AS window_no, bin::INT AS bin,
        CAST(list_sum(list_transform(
          range(win * 64, least(n::BIGINT, win * 64 + 64)),
          i -> ((doc_id * 31 + i * 7) % 65536 - 32768) *
               (CASE WHEN bit_count(bin & (i - win * 64)) % 2 = 0
                     THEN 1 ELSE -1 END))) AS BIGINT) AS coef
      FROM b ORDER BY media_id, window_no, bin
    """),
  )

  /** Scene-change detection over real decoded video frames — the
    * temporal video analysis a frame-sampling pipeline runs first
    * (sample per SCENE, not per fixed stride, and a cut list is the
    * scene index). A cut is a frame whose mean-luma jump from its
    * predecessor exceeds 16 grey levels; the comparison runs in
    * INTEGER space (|Σluma(f) − Σluma(f−1)| > 16·w·h — per-frame luma
    * sums are exact ≤ 255·w·h) so both engines decide identically.
    * Frame sums come from [[Y4mCodec.frameLumaSums]]' real byte walk,
    * not the synthesis formula; the oracle recomputes them
    * closed-form. Decode + temporal reduction in ONE narrow pass —
    * only (id, n_frames, n_cuts, first_cut) leaves it, the same
    * blobs-never-shuffle contract as the rest of the tier.
    */
  val sceneCut = Query(
    "mm_scenecut",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars"))
        // sort the two-column INPUT, not the decoded output: a range
        // sort downstream of the narrow codec pass re-executes the
        // whole pass in its boundary sampler (mm_av_sync's r16
        // profile: identical codec work ran twice); sorted input +
        // order-preserving narrow stages yield the same global
        // media_id order in ONE pass
        .orderBy(col("doc_id")).as[(Long, Long)]
      val rows = params.mapPartitions { it =>
        it.map { case (id, nChars) =>
          val w   = ((id % 8) + 1).toInt * 2
          val h   = ((id % 4) + 1).toInt * 2
          val fps = 24 + (id % 4).toInt * 6
          val nf  = (nChars % 240 + 1).toInt
          val bytes = Y4mCodec.encode(w, h, fps, 1, nf,
            (f, i) => ((id * 11 + f * 5L + i * 3L) % 256).toInt)
          val (dw, dh, sums) = Y4mCodec.frameLumaSums(bytes)
          val px = dw.toLong * dh
          var cuts = 0
          var first = -1L
          var f = 1
          while (f < sums.length) {
            if (math.abs(sums(f) - sums(f - 1)) > 16L * px) {
              cuts += 1
              if (first < 0) first = f
            }
            f += 1
          }
          (id, sums.length, cuts, first)
        }
      }.toDF("media_id", "n_frames", "n_cuts", "first_cut")
      rows
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, ((doc_id % 8 + 1) * 2)::INT AS w,
               ((doc_id % 4 + 1) * 2)::INT AS h,
               (n_chars % 240 + 1)::INT AS nf
        FROM documents
      ), fs AS (
        SELECT doc_id, w, h, nf, f,
          list_sum(list_transform(range(0, (w * h)::BIGINT),
            i -> (doc_id * 11 + f * 5 + i * 3) % 256))::BIGINT AS s
        FROM (SELECT doc_id, w, h, nf, unnest(range(0, nf::BIGINT)) AS f
              FROM p)
      ), d AS (
        SELECT doc_id, nf, f, s, w, h,
          lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS ps
        FROM fs
      )
      SELECT doc_id AS media_id, nf AS n_frames,
        CAST(count(CASE WHEN abs(s - ps) > 16 * w * h THEN 1 END) AS INT)
          AS n_cuts,
        coalesce(min(CASE WHEN abs(s - ps) > 16 * w * h THEN f END), -1)::BIGINT
          AS first_cut
      FROM d GROUP BY 1, 2 ORDER BY media_id
    """),
  )

  /** Activity segmentation (VAD-style) over the decoded-PCM corpus —
    * the silence-trimming pass an audio pipeline runs before
    * transcription/training: windows whose energy clears a threshold
    * are "active", and CONSECUTIVE active windows collapse into
    * segments (gaps-and-islands, the audio twin of `ev_sessionize`'s
    * run collapse). The activity decision is INTEGER-exact — window
    * sum-of-squares vs 64·thr² (no sqrt, no division) — so both
    * engines segment identically. Output: one row per active segment
    * with window extent and exact energy.
    *
    * Shape: decode + window + threshold in the narrow per-partition
    * pass (only (id, window, ss) scalar rows leave it), then the run
    * collapse is the standard lag→flag→running-sum→group chain,
    * windows PARTITIONED by media id — distributed, bounded per-key.
    */
  val audioVad = Query(
    "mm_audio_vad",
    (s, dir) => {
      import s.implicits._
      // threshold: mid-scale RMS 16384 → 64·16384² sum-of-squares
      val thrSS = 64L * 16384 * 16384
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      val wins = params.mapPartitions { it =>
        it.flatMap { case (id, nChars) =>
          val rate = 8000 + (id % 5).toInt * 2000
          val n    = (nChars % 240 + 1).toInt
          val synth = Array.tabulate(n)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toShort)
          val samples = WavCodec.decodeSamples(WavCodec.encode(rate, synth))
          samples.grouped(64).zipWithIndex.collect {
            case (w, wi) if w.length == 64 =>
              val ss = w.foldLeft(0L)((a, v) => a + v.toLong * v)
              (id, wi, ss)
          }
        }
      }.toDF("media_id", "window_no", "ss")
      val active = wins.filter(col("ss") > thrSS)
      val byMedia = Window.partitionBy(col("media_id")).orderBy(col("window_no"))
      active
        .withColumn("prev", lag(col("window_no"), 1).over(byMedia))
        .withColumn("brk",
          when(col("prev").isNull || col("window_no") - col("prev") > 1, 1)
            .otherwise(0))
        .withColumn("seg", sum(col("brk")).over(
          byMedia.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("media_id"), col("seg"))
        .agg(min(col("window_no")).as("first_window"),
          max(col("window_no")).as("last_window"),
          count(lit(1)).cast("long").as("n_windows"),
          sum(col("ss")).as("energy"))
        .select(col("media_id"), col("seg"), col("first_window"),
          col("last_window"), col("n_windows"), col("energy"))
        .orderBy(col("media_id"), col("seg"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, (n_chars % 240 + 1)::INT AS n FROM documents
      ), w AS (
        SELECT doc_id, win::INT AS window_no,
          list_sum(list_transform(range(win * 64, win * 64 + 64),
            i -> ((doc_id * 31 + i * 7) % 65536 - 32768)
               * ((doc_id * 31 + i * 7) % 65536 - 32768)))::BIGINT AS ss
        FROM (SELECT doc_id, n, unnest(range(0, n // 64)) AS win FROM p)
      ), active AS (
        SELECT doc_id, window_no, ss,
          lag(window_no) OVER (PARTITION BY doc_id ORDER BY window_no)
            AS prev
        FROM w WHERE ss > 64::BIGINT * 16384 * 16384
      ), flagged AS (
        SELECT doc_id, window_no, ss,
          CASE WHEN prev IS NULL OR window_no - prev > 1 THEN 1 ELSE 0 END
            AS brk
        FROM active
      ), segged AS (
        SELECT doc_id, window_no, ss,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY window_no
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        FROM flagged
      )
      SELECT doc_id AS media_id, CAST(seg AS BIGINT) AS seg,
        min(window_no) AS first_window, max(window_no) AS last_window,
        count(*) AS n_windows, sum(ss)::BIGINT AS energy
      FROM segged GROUP BY 1, 2 ORDER BY media_id, seg
    """),
  )

  /** Keyframe storyboard manifest — what a video ingestion pipeline
    * actually EMITS from scene detection: one representative frame per
    * scene (frame 0 plus every cut frame, [[sceneCut]]'s integer jump
    * rule), with its slot number, frame index, millisecond timestamp
    * and mean luma — the thumbnail/caption-extraction work list. Same
    * one-pass contract as mm_scenecut: decode + temporal walk in the
    * narrow per-partition pass, only (id, slot, frame, t_ms, luma)
    * scalar rows leave it, blobs never shuffle. All columns are
    * integer-exact: t_ms = f·1000/fps and luma_mean = Σluma/px in
    * TRUNCATING division (Scala Long `/` = DuckDB `//` for
    * non-negatives), so the gate compares raw integers.
    */
  val storyboard = Query(
    "mm_storyboard",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars"))
        // sort the two-column INPUT, not the decoded output: a range
        // sort downstream of the narrow codec pass re-executes the
        // whole pass in its boundary sampler (mm_av_sync's r16
        // profile: identical codec work ran twice); sorted input +
        // order-preserving narrow stages yield the same global
        // media_id order in ONE pass
        .orderBy(col("doc_id")).as[(Long, Long)]
      val rows = params.flatMap { case (id, nChars) =>
        val w   = ((id % 8) + 1).toInt * 2
        val h   = ((id % 4) + 1).toInt * 2
        val fps = 24 + (id % 4).toInt * 6
        val nf  = (nChars % 240 + 1).toInt
        val bytes = Y4mCodec.encode(w, h, fps, 1, nf,
          (f, i) => ((id * 11 + f * 5L + i * 3L) % 256).toInt)
        val (dw, dh, sums) = Y4mCodec.frameLumaSums(bytes)
        val px = dw.toLong * dh
        val keyframes = Iterator.range(0, sums.length).filter { f =>
          f == 0 || math.abs(sums(f) - sums(f - 1)) > 16L * px
        }.toVector
        keyframes.zipWithIndex.map { case (f, slot) =>
          (id, slot, f, f.toLong * 1000 / fps, sums(f) / px)
        }
      }.toDF("media_id", "slot", "frame_idx", "t_ms", "luma_mean")
      // per-id slots emit in increasing order inside the flatMap, so
      // the sorted input already yields (media_id, slot) order
      rows
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, ((doc_id % 8 + 1) * 2)::INT AS w,
               ((doc_id % 4 + 1) * 2)::INT AS h,
               (24 + (doc_id % 4) * 6)::INT AS fps,
               (n_chars % 240 + 1)::INT AS nf
        FROM documents
      ), fs AS (
        SELECT doc_id, w, h, fps, f,
          list_sum(list_transform(range(0, (w * h)::BIGINT),
            i -> (doc_id * 11 + f * 5 + i * 3) % 256))::BIGINT AS s
        FROM (SELECT doc_id, w, h, fps, unnest(range(0, nf::BIGINT)) AS f
              FROM p)
      ), d AS (
        SELECT doc_id, w, h, fps, f, s,
          lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS ps
        FROM fs
      ), kf AS (
        SELECT doc_id, fps, f, s, w, h
        FROM d WHERE f = 0 OR abs(s - ps) > 16 * w * h)
      SELECT doc_id AS media_id,
        (row_number() OVER (PARTITION BY doc_id ORDER BY f) - 1)::INT AS slot,
        f::INT AS frame_idx,
        (f * 1000 // fps)::BIGINT AS t_ms,
        (s // (w * h))::BIGINT AS luma_mean
      FROM kf ORDER BY media_id, slot
    """),
  )

  /** Image QUALITY gating — the visual-tier twin of `tx_quality`: a
    * multimodal training pipeline drops blank/flat/low-contrast images
    * before captioning or embedding them, and this is that filter.
    * Per image (decoded from real BMP bytes): pixel count, exact luma
    * Σ and Σ², horizontal gradient energy Σ|Δgrey|, and three integer
    * verdicts — low_contrast (population variance < 400 grey², i.e.
    * σ < 20, compared divisionless as Σ²·n − Σ² < 400·n²), flat (mean
    * |gradient| < 8, compared as Σ|Δ| < 8·(w−1)·h), and the composed
    * pass flag. Everything is exact integer arithmetic over decoded
    * bytes, so the gate compares raw values; the oracle recomputes the
    * sums closed-form from the synthesis parameters (the mm_image_dhash
    * contract: the formula is only the corpus generator — the query
    * itself decodes). Per-row compute in the codec seam, no shuffle
    * beyond the presentation sort.
    */
  val imageQuality = Query(
    "mm_image_quality",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id")).as[Long]
      val rows = params.mapPartitions { it =>
        it.map { id =>
          val w = (id % 31 + 1).toInt
          val h = (id % 17 + 1).toInt
          val bytes = BmpCodec.encode(w, h,
            (x, y) => ((id * 7 + (y.toLong * w + x) * 3) % 256).toInt)
          val (dw, dh, grey) = BmpCodec.decodeGrey(bytes)
          val n = dw.toLong * dh
          var sum = 0L; var ss = 0L; var sharp = 0L
          var i = 0
          while (i < grey.length) {
            val g = grey(i).toLong
            sum += g; ss += g * g
            if (i % dw < dw - 1) sharp += math.abs(grey(i + 1).toLong - g)
            i += 1
          }
          val lowContrast = ss * n - sum * sum < 400L * n * n
          val flat = sharp < 8L * (dw - 1) * dh
          (id, n, sum, ss, sharp, lowContrast, flat, !(lowContrast || flat))
        }
      }.toDF("media_id", "n_px", "luma_sum", "luma_sumsq", "sharpness",
        "low_contrast", "flat", "pass")
      rows.orderBy(col("media_id"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, (doc_id % 31 + 1)::BIGINT AS w,
               (doc_id % 17 + 1)::BIGINT AS h
        FROM documents WHERE doc_id % 3 = 0
      ), m AS (
        SELECT doc_id, w, h, w * h AS n,
          list_sum(list_transform(range(0, w * h),
            i -> (doc_id * 7 + i * 3) % 256))::BIGINT AS s,
          list_sum(list_transform(range(0, w * h),
            i -> ((doc_id * 7 + i * 3) % 256)
               * ((doc_id * 7 + i * 3) % 256)))::BIGINT AS ss,
          coalesce(list_sum(list_transform(
            list_filter(range(0, w * h), i -> i % w < w - 1),
            i -> abs((doc_id * 7 + (i + 1) * 3) % 256
                   - (doc_id * 7 + i * 3) % 256))), 0)::BIGINT AS sharp
        FROM p)
      SELECT doc_id AS media_id, n AS n_px, s AS luma_sum,
             ss AS luma_sumsq, sharp AS sharpness,
             (ss * n - s * s < 400 * n * n) AS low_contrast,
             (sharp < 8 * (w - 1) * h) AS flat,
             NOT ((ss * n - s * s < 400 * n * n)
               OR (sharp < 8 * (w - 1) * h)) AS pass
      FROM m ORDER BY media_id
    """),
  )

  /** Audio QUALITY gating — the audio twin of [[imageQuality]]: a
    * speech/audio pipeline drops clipped or DC-biased recordings
    * before transcription or training (clipping destroys the signal a
    * model learns from; DC offset marks a broken capture chain). Per
    * track over real decoded PCM: sample count, near-full-scale count
    * (|s| ≥ 32000), exact DC sum, and divisionless integer verdicts —
    * clipped (> 2.5% near-full-scale, n_clip·40 > n) and dc_bias
    * (|ΣS| > 75% of full-scale·n, |Σ|·4 > 3·32768·n) — plus the
    * composed pass flag. Both verdicts split the corpus at every SF
    * (probed: 25/500 clipped, 250/500 biased at sf0.001). Decode +
    * reduction in one narrow pass, only scalar rows leave; the oracle
    * recomputes the sums closed-form from the synthesis parameters.
    */
  val audioQuality = Query(
    "mm_audio_quality",
    (s, dir) => {
      import s.implicits._
      val params = Tables(s, dir).documents
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      val rows = params.mapPartitions { it =>
        it.map { case (id, nChars) =>
          val rate = 8000 + (id % 5).toInt * 2000
          val n    = (nChars % 240 + 1).toInt
          val synth = Array.tabulate(n)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toShort)
          val samples = WavCodec.decodeSamples(WavCodec.encode(rate, synth))
          var clip = 0L; var dc = 0L
          samples.foreach { v =>
            if (math.abs(v.toInt) >= 32000) clip += 1
            dc += v.toLong
          }
          val nL = samples.length.toLong
          val clipped = clip * 40 > nL
          val dcBias = math.abs(dc) * 4 > 3L * 32768 * nL
          (id, rate, nL, clip, dc, clipped, dcBias, !(clipped || dcBias))
        }
      }.toDF("media_id", "sample_rate", "n_samples", "n_clipped", "dc_sum",
        "clipped", "dc_bias", "pass")
      rows.orderBy(col("media_id"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id, (8000 + (doc_id % 5) * 2000)::INT AS rate,
               (n_chars % 240 + 1)::BIGINT AS n
        FROM documents
      ), m AS (
        SELECT doc_id, rate, n,
          list_sum(list_transform(range(0, n),
            i -> CASE WHEN abs((doc_id * 31 + i * 7) % 65536 - 32768)
                      >= 32000 THEN 1 ELSE 0 END))::BIGINT AS clip,
          list_sum(list_transform(range(0, n),
            i -> (doc_id * 31 + i * 7) % 65536 - 32768))::BIGINT AS dc
        FROM p)
      SELECT doc_id AS media_id, rate AS sample_rate, n AS n_samples,
             clip AS n_clipped, dc AS dc_sum,
             (clip * 40 > n) AS clipped,
             (abs(dc) * 4 > 3 * 32768 * n) AS dc_bias,
             NOT ((clip * 40 > n) OR (abs(dc) * 4 > 3 * 32768 * n)) AS pass
      FROM m ORDER BY media_id
    """),
  )

  // ──────────────── persisted media near-dup index (admission) ────

  /** The media index's layout — the shared banded near-dup layout
    * ([[graft.operators.BandedIndex]]): (media_id, dhash) signatures
    * bucketed by `sb`, (media_id, dhash, bno, bval) band rows bucketed
    * by `bkt = pmod(hash(bno, bval), 16)`; dhash is denormalized into
    * the band rows so the Hamming confirm needs no sigs join.
    */
  private[graft] val MediaLayout = graft.operators.BandedIndex("media",
    "media_id", Seq("bno", "bval"),
    sigsSchema = "media_id LONG, dhash LONG, sb INT",
    bandsSchema = "media_id LONG, dhash LONG, bno INT, bval LONG, bkt INT",
    sigBktCol = "sb")

  /** Bands per image hash: 6 × 10-bit slices of the 64-bit dhash. */
  private val MediaBands = 6

  /** (media_id, dhash) → the 6 ten-bit band rows — the ONE band
    * definition, shared by the corpus pair pipeline, the index write,
    * the probe's query side, and the incremental upsert so their rows
    * cannot drift.
    */
  private def bandsOfHashes(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"), col("dhash"),
      explode(expr(s"transform(sequence(0, ${MediaBands - 1}), b -> " +
        "struct(b AS bno, shiftright(dhash, b * 10) & 1023 AS bval))"))
        .as("b"))
      .select(col("media_id"), col("dhash"),
        col("b.bno").cast("int").as("bno"), col("b.bval").as("bval"))

  /** Write the persisted image near-dup index for `hashes`
    * (media_id, dhash): `sigs/` id-bucketed, `bands/` band-key-bucketed
    * and UNCAPPED, plus the `bandmap` id→band-bucket route (band
    * buckets derive from dhash CONTENT, so an id's band rows are not
    * locatable from the id). The ≤50-members hot-band cap is evaluated
    * AT PROBE TIME by [[probeMediaIndex]], so cap semantics are
    * from-scratch under any maintenance history. Shared by the
    * from-scratch build and the rebuild oracles in ImageIndexSpec.
    */
  private[graft] def writeMediaIndex(s: SparkSession, hashes: DataFrame,
      idx: String): Unit =
    MediaLayout.write(s, idx, hashes.select(col("media_id"), col("dhash")),
      bandsOfHashes(hashes))

  /** Arrival-fixture headroom guard (r13 advice): the media arrival
    * waves stack at +500000/+600000/+700000/+800000 offsets and key
    * re-encode twins at media_id − 100000, which silently assumes
    * doc_id < 100000 (true at every shipped SF; sf0.1 tops out at
    * 4999). Checked once per corpus GENERATION — inside the index
    * publish blocks, never per probe — so a grown corpus fails with
    * THIS message instead of a confusing duplicate-id ingest error
    * deep in the stream loop.
    */
  private[graft] def assertWaveHeadroom(s: SparkSession, dir: String): Unit = {
    val mx = Tables(s, dir).documents
      .agg(max(col("doc_id"))).head().getLong(0)
    require(mx < 100000,
      s"media arrival fixtures assume doc_id < 100000 (corpus max is " +
        s"$mx): the +500000..+800000 wave offsets and the " +
        "media_id-100000 twin keying would collide — re-derive the " +
        "offsets from max(doc_id) before growing the corpus")
  }

  /** A media index's base build: the headroom check, then the write. */
  private[graft] def writeMediaBase(s: SparkSession, dir: String,
      hashes: => DataFrame)(tmp: String): Unit = {
    assertWaveHeadroom(s, dir)
    writeMediaIndex(s, hashes, tmp)
  }

  /** Build-and-publish a channel's index over its corpus hashes, once
    * per corpus generation (the buildTextIndex discipline: source-keyed
    * path, atomic publish, stale-generation GC); each channel publishes
    * under its own family, so the generations GC independently.
    */
  def buildMediaIndex(s: SparkSession, dir: String,
      ch: MediaChannel): String = synchronized {
    graft.core.IndexDirs.publishCurrent(s.sparkContext.hadoopConfiguration,
      dir, "documents.parquet", ch.family("index"))(
      writeMediaBase(s, dir, ch.corpusHashes(s, dir)))
  }
  /** The ONE screen kernel against a persisted image index: the
    * incoming batch's 6 bands per image resolve to a static partition
    * filter; a first bounded pass counts stored membership of ONLY the
    * probed band keys (map-side-combining aggregate, ≤ 6×|batch| keys
    * out) so hot bands (> 50 members — boilerplate, flat images) are
    * excluded BEFORE candidate generation
    * ([[graft.operators.BandedIndex.belowCap]], the cap the MinHash
    * band index shares); a second pass joins the surviving stored bands
    * against the broadcast batch bands and confirms with
    * `bit_count(xor) ≤ 5` (dhash is denormalized into the band rows,
    * so the confirm needs no sigs join). Per-image verdict:
    * dup/new at Hamming ≤ 5 with the best (minimum) distance, 99 =
    * no candidate. Shared by `dd_image_probe` (screen after build)
    * and `dd_image_stream_ingest` (the admission loop).
    */
  private[graft] def probeMediaIndex(s: SparkSession, idx: String,
      incomingHashes: DataFrame,
      excludeBatchIds: Boolean = false): DataFrame = {
    import scala.jdk.CollectionConverters._
    // ONE collect of the arrival batch's band rows (≤ 6 × |batch| —
    // the nightly unit, the same frame the screen joins broadcast to
    // every executor anyway): incomingHashes is the CODEC hashing
    // pass, and as a lazy subtree it re-executed once per consumer —
    // the bucket collect, the two batch-side broadcasts, and the
    // final verdict join each re-encoded and re-hashed every arrival
    // blob (4 codec passes per screen, r16 profile). The bucket set
    // rides the same job (bkt is a pure function of the band key).
    val bandRows = bandsOfHashes(incomingHashes)
      .select(col("media_id"), col("dhash"), col("bno"), col("bval"),
        MediaLayout.bandBkt.as("bkt"))
      .collect()
    // every incoming image yields exactly one bno = 0 row
    val images = bandRows.count(_.getInt(2) == 0)
    require(bandRows.length <= MediaBands * images,
      s"probeMediaIndex: ${bandRows.length} band rows for $images " +
        s"incoming images — the collect is bounded by $MediaBands per image")
    val bkts = bandRows.map(_.getInt(4)).distinct.sorted
    val bandsI = s.createDataFrame(
      bandRows.toSeq.map(r =>
        Row(r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("dhash",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bno",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("bval",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val keysI = bandsI.select(col("bno"), col("bval")).distinct()
    val idsI  = bandsI.select(col("media_id")).distinct()
    val stored0 = MediaLayout.storedBands(s, idx, bkts.toSeq)
    // excludeBatchIds: the ingest LOOP's retry contract — a
    // foreachBatch retry after a committed ingest must reproduce the
    // FIRST attempt's verdicts, including the probe-time band-cap
    // counts, so the loop screens index-minus-batch
    // (IngestLogRestartSpec's discipline). Later-session re-screens
    // keep the default — a re-submitted id IS a dup against its
    // stored self.
    val stored =
      if (!excludeBatchIds) stored0
      else stored0.join(broadcast(idsI), Seq("media_id"), "left_anti")
    val cands = MediaLayout.belowCap(stored, keysI).as("e")
      .join(broadcast(bandsI.as("i")),
        col("e.bno") === col("i.bno") && col("e.bval") === col("i.bval"))
      .select(col("i.media_id").as("new_id"),
        col("e.media_id").as("old_id"),
        expr("cast(bit_count(e.dhash ^ i.dhash) as int)").as("hamming"))
      .distinct()
    val flags = cands.groupBy(col("new_id"))
      .agg(min(col("hamming")).as("best"))
      .withColumnRenamed("new_id", "media_id")
    idsI
      .join(broadcast(flags), Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("best") <= 5, "dup").otherwise("new").as("status"),
        coalesce(col("best"), lit(99)).as("best_hamming"))
      .orderBy(col("media_id"))
  }

  /** Incremental maintenance for the media index — the admission
    * tier's INGEST step, APPEND-ONLY like [[graft.dedup.DedupQueries
    * .upsertBandIndex]] and through the same shared path
    * ([[graft.operators.BandedIndex.upsert]]): a batch whose every id
    * is already indexed fails loudly, a partially present one is
    * logged and re-applied (the crashed-commit repair), duplicate ids
    * within a batch fail loudly. Bands commit through the bandmap
    * route, sigs LAST (the commit point). No cap bookkeeping: the cap
    * is probe-time ([[writeMediaIndex]]), so an upsert that pushes a
    * band past 50 members changes nothing in the store but the band's
    * rows — the NEXT probe's membership pass simply stops emitting
    * that band's candidates, exactly the from-scratch semantics.
    * Returns the touched band bucket ids.
    */
  def upsertMediaIndex(s: SparkSession, idx: String,
      batchHashes: DataFrame): Seq[Int] =
    MediaLayout.upsert(s, idx,
      batchHashes.select(col("media_id"), col("dhash")),
      "upsertMediaIndex")(bandsOfHashes)

  /** The ONE oracle-side media screen, a suffix-parameterized DuckDB
    * CTE chain ending in `iverdict_<sfx>(media_id, status,
    * best_hamming)` — instantiable more than once per query text, so
    * the stream oracle can chain sequential screens. `existingCte` and
    * `incomingCte` name parameter relations of the channel. The cap is
    * per-band membership of the EXISTING side — the probe-time
    * evaluation [[probeMediaIndex]] performs; banding, candidate join
    * and verdict mirror that one Spark kernel.
    */
  private def mediaScreenCtes(ch: MediaChannel, sfx: String,
      existingCte: String, incomingCte: String): String =
    s"""ihe_$sfx AS (${ch.hashSql(existingCte)}
      ), ihi_$sfx AS (${ch.hashSql(incomingCte)}
      ), ibe0_$sfx AS (
        SELECT media_id, dhash, unnest(range(0, 6)) AS bno FROM ihe_$sfx
      ), ibe_$sfx AS (
        SELECT media_id, dhash, bno,
               (dhash >> (bno * 10)::INT) & 1023 AS bval
        FROM ibe0_$sfx
      ), ibi0_$sfx AS (
        SELECT media_id, dhash, unnest(range(0, 6)) AS bno FROM ihi_$sfx
      ), ibi_$sfx AS (
        SELECT media_id, dhash, bno,
               (dhash >> (bno * 10)::INT) & 1023 AS bval
        FROM ibi0_$sfx
      ), icnt_$sfx AS (
        SELECT bno, bval, count(*) AS bc FROM ibe_$sfx GROUP BY 1, 2
      ), icand_$sfx AS (
        SELECT DISTINCT i.media_id AS new_id, e.media_id AS old_id,
               bit_count(xor(e.dhash, i.dhash))::INT AS hamming
        FROM ibe_$sfx e
        JOIN icnt_$sfx c ON e.bno = c.bno AND e.bval = c.bval
          AND c.bc <= ${graft.operators.BandedIndex.HotBandCap}
        JOIN ibi_$sfx i ON e.bno = i.bno AND e.bval = i.bval
      ), ibest_$sfx AS (
        SELECT new_id AS media_id, min(hamming) AS best
        FROM icand_$sfx GROUP BY 1
      ), iverdict_$sfx AS (
        SELECT p.media_id,
               CASE WHEN b.best <= 5 THEN 'dup' ELSE 'new' END AS status,
               coalesce(b.best, 99) AS best_hamming
        FROM $incomingCte p LEFT JOIN ibest_$sfx b USING (media_id)
      )"""

  /** A channel's corpus (`pc`) and night-1 (`in1`) parameter CTEs —
    * the existing and incoming sides of its admission oracles.
    */
  private def admissionCtes(ch: MediaChannel): String =
    s"""pc AS (${ch.corpusSql}
      ), in1 AS (${ch.night1Sql}
      )"""
  /** Purge propagation into the media index — the DELETE path, so the
    * admission tier stops matching arrivals against purged media (the
    * serving-tier invariant the r11 verdict ranked first): the shared
    * banded-index delete ([[graft.operators.BandedIndex.delete]]) —
    * presence from the id-pruned sigs read, bands out through the
    * bandmap route, sigs LAST (the commit point, and the callers'
    * idempotence probe). A hot band whose membership drops back under
    * the cap needs no maintenance event: the next probe's membership
    * pass sees the smaller count. Ids with no sigs row (never indexed)
    * are the documented no-op. Returns the touched band bucket ids.
    */
  def deleteFromMediaIndex(s: SparkSession, idx: String,
      purge0: DataFrame): Seq[Int] =
    MediaLayout.delete(s, idx, purge0)

  /** The delete demo's index for one channel: a fresh family (the
    * shared [[buildMediaIndex]] generation serves the probe/stream rows
    * and must not mutate), built over the full corpus and then purged
    * of the channel's non-representatives — the SAME list its
    * `dd_<c>_purge_apply` row executes against the blob lake — once per
    * generation, applied-once via the `_purge_applied` marker with the
    * sigs-presence probe as the idempotence check.
    */
  private def deleteDemoMediaIndex(s: SparkSession, dir: String,
      ch: MediaChannel): String =
    synchronized {
      // derived only when the marker is absent
      lazy val purge = purgeRoutes(clusterFrame(s, dir, ch))
        .select(col("media_id"))
      graft.core.IndexDirs.maintainOnce(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", ch.family("delete"), "_purge_applied")(
        writeMediaBase(s, dir, ch.corpusHashes(s, dir)))(
        idx => s.read.schema(MediaLayout.sigsSchema).parquet(s"$idx/sigs")
          .join(purge, Seq("media_id"), "left_semi").limit(1).collect()
          .nonEmpty)(
        idx => deleteFromMediaIndex(s, idx, purge))
    }
  /** The maintenance demo behind `dd_<c>_upsert` — the tx_index_upsert
    * discipline through the shared media kernel: a base index built
    * (atomically published, once per corpus generation) over the
    * channel's corpus MINUS the media_id % 5 == 0 slice, then an
    * idempotent append of that slice as the "nightly batch". The final
    * index state is exactly the full corpus, which is what makes each
    * row oracle-gateable against its channel's probe screen verbatim.
    */
  private def upsertDemoMediaIndex(s: SparkSession, dir: String,
      ch: MediaChannel): String =
    synchronized {
      val hashes = ch.corpusHashes(s, dir)
      // apply the nightly batch once per corpus generation (the
      // applied-once discipline: a serving tier probes an up-to-date
      // index, it does not re-run last night's ingest per query). The
      // marker fast path makes the steady-state re-entry one file
      // stat; the no-marker path keeps the data-derived presence check
      // (the append-only contract makes re-ingest loud, so presence IS
      // the evidence) before the marker stamps convergence.
      graft.core.IndexDirs.maintainOnce(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", ch.family("upsert"), "_upsert_applied")(
        writeMediaBase(s, dir, hashes.filter(col("media_id") % 5 =!= 0)))(
        idx => s.read.schema(MediaLayout.sigsSchema).parquet(s"$idx/sigs")
          .filter(col("media_id") % 5 === 0).limit(1).collect().isEmpty)(
        idx => upsertMediaIndex(s, idx, hashes.filter(col("media_id") % 5 === 0)))
    }

  /** The sequential two-night admission chain of a channel as one
    * DuckDB query — the oracle of `dd_<c>_stream_ingest`: night 1
    * screens against the corpus, night 2 against the corpus ∪ night
    * 1's ADMISSIONS. Night 2's first wave re-encodes night 1's fresh
    * wave, so it screens 'dup' only if the loop ingested night 1.
    */
  private[graft] def streamIngestOracle(ch: MediaChannel): String = s"""
      WITH ${admissionCtes(ch)},
      ${mediaScreenCtes(ch, "1", "pc", "in1")},
      in2 AS (${ch.night2Sql}
      ), ex2 AS (
        SELECT * FROM pc
        UNION ALL
        SELECT * FROM in1 WHERE media_id IN
          (SELECT media_id FROM iverdict_1 WHERE status = 'new')
      ),
      ${mediaScreenCtes(ch, "2", "ex2", "in2")}
      SELECT media_id, status, best_hamming FROM iverdict_1
      UNION ALL
      SELECT media_id, status, best_hamming FROM iverdict_2
      ORDER BY media_id"""

  def all: Seq[Query] =
    Seq(features, frames, resized, resizedPx, wavDecode, bmpDecode,
      videoDecode, audioRms, imageDhash, imageRows.dups,
      imageRows.clusters, spectrogram, sceneCut, audioVad, audioRows.dups,
      audioRows.clusters, videoRows.dups, videoRows.clusters, storyboard,
      imageQuality, audioQuality, pairManifest, avSync, imagePurge,
      imageRows.purgeApply, audioRows.purgeApply, videoRows.purgeApply,
      alignScore, imageRows.probe, imageRows.upsert, imageRows.indexDelete,
      audioRows.probe, videoRows.probe, audioRows.upsert, videoRows.upsert,
      audioRows.indexDelete, videoRows.indexDelete)
}
