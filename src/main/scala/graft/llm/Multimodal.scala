package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal columns for the training-data pipeline (north star):
  * image/audio/video as opaque `binary` columns with typed metadata,
  * plus decode / feature-extract / resize / frame-sample operators.
  *
  * The codec is REAL (round-8; previously an honest stub): image rows
  * carry binary PPM (P6) containers and audio rows RIFF/WAV PCM16,
  * built and parsed by the zero-dependency [[MediaCodec]]. Features
  * come from the DECODED payload region — the PPM pixel block after a
  * fully-parsed header, the WAV `data` chunk located by walking the
  * RIFF chunk list — so a corrupted header fails loudly instead of
  * averaging header bytes into features. Video rows stay raw payloads
  * (`raw/v1`): no sane video container is pure-JVM-decodable, and the
  * frame operators are metadata arithmetic anyway.
  *
  * The payload regions are deterministic functions of the document
  * text (pixels = the text's UTF-8 bytes truncated to 3·⌊n/3⌋, PCM =
  * truncated to 2·⌊n/2⌋), which keeps q52 DIRECTLY hash-graded: the
  * DuckDB oracle rebuilds the container arithmetic (header sizes,
  * payload slices) without needing to hex-decode actual binaries.
  *
  * Scale: payloads stay opaque bytes end-to-end (no driver collect, no
  * string conversion); per-partition decoding keeps codec init off the
  * per-row path; features are fixed-width arrays so downstream ANN
  * (Similarity.q39) shuffles small vectors, never raw media.
  */
object Multimodal {

  case class MediaRow(
      media_id: Long,
      kind: String,          // image | audio | video
      content: Array[Byte],  // real container bytes (PPM / WAV / raw)
      width: Int, height: Int,
      sample_rate: Int, duration_ms: Long, format: String)

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,          // container size, header included
      features: Seq[Double]) // FeatureDim-bin histogram of DECODED payload

  val FeatureDim: Int = MediaCodec.FeatureDim

  /** Build a deterministic media table from the documents corpus: real
    * containers whose payload derives from the text bytes (varying,
    * reproducible), kind cycling image/audio/video by doc_id. Image
    * dims are the REAL container dims (⌊n/3⌋ × 1); audio duration is
    * the REAL sample count at 16 kHz; video keeps the synthetic
    * display metadata its frame operators consume. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", $"n_chars")
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val bytes =
          if (text == null) Array.emptyByteArray
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (id % 3) match {
          case 0 =>
            val w = bytes.length / 3
            val content = MediaCodec.encodePpm(
              java.util.Arrays.copyOf(bytes, w * 3), w, 1)
            MediaRow(id, "image", content, w, 1, 16000, nChars * 40, "ppm/p6")
          case 1 =>
            val dataLen = bytes.length / 2 * 2
            val content = MediaCodec.encodeWav(
              java.util.Arrays.copyOf(bytes, dataLen), 16000)
            val durMs = (dataLen / 2).toLong * 1000L / 16000L
            MediaRow(id, "audio", content, 0, 0, 16000, durMs, "wav/pcm16")
          case _ =>
            MediaRow(id, "video", bytes,
              (id % 640 + 16).toInt, (id % 480 + 16).toInt,
              16000, nChars * 40, "raw/v1")
        }
      }
  }

  /** Decode + feature-extract via mapPartitions: rows stream through in
    * one pass (an FFI codec would hold its per-partition handle here).
    * Empty/null content is empty media (all-zero features); a MALFORMED
    * container errors with the media_id — quarantine-routing, not
    * silent feature garbage. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.content == null) Array.emptyByteArray else r.content
        val payload =
          if (bytes.isEmpty) bytes
          else try r.kind match {
            case "image" => MediaCodec.decodePpm(bytes).pixels
            case "audio" => MediaCodec.decodeWav(bytes).data
            case _       => bytes
          } catch {
            case e: IllegalArgumentException => throw new IllegalArgumentException(
              s"media_id=${r.media_id} (${r.kind}): ${e.getMessage}", e)
          }
        MediaFeatures(r.media_id, r.kind, bytes.length,
          MediaCodec.histogram(payload).toSeq)
      }
    }
  }

  /** Resize an image row: decode → nearest-neighbor resample →
    * re-encode (a REAL pixel transform); non-image rows keep their
    * payload and only update the display metadata. */
  def resize(r: MediaRow, w: Int, h: Int): MediaRow =
    if (r.kind == "image")
      r.copy(content = MediaCodec.resizePpm(r.content, w, h), width = w, height = h)
    else r.copy(width = w, height = h)

  /** Frame sampling for video rows: one output row per sampled frame at
    * `fps`-spaced timestamps — pure relational explode on metadata, no
    * payload duplication (each frame row carries only the offset; a real
    * pipeline decodes lazily from the shared payload). */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long = 1000L): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.toDF()
      .filter($"kind" === "video")
      .withColumn("frame_ms",
        explode(sequence(lit(0L), greatest($"duration_ms" - 1, lit(0L)), lit(everyMs))))
      .select($"media_id", $"frame_ms", $"width", $"height")
  }

  /** q221: ViT PATCH PLAN — the tokenizer of the vision side. For every
    * visual row (image | video), the 16×16 patch grid a ViT-style
    * encoder would cut it into: per-axis patch counts (ceiling
    * division), total patches, right/bottom padding to the patch
    * boundary, and the transformer sequence length (patches + 1 CLS
    * token). Video rows additionally multiply by their 1 fps frame
    * count (q53's exact frame arithmetic) into total visual tokens per
    * clip — the number a multimodal packing planner (q116's budget,
    * vision edition) actually consumes.
    *
    * Pure metadata arithmetic over the DECODED dims — no pixel bytes
    * move; at 100 TB this is a narrow projection over the media
    * catalog, the same shape as q53, and every term is integer so the
    * oracle restates it exactly. */
  def q221VitPatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val P = 16
    mediaTable(s, dir).toDF()
      .filter($"kind".isin("image", "video"))
      .withColumn("px", expr(s"CAST((width + ${P - 1}) div $P AS INT)"))
      .withColumn("py", expr(s"CAST((height + ${P - 1}) div $P AS INT)"))
      .withColumn("n_patches", $"px" * $"py")
      .withColumn("pad_x", $"px" * P - $"width")
      .withColumn("pad_y", $"py" * P - $"height")
      .withColumn("n_frames",
        when($"kind" === "video",
          expr("CAST(greatest(duration_ms - 1, 0) div 1000 AS BIGINT) + 1"))
          .otherwise(lit(1L)))
      .withColumn("seq_len", ($"n_patches" + 1).cast("long"))
      .withColumn("visual_tokens", $"n_patches".cast("long") * $"n_frames")
      .select($"media_id", $"kind", $"width", $"height", $"px", $"py",
        $"n_patches", $"pad_x", $"pad_y", $"n_frames", $"seq_len",
        $"visual_tokens")
      .orderBy($"media_id")
  }

  val q221Sql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    n_chars, octet_length(encode(text)) AS n
      |  FROM documents),
      |m AS (
      |  SELECT doc_id AS media_id, kind,
      |    CAST(CASE kind WHEN 'image' THEN n // 3
      |                   ELSE (doc_id % 640) + 16 END AS INT) AS width,
      |    CAST(CASE kind WHEN 'image' THEN 1
      |                   ELSE (doc_id % 480) + 16 END AS INT) AS height,
      |    CASE WHEN kind = 'video' THEN n_chars * 40 ELSE 0 END AS duration_ms
      |  FROM raw WHERE kind IN ('image', 'video')),
      |p AS (
      |  SELECT media_id, kind, width, height, duration_ms,
      |    CAST((width + 15) // 16 AS INT) AS px,
      |    CAST((height + 15) // 16 AS INT) AS py,
      |    CASE WHEN kind = 'video'
      |         THEN greatest(duration_ms - 1, 0) // 1000 + 1
      |         ELSE 1 END AS n_frames
      |  FROM m)
      |SELECT media_id, kind, width, height, px, py,
      |  CAST(px * py AS INT) AS n_patches,
      |  CAST(px * 16 - width AS INT) AS pad_x,
      |  CAST(py * 16 - height AS INT) AS pad_y,
      |  CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(px * py + 1 AS BIGINT) AS seq_len,
      |  CAST(px * py AS BIGINT) * n_frames AS visual_tokens
      |FROM p ORDER BY media_id""".stripMargin

  /** q52: media feature extraction over the derived corpus — now
    * through the REAL codec: the features histogram the decoded payload
    * region (PPM pixel block / WAV data chunk), and n_bytes is the
    * whole container. Still DIRECTLY hash-graded: the payload regions
    * are deterministic text-byte slices and the header sizes are pure
    * arithmetic (PPM: 10 + digits(⌊n/3⌋); WAV: 44), so the oracle
    * restates both without hex-decoding binaries. `f6` (bytes 96–111,
    * the a–o lowercase range) varies per document and carries the
    * grading signal; `feat_sum`/`f0` pin normalization and the
    * empty-bin path. */
  def q52MediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    extractFeatures(mediaTable(s, dir)).toDF()
      .select($"media_id", $"kind", $"n_bytes",
        round(aggregate($"features", lit(0.0), (a, x) => a + x), 6).as("feat_sum"),
        round(element_at($"features", 1), 6).as("f0"),
        round(element_at($"features", 7), 6).as("f6"))
      .orderBy($"media_id")
  }

  /** q52 oracle: the container arithmetic restated over `documents`.
    * Per kind: image payload = first 3·⌊n/3⌋ text bytes inside a PPM
    * whose header is `P6\n<w> 1\n255\n` (10 + digits(w) bytes); audio
    * payload = first 2·⌊n/2⌋ bytes after the canonical 44-byte WAV
    * header; video = the raw n bytes. Features histogram the PAYLOAD
    * slice only — exactly what the decoder hands the kernel. Bins with
    * no bytes are absent from the grouped rows; `+0.0` is the identity
    * for the non-negative bin values, so `list_sum` over present bins
    * in bin order equals Spark's 16-element left fold bit-for-bit.
    * Byte-exact via `hex(encode(text))` slicing, not char functions. */
  val q52Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |  FROM documents),
      |d AS (
      |  SELECT media_id, kind, hx,
      |    CASE kind WHEN 'image' THEN 3 * (n // 3)
      |              WHEN 'audio' THEN 2 * (n // 2)
      |              ELSE n END AS data_len,
      |    CASE kind WHEN 'image' THEN 10 + length(CAST(n // 3 AS VARCHAR)) + 3 * (n // 3)
      |              WHEN 'audio' THEN 44 + 2 * (n // 2)
      |              ELSE n END AS n_bytes
      |  FROM m),
      |pos AS (SELECT media_id, hx, data_len,
      |          unnest(generate_series(1, CAST(data_len AS INT))) AS i FROM d),
      |bins AS (
      |  SELECT media_id, bin, CAST(count(*) AS DOUBLE) / any_value(data_len) AS v
      |  FROM (SELECT media_id,
      |          ('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2))::INT // 16 AS bin, data_len
      |        FROM pos) b
      |  GROUP BY media_id, bin),
      |h AS (
      |  SELECT media_id,
      |    round(list_sum(list(v ORDER BY bin)), 6) AS feat_sum,
      |    round(coalesce(max(CASE WHEN bin = 0 THEN v END), 0.0), 6) AS f0,
      |    round(coalesce(max(CASE WHEN bin = 6 THEN v END), 0.0), 6) AS f6
      |  FROM bins GROUP BY media_id)
      |SELECT d.media_id, d.kind, CAST(d.n_bytes AS INT) AS n_bytes,
      |  coalesce(h.feat_sum, 0.0) AS feat_sum,
      |  coalesce(h.f0, 0.0) AS f0, coalesce(h.f6, 0.0) AS f6
      |FROM d LEFT JOIN h USING (media_id) ORDER BY d.media_id""".stripMargin

  /** Frames-per-video accounting shared by q53 and q112 — one
    * definition so the two graded shapes cannot silently diverge from
    * their common oracle arithmetic. */
  private def frameStats(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    sampleFrames(media)
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"), max($"frame_ms").as("last_frame_ms"))
  }

  /** q53: frame sampling — frames per video at 1 fps equivalent. */
  def q53FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    frameStats(mediaTable(s, dir)).orderBy($"media_id")
  }

  /** q112: the deterministic multimodal path, oracle-graded — the
    * media-table derivation (kind cycle, per-kind container metadata:
    * real PPM dims, real WAV duration, video display metadata),
    * container byte length, and the frame-selection arithmetic,
    * restated in DuckDB over `documents`. A regression in the q52/q53
    * shape cannot hide behind a rows-only check. Reference analogue:
    * the nested report type in `agents/output-processor.md:35-61`. */
  def q112MediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one mediaTable instance feeds both branches. The physical plan
    // still scans twice (the branches share no exchange, so Catalyst
    // has nothing to ReusedExchange) — deliberate, same trade as q117:
    // both scans are column-pruned and a second columnar read beats
    // persisting a corpus-sized derived table at 100 TB.
    val mt = mediaTable(s, dir)
    val m = mt.toDF()
    val frames = frameStats(mt)
    m.select($"media_id", $"kind", $"width", $"height", $"sample_rate",
        $"duration_ms", $"format", length($"content").as("n_bytes"))
      .join(frames, Seq("media_id"), "left")
      .select($"media_id", $"kind", $"width", $"height", $"sample_rate",
        $"duration_ms", $"format", $"n_bytes",
        coalesce($"n_frames", lit(0L)).as("n_frames"), $"last_frame_ms")
      .orderBy($"media_id")
  }

  val q112Sql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    n_chars, octet_length(encode(text)) AS n
      |  FROM documents),
      |m AS (
      |  SELECT doc_id AS media_id, kind,
      |    CAST(CASE kind WHEN 'image' THEN n // 3
      |                   WHEN 'audio' THEN 0
      |                   ELSE (doc_id % 640) + 16 END AS INT) AS width,
      |    CAST(CASE kind WHEN 'image' THEN 1
      |                   WHEN 'audio' THEN 0
      |                   ELSE (doc_id % 480) + 16 END AS INT) AS height,
      |    CAST(16000 AS INT) AS sample_rate,
      |    CASE kind WHEN 'audio' THEN ((n // 2) * 1000) // 16000
      |              ELSE n_chars * 40 END AS duration_ms,
      |    CASE kind WHEN 'image' THEN 'ppm/p6'
      |              WHEN 'audio' THEN 'wav/pcm16'
      |              ELSE 'raw/v1' END AS format,
      |    CAST(CASE kind WHEN 'image' THEN 10 + length(CAST(n // 3 AS VARCHAR)) + 3 * (n // 3)
      |                   WHEN 'audio' THEN 44 + 2 * (n // 2)
      |                   ELSE n END AS INT) AS n_bytes
      |  FROM raw),
      |f AS (
      |  SELECT media_id, count(*) AS n_frames, max(frame_ms) AS last_frame_ms
      |  FROM (SELECT media_id,
      |          unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000)) AS frame_ms
      |        FROM m WHERE kind = 'video') t
      |  GROUP BY media_id)
      |SELECT m.media_id, m.kind, m.width, m.height, m.sample_rate,
      |  m.duration_ms, m.format, m.n_bytes,
      |  coalesce(f.n_frames, 0) AS n_frames, f.last_frame_ms
      |FROM m LEFT JOIN f USING (media_id) ORDER BY m.media_id""".stripMargin

  /** q53's own oracle: frame sampling is pure metadata arithmetic
    * (sequence over duration_ms) — directly SQL-expressible. */
  val q53Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    n_chars * 40 AS duration_ms
      |  FROM documents)
      |SELECT media_id, count(*) AS n_frames, max(frame_ms) AS last_frame_ms
      |FROM (SELECT media_id,
      |        unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000)) AS frame_ms
      |      FROM m WHERE kind = 'video') t
      |GROUP BY media_id ORDER BY media_id""".stripMargin

  /** q129: REAL-WORLD raster containers — every image row's decoded PPM
    * payload is re-encoded as PNG (JDK ImageIO, zero new dependencies),
    * decoded back through the magic-sniffing [[MediaCodec.decodeImage]]
    * path, and feature-extracted from the round-tripped pixels. PNG is
    * lossless, so the features must equal the PPM path's bit-for-bit —
    * which keeps this query HASH-GRADED by the same byte-slice
    * arithmetic as q52's image rows rather than rows-only. Nothing
    * codec-version-dependent is emitted (the PNG byte size would depend
    * on the JRE's deflate; the graded columns are pixel facts: parsed
    * width, round-tripped payload length, histogram bins). A dims
    * mismatch after the round trip fails with the media_id — the same
    * quarantine contract as every other malformed-container path. */
  def q129PngRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(_.kind == "image")
      .mapPartitions { it =>
        it.map { r =>
          val src = MediaCodec.decodePpm(r.content)
          val pixels =
            if (src.width == 0) src.pixels
            else {
              val png = MediaCodec.encodePng(src.pixels, src.width, src.height)
              val back = MediaCodec.decodeImage(png)
              if (back.width != src.width || back.height != src.height)
                throw new IllegalStateException(
                  s"media_id=${r.media_id}: PNG round-trip changed dims " +
                    s"${src.width}x${src.height} -> ${back.width}x${back.height}")
              back.pixels
            }
          (r.media_id, src.width, pixels.length, MediaCodec.histogram(pixels).toSeq)
        }
      }
      .toDF("media_id", "px_w", "payload_len", "features")
      .select($"media_id", $"px_w", $"payload_len",
        round(aggregate($"features", lit(0.0), (a, x) => a + x), 6).as("feat_sum"),
        round(element_at($"features", 7), 6).as("f6"))
      .orderBy($"media_id")
  }

  /** q129 oracle: image rows of the q52 arithmetic — the PNG round trip
    * is lossless, so pixel facts restate as the same text-byte slices.
    * px_w grades the parsed PPM header, payload_len the round-tripped
    * pixel count, feat_sum/f6 the decoded content. */
  val q129Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS n
      |  FROM documents WHERE doc_id % 3 = 0),
      |d AS (SELECT media_id, hx, CAST(n // 3 AS INT) AS px_w,
      |             CAST(3 * (n // 3) AS INT) AS payload_len FROM m),
      |pos AS (SELECT media_id, hx, payload_len,
      |          unnest(generate_series(1, payload_len)) AS i FROM d),
      |bins AS (
      |  SELECT media_id, bin, CAST(count(*) AS DOUBLE) / any_value(payload_len) AS v
      |  FROM (SELECT media_id,
      |          ('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2))::INT // 16 AS bin,
      |          payload_len
      |        FROM pos) b
      |  GROUP BY media_id, bin),
      |h AS (
      |  SELECT media_id,
      |    round(list_sum(list(v ORDER BY bin)), 6) AS feat_sum,
      |    round(coalesce(max(CASE WHEN bin = 6 THEN v END), 0.0), 6) AS f6
      |  FROM bins GROUP BY media_id)
      |SELECT d.media_id, d.px_w, d.payload_len,
      |  coalesce(h.feat_sum, 0.0) AS feat_sum, coalesce(h.f6, 0.0) AS f6
      |FROM d LEFT JOIN h USING (media_id) ORDER BY d.media_id""".stripMargin

  /** q131: the LOSSY real-world container — every image row's decoded
    * PPM payload is re-encoded as baseline JPEG (JDK ImageIO, pinned
    * quality 0.75), decoded back through the magic-sniffing
    * [[MediaCodec.decodeImage]] path, and graded by what survives a
    * lossy round trip: parsed dimensions and payload length EXACTLY
    * (JPEG preserves geometry bit-for-bit), decoded content by a
    * bounded mean-absolute-error check (`lossy_ok`) — measured max MAE
    * on this corpus's ASCII-byte images is ~21 at the pinned 0.75
    * quality (MultimodalSpec runs the query end-to-end and asserts
    * every row in band), so the 32 threshold has real headroom while
    * still failing loudly on garbage output or an all-zero decode
    * (MAE 60+ on these images). Hash-graded: the oracle
    * restates the exact columns and `true` for every row. A dims
    * mismatch after the round trip fails with the media_id — the same
    * quarantine contract as every other malformed-container path
    * (q129's PNG twin grades the lossless path by full pixel facts). */
  def q131JpegRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(_.kind == "image")
      .map { r =>
        val src = MediaCodec.decodePpm(r.content)
        if (src.width == 0) (r.media_id, 0, 0, 0, true)
        else {
          val jpg = MediaCodec.encodeJpeg(src.pixels, src.width, src.height)
          val back = MediaCodec.decodeImage(jpg)
          if (back.width != src.width || back.height != src.height)
            throw new IllegalStateException(
              s"media_id=${r.media_id}: JPEG round-trip changed dims " +
                s"${src.width}x${src.height} -> ${back.width}x${back.height}")
          val n = src.pixels.length
          var sum = 0L
          var i = 0
          while (i < n) {
            sum += math.abs((src.pixels(i) & 0xFF) - (back.pixels(i) & 0xFF))
            i += 1
          }
          (r.media_id, src.width, src.height, back.pixels.length,
            sum.toDouble / n <= 32.0)
        }
      }
      .toDF("media_id", "px_w", "px_h", "payload_len", "lossy_ok")
      .orderBy($"media_id")
  }

  /** q131 oracle: geometry from the same text-byte arithmetic as q129
    * (the PPM width is n//3, height 1, payload 3·(n//3)); `lossy_ok`
    * is TRUE for every row — the Spark side EARNS that constant by
    * actually decoding and bounding the error, the oracle states the
    * contract. */
  val q131Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT media_id,
      |  CAST(n // 3 AS INT) AS px_w,
      |  CAST(CASE WHEN n // 3 = 0 THEN 0 ELSE 1 END AS INT) AS px_h,
      |  CAST(CASE WHEN n // 3 = 0 THEN 0 ELSE 3 * (n // 3) END AS INT) AS payload_len,
      |  TRUE AS lossy_ok
      |FROM m ORDER BY media_id""".stripMargin

  /** q203: audio FRAME ENERGY — the first PAYLOAD-level audio feature
    * (q112 graded audio metadata; this grades the samples): each WAV
    * row's PCM16 stream framed into 64-sample (4 ms @ 16 kHz)
    * windows, per-frame RMS, rolled up per clip to n_frames, the peak
    * frame (ties to the earliest), its RMS, and the mean frame RMS.
    * The VAD/loudness front-end of an audio curation pipeline.
    *
    * Grading is the q52 cross-path: the Spark side decodes the REAL
    * RIFF container (chunk walk, LE int16 reassembly with sign
    * extension); the oracle restates the samples from the document
    * text's char codes (payload = text bytes; the corpus is pure
    * ASCII, asserted by octet_length = length in q131's family). RMS
    * values are graded UNROUNDED: integer Σs², one exact int→double
    * cast, division by 64.0 (a power of two — exact scaling) and one
    * correctly-rounded IEEE sqrt give bit-identical doubles in both
    * engines — and round() itself is what DIVERGES cross-engine at
    * representation boundaries (Spark rounds the shortest decimal
    * repr, DuckDB the scaled binary; a 4-dp round of these values
    * hash-failed by one ulp, found by the gate). The clip-level RMS
    * comes from the exact Σss rather than a mean of per-frame values,
    * so no double accumulation exists anywhere. */
  def q203AudioRms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = mediaTable(s, dir)
      .filter(_.kind == "audio")
      .flatMap { r =>
        val data = MediaCodec.decodeWav(r.content).data
        val n = data.length / 2
        val nf = n / 64
        (0 until nf).map { f =>
          var ss = 0L
          var i = f * 64
          while (i < (f + 1) * 64) {
            val lo = data(2 * i) & 0xFF
            val sm = (data(2 * i + 1).toInt << 8) | lo // sign-extending hi byte
            ss += sm.toLong * sm
            i += 1
          }
          (r.media_id, n.toLong, nf.toLong, f, ss)
        }
      }
      .toDF("media_id", "n_samples", "n_frames", "f", "ss")
      .withColumn("rms", sqrt($"ss".cast("double") / 64.0))
    frames.groupBy($"media_id")
      .agg(max($"n_samples").as("n_samples"),
        max($"n_frames").as("n_frames"),
        max(struct($"rms", (-$"f").as("nf"))).as("pk"),
        sum($"ss").as("sum_ss"))
      .select($"media_id", $"n_samples", $"n_frames",
        $"pk.rms".as("peak_rms"), (-$"pk.nf").cast("int").as("peak_frame"),
        sqrt($"sum_ss".cast("double") / ($"n_frames" * 64.0).cast("double"))
          .as("clip_rms"))
      .orderBy($"media_id")
  }

  val q203Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, text,
      |    length(text) // 2 AS n_samples,
      |    (length(text) // 2) // 64 AS n_frames
      |  FROM documents WHERE doc_id % 3 = 1),
      |fr AS (SELECT * FROM a WHERE n_frames >= 1),
      |smp AS (
      |  SELECT media_id, n_samples, n_frames, i // 64 AS f,
      |    ascii(substr(text, 2 * i + 1, 1))
      |      + 256 * ascii(substr(text, 2 * i + 2, 1)) AS s0
      |  FROM (SELECT media_id, text, n_samples, n_frames,
      |          unnest(generate_series(0, n_frames * 64 - 1)) AS i
      |        FROM fr) t),
      |sg AS (SELECT media_id, n_samples, n_frames, f,
      |         CASE WHEN s0 >= 32768 THEN s0 - 65536 ELSE s0 END AS s
      |       FROM smp),
      |fr2 AS (
      |  SELECT media_id, n_samples, n_frames, f,
      |    sqrt(CAST(sum(s * s) AS DOUBLE) / 64.0) AS rms,
      |    CAST(sum(s * s) AS BIGINT) AS ss
      |  FROM sg GROUP BY 1, 2, 3, 4),
      |pk AS (SELECT media_id, max(rms) AS peak FROM fr2 GROUP BY 1)
      |SELECT f.media_id,
      |  CAST(max(f.n_samples) AS BIGINT) AS n_samples,
      |  CAST(max(f.n_frames) AS BIGINT) AS n_frames,
      |  max(pk.peak) AS peak_rms,
      |  CAST(min(CASE WHEN f.rms = pk.peak THEN f.f END) AS INT) AS peak_frame,
      |  sqrt(CAST(sum(f.ss) AS DOUBLE)
      |       / CAST(max(f.n_frames) * 64.0 AS DOUBLE)) AS clip_rms
      |FROM fr2 f JOIN pk USING (media_id)
      |GROUP BY f.media_id ORDER BY media_id""".stripMargin

  /** q241: PERCEPTUAL-HASH MEDIA DEDUP — the missing member of the
    * dedup × multimodal matrix (VERDICT r14 item 3): a real curation
    * pipeline dedups scraped images BEFORE any text stage, and the
    * text family (exact/MinHash/SimHash/substring) plus the embedding
    * family (cosine/SemDeDup) covered everything EXCEPT raw media.
    * dHash (public: the difference-hash of the pHash family —
    * gradient-sign bits over downsampled luminance; robust to
    * re-encoding and small shifts, unlike cryptographic hashes of the
    * container bytes) over DECODED pixels, through the REAL container
    * path: decode the PPM, re-encode as PNG, decode back through the
    * magic-sniffing [[MediaCodec.decodeImage]] (q129's lossless
    * roundtrip — the hash is computed on pixels that survived a real
    * compressed container, so a byte-level container change cannot
    * change the hash). Candidates band on the four 16-bit hash chunks
    * (q109's SimHash chunk machinery: agree on ≥1 chunk ⇒ candidate,
    * buckets wider than `Dedup.MaxBucketWidth` dropped — the same
    * boilerplate-skew cap), verified by Hamming ≤ 6 (q109's radius).
    *
    * Fully HASH-GRADED with no fixture: the pixel strip is the
    * document's text bytes and the resample/grayscale arithmetic is
    * exact integers, so the oracle restates the ENTIRE hash from
    * `hex(encode(text))` byte slices (q52's discipline) — geometry
    * exact, banding and Hamming verify replayed in SQL. 100 TB shape:
    * hashing is one narrow mapPartitions scan (64-bit signature per
    * image — pixels never shuffle), candidate generation is a
    * band-equality join, verification is candidate-proportional; the
    * exact shape of the text dedup family, applied to media.
    *
    * The GRADED form is per-IMAGE, not per-pair: this synthetic corpus
    * happens to carry no true image near-dups (measured: 8 band
    * candidates at sf0.01, min Hamming 17), so a pair-list result
    * would be empty and grade nothing. Emitting every image's complete
    * four-chunk signature plus its banding stats (band-mate count, min
    * Hamming among mates, the ≤6 near-dup verdict) grades ALL 64 hash
    * bits of ALL images, the band join, the cap, and the Hamming
    * arithmetic — strictly more than the pair list, on rows that
    * exist. The pair emission itself is [[phashDupsFrom]], the
    * production operator, whose positive path MultimodalSpec pins on
    * constructed images: re-encoded and 1-px-shifted copies of a
    * smooth gradient band together at Hamming ≈ 0; an unrelated image
    * does not. */
  def q241PhashDups(s: SparkSession, dir: String): DataFrame =
    chunkStats(phashSigs(mediaTable(s, dir))
      // EAGER cut (optimization r19, q260's pattern): a lazy persist
      // races both chunk-join sides into re-decoding the corpus
      .transform(graft.Ckpt.cut)) // read twice: both chunk-join sides

  /** Shared per-signature band rollup — the graded form of q241, q249
    * AND q257: every id's complete four-chunk signature plus its
    * banding stats (band-mate count, min Hamming among mates, the ≤6
    * near-dup verdict). `sigs` = (media_id, v0..v3), already persisted
    * by the caller (read twice: both chunk-join sides + the join
    * back). `groupOf` maps an id to its conflict group — identity for
    * the image/audio members (every signature is its own clip), the
    * fid→clip unpack for video, where same-CLIP frame pairs must not
    * count as duplicate candidates. */
  private def chunkStats(sigs: DataFrame,
      groupOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    // cut: BOTH band-join sides scan it, and since r17 it carries the
    // widths pre-aggregate + broadcast (counting its drops) — one
    // evaluation, not two
    val chunked = phashChunked(sigs).transform(graft.Ckpt.cut) // EAGER (r19)
    val a = chunked.select($"media_id".as("id1"), $"v0".as("x0"), $"v1".as("x1"),
      $"v2".as("x2"), $"v3".as("x3"), $"c", $"v")
    val b = chunked.select($"media_id".as("id2"), $"v0".as("y0"), $"v1".as("y1"),
      $"v2".as("y2"), $"v3".as("y3"), $"c".as("c2"), $"v".as("v2j"))
    val stats = a.join(b,
        $"c" === $"c2" && $"v" === $"v2j" && groupOf($"id1") =!= groupOf($"id2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming",
        (bit_count($"x0".bitwiseXOR($"y0")) + bit_count($"x1".bitwiseXOR($"y1")) +
         bit_count($"x2".bitwiseXOR($"y2")) + bit_count($"x3".bitwiseXOR($"y3")))
          .cast("int"))
      .groupBy($"id1")
      .agg(count(lit(1)).as("n_cands"), min($"hamming").as("min_hamming"))
    sigs.join(stats, sigs("media_id") === stats("id1"), "left")
      .select($"media_id", $"v0", $"v1", $"v2", $"v3",
        coalesce($"n_cands", lit(0L)).as("n_cands"), $"min_hamming",
        coalesce($"min_hamming" <= 6, lit(false)).as("near_dup"))
      .orderBy($"media_id")
  }

  /** The perceptual signature table: one row per decodable image,
    * four 16-bit dHash chunks, hashed THROUGH the real-container path
    * (PPM → PNG → decode → pixels). */
  def phashSigs(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .filter(_.kind == "image")
      .mapPartitions { it =>
        it.flatMap { r =>
          val src = MediaCodec.decodePpm(r.content)
          if (src.width == 0) None
          else {
            val png = MediaCodec.encodePng(src.pixels, src.width, src.height)
            val back = MediaCodec.decodeImage(png)
            if (back.width != src.width || back.height != src.height)
              throw new IllegalStateException(
                s"media_id=${r.media_id}: PNG round-trip changed dims " +
                  s"${src.width}x${src.height} -> ${back.width}x${back.height}")
            val ch = MediaCodec.dhashChunks(back.pixels, back.width)
            Some((r.media_id, ch(0), ch(1), ch(2), ch(3)))
          }
        }
      }
      .toDF("media_id", "v0", "v1", "v2", "v3")
  }

  /** Chunk-exploded signatures with the over-wide buckets dropped AND
    * counted (`graft_media_band_drops` — the no-silent-caps rule now
    * holds on the batch media band stages too, r17; previously only
    * the ingest sides counted): q109's band/cap stage on the
    * perceptual signature table, shared by q241/q249/q257. Widths come
    * from a GROUP BY pre-aggregate broadcast back to the chunk table —
    * one row per (c, v) bucket (≤ 4·65536), map-side partial, no
    * window sort at all (the first counted form rode a row_number
    * window and cost q241 2.4× at the r17 gate; this is cheaper than
    * even the original count-window cap), with the drop metrics
    * observed directly on the per-bucket width rows. */
  private def phashChunked(sigs: DataFrame): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    DropMetrics.ensureListener(s)
    val max = Dedup.MaxBucketWidth
    val chunks = sigs.withColumn("cc", explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), col(s"v$c").as("v"))): _*)))
      .select($"media_id", $"v0", $"v1", $"v2", $"v3", $"cc.c", $"cc.v")
    val widths = chunks.groupBy($"c", $"v").agg(count(lit(1)).as("w"))
      .observe("graft_media_band_drops",
        sum(when($"w" > max, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when($"w" > max, $"w").otherwise(0L)).as("dropped_rows"),
        shiftright(sum(when($"w" > max, $"w" * ($"w" - 1L)).otherwise(0L)), 1)
          .as("dropped_pairs"))
    chunks.join(broadcast(widths.filter($"w" <= max).select($"c", $"v")),
      Seq("c", "v"))
  }

  /** The over-wide-bucket skew cap on a chunk table carrying (c, v)
    * band-key columns — ONE definition of the `Dedup.MaxBucketWidth`
    * discipline, shared by the batch band stages here and the
    * streaming perceptual ingest (CODE-REVIEW r16: previously a third
    * hand-rolled copy lived in Streams). */
  private[graft] def capChunks(df: DataFrame): DataFrame =
    df.withColumn("w", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("c"), col("v"))))
      .filter(col("w") <= Dedup.MaxBucketWidth).drop("w")

  /** [[capChunks]] with the drop COUNTED (VERDICT r16 item 5 / ADVICE
    * r16: no silent caps at ingest): the same widths pass additionally
    * carries a named `observe` in the q47/q155 schema —
    * `dropped_buckets` (over-wide (c, v) buckets), `dropped_rows`
    * (chunk rows in them; a signature in k over-wide buckets counts k
    * times), `dropped_pairs` (Σ w·(w−1)/2, the suppressed candidate
    * mass). The rn=1 trick marks one representative row per bucket so
    * bucket counts come out of per-row accounting (CollectMetrics
    * forbids DISTINCT aggregates); the ordered window rides the same
    * (c, v) shuffle the width count already pays for. */
  private[graft] def capChunksCounted(df: DataFrame, metric: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    DropMetrics.ensureListener(df.sparkSession)
    val max = Dedup.MaxBucketWidth
    df.withColumn("w", count(lit(1)).over(Window.partitionBy(col("c"), col("v"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c"), col("v")).orderBy(col("media_id"))))
      .observe(metric,
        sum(when(col("w") > max && col("rn") === 1, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(col("w") > max, 1L).otherwise(0L)).as("dropped_rows"),
        shiftright(sum(when(col("w") > max, col("w") - 1L).otherwise(0L)), 1)
          .as("dropped_pairs"))
      .filter(col("w") <= max).drop("w", "rn")
  }

  /** q241's production PAIR operator — band-agreeing images verified
    * at Hamming ≤ `radius` (q109's shape; split out so MultimodalSpec
    * can pin shift/re-encode robustness on constructed strips). */
  def phashDupsFrom(media: Dataset[MediaRow], radius: Int = 6): DataFrame =
    chunkPairs(phashSigs(media).transform(graft.Ckpt.cut), radius)

  /** Shared band-agreeing pair emission — the production operator
    * behind [[phashDupsFrom]] (images), [[audioDupsFrom]] (audio) and
    * [[videoDupsFrom]] (per-frame, rolled up per clip): ≥1 chunk
    * agreement ⇒ candidate, verified at Hamming ≤ radius. `groupOf`
    * as in [[chunkStats]] — pairs within one conflict group are never
    * emitted. */
  private def chunkPairs(sigs: DataFrame, radius: Int,
      groupOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val chunked = phashChunked(sigs).transform(graft.Ckpt.cut) // both join sides; EAGER (r19)
    val a = chunked.select($"media_id".as("id1"), $"v0".as("x0"), $"v1".as("x1"),
      $"v2".as("x2"), $"v3".as("x3"), $"c", $"v")
    val b = chunked.select($"media_id".as("id2"), $"v0".as("y0"), $"v1".as("y1"),
      $"v2".as("y2"), $"v3".as("y3"), $"c".as("c2"), $"v".as("v2j"))
    a.join(b, $"c" === $"c2" && $"v" === $"v2j" && $"id1" < $"id2" &&
        groupOf($"id1") =!= groupOf($"id2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming",
        (bit_count($"x0".bitwiseXOR($"y0")) + bit_count($"x1".bitwiseXOR($"y1")) +
         bit_count($"x2".bitwiseXOR($"y2")) + bit_count($"x3".bitwiseXOR($"y3")))
          .cast("int"))
      .filter($"hamming" <= radius)
      .select($"id1", $"id2", $"hamming")
      .orderBy($"id1", $"id2")
  }

  /** q249: AUDIO PERCEPTUAL DEDUP — completes the dedup × media matrix
    * (VERDICT r15 item 2): q241 covered images; a scraped-audio
    * pipeline dedups clips the same way. The fingerprint is
    * [[MediaCodec.audioFpChunks]] — gradient signs of the per-frame
    * energy envelope (q203's 64-sample frames, exact integer Σ s²,
    * nearest-neighbor resample to 65 anchors), through the REAL
    * container path (RIFF chunk-list walk, LE int16 reassembly).
    * Time-shifted and re-encoded copies band together; distinct clips
    * don't (MultimodalSpec pins both on constructed envelopes).
    * Candidates band on the four 16-bit chunks with the
    * `Dedup.MaxBucketWidth` skew cap, verified at Hamming ≤ 6 —
    * bit-for-bit q241's machinery on the audio signature table.
    *
    * Fully HASH-GRADED with no fixture, q241's discipline: PCM samples
    * are the document text's char codes (q203's oracle front end), the
    * frame energies / anchor resample / gradient bits are exact
    * integers, so the oracle restates the ENTIRE fingerprint in SQL
    * and replays banding, cap, and Hamming verify. Graded per-CLIP
    * (full signature + band stats — this corpus carries no true audio
    * near-dups, so a pair list would grade empty); the pair emission
    * is [[audioDupsFrom]]. 100 TB shape: fingerprinting is one narrow
    * mapPartitions scan (8 bytes per clip — samples never shuffle),
    * candidates are a band-equality join, verification is
    * candidate-proportional. */
  def q249AudioFpDups(s: SparkSession, dir: String): DataFrame =
    chunkStats(audioSigs(mediaTable(s, dir)).transform(graft.Ckpt.cut))

  /** q249's production PAIR operator — band-agreeing clips verified at
    * Hamming ≤ `radius`. */
  def audioDupsFrom(media: Dataset[MediaRow], radius: Int = 6): DataFrame =
    chunkPairs(audioSigs(media).transform(graft.Ckpt.cut), radius)

  /** The audio perceptual signature table: one row per audio clip with
    * ≥ 1 full frame, four 16-bit energy-envelope chunks, fingerprinted
    * THROUGH the real RIFF container walk. */
  def audioSigs(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .filter(_.kind == "audio")
      .mapPartitions { it =>
        it.flatMap { r =>
          val data = MediaCodec.decodeWav(r.content).data
          if (data.length / 2 / 64 == 0) None
          else {
            val ch = MediaCodec.audioFpChunks(data)
            Some((r.media_id, ch(0), ch(1), ch(2), ch(3)))
          }
        }
      }
      .toDF("media_id", "v0", "v1", "v2", "v3")
  }

  /** Frame-id packing for the video signature table: fid =
    * (clip_id << 20) | frame_index, so the per-frame table rides every
    * (media_id, v0..v3) consumer — the shared band machinery here and
    * the perceptualIngest knob — unchanged, while the clip id stays
    * one shift away for conflict grouping. 2^20 frames ≈ 12 days of
    * 1 fps video per clip; [[videoSigs]] asserts the bound. */
  val FrameIdBits = 20

  /** A REAL-container video table derived from the documents corpus —
    * the video modality PROMOTED from [[mediaTable]]'s `raw/v1` rows
    * (whose operators are metadata arithmetic) to genuine YUV4MPEG2
    * containers a stock Y4M reader accepts: per video-kind document
    * (doc_id % 3 = 2, the mediaTable cycle), the text bytes cut into
    * 64×1 mono frames (frame f = bytes [64f, 64f+64)) at F1:1 — 1 fps,
    * so q53's 1000 ms sampling grid selects EVERY frame and the
    * per-sampled-frame signature table is the whole clip. Clips
    * shorter than one frame are absent (the audio ≥1-frame rule).
    * Deterministic text-byte payloads keep q257 DIRECTLY hash-graded
    * (q52's discipline): the oracle rebuilds frame slices without
    * hex-decoding containers. */
  def videoTable(s: SparkSession, dir: String): Dataset[MediaRow] =
    videoTableFrom(Tables.documents(s, dir))

  /** [[videoTable]] on an arbitrary (doc_id, text) frame. The payload
    * slicing is BYTE-wise while the q257/q263 oracles slice CHARACTERS
    * (`substr`/`ascii`) and derive the frame count from
    * `length(text)` — identical only on ASCII text, so the assumption
    * is ENFORCED at encode time (ADVICE r17): a corpus change that
    * introduces non-ASCII text fails loudly here instead of failing
    * the hash grade mysteriously. */
  private[graft] def videoTableFrom(docs: DataFrame): Dataset[MediaRow] = {
    val s = docs.sparkSession
    import s.implicits._
    val W = 64
    docs
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (id % 3 != 2) None
        else {
          val bytes =
            if (text == null) Array.emptyByteArray
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (text != null && bytes.length != text.length)
            throw new IllegalArgumentException(
              s"videoTable: non-ASCII document text (doc_id=$id): " +
                s"${bytes.length} UTF-8 bytes != ${text.length} chars — " +
                "the oracle slices characters, the engine slices bytes")
          val nf = bytes.length / W
          if (nf == 0) None
          else {
            val frames = (0 until nf).map(f =>
              java.util.Arrays.copyOfRange(bytes, W * f, W * f + W))
            Some(MediaRow(id, "video",
              MediaCodec.encodeY4m(frames, W, 1), W, 1,
              16000, nf * 1000L, "y4m/mono"))
          }
        }
      }
  }

  /** The video per-frame perceptual signature table: one row per
    * sampled frame of each decodable clip, four 16-bit chunks from
    * [[MediaCodec.videoFpChunks]], fingerprinted THROUGH the real Y4M
    * walk (stream-header grammar, FRAME marker lines, mono planes) —
    * one narrow mapPartitions scan; 8 bytes per frame shuffle, planes
    * never move. */
  def videoFrameSigs(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .filter(_.kind == "video")
      .mapPartitions { it =>
        it.flatMap { r =>
          val clip = MediaCodec.decodeY4m(r.content)
          clip.frames.iterator.zipWithIndex.map { case (frame, f) =>
            val ch = MediaCodec.videoFpChunks(frame, clip.width, clip.height)
            (r.media_id, f, ch(0), ch(1), ch(2), ch(3))
          }
        }
      }
      .toDF("media_id", "f", "v0", "v1", "v2", "v3")
  }

  /** [[videoFrameSigs]] in the shared (media_id, v0..v3) signature
    * schema via fid packing — the form the band machinery and the
    * `perceptualIngest` fingerprint knob consume. A trimmed or
    * re-encoded copy of an ingested clip contributes ZERO novel
    * frames (every kept frame's signature near-dups the store);
    * a distinct clip's frames all ingest. */
  def videoSigs(media: Dataset[MediaRow]): DataFrame =
    fidPacked(videoFrameSigs(media))

  /** (media_id, f, v0..v3) → the shared fid-packed signature schema —
    * ONE definition of the packing (and its overflow guard) for the
    * video and audio per-frame tables. */
  private def fidPacked(frameSigs: DataFrame): DataFrame = {
    val s = frameSigs.sparkSession
    import s.implicits._
    frameSigs
      .select((shiftleft($"media_id", FrameIdBits) +
        when($"f" < (1 << FrameIdBits), $"f")
          .otherwise(raise_error(concat(lit("fidPacked: frame index overflows fid packing: "),
            $"f".cast("string"))))).as("media_id"),
        $"v0", $"v1", $"v2", $"v3")
  }

  /** q257: VIDEO PERCEPTUAL DEDUP — the LAST empty cell of the
    * dedup × media matrix (VERDICT r16 item 1): q241 covered images,
    * q249 audio; a scraped-video pipeline dedups clips by
    * per-sampled-frame perceptual signature. Frames come through the
    * REAL container path ([[videoTable]]'s YUV4MPEG2 encode →
    * [[MediaCodec.decodeY4m]]'s full grammar walk), each sampled frame
    * fingerprinted by [[MediaCodec.videoFpChunks]] (column-luminance
    * gradient signs — dHash's idea per frame, exact integers
    * throughout), then q241's band/cap/Hamming machinery VERBATIM on
    * the fid-packed signature table — with one video-specific rule:
    * same-CLIP frame pairs are not duplicate candidates (`groupOf`
    * unpacks the clip id), because clip self-similarity is not
    * inter-clip duplication.
    *
    * Graded per-FRAME (the per-clip discipline of q241/q249 at the
    * clip's own granularity): every sampled frame's complete
    * four-chunk signature plus its cross-clip banding stats — which
    * grades all 64 bits of every frame of every clip, the band join,
    * the cap, and the Hamming arithmetic on rows that exist. The
    * clip-level pair emission is [[videoDupsFrom]], pinned in
    * MultimodalSpec on constructed clips (trimmed and re-encoded
    * copies band together at Hamming 0; distinct clips isolate).
    * Fully HASH-GRADED with no fixture: frame pixels are text-byte
    * slices, so the oracle restates the ENTIRE per-frame fingerprint
    * and replays banding, cap, and the rollup. 100 TB shape:
    * fingerprinting is one narrow scan (8 bytes per sampled frame —
    * planes never shuffle), candidates are a band-equality join with
    * the `Dedup.MaxBucketWidth` skew cap, verification is
    * candidate-proportional — the q247/q248 hash-keyed discipline,
    * already in long-key space by construction. */
  def q257VideoFpDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mask = (1L << FrameIdBits) - 1
    chunkStats(cachedVideoSigs(s, dir),
        groupOf = shiftright(_, FrameIdBits))
      .select(shiftright($"media_id", FrameIdBits).as("media_id"),
        $"media_id".bitwiseAND(mask).cast("int").as("f"),
        $"v0", $"v1", $"v2", $"v3", $"n_cands", $"min_hamming", $"near_dup")
      .orderBy($"media_id", $"f")
  }

  /** q257's production CLIP-level pair operator: band-agreeing frame
    * pairs across distinct clips verified at Hamming ≤ `radius`,
    * rolled up per clip pair — matched-frame count and the closest
    * frame distance. The caller thresholds n_frames_matched for its
    * corpus (a trimmed copy matches every kept frame; incidental
    * single-frame collisions match one). */
  def videoDupsFrom(media: Dataset[MediaRow], radius: Int = 6): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    chunkPairs(videoSigs(media).transform(graft.Ckpt.cut), radius,
        groupOf = shiftright(_, FrameIdBits))
      .groupBy(shiftright($"id1", FrameIdBits).as("id1"),
        shiftright($"id2", FrameIdBits).as("id2"))
      .agg(count(lit(1)).as("n_frames_matched"), min($"hamming").as("min_hamming"))
      .orderBy($"id1", $"id2")
  }

  /** q263: TEMPORAL ALIGNMENT in video dedup (VERDICT r17 item 2) —
    * [[videoDupsFrom]]'s rollup is ORDERLESS, so a clip whose frames
    * match another's in a different order (a shuffled montage) scores
    * the same as a true sub-clip. Real video dedup checks alignment,
    * and the evidence is already computed: over the SAME band-verified
    * frame pairs (no new candidate generation), per clip pair emit
    *  - the MODAL OFFSET: the (f2 − f1) with the most verified pairs
    *    (tie → smallest offset) and its support `n_at_offset`;
    *  - the LONGEST CONSISTENT RUN: the longest streak of consecutive
    *    f1 frames matching at that one offset (gaps-and-islands over
    *    f1 − row_number) — a trimmed copy runs its whole kept length
    *    at a single offset, a shuffled montage matches many frames but
    *    never runs;
    * plus the orderless rollup (pair count, distinct matched frames,
    * closest distance) for comparison. All exact integers, restated
    * verbatim from the same frame keys by the oracle. 100 TB shape:
    * everything after the (already capped) band join is
    * pair-proportional — two narrow aggregations and one window over
    * (clip1, clip2)-partitioned data, keys 8 bytes. */
  def q263VideoAlign(s: SparkSession, dir: String): DataFrame =
    videoAlignFromSigs(cachedVideoSigs(s, dir))

  /** Cross-query memo of the corpus's per-frame signature table — the
    * r18 form of the BPE-artifact discipline: the Y4M decode +
    * fingerprint scan is the expensive narrow pass, and TWO registered
    * queries consume its 8-byte-per-frame output (q257 dedup, q263
    * alignment). A production pipeline computes the signature table
    * once and runs every downstream consumer off it; the memo is that
    * artifact (an eager cut that lives as long as its entry). */
  private val videoSigsCache =
    new graft.SessionCache[DataFrame]("video_sigs")

  private def cachedVideoSigs(s: SparkSession, dir: String): DataFrame =
    videoSigsCache.getOrElseUpdate(s, dir,
      graft.Ckpt.cut(videoSigs(videoTable(s, dir))))

  /** q263's production operator on an arbitrary media table — pinned
    * in MultimodalSpec: a trimmed copy aligns (max_run = kept length
    * at one offset); a frame-shuffled montage of the same source
    * matches as many frames but cannot run. */
  def videoAlignFrom(media: Dataset[MediaRow], radius: Int = 6): DataFrame =
    videoAlignFromSigs(videoSigs(media).transform(graft.Ckpt.cut), radius)

  private def videoAlignFromSigs(sigs: DataFrame, radius: Int = 6): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val mask = (1L << FrameIdBits) - 1
    val pairs = chunkPairs(sigs, radius,
        groupOf = shiftright(_, FrameIdBits))
      .select(shiftright($"id1", FrameIdBits).as("id1"),
        $"id1".bitwiseAND(mask).cast("int").as("f1"),
        shiftright($"id2", FrameIdBits).as("id2"),
        $"id2".bitwiseAND(mask).cast("int").as("f2"),
        $"hamming")
      .withColumn("off", $"f2" - $"f1")
    alignRollup(pairs)
  }

  /** The three alignment rollups (orderless, modal offset,
    * gaps-and-islands run) over a verified frame-pair table
    * (id1, f1, id2, f2, hamming, off) at CLIP granularity — shared by
    * the batch path (q263) and the incremental path (q271); the
    * restriction to a pair subset commutes with every rollup because
    * each groups strictly by (id1, id2). */
  private def alignRollup(pairsIn: DataFrame): DataFrame = {
    val s = pairsIn.sparkSession
    import s.implicits._
    val pairs = pairsIn
      // EAGER cut (r19): three concurrent consumers raced the lazy cache
      .transform(graft.Ckpt.cut) // rollup, offset census, run scan
    val roll = pairs.groupBy($"id1", $"id2")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"f1").as("n_frames_matched"),
        min($"hamming").as("min_hamming"))
    val sup = pairs.groupBy($"id1", $"id2", $"off")
      .agg(count(lit(1)).as("n_off"))
    val wm = Window.partitionBy($"id1", $"id2")
      .orderBy($"n_off".desc, $"off".asc)
    val modal = sup.withColumn("rn", row_number().over(wm)).filter($"rn" === 1)
      .select($"id1", $"id2", $"off".as("modal_off"), $"n_off".as("n_at_offset"))
    // distinct f1 at the modal offset; islands via f1 - row_number
    val am = pairs.select($"id1", $"id2", $"off", $"f1").distinct()
      .join(modal.select($"id1", $"id2", $"modal_off"), Seq("id1", "id2"))
      .filter($"off" === $"modal_off")
    val wr = Window.partitionBy($"id1", $"id2").orderBy($"f1")
    val runs = am.withColumn("grp", $"f1" - row_number().over(wr))
      .groupBy($"id1", $"id2", $"grp").agg(count(lit(1)).as("rl"))
      .groupBy($"id1", $"id2").agg(max($"rl").as("max_run"))
    roll.join(modal, Seq("id1", "id2")).join(runs, Seq("id1", "id2"))
      .select($"id1", $"id2", $"n_pairs", $"n_frames_matched", $"min_hamming",
        $"modal_off", $"n_at_offset", $"max_run")
      .orderBy($"id1", $"id2")
  }

  /** q271: INCREMENTAL video alignment (VERDICT r18 item 4) — q263 is
    * batch-only; a production ingest aligns each NEWLY ingested clip
    * against the store without re-verifying store×store pairs (the
    * q134/q233 incremental discipline applied to alignment; the
    * videoSigs store is already the store-side artifact). The
    * registered split is deterministic: even clips are the store, odd
    * clips the arriving batch. Graded by the q134 shape — the oracle
    * replays the FULL batch alignment on the union and restricts to
    * pairs involving a new clip, so the hash grade itself proves
    * increment ≡ batch-recompute-on-union every run (restriction
    * commutes with the rollups: all three group by (id1, id2)).
    *
    * 100 TB shape: the band census runs over the union (cap widths
    * must match batch semantics — the store's band-occupancy table is
    * the artifact a real ingest maintains incrementally), but the
    * candidate JOIN's left side is the NEW batch's chunks only —
    * work ∝ batch × band-collision mass, never store×store. */
  def q271VideoAlignIncrement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = cachedVideoSigs(s, dir)
    def clipOf(c: org.apache.spark.sql.Column) = shiftright(c, FrameIdBits)
    alignIncrementFrom(
      sigs.filter(pmod(clipOf(col("media_id")), lit(2)) === 0),
      sigs.filter(pmod(clipOf(col("media_id")), lit(2)) === 1))
  }

  /** The increment operator on arbitrary store/batch signature tables
    * — pinned in MultimodalSpec (increment ≡ batch-on-union restricted
    * to new-involved pairs) and driven through the streaming ingest's
    * `fingerprint` knob in StreamingSpec. */
  def alignIncrementFrom(store: DataFrame, fresh: DataFrame,
                              radius: Int = 6): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    val mask = (1L << FrameIdBits) - 1
    val chunked = phashChunked(store.unionByName(fresh)).transform(graft.Ckpt.cut) // EAGER (r19)
    val newClips = fresh
      .select(shiftright($"media_id", FrameIdBits).as("nid")).distinct()
    val nc = chunked.join(broadcast(newClips),
        shiftright($"media_id", FrameIdBits) === $"nid").drop("nid")
    val a = nc.select($"media_id".as("ida"), $"v0".as("x0"), $"v1".as("x1"),
      $"v2".as("x2"), $"v3".as("x3"), $"c", $"v")
    val b = chunked.select($"media_id".as("idb"), $"v0".as("y0"),
      $"v1".as("y1"), $"v2".as("y2"), $"v3".as("y3"),
      $"c".as("c2"), $"v".as("v2j"))
    // hamming is symmetric, so canonicalizing (id1, id2) after the
    // join gives exactly the batch chunkPairs rows whose pair involves
    // a new clip; a new×new pair arrives from both directions and
    // dedups to one canonical row
    val pairs = a.join(b, $"c" === $"c2" && $"v" === $"v2j" &&
        shiftright($"ida", FrameIdBits) =!= shiftright($"idb", FrameIdBits))
      .withColumn("hamming",
        (bit_count($"x0".bitwiseXOR($"y0")) + bit_count($"x1".bitwiseXOR($"y1")) +
         bit_count($"x2".bitwiseXOR($"y2")) + bit_count($"x3".bitwiseXOR($"y3")))
          .cast("int"))
      .select(least($"ida", $"idb").as("p1"),
        greatest($"ida", $"idb").as("p2"), $"hamming")
      .dropDuplicates("p1", "p2")
      .filter($"hamming" <= radius)
      .select(shiftright($"p1", FrameIdBits).as("id1"),
        $"p1".bitwiseAND(mask).cast("int").as("f1"),
        shiftright($"p2", FrameIdBits).as("id2"),
        $"p2".bitwiseAND(mask).cast("int").as("f2"),
        $"hamming")
      .withColumn("off", $"f2" - $"f1")
    alignRollup(pairs)
  }

  /** The audio per-frame perceptual signature table: one row per
    * complete 64-sample frame of each decodable clip, four 16-bit
    * chunks from [[MediaCodec.audioFrameFpChunks]], fingerprinted
    * THROUGH the real RIFF container walk — one narrow mapPartitions
    * scan, 8 bytes per frame shuffle, samples never move. */
  def audioFrameSigs(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .filter(_.kind == "audio")
      .mapPartitions { it =>
        it.flatMap { r =>
          val data = MediaCodec.decodeWav(r.content).data
          val nf = data.length / 2 / 64
          (0 until nf).iterator.map { f =>
            val ch = MediaCodec.audioFrameFpChunks(data, f)
            (r.media_id, f, ch(0), ch(1), ch(2), ch(3))
          }
        }
      }
      .toDF("media_id", "f", "v0", "v1", "v2", "v3")
  }

  /** [[audioFrameSigs]] in the shared fid-packed signature schema —
    * the form the band machinery, the alignment family, and the
    * `perceptualIngest` fingerprint knob consume (the audio analog of
    * [[videoSigs]]). */
  def audioFrameSigsPacked(media: Dataset[MediaRow]): DataFrame =
    fidPacked(audioFrameSigs(media))

  /** The derived-clip id base for q275: original clip ids are doc_ids
    * (≤ ~10^4 at any graded SF), so base + id never collides. */
  val AudioDerivedIdBase = 1000000L

  /** q275: AUDIO TEMPORAL ALIGNMENT — the audio member of the
    * alignment family (q263 batch video, q271 incremental video): a
    * scraped-audio pipeline meets time-SHIFTED re-uploads (an
    * intro-trimmed rip of an ingested clip), and q249's whole-clip
    * envelope is orderless in exactly the way q257's rollup was —
    * it cannot say WHERE the copy aligns. Per-frame signatures
    * ([[MediaCodec.audioFrameFpChunks]] — per-sample energy within
    * each 64-sample frame) through the SAME fid packing, band/cap,
    * Hamming verify, and [[alignRollup]] machinery as video: one
    * signature family, three modalities, one alignment discipline.
    *
    * The graded corpus carries no true time-shifted audio copies
    * (measured: zero verified cross-clip frame pairs at Hamming ≤ 6),
    * so a bare pair list would grade nothing — the arriving batch is
    * therefore DERIVED, q262's mirror discipline: every clip
    * re-ingested with its first (clip_id % 4) frames trimmed, under
    * id + [[AudioDerivedIdBase]]. Trimming whole frames moves no
    * sample within its frame, so the derived signatures are EXACTLY
    * the store's shifted (pinned against a real re-encoded trim in
    * MultimodalSpec), and the aligner must recover the trim: the
    * designed pair's modal offset is −(clip_id % 4) with the run
    * covering every kept frame. The oracle replays fingerprint,
    * derivation, banding, and all three rollups from text char codes —
    * the hash grade proves the recovery on every clip every run.
    * Clips with ≤ clip_id % 4 frames contribute no derived clip (the
    * ≥1-frame rule), stated policy. 100 TB shape: q271's increment —
    * the candidate join's left side is the derived batch's chunks
    * only, never store×store. */
  def q275AudioAlignShift(s: SparkSession, dir: String): DataFrame =
    audioAlignShiftFrom(audioFrameSigsPacked(mediaTable(s, dir)))

  /** The shift-recovery operator on an arbitrary fid-packed audio
    * signature table — the derivation is ARITHMETIC on the store's
    * own signatures (frame-trim invariance makes re-fingerprinting
    * redundant; MultimodalSpec pins the equivalence on real
    * re-encoded WAVs). */
  private[graft] def audioAlignShiftFrom(sigsIn: DataFrame,
      radius: Int = 6): DataFrame = {
    val s = sigsIn.sparkSession
    import s.implicits._
    val sigs = sigsIn.transform(graft.Ckpt.cut) // store side + derivation source; EAGER (r19)
    val mask = (1L << FrameIdBits) - 1
    val clip = shiftright($"media_id", FrameIdBits)
    val f = $"media_id".bitwiseAND(mask)
    val k = pmod(clip, lit(4L))
    val fresh = sigs.filter(f >= k)
      .select((shiftleft(clip + AudioDerivedIdBase, FrameIdBits) + (f - k))
        .as("media_id"), $"v0", $"v1", $"v2", $"v3")
    alignIncrementFrom(sigs, fresh, radius)
  }

  /** q263 oracle: q257's per-frame fingerprint/band/cap CTEs, then the
    * verified pair table with its offset, and the three rollups
    * (orderless, modal offset, gaps-and-islands run) in plain SQL. */
  val q263Sql: String = videoAlignSql("")

  /** q271 oracle: the FULL batch alignment (q263's SQL verbatim)
    * restricted to pairs involving an odd (new) clip — so the grade is
    * the increment ≡ batch-on-union proof itself. */
  val q271Sql: String = videoAlignSql(" WHERE id1 % 2 = 1 OR id2 % 2 = 1")

  private def videoAlignSql(vpWhere: String): String = {
    val chunks = (0 until 4).map { c =>
      s"CAST(sum(CASE WHEN k >= ${c * 16} AND k < ${c * 16 + 16} " +
        s"THEN bit * (1 << (k % 16)) ELSE 0 END) AS INT) AS v$c"
    }.mkString(",\n    ")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, text, length(text) // 64 AS nf
       |  FROM documents WHERE doc_id % 3 = 2),
       |fr AS (
       |  SELECT media_id, text, unnest(generate_series(0, nf - 1)) AS f
       |  FROM m WHERE nf >= 1),
       |lum AS (
       |  SELECT media_id, f, u.j,
       |    ascii(substr(text, 64 * f + (u.j * 64) // 65 + 1, 1)) AS g
       |  FROM fr, unnest(generate_series(0, 64)) AS u(j)),
       |bits AS (
       |  SELECT a.media_id, a.f, a.j AS k,
       |    CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
       |  FROM lum a JOIN lum b
       |    ON b.media_id = a.media_id AND b.f = a.f AND b.j = a.j + 1
       |  WHERE a.j < 64),
       |v AS (
       |  SELECT media_id, f,
       |    $chunks
       |  FROM bits GROUP BY media_id, f),
       |c0 AS (
       |  SELECT media_id, f, v0, v1, v2, v3, u.c,
       |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
       |  FROM v, unnest(generate_series(0, 3)) AS u(c)),
       |c AS (
       |  SELECT media_id, f, v0, v1, v2, v3, c, vv FROM (
       |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) t
       |  WHERE w <= ${Dedup.MaxBucketWidth}),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id1, a.f AS f1,
       |    b.media_id AS id2, b.f AS f2
       |  FROM c a JOIN c b ON a.c = b.c AND a.vv = b.vv
       |    AND a.media_id < b.media_id),
       |vp AS MATERIALIZED (
       |  SELECT cd.id1, cd.f1, cd.id2, cd.f2, cd.f2 - cd.f1 AS off, hamming
       |  FROM (
       |    SELECT cd.*,
       |      bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |      bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3)) AS hamming
       |    FROM cand cd
       |    JOIN v x ON x.media_id = cd.id1 AND x.f = cd.f1
       |    JOIN v y ON y.media_id = cd.id2 AND y.f = cd.f2) cd
       |  WHERE hamming <= 6),
       |vpx AS (SELECT * FROM vp$vpWhere),
$alignRollupSqlTail""".stripMargin
  }

  /** The three alignment rollups in SQL, over a `vpx` CTE of verified
    * pairs (id1, f1, id2, f2, off, hamming) — the tail shared verbatim
    * by the video oracles (q263/q271) and the audio oracle (q275),
    * mirroring the Spark side's shared [[alignRollup]]. */
  private def alignRollupSqlTail: String =
    """roll AS (
      |  SELECT id1, id2, count(*) AS n_pairs,
      |    count(DISTINCT f1) AS n_frames_matched,
      |    min(hamming) AS min_hamming
      |  FROM vpx GROUP BY id1, id2),
      |sup AS (
      |  SELECT id1, id2, off, count(*) AS n_off FROM vpx GROUP BY id1, id2, off),
      |modal AS (
      |  SELECT id1, id2, off AS modal_off, n_off AS n_at_offset FROM (
      |    SELECT sup.*, row_number() OVER (
      |      PARTITION BY id1, id2 ORDER BY n_off DESC, off ASC) AS rn
      |    FROM sup) t WHERE rn = 1),
      |am AS (
      |  SELECT DISTINCT p.id1, p.id2, p.f1
      |  FROM vpx p JOIN modal mo
      |    ON mo.id1 = p.id1 AND mo.id2 = p.id2 AND p.off = mo.modal_off),
      |runs AS (
      |  SELECT id1, id2, max(rl) AS max_run FROM (
      |    SELECT id1, id2, grp, count(*) AS rl FROM (
      |      SELECT id1, id2, f1, f1 - row_number() OVER (
      |        PARTITION BY id1, id2 ORDER BY f1) AS grp
      |      FROM am) t GROUP BY id1, id2, grp) t2
      |  GROUP BY id1, id2)
      |SELECT r.id1, r.id2, r.n_pairs, r.n_frames_matched,
      |  CAST(r.min_hamming AS INT) AS min_hamming,
      |  CAST(mo.modal_off AS INT) AS modal_off, mo.n_at_offset, ru.max_run
      |FROM roll r
      |JOIN modal mo ON mo.id1 = r.id1 AND mo.id2 = r.id2
      |JOIN runs ru ON ru.id1 = r.id1 AND ru.id2 = r.id2
      |ORDER BY r.id1, r.id2""".stripMargin

  /** q275 oracle: the per-frame audio fingerprint restated from text
    * char codes (q249's sample reassembly, per-SAMPLE energy within
    * each frame, the 65-anchor in-frame resample), the derived trimmed
    * clips as an arithmetic UNION (f ≥ clip%4 shifted under the id
    * base — the same frame-trim invariance the Spark side uses), then
    * band/cap over the union, the canonical candidate join, Hamming
    * verify, the new-involved restriction (id2 ≥ base: derived ids
    * exceed every original and id1 < id2), and the shared rollup
    * tail. */
  val q275Sql: String = {
    val chunks = (0 until 4).map { c =>
      s"CAST(sum(CASE WHEN k >= ${c * 16} AND k < ${c * 16 + 16} " +
        s"THEN bit * (1 << (k % 16)) ELSE 0 END) AS INT) AS v$c"
    }.mkString(",\n    ")
    s"""WITH a0 AS (
       |  SELECT doc_id AS media_id, text,
       |    (length(text) // 2) // 64 AS nf
       |  FROM documents WHERE doc_id % 3 = 1),
       |fr AS (SELECT * FROM a0 WHERE nf >= 1),
       |smp AS (
       |  SELECT media_id, i,
       |    ascii(substr(text, 2 * i + 1, 1))
       |      + 256 * ascii(substr(text, 2 * i + 2, 1)) AS s0
       |  FROM (SELECT media_id, text,
       |          unnest(generate_series(0, nf * 64 - 1)) AS i
       |        FROM fr) t),
       |se AS (
       |  SELECT media_id, i,
       |    CAST((CASE WHEN s0 >= 32768 THEN s0 - 65536 ELSE s0 END)
       |      * (CASE WHEN s0 >= 32768 THEN s0 - 65536 ELSE s0 END) AS BIGINT) AS e
       |  FROM smp),
       |frames AS (
       |  SELECT media_id, unnest(generate_series(0, nf - 1)) AS f FROM fr),
       |anch AS (
       |  SELECT t.media_id, t.f, t.j, se.e
       |  FROM (SELECT media_id, f, unnest(generate_series(0, 64)) AS j
       |        FROM frames) t
       |  JOIN se ON se.media_id = t.media_id
       |    AND se.i = t.f * 64 + (t.j * 64) // 65),
       |bits AS (
       |  SELECT a.media_id, a.f, a.j AS k,
       |    CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
       |  FROM anch a JOIN anch b
       |    ON b.media_id = a.media_id AND b.f = a.f AND b.j = a.j + 1
       |  WHERE a.j < 64),
       |v0t AS (
       |  SELECT media_id, f,
       |    $chunks
       |  FROM bits GROUP BY media_id, f),
       |v AS (
       |  SELECT media_id, f, v0, v1, v2, v3 FROM v0t
       |  UNION ALL
       |  SELECT media_id + $AudioDerivedIdBase, f - (media_id % 4),
       |    v0, v1, v2, v3
       |  FROM v0t WHERE f >= media_id % 4),
       |c0 AS (
       |  SELECT media_id, f, v0, v1, v2, v3, u.c,
       |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
       |  FROM v, unnest(generate_series(0, 3)) AS u(c)),
       |c AS (
       |  SELECT media_id, f, v0, v1, v2, v3, c, vv FROM (
       |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) t
       |  WHERE w <= ${Dedup.MaxBucketWidth}),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id1, a.f AS f1,
       |    b.media_id AS id2, b.f AS f2
       |  FROM c a JOIN c b ON a.c = b.c AND a.vv = b.vv
       |    AND a.media_id < b.media_id),
       |vp AS MATERIALIZED (
       |  SELECT cd.id1, cd.f1, cd.id2, cd.f2, cd.f2 - cd.f1 AS off, hamming
       |  FROM (
       |    SELECT cd.*,
       |      bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |      bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3)) AS hamming
       |    FROM cand cd
       |    JOIN v x ON x.media_id = cd.id1 AND x.f = cd.f1
       |    JOIN v y ON y.media_id = cd.id2 AND y.f = cd.f2) cd
       |  WHERE hamming <= 6),
       |vpx AS (SELECT * FROM vp WHERE id2 >= $AudioDerivedIdBase),
$alignRollupSqlTail""".stripMargin
  }

  /** q241 oracle: the whole dHash restated from text-byte slices —
    * grayscale g[j] = sum of the 3 payload bytes at resampled column
    * ⌊j·w/65⌋, gradient bits packed into four 16-bit chunks, then
    * q109's band/cap SQL and the per-image candidate rollup. */
  val q241Sql: String = {
    // byte k (0-based) of the payload, as an integer, from the hex dump
    def byteAt(k: String) = s"('0x' || substr(hx, 2 * ($k) + 1, 2))::BIGINT"
    val chunks = (0 until 4).map { c =>
      s"CAST(sum(CASE WHEN k >= ${c * 16} AND k < ${c * 16 + 16} " +
        s"THEN bit * (1 << (k % 16)) ELSE 0 END) AS INT) AS v$c"
    }.mkString(",\n    ")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) // 3 AS w
       |  FROM documents WHERE doc_id % 3 = 0
       |    AND octet_length(encode(text)) // 3 > 0),
       |g AS (
       |  SELECT media_id, u.j,
       |    ${byteAt("3 * ((u.j * w) // 65)")}
       |    + ${byteAt("3 * ((u.j * w) // 65) + 1")}
       |    + ${byteAt("3 * ((u.j * w) // 65) + 2")} AS g
       |  FROM m, unnest(generate_series(0, 64)) AS u(j)),
       |bits AS (
       |  SELECT a.media_id, a.j AS k,
       |    CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
       |  FROM g a JOIN g b ON b.media_id = a.media_id AND b.j = a.j + 1
       |  WHERE a.j < 64),
       |v AS (
       |  SELECT media_id,
       |    $chunks
       |  FROM bits GROUP BY media_id),
       |c0 AS (
       |  SELECT media_id, v0, v1, v2, v3, u.c,
       |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
       |  FROM v, unnest(generate_series(0, 3)) AS u(c)),
       |c AS (
       |  SELECT media_id, v0, v1, v2, v3, c, vv FROM (
       |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) t
       |  WHERE w <= ${Dedup.MaxBucketWidth}),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
       |  FROM c a JOIN c b ON a.c = b.c AND a.vv = b.vv AND a.media_id <> b.media_id),
       |stats AS (
       |  SELECT cd.id1, count(*) AS n_cands,
       |    min(bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |        bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3))) AS min_hamming
       |  FROM cand cd
       |  JOIN v x ON x.media_id = cd.id1
       |  JOIN v y ON y.media_id = cd.id2
       |  GROUP BY cd.id1)
       |SELECT v.media_id, v.v0, v.v1, v.v2, v.v3,
       |  CAST(coalesce(s.n_cands, 0) AS BIGINT) AS n_cands,
       |  CAST(s.min_hamming AS INT) AS min_hamming,
       |  coalesce(s.min_hamming <= 6, false) AS near_dup
       |FROM v LEFT JOIN stats s ON s.id1 = v.media_id
       |ORDER BY v.media_id""".stripMargin
  }

  /** q249 oracle: the whole audio fingerprint restated from text char
    * codes — q203's sample/frame front end (samples from ascii(), sign
    * correction, exact Σ s² per 64-sample frame), the 65-anchor
    * nearest-neighbor resample as integer division, gradient bits
    * packed into four 16-bit chunks, then q241's band/cap SQL and the
    * per-clip candidate rollup verbatim. */
  val q249Sql: String = {
    val chunks = (0 until 4).map { c =>
      s"CAST(sum(CASE WHEN k >= ${c * 16} AND k < ${c * 16 + 16} " +
        s"THEN bit * (1 << (k % 16)) ELSE 0 END) AS INT) AS v$c"
    }.mkString(",\n    ")
    s"""WITH a AS (
       |  SELECT doc_id AS media_id, text,
       |    (length(text) // 2) // 64 AS n_frames
       |  FROM documents WHERE doc_id % 3 = 1),
       |fr AS (SELECT * FROM a WHERE n_frames >= 1),
       |smp AS (
       |  SELECT media_id, i // 64 AS f,
       |    ascii(substr(text, 2 * i + 1, 1))
       |      + 256 * ascii(substr(text, 2 * i + 2, 1)) AS s0
       |  FROM (SELECT media_id, text,
       |          unnest(generate_series(0, n_frames * 64 - 1)) AS i
       |        FROM fr) t),
       |sg AS (SELECT media_id, f,
       |         CASE WHEN s0 >= 32768 THEN s0 - 65536 ELSE s0 END AS s
       |       FROM smp),
       |fe AS (
       |  SELECT media_id, f, CAST(sum(s * s) AS BIGINT) AS ss
       |  FROM sg GROUP BY 1, 2),
       |jj AS (
       |  SELECT media_id, n_frames, unnest(generate_series(0, 64)) AS j
       |  FROM fr),
       |anch AS (
       |  SELECT jj.media_id, jj.j, e.ss
       |  FROM jj JOIN fe e ON e.media_id = jj.media_id
       |    AND e.f = (jj.j * jj.n_frames) // 65),
       |bits AS (
       |  SELECT a2.media_id, a2.j AS k,
       |    CASE WHEN a2.ss < b2.ss THEN 1 ELSE 0 END AS bit
       |  FROM anch a2 JOIN anch b2
       |    ON b2.media_id = a2.media_id AND b2.j = a2.j + 1
       |  WHERE a2.j < 64),
       |v AS (
       |  SELECT media_id,
       |    $chunks
       |  FROM bits GROUP BY media_id),
       |c0 AS (
       |  SELECT media_id, v0, v1, v2, v3, u.c,
       |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
       |  FROM v, unnest(generate_series(0, 3)) AS u(c)),
       |c AS (
       |  SELECT media_id, v0, v1, v2, v3, c, vv FROM (
       |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) t
       |  WHERE w <= ${Dedup.MaxBucketWidth}),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
       |  FROM c a JOIN c b ON a.c = b.c AND a.vv = b.vv AND a.media_id <> b.media_id),
       |stats AS (
       |  SELECT cd.id1, count(*) AS n_cands,
       |    min(bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |        bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3))) AS min_hamming
       |  FROM cand cd
       |  JOIN v x ON x.media_id = cd.id1
       |  JOIN v y ON y.media_id = cd.id2
       |  GROUP BY cd.id1)
       |SELECT v.media_id, v.v0, v.v1, v.v2, v.v3,
       |  CAST(coalesce(s.n_cands, 0) AS BIGINT) AS n_cands,
       |  CAST(s.min_hamming AS INT) AS min_hamming,
       |  coalesce(s.min_hamming <= 6, false) AS near_dup
       |FROM v LEFT JOIN stats s ON s.id1 = v.media_id
       |ORDER BY v.media_id""".stripMargin
  }

  /** q257 oracle: the whole per-frame video fingerprint restated from
    * text char codes — frame slicing (frame f, anchor j reads the text
    * byte at 64f + ⌊j·64/65⌋; the corpus is pure ASCII, so ascii() IS
    * the luminance byte), gradient bits packed into four 16-bit
    * chunks, then q241's band/cap SQL on (clip, frame) keys with the
    * same-clip exclusion, and the per-frame candidate rollup. */
  val q257Sql: String = {
    val chunks = (0 until 4).map { c =>
      s"CAST(sum(CASE WHEN k >= ${c * 16} AND k < ${c * 16 + 16} " +
        s"THEN bit * (1 << (k % 16)) ELSE 0 END) AS INT) AS v$c"
    }.mkString(",\n    ")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, text, length(text) // 64 AS nf
       |  FROM documents WHERE doc_id % 3 = 2),
       |fr AS (
       |  SELECT media_id, text, unnest(generate_series(0, nf - 1)) AS f
       |  FROM m WHERE nf >= 1),
       |lum AS (
       |  SELECT media_id, f, u.j,
       |    ascii(substr(text, 64 * f + (u.j * 64) // 65 + 1, 1)) AS g
       |  FROM fr, unnest(generate_series(0, 64)) AS u(j)),
       |bits AS (
       |  SELECT a.media_id, a.f, a.j AS k,
       |    CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
       |  FROM lum a JOIN lum b
       |    ON b.media_id = a.media_id AND b.f = a.f AND b.j = a.j + 1
       |  WHERE a.j < 64),
       |v AS (
       |  SELECT media_id, f,
       |    $chunks
       |  FROM bits GROUP BY media_id, f),
       |c0 AS (
       |  SELECT media_id, f, v0, v1, v2, v3, u.c,
       |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
       |  FROM v, unnest(generate_series(0, 3)) AS u(c)),
       |c AS (
       |  SELECT media_id, f, v0, v1, v2, v3, c, vv FROM (
       |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) t
       |  WHERE w <= ${Dedup.MaxBucketWidth}),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id1, a.f AS f1,
       |    b.media_id AS id2, b.f AS f2
       |  FROM c a JOIN c b ON a.c = b.c AND a.vv = b.vv
       |    AND a.media_id <> b.media_id),
       |stats AS (
       |  SELECT cd.id1, cd.f1, count(*) AS n_cands,
       |    min(bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |        bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3))) AS min_hamming
       |  FROM cand cd
       |  JOIN v x ON x.media_id = cd.id1 AND x.f = cd.f1
       |  JOIN v y ON y.media_id = cd.id2 AND y.f = cd.f2
       |  GROUP BY cd.id1, cd.f1)
       |SELECT v.media_id, CAST(v.f AS INT) AS f, v.v0, v.v1, v.v2, v.v3,
       |  CAST(coalesce(s.n_cands, 0) AS BIGINT) AS n_cands,
       |  CAST(s.min_hamming AS INT) AS min_hamming,
       |  coalesce(s.min_hamming <= 6, false) AS near_dup
       |FROM v LEFT JOIN stats s ON s.id1 = v.media_id AND s.f1 = v.f
       |ORDER BY v.media_id, f""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_audio_rms"     -> (q203AudioRms _),
    "q221_vit_patches"   -> (q221VitPatches _),
    "q52_media_features" -> (q52MediaFeatures _),
    "q53_frame_sample"   -> (q53FrameSample _),
    "q112_media_meta"    -> (q112MediaMeta _),
    "q129_png_roundtrip" -> (q129PngRoundtrip _),
    "q131_jpeg_roundtrip" -> (q131JpegRoundtrip _),
    "q241_phash_dups"    -> (q241PhashDups _),
    "q249_audiofp_dups"  -> (q249AudioFpDups _),
    "q257_videofp_dups"  -> (q257VideoFpDups _),
    "q263_video_align"   -> (q263VideoAlign _),
    "q271_video_align_incr" -> (q271VideoAlignIncrement _),
    "q275_audio_align_shift" -> (q275AudioAlignShift _),
  )

  val oracle: Map[String, String] = Map(
    "q203_audio_rms"     -> q203Sql,
    "q221_vit_patches"   -> q221Sql,
    "q52_media_features" -> q52Sql,
    "q53_frame_sample"   -> q53Sql,
    "q112_media_meta"    -> q112Sql,
    "q129_png_roundtrip" -> q129Sql,
    "q131_jpeg_roundtrip" -> q131Sql,
    "q241_phash_dups"    -> q241Sql,
    "q249_audiofp_dups"  -> q249Sql,
    "q257_videofp_dups"  -> q257Sql,
    "q263_video_align"   -> q263Sql,
    "q271_video_align_incr" -> q271Sql,
    "q275_audio_align_shift" -> q275Sql,
  )
}
