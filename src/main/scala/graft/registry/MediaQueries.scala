package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Training-data pipeline: multimodal plumbing — media decode, resize,
  * frame sampling and the fixed-model codec twins. */
private[graft] object MediaQueries {
  import SparkEntry._
  import Tables._

  /** Decode `media` and project the fixed-model twins' feature columns:
    * width, height and channels as BIGINT, then the first `nMeans`
    * per-channel means. When `guarded`, each mean past the first is NULL for
    * a payload that lacks the channel (the size guard keeps ANSI
    * element_at off the out-of-bounds path). */
  private def fixedFeatures(media: DataFrame, nMeans: Int,
                            guarded: Boolean = true): DataFrame = {
    val f = col("feature")
    val dims = Seq("width", "height", "channels").zipWithIndex.map {
      case (name, i) => element_at(f, i + 1).cast("long").as(name)
    }
    val means = (1 to nMeans).map { c =>
      val m = element_at(f, 3 + c)
      (if (guarded && c > 1) when(size(f) >= 3 + c, m) else m).as(s"mean_c$c")
    }
    Multimodal.extractFeatures(media, Multimodal.Decoders.media)
      .select((col("media_id") +: dims) ++ means: _*)
  }

  /** One 16×8 grayscale JPEG per doc for q_jpeg_fixed and its progressive
    * twin: two flat 8×8 blocks whose even values follow a SQL-expressible
    * law of (doc_id, block), encoded by `encode(pixels)`. */
  private def flatBlockMedia(s: SparkSession, d: String)(
      encode: Array[Int] => Array[Byte]): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long].map { id =>
      def v(b: Int): Int =
        ((((id * 2654435761L + b * 2246822519L) / 8) % 128) * 2).toInt
      Multimodal.MediaRecord(id, "image",
        encode(Array.tabulate(16 * 8)(i => v((i % 16) / 8))))
    }.toDF()
  }

  /** The PNG law twins' channel count per doc: `docs(doc_id, ch)`, ch
    * cycling 1/3/4 with doc_id % 3 ([[SparkEntry.pngLawMedia]]). */
  private val pngLawDocsCte =
    """docs AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
           FROM documents)"""

  /** [[fixedFeatures]] in SQL over per-channel means `m(doc_id, ch, c,
    * mean)`: a `w`×`h` image with `ch` channels and the first `nMeans`
    * channel means, NULL for a channel the doc lacks. */
  private def channelMeansSql(w: Int, h: Int, ch: String, nMeans: Int)
      : String = {
    val means = (0 until nMeans).map(c =>
      s"round(MAX(CASE WHEN c = $c THEN mean END), 6) AS mean_c${c + 1}")
    s"""SELECT doc_id AS media_id, CAST($w AS BIGINT) AS width,
           CAST($h AS BIGINT) AS height, CAST($ch AS BIGINT) AS channels,
           ${means.mkString(",\n           ")}
         FROM m GROUP BY 1, 2, 3, 4"""
  }

  val defs: Seq[QueryDef] = Seq(
    // binary payload + stubbed decode via mapPartitions (schema/batching real)
    QueryDef("q_media_features", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(documents(s, d), col("doc_id"), col("text")))
        .select(col("media_id"), col("kind"), col("n_bytes")),
      Oracle("""SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM documents""")),
    // full image path on real pixel data: synthesize a valid BMP per doc,
    // resize through the NN resampler, decode with the real parser
    // (rows-only — binary payloads aren't SQL-expressible). The image
    // feature vector [width, height, channels, per-channel means…] is
    // projected into named scalar columns: the rows-only
    // comparator sorts cell values, so the output must be flat sortable
    // scalars, not arrays.
    QueryDef("q_media_resize", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        Multimodal.MediaRecord(id, "image", Multimodal.Decoders.syntheticBmp(id))
      }.toDF()
      imageFeatureCols(Multimodal.extractFeatures(
        Multimodal.resizeImages(media, 4, 4), Multimodal.Decoders.media))
    },
      RowsOnly("graft.MultimodalSpec")),
    // full video path on real frame data: synthesize a 4-frame GIF per
    // doc, LZW-decode, sample every 2nd frame with per-frame pixel means
    // (rows-only — binary payloads aren't SQL-expressible). Every 3rd id
    // is a GIF89a whose frames carry GCE transparency (RGBA decode,
    // mean_a populated) and every 6th is ALSO interlaced — the r12
    // semantics through the production rows-only path
    QueryDef("q_media_frames", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val payload =
          if (id % 3 == 2) {
            val frames = (0 until 4).map(f => Array.tabulate(16)(i =>
              (java.lang.Long.rotateLeft(
                id * 0x9e3779b97f4a7c15L + f, i) & 3).toInt))
            Multimodal.Decoders.gif89FromIndices(4, 4, frames,
              (0 until 4).map(f => Some(((id + f) % 4).toInt)),
              interlaced = id % 6 == 5)
          } else Multimodal.Decoders.syntheticGif87(id, nFrames = 4)
        Multimodal.MediaRecord(id, "video", payload)
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 2)
    },
      RowsOnly("graft.MultimodalSpec")),
    // full PNG path on real compressed pixel data ([[pngMedia]] payloads),
    // Inflater-decode + unfilter with the real parser through the sniffing
    // media dispatcher (rows-only — binary payloads aren't
    // SQL-expressible). Per-channel means project into fixed scalar
    // columns; a grayscale payload's missing channels are NULL.
    QueryDef("q_media_png", (s, d) =>
      imageFeatureCols(Multimodal.extractFeatures(
        pngMedia(s, d), Multimodal.Decoders.media)),
      RowsOnly("graft.MultimodalSpec")),
    // full PNG resize path: synthetic PNG → NN resample through the
    // container-sniffing resize dispatcher → re-encoded PNG (real zlib +
    // CRCs) → real decode — payload transforms compose across containers
    // (rows-only — binary payloads aren't SQL-expressible)
    QueryDef("q_media_png_resize", (s, d) =>
      imageFeatureCols(Multimodal.extractFeatures(
        Multimodal.resizeImages(pngMedia(s, d), 3, 3),
        Multimodal.Decoders.media)),
      RowsOnly("graft.MultimodalSpec")),
    // Permissive media decode: a
    // mixed-container corpus frame with DETERMINISTIC per-id corruption —
    // valid PNG/JPEG/BMP/WAV rows decode, WebP/AVIF/TIFF rows classify as
    // named unsupported containers, truncated / CRC-corrupted / garbage
    // rows quarantine with their error class — and the job FINISHES (the
    // loud decoders would kill the task on the first bad row). The
    // (kind, container, ok, error_class) split replays in SQL by the same
    // id law — the q_quarantine recipe applied to binary columns.
    QueryDef("q_media_quarantine", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (kind, payload) = ((id % 12).toInt: @unchecked) match {
          case 0 => ("image", Multimodal.Decoders.syntheticPng(id, channels = 1))
          case 1 => ("image", Multimodal.Decoders.syntheticPng(id, channels = 3))
          case 2 => ("image", graft.engine.Jpeg.syntheticJpeg(id))
          case 3 => ("image", Multimodal.Decoders.syntheticBmp(id))
          case 4 => ("image", "RIFF".getBytes("US-ASCII") ++
            Array[Byte](20, 0, 0, 0) ++ "WEBPVP8 ".getBytes("US-ASCII") ++
            new Array[Byte](12))
          case 5 => ("image", Array[Byte](0, 0, 0, 24) ++
            "ftypavif".getBytes("US-ASCII") ++ new Array[Byte](12))
          case 6 => ("image", Array[Byte](0x49, 0x49, 0x2a, 0, 8, 0, 0, 0) ++
            new Array[Byte](8))
          case 7 => ("image", Multimodal.Decoders.syntheticPng(id).take(16))
          case 8 => ("image", {
            val p = Multimodal.Decoders.syntheticPng(id)
            p(p.length - 1) = (p(p.length - 1) ^ 0x5a).toByte; p
          })
          case 9 => ("image", Array.tabulate(24)(i => (if (i < 8) i
            else (java.lang.Long.rotateLeft(
              id * 0x9e3779b97f4a7c15L, i) & 0xff).toInt).toByte))
          case 10 => ("audio", Multimodal.Decoders.syntheticWav(id).take(20))
          case 11 => ("audio", Multimodal.Decoders.syntheticWav(id))
        }
        Multimodal.MediaRecord(id, kind, payload)
      }.toDF()
      Multimodal.extractFeatures(media, Multimodal.Decoders.media,
        Multimodal.BadPayload.Quarantine)
        .groupBy(col("kind"), col("container"), col("ok"), col("error_class"))
        .agg(count(lit(1)).as("n"), sum(col("media_id")).as("id_sum"))
    },
      // the quarantine split is a pure function of doc_id % 12 (the query
      // builds its payloads that way); error classes per residue are pinned
      // in MultimodalSpec's fixture matrix
      Oracle("""SELECT CASE WHEN doc_id % 12 IN (10, 11) THEN 'audio'
                ELSE 'image' END AS kind,
           CASE WHEN doc_id % 12 IN (0, 1, 7, 8) THEN 'png'
                WHEN doc_id % 12 = 2 THEN 'jpeg'
                WHEN doc_id % 12 = 3 THEN 'bmp'
                WHEN doc_id % 12 = 4 THEN 'webp'
                WHEN doc_id % 12 = 5 THEN 'avif'
                WHEN doc_id % 12 = 6 THEN 'tiff'
                WHEN doc_id % 12 = 9 THEN 'unknown'
                ELSE 'wav' END AS container,
           doc_id % 12 IN (0, 1, 2, 3, 11) AS ok,
           CASE WHEN doc_id % 12 IN (4, 5, 6) THEN 'unsupported_container'
                WHEN doc_id % 12 = 7 THEN 'truncated'
                WHEN doc_id % 12 IN (8, 10) THEN 'malformed'
                WHEN doc_id % 12 = 9 THEN 'unrecognized_container'
                ELSE NULL END AS error_class,
           count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents GROUP BY 1, 2, 3, 4""")),
    // Permissive FRAME sampling (`sampleFrames` under Quarantine): healthy
    // GIFs emit their per-frame rows, a truncated GIF or a WebP payload
    // emits one quarantine row — counts, id sums, and frame-index sums
    // all replay in SQL by the id law (4 frames per healthy id via a
    // VALUES spine).
    QueryDef("q_frames_quarantine", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val payload = ((id % 4).toInt: @unchecked) match {
          case 2 => Multimodal.Decoders.syntheticGif87(id).take(24)
          case 3 => "RIFF".getBytes("US-ASCII") ++ Array[Byte](20, 0, 0, 0) ++
            "WEBPVP8 ".getBytes("US-ASCII") ++ new Array[Byte](12)
          case _ => Multimodal.Decoders.syntheticGif87(id, nFrames = 4)
        }
        Multimodal.MediaRecord(id, "video", payload)
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 1,
        bad = Multimodal.BadPayload.Quarantine)
        .groupBy(col("ok"), col("error_class"), col("container"))
        .agg(count(lit(1)).as("n"), sum(col("media_id")).as("id_sum"),
          sum(coalesce(col("frame_ix"), lit(-1L))).as("ix_sum"))
    },
      Oracle("""WITH f AS (SELECT doc_id, k
                    FROM documents, (VALUES (0), (1), (2), (3)) AS s(k)
                    WHERE doc_id % 4 < 2)
         SELECT true AS ok, NULL AS error_class, 'gif' AS container,
           count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(k) AS BIGINT) AS ix_sum
         FROM f
         UNION ALL
         SELECT false, 'truncated', 'gif', count(*),
           CAST(sum(doc_id) AS BIGINT), CAST(sum(-1) AS BIGINT)
         FROM documents WHERE doc_id % 4 = 2
         UNION ALL
         SELECT false, 'unsupported_container', 'webp', count(*),
           CAST(sum(doc_id) AS BIGINT), CAST(sum(-1) AS BIGINT)
         FROM documents WHERE doc_id % 4 = 3""")),
    // full JPEG path on real entropy-coded data: one valid JPEG per doc —
    // baseline (grayscale/4:4:4/4:2:0 and restart markers cycling by id)
    // and, every 7th id, PROGRESSIVE (SOF2: interleaved DC scan + banded
    // AC scans with EOB runs) — the whole decode surface, Huffman-decode
    // + multi-scan accumulate + dequant + IDCT + color convert with the
    // real parser through the sniffing media dispatcher (rows-only —
    // binary payloads aren't SQL-expressible). Decode arithmetic is
    // pinned by JpegSpec's exact-pixel fixtures and the ImageIO
    // cross-fuzz, both flavors.
    QueryDef("q_media_jpeg", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val w = 9 + (id % 3).toInt * 4
        val h = 11 + (id % 2).toInt * 6
        val channels = if (id % 4 == 0) 1 else 3
        val payload =
          if (id % 7 == 2)
            graft.engine.Jpeg.syntheticProgressiveJpeg(id, w, h, channels,
              subsample = id % 3 == 0)
          else graft.engine.Jpeg.syntheticJpeg(id, w, h, channels,
            subsample = id % 3 == 0,
            restartEvery = if (id % 5 == 0) 1 else 0)
        graft.engine.Multimodal.MediaRecord(id, "image", payload)
      }.toDF()
      imageFeatureCols(Multimodal.extractFeatures(
        media, Multimodal.Decoders.media))
    },
      RowsOnly("graft.JpegSpec")),
    // full audio frame path: synthetic 16-bit PCM WAV per doc (length and
    // channel count vary by id) → per-frame ALL-INTEGER features (abs sum,
    // energy, zero crossings), every 2nd frame — the voice-activity /
    // quality row multiplier (rows-only — binary payloads aren't
    // SQL-expressible; the integer outputs are spec'd bit-exact)
    QueryDef("q_media_audio_frames", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        Multimodal.MediaRecord(id, "audio",
          Multimodal.Decoders.syntheticWav(id,
            nPerChannel = 40 + (id % 5).toInt * 7,
            channels = 1 + (id % 2).toInt))
      }.toDF()
      Multimodal.sampleAudioFrames(media, frameLen = 16, everyN = 2)
    },
      RowsOnly("graft.MultimodalSpec")),
    // fixed-model twin of the PNG path: samples follow a SQL-expressible
    // integer law, assembled into REAL PNGs (filter-0 scanlines, real
    // zlib + CRCs) and decoded through the REAL Inflater+unfilter parser;
    // the oracle regenerates the law and recomputes per-channel means.
    // 8×4 = 32 pixels/channel ⇒ sums/32 have ≤5 decimal digits — exact at
    // 6dp on both engines (the power-of-two denominator rule)
    QueryDef("q_png_fixed", (s, d) =>
      fixedFeatures(pngLawMedia(s, d), nMeans = 4),
      // fixed-model PNG oracle: regenerate the sample law and recompute
      // per-channel means; the engine reached the same numbers through a
      // REAL PNG container (zlib + CRC) and the real Inflater+unfilter path
      Oracle(s"""WITH $pngLawDocsCte,
         px AS (SELECT doc_id, ch, unnest(range(0, 32 * ch)) AS i FROM docs),
         v AS (SELECT doc_id, ch, i % ch AS c,
             ((doc_id*2654435761 + i*2246822519) // 8) % 256 AS val FROM px),
         m AS (SELECT doc_id, ch, c, SUM(val) / 32.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         ${channelMeansSql(8, 4, "ch", 4)}""")),
    // the same law table through the REAL NN resize (8×4 → 4×2: source
    // pixel (2x, 2y)) and re-decode — resize arithmetic cross-engine;
    // 8 pixels/channel ⇒ sums/8 exact at 6dp
    QueryDef("q_png_resize_fixed", (s, d) =>
      fixedFeatures(Multimodal.resizeImages(pngLawMedia(s, d), 4, 2),
        nMeans = 4),
      // the same law through the NN resize: output (x,y) samples source
      // (2x, 2y) — the resize arithmetic replayed cross-engine
      Oracle(s"""WITH $pngLawDocsCte,
         xs AS (SELECT doc_id, ch, unnest(range(0, 4)) AS x FROM docs),
         xy AS (SELECT doc_id, ch, x, unnest(range(0, 2)) AS y FROM xs),
         xyc AS (SELECT doc_id, ch, x, y, unnest(range(0, ch)) AS c FROM xy),
         v AS (SELECT doc_id, ch, c,
             ((doc_id*2654435761 + (((2*y)*8 + 2*x)*ch + c)*2246822519) // 8)
               % 256 AS val
           FROM xyc),
         m AS (SELECT doc_id, ch, c, SUM(val) / 8.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         ${channelMeansSql(4, 2, "ch", 4)}""")),
    // fixed-model twin of the BMP path: the same sample law assembled
    // into REAL 24-bit BMPs (bottom-up rows, BGR bytes, 4-byte padding —
    // the mappings a reader can get wrong) and decoded by the real parser
    QueryDef("q_bmp_fixed", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        Multimodal.MediaRecord(id, "image",
          Multimodal.Decoders.bmpFromPixels(8, 4, Array.tabulate(96)(i =>
            (((id * 2654435761L + i * 2246822519L) / 8) % 256).toByte)))
      }.toDF()
      fixedFeatures(media, nMeans = 3, guarded = false)
    },
      // fixed-model BMP oracle: regenerate the sample law and recompute
      // per-channel means; a BGR/padding mix-up in the real container round
      // trip shifts bytes across channels and diverges. Channel MEANS are
      // invariant to a vertical flip, so the bottom-up ROW ORDER is pinned
      // separately by MultimodalSpec's position-sensitive bmpFromPixels
      // checks (raw payload bytes + per-row resize decode), not here
      Oracle(s"""WITH px AS (SELECT doc_id, unnest(range(0, 96)) AS i
                     FROM documents),
         v AS (SELECT doc_id, i % 3 AS c,
             ((doc_id*2654435761 + i*2246822519) // 8) % 256 AS val FROM px),
         m AS (SELECT doc_id, c, SUM(val) / 32.0 AS mean FROM v GROUP BY 1, 2)
         ${channelMeansSql(8, 4, "3", 3)}""")),
    // fixed-model twin of the JPEG path: flat EVEN-valued 8×8 blocks
    // survive baseline JPEG bit-exactly at uniform q=16 (FDCT of a flat
    // block is DC-only; dc = (v-128)/2 exact for even v; reconstruction
    // 2·dc+128 = v), so the real encoder → real decoder round trip is
    // SQL-replayable — the lossy codec oracled on its lossless subspace
    QueryDef("q_jpeg_fixed", (s, d) =>
      fixedFeatures(flatBlockMedia(s, d)(px =>
        Jpeg.encode(px, 16, 8, 1, subsample = false, restartEvery = 0)),
        nMeans = 1),
      // fixed-model JPEG oracle: flat even-valued blocks round-trip the
      // REAL lossy codec bit-exactly at uniform q=16 (DC-only subspace),
      // so the whole-image mean is the block-value average
      Oracle("""WITH b AS (SELECT doc_id, unnest(range(0, 2)) AS blk
                    FROM documents),
         v AS (SELECT doc_id,
             (((doc_id*2654435761 + blk*2246822519) // 8) % 128) * 2 AS val
           FROM b)
         SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height, CAST(1 AS BIGINT) AS channels,
           round(SUM(val) / 2.0, 6) AS mean_c1
         FROM v GROUP BY 1""")),
    // fixed-model twin of the video frame path: palette indices follow a
    // SQL-expressible law, assembled into REAL GIF87a containers and
    // pushed through the REAL LZW decode → frame-sample → pixel-mean
    // path; the oracle regenerates the law and recomputes the means
    // (255·k/16 has ≤4 decimal digits, so round-to-6dp is exact on both
    // engines — no FP-boundary exposure). The Knuth-style multiplicative
    // mix (then /8 before mod 4) gives varied per-frame color counts — a
    // plain linear law is uniform mod 4 and every mean degenerates to the
    // same value, pinning nothing.
    QueryDef("q_gif_frames_fixed", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val nf = 1 + (id % 3).toInt
        Multimodal.MediaRecord(id, "video",
          Multimodal.Decoders.gif87FromIndices(4, 4, (0 until nf).map(f =>
            Array.tabulate(16)(i =>
              (((id * 2654435761L + f * 40503L + i * 2246822519L) / 8)
                % 4).toInt))))
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 2)
        .select(col("media_id"), col("frame_ix"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"))
    },
      // fixed-model video frame oracle: regenerate the palette-index law and
      // recompute the per-frame channel means the engine reached through a
      // REAL GIF container and the real LZW decode + frame-sample path
      Oracle("""WITH docs AS (SELECT doc_id, 1 + (doc_id % 3) AS nf FROM documents),
         fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM docs),
         pxi AS (SELECT doc_id, f, unnest(range(0, 16)) AS i FROM fr
                 WHERE f % 2 = 0),
         px AS (SELECT doc_id, f,
                  ((doc_id*2654435761 + f*40503 + i*2246822519) // 8) % 4
                    AS v
                FROM pxi),
         c AS (SELECT doc_id, f,
             SUM(CASE WHEN v = 1 THEN 255.0 ELSE 0.0 END) / 16 AS mr,
             SUM(CASE WHEN v = 2 THEN 255.0 ELSE 0.0 END) / 16 AS mg,
             SUM(CASE WHEN v = 3 THEN 255.0 ELSE 0.0 END) / 16 AS mb
           FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id, f AS frame_ix,
           4 AS width, 4 AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b
         FROM c""")),
    // fixed-model twin of the GIF89a Graphic Control Extension semantics:
    // the q_gif_frames_fixed index law
    // through REAL 89a containers whose GCE declares a LAW transparent
    // index for two of every three ids — those frames decode RGBA with
    // alpha 0 exactly where the index law hits the transparent index, so
    // mean_a = 255·opaque/16 replays in SQL (and stays NULL for the
    // plain-87a ids, pinning the no-GCE path in the same oracle). RGB
    // means are transparency-invariant by the declared tRNS-style
    // convention (palette color kept, alpha separate) — the same law as
    // the sibling oracle. 255·k/16 exact at 6dp.
    QueryDef("q_gif_gce_fixed", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val nf = 1 + (id % 2).toInt
        val frames = (0 until nf).map(f => Array.tabulate(16)(i =>
          (((id * 2654435761L + f * 40503L + i * 2246822519L) / 8)
            % 4).toInt))
        val payload =
          if (id % 3 == 2)
            Multimodal.Decoders.gif87FromIndices(4, 4, frames)
          else
            Multimodal.Decoders.gif89FromIndices(4, 4, frames,
              (0 until nf).map(f =>
                Some((((id * 7919L + f * 104729L) / 4) % 4).toInt)))
        Multimodal.MediaRecord(id, "video", payload)
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 1)
        .select(col("media_id"), col("frame_ix"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"),
          col("mean_a"))
    },
      // fixed-model GIF89a GCE oracle: same index law; ids % 3 != 2 carry a
      // LAW transparent index per frame, so mean_a = 255·(pixels whose index
      // differs from it)/16 — RGB means are transparency-invariant by the
      // declared tRNS-style convention; plain-87a ids replay mean_a NULL
      Oracle("""WITH docs AS (SELECT doc_id, 1 + (doc_id % 2) AS nf FROM documents),
         fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM docs),
         pxi AS (SELECT doc_id, f, unnest(range(0, 16)) AS i FROM fr),
         px AS (SELECT doc_id, f,
                  ((doc_id*2654435761 + f*40503 + i*2246822519) // 8) % 4
                    AS v,
                  ((doc_id*7919 + f*104729) // 4) % 4 AS t
                FROM pxi),
         c AS (SELECT doc_id, f,
             SUM(CASE WHEN v = 1 THEN 255.0 ELSE 0.0 END) / 16 AS mr,
             SUM(CASE WHEN v = 2 THEN 255.0 ELSE 0.0 END) / 16 AS mg,
             SUM(CASE WHEN v = 3 THEN 255.0 ELSE 0.0 END) / 16 AS mb,
             SUM(CASE WHEN v <> t THEN 255.0 ELSE 0.0 END) / 16 AS ma
           FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id, f AS frame_ix,
           4 AS width, 4 AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE round(ma, 6) END AS mean_a
         FROM c""")),
    // fixed-model twin of the audio frame path (the q_centroid_assign
    // pattern): samples follow a SQL-expressible integer law, assembled
    // into REAL WAV containers and pushed through the REAL decode →
    // framing → all-integer statistics path; the oracle regenerates the
    // law with a lateral range() and recomputes the identical arithmetic —
    // a cross-engine replay of the frame mechanics, closing the tier where
    // only specs pinned them
    QueryDef("q_audio_frames_fixed", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val ch = 1 + (id % 2).toInt
        val n = (30 + (id % 4).toInt * 8) * ch // interleaved sample count
        // stride 15923 wraps the 16-bit range every ~4 samples, so frames
        // actually cross zero (a slow stride would leave every sample
        // negative at these lengths and the zc column degenerately 0)
        Multimodal.MediaRecord(id, "audio",
          Multimodal.Decoders.pcmWav(8000, ch, Array.tabulate(n)(i =>
            (((id * 7919 + i * 15923) % 65536) - 32768).toShort)))
      }.toDF()
      Multimodal.sampleAudioFrames(media, frameLen = 16, everyN = 2)
        .select(col("media_id"), col("frame_ix"), col("n_samples"),
          col("abs_sum"), col("sq_sum"), col("zero_crossings"))
    },
      // fixed-model audio frame oracle: regenerate the SQL-expressible
      // sample law with a correlated range() and recompute the all-integer
      // frame statistics; the engine side reached the same numbers through
      // a REAL WAV container and the real decode+framing path. The previous-
      // sample value is re-derived from the law (index i-ch), not a window —
      // the guard t%16>0 keeps the i<ch garbage rows out of every sum.
      Oracle("""WITH docs AS (
           SELECT doc_id, 1 + (doc_id % 2) AS ch,
             (30 + (doc_id % 4) * 8) * (1 + (doc_id % 2)) AS n
           FROM documents),
         idx AS (SELECT doc_id, ch, unnest(range(0, n)) AS i FROM docs),
         s AS (
           SELECT doc_id, ch,
             ((doc_id * 7919 + i * 15923) % 65536) - 32768 AS v,
             ((doc_id * 7919 + (i - ch) * 15923) % 65536) - 32768 AS pv,
             (i // ch) AS t
           FROM idx)
         SELECT doc_id AS media_id, t // 16 AS frame_ix,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(abs(v)) AS BIGINT) AS abs_sum,
           CAST(SUM(v * v) AS BIGINT) AS sq_sum,
           CAST(SUM(CASE WHEN t % 16 > 0 AND ((pv < 0) != (v < 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         FROM s WHERE (t // 16) % 2 = 0 GROUP BY 1, 2""")),
    // fixed-model twin of the PALETTE (color-type-3) PNG path: indices follow a SQL-expressible law over a
    // law-valued 8-color PLTE, odd ids carry a 5-entry tRNS (so both the
    // RGB and the RGBA/alpha-default paths are cross-engine pinned),
    // assembled into REAL palette PNGs and decoded through the real
    // Inflater + unfilter + PLTE/tRNS expansion. Every 3rd id packs the
    // SAME indices at bit depth 4 (MSB-first sub-8 scanlines) and every
    // 5th lays them out Adam7-interlaced (NEW r12) — decoded pixels are
    // identical by law, so the one oracle pins the sub-8 unpacking AND
    // the deinterlace too: a packing or pass-layout bug diverges exactly
    // those ids. 32 px ⇒ sums/32 exact at 6dp (power-of-two denominator
    // rule)
    QueryDef("q_png_palette_fixed", (s, d) => {
      import s.implicits._
      val palette = Array.tabulate(24)(j =>
        (((j / 3) * 53 + (j % 3) * 19) % 256).toByte)
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val idx = Array.tabulate(32)(i =>
          (((id * 2654435761L + i * 2246822519L) / 8) % 8).toByte)
        val alpha =
          if (id % 2 == 1)
            Some(Array.tabulate(5)(c => ((c * 29 + 7) % 256).toByte))
          else None
        Multimodal.MediaRecord(id, "image",
          Multimodal.Decoders.palettePng(8, 4, palette, idx, alpha,
            bitDepth = if (id % 3 == 0) 4 else 8,
            interlaced = id % 5 == 0))
      }.toDF()
      fixedFeatures(media, nMeans = 4)
    },
      // fixed-model PALETTE PNG oracle: regenerate the index law, expand it
      // through the same law-valued PLTE (+ tRNS alpha for odd ids, default
      // 255 past its 5 entries) and recompute per-channel means — any
      // index/palette/alpha mapping bug in the real decode diverges
      Oracle(s"""WITH docs AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS ch
           FROM documents),
         px AS (SELECT doc_id, ch, unnest(range(0, 32)) AS i FROM docs),
         ix AS (SELECT doc_id, ch,
             ((doc_id*2654435761 + i*2246822519) // 8) % 8 AS idx FROM px),
         chan AS (SELECT doc_id, ch, idx, unnest(range(0, ch)) AS c FROM ix),
         v AS (SELECT doc_id, ch, c,
             CASE WHEN c < 3 THEN (idx*53 + c*19) % 256
                  WHEN idx < 5 THEN (idx*29 + 7) % 256
                  ELSE 255 END AS val
           FROM chan),
         m AS (SELECT doc_id, ch, c, SUM(val) / 32.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         ${channelMeansSql(8, 4, "ch", 4)}""")),
    // fixed-model twin of the PROGRESSIVE JPEG path: the q_jpeg_fixed flat-even-block lossless subspace
    // through the SOF2 container — interleaved DC scan + banded AC scans
    // whose all-zero bands exercise the EOB-run machinery end to end; the
    // multi-scan coefficient accumulation must land exactly where the
    // baseline single scan does, so the q_jpeg_fixed oracle replays it
    QueryDef("q_jpeg_prog_fixed", (s, d) =>
      fixedFeatures(flatBlockMedia(s, d)(px =>
        Jpeg.encodeProgressive(px, 16, 8, 1, subsample = false)),
        nMeans = 1),
      // the PROGRESSIVE JPEG decodes to the identical pixels by law (the
      // SOF2 multi-scan accumulation lands on the same flat even blocks)
      SameAs("q_jpeg_fixed")),
    // fixed-model twin of the GIF ANIMATION CANVAS semantics (NEW r12):
    // real animations ship frame 2+ as sub-screen patches — this pins the
    // composition. A 4x4 screen over the fixed 4-color table: frame 0 is
    // a full-screen law image; frame 1 is a 2x2 patch at (1,1) whose LAW
    // transparent index reveals frame 0 underneath, disposal 2 (clear the
    // rect after snapshot); frame 2 is a 2x2 patch at (2,2) drawn over
    // the partially-cleared canvas — pixels cleared and not redrawn stay
    // transparent and count 0 toward every mean. All palette colors are
    // 0/255 one-hot, so each mean is 255·k/16 — exact at 6dp
    QueryDef("q_gif_canvas_fixed", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        def lawA(i: Int) =
          (((id * 2654435761L + i * 2246822519L) / 8) % 4).toInt
        def lawB(j: Int) = (((id * 7919L + j * 104729L) / 4) % 4).toInt
        def lawC(j: Int) = (((id * 15923L + j * 7919L) / 8) % 4).toInt
        val t1 = (((id * 40503L) / 8) % 4).toInt
        Multimodal.MediaRecord(id, "video", Multimodal.Decoders.gif89Anim(
          4, 4, Seq(
            Multimodal.Decoders.GifPatch(0, 0, 4, 4,
              Array.tabulate(16)(lawA)),
            Multimodal.Decoders.GifPatch(1, 1, 2, 2,
              Array.tabulate(4)(lawB), transparent = Some(t1),
              disposal = 2),
            Multimodal.Decoders.GifPatch(2, 2, 2, 2,
              Array.tabulate(4)(lawC)))))
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 1,
        frames = Multimodal.Decoders.gifCanvasFrames)
        .select(col("media_id"), col("frame_ix"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"),
          col("mean_a"))
    },
      // fixed-model GIF ANIMATION CANVAS oracle: replay the composition
      // per pixel — frame 0 full law image; frame 1 patch at (1,1) whose
      // law transparent index reveals frame 0; frame 2 drawn after the
      // disposal-2 clear, so rect pixels not redrawn are transparent and
      // count 0 toward every mean (guarded p1/p2 terms are only read
      // inside their rects)
      Oracle("""WITH fr AS (SELECT doc_id, unnest(range(0, 3)) AS f
                     FROM documents),
         xy AS (SELECT doc_id, f, unnest(range(0, 4)) AS y FROM fr),
         pix AS (SELECT doc_id, f, y, unnest(range(0, 4)) AS x FROM xy),
         v AS (SELECT doc_id, f, y, x,
             ((doc_id*2654435761 + (y*4+x)*2246822519) // 8) % 4 AS a,
             (x BETWEEN 1 AND 2 AND y BETWEEN 1 AND 2) AS in1,
             ((doc_id*7919 + ((y-1)*2+(x-1))*104729) // 4) % 4 AS p1,
             ((doc_id*40503) // 8) % 4 AS t1,
             (x BETWEEN 2 AND 3 AND y BETWEEN 2 AND 3) AS in2,
             ((doc_id*15923 + ((y-2)*2+(x-2))*7919) // 8) % 4 AS p2
           FROM pix),
         w AS (SELECT doc_id, f, in1, in2, p2,
             CASE WHEN in1 AND p1 <> t1 THEN p1 ELSE a END AS v1, a
           FROM v),
         px AS (SELECT doc_id, f,
             CASE WHEN f < 2 THEN TRUE
                  ELSE NOT (in1 AND NOT in2) END AS op,
             CASE WHEN f = 0 THEN a
                  WHEN f = 1 THEN v1
                  WHEN in2 THEN p2
                  WHEN in1 THEN NULL
                  ELSE v1 END AS idx
           FROM w),
         c AS (SELECT doc_id, f,
             SUM(CASE WHEN op AND idx = 1 THEN 255.0 ELSE 0 END)/16 AS mr,
             SUM(CASE WHEN op AND idx = 2 THEN 255.0 ELSE 0 END)/16 AS mg,
             SUM(CASE WHEN op AND idx = 3 THEN 255.0 ELSE 0 END)/16 AS mb,
             SUM(CASE WHEN op THEN 255.0 ELSE 0 END)/16 AS ma
           FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id, f AS frame_ix,
           4 AS width, 4 AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b, round(ma, 6) AS mean_a
         FROM c""")),
    // fixed-model twin of the 16-BIT PNG path: samples follow a SQL-expressible integer law in
    // [0, 65535], assembled into REAL 16-bit PNGs (big-endian two-byte
    // samples, real zlib + CRCs) and decoded through the real path; the
    // decoder's declared scaling law is sample8 = sample16 >> 8, which
    // the oracle replays as // 256. Channels cycle 1/3/4; every other id
    // lays the SAME samples out Adam7-interlaced (identical pixels by
    // law — the palette-oracle trick, so this one oracle pins 16-bit
    // interlace too). 32 px/channel ⇒ sums/32 exact at 6dp
    QueryDef("q_png16_fixed", (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val ch = (id % 3) match {
          case 0 => 1
          case 1 => 3
          case _ => 4
        }
        val samples = Array.tabulate(8 * 4 * ch.toInt)(i =>
          (((id * 2654435761L + i * 2246822519L) / 8) % 65536).toInt)
        Multimodal.MediaRecord(id, "image",
          Multimodal.Decoders.png16FromSamples(8, 4, ch.toInt, samples,
            interlaced = id % 2 == 1))
      }.toDF()
      fixedFeatures(media, nMeans = 4)
    },
      // fixed-model 16-BIT PNG oracle: regenerate the 16-bit sample law and
      // apply the decoder's declared scaling (sample8 = sample16 >> 8,
      // replayed as // 256 — both truncate on these nonnegative values);
      // interlaced ids decode to the same pixels by construction, so one
      // oracle covers both layouts
      Oracle(s"""WITH $pngLawDocsCte,
         px AS (SELECT doc_id, ch, unnest(range(0, 32 * ch)) AS i FROM docs),
         v AS (SELECT doc_id, ch, i % ch AS c,
             (((doc_id*2654435761 + i*2246822519) // 8) % 65536) // 256
               AS val FROM px),
         m AS (SELECT doc_id, ch, c, SUM(val) / 32.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         ${channelMeansSql(8, 4, "ch", 4)}""")),
  )
}
