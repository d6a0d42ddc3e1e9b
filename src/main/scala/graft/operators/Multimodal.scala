package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MediaFormats
import graft.queries.Tables.documents
import graft.operators.Artifacts.{readCommitted, scratch, storedTable}
import graft.operators.Ingest.DocGen

/** Multimodal-column plumbing (SURVEY.md §2.11): image/audio payloads as
  * `binary` columns with typed metadata, feature extraction as a narrow
  * typed mapPartitions stage (the Scala analog of a Pandas-UDF
  * `mapInPandas` stage: one iterator per partition, vectorizable batch
  * shape, no per-row driver work).
  *
  * The decode step is REAL: graft.functions.MediaFormats implements the
  * PNG (chunk walk + CRC32 + inflate + full unfilter), baseline JPEG
  * (marker walk, DQT/DHT, Huffman entropy decode, dequantize, IDCT),
  * GIF (variable-width LZW, interlace, palette luma),
  * BMP and PCM-WAV container formats, and [[extractFeatures]] sniffs
  * the format from magic bytes and parses actual file structure. What
  * is synthetic — and clearly scoped — is the CORPUS: this container
  * ships no media files, so [[mediaFrame]] renders deterministic
  * PNG/WAV/BMP/JPEG payloads from doc_id (formulas below), which is
  * precisely what lets the DuckDB oracle brute-force the expected
  * decoded structure and certify the byte-level encode→decode
  * round-trip (a wrong chunk offset, CRC, filter, Huffman code or
  * endianness turns the gate red). Video container parsing
  * (mp4/mkv) is OUT of scope — at 100 TB those stay opaque
  * payload+`ref` columns feeding an external transcode fleet, which the
  * oversize-`ref` split below models.
  *
  * 100 TB design notes:
  *  - Payloads stay columnar in parquet (BinaryType); metadata columns
  *    (mime, n_bytes, width, …) are scalar and prunable, so
  *    metadata-only queries never read payload bytes (MultimodalSpec
  *    asserts the pruning).
  *  - Oversized payloads (> [[Multimodal.InlineCap]]) are not inlined:
  *    the payload column is NULL and `ref` carries an object-store path —
  *    the standard pattern for >1 MB media at scale.
  *  - Feature extraction is a narrow mapPartitions batch — no shuffle;
  *    downstream similarity reuses the embedding operators (Similarity).
  */
object Multimodal {

  /** Inline-payload cap (bytes); larger objects go by reference. */
  val InlineCap: Int = 1 << 20

  /** Typed record for the partition-batch stages. */
  case class MediaRecord(
      media_id: Long,
      mime: String,
      payload: Array[Byte])

  case class MediaFeatures(
      media_id: Long,
      mime: String,
      width: Int,
      height: Int,
      n_units: Long,
      value_sum: Long,
      ok: Boolean)

  // --- deterministic corpus synthesis (doc_id → real media bytes) -----
  // Formulas are mirrored in the DuckDB oracles; change BOTH or neither.

  private[operators] def pngDims(d: Long): (Int, Int) =
    (8 + (d % 9).toInt, 8 + ((d / 9) % 9).toInt)
  private[operators] def bmpDims(d: Long): (Int, Int) =
    (8 + (d % 7).toInt, 8 + ((d / 7) % 7).toInt)
  private[graft] def pixel(d: Long)(x: Int, y: Int): Int =
    ((x + 3L * y + d) % 256).toInt
  private[graft] def wavRate(d: Long): Int =
    Array(8000, 16000, 44100)(((d / 3) % 3).toInt)
  private[graft] def wavSamples(d: Long): Array[Short] = {
    val n = 200 + (d % 100).toInt
    val mult = (d % 251) + 3
    Array.tabulate(n)(i => ((i * mult % 2003) - 1001).toShort)
  }

  // JPEG is lossy, so its synthesized frames are 8×8-BLOCK-constant:
  // a DC-only block survives quantize→IDCT bit-exactly in every
  // conformant decoder (see MediaFormats.encodeJpegGray), which is what
  // lets a SQL oracle predict the decoded pixel sum of a lossy format.
  private[operators] def jpgDims(d: Long): (Int, Int) =
    (8 * (1 + (d % 3).toInt), 8 * (1 + ((d / 3) % 3).toInt))
  private[operators] def blockVal(d: Long)(bx: Int, by: Int): Int =
    ((bx + 3L * by + d) % 256).toInt

  private[graft] def vidDims(d: Long): (Int, Int) =
    (8 + (d % 10).toInt, 8 + ((d / 10) % 10).toInt)
  private[graft] def vidFrames(d: Long): Int = 2 + (d % 5).toInt

  /** Every VideoDupMod-th doc also ships a RE-ENCODED duplicate of its
    * animation (same frames, rotated palette — different bytes, same
    * content), re-identified at +VideoDupOffset. */
  private[graft] val VideoDupMod: Long = 4L
  private[graft] val VideoDupOffset: Long = 30000000L
  private[graft] def vidShift(d: Long): Int = 1 + (d % 200).toInt

  /** The DEDUP corpus's frame content — quadratic in (x, y) with
    * doc-derived coefficients, unlike [[vidPixel]]'s shared linear
    * gradient: a gradient hash (dHash) sees every linear ramp as the
    * same scene, which is faithful to perceptual hashing but makes a
    * corpus of identical ramps collide wholesale. Distinct curvature
    * per video is what real footage has and what makes the pair set
    * the PLANTED duplicates plus a deterministic handful of honest
    * look-alikes (the oracle brute-forces whichever they are). */
  private[graft] def vdupPixel(d: Long, f: Int)(x: Int, y: Int): Int =
    ((x.toLong * x * (1 + d % 5) + y.toLong * y * (2 + d % 7) +
      x.toLong * y * (1 + (d / 7) % 3) + 17L * f + d) % 256).toInt

  private[operators] def renderPayload(d: Long): (String, Array[Byte]) =
    (d % 4) match {
      case 0 =>
        val (w, h) = pngDims(d)
        ("image/png", MediaFormats.encodePng(w, h, pixel(d)))
      case 1 =>
        ("audio/wav", MediaFormats.encodeWav(wavRate(d), wavSamples(d)))
      case 2 =>
        val (w, h) = bmpDims(d)
        ("image/bmp", MediaFormats.encodeBmp(w, h, pixel(d)))
      case _ =>
        val (w, h) = jpgDims(d)
        ("image/jpeg", MediaFormats.encodeJpegGray(w, h, blockVal(d)))
    }

  /** Build the multimodal frame from `documents`: one REAL media file per
    * doc (rendered in a narrow mapPartitions stage), metadata columns
    * derived from the payload, inline-vs-reference split applied. */
  def mediaFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rendered = docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val (mime, bytes) = renderPayload(d)
        MediaRecord(d, mime, bytes)
      }).toDF()
    inlineSplit(rendered, InlineCap)
  }

  /** The rendered media frame written ONCE per (app, corpus) — the same
    * ingest-amortization pattern as Ingest.ensureSketchedDocs: media
    * synthesis (standing in for the real upstream fetch/transcode) runs
    * a single time and every metadata / decode / resize query reads the
    * STORED binary column. The decode gates still parse real bytes —
    * they just come off parquet, as they would in production. */
  def ensureMediaFrame(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val root = s.conf.getOption("graft.scratch").getOrElse("target/tmp")
    val path = s"$root/${s.sparkContext.applicationId}/media_" +
      dir.replaceAll("[^0-9a-zA-Z]", "_")
    mediaFrame(graft.queries.Tables.documents(s, dir))
      .write.mode("ignore").parquet(path)
    readCommitted(s, path)
  }

  /** Metadata derivation + inline-vs-reference split over a rendered
    * (media_id, mime, payload) frame. */
  def inlineSplit(rendered: DataFrame, cap: Int): DataFrame =
    rendered.select(
      col("media_id"), col("mime"),
      length(col("payload")).cast(LongType).as("n_bytes"),
      xxhash64(col("payload")).as("checksum"),
      when(length(col("payload")) <= cap, col("payload")).as("payload"),
      when(length(col("payload")) > cap,
        concat(lit("ref://media/"), col("media_id"))).as("ref"))

  /** Partition-batch feature extraction: format sniffed from magic bytes
    * (not the mime label), then a full structural parse — dimensions,
    * unit counts and value sums come from DECODED bytes (PNG: CRC-checked
    * chunks, inflated and unfiltered scanlines). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("mime"), col("payload"))
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        val info = MediaFormats.decode(
          Option(r.payload).getOrElse(Array.emptyByteArray))
        MediaFeatures(r.media_id, r.mime, info.width, info.height,
          info.nUnits, info.valueSum, info.ok)
      })
  }

  /** Resize / frame-sample pass: nearest-neighbor decimation by `stride`
    * DURING decode (images: every stride-th pixel per axis in image
    * coordinates; audio: every stride-th sample). PNG unfiltering must
    * reconstruct every pixel anyway, so the downsample is free — one
    * pass, fixed-width output, the thumbnail-metrics shape at scale. */
  def resizeFeatures(media: DataFrame, stride: Int): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("mime"), col("payload"))
      .as[MediaRecord]
      .mapPartitions(_.map { r =>
        val info = MediaFormats.decode(
          Option(r.payload).getOrElse(Array.emptyByteArray), stride)
        MediaFeatures(r.media_id, r.mime, info.width, info.height,
          info.nUnits, info.valueSum, info.ok)
      })
  }

  // --- perceptual hash (image dedup) -----------------------------------

  /** dHash sample grid: 8 rows × 8 nearest-neighbor sample columns → 7
    * horizontal gradient bits per row = 56 bits, packed LSB-first into
    * a BIGINT (bit 55 max — never the sign bit, so the packed hash
    * compares and groups identically in Spark and the oracle). */
  val DHashGrid: Int = 8

  /** Difference hash over a decoded gray grid (Krawetz's dHash with
    * integer nearest-neighbor sampling instead of area interpolation —
    * every sampled coordinate is `i*dim div grid`, so the value is
    * bit-reproducible from the pixel formulas alone and the oracle can
    * replay it without touching a container). Size-normalizing the
    * sample grid is what makes the hash perceptual: the same scene
    * rendered at different dimensions or in a different lossless
    * container lands in the same bucket. Returns 0 for undecodable
    * payloads (callers carry `ok` alongside). */
  def dHash(g: MediaFormats.GrayImage): Long = {
    if (!g.ok || g.px.isEmpty) return 0L
    var h = 0L
    var j = 0
    while (j < DHashGrid) {
      val y = j * g.height / DHashGrid
      var i = 0
      while (i < DHashGrid - 1) {
        val x0 = i * g.width / DHashGrid
        val x1 = (i + 1) * g.width / DHashGrid
        if (g.px(y * g.width + x1) > g.px(y * g.width + x0))
          h |= 1L << (j * (DHashGrid - 1) + i)
        i += 1
      }
      j += 1
    }
    h
  }

  // --- perceptual audio hash (waveform dedup) ---------------------------

  /** Energy-delta windows of the audio hash: 33 duration-normalizing
    * windows → 32 consecutive-delta bits. */
  val AHashWindows: Int = 33

  /** Every AudioDup docs (residue [[AudioDupRem]]) also ship a TAGGED
    * re-encode of their waveform (extra LIST/INFO chunk — different
    * bytes, identical PCM), re-identified at +AudioDupOffset. */
  private[graft] val AudioDupMod: Long = 5L
  private[graft] val AudioDupRem: Long = 2L
  private[graft] val AudioDupOffset: Long = 40000000L

  /** Difference hash over a decoded waveform — [[dHash]]'s construction
    * on the time axis: 33 duration-normalizing windows (bounds
    * `i*n div 33`, so the value is bit-reproducible from the sample
    * formulas alone), window energy = Σ|sample|, bit i set iff
    * E(i+1) > E(i). Duration normalization is what makes it
    * perceptual: the same clip re-containerized (or padded with
    * metadata) lands in the same bucket, while 32 delta bits over
    * pseudo-random energies keep unrelated clips apart. Returns 0 for
    * undecodable/empty input (callers carry `ok`). */
  def aHash(samples: Array[Int]): Long = {
    val n = samples.length
    if (n < AHashWindows) return 0L
    val e = new Array[Long](AHashWindows)
    var i = 0
    while (i < AHashWindows) {
      var j = i * n / AHashWindows
      val hi = (i + 1) * n / AHashWindows
      var s = 0L
      while (j < hi) { s += math.abs(samples(j)); j += 1 }
      e(i) = s
      i += 1
    }
    var h = 0L
    i = 0
    while (i < AHashWindows - 1) {
      if (e(i + 1) > e(i)) h |= 1L << i
      i += 1
    }
    h
  }

  // --- stored perceptual-hash index + deletion (the 7th axis) ---------

  /** Every `% MediaForgetMod`-th doc is retracted in the multimodal
    * takedown fixture (all its modalities at once — a takedown is
    * doc-keyed, not per-container). 20 ≡ 0 (mod 4), so every retracted
    * id is a PNG member of the image-dedup surface. */
  private[graft] val MediaForgetMod: Long = 20L

  /** STORED perceptual-hash index over all three modalities — the
    * docs_sketched posture on the multimodal axis (r12 verdict #5):
    * decode + hash run ONCE at ingest, every dedup serve reads
    * (media_id, modality, pos, phash) rows and never touches payload
    * bytes again. At 100 TB the decode pass is the expensive stage by
    * orders of magnitude, so re-running it per query (the fresh gates'
    * shape, kept as the build-path pins) is the wrong posture — and a
    * takedown needs a stored row to mask/purge, which recompute-per-
    * query structurally cannot provide. Layout: modality-partitioned,
    * images carry their mime (the cross-container cluster column),
    * videos one row per SAMPLED frame (pos = frame index; a decode
    * failure keeps the fresh path's sentinel row pos=-1/phash=0/ok=
    * false so it still reddens any gate it reaches), audio one aHash
    * row per clip. */
  def ensureMediaHashIndex(s: SparkSession, dir: String): DataFrame =
    hashTable(s, dir, "_v1") {
      import s.implicits._
      // every row carries src_id — the ORIGINATING document — because a
      // takedown is keyed by the content's source, not the container's
      // identity: a doc's video re-encode (+VideoDupOffset) and tagged
      // audio copy (+AudioDupOffset) are the same retracted content
      // under different bytes, and a deletion that missed them would
      // keep serving what it claims to have removed
      val img = ensureMediaFrame(s, dir)
        .filter(col("mime").isin("image/png", "image/bmp"))
        .select(col("media_id"), col("mime"), col("payload")).as[MediaRecord]
        .mapPartitions(_.map { r =>
          val g = MediaFormats.decodeGray(
            Option(r.payload).getOrElse(Array.emptyByteArray))
          (r.media_id, r.media_id, "image", r.mime, 0L, dHash(g), g.ok)
        }).toDF("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
      val vid = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { d =>
          val (w, h) = vidDims(d)
          val nf = vidFrames(d)
          val renders = Seq(
            d -> MediaFormats.encodeGifAnim(w, h, nf, f => vdupPixel(d, f))) ++
            (if (d % VideoDupMod == 0)
              Seq((d + VideoDupOffset) -> MediaFormats.encodeGifAnimShifted(
                w, h, nf, f => vdupPixel(d, f), vidShift(d)))
            else Seq.empty)
          renders.iterator.flatMap { case (mid, bytes) =>
            val (grays, _, ok) = MediaFormats.decodeGifFrameGrays(bytes, 2)
            if (!ok) Iterator((mid, d, "video", "video/gif", -1L, 0L, false))
            else grays.iterator.zipWithIndex.map { case (g, i) =>
              (mid, d, "video", "video/gif", 2L * i, dHash(g), true)
            }
          }
        }).toDF("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
      val aud = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { d =>
          val samples = wavSamples(d)
          val rate = wavRate(d)
          val renders = Seq(
            d -> MediaFormats.encodeWav(rate, samples)) ++
            (if (d % AudioDupMod == AudioDupRem)
              Seq((d + AudioDupOffset) -> MediaFormats.encodeWavTagged(
                rate, samples, s"graft transcode of $d"))
            else Seq.empty)
          renders.iterator.map { case (mid, bytes) =>
            val (ss, _, ok) = MediaFormats.decodeWavSamples(bytes)
            (mid, d, "audio", "audio/wav", 0L, aHash(ss), ok)
          }
        }).toDF("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
      img.unionByName(vid).unionByName(aud)
    }

  /** One generation of the hash index, `media_phash<suffix>`,
    * modality-partitioned. */
  private def hashTable(s: SparkSession, dir: String, suffix: String)(
      rows: => DataFrame): DataFrame =
    storedTable(s, scratch(s, dir, s"media_phash$suffix"), Some("modality"))(rows)

  /** Append-batch id offset on the media axis (the DocAppendOffset
    * convention): every `% 101`-th image re-arrives as a CROSS-CONTAINER
    * re-encode of the same scene. */
  private[graft] val MediaAppendOffset: Long = 60000000L

  /** The delta batch's video arrivals: every `% VideoAppendMod`-th doc's
    * clip re-arrives RE-ENCODED (rotated palette — new bytes, identical
    * decoded frames) at `src + VideoAppendOffset`. Distinct offset per
    * modality so no delta id can collide with another modality's. */
  private[graft] val VideoAppendMod: Long = 103L
  private[graft] val VideoAppendOffset: Long = 61000000L

  /** The delta batch's audio arrivals: every `% AudioAppendMod`-th doc's
    * clip re-arrives as a TAGGED copy (ancillary LIST/INFO chunk — new
    * bytes, identical PCM) at `src + AudioAppendOffset`. */
  private[graft] val AudioAppendMod: Long = 107L
  private[graft] val AudioAppendOffset: Long = 62000000L

  /** The delta batch's decode+hash INGEST KERNEL over any arriving
    * `doc_id` frame — batch ([[mediaServed]]'s `media_phash_delta`) and streaming
    * (streaming/MediaStream) share this body, so streaming ≡ batch on
    * the media ingest axis is structural. The delta is ONE generation
    * across all modalities (an arriving batch is not modality-siloed):
    * a cross-container image re-encode, a video re-encode and a tagged
    * audio copy of already-indexed sources land through the same
    * kernel as the base build — decode the ARRIVING bytes only, never
    * a byte of the base corpus. */
  private[graft] def deltaHashKernel(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val img = docs
      .filter(col("doc_id") % 101 === 0 &&
        (col("doc_id") % 4 === 0 || col("doc_id") % 4 === 2))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val (w, h) = if (d % 4 == 0) pngDims(d) else bmpDims(d)
        val (mime, bytes) =
          if (d % 4 == 0) ("image/bmp", MediaFormats.encodeBmp(w, h, pixel(d)))
          else ("image/png", MediaFormats.encodePng(w, h, pixel(d)))
        val g = MediaFormats.decodeGray(bytes)
        (d + MediaAppendOffset, d, "image", mime, 0L, dHash(g), g.ok)
      }).toDF("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
    val vid = docs
      .filter(col("doc_id") % VideoAppendMod === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val (w, h) = vidDims(d)
        val nf = vidFrames(d)
        val bytes = MediaFormats.encodeGifAnimShifted(
          w, h, nf, f => vdupPixel(d, f), 1 + ((d / 3) % 200).toInt)
        val (grays, _, ok) = MediaFormats.decodeGifFrameGrays(bytes, 2)
        val mid = d + VideoAppendOffset
        if (!ok) Iterator((mid, d, "video", "video/gif", -1L, 0L, false))
        else grays.iterator.zipWithIndex.map { case (g, i) =>
          (mid, d, "video", "video/gif", 2L * i, dHash(g), true)
        }
      }).toDF("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
    val aud = docs
      .filter(col("doc_id") % AudioAppendMod === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val bytes = MediaFormats.encodeWavTagged(
          wavRate(d), wavSamples(d), s"graft delta copy of $d")
        val (ss, _, ok) = MediaFormats.decodeWavSamples(bytes)
        (d + AudioAppendOffset, d, "audio", "audio/wav", 0L, aHash(ss), ok)
      }).toDF("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
    img.unionByName(vid).unionByName(aud)
  }

  /** The stored multimodal takedown set (doc-keyed media ids). */
  def ensureMediaForgetSet(s: SparkSession, dir: String): DataFrame =
    storedTable(s, scratch(s, dir, "media_forget"))(documents(s, dir)
      .filter(col("doc_id") % MediaForgetMod === 0)
      .select(col("doc_id").as("media_id")))

  /** THE served-generation accessor of the stored hash index — the
    * [[DocGen]] lifecycle on the multimodal axis. Every rewritten
    * generation lands under its own `media_phash<suffix>` path next to
    * the frozen base.
    *
    *  - Base: `media_phash_v1`.
    *  - Appended: the base plus `media_phash_delta`, the arriving batch
    *    hashed by [[deltaHashKernel]]: each `% 101`-th image re-arrives
    *    as a cross-container re-encode (PNG source → BMP copy and vice
    *    versa — every byte differs, the decoded pixels do not), plus
    *    video re-encodes and tagged audio copies — the arriving-
    *    duplicate shape a 100 TB media pipeline must catch WITHOUT
    *    re-decoding one byte of the base corpus.
    *  - Compacted: Appended rewritten as `media_phash_compacted` —
    *    hashes are container-independent, so compaction is a pure
    *    layout job (16 B/row read and written back, zero decode).
    *  - Masked(t, over): chain `over` minus every row whose SOURCE doc
    *    `t` retracts — one broadcast anti-join on `src_id`, after the
    *    scan and before any clustering, so the delta's copies of a
    *    retracted doc go with it. A takedown is doc-keyed: a doc's
    *    video re-encode and tagged audio copy are the same retracted
    *    content under different bytes, and keying on media_id alone
    *    would keep serving them. [[Tombstones.Stored]] here is the
    *    media fixture, [[ensureMediaForgetSet]].
    *  - Purged(t, over): Masked rewritten as its own `media_phash`
    *    generation, served mask-free; the purge gates share the forget
    *    oracles verbatim (masked ≡ purged pinned by one hash).
    *  - Retrained: rejected. */
  def mediaServed(s: SparkSession, dir: String, gen: DocGen): DataFrame =
    gen match {
      case DocGen.Base => ensureMediaHashIndex(s, dir)
      case DocGen.Appended => ensureMediaHashIndex(s, dir).unionByName(
        hashTable(s, dir, "_delta")(deltaHashKernel(documents(s, dir))))
      case DocGen.Compacted =>
        hashTable(s, dir, "_compacted")(mediaServed(s, dir, DocGen.Appended))
      case DocGen.Masked(t, over) =>
        Ingest.minus(mediaServed(s, dir, over), t.keyed(s, dir, "src_id",
          ensureMediaForgetSet(s, dir).select(col("media_id").as("src_id"))), "src_id")
      case DocGen.Purged(t, over) =>
        hashTable(s, dir, DocGen.purgedSuffix(s, dir, t, over))(
          mediaServed(s, dir, DocGen.Masked(t, over)))
      case other => throw new IllegalArgumentException(
        s"the media hash index has no $other generation")
    }

  /** Image dedup over ANY hash-index frame (a [[mediaServed]]
    * generation, or base ∪ a streamed delta). */
  def imageDedup(index: DataFrame): DataFrame =
    imageClusters(index.filter(col("modality") === "image")
      .select(col("media_id"), col("mime"), col("phash").as("dhash"), col("ok")))

  /** Video-pair dedup over ANY hash-index frame — e.g. base ∪ a delta
    * landed by the streaming ingest twin ([[graft.streaming.MediaStream]]):
    * media that arrived VIA A STREAM serve through the identical banded
    * pair machinery, no batch re-ingest. */
  def videoDedup(index: DataFrame): DataFrame =
    videoPairs(index.filter(col("modality") === "video")
      .select(col("media_id"), col("pos").as("frame"), col("phash").as("dhash")))

  /** Audio dedup over ANY hash-index frame. */
  def audioDedup(index: DataFrame): DataFrame =
    audioClusters(index.filter(col("modality") === "audio")
      .select(col("media_id"), col("phash").as("ahash"), col("ok")))

  /** Image-dedup clustering over ANY (media_id, mime, dhash, ok) frame
    * — freshly decoded or read from the stored index. */
  private[graft] def imageClusters(hashed: DataFrame): DataFrame =
    hashed.groupBy("dhash")
      .agg(count(lit(1)).as("n_images"),
        countDistinct("mime").cast(LongType).as("n_mimes"),
        min("media_id").as("keep_id"),
        sum("media_id").as("id_sum"),
        min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
      .orderBy("dhash")

  /** Cross-video pair verification over ANY (media_id, frame, dhash)
    * frame — banded candidates on (frame, hash), shared-position
    * verify; never all-pairs. */
  private[graft] def videoPairs(hashed0: DataFrame): DataFrame = {
    val hashed = hashed0
      // a decode failure is ONE sentinel row (frame=-1, dhash=0), not a
      // frame hash: two unrelated undecodable videos must not meet in
      // the (frame, dhash) band and be reported as near-duplicates —
      // an undecodable video has no frame evidence and joins nothing
      .filter(col("frame") >= 0)
      .localCheckpoint() // three consumers: counts + both join sides
    val counts = hashed.groupBy("media_id").agg(count(lit(1)).as("n"))
    val a = hashed.select(col("media_id").as("vid1"),
      col("frame"), col("dhash"))
    val b = hashed.select(col("media_id").as("vid2"),
      col("frame"), col("dhash"))
    a.join(b, Seq("frame", "dhash"))
      .filter(col("vid1") < col("vid2"))
      .groupBy("vid1", "vid2").agg(count(lit(1)).as("n_common"))
      .join(broadcast(counts.select(col("media_id").as("vid1"),
        col("n").as("n1"))), "vid1")
      .join(broadcast(counts.select(col("media_id").as("vid2"),
        col("n").as("n2"))), "vid2")
      .withColumn("n_union", col("n1") + col("n2") - col("n_common"))
      .filter(col("n_common") * 2 >= col("n_union"))
      .select("vid1", "vid2", "n_common", "n_union")
      .orderBy("vid1", "vid2")
  }

  /** Audio-dedup clustering over ANY (media_id, ahash, ok) frame. */
  private[graft] def audioClusters(hashed: DataFrame): DataFrame =
    hashed.groupBy("ahash")
      .agg(count(lit(1)).as("n_audios"),
        min("media_id").as("keep_id"),
        sum("media_id").as("id_sum"),
        min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
      .orderBy("ahash")

  /** Deletion surface this module contributes to the composed takedown
    * (TakedownSpec derives the expected axis set from these). */
  val takedownAxes: Seq[String] = Seq("media")
}
