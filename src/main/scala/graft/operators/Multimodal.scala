package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MediaFormats
import graft.queries.Tables.documents
import graft.operators.Artifacts.{readCommitted, scratch, storedTable}
import graft.operators.Ingest.{DocGen, Tombstones}

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
  private[operators] def pixel(d: Long)(x: Int, y: Int): Int =
    ((x + 3L * y + d) % 256).toInt
  private[operators] def wavRate(d: Long): Int =
    Array(8000, 16000, 44100)(((d / 3) % 3).toInt)
  private[operators] def wavSamples(d: Long): Array[Short] = {
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

  private[operators] def gifDims(d: Long): (Int, Int) =
    (8 + (d % 11).toInt, 8 + ((d / 11) % 11).toInt)

  private[operators] def vidDims(d: Long): (Int, Int) =
    (8 + (d % 10).toInt, 8 + ((d / 10) % 10).toInt)
  private[operators] def vidFrames(d: Long): Int = 2 + (d % 5).toInt
  private[operators] def vidPixel(d: Long, f: Int)(x: Int, y: Int): Int =
    ((x + 3L * y + 17L * f + d) % 256).toInt

  /** Every VideoDupMod-th doc also ships a RE-ENCODED duplicate of its
    * animation (same frames, rotated palette — different bytes, same
    * content), re-identified at +VideoDupOffset. */
  private[graft] val VideoDupMod: Long = 4L
  private[graft] val VideoDupOffset: Long = 30000000L
  private[operators] def vidShift(d: Long): Int = 1 + (d % 200).toInt

  /** The DEDUP corpus's frame content — quadratic in (x, y) with
    * doc-derived coefficients, unlike [[vidPixel]]'s shared linear
    * gradient: a gradient hash (dHash) sees every linear ramp as the
    * same scene, which is faithful to perceptual hashing but makes a
    * corpus of identical ramps collide wholesale. Distinct curvature
    * per video is what real footage has and what makes the pair set
    * the PLANTED duplicates plus a deterministic handful of honest
    * look-alikes (the oracle brute-forces whichever they are). */
  private[operators] def vdupPixel(d: Long, f: Int)(x: Int, y: Int): Int =
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
  private[operators] val AudioDupMod: Long = 5L
  private[operators] val AudioDupRem: Long = 2L
  private[operators] val AudioDupOffset: Long = 40000000L

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

  // --- query surface ---------------------------------------------------

  // --- stored perceptual-hash index + deletion (the 7th axis) ---------

  /** Every `% MediaForgetMod`-th doc is retracted in the multimodal
    * takedown fixture (all its modalities at once — a takedown is
    * doc-keyed, not per-container). 20 ≡ 0 (mod 4), so every retracted
    * id is a PNG member of the image-dedup surface. */
  private[operators] val MediaForgetMod: Long = 20L

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
  private def imageClusters(hashed: DataFrame): DataFrame =
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
  private def videoPairs(hashed0: DataFrame): DataFrame = {
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
  private def audioClusters(hashed: DataFrame): DataFrame =
    hashed.groupBy("ahash")
      .agg(count(lit(1)).as("n_audios"),
        min("media_id").as("keep_id"),
        sum("media_id").as("id_sum"),
        min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
      .orderBy("ahash")

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 23

  /** Deletion surface this module contributes to the composed takedown
    * (TakedownSpec derives the expected axis set from these). */
  val takedownAxes: Seq[String] = Seq("media")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // metadata-only aggregation — inline/ref accounting derives from the
    // scalar n_bytes column, so the stored frame's binary payload is
    // PRUNED at the scan (MultimodalSpec asserts the ReadSchema).
    "q_multimodal_meta" -> ((s, dir) =>
      ensureMediaFrame(s, dir)
        .groupBy("mime")
        .agg(count(lit(1)).as("n_media"),
          count(when(col("n_bytes") <= InlineCap, 1)).as("n_inline"),
          count(when(col("n_bytes") > InlineCap, 1)).as("n_ref"))
        .orderBy("mime")),

    // REAL decode: per-mime totals of parsed structure. The oracle
    // recomputes every number from the generator formulas (pixel sums
    // brute-forced per doc), so the hash compare certifies the whole
    // binary path: chunk offsets, CRCs, zlib, all five PNG filters, BMP
    // row order/padding, WAV chunk walk and sign extension. all_ok
    // additionally pins per-chunk CRC verification to TRUE.
    "q_multimodal_features" -> ((s, dir) =>
      extractFeatures(ensureMediaFrame(s, dir)).toDF()
        .groupBy("mime")
        .agg(count(lit(1)).as("n_media"),
          sum("width").cast(LongType).as("sum_width"),
          sum("height").cast(LongType).as("sum_height"),
          sum("n_units").as("sum_units"),
          sum("value_sum").as("sum_values"),
          min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
        .orderBy("mime")),

    // GIF (LZW) decode: every doc rendered as a real GIF87a and decoded
    // at stride 1 AND 2 in one narrow pass — the format is lossless, so
    // the oracle brute-forces exact pixel sums with no IDCT caveats; a
    // wrong LZW code width, dictionary entry, sub-block boundary or
    // palette mapping flips the hash.
    "q_multimodal_gif" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val (w, h) = gifDims(d)
          val bytes = MediaFormats.encodeGif(w, h, pixel(d))
          val full = MediaFormats.decode(bytes)
          val half = MediaFormats.decode(bytes, 2)
          (d, full.width, full.height, full.nUnits, full.valueSum,
            half.nUnits, half.valueSum, full.ok && half.ok)
        })
        .toDF("doc_id", "width", "height", "n_units", "value_sum",
          "r_units", "r_values", "ok")
        .agg(count(lit(1)).as("n_media"),
          sum("width").cast(LongType).as("sum_width"),
          sum("height").cast(LongType).as("sum_height"),
          sum("n_units").as("sum_units"),
          sum("value_sum").as("sum_values"),
          sum("r_units").as("sum_r_units"),
          sum("r_values").as("sum_r_values"),
          min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
    }),

    // VIDEO frame sampling: every doc rendered as a real multi-frame
    // animated GIF89a (GCE + NETSCAPE loop blocks) and decoded twice —
    // all frames at full resolution, and every 2nd frame at ×2 spatial
    // decimation where the skipped frames are walked at sub-block
    // granularity with NO LZW work (the 1-in-N-cost property that makes
    // frame sampling viable on a 100 TB video corpus). The oracle
    // brute-forces both per-frame pixel-sum series, so a wrong frame
    // count, a GCE mis-skip, or an off-by-one in the sampled frame set
    // flips the hash.
    "q_video_frames" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val (w, h) = vidDims(d)
          val nf = vidFrames(d)
          val bytes = MediaFormats.encodeGifAnim(w, h, nf, f => vidPixel(d, f))
          val full = MediaFormats.decodeGifFrames(bytes, 1, 1)
          val samp = MediaFormats.decodeGifFrames(bytes, 2, 2)
          (d, full.nFrames, full.valueSum, samp.nSampled, samp.valueSum,
            full.ok && samp.ok && full.nFrames == nf)
        })
        .toDF("doc_id", "n_frames", "value_sum", "s_frames", "s_values", "ok")
        .agg(count(lit(1)).as("n_videos"),
          sum("n_frames").cast(LongType).as("sum_frames"),
          sum("value_sum").as("sum_values"),
          sum("s_frames").cast(LongType).as("sum_s_frames"),
          sum("s_values").as("sum_s_values"),
          min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
    }),

    // resize / frame-sample (×2 nearest-neighbor decimation during the
    // real decode): the oracle recomputes every resized dimension and
    // even-coordinate pixel / even-index amplitude sum from the
    // generator formulas, so a half-pixel indexing slip (e.g. sampling
    // odd rows, or forgetting BMP's bottom-up storage) flips the hash.
    // perceptual image dedup: every stored lossless image (PNG + BMP)
    // decoded to its pixel grid, dHashed over the size-normalizing
    // sample grid, clustered by exact hash — the candidate stage of
    // image near-dup at 100 TB (one narrow decode pass + one groupBy on
    // a uniform 8-byte key; Hamming-refinement would reuse the simhash
    // band join). n_mimes > 1 rows are CROSS-CONTAINER clusters: the
    // same scene found through two different binary formats, which is
    // what payload-checksum dedup (q_multimodal_meta's checksum) can
    // never see. The oracle computes every hash from the dims + pixel
    // FORMULAS only — never the container — so the hash compare
    // certifies decode + sampling + packing end to end; all_ok pins
    // CRC-verified decode of every member.
    "q_image_dedup" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val hashed = ensureMediaFrame(s, dir)
        .filter(col("mime").isin("image/png", "image/bmp"))
        .select(col("media_id"), col("mime"), col("payload")).as[MediaRecord]
        .mapPartitions(_.map { r =>
          val g = MediaFormats.decodeGray(
            Option(r.payload).getOrElse(Array.emptyByteArray))
          (r.media_id, r.mime, dHash(g), g.ok)
        }).toDF("media_id", "mime", "dhash", "ok")
      imageClusters(hashed)
    }),

    // the same three dedup surfaces served from the STORED hash index
    // (r13, the docs_sketched posture on the multimodal axis): no
    // payload read, no decode at serve time — each shares its fresh
    // twin's formula-replay oracle VERBATIM, so one hash pins
    // stored-index serving ≡ decode-and-hash end to end
    "q_image_dedup_stored" -> ((s, dir) =>
      imageDedup(mediaServed(s, dir, DocGen.Base))),
    "q_video_dedup_stored" -> ((s, dir) =>
      videoDedup(mediaServed(s, dir, DocGen.Base))),
    "q_audio_dedup_stored" -> ((s, dir) =>
      audioDedup(mediaServed(s, dir, DocGen.Base))),

    // LSM on the multimodal axis: base ∪ delta serving must cluster
    // every arriving cross-container re-encode with its already-indexed
    // source — no base re-decode (the hashes are stored); compaction
    // shares the append oracle VERBATIM (merged ≡ union, one hash)
    "q_image_dedup_append" -> ((s, dir) =>
      imageDedup(mediaServed(s, dir, DocGen.Appended))),
    "q_image_dedup_compact" -> ((s, dir) =>
      imageDedup(mediaServed(s, dir, DocGen.Compacted))),

    // deletion on the multimodal axis — the matrix's SEVENTH axis: the
    // takedown set masks the stored index by a SOURCE-keyed anti-join
    // AFTER the scan and BEFORE clustering (a retracted image can
    // neither anchor nor join a cluster, and its derived assets fall
    // with it); the oracle replays image dedup over the REDUCED corpus,
    // so the hash pins the mask semantics
    "q_multimodal_forget" -> ((s, dir) =>
      imageDedup(mediaServed(s, dir, DocGen.Masked(Tombstones.Stored)))),

    // physical purge: base minus tombstones (every modality —
    // a takedown is doc-keyed), served MASK-FREE and sharing the
    // forget oracle verbatim (masked ≡ purged pinned by one hash)
    "q_multimodal_purge" -> ((s, dir) =>
      imageDedup(mediaServed(s, dir, DocGen.Purged(Tombstones.Stored)))),

    // deletion gate-checked on the OTHER two media surfaces (the purge
    // physically drops every modality; these pin that the video pair
    // set and audio clusters actually shrink to the reduced corpus —
    // a retracted doc's re-encode falls with it via the src_id key):
    // forget = src-keyed mask on the base, purge = mask-free serve
    // sharing the forget oracle verbatim
    "q_video_dedup_forget" -> ((s, dir) =>
      videoDedup(mediaServed(s, dir, DocGen.Masked(Tombstones.Stored)))),
    "q_video_dedup_purge" -> ((s, dir) =>
      videoDedup(mediaServed(s, dir, DocGen.Purged(Tombstones.Stored)))),
    "q_audio_dedup_forget" -> ((s, dir) =>
      audioDedup(mediaServed(s, dir, DocGen.Masked(Tombstones.Stored)))),
    "q_audio_dedup_purge" -> ((s, dir) =>
      audioDedup(mediaServed(s, dir, DocGen.Purged(Tombstones.Stored)))),

    // LSM append/compact closed across ALL modalities (r13 verdict #3):
    // a video re-encode and a tagged audio copy of STORED sources land
    // in the delta generation; base ∪ delta serving must cluster each
    // arrival with its already-indexed source at ZERO base re-decode
    // (both generations are 16 B/row hash reads; only the arriving
    // bytes were ever decoded, once, in the delta build). Compaction
    // shares the append oracle VERBATIM (merged ≡ union, one hash).
    "q_video_dedup_append" -> ((s, dir) =>
      videoDedup(mediaServed(s, dir, DocGen.Appended))),
    "q_video_dedup_compact" -> ((s, dir) =>
      videoDedup(mediaServed(s, dir, DocGen.Compacted))),
    "q_audio_dedup_append" -> ((s, dir) =>
      audioDedup(mediaServed(s, dir, DocGen.Appended))),
    "q_audio_dedup_compact" -> ((s, dir) =>
      audioDedup(mediaServed(s, dir, DocGen.Compacted))),

    // CROSS-VIDEO near-dup — the multimodal analog of q_image_dedup,
    // composed from the two existing pieces the way a 100 TB video
    // pipeline would run it: sampled-frame decode (every 2nd frame,
    // skipped frames walked at sub-block cost) → per-frame perceptual
    // dHash → banded grouping on the (frame position, hash) key →
    // pair verification by shared-position count (n_common·2 ≥
    // n_union, the minhash rule on the frame axis). The corpus plants
    // RE-ENCODED duplicates (rotated palette: every byte of the stream
    // differs, the decoded frames do not) for every 4th doc, so
    // payload-checksum dedup provably cannot find these pairs — each
    // planted pair must surface with n_common = n_union, and the
    // oracle replays every frame hash from the generator formulas
    // alone, never the container, so the hash compare certifies the
    // sampled decode, the per-frame packing, and the pair logic end to
    // end. Scale posture: one narrow decode pass, candidates via
    // equi-join on an 8-byte bucketed key (no pairwise scan), counts
    // broadcast.
    "q_video_dedup" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val hashed = documents(s, dir).select(col("doc_id")).as[Long]
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
            // a decode failure emits a sentinel row the oracle never
            // has — the gate goes red instead of silently dropping
            if (!ok) Iterator((mid, -1L, 0L))
            else grays.iterator.zipWithIndex.map { case (g, i) =>
              (mid, 2L * i, dHash(g))
            }
          }
        }).toDF("media_id", "frame", "dhash")
      videoPairs(hashed)
    }),

    // perceptual AUDIO dedup — the third modality alongside
    // q_image_dedup (dHash) and q_video_dedup (frame dHash): every doc
    // renders its waveform as a real PCM WAV; every 5th doc (residue 2)
    // additionally ships a TAGGED re-encode (ancillary LIST/INFO chunk:
    // RIFF size, every offset and the byte length change; the PCM
    // payload does not), so payload-checksum dedup provably cannot
    // find these pairs. One narrow decode pass → 32-bit energy-delta
    // aHash → cluster by exact hash in one groupBy (the q_image_dedup
    // posture). The oracle replays every hash from the sample formulas
    // alone — the container never appears — so the hash compare
    // certifies the chunk walk, sign extension, windowing and packing.
    "q_audio_dedup" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val hashed = documents(s, dir).select(col("doc_id")).as[Long]
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
            (mid, aHash(ss), ok)
          }
        }).toDF("media_id", "ahash", "ok")
      audioClusters(hashed)
    }),

    "q_multimodal_resize" -> ((s, dir) =>
      resizeFeatures(ensureMediaFrame(s, dir), 2).toDF()
        .groupBy("mime")
        .agg(count(lit(1)).as("n_media"),
          sum("width").cast(LongType).as("sum_width"),
          sum("height").cast(LongType).as("sum_height"),
          sum("n_units").as("sum_units"),
          sum("value_sum").as("sum_values"),
          min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
        .orderBy("mime"))
  )

  private val mimeCase =
    """CASE WHEN doc_id % 4 = 0 THEN 'image/png'
      |     WHEN doc_id % 4 = 1 THEN 'audio/wav'
      |     WHEN doc_id % 4 = 2 THEN 'image/bmp'
      |     ELSE 'image/jpeg' END""".stripMargin

  /** The image-dedup formula replay, parameterized by an extra corpus
    * predicate — "" for the full surface, the takedown filter for the
    * forget/purge twins (one oracle string, four gates). */
  private[operators] def imageDedupOracle(extraWhere: String): String =
    s"""WITH img AS (
       |  SELECT doc_id AS media_id,
       |    CASE WHEN doc_id % 4 = 0 THEN 8 + doc_id % 9
       |         ELSE 8 + doc_id % 7 END AS w,
       |    CASE WHEN doc_id % 4 = 0 THEN 8 + (doc_id // 9) % 9
       |         ELSE 8 + (doc_id // 7) % 7 END AS h
       |  FROM documents WHERE doc_id % 4 IN (0, 2)$extraWhere),
       |hashed AS (
       |  SELECT media_id,
       |    CAST(sum(CASE WHEN
       |        (((i + 1) * w // $DHashGrid) + 3 * (j * h // $DHashGrid) + media_id) % 256
       |      > ((i * w // $DHashGrid) + 3 * (j * h // $DHashGrid) + media_id) % 256
       |      THEN 1::BIGINT << (j * ${DHashGrid - 1} + i) ELSE 0 END) AS BIGINT) AS dhash
       |  FROM img,
       |    range($DHashGrid) AS tj(j),
       |    range(${DHashGrid - 1}) AS ti(i)
       |  GROUP BY media_id)
       |SELECT dhash, CAST(count(*) AS BIGINT) AS n_images,
       |       CAST(count(DISTINCT media_id % 4) AS BIGINT) AS n_mimes,
       |       min(media_id) AS keep_id,
       |       CAST(sum(media_id) AS BIGINT) AS id_sum,
       |       TRUE AS all_ok
       |FROM hashed GROUP BY dhash ORDER BY dhash""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_multimodal_meta" ->
      s"""SELECT $mimeCase AS mime,
         |       count(*) AS n_media,
         |       count(*) AS n_inline,
         |       CAST(0 AS BIGINT) AS n_ref
         |FROM documents GROUP BY 1 ORDER BY mime""".stripMargin,
    // ground truth from the generator formulas; pixel/sample sums
    // brute-forced per document via scalar range() lists.
    "q_multimodal_features" ->
      s"""WITH m AS (
         |  SELECT doc_id, $mimeCase AS mime,
         |    CASE WHEN doc_id % 4 = 0 THEN 8 + doc_id % 9
         |         WHEN doc_id % 4 = 2 THEN 8 + doc_id % 7
         |         WHEN doc_id % 4 = 3 THEN 8 * (1 + doc_id % 3)
         |         ELSE (CASE (doc_id // 3) % 3 WHEN 0 THEN 8000
         |               WHEN 1 THEN 16000 ELSE 44100 END) END AS width,
         |    CASE WHEN doc_id % 4 = 0 THEN 8 + (doc_id // 9) % 9
         |         WHEN doc_id % 4 = 2 THEN 8 + (doc_id // 7) % 7
         |         WHEN doc_id % 4 = 3 THEN 8 * (1 + (doc_id // 3) % 3)
         |         ELSE 0 END AS height,
         |    CASE WHEN doc_id % 4 = 1 THEN 200 + doc_id % 100
         |         WHEN doc_id % 4 = 0 THEN (8 + doc_id % 9) * (8 + (doc_id // 9) % 9)
         |         WHEN doc_id % 4 = 2 THEN (8 + doc_id % 7) * (8 + (doc_id // 7) % 7)
         |         ELSE 64 * (1 + doc_id % 3) * (1 + (doc_id // 3) % 3) END AS n_units,
         |    CASE WHEN doc_id % 4 = 1 THEN
         |           list_sum(list_transform(range(0, 200 + doc_id % 100),
         |             i -> abs((i * (doc_id % 251 + 3)) % 2003 - 1001)))
         |         WHEN doc_id % 4 = 0 THEN
         |           list_sum(list_transform(
         |             range(0, (8 + doc_id % 9) * (8 + (doc_id // 9) % 9)),
         |             i -> (i % (8 + doc_id % 9) +
         |                   3 * (i // (8 + doc_id % 9)) + doc_id) % 256))
         |         WHEN doc_id % 4 = 2 THEN
         |           list_sum(list_transform(
         |             range(0, (8 + doc_id % 7) * (8 + (doc_id // 7) % 7)),
         |             i -> (i % (8 + doc_id % 7) +
         |                   3 * (i // (8 + doc_id % 7)) + doc_id) % 256))
         |         ELSE
         |           64 * list_sum(list_transform(
         |             range(0, (1 + doc_id % 3) * (1 + (doc_id // 3) % 3)),
         |             i -> (i % (1 + doc_id % 3) +
         |                   3 * (i // (1 + doc_id % 3)) + doc_id) % 256))
         |    END AS value_sum
         |  FROM documents)
         |SELECT mime, count(*) AS n_media,
         |       CAST(sum(width) AS BIGINT) AS sum_width,
         |       CAST(sum(height) AS BIGINT) AS sum_height,
         |       CAST(sum(n_units) AS BIGINT) AS sum_units,
         |       CAST(sum(value_sum) AS BIGINT) AS sum_values,
         |       TRUE AS all_ok
         |FROM m GROUP BY 1 ORDER BY mime""".stripMargin,
    // dHash replayed from the dims + pixel formulas alone (the
    // container never appears — that's the point): y_j = j*h//8,
    // x_i = i*w//8, bit (j*7+i) set iff g(x_{i+1},y_j) > g(x_i,y_j).
    "q_image_dedup" -> imageDedupOracle(""),
    // stored twins share the fresh oracles VERBATIM — stored-index
    // serving ≡ decode-and-hash, pinned by one hash per modality
    "q_image_dedup_stored" -> imageDedupOracle(""),
    // masked oracle = the identical replay over the REDUCED corpus;
    // purge shares it verbatim (masked ≡ purged, 7th axis)
    "q_multimodal_forget" ->
      imageDedupOracle(s" AND doc_id % $MediaForgetMod <> 0"),
    "q_multimodal_purge" ->
      imageDedupOracle(s" AND doc_id % $MediaForgetMod <> 0"),
    // append replay: base images ∪ the cross-container copies, every
    // hash from the SOURCE's formulas (the copy decodes to the source's
    // pixels — that is the point), mime tracked explicitly because the
    // copy's container is the OPPOSITE of its id residue
    "q_image_dedup_append" -> ImageDedupAppendOracle,
    "q_image_dedup_compact" -> ImageDedupAppendOracle,
    // reduced-corpus replays on the video/audio surfaces; purge shares
    // forget verbatim (masked ≡ purged, per surface)
    "q_video_dedup_forget" ->
      videoDedupOracle(s"NOT (doc_id % $MediaForgetMod = 0)"),
    "q_video_dedup_purge" ->
      videoDedupOracle(s"NOT (doc_id % $MediaForgetMod = 0)"),
    "q_audio_dedup_forget" ->
      audioDedupOracle(s"NOT (doc_id % $MediaForgetMod = 0)"),
    "q_audio_dedup_purge" ->
      audioDedupOracle(s"NOT (doc_id % $MediaForgetMod = 0)"),
    // LSM delta replays on the video/audio surfaces; compact shares
    // append verbatim (merged ≡ union, per surface)
    "q_video_dedup_append" -> VideoDedupAppendOracle,
    "q_video_dedup_compact" -> VideoDedupAppendOracle,
    "q_audio_dedup_append" -> AudioDedupAppendOracle,
    "q_audio_dedup_compact" -> AudioDedupAppendOracle,

    // lossless GIF: ground truth straight from the generator formulas,
    // full frame + ×2 decimation in one statement.
    "q_multimodal_gif" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    8 + doc_id % 11 AS w,
        |    8 + (doc_id // 11) % 11 AS h,
        |    (8 + doc_id % 11 + 1) // 2 AS rw,
        |    (8 + (doc_id // 11) % 11 + 1) // 2 AS rh
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, w, h, rw, rh,
        |    list_sum(list_transform(range(0, w * h),
        |      i -> (i % w + 3 * (i // w) + doc_id) % 256)) AS vs,
        |    list_sum(list_transform(range(0, rw * rh),
        |      i -> (2 * (i % rw) + 6 * (i // rw) + doc_id) % 256)) AS rv
        |  FROM m)
        |SELECT count(*) AS n_media,
        |       CAST(sum(w) AS BIGINT) AS sum_width,
        |       CAST(sum(h) AS BIGINT) AS sum_height,
        |       CAST(sum(w * h) AS BIGINT) AS sum_units,
        |       CAST(sum(vs) AS BIGINT) AS sum_values,
        |       CAST(sum(rw * rh) AS BIGINT) AS sum_r_units,
        |       CAST(sum(rv) AS BIGINT) AS sum_r_values,
        |       TRUE AS all_ok
        |FROM v""".stripMargin,
    // animated GIF is lossless → exact per-frame pixel sums from the
    // generator formulas. Full pass: frame f pixel (x,y) = (x + 3y +
    // 17f + d) % 256 over nf = 2 + d%5 frames; sampled pass keeps even
    // frames (g = f/2) at even coordinates.
    "q_video_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    8 + doc_id % 10 AS w,
        |    8 + (doc_id // 10) % 10 AS h,
        |    2 + doc_id % 5 AS nf,
        |    (8 + doc_id % 10 + 1) // 2 AS rw,
        |    (8 + (doc_id // 10) % 10 + 1) // 2 AS rh,
        |    (2 + doc_id % 5 + 1) // 2 AS sf
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, nf, sf,
        |    list_sum(list_transform(range(0, nf * w * h),
        |      k -> ((k % (w * h)) % w + 3 * ((k % (w * h)) // w) +
        |            17 * (k // (w * h)) + doc_id) % 256)) AS vs,
        |    list_sum(list_transform(range(0, sf * rw * rh),
        |      k -> (2 * ((k % (rw * rh)) % rw) + 6 * ((k % (rw * rh)) // rw) +
        |            34 * (k // (rw * rh)) + doc_id) % 256)) AS sv
        |  FROM m)
        |SELECT count(*) AS n_videos,
        |       CAST(sum(nf) AS BIGINT) AS sum_frames,
        |       CAST(sum(vs) AS BIGINT) AS sum_values,
        |       CAST(sum(sf) AS BIGINT) AS sum_s_frames,
        |       CAST(sum(sv) AS BIGINT) AS sum_s_values,
        |       TRUE AS all_ok
        |FROM v""".stripMargin,
    // every sampled-frame dHash replayed from the video formulas alone
    // (frame f pixel (x,y) = (x²(1+d%5) + y²(2+d%7) + xy(1+(d/7)%3)
    // + 17f + d) % 256; sampled frames f = 0,2,4.. < nf; dHash grid as
    // q_image_dedup) over base videos AND their planted re-encodes
    // (same src content, +offset id) — then the identical
    // candidate/verify pair logic.
    "q_video_dedup" -> VideoDedupOracle,
    "q_video_dedup_stored" -> VideoDedupOracle,

    "q_audio_dedup" -> AudioDedupOracle,
    "q_audio_dedup_stored" -> AudioDedupOracle,

    "q_multimodal_resize" -> MultimodalResizeOracle)

  /** Base images ∪ cross-container copies, hashes from the SOURCE
    * formulas, mime code explicit (a copy's container is the opposite
    * of its id residue). Shared verbatim by append and compact. */
  private lazy val ImageDedupAppendOracle: String =
    s"""WITH img AS (
       |  SELECT doc_id AS media_id, doc_id AS src, doc_id % 4 AS mc
       |  FROM documents WHERE doc_id % 4 IN (0, 2)
       |  UNION ALL
       |  SELECT doc_id + $MediaAppendOffset, doc_id, (doc_id + 2) % 4
       |  FROM documents WHERE doc_id % 4 IN (0, 2) AND doc_id % 101 = 0),
       |dims AS (
       |  SELECT media_id, src, mc,
       |    CASE WHEN src % 4 = 0 THEN 8 + src % 9
       |         ELSE 8 + src % 7 END AS w,
       |    CASE WHEN src % 4 = 0 THEN 8 + (src // 9) % 9
       |         ELSE 8 + (src // 7) % 7 END AS h
       |  FROM img),
       |hashed AS (
       |  SELECT media_id, mc,
       |    CAST(sum(CASE WHEN
       |        (((i + 1) * w // $DHashGrid) + 3 * (j * h // $DHashGrid) + src) % 256
       |      > ((i * w // $DHashGrid) + 3 * (j * h // $DHashGrid) + src) % 256
       |      THEN 1::BIGINT << (j * ${DHashGrid - 1} + i) ELSE 0 END) AS BIGINT) AS dhash
       |  FROM dims,
       |    range($DHashGrid) AS tj(j),
       |    range(${DHashGrid - 1}) AS ti(i)
       |  GROUP BY media_id, mc)
       |SELECT dhash, CAST(count(*) AS BIGINT) AS n_images,
       |       CAST(count(DISTINCT mc) AS BIGINT) AS n_mimes,
       |       min(media_id) AS keep_id,
       |       CAST(sum(media_id) AS BIGINT) AS id_sum,
       |       TRUE AS all_ok
       |FROM hashed GROUP BY dhash ORDER BY dhash""".stripMargin

  // frame-hash pair replay shared by the fresh and stored video gates:
  // dHash over the quadratic dedup frames (the q_image_dedup replay on
  // q_image_dedup) over base videos AND their planted re-encodes
  // (same src content, +offset id) — then the identical
  // candidate/verify pair logic.
  private lazy val VideoDedupOracle: String = videoDedupOracle("TRUE")

  /** The append replay: base clips ∪ planted re-encodes ∪ the DELTA
    * batch's re-encodes, every frame hash from the SOURCE's formulas
    * (the arriving copy decodes to the source's frames — that is the
    * point). Shared verbatim by append and compact. */
  private lazy val VideoDedupAppendOracle: String =
    videoDedupOracle("TRUE", withDelta = true)

  /** The video-pair replay over any source predicate — "TRUE" for the
    * full surface, the takedown filter for forget/purge (both branches
    * of the vids union filter on the SOURCE doc, so a retracted doc's
    * re-encode falls with it — the src_id rule in SQL); `withDelta`
    * adds the LSM delta batch's arrivals. */
  private def videoDedupOracle(pred: String,
      withDelta: Boolean = false): String = {
    val delta = if (!withDelta) "" else
      s"""
         |  UNION ALL
         |  SELECT doc_id + $VideoAppendOffset, doc_id FROM documents
         |  WHERE doc_id % $VideoAppendMod = 0 AND $pred""".stripMargin
    s"""WITH vids AS (
         |  SELECT doc_id AS media_id, doc_id AS src FROM documents
         |  WHERE $pred
         |  UNION ALL
         |  SELECT doc_id + $VideoDupOffset, doc_id FROM documents
         |  WHERE doc_id % $VideoDupMod = 0 AND $pred$delta),
         |dims AS (
         |  SELECT media_id, src,
         |    8 + src % 10 AS w, 8 + (src // 10) % 10 AS h,
         |    2 + src % 5 AS nf
         |  FROM vids),
         |coords AS (
         |  SELECT media_id, src, g, j, i,
         |    (i + 1) * w // $DHashGrid AS x1,
         |    i * w // $DHashGrid AS x0,
         |    j * h // $DHashGrid AS y
         |  FROM dims,
         |    range(0, 3) AS tg(g), -- nf <= 6, so sampled g in 0..2
         |    range($DHashGrid) AS tj(j),
         |    range(${DHashGrid - 1}) AS ti(i)
         |  WHERE 2 * g < nf),
         |hashed AS (
         |  SELECT media_id, 2 * g AS frame,
         |    CAST(sum(CASE WHEN
         |        (x1 * x1 * (1 + src % 5) + y * y * (2 + src % 7)
         |          + x1 * y * (1 + (src // 7) % 3) + 34 * g + src) % 256
         |      > (x0 * x0 * (1 + src % 5) + y * y * (2 + src % 7)
         |          + x0 * y * (1 + (src // 7) % 3) + 34 * g + src) % 256
         |      THEN 1::BIGINT << (j * ${DHashGrid - 1} + i) ELSE 0 END)
         |      AS BIGINT) AS dhash
         |  FROM coords
         |  GROUP BY media_id, g),
         |counts AS (SELECT media_id, count(*) AS n FROM hashed GROUP BY 1),
         |common AS (
         |  SELECT a.media_id AS vid1, b.media_id AS vid2,
         |         count(*) AS n_common
         |  FROM hashed a JOIN hashed b
         |    ON a.frame = b.frame AND a.dhash = b.dhash
         |   AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT vid1, vid2, CAST(n_common AS BIGINT) AS n_common,
         |       CAST(c1.n + c2.n - n_common AS BIGINT) AS n_union
         |FROM common
         |JOIN counts c1 ON c1.media_id = vid1
         |JOIN counts c2 ON c2.media_id = vid2
         |WHERE 2 * n_common >= c1.n + c2.n - n_common
         |ORDER BY vid1, vid2""".stripMargin
  }

  // every aHash replayed from the waveform formulas alone (sample
  // s_j = (j·mult) % 2003 − 1001, n = 200 + d%100, mult = d%251 + 3;
  // window bounds i·n÷33; bit i iff E(i+1) > E(i)) over base clips
  // AND their planted tagged re-encodes. Shared by the fresh and
  // stored audio gates.
  private lazy val AudioDedupOracle: String = audioDedupOracle("TRUE")

  /** [[VideoDedupAppendOracle]]'s rule on the audio surface. */
  private lazy val AudioDedupAppendOracle: String =
    audioDedupOracle("TRUE", withDelta = true)

  /** The aHash-cluster replay over any source predicate (the
    * [[videoDedupOracle]] rule on the audio surface). */
  private def audioDedupOracle(pred: String,
      withDelta: Boolean = false): String = {
    val delta = if (!withDelta) "" else
      s"""
         |  UNION ALL
         |  SELECT doc_id + $AudioAppendOffset, doc_id FROM documents
         |  WHERE doc_id % $AudioAppendMod = 0 AND $pred""".stripMargin
    s"""WITH auds AS (
         |  SELECT doc_id AS media_id, doc_id AS src FROM documents
         |  WHERE $pred
         |  UNION ALL
         |  SELECT doc_id + $AudioDupOffset, doc_id FROM documents
         |  WHERE doc_id % $AudioDupMod = $AudioDupRem AND $pred$delta),
         |m AS (
         |  SELECT media_id, 200 + src % 100 AS n, src % 251 + 3 AS mult
         |  FROM auds),
         |hashed AS (
         |  SELECT media_id,
         |    CAST(sum(CASE WHEN
         |        list_sum(list_transform(
         |          range((i+1) * n // $AHashWindows, (i+2) * n // $AHashWindows),
         |          j -> abs((j * mult) % 2003 - 1001)))
         |      > list_sum(list_transform(
         |          range(i * n // $AHashWindows, (i+1) * n // $AHashWindows),
         |          j -> abs((j * mult) % 2003 - 1001)))
         |      THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS ahash
         |  FROM m, range(0, ${AHashWindows - 1}) AS ti(i)
         |  GROUP BY media_id)
         |SELECT ahash, CAST(count(*) AS BIGINT) AS n_audios,
         |       min(media_id) AS keep_id,
         |       CAST(sum(media_id) AS BIGINT) AS id_sum,
         |       TRUE AS all_ok
         |FROM hashed GROUP BY ahash ORDER BY ahash""".stripMargin
  }

  // ×2 decimation: resized dims are ceil(orig/2) = (orig+1)//2; image
  // pixel (rx, ry) samples original (2rx, 2ry) → (2rx + 6ry + d) % 256;
  // audio keeps every even sample index.
  private lazy val MultimodalResizeOracle: String =
      s"""WITH m AS (
         |  SELECT doc_id, $mimeCase AS mime,
         |    CASE WHEN doc_id % 4 = 0 THEN (8 + doc_id % 9 + 1) // 2
         |         WHEN doc_id % 4 = 2 THEN (8 + doc_id % 7 + 1) // 2
         |         WHEN doc_id % 4 = 3 THEN 4 * (1 + doc_id % 3)
         |         ELSE (CASE (doc_id // 3) % 3 WHEN 0 THEN 8000
         |               WHEN 1 THEN 16000 ELSE 44100 END) END AS width,
         |    CASE WHEN doc_id % 4 = 0 THEN (8 + (doc_id // 9) % 9 + 1) // 2
         |         WHEN doc_id % 4 = 2 THEN (8 + (doc_id // 7) % 7 + 1) // 2
         |         WHEN doc_id % 4 = 3 THEN 4 * (1 + (doc_id // 3) % 3)
         |         ELSE 0 END AS height,
         |    CASE WHEN doc_id % 4 = 1 THEN (200 + doc_id % 100 + 1) // 2
         |         WHEN doc_id % 4 = 3 THEN
         |           16 * (1 + doc_id % 3) * (1 + (doc_id // 3) % 3)
         |         ELSE ((CASE WHEN doc_id % 4 = 0 THEN 8 + doc_id % 9
         |                     ELSE 8 + doc_id % 7 END + 1) // 2) *
         |              ((CASE WHEN doc_id % 4 = 0 THEN 8 + (doc_id // 9) % 9
         |                     ELSE 8 + (doc_id // 7) % 7 END + 1) // 2) END AS n_units,
         |    CASE WHEN doc_id % 4 = 1 THEN
         |           list_sum(list_transform(range(0, (200 + doc_id % 100 + 1) // 2),
         |             i -> abs((2 * i * (doc_id % 251 + 3)) % 2003 - 1001)))
         |         WHEN doc_id % 4 = 0 THEN
         |           list_sum(list_transform(
         |             range(0, ((8 + doc_id % 9 + 1) // 2) * ((8 + (doc_id // 9) % 9 + 1) // 2)),
         |             i -> (2 * (i % ((8 + doc_id % 9 + 1) // 2)) +
         |                   6 * (i // ((8 + doc_id % 9 + 1) // 2)) + doc_id) % 256))
         |         WHEN doc_id % 4 = 2 THEN
         |           list_sum(list_transform(
         |             range(0, ((8 + doc_id % 7 + 1) // 2) * ((8 + (doc_id // 7) % 7 + 1) // 2)),
         |             i -> (2 * (i % ((8 + doc_id % 7 + 1) // 2)) +
         |                   6 * (i // ((8 + doc_id % 7 + 1) // 2)) + doc_id) % 256))
         |         ELSE
         |           list_sum(list_transform(
         |             range(0, (4 * (1 + doc_id % 3)) * (4 * (1 + (doc_id // 3) % 3))),
         |             i -> ((i % (4 * (1 + doc_id % 3))) // 4 +
         |                   3 * ((i // (4 * (1 + doc_id % 3))) // 4) + doc_id) % 256))
         |    END AS value_sum
         |  FROM documents)
         |SELECT mime, count(*) AS n_media,
         |       CAST(sum(width) AS BIGINT) AS sum_width,
         |       CAST(sum(height) AS BIGINT) AS sum_height,
         |       CAST(sum(n_units) AS BIGINT) AS sum_units,
         |       CAST(sum(value_sum) AS BIGINT) AS sum_values,
         |       TRUE AS all_ok
         |FROM m GROUP BY 1 ORDER BY mime""".stripMargin
}
