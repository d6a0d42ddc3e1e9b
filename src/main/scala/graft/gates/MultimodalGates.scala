package graft.gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MediaFormats
import graft.queries.Tables.documents
import graft.operators.Multimodal._

/** The gates over [[graft.operators.Multimodal]]: one `Gate` row each. */
object MultimodalGates {

  private val mimeCase =
    """CASE WHEN doc_id % 4 = 0 THEN 'image/png'
      |     WHEN doc_id % 4 = 1 THEN 'audio/wav'
      |     WHEN doc_id % 4 = 2 THEN 'image/bmp'
      |     ELSE 'image/jpeg' END""".stripMargin

  /** The image-dedup formula replay, parameterized by an extra corpus
    * predicate — "" for the full surface, the takedown filter for the
    * forget/purge twins (one oracle string, four gates). */
  def imageDedupOracle(extraWhere: String): String =
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

  /** Base images ∪ cross-container copies, hashes from the SOURCE
    * formulas, mime code explicit (a copy's container is the opposite
    * of its id residue). Shared verbatim by append and compact. */
  val ImageDedupAppendOracle: String =
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

  /** The video-pair replay over any source predicate — "TRUE" for the
    * full surface, the takedown filter for forget/purge (both branches
    * of the vids union filter on the SOURCE doc, so a retracted doc's
    * re-encode falls with it — the src_id rule in SQL); `withDelta`
    * adds the LSM delta batch's arrivals. */
  def videoDedupOracle(pred: String,
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

  /** The aHash-cluster replay over any source predicate (the
    * [[videoDedupOracle]] rule on the audio surface). */
  def audioDedupOracle(pred: String,
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
  private val MultimodalResizeOracle: String =
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

  def gifDims(d: Long): (Int, Int) =
    (8 + (d % 11).toInt, 8 + ((d / 11) % 11).toInt)

  def vidPixel(d: Long, f: Int)(x: Int, y: Int): Int =
    ((x + 3L * y + 17L * f + d) % 256).toInt

  val all: Seq[Gate] = Seq(
    // metadata-only aggregation — inline/ref accounting derives from the
    // scalar n_bytes column, so the stored frame's binary payload is
    // PRUNED at the scan (MultimodalSpec asserts the ReadSchema).
    Gate("q_multimodal_meta",
      s"""SELECT $mimeCase AS mime,
         |       count(*) AS n_media,
         |       count(*) AS n_inline,
         |       CAST(0 AS BIGINT) AS n_ref
         |FROM documents GROUP BY 1 ORDER BY mime""".stripMargin,
      (s, dir) =>
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
    // ground truth from the generator formulas; pixel/sample sums
    // brute-forced per document via scalar range() lists.
    Gate("q_multimodal_features",
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
      (s, dir) =>
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
    // lossless GIF: ground truth straight from the generator formulas,
    // full frame + ×2 decimation in one statement.
    Gate("q_multimodal_gif",
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
      (s, dir) => {
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
    // animated GIF is lossless → exact per-frame pixel sums from the
    // generator formulas. Full pass: frame f pixel (x,y) = (x + 3y +
    // 17f + d) % 256 over nf = 2 + d%5 frames; sampled pass keeps even
    // frames (g = f/2) at even coordinates.
    Gate("q_video_frames",
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
      (s, dir) => {
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
    // dHash replayed from the dims + pixel formulas alone (the
    // container never appears — that's the point): y_j = j*h//8,
    // x_i = i*w//8, bit (j*7+i) set iff g(x_{i+1},y_j) > g(x_i,y_j).
    Gate("q_image_dedup", imageDedupOracle(""), (s, dir) => {
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
    // every sampled-frame dHash replayed from the video formulas alone
    // (frame f pixel (x,y) = (x²(1+d%5) + y²(2+d%7) + xy(1+(d/7)%3)
    // + 17f + d) % 256; sampled frames f = 0,2,4.. < nf; dHash grid as
    // q_image_dedup) over base videos AND their planted re-encodes
    // (same src content, +offset id) — then the identical
    // candidate/verify pair logic.
    Gate("q_video_dedup", videoDedupOracle("TRUE"), (s, dir) => {
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
    Gate("q_audio_dedup", audioDedupOracle("TRUE"), (s, dir) => {
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

    Gate("q_multimodal_resize", MultimodalResizeOracle, (s, dir) =>
      resizeFeatures(ensureMediaFrame(s, dir), 2).toDF()
        .groupBy("mime")
        .agg(count(lit(1)).as("n_media"),
          sum("width").cast(LongType).as("sum_width"),
          sum("height").cast(LongType).as("sum_height"),
          sum("n_units").as("sum_units"),
          sum("value_sum").as("sum_values"),
          min(col("ok").cast(IntegerType)).cast(BooleanType).as("all_ok"))
        .orderBy("mime")),
  )
}
