package graft.multimodal

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media carried as opaque `binary` columns
  * with typed metadata extracted by a batched per-partition decode.
  *
  * Two tiers, both REAL decode paths (no stubs remain for images/audio):
  *  - mm1–mm3: compressed-image containers through the JDK's
  *    `javax.imageio` plugin chain via [[ImageCodec]] — PNG/JPEG decode
  *    + format sniff (mm1), multi-page TIFF frame sampling (mm2),
  *    decode → nearest-neighbor resize → PNG re-encode → re-decode
  *    (mm3). PNG/TIFF are lossless, so the DuckDB oracles predict the
  *    DECODED pixel statistics in closed form; JPEG rows verify
  *    container metadata (dimensions + sniffed format) since lossy
  *    pixels aren't oracle-predictable.
  *  - mm4–mm7: byte-level decoding via [[MediaCodec]] for the
  *    uncompressed containers (BMP 24bpp incl. pixel resampling, WAV
  *    PCM16 via a RIFF chunk walk).
  *  Video (mp4) and compressed audio stay out of scope: the JRE ships
  *  no codecs for them (multi-page TIFF stands in for the multi-frame
  *  container shape).
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, payload: Array[Byte])

  /** Container-generic decode metadata. `width`/`height` are PIXEL
    * dimensions only when `format` is an image ("png"/"jpeg"/"tiff"/
    * "bmp"); for `format == "wav"` the same two slots carry
    * (nFrames, channels) — dimension-like per-container facts, NOT
    * pixels. Dispatch on `format` before interpreting them. */
  final case class MediaMeta(doc_id: Long, byte_len: Long, width: Int,
      height: Int, format: String)

  implicit val recEnc: Encoder[MediaRecord] = Encoders.product[MediaRecord]
  implicit val metaEnc: Encoder[MediaMeta] = Encoders.product[MediaMeta]

  /** Decode batch size — amortizes per-batch setup the way a vectorized
    * (Arrow/GPU) decoder would. */
  val DecodeBatchSize = 64

  /** REAL decoder: sniffs the container through ImageIO's reader
    * registry, decodes images via the JDK plugin chain, and falls back
    * to [[MediaCodec]] for WAV. Unknown payloads report format
    * "unknown" with zero dimensions rather than failing the batch. */
  private def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaMeta] =
    batch.map { r =>
      val n = r.payload.length.toLong
      ImageCodec.sniffFormat(r.payload) match {
        case "unknown" =>
          MediaCodec.decodeWavHeader(r.payload) match {
            case Some(w) => MediaMeta(r.doc_id, n, w.nFrames, w.channels, "wav")
            case None    => MediaMeta(r.doc_id, n, 0, 0, "unknown")
          }
        case fmt =>
          ImageCodec.tryDecode(r.payload) match {
            case Some(img) => MediaMeta(r.doc_id, n, img.getWidth, img.getHeight, fmt)
            case None      => MediaMeta(r.doc_id, n, 0, 0, "unknown")
          }
      }
    }

  /** The decode operator: binary records in, typed metadata out, batched
    * per partition. Partition-parallel, no shuffle. */
  def extractMeta(media: Dataset[MediaRecord]): Dataset[MediaMeta] =
    media.mapPartitions(_.grouped(DecodeBatchSize).flatMap(decodeBatch))

  final case class ResizedMedia(doc_id: Long, payload: Array[Byte],
      width: Int, height: Int)
  final case class Frame(doc_id: Long, frame_idx: Int, payload: Array[Byte])

  implicit val resizedEnc: Encoder[ResizedMedia] = Encoders.product[ResizedMedia]
  implicit val frameEnc: Encoder[Frame] = Encoders.product[Frame]

  /** REAL resize: decode via ImageIO, nearest-neighbor resample, and
    * re-encode as PNG (lossless, so downstream stages see exact pixels).
    * Non-image payloads are dropped — the filter a production pipeline
    * applies before a resize stage. */
  def resize(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[ResizedMedia] =
    media.mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.flatMap { r =>
      ImageCodec.tryDecode(r.payload).map { img =>
        val out = ImageCodec.encode(ImageCodec.resizeNearest(img, w, h), "png")
        ResizedMedia(r.doc_id, out, w, h)
      }
    }))

  /** REAL frame sampling: every `stride`-th page of a multi-page
    * container (TIFF), decoded and re-encoded as standalone PNG frames —
    * the 1-to-n flatMap shape a video decoder produces. Single-page
    * images yield their one frame; non-images yield none. */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): Dataset[Frame] =
    media.mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.flatMap { r =>
      ImageCodec.sampleFrames(r.payload, stride).map { case (idx, img) =>
        Frame(r.doc_id, idx, ImageCodec.encode(img, "png"))
      }
    }))

  // -- mm1–mm3: REAL compressed-image decode via javax.imageio ----------
  // Payloads are genuine PNG/JPEG/TIFF containers synthesized from the
  // seeded affine pixel pattern (pixel (x,y) = affine(seed, x, y) mod
  // 256), so for the lossless containers the oracle predicts every
  // DECODED pixel in closed form — a wrong byte anywhere in the encode
  // or decode path breaks the hash match.

  private val SeedMul = 31L
  private val SeedAdd = 7L

  /** Per-channel affine sum replayed by the oracles: r+g+b at (x,y). */
  private def sumExpr(seedExpr: String, xExpr: String, yExpr: String): String =
    s"($seedExpr + ($xExpr)*5 + ($yExpr)*17) % 256 + " +
      s"($seedExpr + ($xExpr)*11 + ($yExpr)*3) % 256 + " +
      s"($seedExpr + ($xExpr)*7 + ($yExpr)*13) % 256"

  /** mm1: PNG for even ids, JPEG for odd — the format column comes from
    * the real ImageIO container sniff, dimensions from the real decode,
    * and PNG rows verify the full decoded pixel sum (JPEG is lossy →
    * sentinel -1). */
  private def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map { id =>
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        val seed = id * SeedMul + SeedAdd
        val payload =
          if (id % 2 == 0) ImageCodec.encodePng(w, h, seed)
          else ImageCodec.encodeJpeg(w, h, seed)
        val fmt = ImageCodec.sniffFormat(payload)
        val img = ImageCodec.decode(payload)
        val pixelSum = if (fmt == "png") ImageCodec.pixelSumRgb(img) else -1L
        (id, img.getWidth, img.getHeight, fmt, pixelSum)
      }))
      .toDF("doc_id", "width", "height", "format", "pixel_sum")
  }

  private val mediaMetaSql =
    s"""SELECT doc_id,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       |  CAST(CASE WHEN doc_id % 2 = 0 THEN list_sum(list_transform(
       |      range(0, w*h), i -> ${sumExpr("seed", "i % w", "i // w")}))
       |    ELSE -1 END AS BIGINT) AS pixel_sum
       |FROM (SELECT doc_id, doc_id*$SeedMul+$SeedAdd AS seed,
       |        doc_id % 16 + 8 AS w, doc_id % 12 + 8 AS h
       |      FROM documents) t""".stripMargin

  private val FW = 8
  private val FH = 6
  private val FrameStride = 2

  /** mm2: multi-page TIFF "video" (doc_id%8+3 frames), every 2nd frame
    * decoded through the real TIFF reader; frame pixel sums verified
    * exactly (TIFF is lossless). */
  private def frameSampleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.flatMap { id =>
        val nFrames = (id % 8 + 3).toInt
        val payload = ImageCodec.encodeTiffFrames(FW, FH, nFrames, id * SeedMul + SeedAdd)
        ImageCodec.sampleFrames(payload, FrameStride).map { case (idx, img) =>
          (id, idx, ImageCodec.pixelSumRgb(img))
        }
      }))
      .toDF("doc_id", "frame_idx", "frame_sum")
  }

  private val frameSampleSql =
    s"""SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
       |  CAST(list_sum(list_transform(range(0, ${FW * FH}),
       |    i -> ${sumExpr(s"(seed + f*${ImageCodec.FrameSeedStep})", s"i % $FW", s"i // $FW")}))
       |    AS BIGINT) AS frame_sum
       |FROM (SELECT doc_id, doc_id*$SeedMul+$SeedAdd AS seed,
       |        unnest(range(0, doc_id % 8 + 3, $FrameStride)) AS f
       |      FROM documents) t""".stripMargin

  private val RW = 12
  private val RH = 9

  /** mm3: the full real image transform — decode PNG, nearest-neighbor
    * resample, re-encode PNG, decode AGAIN — and verify the resampled
    * pixel sum of the re-decoded image (proves decoder AND encoder). */
  private def resizeMetaQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map { id =>
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        val png = ImageCodec.encodePng(w, h, id * SeedMul + SeedAdd)
        val resized = ImageCodec.resizeNearest(ImageCodec.decode(png), RW, RH)
        val back = ImageCodec.decode(ImageCodec.encode(resized, "png"))
        (id, back.getWidth, back.getHeight, ImageCodec.pixelSumRgb(back))
      }))
      .toDF("doc_id", "width", "height", "pixel_sum")
  }

  private val resizeMetaSql =
    s"""SELECT doc_id, $RW AS width, $RH AS height,
       |  CAST(list_sum(list_transform(range(0, ${RW * RH}),
       |    i -> ${sumExpr("seed", s"((i % $RW) * w) // $RW", s"((i // $RW) * h) // $RH")}))
       |    AS BIGINT) AS pixel_sum
       |FROM (SELECT doc_id, doc_id*$SeedMul+$SeedAdd AS seed,
       |        doc_id % 16 + 8 AS w, doc_id % 12 + 8 AS h
       |      FROM documents) t""".stripMargin

  // -- mm4–mm6: REAL decode of uncompressed containers ------------------
  // No image/audio libraries exist in this container, so payloads are
  // synthesized (deterministic arithmetic of doc_id) — but the decode
  // under test is real: byte-level BMP header/pixel parsing with
  // bottom-up rows + padding, nearest-neighbor pixel resampling, and a
  // RIFF chunk walk for WAV. Because the synthesized content is
  // arithmetic, the DuckDB oracle predicts the DECODED values (incl.
  // resampled pixels and PCM statistics) in closed form — decoding
  // errors anywhere in the byte path break the hash match.

  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val mm4Enc: Encoder[(Long, Int, Int, Int, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt,
      Encoders.scalaInt, Encoders.scalaLong)
  private implicit val mm5Enc: Encoder[(Long, Int, Int, Int)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt,
      Encoders.scalaInt)
  private implicit val mm6Enc: Encoder[(Long, Int, Int, Int, Double)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt,
      Encoders.scalaInt, Encoders.scalaDouble)

  private def docIds(s: SparkSession, dir: String): Dataset[Long] =
    Tables.documents(s, dir).select(col("doc_id")).as[Long]

  private def synthBmp(id: Long): MediaRecord = MediaRecord(id,
    MediaCodec.encodeBmp((id % 16 + 8).toInt, (id % 12 + 8).toInt, id * 31 + 7))

  private def bmpDecodeQ(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map { id =>
        val r = synthBmp(id)
        val info = MediaCodec.decodeBmpHeader(r.payload).get
        (r.doc_id, info.width, info.height, info.bpp, r.payload.length.toLong)
      }))
      .toDF("doc_id", "width", "height", "bpp", "byte_len")

  private val bmpDecodeSql =
    """SELECT doc_id,
      |  CAST(doc_id % 16 + 8 AS INTEGER) AS width,
      |  CAST(doc_id % 12 + 8 AS INTEGER) AS height,
      |  24 AS bpp,
      |  CAST(54 + ((doc_id % 16 + 8) * 3 + 3) // 4 * 4 * (doc_id % 12 + 8)
      |    AS BIGINT) AS byte_len
      |FROM documents""".stripMargin

  // RW/RH (12×9) are shared with mm3's PNG resize above.
  private def bmpResizeQ(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map { id =>
        val resized = MediaCodec.resizeBmpNearest(synthBmp(id).payload, RW, RH)
        val info = MediaCodec.decodeBmpHeader(resized).get
        val (b, g, r) = MediaCodec.bmpPixel(resized, RW - 1, RH - 1)
        (id, info.width, info.height, b + g + r)
      }))
      .toDF("doc_id", "width", "height", "corner")

  private val bmpResizeSql =
    s"""SELECT doc_id, $RW AS width, $RH AS height,
       |  CAST(((seed + sx*7 + sy*13) % 256) + ((seed + sx*11 + sy*3) % 256)
       |    + ((seed + sx*5 + sy*17) % 256) AS INTEGER) AS corner
       |FROM (
       |  SELECT doc_id, doc_id*31+7 AS seed,
       |    (${RW - 1} * (doc_id % 16 + 8)) // $RW AS sx,
       |    (${RH - 1} * (doc_id % 12 + 8)) // $RH AS sy
       |  FROM documents) t""".stripMargin

  private def wavDecodeQ(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map { id =>
        val wav = MediaCodec.encodeWavPcm16((id % 100 + 10).toInt, 16000, id * 17 + 3)
        val info = MediaCodec.decodeWavHeader(wav).get
        var sumAbs = 0L
        var i = 0
        while (i < info.nFrames) {
          sumAbs += math.abs(MediaCodec.wavSample(wav, info, i)); i += 1
        }
        (id, info.channels, info.sampleRate, info.nFrames,
          sumAbs.toDouble / info.nFrames)
      }))
      .toDF("doc_id", "channels", "sample_rate", "n_frames", "mean_abs")

  private val wavDecodeSql =
    """SELECT doc_id, 1 AS channels, 16000 AS sample_rate,
      |  CAST(doc_id % 100 + 10 AS INTEGER) AS n_frames,
      |  CAST(list_sum(list_transform(range(0, doc_id % 100 + 10),
      |    i -> abs((doc_id*17+3 + i*2654435761) % 65536 - 32768)))
      |    AS DOUBLE) / (doc_id % 100 + 10) AS mean_abs
      |FROM documents""".stripMargin

  // mm7: windowed audio feature extraction — RMS energy per 16-frame
  // window over REAL decoded PCM (the 1-to-n feature shape an audio
  // pipeline emits). Sum of squares is exact in Long (16 · 2^30 < 2^63),
  // so the only float ops are one divide + sqrt — identical IEEE
  // sequence in the oracle.
  private val EnergyWin = 16

  private def wavEnergyQ(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir)
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.flatMap { id =>
        val wav = MediaCodec.encodeWavPcm16((id % 100 + 10).toInt, 16000, id * 17 + 3)
        val info = MediaCodec.decodeWavHeader(wav).get
        (0 until info.nFrames / EnergyWin).map { j =>
          var sumSq = 0L
          var i = j * EnergyWin
          while (i < (j + 1) * EnergyWin) {
            val v = MediaCodec.wavSample(wav, info, i).toLong
            sumSq += v * v; i += 1
          }
          (id, j, math.sqrt(sumSq.toDouble / EnergyWin))
        }
      }))(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaDouble))
      .toDF("doc_id", "win_idx", "rms")

  private val wavEnergySql = {
    val sample = "((doc_id*17+3 + i*2654435761) % 65536 - 32768)"
    s"""SELECT doc_id, CAST(j AS INTEGER) AS win_idx,
       |  sqrt(CAST(list_sum(list_transform(
       |    range(j*$EnergyWin, (j+1)*$EnergyWin),
       |    i -> $sample * $sample)) AS DOUBLE) / $EnergyWin) AS rms
       |FROM (
       |  SELECT doc_id,
       |    unnest(range(0, (doc_id % 100 + 10) // $EnergyWin)) AS j
       |  FROM documents) t""".stripMargin
  }

  // -- mm8: perceptual-hash image near-dup ------------------------------
  // The image twin of dd4: decode → 8×8 average-hash (ImageCodec.ahash64)
  // → 16-bit-piece Hamming banding (Dedup.hammingPairs). The fixture
  // plants near-duplicate families: ids sharing doc_id/4 carry the same
  // base pattern with a small clamped brightness lift per member —
  // different BYTES (the PNGs differ), same perceptual content. The
  // hash runs on the REAL decoded pixels; the oracle replays the synth
  // arithmetic + hash in closed form, so a wrong pixel anywhere in the
  // encode/decode/hash path breaks the match.
  private val AHashFamily = 4   // ids per near-dup family
  private val AHashDelta = 2    // brightness step between family members
  private val AHashMaxHamming = 2
  /** The increment family of p6/p6p: the (doc_id, sig) ahash asset at
    * [[AHashMaxHamming]]. */
  private val ImageFamily =
    graft.api.Increment.Family.hamming("doc_id", "sig", AHashMaxHamming)

  private def ahashSigs(s: SparkSession, dir: String): DataFrame =
    ahashSigsOf(docIds(s, dir))

  /** Decode + perceptual-hash exactly the given ids — the seam that
    * lets p6p's timed path decode ONLY the daily increment (the id
    * filter sits below the decode `mapPartitions`, so the corpus split
    * never reaches the codec loop). */
  private def ahashSigsOf(ids: org.apache.spark.sql.Dataset[Long],
      wide: Boolean = false): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    // r20: `wide` floors the decode parallelism — the fixture's
    // single-row-group scan is ONE task, serializing the codec loop
    // (Scan.widen over bare ids; no-op at corpus scale). A/B-measured
    // and currently OFF at every call site: quiet-window A/Bs won
    // −0.8 s for the corpus-sized decode (target/r20opt_ab1.log), but
    // under the measured box's host-steal waves the 32-way stage's
    // min-pass delay factors read 1.7–2.1 vs 1.15–1.3 serial and the
    // bench mins regressed (see ahashGroupsQ's note) — the seam stays
    // for boxes where decode, not steal, is the binding cost.
    val in = if (wide)
      graft.api.Scan.widen(ids.toDF("doc_id"), col("doc_id")).as[Long](longEnc)
    else ids
    in
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map { id =>
        val fam = id / AHashFamily
        val w = (fam % 16 + 8).toInt
        val h = (fam % 12 + 8).toInt
        val delta = ((id % AHashFamily) * AHashDelta).toInt
        val png = ImageCodec.encode(
          ImageCodec.seededImageDelta(w, h, fam * SeedMul + SeedAdd, delta), "png")
        (id, ImageCodec.ahash64(ImageCodec.decode(png)))
      }))
      .toDF("doc_id", "sig")
  }

  private def ahashDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.hammingPairs(ahashSigs(s, dir), "doc_id", "sig",
      AHashMaxHamming)

  private val ahashDedupSql: String =
    s"""WITH $ahashCtes
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= $AHashMaxHamming""".stripMargin

  /** CTE chain `p → g → t → sigs → pieces → pairs` shared by the mm8
    * pair oracle and p3's component oracle. */
  private lazy val ahashCtes: String = {
    // closed-form replay: gray cell i samples pixel (⌊(i%8)·w/8⌋,
    // ⌊(i/8)·h/8⌋) of the clamped-delta pattern; bit i ⇔ gray·64 > Σgray
    def sx = "(((i % 8) * w) // 8)"
    def sy = "(((i // 8) * h) // 8)"
    val gray =
      s"least(255, (seed + $sx*5 + $sy*17) % 256 + delta) + " +
        s"least(255, (seed + $sx*11 + $sy*3) % 256 + delta) + " +
        s"least(255, (seed + $sx*7 + $sy*13) % 256 + delta)"
    // bits 0..62 sum non-negatively; the b=63 term is Long.MinValue —
    // added last so no partial sum overflows BIGINT (dd4's trick)
    val sig = (0 until 63).map { b =>
      s"(CASE WHEN gs[${b + 1}]*64 > total THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ",
      " + (CASE WHEN gs[64]*64 > total THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END))")
    def piece(i: Int) = (0 until 16).map { b =>
      s"(CASE WHEN gs[${16 * i + b + 1}]*64 > total THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val pieceBranches = (0 until 4).map { i =>
      s"SELECT doc_id, sig, $i AS piece, p$i AS pval FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""p AS (
       |  SELECT doc_id,
       |    (doc_id // $AHashFamily) * $SeedMul + $SeedAdd AS seed,
       |    (doc_id // $AHashFamily) % 16 + 8 AS w,
       |    (doc_id // $AHashFamily) % 12 + 8 AS h,
       |    (doc_id % $AHashFamily) * $AHashDelta AS delta
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, list_transform(range(0, 64), i -> $gray) AS gs
       |  FROM p),
       |t AS (SELECT doc_id, gs, list_sum(gs) AS total FROM g),
       |sigs AS (SELECT doc_id, $sig AS sig,
       |  ${piece(0)} AS p0, ${piece(1)} AS p1,
       |  ${piece(2)} AS p2, ${piece(3)} AS p3 FROM t),
       |pieces AS (
       |$pieceBranches),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |  FROM pieces a JOIN pieces b
       |    ON a.piece = b.piece AND a.pval = b.pval AND a.doc_id < b.doc_id)""".stripMargin
  }

  // -- mm9: ahash duplicate GROUPS via exact-sig contraction ------------
  // The scale path the r13 probe forced: this fixture's ahash space
  // saturates at 716 distinct values at EVERY corpus size, so mm8's
  // all-pairs output grows quadratically (6.5e8 intra-bucket pairs at
  // 500k docs — probe OOM). hammingGroups contracts to distinct sigs
  // first: banding over ≤716 rows, components over the SIG graph,
  // members labeled through one join — linear in n. Oracle replays the
  // same contraction over the shared CTE chain.
  // r20 A/B note: wide=true here won −0.8 s on quiet-window A/Bs
  // (target/r20opt_ab1.log) but LOST on the bench legs under host
  // steal — the 32-way decode stage samples the steal continuously
  // where the 1-task stage needs only 0.5 s of one quiet core, and
  // every optimized-leg min carried delay_factor 1.7–2.1 vs 1.15–1.3
  // baseline (target/r20opt_bench_opt_{c..f}.json). Reverted: the
  // widen's only value is the local bench number, and the measured
  // box runs steal waves.
  private def ahashGroupsQ(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.hammingGroups(
      ahashSigs(s, dir), "doc_id", "sig", AHashMaxHamming)

  private val ahashGroupsSql: String =
    s"""WITH RECURSIVE $ahashCtes,
       |persig AS (
       |  SELECT sig, MIN(p0) AS p0, MIN(p1) AS p1, MIN(p2) AS p2,
       |    MIN(p3) AS p3, COUNT(*) AS n_members, MIN(doc_id) AS min_doc
       |  FROM sigs GROUP BY sig),
       |spieces AS (
       |  SELECT sig, 0 AS piece, p0 AS pval FROM persig
       |  UNION ALL SELECT sig, 1, p1 FROM persig
       |  UNION ALL SELECT sig, 2, p2 FROM persig
       |  UNION ALL SELECT sig, 3, p3 FROM persig),
       |spairs AS (
       |  SELECT DISTINCT a.sig AS sa, b.sig AS sb
       |  FROM spieces a JOIN spieces b
       |    ON a.piece = b.piece AND a.pval = b.pval AND a.sig < b.sig
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $AHashMaxHamming),
       |sed AS (SELECT sa AS a, sb AS b FROM spairs
       |        UNION ALL SELECT sb, sa FROM spairs),
       |sverts AS (SELECT DISTINCT a AS v FROM sed),
       |sreach AS (
       |  SELECT v, v AS r FROM sverts
       |  UNION
       |  SELECT sreach.v, e.b AS r FROM sreach JOIN sed e ON sreach.r = e.a),
       |scomp AS (SELECT v AS sig, MIN(r) AS gsig FROM sreach GROUP BY v),
       |lab AS (
       |  SELECT p.sig, p.n_members, p.min_doc, COALESCE(sc.gsig, p.sig) AS gsig
       |  FROM persig p LEFT JOIN scomp sc ON p.sig = sc.sig),
       |comp AS (SELECT gsig, SUM(n_members) AS cm, MIN(min_doc) AS group_id
       |         FROM lab GROUP BY gsig),
       |keep AS (SELECT l.sig, c.group_id FROM lab l
       |         JOIN comp c ON l.gsig = c.gsig WHERE c.cm >= 2)
       |SELECT s.doc_id, k.group_id FROM sigs s JOIN keep k ON s.sig = k.sig"""
      .stripMargin

  // -- p3: image-dedup corpus (multimodal capstone) ---------------------
  // mm8's perceptual pairs → connected components (min-label
  // propagation, the dd6 machinery) → keep exactly one document per
  // image cluster: the end-to-end multimodal dedup a 100 TB pipeline
  // runs (hash every image once, band-join, contract clusters, drop).
  // Oracle: the mm8 CTE chain + the same recursive-CTE components as
  // dd6, composed.
  private def imageDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val pairs = ahashDedupQ(s, dir)
    val groups = graft.api.Dedup.duplicateGroups(pairs, "doc_a", "doc_b")
    val drop = groups.filter(col("doc_id") =!= col("group_id")).select("doc_id")
    Tables.documents(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  private val imageDedupCorpusSql =
    s"""WITH RECURSIVE $ahashCtes,
       |ok AS (SELECT doc_a, doc_b FROM pairs WHERE hamming <= $AHashMaxHamming),
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM ok
       |       UNION ALL SELECT doc_b, doc_a FROM ok),
       |verts AS (SELECT DISTINCT a AS v FROM ed),
       |reach AS (
       |  SELECT v, v AS r FROM verts
       |  UNION
       |  SELECT reach.v, e.b AS r FROM reach JOIN ed e ON reach.r = e.a),
       |comp AS (SELECT v AS doc_id, MIN(r) AS group_id FROM reach GROUP BY v),
       |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> group_id)
       |SELECT d.doc_id, d.lang, d.source FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin

  // -- p6: the daily image-increment capstone ---------------------------
  // The image twin of p4 (r13 verdict task #6): the text family proves
  // increment ≡ recompute end-to-end (p4/p4p); images had the parts —
  // mm8 perceptual signatures, dd8 incremental hamming pairs, dd10
  // incremental groups — but no composed, oracled daily verb. This is
  // that verb, the way a daily image-ingestion run executes it:
  //
  //   seed yesterday's assets from the corpus split (ahash signature
  //     asset + perceptual-dup groups asset)
  //   → decode + ahash today's increment (signatures land as inc_0 —
  //     the ONLY decode work of the day is the increment's)
  //   → dd8 pairs  (corpus sig asset streamed, increment broadcast —
  //     the corpus is never re-paired and never re-DECODED)
  //   → dd10 groups (fixpoint over contracted labels only)
  //   → upsert + quiesce compaction of both assets
  //   → keep/drop  (drop every doc that doesn't lead its group)
  //
  // The oracle is the BATCH-GLOBAL answer: connected components over
  // the FULL ahash pair set (mm8's closed-form CTE chain), drop
  // non-leaders — so the hash-match proves increment ≡ recompute for
  // the whole composed image pipeline, like p4's does for text.
  // Each run deletes and re-seeds its scratch assets (determinism
  // from recomputation, not reused state); seeding dominates
  // wall-clock, so p6 is correctness-gated but not benched — mm9 and
  // the dd8/dd10p probes carry the measured daily costs.
  private def dailyImageIncrement(s: SparkSession, dir: String): DataFrame = {
    import graft.api.{Barrier, Dedup, Increment}
    import graft.operators.DedupQueries.IncMod
    val root = s"target/graft_p6/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Barrier.scoped {
      // one decode pass feeds both splits (the barrier is released at
      // scope exit — everything derived from it is written inside)
      val sigs = Barrier(ahashSigs(s, dir))
      val corpusSigs = sigs.filter(col("doc_id") % IncMod =!= 0)
      // yesterday's state: signature asset + groups asset from the
      // corpus split only
      corpusSigs.write.mode("overwrite").parquet(s"$root/sigs/base")
      // guard sidecar (r16): the daily dd8-shaped precheck reads this
      // instead of re-scanning the corpus signature asset
      Dedup.writeSignatureHistogram(
        s, s"$root/sigs/base", ImageFamily.guardKeys)
      Dedup.duplicateGroups(
          Dedup.hammingPairs(corpusSigs, "doc_id", "sig", AHashMaxHamming),
          "doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$root/groups/base")
      // today: the increment step, then the day's quiesce point
      Increment.step(s, s"$root/sigs", Some(s"$root/groups"), s"$root/pairs",
        "inc_0", sigs.filter(col("doc_id") % IncMod === 0), ImageFamily)
      Increment.compact(s, s"$root/sigs", Some(s"$root/groups"), ImageFamily)
    }
    Increment.survivors(Tables.documents(s, dir), s"$root/groups")
  }

  private val dailyImageIncrementSql =
    s"""WITH RECURSIVE $ahashCtes,
       |ok AS (SELECT doc_a, doc_b FROM pairs WHERE hamming <= $AHashMaxHamming),
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM ok
       |       UNION ALL SELECT doc_b, doc_a FROM ok),
       |verts AS (SELECT DISTINCT a AS v FROM ed),
       |reach AS (
       |  SELECT v, v AS r FROM verts
       |  UNION
       |  SELECT reach.v, e.b AS r FROM reach JOIN ed e ON reach.r = e.a),
       |comp AS (SELECT v AS doc_id, MIN(r) AS group_id FROM reach GROUP BY v),
       |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> group_id)
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin

  // -- p6p: the composed image daily verb at its OWN cost --------------
  // p6 proves increment ≡ recompute for the image pipeline but re-seeds
  // AND re-decodes the full corpus every run, so its wall-clock is
  // ~seeding — it carries no measured number for the verb a capacity
  // planner sizes a day around (the r14 verdict's task #4; p4p's
  // pattern applied to images). p6p is that number: both assets are
  // seeded ONCE per JVM (the cold bench pass pays it, warm passes only
  // read), and the timed plan is exactly the daily composition
  //
  //   decode + ahash ONLY the increment (the day's sole codec work —
  //     the id filter sits below the decode mapPartitions)
  //   → dd8 pairs   (sig asset streamed once, increment broadcast)
  //   → dd10 groups (fixpoint over contracted labels only)
  //   → upsert      (touched components land as a groups inc dir)
  //   → keep/drop   (corpus anti-joins the broadcastable loser set)
  //
  // with NO seeding and NO compaction (the quiesce-point maintenance
  // verb is not part of the daily latency path). The increment is
  // Increment.step with the fixed tag inc_0, whose replay rule (reads
  // exclude inc_0, writes overwrite it) lets warm passes replay the
  // same day against the pristine seeded base. The resolved
  // merge-on-read group table equals p6's post-compaction one, so p6's
  // batch-global oracle (components over the FULL ahash pair set)
  // gates this binding unchanged.
  private def dailyImageIncrementAsset(s: SparkSession, dir: String): DataFrame = {
    import graft.api.Increment
    import graft.operators.DedupQueries.IncMod
    val root = QueryDef.seedOnce(s, "p6p", dir) { root =>
      graft.api.Barrier.scoped {
        val corpusSigs = graft.api.Barrier(ahashSigsOf(
          docIds(s, dir).filter(col("doc_id") % IncMod =!= 0)))
        corpusSigs.write.mode("overwrite").parquet(s"$root/sigs/base")
        // guard sidecar: p6p's daily precheck reads this, so the timed
        // path never re-scans the corpus signature asset
        graft.api.Dedup.writeSignatureHistogram(
          s, s"$root/sigs/base", ImageFamily.guardKeys)
        // seed via the CONTRACTION verb (≡ duplicateGroups over
        // hammingPairs, property-pinned) — the pattern the pair
        // budget preaches: the replica fixture's ahash space
        // saturates (~716 distinct sigs), so the all-pairs seeding
        // form would trip its own guard at the 500 k-doc decade
        graft.api.Dedup.hammingGroups(
            corpusSigs, "doc_id", "sig", AHashMaxHamming)
          .write.mode("overwrite").parquet(s"$root/groups/base")
      }
    }
    // the decode (the day's ONLY codec work: the increment's) runs
    // once, in the step's barrier job
    Increment.step(s, s"$root/sigs", Some(s"$root/groups"), s"$root/pairs",
      "inc_0", ahashSigsOf(docIds(s, dir).filter(col("doc_id") % IncMod === 0)),
      ImageFamily)
    Increment.survivors(Tables.documents(s, dir), s"$root/groups")
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("mm1_media_meta", mediaMeta, Some(mediaMetaSql)),
    QueryDef("mm2_frame_sample", frameSampleQ, Some(frameSampleSql)),
    QueryDef("mm3_resize_meta", resizeMetaQ, Some(resizeMetaSql)),
    QueryDef("mm4_bmp_decode", bmpDecodeQ, Some(bmpDecodeSql)),
    QueryDef("mm5_bmp_resize", bmpResizeQ, Some(bmpResizeSql)),
    QueryDef("mm6_wav_decode", wavDecodeQ, Some(wavDecodeSql)),
    QueryDef("mm7_wav_energy", wavEnergyQ, Some(wavEnergySql)),
    QueryDef("mm8_ahash_dedup", ahashDedupQ, Some(ahashDedupSql), bench = true),
    QueryDef("mm9_ahash_groups", ahashGroupsQ, Some(ahashGroupsSql), bench = true),
    QueryDef("p3_image_dedup", imageDedupCorpus, Some(imageDedupCorpusSql)),
    QueryDef("p6_daily_image_increment", dailyImageIncrement,
      Some(dailyImageIncrementSql)),
    QueryDef("p6p_daily_image_increment_asset", dailyImageIncrementAsset,
      Some(dailyImageIncrementSql), bench = true),
  )
}
