package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing (driver north-star extension): treat
  * media payloads as opaque `binary` columns with typed metadata, and
  * run decode/feature-extraction as partition-batched functions over
  * a typed Dataset (`mapPartitions` — the Scala analog of
  * `mapInPandas`: one invocation per batch/partition, not per row).
  *
  * The decode stage is REAL: `javax.imageio` (ships with every JDK,
  * zero external deps) decodes PNG payloads and features are computed
  * from the decoded raster. Because the fixture corpus carries no
  * genuine media, the payloads are deterministic synthetic grayscale
  * PNGs — pixel p(x,y) = (7x + 13y + doc_id) mod 256 at dims derived
  * from doc_id — ENCODED with the same codec. That makes the whole
  * encode→bytes→decode→features path hash-gated: the DuckDB oracle
  * computes the identical features analytically from the pixel
  * formula, so a green hash proves the codec roundtrip is lossless
  * and the raster readout exact. (PNG byte length is deliberately NOT
  * an output column — compressed size is codec-version-specific, the
  * one thing about the roundtrip that is not portable.)
  *
  * Scale note: binary payloads ride in the row (parquet BYTE_ARRAY);
  * encode and decode are narrow maps (no shuffle), so the stage
  * scales linearly with input splits. Feature extraction keeps only
  * the small typed struct, dropping the heavy bytes as early as
  * possible.
  */
object Multimodal {

  // ImageIO ships with a DISK-backed stream cache by default
  // (`ImageIO.getUseCache` = true): every encode AND decode spins up a
  // temp FILE (create/write/seek/delete) behind the
  // Image{Input,Output}Stream, even when — as here — the payload is an
  // in-memory byte array. That is pure stream plumbing: decoded pixels
  // and encoded PNG bytes are byte-identical either way (pinned by
  // OperatorsSpec), but the per-image temp-file round-trips cost ~2×
  // single-threaded and serialize concurrent decoders on filesystem
  // locks (quiet-host probe, 20k encode+decode+ahash roundtrips:
  // 2.30 → 1.03 s on 1 thread; 1.19 → 0.21 s for 2× the work on 16
  // threads). Set in the object initializer so ANY JVM that touches
  // the codec path (every call routes through this object, driver or
  // executor) flips it before the first codec call.
  ImageIO.setUseCache(false)

  private def docIds(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))

  /** Typed media row: the binary payload IS a decodable PNG image. */
  final case class MediaRow(doc_id: Long, media: Array[Byte])

  /** Features extracted from the DECODED raster. */
  final case class MediaFeatures(
      doc_id: Long,
      width: Long,
      height: Long,
      n_px: Long,
      brightness: Double,
      pixel_md5: String)

  /** Deterministic synthetic grayscale image for a doc, encoded to
    * real PNG bytes via the JDK codec. Dims 8..24 × 8..20 keep the
    * fixture cheap; the pixel formula is what the oracle replays. */
  def synthPng(docId: Long): Array[Byte] = {
    val w = (8 + docId % 17).toInt
    val h = (8 + docId % 13).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((7L * x + 13L * y + docId) % 256L).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL decoder: `ImageIO.read` the payload, then derive features
    * from the decoded raster — mean luminance as the exact integer
    * pixel sum over an exact count (one IEEE division, bit-identical
    * to the SQL replay), plus an md5 fingerprint of the row-major
    * pixel values ('-'-joined decimals, the cross-engine-stable
    * serialization). Fails loud on an undecodable payload. */
  def decode(r: MediaRow): MediaFeatures = {
    val img = ImageIO.read(new ByteArrayInputStream(r.media))
    require(img != null, s"undecodable media payload for doc ${r.doc_id}")
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val sb = new StringBuilder
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = raster.getSample(x, y, 0)
        sum += v
        if (sb.nonEmpty) sb.append('-')
        sb.append(v)
        x += 1
      }
      y += 1
    }
    val nPx = w.toLong * h.toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    MediaFeatures(r.doc_id, w.toLong, h.toLong, nPx,
      sum.toDouble / nPx.toDouble, hex)
  }

  /** Per-doc average-hash row. */
  final case class AHashRow(doc_id: Long, ahash: String)

  /** aHash over the DECODED raster: 8×8 block-average perceptual hash
    * entirely in integer arithmetic — pixel (x,y) lands in cell
    * ((y·8) DIV h, (x·8) DIV w); bit_i = (cellSum_i·n_px ≥
    * totalSum·cellN_i), the cross-multiplied form of "cell mean ≥
    * global mean" (ties → 1, fixed). The 64 bits are serialized
    * row-major as a '0'/'1' string — the cross-engine-stable form.
    * Magnitude envelope: cellSum·n_px ≤ 255·(wh)² — safe far beyond
    * these fixture dims; at real image sizes the same arithmetic
    * holds to 8K×8K frames. */
  def ahash(r: MediaRow): AHashRow = {
    val img = ImageIO.read(new ByteArrayInputStream(r.media))
    require(img != null, s"undecodable media payload for doc ${r.doc_id}")
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var tsum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      val cy = y * 8 / h
      while (x < w) {
        val v = raster.getSample(x, y, 0)
        val cell = cy * 8 + x * 8 / w
        sums(cell) += v
        cnts(cell) += 1
        tsum += v
        x += 1
      }
      y += 1
    }
    val tn = w.toLong * h.toLong
    val sb = new StringBuilder(64)
    var i = 0
    while (i < 64) {
      sb.append(if (sums(i) * tn >= tsum * cnts(i)) '1' else '0')
      i += 1
    }
    AHashRow(r.doc_id, sb.toString)
  }

  // Perceptual-hash image dedup over the REAL codec path: encode →
  // PNG bytes → ImageIO decode → integer 8×8 aHash, then exact-hash
  // grouping (n_same, min-doc keeper election) — the first stage of
  // any image near-dup pipeline. The DuckDB oracle computes the same
  // 64 bits analytically from the pixel formula, so a green hash
  // proves codec roundtrip + downsample + thresholding are all exact.
  // Scale shape: narrow decode map (bytes dropped immediately), one
  // 64-bit-key hash aggregate via window — no pairwise join; a
  // hamming-band refine (SimHash machinery) is the documented next
  // stage for near-dups at distance > 0. The doc-id scan is spread:
  // the decode map is the whole cost and nothing loops behind it.
  private def qImageAhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = Policy.spread(docIds(s, d)).as[Long]
      .mapPartitions(it => it.map(id => ahash(MediaRow(id, synthPng(id)))))
      .toDF()
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("ahash")
    hashes
      .withColumn("n_same", count(lit(1)).over(byHash))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(byHash))
      .select("doc_id", "ahash", "n_same", "is_keeper")
      .orderBy("doc_id")
  }

  /** Per-doc DCT perceptual-hash row. */
  final case class PHashRow(doc_id: Long, phash: String)

  /** Integer-quantized DCT-II cosine table: C(u)(i) =
    * round(cos(π(2i+1)u/32)·1000) for u ∈ 0..7, i ∈ 0..15. Computed
    * ONCE on the driver and inlined as literals into BOTH the Scala
    * hot loop and the DuckDB oracle (the centroid-literal device) —
    * no cross-engine libm cos is ever compared. Scale 10³ keeps the
    * worst-case DCT magnitude at 255·10³·10³·256 ≈ 6.6e13, far inside
    * BIGINT. */
  private[operators] val PhashCos: Array[Array[Long]] =
    Array.tabulate(8, 16)((u, i) =>
      Math.round(Math.cos(Math.PI * (2 * i + 1) * u / 32.0) * 1000.0))

  /** pHash over the DECODED raster — the DCT-domain perceptual hash
    * beside [[ahash]]'s spatial-domain one (robust to brightness and
    * blur rather than crops): nearest-neighbor resample to a fixed
    * 16×16 grid (g(cx,cy) = p((cx·w) DIV 16, (cy·h) DIV 16) — total,
    * integer, no empty-cell case), exact integer 2-D DCT against
    * [[PhashCos]], then each of the 64 low-frequency coefficients
    * thresholds against the MEDIAN of the 63 AC coefficients (the
    * 32nd in ascending order — rank-elected exact BIGINT; DC is a
    * fixed '1'). Everything after the codec is BIGINT arithmetic, so
    * the whole encode→decode→resample→DCT→threshold chain is
    * hash-gated against an analytic replay. */
  def phash(r: MediaRow): PHashRow = {
    val img = ImageIO.read(new ByteArrayInputStream(r.media))
    require(img != null, s"undecodable media payload for doc ${r.doc_id}")
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val g = Array.tabulate(16, 16)((cy, cx) =>
      raster.getSample(cx * w / 16, cy * h / 16, 0).toLong)
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var cy = 0
        while (cy < 16) {
          var cx = 0
          while (cx < 16) {
            acc += g(cy)(cx) * PhashCos(u)(cx) * PhashCos(v)(cy)
            cx += 1
          }
          cy += 1
        }
        f(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = new Array[Long](63)
    System.arraycopy(f, 1, ac, 0, 63)
    java.util.Arrays.sort(ac)
    val med = ac(31) // 32nd smallest of the 63 AC coefficients
    val sb = new StringBuilder(64)
    var i = 0
    while (i < 64) {
      sb.append(if (i == 0 || f(i) > med) '1' else '0')
      i += 1
    }
    PHashRow(r.doc_id, sb.toString)
  }

  // DCT perceptual hash per image over the real codec path, grouped
  // exactly like q_image_ahash (n_same + min-doc keeper). The oracle
  // replays resample, integer DCT (from the SAME inlined cosine
  // literals) and median threshold analytically — a green hash proves
  // the full frequency-domain chain exact. Scale shape: narrow decode
  // map, one hash-key window; the DCT is O(16²·64) integer ops per
  // image inside the map — no shuffle sees anything but the 64-char
  // hash. The doc-id scan is not spread: the DCT map is cheap enough
  // that an extra exchange buys nothing.
  private def qImagePhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = docIds(s, d).as[Long]
      .mapPartitions(it => it.map(id => phash(MediaRow(id, synthPng(id)))))
      .toDF()
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    hashes
      .withColumn("n_same", count(lit(1)).over(byHash))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(byHash))
      .select("doc_id", "phash", "n_same", "is_keeper")
      .orderBy("doc_id")
  }

  // Perceptual near-dup CLUSTERING over image hashes — the stage
  // q_image_ahash's doc promises ("a hamming-band refine is the
  // documented next stage"): every doc's 64-bit aHash becomes a LONG
  // signature (two conv'd 32-bit halves OR'd through a sign-safe
  // shift), and the EXISTING SimHash cluster machinery
  // (TextOps.simhashClustersFromSigs: exact-signature keeper groups →
  // 4×16-bit banded Hamming-≤3 keeper edges → pointer-doubling CC)
  // runs unchanged on top — multimodal columns are first-class dedup
  // citizens, not a parallel code path. ORACLED end-to-end the
  // closure way: DuckDB recomputes the 64 aHash bits analytically
  // from the pixel formula, assembles the same signed 64-bit
  // signature, and replays the keeper graph through a recursive-CTE
  // transitive closure — codec roundtrip, banding, Hamming verify and
  // CC all under one hash gate. Scale shape: decode is a narrow map
  // (pinned once — it is the expensive stage at real image sizes),
  // the band join runs over DISTINCT signatures, CC over keepers.
  // The doc-id scan is not spread: spreading the checkpointed hash
  // frame to defaultParallelism partitions makes every downstream tiny
  // round (banded Hamming join + pointer-doubling CC over keepers) pay
  // more per-task overhead than the ~1 s decode map saves.
  private def qImageDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = docIds(s, d).as[Long]
      .mapPartitions(it => it.map(id => ahash(MediaRow(id, synthPng(id)))))
      .toDF()
      .localCheckpoint() // decode feeds sigs AND the final join — pay it once
    val sigs = hashes.select(col("doc_id"), expr(
      "shiftleft(CAST(conv(substring(ahash, 1, 32), 2, 10) AS BIGINT), 32)" +
        " | CAST(conv(substring(ahash, 33, 32), 2, 10) AS BIGINT)").as("simhash"))
    val labels = TextOps.simhashClustersFromSigs(sigs)
    val csz = labels.groupBy(col("cluster_keeper"))
      .agg(count(lit(1)).as("n_cluster"))
    labels.join(hashes, Seq("doc_id"))
      .join(csz, Seq("cluster_keeper"))
      .select(col("doc_id"), col("ahash"), col("cluster_keeper"),
        col("n_cluster"), (col("doc_id") === col("cluster_keeper")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Binary-column metadata: pure Catalyst expressions over the bytes
    * (length, digest, deterministic pseudo-metadata) — fully oracled.
    */
  private def qMultimodalMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("media", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        length(col("media")).cast("long").as("byte_len"),
        md5(col("media")).as("checksum"),
        (lit(64L) + length(col("media")).cast("long") % 640L).as("width"),
        (lit(64L) + length(col("media")).cast("long") % 480L).as("height"),
        (lit(1L) + length(col("media")).cast("long") % 30L).as("n_frames"))
      .orderBy("doc_id")

  // Partition-batched encode→decode→feature-extract over the typed
  // Dataset — the mapInPandas-shaped path, with a REAL codec on both
  // sides. ORACLED: DuckDB computes the same features analytically
  // from the pixel formula (see the object doc). The doc-id scan is
  // spread: decode here reads every pixel into an md5 string, the
  // heaviest per-image map in the family.
  private def qMultimodalFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Policy.spread(docIds(s, d)).as[Long]
      .mapPartitions(it => it.map(id => MediaRow(id, synthPng(id))))
    media
      .mapPartitions(it => it.map(decode))
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame sampling: every 3rd frame index of each media payload
    * becomes its own row with a per-frame descriptor — the
    * rate-subsampling shape a video pipeline runs before feature
    * extraction. The 1→N expansion is a generator (explode over the
    * sampled index sequence), the descriptor a digest of the frame's
    * byte window — pure Catalyst, so the whole shape is oracled; a
    * real codec swaps into the descriptor expression only.
    */
  private def qMultimodalFrames(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("n_frames", lit(1L) + col("len") % 30L)
      .select(col("doc_id"), col("text"), col("len"),
        explode(expr("sequence(0L, n_frames - 1, 3L)")).as("frame_idx"))
      .withColumn("frame_off",
        lit(1L) + (col("frame_idx") * lit(37L)) % greatest(col("len") - 99L, lit(1L)))
      .select(col("doc_id"), col("frame_idx"), col("frame_off"),
        md5(expr("substring(text, CAST(frame_off AS INT), 100)")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** Resize/thumbnail plumbing: emit the reduced-payload descriptor
    * (¼-scale target dims, truncated payload digest + length). The
    * byte-slicing stands in for a scaler kernel; schema and row shape
    * are what a real resize stage produces. Oracled.
    */
  private def qMultimodalResize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("thumb_len", expr("(len + 3) DIV 4"))
      .select(
        col("doc_id"), col("len"), col("thumb_len"),
        greatest(expr("(64 + len % 640) DIV 4"), lit(16L)).as("thumb_w"),
        greatest(expr("(64 + len % 480) DIV 4"), lit(16L)).as("thumb_h"),
        md5(expr("substring(text, 1, CAST(thumb_len AS INT))")).as("thumb_md5"))
      .orderBy("doc_id")

  /** Deterministic synthetic PCM16LE waveform for a doc: n samples of
    * v_k = ((31·doc_id + 97·k) mod 4001) − 2000, packed little-endian
    * two's-complement — REAL audio bytes in the interchange format
    * sox/ffmpeg call s16le. The formula is what the oracle replays. */
  def synthPcm(docId: Long): Array[Byte] = {
    val n = (64 + docId % 193).toInt
    val buf = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var k = 0
    while (k < n) {
      buf.putShort((((31L * docId + 97L * k) % 4001L) - 2000L).toShort)
      k += 1
    }
    buf.array()
  }

  /** The Catalyst s16le parse: 16-bit little-endian two's-complement
    * samples re-assembled from a `media` binary column with
    * hex/conv expressions (expects an `n_samples` BIGINT column =
    * length(media) DIV 2). Extracted so the boundary-value spec can
    * drive it with hand-packed extremes (−32768, −1, 0, 32767) the
    * synthetic waveform never reaches. */
  private[graft] val PcmSamplesExpr: String =
    """transform(sequence(0L, n_samples - 1L), i -> (
      |  CAST(conv(hex(substring(media, CAST(2*i+1 AS INT), 1)), 16, 10) AS BIGINT)
      |  + 256L * CAST(conv(hex(substring(media, CAST(2*i+2 AS INT), 1)), 16, 10) AS BIGINT)
      |) - IF(CAST(conv(hex(substring(media, CAST(2*i+2 AS INT), 1)), 16, 10) AS BIGINT) >= 128L,
      |       65536L, 0L))""".stripMargin

  // Audio-stats over a REAL byte-parsing path — the audio twin of
  // q_multimodal_features, but the decode stage is pure CATALYST:
  // each 16-bit little-endian sample is re-assembled from its two
  // payload bytes with hex/conv/two's-complement expressions inside
  // whole-stage codegen (no UDF, no mapPartitions on the decode
  // side). Stats are the standard waveform QC set: peak |v|, RMS
  // (one IEEE sqrt over exact BIGINT power sums), zero-crossing
  // count, and an md5 of every parsed sample ('-'-joined decimals) —
  // the DuckDB oracle computes all of them ANALYTICALLY from the
  // sample formula without touching bytes, so a green hash proves
  // the pack→bytes→parse roundtrip is sample-exact. Scale shape:
  // synthesis and parse are narrow maps (no shuffle); bytes drop at
  // the project; the only ordering is the oracle-mandated final sort.
  private def qAudioStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Policy.spread(docIds(s, d)).as[Long]
      .mapPartitions(it => it.map(id => MediaRow(id, synthPcm(id))))
      .toDF()
    media
      .withColumn("n_samples", expr("CAST(length(media) DIV 2 AS BIGINT)"))
      .withColumn("samples", expr(PcmSamplesExpr))
      .select(
        col("doc_id"), col("n_samples"),
        expr("aggregate(samples, 0L, (a, v) -> greatest(a, abs(v)))").as("peak"),
        expr("aggregate(samples, 0L, (a, v) -> a + abs(v))").as("sum_abs"),
        expr("sqrt(CAST(aggregate(samples, 0L, (a, v) -> a + v*v) AS DOUBLE)" +
          " / CAST(n_samples AS DOUBLE))").as("rms"),
        expr("aggregate(sequence(0L, n_samples - 2L), 0L, (a, i) ->" +
          " a + IF((samples[CAST(i AS INT)] < 0L) != (samples[CAST(i+1 AS INT)] < 0L), 1L, 0L))")
          .as("zero_cross"),
        md5(encode(expr("array_join(transform(samples, v -> CAST(v AS STRING)), '-')"),
          "UTF-8")).as("wave_md5"))
      .orderBy("doc_id")
  }

  /** Short-time audio framing over the SAME real s16le parse path as
    * q_audio_stats — the STFT-prep operator (64-sample frames, hop 32,
    * full frames only): per frame the standard energy/peak/zero-cross
    * set plus RMS (one IEEE sqrt over an exact BIGINT power sum), and
    * a per-doc argmax-energy frame election with a deterministic
    * (energy DESC, frame) tiebreak — the "loudest window" primitive a
    * clip-selection pipeline keys on. The frame explode is bounded by
    * samples/hop per doc (never corpus-shaped); everything after the
    * Catalyst byte parse is per-row array arithmetic inside codegen.
    * The oracle replays frames ANALYTICALLY from the waveform formula
    * — bytes never cross engines, so a green hash re-proves the
    * pack→parse roundtrip at frame granularity. */
  private def qAudioFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Policy.spread(docIds(s, d)).as[Long]
      .mapPartitions(it => it.map(id => MediaRow(id, synthPcm(id))))
      .toDF()
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("energy").desc, col("frame"))
    media
      .withColumn("n_samples", expr("CAST(length(media) DIV 2 AS BIGINT)"))
      // guard: a sub-window clip (< 64 samples) contributes zero frames;
      // without it sequence(0, negative) would yield a DESCENDING range
      // and bogus slice() windows. Unreachable with synthPcm (n >= 64)
      // but load-bearing the day the fixture changes.
      .filter(col("n_samples") >= 64L)
      .withColumn("samples", expr(PcmSamplesExpr))
      .select(col("doc_id"), col("n_samples"),
        explode(expr("sequence(0L, (n_samples - 64L) DIV 32L)")).as("frame"),
        col("samples"))
      .withColumn("win", expr("slice(samples, CAST(32 * frame + 1 AS INT), 64)"))
      .select(
        col("doc_id"), col("frame"),
        (col("frame") * 32L).as("start_idx"),
        expr("aggregate(win, 0L, (a, v) -> a + v * v)").as("energy"),
        expr("aggregate(win, 0L, (a, v) -> greatest(a, abs(v)))").as("peak"),
        expr("aggregate(sequence(0, 62), 0L, (a, i) ->" +
          " a + IF((win[i] < 0L) != (win[i+1] < 0L), 1L, 0L))").as("zero_cross"))
      .withColumn("rms", expr("sqrt(CAST(energy AS DOUBLE) / 64.0)"))
      .withColumn("is_loudest", row_number().over(byDoc) === 1)
      .select("doc_id", "frame", "start_idx", "energy", "peak", "zero_cross",
        "rms", "is_loudest")
      .orderBy("doc_id", "frame")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_audio_stats" -> (qAudioStats _),
    "q_audio_frames" -> (qAudioFrames _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_features" -> (qMultimodalFeatures _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_resize" -> (qMultimodalResize _),
    "q_image_ahash" -> (qImageAhash _),
    "q_image_phash" -> (qImagePhash _),
    "q_image_dedup" -> (qImageDedup _)
  )

  private def phashOracleSql: String = {
    val ctab = (for (u <- 0 until 8; i <- 0 until 16)
      yield s"($u,$i,${PhashCos(u)(i)})").mkString(", ")
    s"""WITH dims AS (
       |  SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
       |  FROM documents
       |), cell AS (
       |  SELECT doc_id, w, h, unnest(range(0, 256)) AS idx FROM dims
       |), grid AS (
       |  SELECT doc_id, idx % 16 AS cx, idx // 16 AS cy,
       |         (7*(((idx % 16)*w) // 16) + 13*(((idx // 16)*h) // 16)
       |          + doc_id) % 256 AS g
       |  FROM cell
       |), ctab(u, i, c) AS (VALUES $ctab),
       |coef AS (
       |  SELECT g.doc_id, cu.u AS u, cv.u AS v,
       |         CAST(SUM(g.g * cu.c * cv.c) AS BIGINT) AS f
       |  FROM grid g
       |  JOIN ctab cu ON cu.i = g.cx
       |  JOIN ctab cv ON cv.i = g.cy
       |  GROUP BY g.doc_id, cu.u, cv.u
       |), med AS (
       |  SELECT doc_id, f AS med FROM (
       |    SELECT doc_id, f,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS rn
       |    FROM coef WHERE NOT (u = 0 AND v = 0))
       |  WHERE rn = 32
       |), bits AS (
       |  SELECT c.doc_id,
       |         string_agg(CASE WHEN c.u = 0 AND c.v = 0 THEN '1'
       |                         WHEN c.f > m.med THEN '1' ELSE '0' END,
       |                    '' ORDER BY c.u, c.v) AS phash
       |  FROM coef c JOIN med m ON c.doc_id = m.doc_id
       |  GROUP BY c.doc_id
       |)
       |SELECT b.doc_id, b.phash,
       |       CAST(COUNT(*) OVER (PARTITION BY b.phash) AS BIGINT) AS n_same,
       |       b.doc_id = MIN(b.doc_id) OVER (PARTITION BY b.phash) AS is_keeper
       |FROM bits b
       |ORDER BY b.doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_audio_frames" ->
      // analytic per-frame replay of the sample formula (see
      // q_audio_stats): frame f covers k ∈ [32f, 32f+64)
      """WITH dims AS (
        |  SELECT doc_id, 64 + doc_id % 193 AS n FROM documents
        |), fr AS (
        |  SELECT doc_id, n, unnest(range(0, (n - 64) // 32 + 1)) AS frame FROM dims
        |), j AS (
        |  SELECT doc_id, frame, unnest(range(0, 64)) AS j FROM fr
        |), v AS (
        |  SELECT doc_id, frame, j,
        |         (31*doc_id + 97*(32*frame + j)) % 4001 - 2000 AS val
        |  FROM j
        |), zc AS (
        |  SELECT a.doc_id, a.frame, CAST(COUNT(*) AS BIGINT) AS zero_cross
        |  FROM v a JOIN v b ON b.doc_id = a.doc_id AND b.frame = a.frame
        |                   AND b.j = a.j + 1
        |  WHERE (a.val < 0) <> (b.val < 0)
        |  GROUP BY a.doc_id, a.frame
        |), agg AS (
        |  SELECT doc_id, CAST(frame AS BIGINT) AS frame,
        |         CAST(frame * 32 AS BIGINT) AS start_idx,
        |         CAST(SUM(val*val) AS BIGINT) AS energy,
        |         CAST(MAX(abs(val)) AS BIGINT) AS peak,
        |         sqrt(CAST(SUM(val*val) AS DOUBLE) / 64.0) AS rms
        |  FROM v GROUP BY doc_id, frame
        |), full_f AS (
        |  SELECT a.doc_id, a.frame, a.start_idx, a.energy, a.peak,
        |         COALESCE(z.zero_cross, 0) AS zero_cross, a.rms,
        |         ROW_NUMBER() OVER (PARTITION BY a.doc_id
        |                            ORDER BY a.energy DESC, a.frame) = 1 AS is_loudest
        |  FROM agg a LEFT JOIN zc z ON z.doc_id = a.doc_id AND z.frame = a.frame
        |)
        |SELECT doc_id, frame, start_idx, energy, peak, zero_cross, rms, is_loudest
        |FROM full_f
        |ORDER BY doc_id, frame""".stripMargin,
    "q_audio_stats" ->
      // analytic replay of the sample formula: the oracle never sees
      // the PCM bytes, so agreement proves the Spark-side pack→parse
      // (little-endian two's-complement via hex/conv) is sample-exact
      """WITH dims AS (
        |  SELECT doc_id, 64 + doc_id % 193 AS n FROM documents
        |), k AS (
        |  SELECT doc_id, n, unnest(range(0, n)) AS k FROM dims
        |), v AS (
        |  SELECT doc_id, n, k, (31*doc_id + 97*k) % 4001 - 2000 AS val
        |  FROM k
        |), zc AS (
        |  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS zero_cross
        |  FROM v a JOIN v b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        |  WHERE (a.val < 0) <> (b.val < 0)
        |  GROUP BY a.doc_id
        |), agg AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |         CAST(MAX(abs(val)) AS BIGINT) AS peak,
        |         CAST(SUM(abs(val)) AS BIGINT) AS sum_abs,
        |         sqrt(CAST(SUM(val*val) AS DOUBLE) / CAST(n AS DOUBLE)) AS rms,
        |         md5(string_agg(CAST(val AS VARCHAR), '-' ORDER BY k)) AS wave_md5
        |  FROM v GROUP BY doc_id, n
        |)
        |SELECT a.doc_id, a.n_samples, a.peak, a.sum_abs, a.rms,
        |       COALESCE(z.zero_cross, 0) AS zero_cross, a.wave_md5
        |FROM agg a LEFT JOIN zc z ON z.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    "q_multimodal_features" ->
      // analytic replay of the pixel formula: the oracle never touches
      // PNG bytes, so agreement proves the Spark-side codec roundtrip
      // (synthPng → ImageIO.read → raster readout) is lossless
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, unnest(range(0, w*h)) AS idx FROM dims
        |), v AS (
        |  SELECT doc_id, w, h, idx,
        |         (7*(idx % w) + 13*(idx // w) + doc_id) % 256 AS val
        |  FROM px
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(w*h AS BIGINT) AS n_px,
        |       CAST(SUM(val) AS DOUBLE) / (w*h) AS brightness,
        |       md5(string_agg(CAST(val AS VARCHAR), '-' ORDER BY idx)) AS pixel_md5
        |FROM v GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin,
    "q_image_phash" -> phashOracleSql,
    "q_image_ahash" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, unnest(range(0, w*h)) AS idx FROM dims
        |), v AS (
        |  SELECT doc_id, w, h, idx % w AS x, idx // w AS y,
        |         (7*(idx % w) + 13*(idx // w) + doc_id) % 256 AS val
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ((y*8) // h) * 8 + (x*8) // w AS cell,
        |         CAST(SUM(val) AS BIGINT) AS csum,
        |         CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM v GROUP BY doc_id, ((y*8) // h) * 8 + (x*8) // w
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(csum) AS BIGINT) AS tsum,
        |         CAST(SUM(cn) AS BIGINT) AS tn
        |  FROM cells GROUP BY doc_id
        |), bits AS (
        |  SELECT c.doc_id,
        |         string_agg(CASE WHEN csum * tn >= tsum * cn THEN '1' ELSE '0' END,
        |                    '' ORDER BY cell) AS ahash
        |  FROM cells c JOIN tot t ON t.doc_id = c.doc_id
        |  GROUP BY c.doc_id
        |), grp AS (
        |  SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_same,
        |         MIN(doc_id) AS keeper
        |  FROM bits GROUP BY ahash
        |)
        |SELECT b.doc_id, b.ahash, g.n_same, b.doc_id = g.keeper AS is_keeper
        |FROM bits b JOIN grp g ON g.ahash = b.ahash
        |ORDER BY doc_id""".stripMargin,
    "q_image_dedup" ->
      // analytic aHash bits → the SAME signed 64-bit signature the
      // engine assembles → keeper graph → recursive-CTE transitive
      // closure (the q_simhash_closure oracle pattern): banding +
      // Hamming verify + CC agree with a declarative fixpoint in a
      // different engine, row for row
      """WITH RECURSIVE dims AS (
        |  SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, unnest(range(0, w*h)) AS idx FROM dims
        |), v AS (
        |  SELECT doc_id, w, h, idx % w AS x, idx // w AS y,
        |         (7*(idx % w) + 13*(idx // w) + doc_id) % 256 AS val
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ((y*8) // h) * 8 + (x*8) // w AS cell,
        |         CAST(SUM(val) AS BIGINT) AS csum,
        |         CAST(COUNT(*) AS BIGINT) AS cn
        |  FROM v GROUP BY doc_id, ((y*8) // h) * 8 + (x*8) // w
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(csum) AS BIGINT) AS tsum,
        |         CAST(SUM(cn) AS BIGINT) AS tn
        |  FROM cells GROUP BY doc_id
        |), bitsd AS (
        |  SELECT c.doc_id, c.cell,
        |         CASE WHEN csum * tn >= tsum * cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t ON t.doc_id = c.doc_id
        |), ah AS (
        |  SELECT doc_id,
        |         string_agg(CAST(bit AS VARCHAR), '' ORDER BY cell) AS ahash,
        |         CAST(SUM(CASE WHEN cell < 32
        |                       THEN bit * CAST(POW(2, 31 - cell) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS hi,
        |         CAST(SUM(CASE WHEN cell >= 32
        |                       THEN bit * CAST(POW(2, 63 - cell) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS lo
        |  FROM bitsd GROUP BY doc_id
        |), sigd AS (
        |  SELECT doc_id, ahash,
        |         (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
        |           * 4294967296 + lo AS simhash
        |  FROM ah
        |), groups AS (
        |  SELECT simhash, MIN(doc_id) AS keeper_id FROM sigd GROUP BY simhash
        |), near AS (
        |  SELECT a.keeper_id AS src, b.keeper_id AS dst
        |  FROM groups a JOIN groups b
        |    ON a.simhash <> b.simhash AND bit_count(xor(a.simhash, b.simhash)) <= 3
        |), reach AS (
        |  SELECT keeper_id AS src, keeper_id AS dst FROM groups
        |  UNION
        |  SELECT r.src, n.dst FROM reach r JOIN near n ON r.dst = n.src
        |), lbl AS (
        |  SELECT src AS keeper_id, MIN(dst) AS cluster_keeper FROM reach GROUP BY src
        |), labels AS (
        |  SELECT s.doc_id, s.ahash, l.cluster_keeper
        |  FROM sigd s JOIN groups g USING (simhash) JOIN lbl l USING (keeper_id)
        |), csz AS (
        |  SELECT cluster_keeper, CAST(COUNT(*) AS BIGINT) AS n_cluster
        |  FROM labels GROUP BY cluster_keeper
        |)
        |SELECT labels.doc_id, labels.ahash, labels.cluster_keeper, csz.n_cluster,
        |       labels.doc_id = labels.cluster_keeper AS is_keeper
        |FROM labels JOIN csz USING (cluster_keeper)
        |ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
        |         1 + CAST(length(text) AS BIGINT) % 30 AS n_frames
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, text, len, unnest(range(0, n_frames, 3)) AS frame_idx FROM f
        |)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(1 + (frame_idx * 37) % greatest(len - 99, 1) AS BIGINT) AS frame_off,
        |       md5(substring(text,
        |             CAST(1 + (frame_idx * 37) % greatest(len - 99, 1) AS INT), 100)) AS frame_md5
        |FROM s
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_multimodal_resize" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS len,
        |       CAST((length(text) + 3) // 4 AS BIGINT) AS thumb_len,
        |       CAST(greatest((64 + length(text) % 640) // 4, 16) AS BIGINT) AS thumb_w,
        |       CAST(greatest((64 + length(text) % 480) // 4, 16) AS BIGINT) AS thumb_h,
        |       md5(substring(text, 1, CAST((length(text) + 3) // 4 AS INT))) AS thumb_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       md5(text) AS checksum,
        |       64 + CAST(octet_length(encode(text)) AS BIGINT) % 640 AS width,
        |       64 + CAST(octet_length(encode(text)) AS BIGINT) % 480 AS height,
        |       1 + CAST(octet_length(encode(text)) AS BIGINT) % 30 AS n_frames
        |FROM documents
        |ORDER BY doc_id""".stripMargin
  )
}
