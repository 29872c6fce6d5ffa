package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads travel as opaque `binary`
  * columns with typed metadata; decode / feature-extract runs as a typed
  * `mapPartitions` over case-class rows in bounded batches (the Scala analog
  * of arrow-batched pandas UDFs — per-partition iterators, no driver
  * materialization, batch size bounds peak memory).
  *
  * Decode status by modality — all three are REAL now:
  *  - IMAGE pixels: [[decodeImages]] (`javax.imageio` — JDK-built-in
  *    PNG/JPEG/BMP/GIF, no external codec needed; q82 oracle).
  *  - AUDIO samples: [[decodeAudio]] (`javax.sound.sampled` — JDK-built-in
  *    WAV 16-bit PCM; q84 oracle checks decoded-sample statistics against
  *    synthesis arithmetic).
  *  - VIDEO container: [[extractMp4Meta]] (real ISO-BMFF box walk — track
  *    count, duration, frame count; q85 oracle). Entropy-coded FRAME
  *    decode (H.264 etc.) genuinely needs an external codec and stays a
  *    swap-in point; the container metadata is what curation filters on.
  * Container-header metadata for PNG/JPEG/WAV/GIF/BMP is [[extractMeta]].
  * [[decodeStub]] remains as the deterministic plumbing fixture its q36
  * probe pins (schema/batching under test with declared fake features).
  */
object Multimodal {

  /** One media payload: id + raw bytes + declared mime. */
  case class MediaRecord(media_id: Long, media: Array[Byte], mime: String)

  /** Parsed container metadata — REAL parsing, not stubbed: the header
    * formats (PNG IHDR, JPEG SOF, WAV RIFF/fmt) are pure byte arithmetic
    * and need no codec. `kind = "unknown"` for unrecognized payloads.
    * Only entropy-coded pixel/sample DECODE remains the external swap-in
    * ([[decodeOne]]); dimensions, channels, and sample rates — what a
    * curation pipeline filters and stratifies on — come from here.
    */
  case class MediaMeta(kind: String, width: Int, height: Int,
                       channels: Int, sampleRate: Int)

  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** PNG: 8-byte signature, then the IHDR chunk (always first): width at
    * byte 16, height at 20, both big-endian.
    */
  private def parsePng(b: Array[Byte]): Option[MediaMeta] =
    if (b.length >= 24 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(MediaMeta("png", beInt(b, 16), beInt(b, 20), 0, 0))
    else None

  /** JPEG: SOI (FFD8), then marker segments; dimensions live in the first
    * SOF0/SOF1/SOF2 frame header — height big-endian at +5, width at +7,
    * components at +9. Walk segments by their big-endian lengths.
    */
  private def parseJpeg(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    var i = 2
    while (i + 9 < b.length && (b(i) & 0xff) == 0xff) {
      val marker = b(i + 1) & 0xff
      if (marker == 0xff) i += 1 // fill byte (spec-legal padding): resync
      else if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2)
        return Some(MediaMeta("jpeg",
          ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff),
          ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff),
          b(i + 9) & 0xff, 0))
      else if (marker == 0xda) return None // SOS: entropy data, no SOF seen
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
      else i += 2 + (((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff))
    }
    None
  }

  /** WAV: RIFF....WAVE, then chunks; walk to "fmt " (not assumed first —
    * some writers put LIST/JUNK ahead): channels little-endian at +10
    * from the chunk tag, sample rate at +12. Chunk sizes pad to even.
    */
  private def parseWav(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return None
    var i = 12
    while (i + 8 <= b.length) {
      val size = leInt(b, i + 4)
      if (size < 0) return None // corrupt size: would loop forever / index < 0
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ')
        return if (i + 16 <= b.length)
          Some(MediaMeta("wav", 0, 0, leShort(b, i + 10), leInt(b, i + 12)))
        else None
      i += 8 + size + (size & 1)
    }
    None
  }

  /** GIF: GIF87a/GIF89a signature, logical-screen width/height as
    * little-endian u16 at bytes 6/8.
    */
  private def parseGif(b: Array[Byte]): Option[MediaMeta] =
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(MediaMeta("gif", leShort(b, 6), leShort(b, 8), 0, 0))
    else None

  /** BMP: BM signature, then the DIB header whose SIZE (little-endian i32
    * at 14) picks the layout — 12 = OS/2 BITMAPCOREHEADER with u16 dims
    * at 18/20, anything larger = BITMAPINFOHEADER family with i32 dims at
    * 18/22 (height may be negative for top-down rows — report its
    * magnitude). ImageIO decodes BOTH, so the bomb guard must read both
    * correctly: treating a core-header file as info-header misparses its
    * dims into a negative width that slips past the pixel check.
    */
  private def parseBmp(b: Array[Byte]): Option[MediaMeta] =
    if (b.length >= 22 && b(0) == 'B' && b(1) == 'M') {
      if (leInt(b, 14) == 12)
        Some(MediaMeta("bmp", leShort(b, 18), leShort(b, 20), 0, 0))
      else if (b.length >= 26) {
        // Negative width is not a valid BMP (only height legitimately goes
        // negative, for top-down rows) — clamp BOTH dims to >= 0 so no
        // crafted header reaches MediaMeta with a negative dimension, and
        // take the height's magnitude via negation-of-min (math.abs leaves
        // Int.MinValue negative).
        val w = math.max(0, leInt(b, 18))
        val h0 = leInt(b, 22)
        val h = if (h0 == Int.MinValue) Int.MaxValue
                else math.abs(h0)
        Some(MediaMeta("bmp", w, h, 0, 0))
      } else None
    } else None

  /** Largest image-descriptor dims inside a GIF — what ImageIO actually
    * allocates per frame (the logical-screen descriptor at bytes 6/8 can
    * lie small while a frame claims huge). Bounded block walk: skip the
    * global color table, then extensions (0x21: label + length-prefixed
    * sub-blocks) until an image descriptor (0x2C, dims at +5/+7 LE u16)
    * or trailer (0x3B). Any structural garbage ends the walk — the
    * already-seen maximum stands.
    */
  private def gifMaxFrameDims(b: Array[Byte]): (Int, Int) = {
    var best = (0, 0)
    if (b.length < 13) return best
    var i = 13 + (if ((b(10) & 0x80) != 0) 3 << ((b(10) & 7) + 1) else 0)
    var done = false
    while (!done && i < b.length) {
      (b(i) & 0xff) match {
        case 0x2c =>
          if (i + 9 <= b.length) {
            val w = leShort(b, i + 5)
            val h = leShort(b, i + 7)
            if (w.toLong * h > best._1.toLong * best._2) best = (w, h)
            // local color table + image data follow; frame-dim hunting is
            // all the guard needs — stop at the first descriptor (later
            // frames can't be reached without LZW-decoding this one)
          }
          done = true
        case 0x21 => // extension: label byte, then sub-blocks until a 0 len
          i += 2
          while (i < b.length && (b(i) & 0xff) != 0) i += 1 + (b(i) & 0xff)
          i += 1
        case 0x3b => done = true // trailer
        case _ => done = true    // structural garbage: stop
      }
    }
    best
  }

  /** Header-claimed pixel count for every format ImageIO would decode —
    * the decompression-bomb guard's input, exposed so the guard logic is
    * directly testable. GIF takes the max of the logical screen and the
    * first frame descriptor; negative claims clamp to 0 (ImageIO rejects
    * them before allocating).
    */
  def claimedPixels(bytes: Array[Byte]): Long = {
    val m = parseHeader(bytes)
    val base = math.max(0L, m.width.toLong) * math.max(0L, m.height.toLong)
    m.kind match {
      case "png" | "jpeg" | "bmp" => base
      case "gif" =>
        val (fw, fh) = gifMaxFrameDims(bytes)
        math.max(base, math.max(0L, fw.toLong) * math.max(0L, fh.toLong))
      case _ => 0L
    }
  }

  /** Container sniff + header parse. Order: PNG/WAV/GIF/BMP have fixed
    * signatures; JPEG's walk runs last (its sniff is just two bytes).
    */
  def parseHeader(bytes: Array[Byte]): MediaMeta =
    parsePng(bytes).orElse(parseWav(bytes)).orElse(parseGif(bytes))
      .orElse(parseBmp(bytes)).orElse(parseJpeg(bytes))
      .getOrElse(MediaMeta("unknown", 0, 0, 0, 0))

  /** Flat row form of [[MediaMeta]] for Dataset output. */
  case class MediaMetaRow(media_id: Long, kind: String, width: Int,
                          height: Int, channels: Int, sample_rate: Int)

  /** Batched metadata extraction over media payloads — [[parseHeader]]
    * through the same bounded-batch `mapPartitions` shape as
    * [[decodeStub]], but REAL: dimensions / channels / sample rates (the
    * columns a curation pipeline filters and stratifies on) come from
    * actual container bytes. q80 oracle-checks it against payloads whose
    * ground truth is the synthesis parameters.
    */
  def extractMeta(ds: Dataset[MediaRecord],
                  batchSize: Int = 64): Dataset[MediaMetaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.iterator.map { r =>
        val m = parseHeader(r.media)
        MediaMetaRow(r.media_id, m.kind, m.width, m.height, m.channels,
          m.sampleRate)
      })
    }
  }

  /** REAL decoded-pixel features — `javax.imageio` is JDK-built-in, so
    * PNG/JPEG/BMP/GIF need no external codec after all: this is
    * [[decodeOne]]'s swap-in point actually swapped in for images. Same
    * bounded-batch `mapPartitions` shape; an unrecognized payload (audio,
    * video, text bytes) degrades to the `(0, 0, 0, -1)` marker row rather
    * than throwing — curation pipelines filter, the operator doesn't
    * decide. `mean_e4` is the scale-4 fixed-point mean of band 0 — a
    * statistic over the DECODED raster, so the q82 oracle checking it
    * against synthesis ground truth proves real pixel decode, not header
    * sniffing.
    *
    * `decoder` is the formal codec seam ([[Decoders.ImageDecoder]]):
    * default [[Decoders.JdkImageDecoder]] (ImageIO + [[claimedPixels]]
    * bomb guard); an external H.264/WebP codec plugs in here without
    * touching this operator.
    */
  case class DecodedImage(media_id: Long, width: Int, height: Int,
                          bands: Int, mean_e4: Long)

  def decodeImages(ds: Dataset[MediaRecord], batchSize: Int = 64,
                   maxPixels: Long = 64L << 20,
                   decoder: Decoders.ImageDecoder = Decoders.JdkImageDecoder)
      : Dataset[DecodedImage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      decoder.open() // per-partition codec init (JDK path: memory-backed ImageIO cache)
      it.grouped(batchSize).flatMap { batch =>
        // per-batch codec init point (ImageIO reader lookup is JVM-cached)
        batch.iterator.map { r =>
          decoder.decode(r.media, maxPixels) match {
            case Some(im) =>
              val raster = im.getRaster
              val (w, h) = (im.getWidth, im.getHeight)
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
                y += 1
              }
              DecodedImage(r.media_id, w, h, raster.getNumBands,
                math.floor(sum * 10000.0 / (w.toLong * h) + 0.5).toLong)
            case None => DecodedImage(r.media_id, 0, 0, 0, -1L)
          }
        }
      }
    }
  }

  /** PNG-encode a uniform gray tile — the synthesis half of the q82
    * decoded-pixel round trip (and a handy fixture generator). Lossless:
    * a gray-`g` tile decodes back to band-0 samples that are exactly `g`.
    */
  def encodeGrayPng(width: Int, height: Int, gray: Int): Array[Byte] = {
    require(width > 0 && height > 0 && gray >= 0 && gray <= 255)
    javax.imageio.ImageIO.setUseCache(false) // memory-backed streams (see decodeImages)
    val im = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = im.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, gray); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** PNG-encode a diagonal-gradient gray tile: pixel (x, y) = base+x+y
    * (caller keeps the brightest corner ≤ 255). The synthesis half of the
    * q36 decoded-pixel round trip — NON-uniform by design, so its decoded
    * band-0 mean (closed form: base + (w−1)/2 + (h−1)/2) also catches
    * raster-order, stride, and axis-swap bugs that a uniform tile
    * ([[encodeGrayPng]], q82) mathematically cannot.
    */
  def encodeGradientPng(width: Int, height: Int, base: Int): Array[Byte] = {
    require(width > 0 && height > 0 && base >= 0 &&
      base + width - 1 + height - 1 <= 255,
      s"gradient tile out of 8-bit range: ${base}+${width - 1}+${height - 1}")
    javax.imageio.ImageIO.setUseCache(false) // memory-backed streams (see decodeImages)
    val im = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = im.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, base + x + y); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Resized-image summary: `out_sum_e4` = Σ over OUTPUT pixels of the
    * e4 fixed-point box mean (each output pixel's mean floored to e4
    * BEFORE the sum — exact integers, oracle-mirrorable). Marker row
    * (0, 0, 0, 0, -1) for undecodable payloads.
    */
  case class ResizedImage(media_id: Long, width: Int, height: Int,
                          out_w: Int, out_h: Int, out_sum_e4: Long)

  /** Box-average resize over REAL decoded pixels — the thumbnail /
    * feature-downsample step of an image curation pipeline, kept to
    * deterministic integer arithmetic: output pixel (i, j) averages the
    * input box [floor(i·W/ow), floor((i+1)·W/ow)) × (same for rows),
    * boxes clamped to at least one source pixel (degenerates to nearest
    * neighbor when upscaling). Per-box mean exits as an e4 long;
    * `out_sum_e4` sums those — a statistic over every output pixel, so
    * the oracle checking it proves the resample grid actually ran over
    * decoded pixels (band 0). Same bounded-batch mapPartitions + bomb
    * guard as [[decodeImages]].
    */
  /** Row-major e4 box means of the `outW`×`outH` resample grid over
    * band 0 — the shared arithmetic of [[resizeImages]] (sums it) and
    * [[imageAHash]] (thresholds it): box (i, j) covers source columns
    * [floor(i·W/ow), floor((i+1)·W/ow)) (rows likewise), clamped to at
    * least one pixel; the mean exits as floor(sum·1e4/nbox + 0.5).
    */
  private[graft] def boxGridE4(raster: java.awt.image.Raster, w: Int,
                               h: Int, outW: Int, outH: Int): Array[Long] = {
    val out = new Array[Long](outW * outH)
    var j = 0
    while (j < outH) {
      val y0 = (j.toLong * h / outH).toInt
      val y1 = math.min(h, math.max(((j + 1).toLong * h / outH).toInt, y0 + 1))
      var i = 0
      while (i < outW) {
        val x0 = (i.toLong * w / outW).toInt
        val x1 = math.min(w, math.max(((i + 1).toLong * w / outW).toInt, x0 + 1))
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        val nbox = (x1 - x0).toLong * (y1 - y0)
        out(j * outW + i) = math.floor(sum * 10000.0 / nbox + 0.5).toLong
        i += 1
      }
      j += 1
    }
    out
  }

  def resizeImages(ds: Dataset[MediaRecord], outW: Int, outH: Int,
                   batchSize: Int = 64,
                   maxPixels: Long = 64L << 20): Dataset[ResizedImage] = {
    require(outW > 0 && outH > 0, s"resizeImages: bad target ${outW}x$outH")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val bomb = claimedPixels(r.media) > maxPixels
          val img =
            if (bomb) None
            else try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.media)))
            catch { case scala.util.control.NonFatal(_) => None }
          img match {
            case Some(im) =>
              val grid = boxGridE4(im.getRaster, im.getWidth, im.getHeight,
                outW, outH)
              ResizedImage(r.media_id, im.getWidth, im.getHeight,
                outW, outH, grid.sum)
            case None => ResizedImage(r.media_id, 0, 0, 0, 0, -1L)
          }
        }
      }
    }
  }

  /** PNG-encode a two-tone vertical-split gray tile (columns < splitCol
    * are `gLeft`, the rest `gRight`) — lossless, so resize arithmetic
    * over the decoded pixels is exactly mirrorable from the synthesis
    * parameters (the q82 uniform-tile idea, upgraded to a NON-uniform
    * image so a resize oracle can detect wrong box boundaries).
    */
  def encodeSplitGrayPng(width: Int, height: Int, splitCol: Int,
                         gLeft: Int, gRight: Int): Array[Byte] = {
    require(width > 0 && height > 0 && splitCol >= 0 && splitCol <= width &&
      gLeft >= 0 && gLeft <= 255 && gRight >= 0 && gRight <= 255)
    javax.imageio.ImageIO.setUseCache(false)
    val im = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = im.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        raster.setSample(x, y, 0, if (x < splitCol) gLeft else gRight)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Perceptual average-hash of an image: `ahash` bit k (row-major cell
    * k = j·8+i of the 8×8 [[boxGridE4]] grid) is set iff that cell's e4
    * mean exceeds the integer average of all 64 cell means — the aHash
    * of the image-dedup literature, over REAL decoded pixels. All-bits-
    * set is impossible (the minimum cell never exceeds the floored
    * average), so −1 marks undecodable payloads unambiguously.
    */
  case class ImageHash(media_id: Long, ahash: Long)

  def imageAHash(ds: Dataset[MediaRecord], batchSize: Int = 64,
                 maxPixels: Long = 64L << 20): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val bomb = claimedPixels(r.media) > maxPixels
          val img =
            if (bomb) None
            else try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.media)))
            catch { case scala.util.control.NonFatal(_) => None }
          img match {
            case Some(im) =>
              val grid = boxGridE4(im.getRaster, im.getWidth, im.getHeight, 8, 8)
              val avg = grid.sum / 64
              var hash = 0L
              var k = 0
              while (k < 64) {
                if (grid(k) > avg) hash |= 1L << k
                k += 1
              }
              ImageHash(r.media_id, hash)
            case None => ImageHash(r.media_id, -1L)
          }
        }
      }
    }
  }

  /** PNG-encode arbitrary 8-bit gray `pixels` (row-major, length w·h) —
    * the fully-general synthesis fixture: a per-pixel pseudo-random
    * pattern gives [[imageAHash]] probes 64 bits of real entropy (the
    * two-tone tiles hash to a handful of patterns).
    */
  def encodeGrayPixelsPng(width: Int, height: Int,
                          pixels: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height,
      s"encodeGrayPixelsPng: ${pixels.length} pixels for ${width}x$height")
    javax.imageio.ImageIO.setUseCache(false)
    val im = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = im.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixels(y * width + x)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** e4 fixed-point DCT-II basis table for [[imagePHash]]:
    * `PhashCosE4(k)(x) = floor(cos(π·k·(2x+1)/64)·1e4 + 0.5)` for the 8
    * low frequencies over 32 samples. Part of the operator's SPEC, not
    * an implementation detail — the probe oracle embeds these values as
    * literals (the q27 minhashA/B constant-sharing discipline), which
    * keeps the whole hash in exact integer arithmetic end to end: no
    * cross-engine cos/double parity is ever relied on.
    */
  private[graft] val PhashCosE4: Array[Array[Long]] =
    Array.tabulate(8, 32)((k, x) =>
      math.floor(math.cos(math.Pi * k * (2 * x + 1) / 64) * 1e4 + 0.5).toLong)

  case class ImagePHash(media_id: Long, phash: Long)

  /** DCT perceptual hash (pHash — Zauner 2010, the pHash.org design):
    * 32×32 gray box-resize ([[boxGridE4]], e4 integer means), separable
    * integer DCT-II restricted to the 8×8 low-frequency block, then
    * median-threshold: bit k = v·8+u set iff F(u,v) exceeds the MEDIAN
    * of the 63 non-DC coefficients (63 is odd, so the median is the
    * 32nd smallest — an element, never an average). The DC coefficient
    * itself is excluded and bit 0 is always 0 (it tracks overall
    * brightness, not structure — thresholding it against the median of
    * AC terms would pin it to 1 and waste the bit).
    *
    * Why it beats [[imageAHash]] as a near-dup key: aHash thresholds
    * each 2×2-ish cell against the global mean, so low-frequency
    * gradients and brightness-correlated content collide entire bit
    * runs (the r8 sweep's measured weakness); the DCT separates
    * structure into frequency bins first, so bits carry independent
    * shape information and uniform-brightness shifts move only
    * (excluded) DC. Recall/collision row vs aHash: SCALE.md.
    *
    * Exactness: grid means ≤ 255e4, cosines ≤ 1e4 ⇒ row pass ≤ 8.2e11,
    * final ≤ 2.7e17 — all < 2⁶³, no doubles anywhere past the decode.
    * Same bounded-batch mapPartitions + bomb guard as [[decodeImages]];
    * undecodable payloads → marker hash −1.
    */
  def imagePHash(ds: Dataset[MediaRecord], batchSize: Int = 64,
                 maxPixels: Long = 64L << 20): Dataset[ImagePHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val bomb = claimedPixels(r.media) > maxPixels
          val img =
            if (bomb) None
            else try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.media)))
            catch { case scala.util.control.NonFatal(_) => None }
          img match {
            case Some(im) =>
              ImagePHash(r.media_id,
                phashOfRaster(im.getRaster, im.getWidth, im.getHeight))
            case None => ImagePHash(r.media_id, -1L)
          }
        }
      }
    }
  }

  /** The pHash core over a decoded raster — shared by [[imagePHash]] and
    * the per-keyframe video hash ([[videoKeyframePhash]]): 32×32 box
    * grid, separable integer DCT, median threshold, sign packing.
    */
  private[graft] def phashOfRaster(raster: java.awt.image.Raster,
                                   width: Int, height: Int): Long = {
    val g = boxGridE4(raster, width, height, 32, 32)
    // row pass: a(u)(y) = Σ_x g(y,x)·c(u,x)
    val a = Array.ofDim[Long](8, 32)
    var u = 0
    while (u < 8) {
      val cu = PhashCosE4(u)
      var y = 0
      while (y < 32) {
        var s = 0L
        var x = 0
        while (x < 32) { s += g(y * 32 + x) * cu(x); x += 1 }
        a(u)(y) = s
        y += 1
      }
      u += 1
    }
    // column pass: f(v·8+u) = Σ_y a(u)(y)·c(v,y)
    val f = new Array[Long](64)
    var v = 0
    while (v < 8) {
      val cv = PhashCosE4(v)
      var uu = 0
      while (uu < 8) {
        var s = 0L
        var y = 0
        while (y < 32) { s += a(uu)(y) * cv(y); y += 1 }
        f(v * 8 + uu) = s
        uu += 1
      }
      v += 1
    }
    val med = f.drop(1).sorted.apply(31) // 32nd smallest of 63
    var hash = 0L
    var k = 1
    while (k < 64) {
      if (f(k) > med) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** [[imageNearDupPairs]] over pHash signatures — same 4×16-bit-band
    * pigeonhole join (exact for maxHamming < 4), the robust key for the
    * aHash-collision regime.
    */
  def imagePHashNearDupPairs(ds: Dataset[MediaRecord],
                             maxHamming: Int = 3,
                             nBands: Int = 4): DataFrame =
    imagePHashNearDupPairsManaged(ds, maxHamming, nBands).df

  def imagePHashNearDupPairsManaged(ds: Dataset[MediaRecord],
                                    maxHamming: Int = 3,
                                    nBands: Int = 4)
      : graft.core.Managed = {
    val sigs = imagePHash(ds).toDF()
      .withColumnRenamed("phash", "ahash") // banding core is hash-agnostic
    hashBandNearDupPairs(sigs, maxHamming, nBands)
  }

  /** Near-duplicate image pairs by perceptual hash — the image-side
    * MinHash: [[imageAHash]] signatures banded into 4×16-bit keys
    * (pigeonhole: two hashes within hamming `maxHamming` < 4 agree
    * exactly on ≥1 band), equi-joined on (band, bits), verified with
    * `bit_count(xor) <= maxHamming`. EXACT for maxHamming < 4 — the
    * band join is a candidate superset and the verify prunes it — and
    * never all-pairs: the only shuffle is the 4-rows-per-image band
    * join. Undecodable markers never pair. Same Managed discipline as
    * the text near-dup family (the signature derivation — a full decode
    * pass — feeds both join sides; unpersisted it would decode the
    * corpus twice).
    */
  def imageNearDupPairs(ds: Dataset[MediaRecord],
                        maxHamming: Int = 3): DataFrame =
    imageNearDupPairsManaged(ds, maxHamming).df

  def imageNearDupPairsManaged(ds: Dataset[MediaRecord],
                               maxHamming: Int = 3): graft.core.Managed =
    hashBandNearDupPairs(imageAHash(ds).toDF(), maxHamming)

  /** The shared band-join core: signatures (media_id, ahash) from ANY
    * 64-bit perceptual hash, −1 markers excluded, `nBands` equal-width
    * pigeonhole bands (exact for maxHamming < nBands: a pair within
    * that hamming agrees exactly on ≥ 1 band), exact hamming verify.
    * More bands = a higher exact cut at more candidate volume —
    * 4×16-bit serves hamming ≤ 3, 8×8-bit serves ≤ 7 (the
    * gradient-robust pHash cut measured in SCALE.md).
    */
  private def hashBandNearDupPairs(sigs0: DataFrame, maxHamming: Int,
                                   nBands: Int = 4): graft.core.Managed = {
    require(nBands > 0 && 64 % nBands == 0,
      s"band count ($nBands) must divide 64")
    require(maxHamming < nBands,
      s"pigeonhole over $nBands bands needs maxHamming < $nBands")
    val bpb = 64 / nBands
    val mask = if (bpb == 64) -1L else (1L << bpb) - 1L
    val sigs = sigs0
      .filter(col("ahash") =!= -1L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col("media_id"), col("ahash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), b * bpb).bitwiseAND(mask).as("bits"))): _*))
        .as("bb"))
      .select(col("media_id"), col("ahash"), col("bb.band").as("band"),
        col("bb.bits").as("bits"))
    val a = bands.select(col("media_id").as("idA"), col("ahash").as("ha"),
      col("band"), col("bits"))
    val b = bands.select(col("media_id").as("idB"), col("ahash").as("hb"),
      col("band"), col("bits"))
    val out = a.join(b, Seq("band", "bits"))
      .filter(col("idA") < col("idB"))
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("idA", "idB", "hamming").distinct()
    graft.core.Managed(out, Seq(sigs))
  }

  // ---- persisted pHash near-dup index (round 14) -------------------------

  /** [[imagePHashNearDupPairs]] from an ALREADY-HASHED signature table
    * (media_id, ahash) — for pipelines that hash once and reuse the
    * signatures across stages ([[graft.pipeline.CurateImages]]); the
    * Managed wrapper pins the signature frame for the join's two sides.
    */
  def phashBandNearDupPairsOf(sigs: DataFrame, maxHamming: Int = 3,
                              nBands: Int = 4): graft.core.Managed =
    hashBandNearDupPairs(sigs, maxHamming, nBands)

  /** Pigeonhole band rows of 64-bit signatures: `nBands` equal-width
    * slices as (…, band, bits) — the equi-join key shared by the
    * per-batch pair join and the persisted-index path. Bands derive from
    * the signature with two bit ops, so the index stores only signatures
    * and re-bands on read (unlike MinHash, where band keys are the
    * expensive part and are stored).
    */
  private def phashBandRows(sigs: DataFrame, nBands: Int): DataFrame = {
    val bpb = 64 / nBands
    val mask = if (bpb == 64) -1L else (1L << bpb) - 1L
    sigs.select(col("*"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("phash"), b * bpb).bitwiseAND(mask)
              .as("bits"))): _*)).as("__bb"))
      .withColumn("band", col("__bb.band"))
      .withColumn("bits", col("__bb.bits"))
      .drop("__bb")
  }

  /** Persist a corpus snapshot's pHash signatures — the IMAGE member of
    * the index-lifecycle family ([[graft.operators.Dedup.writeMinhashIndex]],
    * `writeBm25Index`, `writeIvfIndex`): an incremental multimodal ingest
    * must not re-decode and re-hash the whole accumulated image corpus
    * per batch; each new snapshot hashes ONCE and joins only matching
    * (band, bits) rows against the stored signatures
    * ([[phashNearDupAgainstIndex]]). At 100 TB of images the old corpus
    * is read-never for its pixels — only 8 B/image of signature moves.
    *
    * Layout: `dir/sigs` (id, phash), `dir/meta` (n_bands — the banding
    * the hamming cut is exact under; checked on read). Both partitioned
    * by `batch_id` with the meta row as COMMIT MARKER (the BM25/minhash
    * contract): retries of a FAILED append reuse their batch id under
    * dynamic overwrite (replaced, never doubled); readers see only
    * committed batches. Undecodable payloads (marker hash −1) are
    * excluded at write — they can never pair.
    */
  def writePhashIndex(ds: Dataset[MediaRecord], dir: String,
                      nBands: Int = 4): Unit =
    writePhashParts(ds, dir, nBands, overwrite = true, batchId = "base")

  /** Fold a new batch's signatures into an existing index (append — no
    * old data read or rewritten). Caller contract: batch ids disjoint
    * from indexed ids; retries of a FAILED append reuse `batchId`.
    */
  def appendToPhashIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, ds: Dataset[MediaRecord],
                         batchId: String): Unit =
    writePhashParts(ds, dir, readPhashMeta(spark, dir),
      overwrite = false, batchId = batchId)

  /** Append PRE-COMPUTED signatures (id, phash) — the seam for callers
    * that already decoded the batch once (the image increment funnel);
    * same layout and commit contract as [[appendToPhashIndex]].
    */
  private[graft] def appendPhashSigs(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, sigs: DataFrame,
                                     batchId: String): Unit =
    writePhashSigParts(sigs, spark, dir, readPhashMeta(spark, dir),
      overwrite = false, batchId = batchId)

  /** Append PRE-COMPUTED distinct fingerprints (id, fp) — the image
    * increment discipline for the audio family. */
  private[graft] def appendAudioFps(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, fps: DataFrame,
                                    batchId: String): Unit = {
    val (wf, k, st, q) = readAudioMeta(spark, dir)
    writeAudioFpParts(fps, spark, dir, wf, k, st, q,
      overwrite = false, batchId = batchId)
  }

  /** Create a FRESH audio index from pre-computed fingerprints under an
    * arbitrary first batch id (the increment's bootstrap). */
  private[graft] def writeAudioFpIndex(spark: org.apache.spark.sql.SparkSession,
                                       fps: DataFrame, dir: String,
                                       windowFrames: Int, k: Int,
                                       stride: Int, quantE4: Long,
                                       batchId: String): Unit =
    writeAudioFpParts(fps, spark, dir, windowFrames, k, stride, quantE4,
      overwrite = true, batchId = batchId)

  private def writeAudioFpParts(fps0: DataFrame,
                                spark: org.apache.spark.sql.SparkSession,
                                dir: String, windowFrames: Int, k: Int,
                                stride: Int, quantE4: Long,
                                overwrite: Boolean,
                                batchId: String): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "audio index")
    def write(d: DataFrame, table: String): Unit =
      graft.core.BatchTables.write(d, s"$dir/$table", batchId, overwrite)
    val fps = fps0.select(col("id"), col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      write(fps, "fps")
      write(fps.groupBy("id").agg(count(lit(1)).as("nfp")), "sizes")
      write(spark.range(1)
          .select(lit(windowFrames).as("window_frames"), lit(k).as("k"),
            lit(stride).as("stride"), lit(quantE4).as("quant_e4")), "meta")
    } finally fps.unpersist()
  }

  /** Create a FRESH index from pre-computed signatures under an
    * arbitrary first batch id (the image increment's bootstrap). */
  private[graft] def writePhashSigIndex(spark: org.apache.spark.sql.SparkSession,
                                        sigs: DataFrame, dir: String,
                                        nBands: Int,
                                        batchId: String): Unit =
    writePhashSigParts(sigs, spark, dir, nBands,
      overwrite = true, batchId = batchId)

  private def writePhashParts(ds: Dataset[MediaRecord], dir: String,
                              nBands: Int, overwrite: Boolean,
                              batchId: String): Unit =
    writePhashSigParts(
      imagePHash(ds).toDF().filter(col("phash") =!= -1L)
        .select(col("media_id").as("id"), col("phash")),
      ds.sparkSession, dir, nBands, overwrite, batchId)

  private def writePhashSigParts(sigs: DataFrame,
                                 spark: org.apache.spark.sql.SparkSession,
                                 dir: String, nBands: Int,
                                 overwrite: Boolean,
                                 batchId: String): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "phash index")
    require(nBands > 0 && 64 % nBands == 0,
      s"phash index: band count ($nBands) must divide 64")
    graft.core.BatchTables.write(sigs.select(col("id"), col("phash")),
      s"$dir/sigs", batchId, overwrite)
    // commit marker — re-states n_bands so every committed batch pins
    // the same banding; checked on read
    graft.core.BatchTables.write(
      spark.range(1).select(lit(nBands).as("n_bands")), s"$dir/meta",
      batchId, overwrite)
  }

  private[graft] def readPhashMeta(
      spark: org.apache.spark.sql.SparkSession, dir: String): Int =
    graft.core.BatchTables.pinnedMeta(spark, dir, Seq("n_bands"),
      "phash index").getInt(0)

  /** Near-dup pairs of NEW images against the indexed corpus:
    * (id_new, id_old, hamming). The batch decodes and hashes ONCE; the
    * only corpus-sized work is the (band, bits) equi join against stored
    * signatures (committed batches only) and the exact
    * `bit_count(xor) <= maxHamming` verify — EXACT for
    * maxHamming < n_bands (pigeonhole), which is required. New×new
    * pairs are deliberately not emitted ([[imagePHashNearDupPairs]] the
    * batch first if needed).
    */
  def phashNearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                               dir: String, newMedia: Dataset[MediaRecord],
                               maxHamming: Int = 3,
                               excludeBatch: Option[String] = None)
      : DataFrame =
    phashSigsNearDupAgainstIndex(spark, dir,
      imagePHash(newMedia).toDF().filter(col("phash") =!= -1L)
        .select(col("media_id").as("id_new"), col("phash")),
      maxHamming, excludeBatch)

  /** [[phashNearDupAgainstIndex]] over PRE-COMPUTED new-side signatures
    * (id_new, phash) — the decode-once seam. `excludeBatch` hides the
    * named committed batch (the increment retry's pre-batch view).
    */
  private[graft] def phashSigsNearDupAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, newSigs: DataFrame, maxHamming: Int = 3,
      excludeBatch: Option[String] = None): DataFrame = {
    val nBands = readPhashMeta(spark, dir)
    require(maxHamming < nBands,
      s"phashNearDupAgainstIndex: pigeonhole over $nBands bands is exact " +
        s"only for maxHamming ($maxHamming) < n_bands")
    val committed =
      graft.core.BatchTables.committed(spark, dir, excludeBatch)
    val nb = phashBandRows(newSigs, nBands)
      .select(col("id_new"), col("phash").as("h_new"),
        col("band"), col("bits"))
    val ob = phashBandRows(graft.core.BatchTables
        .readCommitted(spark, s"$dir/sigs", committed)
        .select(col("id").as("id_old"), col("phash")), nBands)
      .select(col("id_old"), col("phash").as("h_old"),
        col("band"), col("bits"))
    nb.join(ob, Seq("band", "bits"))
      .filter(col("id_new") =!= col("id_old"))
      .withColumn("hamming", expr("CAST(bit_count(h_new ^ h_old) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_new", "id_old", "hamming").distinct()
  }

  /** REAL decoded-sample audio features — `javax.sound.sampled` is
    * JDK-built-in (the [[decodeImages]] ImageIO argument verbatim), so WAV
    * PCM needs no external codec either: this closes the audio half of the
    * decode stub. Same bounded-batch `mapPartitions` shape. `mean_abs_e4`
    * is the scale-4 fixed-point mean of |sample| over every decoded PCM
    * sample — a statistic over DECODED samples, so the q84 oracle checking
    * it against synthesis arithmetic proves real sample decode, not header
    * sniffing. ALLOCATION-TRUE counting: frames/stats come from bytes
    * actually streamed out of the payload, never from header claims — a
    * data-chunk size lying large simply truncates at the real payload end,
    * and nothing is ever allocated at claimed size (the audio analog of
    * the image bomb guard). Undecodable payloads (not WAV, not 16-bit
    * PCM, implausible fmt claims) degrade to the marker row
    * `(0, 0, 0, -1, -1, -1)`.
    */
  case class DecodedAudio(media_id: Long, channels: Int, sample_rate: Int,
                          n_frames: Long, duration_e4: Long,
                          mean_abs_e4: Long, peak: Int)

  private val audioMarker = (0, 0, 0L, -1L, -1L, -1)

  /** Decode one payload's PCM samples — exposed for spec vectors.
    * `buf` is the sample read buffer; callers iterating a partition pass
    * one shared buffer so the hot loop allocates nothing per record.
    * The bytes→PCM step goes through the [[Decoders.AudioDecoder]] seam
    * (default [[Decoders.JdkWavDecoder]]: RIFF sniff before the SPI
    * provider search, 16-bit-PCM plausibility gates); the stats loop here
    * is codec-agnostic and shared by every decoder.
    */
  private[graft] def decodeAudioOne(media_id: Long, bytes: Array[Byte],
                                    buf: Array[Byte] = new Array[Byte](8192),
                                    decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : DecodedAudio = {
    def marker = DecodedAudio(media_id, audioMarker._1, audioMarker._2,
      audioMarker._3, audioMarker._4, audioMarker._5, audioMarker._6)
    val pcm = decoder.decode(bytes).getOrElse(return marker)
    try {
      val channels = pcm.channels
      val rate = pcm.sampleRate
      // stream the ACTUAL sample data: fixed caller-supplied buffer, no
      // allocation from any claimed length; the decoder's stream stops
      // at min(claimed data size, real payload end)
      var carry = -1 // low byte of a sample split across read boundaries
      var sumAbs = 0L
      var peak = 0
      var nSamples = 0L
      var n = pcm.data.read(buf)
      while (n > 0) {
        var i = 0
        if (carry >= 0 && n >= 1) {
          val s = (carry | (buf(0) << 8)).toShort.toInt
          sumAbs += math.abs(s); if (math.abs(s) > peak) peak = math.abs(s)
          nSamples += 1; carry = -1; i = 1
        }
        while (i + 1 < n) {
          val s = ((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort.toInt
          sumAbs += math.abs(s); if (math.abs(s) > peak) peak = math.abs(s)
          nSamples += 1; i += 2
        }
        if (i < n) carry = buf(i) & 0xff
        n = pcm.data.read(buf)
      }
      val frames = nSamples / channels // complete frames only
      if (frames == 0) return marker
      val totalSamples = frames * channels
      DecodedAudio(media_id, channels, rate, frames,
        math.floor(frames * 10000.0 / rate + 0.5).toLong,
        math.floor(sumAbs * 10000.0 / totalSamples + 0.5).toLong, peak)
    } catch { case scala.util.control.NonFatal(_) => marker }
    finally pcm.close()
  }

  def decodeAudio(ds: Dataset[MediaRecord], batchSize: Int = 64,
                  decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : Dataset[DecodedAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      decoder.open()
      val buf = new Array[Byte](8192) // one read buffer per partition
      it.grouped(batchSize).flatMap(
        _.iterator.map(r => decodeAudioOne(r.media_id, r.media, buf, decoder)))
    }
  }

  /** Canonical 44-byte-header 16-bit PCM WAV — the synthesis half of the
    * q84 decoded-sample round trip. `frames` holds one value per frame,
    * replicated across `channels` (keeps the oracle arithmetic per-frame).
    */
  def encodePcm16Wav(sampleRate: Int, channels: Int,
                     frames: Array[Short]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0)
    val dataSize = frames.length * channels * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    frames.foreach(s => (0 until channels).foreach(_ => out.putShort(s)))
    out.array()
  }

  /** Windowed energy profile over decoded PCM: `n_windows` COMPLETE
    * `windowFrames`-frame windows (trailing partial dropped — a gate
    * must not score a half window), `n_silent` those with mean |sample|
    * under `silenceE4`/1e4, `min/max_mean_e4` the quietest/loudest
    * window. Marker (0, -1, -1, -1) for undecodable payloads;
    * (0, 0, -1, -1) for decodable audio shorter than one window.
    */
  case class AudioWindows(media_id: Long, n_windows: Long, n_silent: Long,
                          min_mean_e4: Long, max_mean_e4: Long)

  private[graft] def audioWindowsOne(media_id: Long, bytes: Array[Byte],
                                     windowFrames: Int, silenceE4: Long,
                                     buf: Array[Byte] = new Array[Byte](8192),
                                     decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : AudioWindows = {
    def marker = AudioWindows(media_id, 0L, -1L, -1L, -1L)
    // bytes→PCM via the [[Decoders.AudioDecoder]] seam (gates live there);
    // the windowed-energy loop below is codec-agnostic
    val pcm = decoder.decode(bytes).getOrElse(return marker)
    try {
      val channels = pcm.channels
      val samplesPerWindow = windowFrames.toLong * channels
      var carry = -1
      var winSum = 0L
      var winCount = 0L
      var nWindows = 0L
      var nSilent = 0L
      var minMean = Long.MaxValue
      var maxMean = Long.MinValue
      def push(s: Int): Unit = {
        winSum += math.abs(s); winCount += 1
        if (winCount == samplesPerWindow) {
          val mean = math.floor(
            winSum * 10000.0 / samplesPerWindow + 0.5).toLong
          nWindows += 1
          if (mean < silenceE4) nSilent += 1
          if (mean < minMean) minMean = mean
          if (mean > maxMean) maxMean = mean
          winSum = 0L; winCount = 0L
        }
      }
      var n = pcm.data.read(buf)
      while (n > 0) {
        var i = 0
        if (carry >= 0 && n >= 1) {
          push((carry | (buf(0) << 8)).toShort.toInt); carry = -1; i = 1
        }
        while (i + 1 < n) {
          push(((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort.toInt); i += 2
        }
        if (i < n) carry = buf(i) & 0xff
        n = pcm.data.read(buf)
      }
      if (nWindows == 0) AudioWindows(media_id, 0L, 0L, -1L, -1L)
      else AudioWindows(media_id, nWindows, nSilent, minMean, maxMean)
    } catch { case scala.util.control.NonFatal(_) => marker }
    finally pcm.close()
  }

  /** Windowed energy profile over a media Dataset — the silence /
    * energy gate of an audio curation pipeline (keep clips with enough
    * non-silent content), over REAL decoded samples in the
    * [[decodeAudio]] streaming shape (allocation-true, trailing partial
    * window dropped).
    */
  def audioEnergyWindows(ds: Dataset[MediaRecord], windowFrames: Int,
                         silenceE4: Long = 10000L, batchSize: Int = 64,
                         decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : Dataset[AudioWindows] = {
    require(windowFrames > 0, s"audioEnergyWindows: windowFrames $windowFrames")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      decoder.open()
      val buf = new Array[Byte](8192) // one read buffer per partition
      it.grouped(batchSize).flatMap(
        _.iterator.map(r =>
          audioWindowsOne(r.media_id, r.media, windowFrames, silenceE4, buf, decoder)))
    }
  }

  // ---- semantic audio embedding → the ANN/SemDeDup stack -----------------

  /** Deterministic pooled ENERGY-PROFILE audio embedding — the semantic
    * twin of [[audioFingerprints]], the audio member of the
    * [[imageEmbeddings]] family: decode → window mean-|sample| energies
    * (e4 integers, the [[audioWindowsOne]] loop) → pool the window
    * sequence into `dim` equal TIME-FRACTION buckets (window `i` of `n`
    * lands in bucket `i*dim/n`; bucket value = the e4-rounded mean of
    * its window means) → MEAN-CENTER.
    *
    * Why this catches what the fingerprint misses: [[audioFpFromMeans]]
    * joins on exact packed delta-bit VALUES over the fixed
    * `windowFrames` grid, so a RESAMPLED re-encode (same waveform at a
    * different rate) lands every window boundary elsewhere and shares
    * no sub-fingerprint — while time-fraction pooling normalizes the
    * envelope to the clip's own duration, so the pooled profile barely
    * moves and the cosine stays high. Constant gain cancels twice over
    * (cosine is scale-invariant; centering kills DC shifts) — the same
    * regime split the image arc measured for pHash vs block-means.
    *
    * Exactness note for oracles ([[imageEmbeddings]]'s): bucket values
    * are e4 integers and the center divides by `dim` — a power of two
    * keeps the centered doubles exact in binary. Undecodable payloads
    * and clips with fewer complete windows than `dim` emit no row (too
    * short to profile — the fingerprint's k+1-window minimum, sem
    * form); CONSTANT envelopes center to the zero vector and are
    * filtered by the consumer's zero-norm guard.
    */
  def audioEmbeddings(ds: Dataset[MediaRecord], dim: Int = 16,
                      windowFrames: Int = 50, batchSize: Int = 64,
                      decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : DataFrame = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"audioEmbeddings: dim ($dim) must be a power of two >= 2")
    require(windowFrames > 0, s"audioEmbeddings: windowFrames $windowFrames")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      decoder.open()
      val buf = new Array[Byte](8192)
      it.grouped(batchSize).flatMap(_.iterator.flatMap(r =>
        audioEmbeddingOne(r.media_id, r.media, dim, windowFrames, buf,
          decoder)))
    }.toDF("id", "v")
  }

  private[graft] def audioEmbeddingOne(media_id: Long, bytes: Array[Byte],
      dim: Int, windowFrames: Int,
      buf: Array[Byte] = new Array[Byte](8192),
      decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : Option[(Long, Array[Double])] = {
    val pcm = decoder.decode(bytes).getOrElse(return None)
    val means = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val channels = pcm.channels
      val samplesPerWindow = windowFrames.toLong * channels
      var carry = -1; var winSum = 0L; var winCount = 0L
      def push(s: Int): Unit = {
        winSum += math.abs(s); winCount += 1
        if (winCount == samplesPerWindow) {
          means += math.floor(
            winSum * 10000.0 / samplesPerWindow + 0.5).toLong
          winSum = 0L; winCount = 0L
        }
      }
      var n = pcm.data.read(buf)
      while (n > 0) {
        var i = 0
        if (carry >= 0 && n >= 1) {
          push((carry | (buf(0) << 8)).toShort.toInt); carry = -1; i = 1
        }
        while (i + 1 < n) {
          push(((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort.toInt); i += 2
        }
        if (i < n) carry = buf(i) & 0xff
        n = pcm.data.read(buf)
      }
    } catch { case scala.util.control.NonFatal(_) => return None }
    finally pcm.close()
    val n = means.length
    if (n < dim) None
    else {
      val sums = new Array[Long](dim)
      val cnts = new Array[Long](dim)
      var i = 0
      while (i < n) {
        val b = (i.toLong * dim / n).toInt
        sums(b) += means(i); cnts(b) += 1L; i += 1
      }
      val v = Array.tabulate(dim)(j =>
        math.floor(sums(j) * 1.0 / cnts(j) + 0.5))
      val mu = v.sum / dim
      Some((media_id, v.map(_ - mu)))
    }
  }

  /** SemDeDup over audio: pooled energy-profile embeddings into the
    * shared cluster-then-verify machinery — [[imageSemDedupVictims]]'s
    * audio twin. Victims are (id, kept_id).
    */
  def audioSemDedupVictimsManaged(ds: Dataset[MediaRecord], dim: Int = 16,
                                  windowFrames: Int = 50,
                                  thresholdE4: Long = 9000L,
                                  centroidEvery: Int = 25,
                                  nassign: Int = 2): graft.core.Managed =
    Curation.semDedupVictimsFromVectorsManaged(
      audioEmbeddings(ds, dim, windowFrames), thresholdE4, centroidEvery,
      nassign)

  // ---- semantic image embedding → the ANN/SemDeDup stack -----------------

  /** Deterministic block-mean image embedding: decode → `grid`×`grid`
    * gray box-resize ([[boxGridE4]], e4 integer means — the q101/q146
    * machinery) → MEAN-CENTER. Centering makes the cosine measure
    * STRUCTURE: brightness offsets vanish (the pHash DC-exclusion
    * argument, continuous instead of thresholded), and pixel-level noise
    * averages down inside each block — which is exactly the regime a
    * thresholded bit hash loses: a re-grained copy of the same scene
    * flips pHash bits near the median but barely moves block means. No
    * external model: the mechanism probe for SemDeDup-style semantic
    * image dedup rides [[graft.operators.Curation
    * .semDedupVictimsFromVectorsManaged]] unchanged.
    *
    * Exactness note for oracles: means are e4 integers and the center
    * divides by grid² — a power of two keeps the centered doubles exact
    * in binary, so cross-engine compares stay bit-stable away from the
    * threshold. Undecodable payloads emit no row (they can never pair);
    * CONSTANT images center to the zero vector and are filtered by the
    * consumer's zero-norm guard.
    */
  def imageEmbeddings(ds: Dataset[MediaRecord], grid: Int = 8,
                      batchSize: Int = 64, maxPixels: Long = 64L << 20)
      : DataFrame = {
    require(grid >= 2 && (grid & (grid - 1)) == 0,
      s"imageEmbeddings: grid ($grid) must be a power of two >= 2")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val bomb = claimedPixels(r.media) > maxPixels
          val img =
            if (bomb) None
            else try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.media)))
            catch { case scala.util.control.NonFatal(_) => None }
          img.map { im =>
            val g = boxGridE4(im.getRaster, im.getWidth, im.getHeight,
              grid, grid)
            val mean = g.sum.toDouble / (grid * grid)
            (r.media_id, g.map(_.toDouble - mean))
          }
        }
      }
    }.toDF("id", "v")
  }

  /** SemDeDup over images: block-mean embeddings into the shared
    * cluster-then-verify machinery. Victims are (id, kept_id) — the
    * component min-id canonical survives.
    */
  def imageSemDedupVictimsManaged(ds: Dataset[MediaRecord], grid: Int = 8,
                                  thresholdE4: Long = 9000L,
                                  centroidEvery: Int = 25,
                                  nassign: Int = 2): graft.core.Managed =
    Curation.semDedupVictimsFromVectorsManaged(
      imageEmbeddings(ds, grid), thresholdE4, centroidEvery, nassign)

  def imageSemDedupVictims(ds: Dataset[MediaRecord], grid: Int = 8,
                           thresholdE4: Long = 9000L,
                           centroidEvery: Int = 25,
                           nassign: Int = 2): DataFrame =
    imageSemDedupVictimsManaged(ds, grid, thresholdE4, centroidEvery,
      nassign).df

  // ---- audio fingerprint + near-dup (the third modality's dup key) -------

  /** One banded energy-sequence sub-fingerprint: the clip's delta-coded
    * window-energy bits `b_i = [E(i+1) > E(i)]` packed `k` at a time at
    * window position `pos` (stride configurable). The published
    * robust-hash shape (Haitsma & Kalker 2002's delta-coded band-energy
    * bits, applied to the time-windowed energy envelope the q102 silence
    * gate already computes): CONSTANT GAIN cancels in the comparison —
    * a re-encode at 2× volume scales every window mean identically and
    * flips no bit — and a shared SEGMENT aligned to window boundaries
    * reproduces the same interior sub-fingerprint VALUES at shifted
    * positions. Matching joins on value, not position, so clipped and
    * concatenated copies still collide.
    */
  case class AudioFp(media_id: Long, pos: Int, fp: Long)

  /** Pack a window-mean sequence's delta bits into sub-fingerprints —
    * the pure arithmetic tail, shared by the operator and spec vectors.
    */
  private[graft] def audioFpFromMeans(media_id: Long, means: Seq[Long],
                                      k: Int, stride: Int): Seq[AudioFp] = {
    val bits = (0 until math.max(0, means.length - 1))
      .map(i => if (means(i + 1) > means(i)) 1L else 0L)
    (0 to bits.length - k by stride).map { p =>
      var v = 0L; var j = 0
      while (j < k) { v = (v << 1) | bits(p + j); j += 1 }
      AudioFp(media_id, p, v)
    }
  }

  /** Decode one payload and fingerprint its energy envelope; undecodable
    * or shorter-than-(k+1)-windows payloads yield no rows (they can
    * never pair — the pHash marker-exclusion argument).
    */
  private[graft] def audioFingerprintsOne(media_id: Long, bytes: Array[Byte],
      windowFrames: Int, k: Int, stride: Int, quantE4: Long = 1L,
      buf: Array[Byte] = new Array[Byte](8192),
      decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : Seq[AudioFp] = {
    val pcm = decoder.decode(bytes).getOrElse(return Seq.empty)
    val means = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val channels = pcm.channels
      val samplesPerWindow = windowFrames.toLong * channels
      var carry = -1; var winSum = 0L; var winCount = 0L
      def push(s: Int): Unit = {
        winSum += math.abs(s); winCount += 1
        if (winCount == samplesPerWindow) {
          // coarse energy quantization (quantE4 > 1): delta bits then
          // compare BUCKETS, so additive noise below the bucket width
          // flips no bit — the noise-robustness dial of the published
          // shape (exact compare = quantE4 1, bit-exact transforms only)
          means += math.floor(
            winSum * 10000.0 / samplesPerWindow + 0.5).toLong / quantE4
          winSum = 0L; winCount = 0L
        }
      }
      var n = pcm.data.read(buf)
      while (n > 0) {
        var i = 0
        if (carry >= 0 && n >= 1) {
          push((carry | (buf(0) << 8)).toShort.toInt); carry = -1; i = 1
        }
        while (i + 1 < n) {
          push(((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort.toInt); i += 2
        }
        if (i < n) carry = buf(i) & 0xff
        n = pcm.data.read(buf)
      }
    } catch { case scala.util.control.NonFatal(_) => return Seq.empty }
    finally pcm.close()
    audioFpFromMeans(media_id, means.toSeq, k, stride)
  }

  /** All sub-fingerprints of a media Dataset — the [[decodeAudio]]
    * streaming shape (allocation-true; one read buffer per partition).
    */
  def audioFingerprints(ds: Dataset[MediaRecord], windowFrames: Int,
                        k: Int = 16, stride: Int = 1, quantE4: Long = 1L,
                        batchSize: Int = 64,
                        decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : Dataset[AudioFp] = {
    require(windowFrames > 0 && k >= 1 && k <= 62 && stride >= 1 &&
        quantE4 >= 1,
      s"audioFingerprints: windowFrames $windowFrames, k $k, stride $stride")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      decoder.open()
      val buf = new Array[Byte](8192)
      it.grouped(batchSize).flatMap(_.iterator.flatMap(r =>
        audioFingerprintsOne(r.media_id, r.media, windowFrames, k, stride,
          quantE4, buf, decoder)))
    }
  }

  /** Near-dup audio pairs (idA, idB, match_e4): candidates from the
    * sub-fingerprint VALUE equi join — fp values shared by more than
    * `maxFpDocFreq` clips (silence, constant tones: the degenerate hubs)
    * are excluded from candidate GENERATION only, the n-gram DF-cap
    * discipline — verified as the symmetric Jaccard of the clips'
    * DISTINCT fp sets (the q153 matched-frame shape; set sizes stay
    * uncapped, mirroring [[Dedup.ngramJaccardPairs]]). Only corpus-sized
    * shuffle: the fp equi join. Decode happens ONCE per clip.
    */
  def audioNearDupPairsManaged(ds: Dataset[MediaRecord], windowFrames: Int,
                               k: Int = 16, stride: Int = 1,
                               minMatchE4: Long = 5000L,
                               maxFpDocFreq: Long = 1000L,
                               quantE4: Long = 1L,
                               decoder: Decoders.AudioDecoder = Decoders.JdkWavDecoder)
      : graft.core.Managed = {
    val fps = audioFingerprints(ds, windowFrames, k, stride, quantE4,
        decoder = decoder).toDF()
      .select(col("media_id").as("id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("nfp"))
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFpDocFreq).select("fp")
    val fk = fps.join(keep, Seq("fp"), "left_semi")
    val inter = fk.select(col("id").as("idA"), col("fp"))
      .join(fk.select(col("id").as("idB"), col("fp")), Seq("fp"))
      .filter(col("idA") < col("idB"))
      .groupBy("idA", "idB").agg(count(lit(1)).as("ninter"))
    val out = inter
      .join(sizes.select(col("id").as("idA"), col("nfp").as("na")), "idA")
      .join(sizes.select(col("id").as("idB"), col("nfp").as("nb")), "idB")
      .select(col("idA"), col("idB"), graft.core.Ops.fixedPoint(
        col("ninter") * lit(1.0) /
          (col("na") + col("nb") - col("ninter")), 4).as("match_e4"))
      .filter(col("match_e4") >= minMatchE4)
    graft.core.Managed(out, Seq(fps))
  }

  def audioNearDupPairs(ds: Dataset[MediaRecord], windowFrames: Int,
                        k: Int = 16, stride: Int = 1,
                        minMatchE4: Long = 5000L,
                        maxFpDocFreq: Long = 1000L,
                        quantE4: Long = 1L): DataFrame =
    audioNearDupPairsManaged(ds, windowFrames, k, stride, minMatchE4,
      maxFpDocFreq, quantE4).df

  /** Persist a corpus snapshot's audio fingerprints — the AUDIO member
    * of the index-lifecycle family: each new snapshot decodes and
    * fingerprints ONCE and joins only matching fp values against the
    * stored table ([[audioNearDupAgainstIndex]]). Layout: `dir/fps`
    * (id, fp — distinct), `dir/sizes` (id, nfp), `dir/meta`
    * (window_frames, k, stride — the fingerprinting the stored values
    * are exact under; checked on read), all batch_id-partitioned with
    * the meta row as COMMIT MARKER (the BM25/minhash/pHash contract).
    */
  def writeAudioIndex(ds: Dataset[MediaRecord], dir: String,
                      windowFrames: Int, k: Int = 16, stride: Int = 1,
                      quantE4: Long = 1L): Unit =
    writeAudioParts(ds, dir, windowFrames, k, stride, quantE4,
      overwrite = true, batchId = "base")

  /** Fold a new batch's fingerprints into an existing index (append —
    * no old data read or rewritten). Caller contract: batch ids disjoint
    * from indexed ids; retries of a FAILED append reuse `batchId`.
    */
  def appendToAudioIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, ds: Dataset[MediaRecord],
                         batchId: String): Unit = {
    val (wf, k, st, q) = readAudioMeta(spark, dir)
    writeAudioParts(ds, dir, wf, k, st, q,
      overwrite = false, batchId = batchId)
  }

  private def writeAudioParts(ds: Dataset[MediaRecord], dir: String,
                              windowFrames: Int, k: Int, stride: Int,
                              quantE4: Long,
                              overwrite: Boolean, batchId: String): Unit =
    writeAudioFpParts(
      audioFingerprints(ds, windowFrames, k, stride, quantE4).toDF()
        .select(col("media_id").as("id"), col("fp")).distinct(),
      ds.sparkSession, dir, windowFrames, k, stride, quantE4,
      overwrite, batchId)

  private[graft] def readAudioMeta(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): (Int, Int, Int, Long) = {
    val r = graft.core.BatchTables.pinnedMeta(spark, dir,
      Seq("window_frames", "k", "stride", "quant_e4"), "audio index")
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
  }

  /** Near-dup pairs of NEW clips against the indexed corpus
    * (id_new, id_old, match_e4): the batch decodes and fingerprints
    * ONCE; the only corpus-sized work is the fp equi join against
    * COMMITTED stored fingerprints and the set-size join. The DF cap
    * applies over the stored table (the standing hub risk — a silence
    * value shared by the whole corpus); new×new pairs are deliberately
    * not emitted ([[audioNearDupPairs]] the batch first if needed).
    */
  def audioNearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                               dir: String, newMedia: Dataset[MediaRecord],
                               minMatchE4: Long = 5000L,
                               maxFpDocFreq: Long = 1000L,
                               excludeBatch: Option[String] = None)
      : DataFrame = {
    val (wf, k, st, q) = readAudioMeta(spark, dir)
    audioSigsNearDupAgainstIndex(spark, dir,
      audioFingerprints(newMedia, wf, k, st, q).toDF()
        .select(col("media_id").as("id_new"), col("fp")).distinct(),
      minMatchE4, maxFpDocFreq, excludeBatch)
  }

  /** [[audioNearDupAgainstIndex]] over PRE-COMPUTED distinct new-side
    * fingerprints (id_new, fp) — the decode-once seam; `excludeBatch`
    * hides the named committed batch (the increment retry's pre-batch
    * view).
    */
  private[graft] def audioSigsNearDupAgainstIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      newFps: DataFrame, minMatchE4: Long = 5000L,
      maxFpDocFreq: Long = 1000L,
      excludeBatch: Option[String] = None): DataFrame = {
    val committed =
      graft.core.BatchTables.committed(spark, dir, excludeBatch)
    val nfps = newFps
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ofps = graft.core.BatchTables
        .readCommitted(spark, s"$dir/fps", committed)
        .select(col("id").as("id_old"), col("fp"))
      val keep = ofps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxFpDocFreq).select("fp")
      val inter = nfps.join(keep, Seq("fp"), "left_semi")
        .join(ofps.join(keep, Seq("fp"), "left_semi"), Seq("fp"))
        .filter(col("id_new") =!= col("id_old")) // retried/served batch ≠ itself
        .groupBy("id_new", "id_old").agg(count(lit(1)).as("ninter"))
      val nsz = nfps.groupBy("id_new").agg(count(lit(1)).as("na"))
      val osz = graft.core.BatchTables
        .readCommitted(spark, s"$dir/sizes", committed)
        .select(col("id").as("id_old"), col("nfp").as("nb"))
      inter.join(nsz, "id_new").join(osz, "id_old")
        .select(col("id_new"), col("id_old"), graft.core.Ops.fixedPoint(
          col("ninter") * lit(1.0) /
            (col("na") + col("nb") - col("ninter")), 4).as("match_e4"))
        .filter(col("match_e4") >= minMatchE4)
        .localCheckpoint(eager = true)
    } finally nfps.unpersist()
  }

  /** MP4 container walk — REAL byte parsing of the ISO-BMFF box tree (no
    * codec): track count from `moov/trak`, presentation duration from
    * `moov/mvhd` (version 0 u32 and version 1 u64 layouts both handled),
    * total sample (frame) count summed over every `stbl/stsz` /
    * `stbl/stz2` sample table. These are exactly the columns a curation
    * pipeline filters video on (clip length, frame count) before any
    * expensive decode. Bounded walk: box sizes are sanity-checked against
    * the remaining range and malformed structure returns what was parsed
    * so far or None — never a throw, never an unbounded loop.
    */
  case class Mp4Meta(nTracks: Int, timescale: Long, durationTicks: Long,
                     nSamples: Long, nKeyframes: Long)

  private[graft] def parseMp4(b: Array[Byte]): Option[Mp4Meta] = {
    // a real MP4 starts with a box whose type is one of the well-known
    // top-level fourccs; require ftyp first (what every muxer writes)
    if (b.length < 12 || b(4) != 'f' || b(5) != 't' || b(6) != 'y' ||
      b(7) != 'p') return None
    var nTracks = 0
    var timescale = 0L
    var duration = 0L
    var nSamples = 0L
    var nKeyframes = 0L
    // stss state is TRACK-scoped: a trak without any stss box has every
    // sample sync (the ISO-BMFF/FFmpeg convention), so on leaving such a
    // trak its whole sample count joins the keyframe total
    var stssSeen = false
    def beLong(off: Int): Long =
      (0 until 8).foldLeft(0L)((acc, k) => (acc << 8) | (b(off + k) & 0xffL))
    // walk children of [from, to); descend into container boxes
    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > 8) return
      var i = from
      while (i + 8 <= to) {
        val size0 = beInt(b, i).toLong & 0xffffffffL
        val tag = new String(b, i + 4, 4, "US-ASCII")
        val (hdr, size) =
          if (size0 == 1 && i + 16 <= to) (16, beLong(i + 8))
          else (8, if (size0 == 0) (to - i).toLong else size0)
        if (size < hdr || i + size > to) return // malformed: stop the walk
        val end = (i + size).toInt
        tag match {
          case "trak" =>
            nTracks += 1
            val samples0 = nSamples
            stssSeen = false
            walk(i + hdr, end, depth + 1)
            if (!stssSeen) nKeyframes += nSamples - samples0
          case "moov" | "mdia" | "minf" | "stbl" =>
            walk(i + hdr, end, depth + 1)
          // field reads are bounded by the box's OWN `end`, not the
          // parent range `to`: a crafted/truncated box whose declared
          // size stops mid-field must be skipped, not read into sibling
          // bytes. The v1 mvhd needs 32 bytes past the header (u64
          // duration reads through offset 31 — a +28 guard here was an
          // off-by-4 that could throw on a truncated v1 mvhd).
          case "mvhd" if i + hdr + 4 <= end =>
            val version = b(i + hdr) & 0xff
            if (version == 1 && i + hdr + 32 <= end) {
              timescale = beInt(b, i + hdr + 20).toLong & 0xffffffffL
              duration = beLong(i + hdr + 24)
            } else if (version == 0 && i + hdr + 20 <= end) {
              timescale = beInt(b, i + hdr + 12).toLong & 0xffffffffL
              duration = beInt(b, i + hdr + 16).toLong & 0xffffffffL
            }
          case "stsz" if i + hdr + 12 <= end =>
            nSamples += beInt(b, i + hdr + 8).toLong & 0xffffffffL
          case "stz2" if i + hdr + 12 <= end =>
            nSamples += beInt(b, i + hdr + 8).toLong & 0xffffffffL
          case "stss" if i + hdr + 8 <= end =>
            nKeyframes += beInt(b, i + hdr + 4).toLong & 0xffffffffL
            stssSeen = true
          case _ => () // leaf we don't read (ftyp, mdat, codec boxes...)
        }
        i = end
      }
    }
    walk(0, b.length, 0)
    if (timescale <= 0) None
    else Some(Mp4Meta(nTracks, timescale, duration, nSamples, nKeyframes))
  }

  /** Flat row form for Dataset output; marker `(0, 0, -1, -1, -1)` for
    * payloads that are not parseable MP4. `n_keyframes` sums `stss`
    * entry counts, with a trak lacking any stss contributing its whole
    * sample count (every sample sync — the ISO-BMFF default) — the
    * keyframe-density signal a video curation pass filters on.
    */
  case class Mp4MetaRow(media_id: Long, n_tracks: Int, timescale: Long,
                        duration_e4: Long, n_samples: Long,
                        n_keyframes: Long)

  def extractMp4Meta(ds: Dataset[MediaRecord],
                     batchSize: Int = 64): Dataset[Mp4MetaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map { r =>
      parseMp4(r.media) match {
        case Some(m) => Mp4MetaRow(r.media_id, m.nTracks, m.timescale,
          math.floor(m.durationTicks * 10000.0 / m.timescale + 0.5).toLong,
          m.nSamples, m.nKeyframes)
        case None => Mp4MetaRow(r.media_id, 0, 0L, -1L, -1L, -1L)
      }
    }))
  }

  /** Synthesize a minimal-but-valid MP4 box tree (ftyp + moov{mvhd,
    * trak{mdia{minf{stbl{stsz}}}}×n}) — the synthesis half of the q85
    * container-walk round trip. No media data; the container METADATA is
    * the ground truth.
    */
  def encodeMp4(timescale: Int, durationTicks: Int,
                sampleCounts: Seq[Int],
                syncCounts: Seq[Option[Int]] = Seq.empty): Array[Byte] = {
    require(timescale > 0 && durationTicks >= 0)
    require(syncCounts.isEmpty || syncCounts.size == sampleCounts.size,
      "syncCounts must be empty or match sampleCounts per track")
    val syncs: Seq[Option[Int]] =
      if (syncCounts.nonEmpty) syncCounts
      else Seq.fill(sampleCounts.size)(None)
    def box(tag: String, body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + body.length)
      out.putInt(8 + body.length).put(tag.getBytes("US-ASCII")).put(body)
      out.array()
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 2, 0) ++ "isomiso2".getBytes("US-ASCII"))
    val mvhd = {
      val body = java.nio.ByteBuffer.allocate(100)
      body.putInt(0)            // version 0 + flags
      body.putInt(0).putInt(0)  // creation/modification
      body.putInt(timescale).putInt(durationTicks)
      box("mvhd", body.array())
    }
    val traks = sampleCounts.zip(syncs).map { case (n, sync) =>
      val stsz = {
        val body = java.nio.ByteBuffer.allocate(12)
        body.putInt(0)  // version + flags
        body.putInt(0)  // sample_size 0 = per-sample table follows
        body.putInt(n)  // sample_count (table entries omitted — walk only
                        // reads the count; a demuxer would need them)
        box("stsz", body.array())
      }
      // sync-sample table when requested: entry_count + the sample
      // numbers 1..kf (a track WITHOUT stss is all-sync per ISO-BMFF)
      val stbl = sync match {
        case Some(kf) =>
          val body = java.nio.ByteBuffer.allocate(8 + 4 * kf)
          body.putInt(0).putInt(kf)
          (1 to kf).foreach(body.putInt)
          stsz ++ box("stss", body.array())
        case None => stsz
      }
      box("trak", box("mdia", box("minf", box("stbl", stbl))))
    }
    (Seq(ftyp, box("moov", (mvhd +: traks).reduce(_ ++ _))) ++ Seq.empty)
      .reduce(_ ++ _)
  }

  /** Frame sampling for video-ish payloads: every `stride`-th `frameSize`-
    * byte slice (a real implementation would seek keyframes via the codec —
    * same swap-in point as [[decodeOne]]). Pure per-row function used via
    * the same batched mapPartitions shape.
    */
  def sampleFrames(bytes: Array[Byte], frameSize: Int, stride: Int): Seq[Array[Byte]] =
    bytes.grouped(frameSize).zipWithIndex
      .collect { case (frame, i) if i % stride == 0 => frame }
      .toSeq

  // ---- MJPEG-in-MP4: real video SAMPLE decode ------------------------------
  // The one video codec reachable with JDK-only tools: Motion-JPEG stores
  // each frame as an independent JPEG, so the stsc/stsz/stco walk to
  // sample offsets plus `javax.imageio` per keyframe is a REAL pixel
  // decode of real container bytes — no native codec required. This is
  // the q94 decoded-keyframe round trip, closing the video column of the
  // multimodal family (image q82, audio q84, container q85).

  /** JPEG-encode a uniform gray frame. Uniform tiles survive the JPEG
    * round trip EXACTLY (verified for all 256 grays incl. partial-MCU
    * dims: a uniform block is DC-only and the default-quality DC
    * quantization step divides the DCT's 8× gain), which is what lets
    * the q94 oracle recompute decoded means from synthesis arithmetic.
    */
  def encodeJpegGray(width: Int, height: Int, gray: Int): Array[Byte] = {
    require(width > 0 && height > 0 && gray >= 0 && gray <= 255)
    javax.imageio.ImageIO.setUseCache(false)
    val im = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = im.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, gray); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    bos.toByteArray
  }

  /** Synthesize an MJPEG-in-MP4: `ftyp` + `mdat` holding one JPEG per
    * frame + `moov` whose single trak carries REAL sample tables — stsz
    * (per-sample byte sizes), stsc (one chunk run), stco (the mdat
    * payload offset), and optionally stss (1-based keyframe numbers;
    * absent = every sample sync, the ISO-BMFF default). The table walk in
    * [[decodeMjpegKeyframes]] recovers each frame's exact byte range from
    * these — the synthesis half of the q94 round trip.
    */
  def encodeMjpegMp4(timescale: Int, durationTicks: Int, width: Int,
                     height: Int, grays: Seq[Int],
                     syncSamples: Option[Seq[Int]] = None): Array[Byte] =
    encodeSamplesMp4(timescale, durationTicks,
      grays.map(g => encodeJpegGray(width, height, g)), syncSamples)

  /** The container half of [[encodeMjpegMp4]] over ARBITRARY pre-encoded
    * sample payloads — fixture synthesis for the video family: PNG
    * samples ([[encodeGrayPixelsPng]]) decode LOSSLESSLY (ImageIO sniffs
    * the codec per sample), so per-frame pixel arithmetic survives the
    * round trip exactly and video-hash oracles can replay it (the q103
    * PNG discipline, which lossy JPEG frames would break).
    */
  def encodeSamplesMp4(timescale: Int, durationTicks: Int,
                       samples: Seq[Array[Byte]],
                       syncSamples: Option[Seq[Int]] = None): Array[Byte] = {
    require(timescale > 0 && durationTicks >= 0 && samples.nonEmpty)
    def box(tag: String, body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + body.length)
      out.putInt(8 + body.length).put(tag.getBytes("US-ASCII")).put(body)
      out.array()
    }
    val ftyp = box("ftyp", "isom   isomiso2".getBytes("US-ASCII"))
    val mdat = box("mdat", samples.reduce(_ ++ _))
    val mdatOff = ftyp.length + 8 // first sample's absolute file offset
    val mvhd = {
      val body = java.nio.ByteBuffer.allocate(100)
      body.putInt(0).putInt(0).putInt(0)
      body.putInt(timescale).putInt(durationTicks)
      box("mvhd", body.array())
    }
    val n = samples.size
    val stsz = {
      val body = java.nio.ByteBuffer.allocate(12 + 4 * n)
      body.putInt(0).putInt(0).putInt(n) // ver/flags, size 0 = table, count
      samples.foreach(s => body.putInt(s.length))
      box("stsz", body.array())
    }
    val stsc = { // one run: chunk 1 carries all n samples
      val body = java.nio.ByteBuffer.allocate(8 + 12)
      body.putInt(0).putInt(1).putInt(1).putInt(n).putInt(1)
      box("stsc", body.array())
    }
    val stco = {
      val body = java.nio.ByteBuffer.allocate(8 + 4)
      body.putInt(0).putInt(1).putInt(mdatOff)
      box("stco", body.array())
    }
    val stss = syncSamples.fold(Array.emptyByteArray) { ss =>
      val body = java.nio.ByteBuffer.allocate(8 + 4 * ss.size)
      body.putInt(0).putInt(ss.size)
      ss.foreach(body.putInt)
      box("stss", body.array())
    }
    val trak = box("trak", box("mdia", box("minf",
      box("stbl", stsz ++ stsc ++ stco ++ stss))))
    ftyp ++ mdat ++ box("moov", mvhd ++ trak)
  }

  /** One trak's sample tables, as read from stbl. `syncs` None = no stss
    * box = every sample is sync (ISO-BMFF convention, as in [[parseMp4]]).
    */
  private[graft] case class Mp4Track(sizes: Array[Long],
                                     chunkOffsets: Array[Long],
                                     stsc: Array[(Int, Int)],
                                     syncs: Option[Array[Int]])

  /** Walk the box tree collecting per-trak sample tables — the demuxer
    * half [[parseMp4]] deliberately skips (it only counts). Same bounded-
    * walk discipline: box sizes sanity-checked, every field read bounded
    * by its box's own end, malformed structure degrades (truncated table
    * → as many entries as fit; no throw, no unbounded loop). Entry counts
    * are clamped to what the box can physically hold, so a crafted count
    * cannot force a giant allocation.
    */
  private[graft] def parseMp4SampleTables(b: Array[Byte]): Option[Seq[Mp4Track]] = {
    if (b.length < 12 || b(4) != 'f' || b(5) != 't' || b(6) != 'y' ||
      b(7) != 'p') return None
    def beLong(off: Int): Long =
      (0 until 8).foldLeft(0L)((acc, k) => (acc << 8) | (b(off + k) & 0xffL))
    val tracks = scala.collection.mutable.ListBuffer[Mp4Track]()
    var sizes: Array[Long] = Array.emptyLongArray
    var chunks: Array[Long] = Array.emptyLongArray
    var stsc: Array[(Int, Int)] = Array.empty
    var syncs: Option[Array[Int]] = None
    // entry table at `off` with `width`-byte entries inside [off, end)
    def entryCount(claimed: Long, off: Int, end: Int, width: Int): Int =
      math.min(math.max(claimed, 0L), ((end - off).toLong / width)).toInt
    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > 8) return
      var i = from
      while (i + 8 <= to) {
        val size0 = beInt(b, i).toLong & 0xffffffffL
        val tag = new String(b, i + 4, 4, "US-ASCII")
        val (hdr, size) =
          if (size0 == 1 && i + 16 <= to) (16, beLong(i + 8))
          else (8, if (size0 == 0) (to - i).toLong else size0)
        if (size < hdr || i + size > to) return
        val end = (i + size).toInt
        val p = i + hdr // field base (after the box header)
        tag match {
          case "trak" =>
            sizes = Array.emptyLongArray; chunks = Array.emptyLongArray
            stsc = Array.empty; syncs = None
            walk(p, end, depth + 1)
            tracks += Mp4Track(sizes, chunks, stsc, syncs)
          case "moov" | "mdia" | "minf" | "stbl" =>
            walk(p, end, depth + 1)
          case "stsz" if p + 12 <= end =>
            val fixed = beInt(b, p + 4).toLong & 0xffffffffL
            val n0 = beInt(b, p + 8).toLong & 0xffffffffL
            sizes =
              if (fixed != 0) // constant-size samples: no table follows
                Array.fill(math.min(n0, 1L << 24).toInt)(fixed)
              else {
                val n = entryCount(n0, p + 12, end, 4)
                Array.tabulate(n)(k =>
                  beInt(b, p + 12 + 4 * k).toLong & 0xffffffffL)
              }
          case "stco" if p + 8 <= end =>
            val n = entryCount(beInt(b, p + 4).toLong & 0xffffffffL,
              p + 8, end, 4)
            chunks = Array.tabulate(n)(k =>
              beInt(b, p + 8 + 4 * k).toLong & 0xffffffffL)
          case "co64" if p + 8 <= end =>
            val n = entryCount(beInt(b, p + 4).toLong & 0xffffffffL,
              p + 8, end, 8)
            chunks = Array.tabulate(n)(k => beLong(p + 8 + 8 * k))
          case "stsc" if p + 8 <= end =>
            val n = entryCount(beInt(b, p + 4).toLong & 0xffffffffL,
              p + 8, end, 12)
            stsc = Array.tabulate(n)(k =>
              (beInt(b, p + 8 + 12 * k), beInt(b, p + 12 + 12 * k)))
          case "stss" if p + 8 <= end =>
            val n = entryCount(beInt(b, p + 4).toLong & 0xffffffffL,
              p + 8, end, 4)
            syncs = Some(Array.tabulate(n)(k => beInt(b, p + 8 + 4 * k)))
          case _ => ()
        }
        i = end
      }
    }
    walk(0, b.length, 0)
    if (tracks.isEmpty) None else Some(tracks.toList)
  }

  /** Per-sample absolute file offsets from the chunk map (standard stsc
    * semantics: entry (firstChunk, samplesPerChunk) applies from its
    * first_chunk until the next entry's). Unmappable samples stay −1
    * (skipped by the decoder, never a throw).
    */
  private[graft] def sampleOffsets(t: Mp4Track): Array[Long] = {
    val out = Array.fill(t.sizes.length)(-1L)
    val entries = t.stsc.sortBy(_._1)
    var sample = 0
    var c = 1
    while (c <= t.chunkOffsets.length && sample < out.length) {
      val spc = entries.takeWhile(_._1 <= c).lastOption.map(_._2).getOrElse(0)
      var off = t.chunkOffsets(c - 1)
      var j = 0
      while (j < spc && sample < out.length) {
        out(sample) = off
        off += t.sizes(sample)
        sample += 1
        j += 1
      }
      c += 1
    }
    out
  }

  /** Decoded-keyframe features: sample/keyframe counts from the tables,
    * plus width/height and the SUM of per-keyframe band-0 means (e4) over
    * the keyframes that actually decoded — statistics over decoded
    * rasters, so the q94 oracle checking them against synthesis ground
    * truth proves real sample decode, not table walking alone. Marker row
    * `(-1, -1, -1, 0, 0, -1)` for payloads that are not parseable MP4.
    */
  case class DecodedVideo(media_id: Long, n_samples: Long, n_keyframes: Long,
                          n_decoded: Long, width: Int, height: Int,
                          gray_sum_e4: Long)

  def decodeMjpegKeyframes(ds: Dataset[MediaRecord], batchSize: Int = 16,
                           maxPixels: Long = 64L << 20): Dataset[DecodedVideo] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // see decodeImages
      it.grouped(batchSize).flatMap(_.iterator.map(r =>
        decodeMjpegOne(r.media_id, r.media, maxPixels)))
    }
  }

  private[graft] def decodeMjpegOne(id: Long, b: Array[Byte],
                                    maxPixels: Long = 64L << 20): DecodedVideo =
    parseMp4SampleTables(b) match {
      case None => DecodedVideo(id, -1L, -1L, -1L, 0, 0, -1L)
      case Some(tracks) =>
        var nSamples = 0L; var nKf = 0L; var nDec = 0L
        var w = 0; var h = 0; var graySum = 0L
        for (t <- tracks) {
          nSamples += t.sizes.length
          val offs = sampleOffsets(t)
          // stss numbers are 1-based; no stss = every sample sync
          val kf: Seq[Int] =
            t.syncs.fold(t.sizes.indices: Seq[Int])(_.toSeq.map(_ - 1))
          nKf += kf.size
          for (i <- kf if i >= 0 && i < t.sizes.length) {
            val off = offs(i); val len = t.sizes(i)
            if (off >= 0 && len > 0 && off + len <= b.length) {
              val bytes = java.util.Arrays.copyOfRange(
                b, off.toInt, (off + len).toInt)
              // same decompression-bomb guard as decodeImages
              val img =
                if (claimedPixels(bytes) > maxPixels) None
                else try Option(javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bytes)))
                catch { case scala.util.control.NonFatal(_) => None }
              img.foreach { im =>
                nDec += 1
                w = im.getWidth; h = im.getHeight
                val raster = im.getRaster
                var sum = 0L
                var y = 0
                while (y < im.getHeight) {
                  var x = 0
                  while (x < im.getWidth) {
                    sum += raster.getSample(x, y, 0); x += 1
                  }
                  y += 1
                }
                graySum += math.floor(
                  sum * 10000.0 / (im.getWidth.toLong * im.getHeight) + 0.5)
                  .toLong
              }
            }
          }
        }
        DecodedVideo(id, nSamples, nKf, nDec, w, h, graySum)
    }

  // ---- video near-dup (round 14): per-keyframe pHash + temporal agg ------

  /** One row per decoded keyframe: (media_id, frame_idx, phash) —
    * frame_idx numbers the video's keyframes 0.. in track-then-sample
    * order (the temporal axis the pair aggregation joins on). Marker
    * rows: a payload that is not parseable MP4 yields (id, −1, −1); a
    * keyframe whose sample bytes fail to decode yields (id, idx, −1).
    * Codec handling is [[decodeMjpegOne]]'s: ImageIO sniffs each
    * sample's format, with the same decompression-bomb guard.
    */
  case class VideoFramePHash(media_id: Long, frame_idx: Long, phash: Long)

  def videoKeyframePhash(ds: Dataset[MediaRecord], batchSize: Int = 16,
                         maxPixels: Long = 64L << 20)
      : Dataset[VideoFramePHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap(_.iterator.flatMap(r =>
        videoKeyframePhashOne(r.media_id, r.media, maxPixels)))
    }
  }

  /** One payload's keyframe hashes — the per-record body of
    * [[videoKeyframePhash]], exposed so the streaming gate can decode a
    * clip in place (per-row, no shuffle) and keep its frames together.
    */
  private[graft] def videoKeyframePhashOne(media_id: Long,
                                           media: Array[Byte],
                                           maxPixels: Long = 64L << 20)
      : Seq[VideoFramePHash] =
    parseMp4SampleTables(media) match {
      case None => Seq(VideoFramePHash(media_id, -1L, -1L))
      case Some(tracks) =>
        var idx = -1L
        for {
          t <- tracks
          offs = sampleOffsets(t)
          kf = t.syncs.fold(t.sizes.indices: Seq[Int])(_.toSeq.map(_ - 1))
          i <- kf if i >= 0 && i < t.sizes.length
        } yield {
          idx += 1
          val off = offs(i); val len = t.sizes(i)
          val img =
            if (off < 0 || len <= 0 || off + len > media.length) None
            else {
              val bytes = java.util.Arrays.copyOfRange(
                media, off.toInt, (off + len).toInt)
              if (claimedPixels(bytes) > maxPixels) None
              else try Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes)))
              catch { case scala.util.control.NonFatal(_) => None }
            }
          img match {
            case Some(im) => VideoFramePHash(media_id, idx,
              phashOfRaster(im.getRaster, im.getWidth, im.getHeight))
            case None => VideoFramePHash(media_id, idx, -1L)
          }
        }
    }

  // ---- semantic video embedding → the ANN/SemDeDup stack -----------------

  /** Deterministic pooled KEYFRAME BLOCK-MEAN video embedding — the
    * video member of the [[imageEmbeddings]] family: every decodable
    * keyframe box-resizes to a `grid`×`grid` e4 gray grid
    * ([[boxGridE4]]), the per-cell e4 values POOL (e4-rounded mean)
    * across the clip's keyframes, and the pooled vector MEAN-CENTERS.
    *
    * Why this catches what the frame-hash index misses: the
    * [[videoNearDupPairs]] key is per-frame pHash at hamming ≤
    * maxHamming — a RE-GRAINED re-encode (pixel noise from quality
    * settings) flips median-adjacent DCT bits on every frame, so no
    * frame pairs and the temporal Jaccard is 0 — while the noise
    * averages down inside each block mean and across frames, so the
    * pooled vector barely moves and the cosine stays high (the image
    * arc's measured regime, one temporal pooling away).
    *
    * Exactness note for oracles: per-frame cell values are e4 integers;
    * pooling rounds to an e4 integer; the center divides by `grid`² —
    * a power of two keeps the centered doubles exact in binary.
    * Unparseable payloads and clips with ZERO decodable keyframes emit
    * no row (they can never pair); constant clips center to the zero
    * vector and are filtered by the consumer's zero-norm guard.
    */
  def videoEmbeddings(ds: Dataset[MediaRecord], grid: Int = 8,
                      batchSize: Int = 16, maxPixels: Long = 64L << 20)
      : DataFrame = {
    require(grid >= 2 && (grid & (grid - 1)) == 0,
      s"videoEmbeddings: grid ($grid) must be a power of two >= 2")
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap(_.iterator.flatMap(r =>
        videoEmbeddingOne(r.media_id, r.media, grid, maxPixels)))
    }.toDF("id", "v")
  }

  private[graft] def videoEmbeddingOne(media_id: Long, media: Array[Byte],
                                       grid: Int,
                                       maxPixels: Long = 64L << 20)
      : Option[(Long, Array[Double])] =
    parseMp4SampleTables(media).flatMap { tracks =>
      val cells = new Array[Long](grid * grid)
      var nFrames = 0L
      for {
        t <- tracks
        offs = sampleOffsets(t)
        kf = t.syncs.fold(t.sizes.indices: Seq[Int])(_.toSeq.map(_ - 1))
        i <- kf if i >= 0 && i < t.sizes.length
      } {
        val off = offs(i); val len = t.sizes(i)
        if (off >= 0 && len > 0 && off + len <= media.length) {
          val bytes = java.util.Arrays.copyOfRange(
            media, off.toInt, (off + len).toInt)
          val img =
            if (claimedPixels(bytes) > maxPixels) None
            else try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case scala.util.control.NonFatal(_) => None }
          img.foreach { im =>
            val g = boxGridE4(im.getRaster, im.getWidth, im.getHeight,
              grid, grid)
            var c = 0
            while (c < cells.length) { cells(c) += g(c); c += 1 }
            nFrames += 1L
          }
        }
      }
      if (nFrames == 0L) None
      else {
        val v = Array.tabulate(grid * grid)(c =>
          math.floor(cells(c) * 1.0 / nFrames + 0.5))
        val mu = v.sum / (grid * grid)
        Some((media_id, v.map(_ - mu)))
      }
    }

  /** SemDeDup over videos: pooled keyframe block-mean embeddings into
    * the shared cluster-then-verify machinery —
    * [[imageSemDedupVictims]]'s video twin. Victims are (id, kept_id).
    */
  def videoSemDedupVictimsManaged(ds: Dataset[MediaRecord], grid: Int = 8,
                                  thresholdE4: Long = 9000L,
                                  centroidEvery: Int = 25,
                                  nassign: Int = 2): graft.core.Managed =
    Curation.semDedupVictimsFromVectorsManaged(
      videoEmbeddings(ds, grid), thresholdE4, centroidEvery, nassign)

  /** Near-duplicate VIDEO pairs — the modality composition the parts
    * were built for: per-keyframe pHash ([[videoKeyframePhash]]) banded
    * into the [[imagePHashNearDupPairs]] pigeonhole join at the FRAME
    * level, then temporally aggregated per video pair: `matched_a` /
    * `matched_b` = how many of each side's keyframes near-match (hamming
    * ≤ `maxHamming`, exact under the band join for maxHamming < nBands)
    * ANY keyframe of the other side, and
    * `sim_e4 = (matched_a + matched_b) / (n_a + n_b)` — the symmetric
    * hash-set Jaccard over near-matching. A re-encoded duplicate matches
    * on every frame (sim 1e4); a clip sharing one scene scores
    * proportionally. Pairs at or above `minSimE4` survive.
    *
    * Scale shape: the only corpus-sized shuffle is the (band, bits)
    * frame-band equi join — never all-pairs across videos, never frames ×
    * frames; the temporal aggregate is one hash-partitioned groupBy on
    * (idA, idB). Marker frames (−1) and non-video payloads never pair.
    */
  def videoNearDupPairs(ds: Dataset[MediaRecord], maxHamming: Int = 3,
                        nBands: Int = 4,
                        minSimE4: Long = 5000L): DataFrame =
    videoNearDupPairsManaged(ds, maxHamming, nBands, minSimE4).df

  def videoNearDupPairsManaged(ds: Dataset[MediaRecord],
                               maxHamming: Int = 3, nBands: Int = 4,
                               minSimE4: Long = 5000L): graft.core.Managed = {
    val hashes = videoKeyframePhash(ds).toDF()
      .filter(col("phash") =!= -1L && col("frame_idx") >= 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Managed(
      videoFramesNearDupPairs(hashes, maxHamming, nBands, minSimE4),
      Seq(hashes))
  }

  /** The [[videoNearDupPairs]] algebra over PRE-COMPUTED valid frame
    * rows (media_id, frame_idx, phash) — the decode-once seam the video
    * increment's within-batch stage shares with the media-input form.
    * Caller owns persistence of `hashes` (it is scanned three times:
    * sizes, each join side).
    */
  private[graft] def videoFramesNearDupPairs(hashes: DataFrame,
                                             maxHamming: Int = 3,
                                             nBands: Int = 4,
                                             minSimE4: Long = 5000L)
      : DataFrame = {
    require(nBands > 0 && 64 % nBands == 0,
      s"band count ($nBands) must divide 64")
    require(maxHamming < nBands,
      s"pigeonhole over $nBands bands needs maxHamming < $nBands")
    val nFrames = hashes.groupBy(col("media_id"))
      .agg(count(lit(1)).as("nf"))
    val banded = phashBandRows(hashes, nBands)
    val a = banded.select(col("media_id").as("idA"),
      col("frame_idx").as("fiA"), col("phash").as("ha"),
      col("band"), col("bits"))
    val b = banded.select(col("media_id").as("idB"),
      col("frame_idx").as("fiB"), col("phash").as("hb"),
      col("band"), col("bits"))
    val framePairs = a.join(b, Seq("band", "bits"))
      .filter(col("idA") < col("idB"))
      .filter(expr("CAST(bit_count(ha ^ hb) AS BIGINT)") <= maxHamming)
      .select("idA", "fiA", "idB", "fiB").distinct()
    val agg = framePairs.groupBy("idA", "idB")
      .agg(countDistinct(col("fiA")).as("matched_a"),
        countDistinct(col("fiB")).as("matched_b"))
    val out = agg
      .join(nFrames.select(col("media_id").as("idA"), col("nf").as("na")),
        Seq("idA"))
      .join(nFrames.select(col("media_id").as("idB"), col("nf").as("nb")),
        Seq("idB"))
      .withColumn("sim_e4", graft.core.Ops.fixedPoint(
        (col("matched_a") + col("matched_b")) * lit(1.0) /
          (col("na") + col("nb")), 4))
      .filter(col("sim_e4") >= minSimE4)
      .select("idA", "idB", "matched_a", "matched_b", "sim_e4")
    out
  }

  // ---- video keyframe index (round 15): the SEVENTH lifecycle member ------

  /** Persist a corpus snapshot's keyframe pHashes — the VIDEO member of
    * the index-lifecycle family ([[writePhashIndex]] for images,
    * `writeAudioFpIndex` for clips): an incremental video ingest must
    * not re-parse and re-decode the accumulated corpus per batch; each
    * new snapshot decodes ONCE and joins only matching (band, bits)
    * frame rows against stored signatures
    * ([[videoNearDupAgainstIndex]]). At 100 TB of video the old corpus
    * is read-never for its samples — only 8 B/keyframe of signature
    * moves.
    *
    * Layout: `dir/frames` (id, frame_idx, phash — decodable keyframes
    * only), `dir/sizes` (id, nf — the temporal-Jaccard denominator),
    * `dir/meta` (n_bands — the banding the hamming cut is exact under;
    * checked on read). All partitioned by `batch_id` with the meta row
    * as COMMIT MARKER (the pHash/audio contract): retries of a FAILED
    * append reuse their batch id under dynamic overwrite (replaced,
    * never doubled); readers see only committed batches. Unparseable
    * payloads and undecodable frames (marker rows −1) are excluded at
    * write — they can never pair.
    */
  def writeVideoIndex(ds: Dataset[MediaRecord], dir: String,
                      nBands: Int = 4): Unit =
    writeVideoFrameParts(validVideoFrames(ds), ds.sparkSession, dir,
      nBands, overwrite = true, batchId = "base")

  /** Fold a new batch's keyframe hashes into an existing index (append —
    * no old data read or rewritten). Caller contract: batch ids disjoint
    * from indexed ids; retries of a FAILED append reuse `batchId`.
    */
  def appendToVideoIndex(spark: SparkSession, dir: String,
                         ds: Dataset[MediaRecord], batchId: String): Unit =
    writeVideoFrameParts(validVideoFrames(ds), spark, dir,
      readVideoMeta(spark, dir), overwrite = false, batchId = batchId)

  /** Append PRE-COMPUTED valid frame rows (id, frame_idx, phash) — the
    * decode-once seam for the video increment funnel; same layout and
    * commit contract as [[appendToVideoIndex]].
    */
  private[graft] def appendVideoFrames(spark: SparkSession, dir: String,
                                       frames: DataFrame,
                                       batchId: String): Unit =
    writeVideoFrameParts(frames, spark, dir, readVideoMeta(spark, dir),
      overwrite = false, batchId = batchId)

  /** Create a FRESH index from pre-computed valid frame rows under an
    * arbitrary first batch id (the video increment's bootstrap). */
  private[graft] def writeVideoFrameIndex(spark: SparkSession,
                                          frames: DataFrame, dir: String,
                                          nBands: Int,
                                          batchId: String): Unit =
    writeVideoFrameParts(frames, spark, dir, nBands,
      overwrite = true, batchId = batchId)

  /** Decodable keyframe hashes of a media set, marker rows dropped. */
  private def validVideoFrames(ds: Dataset[MediaRecord]): DataFrame =
    videoKeyframePhash(ds).toDF()
      .filter(col("phash") =!= -1L && col("frame_idx") >= 0L)
      .select(col("media_id").as("id"), col("frame_idx"), col("phash"))

  private def writeVideoFrameParts(frames0: DataFrame, spark: SparkSession,
                                   dir: String, nBands: Int,
                                   overwrite: Boolean,
                                   batchId: String): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "video index")
    require(nBands > 0 && 64 % nBands == 0,
      s"video index: band count ($nBands) must divide 64")
    def write(d: DataFrame, table: String): Unit =
      graft.core.BatchTables.write(d, s"$dir/$table", batchId, overwrite)
    val frames = frames0.select(col("id"), col("frame_idx"), col("phash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      write(frames, "frames")
      write(frames.groupBy("id").agg(count(lit(1)).as("nf")), "sizes")
      write(spark.range(1).select(lit(nBands).as("n_bands")), "meta")
    } finally frames.unpersist()
  }

  private[graft] def readVideoMeta(spark: SparkSession, dir: String): Int =
    graft.core.BatchTables.pinnedMeta(spark, dir, Seq("n_bands"),
      "video index").getInt(0)

  /** Near-dup pairs of NEW videos against the indexed corpus:
    * (id_new, id_old, matched_new, matched_old, sim_e4) — the
    * [[videoNearDupPairs]] temporal algebra with the old side served
    * from stored signatures (committed batches only). The batch parses
    * and hashes ONCE; the only corpus-sized work is the (band, bits)
    * frame equi join and the exact hamming verify — EXACT for
    * maxHamming < n_bands (pigeonhole), which is required. New×new
    * pairs are deliberately not emitted ([[videoNearDupPairs]] the
    * batch first if needed).
    */
  def videoNearDupAgainstIndex(spark: SparkSession, dir: String,
                               newMedia: Dataset[MediaRecord],
                               maxHamming: Int = 3, minSimE4: Long = 5000L,
                               excludeBatch: Option[String] = None)
      : DataFrame =
    videoFramesNearDupAgainstIndex(spark, dir, validVideoFrames(newMedia)
        .select(col("id").as("id_new"), col("frame_idx"), col("phash")),
      maxHamming, minSimE4, excludeBatch)

  /** [[videoNearDupAgainstIndex]] over PRE-COMPUTED valid new-side frame
    * rows (id_new, frame_idx, phash) — the decode-once seam.
    * `excludeBatch` hides the named committed batch (the increment
    * retry's pre-batch view).
    */
  private[graft] def videoFramesNearDupAgainstIndex(
      spark: SparkSession, dir: String, newFrames: DataFrame,
      maxHamming: Int = 3, minSimE4: Long = 5000L,
      excludeBatch: Option[String] = None): DataFrame = {
    val nBands = readVideoMeta(spark, dir)
    require(maxHamming < nBands,
      s"videoNearDupAgainstIndex: pigeonhole over $nBands bands is exact " +
        s"only for maxHamming ($maxHamming) < n_bands")
    val committed =
      graft.core.BatchTables.committed(spark, dir, excludeBatch)
    val nfr = newFrames
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nb = phashBandRows(nfr, nBands)
        .select(col("id_new"), col("frame_idx").as("fi_new"),
          col("phash").as("h_new"), col("band"), col("bits"))
      val ob = phashBandRows(graft.core.BatchTables
          .readCommitted(spark, s"$dir/frames", committed)
          .select(col("id").as("id_old"), col("frame_idx"), col("phash")),
          nBands)
        .select(col("id_old"), col("frame_idx").as("fi_old"),
          col("phash").as("h_old"), col("band"), col("bits"))
      val framePairs = nb.join(ob, Seq("band", "bits"))
        .filter(col("id_new") =!= col("id_old"))
        .filter(expr("CAST(bit_count(h_new ^ h_old) AS BIGINT)")
          <= maxHamming)
        .select("id_new", "fi_new", "id_old", "fi_old").distinct()
      val agg = framePairs.groupBy("id_new", "id_old")
        .agg(countDistinct(col("fi_new")).as("matched_new"),
          countDistinct(col("fi_old")).as("matched_old"))
      val nsz = nfr.groupBy("id_new").agg(count(lit(1)).as("na"))
      val osz = graft.core.BatchTables
        .readCommitted(spark, s"$dir/sizes", committed)
        .select(col("id").as("id_old"), col("nf").as("nb"))
      agg.join(nsz, "id_new").join(osz, "id_old")
        .withColumn("sim_e4", graft.core.Ops.fixedPoint(
          (col("matched_new") + col("matched_old")) * lit(1.0) /
            (col("na") + col("nb")), 4))
        .filter(col("sim_e4") >= minSimE4)
        .select("id_new", "id_old", "matched_new", "matched_old", "sim_e4")
        .localCheckpoint(eager = true)
    } finally nfr.unpersist()
  }
}
