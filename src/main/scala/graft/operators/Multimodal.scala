package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata extracted executor-side.
  *
  * The Spark-side machinery — binary column, per-partition batch
  * iteration with a typed Encoder, stable output schema, narrow (no
  * shuffle) execution — is shared by all three media kinds, and all
  * three decode REAL bytes with hand-rolled format parsers (no codec
  * libraries): image metadata parses PNG IHDR / JPEG SOFn markers /
  * GIF screen descriptors, frame sampling walks a GIF's block
  * structure counting image descriptors, audio metadata walks RIFF
  * chunks and scans 16-bit PCM samples. A production pipeline would
  * swap in full decoders (pixel data, codec bitstreams) — that
  * changes only the per-record function; schema, partitioning and
  * batching stay identical.
  *
  * Scale note: mapPartitions keeps per-record overhead at
  * iterator-step cost and lets a real decoder amortize native-lib
  * init per partition (the Scala analog of `mapInPandas` batching).
  */
object Multimodal {

  final case class MediaMeta(doc_id: Long, width: Int, height: Int, format: String)

  /** Parse width/height/format from real image bytes.
    *
    *  - PNG: 8-byte signature, then the IHDR chunk is mandatory-first,
    *    so width/height are the big-endian ints at offsets 16/20.
    *  - JPEG: walk the marker segments from SOI to the first frame
    *    header SOFn (0xC0-0xCF minus DHT/JPG/DAC); its payload is
    *    [len][precision][height][width].
    *  - GIF: 6-byte version tag, then little-endian logical screen
    *    width/height.
    *
    * Truncated or unrecognized bytes -> (0, 0, "unknown") rather than
    * an exception: at 100 TB a corrupt record must degrade to a
    * filterable row, not kill the stage.
    */
  def decodeImageHeader(bytes: Array[Byte]): (Int, Int, String) = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (bytes.length >= 24 &&
        u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
        bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D' && bytes(15) == 'R')
      (be32(16), be32(20), "png")
    else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var res: (Int, Int, String) = (0, 0, "unknown")
      var done = false
      while (!done && i + 3 < bytes.length) {
        if (u8(i) != 0xff) i += 1 // stray/entropy byte between segments
        else {
          val m = u8(i + 1)
          if (m == 0xff) i += 1 // fill byte before a marker
          else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone markers
          else {
            val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
            if (isSof && i + 9 <= bytes.length) {
              res = (be16(i + 7), be16(i + 5), "jpeg")
              done = true
            } else i += 2 + be16(i + 2)
          }
        }
      }
      res
    } else if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
      (le16(6), le16(8), "gif")
    else (0, 0, "unknown")
  }

  /** media(doc_id, img: binary) -> parsed image metadata via
    * [[decodeImageHeader]] — a real decode of real bytes, executed
    * per-partition with no shuffle.
    */
  def imageMeta(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[MediaMeta]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, fmt) = decodeImageHeader(bytes)
          MediaMeta(id, w, h, fmt)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Classify a JPEG's coding process from its first SOF marker —
    * the marker walk of [[decodeImageHeader]], keeping the SOF code
    * instead of the dimensions. `baseline` (SOF0/SOF1) and
    * `progressive` (SOF2) are both fully decoded by
    * [[graft.operators.Jpeg.decodePixels]]; `other` (differential /
    * arithmetic / lossless SOFs) deliberately degrades to empty
    * there. Exposed so the DECODE-COVERAGE of a corpus is a
    * first-class, queryable stat: a corpus drifting toward
    * unsupported encoders (or a decoder regression on a supported
    * class) shows up as a rising degraded count in the m9 gate
    * query, not as silently empty pixel stats.
    */
  def jpegSofClass(bytes: Array[Byte]): String = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return "not_jpeg"
    var i = 2
    while (i + 3 < bytes.length) {
      if (u8(i) != 0xff) i += 1
      else {
        val m = u8(i + 1)
        if (m == 0xff) i += 1
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
        else {
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof) return m match {
            case 0xc0 | 0xc1 => "baseline"
            case 0xc2 => "progressive"
            case _ => "other"
          }
          i += 2 + be16(i + 2)
        }
      }
    }
    "not_jpeg"
  }

  /** Decode-coverage audit over a JPEG corpus: per SOF class
    * ([[jpegSofClass]]), how many documents the full pixel decoder
    * actually decoded vs degraded to empty. Two independent
    * measurements per row — the marker-level classification and the
    * actual decode outcome (width > 0) — so a decoder regression on
    * a supposedly-supported class is visible too, not just corpus
    * drift toward unsupported encodings. Narrow per-partition decode
    * + one tiny aggregate over (classes × outcomes); at 100 TB the
    * shuffle carries a handful of partial-count rows per task.
    */
  def jpegCoverage(media: DataFrame): DataFrame = {
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (_, bytes) =>
          (jpegSofClass(bytes), Jpeg.decodePixels(bytes)._1 > 0)
        }
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaBoolean))
      .toDF("kind", "decoded")
      .groupBy("kind") // declarative agg: map-side combine, codegen'd
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_degraded"))
      .orderBy("kind")
  }

  final case class AviMeta(doc_id: Long, width: Int, height: Int, n_frames: Int,
                           us_per_frame: Int, duration_ms: Long, codec: String)

  /** Walk a real AVI's RIFF structure for the stream metadata a video
    * curation pipeline filters on before ever touching frame bytes:
    * dimensions, frame count, frame period (`avih.dwMicroSecPerFrame`)
    * and the video codec fourcc (`strh.fccHandler`). Pure byte walk —
    * header chunks only, no frame payload is read, so at 100 TB this
    * is a metadata-rate pass over column bytes (and with parquet
    * column pruning the frame-heavy `movi` bytes still ride along in
    * the same cell — the reason meta extraction is its own narrow
    * query rather than a side effect of decode). Corrupt or non-AVI
    * bytes degrade to a (0,0,0,0,0,"") row, never an exception.
    */
  private[graft] def parseAviHeader(bytes: Array[Byte]): (Int, Int, Int, Int, String) = {
    def u8(i: Int) = bytes(i) & 0xff
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def four(i: Int) = new String(bytes, i, 4, "US-ASCII")
    val bad = (0, 0, 0, 0, "")
    if (bytes.length < 12 || four(0) != "RIFF" || four(8) != "AVI ") return bad
    var w = 0; var h = 0; var n = 0; var usp = 0; var codec = ""
    // recursive chunk walk bounded by declared sizes; LIST bodies
    // nest, everything else is skipped by size (word-aligned)
    def walk(from: Int, to: Int): Unit = {
      var i = from
      while (i + 8 <= to) {
        val id = four(i)
        val sz = le32(i + 4)
        if (sz < 0 || i + 8 + sz > to) return // truncated: keep what we have
        if (id == "LIST") {
          val kind = four(i + 8)
          if (kind == "hdrl" || kind == "strl") walk(i + 12, i + 8 + sz)
        } else if (id == "avih" && sz >= 40) {
          usp = le32(i + 8); n = le32(i + 8 + 16); w = le32(i + 8 + 32); h = le32(i + 8 + 36)
        } else if (id == "strh" && sz >= 8 && four(i + 8) == "vids") {
          codec = four(i + 12)
        }
        i += 8 + sz + (sz & 1)
      }
    }
    walk(12, bytes.length)
    (w, h, n, usp, codec)
  }

  def aviMeta(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[AviMeta]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("avi"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, n, usp, codec) = parseAviHeader(bytes)
          AviMeta(id, w, h, n, usp, n.toLong * usp / 1000, codec)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Extract the MJPEG frame payloads from an AVI's `movi` list:
    * every `##dc`/`##db` chunk body is one complete JPEG. Returns
    * frames in stream order; non-AVI bytes → empty.
    */
  def aviFramePayloads(bytes: Array[Byte]): Seq[Array[Byte]] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def four(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 12 || four(0) != "RIFF" || four(8) != "AVI ") return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
      var i = from
      while (i + 8 <= to) {
        val id = four(i)
        val sz = le32(i + 4)
        if (sz < 0 || i + 8 + sz > to) return
        if (id == "LIST") {
          val kind = four(i + 8)
          if (kind == "movi" || kind == "rec ") walk(i + 12, i + 8 + sz, inMovi = true)
        } else if (inMovi && id.length == 4 &&
                   (id.endsWith("dc") || id.endsWith("db"))) {
          out += java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + sz)
        }
        i += 8 + sz + (sz & 1)
      }
    }
    walk(12, bytes.length, inMovi = false)
    out.toSeq
  }

  final case class VideoFrameStats(doc_id: Long, frame: Int, width: Int, height: Int,
                                   sum_r: Long, sum_g: Long, sum_b: Long)

  /** Frame-sample + decode over MJPEG AVIs: every `stride`-th frame's
    * JPEG payload through the full [[Jpeg.decodePixels]] baseline
    * decoder, emitting exact per-frame channel sums — the feature row
    * a video training pipeline computes per sampled frame. One narrow
    * mapPartitions (container walk + entropy decode fused per record,
    * no shuffle until the caller aggregates); a corrupt container or
    * an undecodable frame degrades to a (0,0) dimension row so a bad
    * record filters instead of failing the stage.
    */
  def aviFrameStats(media: DataFrame, stride: Int): DataFrame = {
    implicit val enc = Encoders.product[VideoFrameStats]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("avi"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          aviFramePayloads(bytes).zipWithIndex
            .collect { case (jpeg, f) if f % stride == 0 =>
              val (w, h, px) = Jpeg.decodePixels(jpeg)
              var sr = 0L; var sg = 0L; var sb = 0L
              var i = 0
              while (i < px.length) {
                val p = px(i)
                sr += (p >> 16) & 255; sg += (p >> 8) & 255; sb += p & 255
                i += 1
              }
              VideoFrameStats(id, f, w, h, sr, sg, sb)
            }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame")
  }

  final case class FrameMeta(doc_id: Long, width: Int, height: Int, n_frames: Int, n_sampled: Int)

  /** Walk a GIF's real block structure: logical screen descriptor for
    * dimensions, then every block — extensions (0x21: label + length-
    * prefixed sub-blocks), image descriptors (0x2C: 9-byte descriptor,
    * optional local color table, LZW min-code byte, sub-blocks) — and
    * count the image descriptors = animation frames. Corrupt bytes
    * degrade to (0,0,0), never throw.
    */
  def decodeGifFrames(bytes: Array[Byte]): (Int, Int, Int) = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (bytes.length < 14 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F')
      return (0, 0, 0)
    val w = le16(6); val h = le16(8)
    val gctSize = if ((u8(10) & 0x80) != 0) 3 * (1 << ((u8(10) & 0x07) + 1)) else 0
    var i = 13 + gctSize
    var frames = 0
    def skipSubBlocks(): Boolean = { // false on truncation
      while (i < bytes.length && u8(i) != 0) i += 1 + u8(i)
      if (i < bytes.length) { i += 1; true } else false
    }
    var ok = true
    while (ok && i < bytes.length && u8(i) != 0x3b) {
      u8(i) match {
        case 0x21 => // extension: introducer, label, sub-blocks
          i += 2
          ok = skipSubBlocks()
        case 0x2c => // image descriptor
          if (i + 10 > bytes.length) ok = false
          else {
            val lctSize = if ((u8(i + 9) & 0x80) != 0) 3 * (1 << ((u8(i + 9) & 0x07) + 1)) else 0
            i += 10 + lctSize + 1 // descriptor + local table + LZW min-code
            ok = skipSubBlocks()
            if (ok) frames += 1
          }
        case _ => ok = false // unknown block: stop rather than misparse
      }
    }
    (w, h, frames)
  }

  /** media(doc_id, gif: binary) -> frame-sampling metadata from a REAL
    * container walk ([[decodeGifFrames]]): dimensions, frame count,
    * and how many frames an every-`stride`-th sampler would keep.
    * Narrow per-partition decode, no shuffle.
    */
  def frameSample(media: DataFrame, stride: Int = 2): DataFrame = {
    implicit val enc = Encoders.product[FrameMeta]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("gif"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, n) = decodeGifFrames(bytes)
          FrameMeta(id, w, h, n, (n + stride - 1) / stride)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  final case class GifFrameStats(doc_id: Long, frame: Int, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL GIF pixel decode with the JDK alone: logical-screen /
    * image-descriptor walk (shared shape with [[decodeGifFrames]]),
    * global+local color tables, sub-block reassembly, and a full
    * variable-width LSB-first LZW decompression ([[gifLzwDecode]]) —
    * then palette-mapped per-channel pixel sums PER FRAME, the
    * curation feature for animated media. Returns one tuple per frame
    * `(frame, w, h, sumR, sumG, sumB)`; any corrupt byte degrades to
    * Nil (fail-to-empty, like the PNG path's zeros — never throws).
    * Interlaced frames sum identically (row order doesn't change a
    * sum), so no deinterlace pass is needed. Per-row cost is
    * O(pixels); a 100 TB GIF corpus decodes map-only.
    *
    * Transparency: the Graphics Control Extension preceding a frame
    * is parsed, and when its transparent-color flag is set, pixels
    * carrying that palette index are EXCLUDED from the frame's sums
    * (they contribute no color of their own — the palette entry
    * behind a transparent index is arbitrary encoder garbage).
    * Disposal/compositing is deliberately NOT applied: sums here are
    * per-frame OWN-PIXEL statistics (the curation feature), not sums
    * of the composited animation state an on-screen renderer (or
    * ImageIO's frame accumulation) would show — for GIFs using
    * partial frames with disposal methods the two definitions
    * legitimately differ.
    */
  def decodeGifPixels(bytes: Array[Byte]): Seq[(Int, Int, Int, Long, Long, Long)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (bytes.length < 14 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F')
      return Nil
    val gctLen = if ((u8(10) & 0x80) != 0) 1 << ((u8(10) & 0x07) + 1) else 0
    if (13 + 3 * gctLen > bytes.length) return Nil
    val gct = java.util.Arrays.copyOfRange(bytes, 13, 13 + 3 * gctLen)
    var i = 13 + 3 * gctLen
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long, Long, Long)]
    var frame = 0
    var ok = true
    // transparent palette index from the Graphics Control Extension
    // (label 0xF9) that precedes the next image descriptor; -1 = none.
    // Per the spec a GCE's scope is exactly one following rendering
    // block, so it resets after each frame.
    var transIdx = -1
    def skipSubBlocks(): Boolean = {
      while (i < bytes.length && u8(i) != 0) i += 1 + u8(i)
      if (i < bytes.length) { i += 1; true } else false
    }
    while (ok && i < bytes.length && u8(i) != 0x3b) {
      u8(i) match {
        case 0x21 =>
          // GCE layout: 0x21 0xF9 0x04 <packed> <delay lo> <delay hi>
          // <transparent index> 0x00 — packed bit 0 is the
          // transparent-color flag
          if (i + 1 < bytes.length && u8(i + 1) == 0xf9 &&
              i + 7 < bytes.length && u8(i + 2) == 4)
            transIdx = if ((u8(i + 3) & 0x01) != 0) u8(i + 6) else -1
          i += 2; ok = skipSubBlocks()
        case 0x2c if i + 10 <= bytes.length =>
          val fw = le16(i + 5); val fh = le16(i + 7)
          val packed = u8(i + 9)
          val lctLen = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
          val palOff = i + 10
          i = palOff + 3 * lctLen
          val pal =
            if (lctLen > 0 && i <= bytes.length)
              java.util.Arrays.copyOfRange(bytes, palOff, palOff + 3 * lctLen)
            else gct
          // dimension sanity BEFORE any allocation: fw*fh overflows
          // Int past 2^31 (descriptor dims go to 65535 each), and a
          // corrupt 60-byte file claiming a 2-gigapixel frame must
          // degrade to Nil, not OOM the executor on the output
          // buffer. 2^26 px (192 MB of sums) is far above any real
          // animation frame.
          val nPix = fw.toLong * fh.toLong
          if (i >= bytes.length || pal.isEmpty || fw <= 0 || fh <= 0 ||
              nPix > (1L << 26)) ok = false
          else {
            val minCode = u8(i); i += 1
            val data = new java.io.ByteArrayOutputStream()
            while (ok && i < bytes.length && u8(i) != 0) {
              val n = u8(i)
              if (i + 1 + n > bytes.length) ok = false
              else { data.write(bytes, i + 1, n); i += 1 + n }
            }
            if (!ok || i >= bytes.length) ok = false
            else {
              i += 1 // sub-block terminator
              val idx = gifLzwDecode(data.toByteArray, minCode, fw * fh)
              if (idx == null) ok = false
              else {
                var sr = 0L; var sg = 0L; var sb = 0L
                var p = 0
                while (p < idx.length) {
                  val px = idx(p) & 0xff
                  val ci = px * 3
                  if (px != transIdx && ci + 2 < pal.length) {
                    sr += pal(ci) & 0xff; sg += pal(ci + 1) & 0xff; sb += pal(ci + 2) & 0xff
                  }
                  p += 1
                }
                out += ((frame, fw, fh, sr, sg, sb))
                frame += 1
                transIdx = -1 // GCE scope ends with its rendering block
              }
            }
          }
        case _ => ok = false
      }
    }
    if (ok) out.toSeq else Nil
  }

  /** GIF-flavor LZW: variable-width codes read LSB-first, clear/EOI
    * control codes, 12-bit dictionary cap with deferred clear.
    * Prefix/suffix-array dictionary — no per-entry byte-array
    * concatenation, O(output) total work. Returns exactly `nPixels`
    * indices, or null on any corrupt stream (bad code, truncation,
    * short output).
    */
  private def gifLzwDecode(data: Array[Byte], minCodeSize: Int, nPixels: Int): Array[Byte] = {
    if (minCodeSize < 2 || minCodeSize > 11 || nPixels <= 0) return null
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](nPixels)
    var outN = 0
    var dictSize = eoi + 1
    var codeSize = minCodeSize + 1
    var prev = -1
    var first = 0
    var bitPos = 0
    val totalBits = data.length * 8
    var done = false
    while (!done && outN < nPixels) {
      if (bitPos + codeSize > totalBits) return null // truncated stream
      var code = 0
      var b = 0
      while (b < codeSize) {
        code |= ((data((bitPos + b) >> 3) >> ((bitPos + b) & 7)) & 1) << b
        b += 1
      }
      bitPos += codeSize
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        var sp = 0
        var c = code
        if (c == dictSize && prev >= 0) { // KwKwK: string(prev)+first(prev)
          stack(sp) = first.toByte; sp += 1; c = prev
        } else if (c >= dictSize) return null
        while (c > eoi) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        if (c >= clear) return null // a control code inside a chain
        first = c
        stack(sp) = c.toByte; sp += 1
        while (sp > 0) {
          sp -= 1
          if (outN < nPixels) { out(outN) = stack(sp); outN += 1 }
        }
        if (prev >= 0 && dictSize < 4096) {
          prefix(dictSize) = prev; suffix(dictSize) = first.toByte; dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    if (outN == nPixels) out else null
  }

  /** media(doc_id, gif: binary) -> per-frame palette-mapped channel
    * sums via [[decodeGifPixels]]. Narrow per-partition decode, one
    * output row per animation frame, no shuffle but the presentation
    * sort.
    */
  def gifPixelStats(media: DataFrame): DataFrame =
    gifFrameStats(media).orderBy("doc_id", "frame")

  /** [[gifPixelStats]] without the presentation sort — the form other
    * operators compose over (an interior global sort would be a plan
    * defect, and the lint rejects it).
    */
  private[graft] def gifFrameStats(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[GifFrameStats]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("gif"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeGifPixels(bytes).map { case (f, w, h, sr, sg, sb) =>
            GifFrameStats(id, f, w, h, sr, sg, sb)
          }
        }
      }
      .toDF()
  }

  final case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
      duration_ms: Long, peak: Int)

  final case class AudioEnergy(doc_id: Long, n_samples: Int,
      energy: Long, max_win_energy: Long)

  final case class ImageStats(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL PNG pixel decode with the JDK alone: IHDR parse, IDAT
    * concatenation, zlib inflate (`java.util.zip.Inflater`), and the
    * full five-filter scanline reconstruction (None/Sub/Up/Average/
    * Paeth) — then per-channel pixel sums, the feature-extraction
    * primitive (mean brightness, channel balance) an image curation
    * pipeline filters on. 8-bit truecolor (color type 2, the fixture
    * shape) only; anything else — and any corrupt byte — degrades to
    * zeros, never throws. Per-row cost is O(pixels) with O(2×
    * scanline) memory; decoding a 100 TB image corpus stays
    * map-only.
    */
  def decodePngStats(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val zero = (0, 0, 0L, 0L, 0L)
    if (bytes.length < 8 ||
      (bytes(0) & 0xff) != 0x89 || bytes(1) != 'P' || bytes(2) != 'N' || bytes(3) != 'G')
      return zero
    def be32(i: Int) = ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
      ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
    var i = 8
    var w = 0; var h = 0; var bitDepth = 0; var colorType = -1
    var methods = -1 // compression<<16 | filter<<8 | interlace: all must be 0
    val idat = new java.io.ByteArrayOutputStream()
    while (i + 8 <= bytes.length) {
      val len = be32(i)
      if (len < 0 || i + 8 + len > bytes.length) return zero
      val tag = new String(bytes, i + 4, 4, "US-ASCII")
      tag match {
        case "IHDR" if len >= 13 =>
          w = be32(i + 8); h = be32(i + 12)
          bitDepth = bytes(i + 16) & 0xff; colorType = bytes(i + 17) & 0xff
          methods = ((bytes(i + 18) & 0xff) << 16) | ((bytes(i + 19) & 0xff) << 8) |
            (bytes(i + 20) & 0xff)
        case "IDAT" => idat.write(bytes, i + 8, len)
        case _      => ()
      }
      i += 8 + len + 4 // skip CRC
    }
    if (w <= 0 || h <= 0 || bitDepth != 8 || colorType != 2 || methods != 0)
      return zero // incl. Adam7 interlace: it inflates to MORE than h*(stride+1)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val bpp = 3
    val stride = w * bpp
    val raw = new Array[Byte](h * (stride + 1))
    try {
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && inflater.needsInput()) return zero // truncated
        off += n
      }
      if (off < raw.length) return zero
    } catch { case _: java.util.zip.DataFormatException => return zero }
    finally inflater.end()

    // five-filter scanline reconstruction (PNG spec §9)
    var sr = 0L; var sg = 0L; var sb = 0L
    val prior = new Array[Int](stride)
    val cur = new Array[Int](stride)
    var y = 0
    while (y < h) {
      val rowOff = y * (stride + 1)
      val filter = raw(rowOff) & 0xff
      var x = 0
      while (x < stride) {
        val rawB = raw(rowOff + 1 + x) & 0xff
        val a = if (x >= bpp) cur(x - bpp) else 0
        val b = prior(x)
        val c = if (x >= bpp) prior(x - bpp) else 0
        val recon = filter match {
          case 0 => rawB
          case 1 => rawB + a
          case 2 => rawB + b
          case 3 => rawB + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            rawB + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return zero // unknown filter: corrupt
        }
        cur(x) = recon & 0xff
        x += 1
      }
      x = 0
      while (x < stride) {
        x % bpp match {
          case 0 => sr += cur(x)
          case 1 => sg += cur(x)
          case _ => sb += cur(x)
        }
        prior(x) = cur(x)
        x += 1
      }
      y += 1
    }
    (w, h, sr, sg, sb)
  }

  /** Decoded RGB pixels of an 8-bit truecolor PNG, row-major packed
    * ints — same decode pipeline as [[decodePngStats]] but
    * materializing the bitmap (for the operators that need pixel
    * access, e.g. [[imageResize]]). Unsupported/corrupt input ->
    * (0, 0, empty).
    */
  def decodePngPixels(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val zero = (0, 0, Array.empty[Int])
    if (bytes.length < 8 ||
      (bytes(0) & 0xff) != 0x89 || bytes(1) != 'P' || bytes(2) != 'N' || bytes(3) != 'G')
      return zero
    def be32(i: Int) = ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
      ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
    var i = 8
    var w = 0; var h = 0; var bitDepth = 0; var colorType = -1
    var methods = -1 // compression<<16 | filter<<8 | interlace: all must be 0
    val idat = new java.io.ByteArrayOutputStream()
    while (i + 8 <= bytes.length) {
      val len = be32(i)
      if (len < 0 || i + 8 + len > bytes.length) return zero
      new String(bytes, i + 4, 4, "US-ASCII") match {
        case "IHDR" if len >= 13 =>
          w = be32(i + 8); h = be32(i + 12)
          bitDepth = bytes(i + 16) & 0xff; colorType = bytes(i + 17) & 0xff
          methods = ((bytes(i + 18) & 0xff) << 16) | ((bytes(i + 19) & 0xff) << 8) |
            (bytes(i + 20) & 0xff)
        case "IDAT" => idat.write(bytes, i + 8, len)
        case _      => ()
      }
      i += 8 + len + 4
    }
    if (w <= 0 || h <= 0 || bitDepth != 8 || colorType != 2 || methods != 0)
      return zero // incl. Adam7 interlace: it inflates to MORE than h*(stride+1)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val bpp = 3
    val stride = w * bpp
    val raw = new Array[Byte](h * (stride + 1))
    try {
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && inflater.needsInput()) return zero
        off += n
      }
      if (off < raw.length) return zero
    } catch { case _: java.util.zip.DataFormatException => return zero }
    finally inflater.end()
    val px = new Array[Int](w * h)
    val prior = new Array[Int](stride)
    val cur = new Array[Int](stride)
    var y = 0
    while (y < h) {
      val rowOff = y * (stride + 1)
      val filter = raw(rowOff) & 0xff
      var x = 0
      while (x < stride) {
        val rawB = raw(rowOff + 1 + x) & 0xff
        val a = if (x >= bpp) cur(x - bpp) else 0
        val b = prior(x)
        val c = if (x >= bpp) prior(x - bpp) else 0
        val recon = filter match {
          case 0 => rawB
          case 1 => rawB + a
          case 2 => rawB + b
          case 3 => rawB + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            rawB + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return zero
        }
        cur(x) = recon & 0xff
        x += 1
      }
      x = 0
      while (x < w) {
        px(y * w + x) = (cur(x * 3) << 16) | (cur(x * 3 + 1) << 8) | cur(x * 3 + 2)
        prior(x * 3) = cur(x * 3); prior(x * 3 + 1) = cur(x * 3 + 1)
        prior(x * 3 + 2) = cur(x * 3 + 2)
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  final case class ResizedImage(doc_id: Long, thumb: Seq[Long])

  final case class ImageDHash(doc_id: Long, dhash_hi: Long, dhash_lo: Long)

  /** Difference hash (dHash) over real decoded PNG pixels — the
    * perceptual fingerprint an image-dedup pass computes before any
    * pairing: downsample to a 9×8 grayscale grid (the same
    * nearest-neighbor convention as [[imageResize]]), then emit one
    * bit per horizontally-adjacent cell pair (`gray(x+1,y) >
    * gray(x,y)`), 64 bits total. Near-identical images (recompress,
    * slight crop/brightness) collide or sit within a few Hamming
    * bits, so the d5 simhash band machinery applies unchanged
    * downstream. Grayscale is the integer BT.601 weighting
    * `(299r + 587g + 114b) / 1000` — exact in both engines. The hash
    * is emitted as two 32-bit halves (rows 0–3 / rows 4–7) so no
    * sign-bit two's-complement corner can diverge cross-engine.
    *
    * Scale: narrow per-row decode+hash, no shuffle but the
    * presentation sort — a 100 TB image corpus never moves pixels.
    */
  def imageDHash(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ImageDHash]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = decodePngPixels(bytes)
          if (w < 9 || h < 8) ImageDHash(id, 0L, 0L)
          else {
            def gray(i: Int, j: Int): Long = {
              val v = px((j * h / 8) * w + (i * w / 9))
              (299L * ((v >> 16) & 255) + 587L * ((v >> 8) & 255) +
                114L * (v & 255)) / 1000L
            }
            var hi = 0L; var lo = 0L
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                if (gray(x + 1, y) > gray(x, y)) {
                  if (y < 4) hi |= 1L << (y * 8 + x)
                  else lo |= 1L << ((y - 4) * 8 + x)
                }
                x += 1
              }
              y += 1
            }
            ImageDHash(id, hi, lo)
          }
        }
      }
      .toDF()
  }

  /** Oracle for [[imageDHash]]: regenerates the 9×8 grayscale grid
    * from the fixture's analytic pixels and folds the same bits.
    */
  def sqlImageDHash: String = {
    // analytic pixel at grid cell (i, j) of a w×h fixture image
    def pix(i: String, j: String) =
      s"(doc_id * 31 + (($i) * w // 9) * 7 + (($j) * h // 8)) % 16777216"
    def gray(v: String) =
      s"(299 * (($v) >> 16 & 255) + 587 * (($v) >> 8 & 255) + 114 * (($v) & 255)) // 1000"
    s"""WITH p AS (SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
       |           FROM documents WHERE doc_id % 2 = 0),
       |c AS (SELECT doc_id, w, h, xy % 8 AS x, xy // 8 AS y
       |      FROM (SELECT doc_id, w, h, unnest(range(64)) AS xy FROM p)),
       |b AS (SELECT doc_id, x, y,
       |        CASE WHEN ${gray(pix("x + 1", "y"))} > ${gray(pix("x", "y"))}
       |             THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |      FROM c)
       |SELECT doc_id,
       |  sum(CASE WHEN y < 4 THEN bit << (y * 8 + x) ELSE 0 END)::BIGINT AS dhash_hi,
       |  sum(CASE WHEN y >= 4 THEN bit << ((y - 4) * 8 + x) ELSE 0 END)::BIGINT AS dhash_lo
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  final case class ImagePHash(doc_id: Long, phash_hi: Long, phash_lo: Long)

  /** Q12 integer DCT-II basis for [[imagePHash]]:
    * `T(u)(x) = round(cos((2x+1)·u·π/32) · 4096)` — the cosines are
    * frozen to integers ONCE (here, at class load, from the same
    * closed form both sides embed), so the whole transform is exact
    * integer arithmetic and the oracle can replay it literally.
    */
  private[graft] val PhashDct: Array[Array[Long]] =
    Array.tabulate(8, 16)((u, x) =>
      math.round(math.cos((2 * x + 1) * u * math.Pi / 32.0) * 4096.0))

  /** Perceptual hash (pHash) over real decoded PNG pixels — the
    * frequency-domain sibling of [[imageDHash]]: downsample to a
    * 16×16 grayscale grid (same nearest-neighbor and BT.601 integer
    * conventions), take the 2-D DCT-II with the Q12 integer basis
    * [[PhashDct]], keep the 8×8 low-frequency block minus DC (63
    * coefficients), and emit one bit per coefficient above their
    * median. dHash reads local gradients, pHash reads global
    * structure — robust to uniform brightness/contrast moves and to
    * rescaling (a nearest-neighbor upscale reproduces the identical
    * grid, hence the identical hash — spec-proven). Emitted as two
    * halves so no sign-bit corner can diverge cross-engine.
    *
    * Scale: narrow per-row decode + a fixed 16k-multiply transform
    * per image, no shuffle — map-only at any corpus size. Corrupt
    * images degrade to (0, 0), filterable downstream.
    */
  def imagePHash(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ImagePHash]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    val t = PhashDct
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = decodePngPixels(bytes)
          if (px.isEmpty) ImagePHash(id, 0L, 0L)
          else {
            val g = Array.tabulate(16, 16) { (y, x) =>
              val v = px((y * h / 16) * w + (x * w / 16))
              (299L * ((v >> 16) & 255) + 587L * ((v >> 8) & 255) +
                114L * (v & 255)) / 1000L
            }
            val coef = Array.tabulate(8, 8) { (u, vq) =>
              var s = 0L
              var y = 0
              while (y < 16) {
                var x = 0
                while (x < 16) { s += g(y)(x) * t(u)(x) * t(vq)(y); x += 1 }
                y += 1
              }
              s
            }
            val ac = (for { u <- 0 until 8; v <- 0 until 8; if u != 0 || v != 0 }
              yield coef(u)(v)).sorted
            val med = ac(31) // 32nd smallest of 63 — the exact median
            var hi = 0L; var lo = 0L
            for { u <- 0 until 8; v <- 0 until 8; p = u * 8 + v; if p > 0 } {
              if (coef(u)(v) > med) {
                if (p < 32) hi |= 1L << p else lo |= 1L << (p - 32)
              }
            }
            ImagePHash(id, hi, lo)
          }
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle for [[imagePHash]]: regenerates the 16×16 grid from the
    * fixture's analytic pixels, joins the SAME frozen Q12 basis twice
    * (rows and columns), and folds the identical median-threshold
    * bits — the full frequency transform replayed in SQL.
    */
  def sqlImagePHash: String = {
    val tvals = (for { u <- 0 until 8; x <- 0 until 16 }
      yield s"($u, $x, ${PhashDct(u)(x)})").mkString(", ")
    s"""WITH p AS (SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
       |           FROM documents WHERE doc_id % 2 = 0),
       |dct(u, x, cv) AS (VALUES $tvals),
       |g AS (SELECT doc_id, xy % 16 AS x, xy // 16 AS y,
       |        (299 * (v >> 16 & 255) + 587 * (v >> 8 & 255) + 114 * (v & 255)) // 1000 AS gray
       |      FROM (SELECT doc_id, xy,
       |              (doc_id * 31 + ((xy % 16) * w // 16) * 7 + ((xy // 16) * h // 16)) % 16777216 AS v
       |            FROM (SELECT doc_id, w, h, unnest(range(256)) AS xy FROM p))),
       |c AS MATERIALIZED (SELECT g.doc_id, tu.u AS u, tv.u AS v,
       |        CAST(SUM(g.gray * tu.cv * tv.cv) AS BIGINT) AS c
       |      FROM g JOIN dct tu ON tu.x = g.x JOIN dct tv ON tv.x = g.y
       |      GROUP BY 1, 2, 3),
       |ac AS (SELECT doc_id, u, v, c FROM c WHERE NOT (u = 0 AND v = 0)),
       |med AS (SELECT doc_id, c AS med FROM (
       |          SELECT doc_id, c, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c) AS rn
       |          FROM ac) WHERE rn = 32),
       |b AS (SELECT ac.doc_id, u * 8 + v AS pos,
       |        CASE WHEN ac.c > med.med THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |      FROM ac JOIN med ON ac.doc_id = med.doc_id)
       |SELECT doc_id,
       |  sum(CASE WHEN pos < 32 THEN bit << pos ELSE 0 END)::BIGINT AS phash_hi,
       |  sum(CASE WHEN pos >= 32 THEN bit << (pos - 32) ELSE 0 END)::BIGINT AS phash_lo
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  final case class LumaBin(doc_id: Long, bin: Int, n: Long)

  /** Exact 16-bin LUMINANCE HISTOGRAM over every pixel of each real
    * decoded PNG — the exposure/contrast profile a vision-data
    * curation pass filters on (a near-black or blown-out image piles
    * its mass into the edge bins; a flat histogram is synthetic
    * noise). Grayscale is the same integer BT.601 weighting as
    * [[imageDHash]]; `bin = gray * 16 / 256` — all-integer, so both
    * engines bin identically. Only non-empty bins are emitted (the
    * oracle's GROUP BY shape). Corrupt/undecodable images emit no
    * rows and so are visible as missing doc_ids downstream.
    *
    * Scale: narrow per-row decode + an O(pixels) loop into 16 local
    * counters; output is ≤16 rows per image and nothing shuffles but
    * the presentation sort.
    */
  def imageLumaHistogram(media: DataFrame, bins: Int = 16): DataFrame = {
    implicit val enc = Encoders.product[LumaBin]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (w, h, px) = decodePngPixels(bytes)
          if (w == 0) Iterator.empty
          else {
            val counts = new Array[Long](bins)
            var k = 0
            val n = w * h
            while (k < n) {
              val v = px(k)
              val g = (299L * ((v >> 16) & 255) + 587L * ((v >> 8) & 255) +
                114L * (v & 255)) / 1000L
              counts((g * bins / 256).toInt) += 1
              k += 1
            }
            (0 until bins).iterator
              .filter(counts(_) > 0)
              .map(b => LumaBin(id, b, counts(b)))
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "bin")
  }

  /** Oracle for [[imageLumaHistogram]]: regenerates every analytic
    * pixel of the fixture images (`px(y*w+x) = (doc_id*31 + x*7 + y)
    * % 2^24`) and folds the identical integer gray/bin arithmetic.
    */
  def sqlImageLumaHistogram(bins: Int = 16): String =
    s"""WITH p AS (SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
       |           FROM documents WHERE doc_id % 2 = 0),
       |g AS (SELECT doc_id, w, unnest(range(w * h)) AS i FROM p),
       |v AS (SELECT doc_id,
       |        (doc_id * 31 + (i % w) * 7 + (i // w)) % 16777216 AS rgb
       |      FROM g),
       |b AS (SELECT doc_id,
       |        ((299 * (rgb >> 16 & 255) + 587 * (rgb >> 8 & 255)
       |          + 114 * (rgb & 255)) // 1000) * $bins // 256 AS bin
       |      FROM v)
       |SELECT doc_id, CAST(bin AS INTEGER) AS bin, COUNT(*)::BIGINT AS n
       |FROM b GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin

  final case class SobelStats(doc_id: Long, edge_energy: Long, n_strong: Long)

  /** Integer SOBEL edge energy over real decoded PNG pixels — the
    * classic sharpness/structure feature a vision-data curation
    * pipeline filters on (blank/flat images score ~0, busy or
    * synthetic-noise images score high). Per interior pixel:
    * BT.601 integer grayscale, the 3×3 Sobel pair, L1 magnitude
    * `|Gx|+|Gy|` (no sqrt — the score stays exact-integer end to
    * end); per image: the energy sum and the count of strong-edge
    * pixels (L1 ≥ `threshold`). One map pass, O(pixels) per row,
    * never shuffles at any corpus size.
    */
  def imageSobel(media: DataFrame, threshold: Int = 128): DataFrame = {
    implicit val enc = Encoders.product[SobelStats]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (w, h, px) = decodePngPixels(bytes)
          if (w < 3 || h < 3) Iterator.empty
          else {
            val g = new Array[Int](w * h)
            var k = 0
            while (k < w * h) {
              val v = px(k)
              g(k) = ((299L * ((v >> 16) & 255) + 587L * ((v >> 8) & 255) +
                114L * (v & 255)) / 1000L).toInt
              k += 1
            }
            var energy = 0L
            var strong = 0L
            var y = 1
            while (y < h - 1) {
              var x = 1
              while (x < w - 1) {
                def at(dx: Int, dy: Int): Int = g((y + dy) * w + (x + dx))
                val gx = (at(1, -1) + 2 * at(1, 0) + at(1, 1)) -
                  (at(-1, -1) + 2 * at(-1, 0) + at(-1, 1))
                val gy = (at(-1, 1) + 2 * at(0, 1) + at(1, 1)) -
                  (at(-1, -1) + 2 * at(0, -1) + at(1, -1))
                val e = math.abs(gx) + math.abs(gy)
                energy += e
                if (e >= threshold) strong += 1
                x += 1
              }
              y += 1
            }
            Iterator.single(SobelStats(id, energy, strong))
          }
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle for [[imageSobel]]: regenerates the analytic fixture
    * pixels closed-form and folds the IDENTICAL integer gray + Sobel
    * + L1 arithmetic — the 8 neighbor grays are inlined as shifted
    * copies of the pixel formula, so the SQL needs no self-join.
    */
  def sqlImageSobel(threshold: Int = 128): String = {
    // gray value of the analytic pixel at (x+dx, y+dy)
    def gAt(dx: Int, dy: Int): String = {
      val rgb = s"((d * 31 + (x + ($dx)) * 7 + (y + ($dy))) % 16777216)"
      s"((299 * (($rgb >> 16) & 255) + 587 * (($rgb >> 8) & 255) + " +
        s"114 * ($rgb & 255)) // 1000)"
    }
    val gx = s"((${gAt(1, -1)} + 2 * ${gAt(1, 0)} + ${gAt(1, 1)}) - " +
      s"(${gAt(-1, -1)} + 2 * ${gAt(-1, 0)} + ${gAt(-1, 1)}))"
    val gy = s"((${gAt(-1, 1)} + 2 * ${gAt(0, 1)} + ${gAt(1, 1)}) - " +
      s"(${gAt(-1, -1)} + 2 * ${gAt(0, -1)} + ${gAt(1, -1)}))"
    s"""WITH p AS (SELECT doc_id AS d, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
       |           FROM documents WHERE doc_id % 2 = 0),
       |g AS (SELECT d, w, h, unnest(range((w - 2) * (h - 2))) AS i FROM p),
       |c AS (SELECT d, 1 + (i % (w - 2)) AS x, 1 + (i // (w - 2)) AS y FROM g),
       |s AS (SELECT d, ABS($gx) + ABS($gy) AS e FROM c)
       |SELECT d AS doc_id, SUM(e)::BIGINT AS edge_energy,
       |  SUM(CASE WHEN e >= $threshold THEN 1 ELSE 0 END)::BIGINT AS n_strong
       |FROM s GROUP BY d ORDER BY doc_id""".stripMargin
  }

  /** Nearest-neighbor RESIZE to a `t`×`t` thumbnail over real decoded
    * PNG pixels — the normalization step every vision-data pipeline
    * runs before feature extraction. Source index = `floor(dst*src/t)`
    * (the standard convention, mirrored exactly in the oracle). One
    * map pass, O(pixels) per row; resizing a 100 TB image corpus
    * never shuffles.
    */
  def imageResize(media: DataFrame, t: Int = 4): DataFrame = {
    implicit val enc = Encoders.product[ResizedImage]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = decodePngPixels(bytes)
          val thumb =
            if (w == 0) Seq.empty[Long]
            else (0 until t).flatMap { y =>
              (0 until t).map { x =>
                px((y * h / t) * w + (x * w / t)).toLong
              }
            }
          ResizedImage(id, thumb)
        }
      }
      .toDF() // unsorted: callers impose their own final ordering
  }

  /** Oracle for the EXPLODED registration shape of [[imageResize]]
    * (one `(doc_id, i, rgb)` row per grid cell), regenerating the
    * nearest-neighbor sample grid from the fixture's analytic pixels:
    * the list-valued shape crashes the pandas-based harness sort, and
    * scalar rows hash identically across engines.
    */
  def sqlImageResizeRows(t: Int = 4): String =
    s"""WITH p AS (SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
       |           FROM documents WHERE doc_id % 2 = 0),
       |g AS (SELECT doc_id, w, h, unnest(range(0, ${t * t})) AS i FROM p)
       |SELECT doc_id, CAST(i AS INTEGER) AS i,
       |  CAST((doc_id * 31 + ((i % $t) * w // $t) * 7 + ((i // $t) * h // $t)) % 16777216 AS BIGINT) AS rgb
       |FROM g ORDER BY doc_id, i""".stripMargin

  /** Perceptual image DEDUP groups: cluster the corpus by exact
    * [[imageDHash]] equality and report every group holding more
    * than one image, with its canonical (smallest doc_id) survivor —
    * the grouping pass an image pipeline runs instead of pairwise
    * joins: dHash equality is the near-identical predicate, and
    * grouping on it is ONE shuffle of 16-byte keys where a Hamming
    * pair join over a near-uniform corpus would be quadratic in the
    * largest perceptual cluster. Output is bounded by the number of
    * DISTINCT hashes, not images.
    */
  def imageDedupGroups(media: DataFrame): DataFrame =
    imageDHash(media)
      .groupBy("dhash_hi", "dhash_lo")
      .agg(count(lit(1)).as("n_images"), min("doc_id").as("canonical"))
      .filter(col("n_images") >= 2)
      .orderBy("dhash_hi", "dhash_lo")

  /** Oracle for [[imageDedupGroups]] (the [[sqlImageDHash]] grid,
    * grouped).
    */
  def sqlImageDedupGroups: String =
    s"""WITH d AS (${sqlImageDHash.replace("ORDER BY doc_id", "")})
       |SELECT dhash_hi, dhash_lo, count(*)::BIGINT AS n_images,
       |  min(doc_id) AS canonical
       |FROM d GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY dhash_hi, dhash_lo""".stripMargin

  /** media(doc_id, img) -> [[ImageStats]] rows via
    * [[decodePngStats]]; non-PNG rows (the JPEG half of the fixture)
    * are filtered out upstream by the caller. Narrow per-partition
    * decode, no shuffle.
    */
  /** [[ImageStats]] rows for the JPEG half of the corpus via the
    * full baseline decoder ([[graft.operators.Jpeg.decodePixels]]:
    * huffman + dequant + libjpeg-exact IDCT + fancy upsample +
    * fixed-point color convert). Same narrow mapPartitions shape as
    * the PNG path; non-JPEG/corrupt rows degrade to zeros.
    * MultimodalSpec proves the decode BIT-EXACT against
    * `javax.imageio.ImageIO.read` on the fixture encoder's output —
    * the strongest reference a lossy format admits — while the
    * registered query's oracle bounds the decoded channel sums
    * against the analytic pre-encode pixels.
    */
  def jpegStats(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ImageStats]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = Jpeg.decodePixels(bytes)
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            sr += (p >> 16) & 255; sg += (p >> 8) & 255; sb += p & 255
            i += 1
          }
          ImageStats(id, w, h, sr, sg, sb)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  def imageStats(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ImageStats]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("img"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, r, g, b) = decodePngStats(bytes)
          ImageStats(id, w, h, r, g, b)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle for [[imageStats]] over the PNG half of the image
    * fixture: pixel (x,y) is `(doc_id*31 + x*7 + y) & 0xffffff` by
    * construction, so the oracle regenerates every pixel and sums
    * the same channels the Spark side reconstructs from the real
    * zlib-compressed, filtered scanlines.
    */
  def sqlImageStats: String =
    """WITH p AS (SELECT doc_id, 16 + doc_id % 32 AS w, 8 + doc_id % 16 AS h
      |           FROM documents WHERE doc_id % 2 = 0),
      |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
      |ys AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
      |px AS (SELECT doc_id, w, h, (doc_id * 31 + x * 7 + y) % 16777216 AS rgb FROM ys)
      |SELECT doc_id, CAST(MAX(w) AS INTEGER) AS width, CAST(MAX(h) AS INTEGER) AS height,
      |  CAST(SUM(rgb // 65536) AS BIGINT) AS sum_r,
      |  CAST(SUM((rgb // 256) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM(rgb % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Windowed signal energy over a WAV's 16-bit PCM payload: total
    * sum of squared samples plus the maximum energy over
    * non-overlapping `window`-sample frames — the standard
    * loudness/energy feature an audio curation pipeline computes
    * before filtering (silence/clipping detection). One STREAMING
    * pass over the bytes, O(1) memory per file — no samples array is
    * ever materialized, which is what keeps a 100 TB audio corpus
    * map-only. Integer arithmetic throughout (16-bit samples square
    * into ≤2^30; a Long survives 2^33 of them), so results are exact
    * and oracle-comparable. Corrupt bytes degrade to zeros.
    */
  def decodeWavEnergy(bytes: Array[Byte], window: Int): (Int, Long, Long) = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int, s: String) = bytes.length >= i + 4 &&
      bytes(i) == s(0).toByte && bytes(i + 1) == s(1).toByte &&
      bytes(i + 2) == s(2).toByte && bytes(i + 3) == s(3).toByte
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return (0, 0L, 0L)
    var i = 12
    var bits = 0; var dataOff = -1; var dataLen = 0
    var walking = true
    while (walking && i + 8 <= bytes.length) {
      val sz = le32(i + 4).toLong & 0xffffffffL
      if (tag(i, "fmt ") && i + 24 <= bytes.length) bits = le16(i + 22)
      else if (tag(i, "data")) {
        dataOff = i + 8; dataLen = math.min(sz, (bytes.length - dataOff).toLong).toInt
      }
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) walking = false else i = next.toInt
    }
    if (bits != 16 || dataOff < 0) return (0, 0L, 0L)
    var j = dataOff
    var n = 0
    var total = 0L; var winAcc = 0L; var maxWin = 0L
    var inWin = 0
    while (j + 1 < dataOff + dataLen) {
      val v = (le16(j) << 16) >> 16 // sign-extend
      val sq = v.toLong * v
      total += sq; winAcc += sq; inWin += 1; n += 1
      if (inWin == window) {
        if (winAcc > maxWin) maxWin = winAcc
        winAcc = 0L; inWin = 0
      }
      j += 2
    }
    if (inWin > 0 && winAcc > maxWin) maxWin = winAcc
    (n, total, maxWin)
  }

  final case class AudioAutocorr(doc_id: Long, n_samples: Int,
      ac1: Long, ac2: Long, ac3: Long, ac4: Long)

  /** Integer AUTOCORRELATION of the PCM series at lags 1..4 — the
    * periodicity feature an audio-curation pass reads to separate
    * tonal/voiced content from noise (strong short-lag autocorrelation
    * = periodic signal) without any floating-point transform: raw
    * `Σ s[i]·s[i+lag]` sums over the sign-extended 16-bit samples,
    * exact BIGINT in both engines. Same RIFF chunk walk as
    * [[decodeWavEnergy]]; corrupt/non-16-bit inputs degrade to a
    * zero row. Narrow per-row kernel — a 100 TB audio corpus never
    * shuffles samples.
    */
  def audioAutocorr(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[AudioAutocorr]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("wav"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val s = decodeWavSamples(bytes)
          val ac = new Array[Long](4)
          var lag = 1
          while (lag <= 4) {
            var i = 0; var acc = 0L
            while (i + lag < s.length) { acc += s(i).toLong * s(i + lag); i += 1 }
            ac(lag - 1) = acc
            lag += 1
          }
          AudioAutocorr(id, s.length, ac(0), ac(1), ac(2), ac(3))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  final case class AudioSilence(doc_id: Long, n_samples: Int,
      n_silent: Int, max_silent_run: Int)

  /** Silence profile per clip: how many samples sit below `threshold`
    * in absolute value, and the LONGEST consecutive silent run — the
    * trim/filter signal an audio curation pipeline reads before
    * spending feature extraction on dead air (a clip that is mostly
    * one long silent run is padding, not speech). Narrow
    * per-partition decode + one imperative pass per clip, no shuffle;
    * run state is two ints, so a 100 TB audio corpus stays map-only.
    */
  def audioSilence(media: DataFrame, threshold: Int = 100): DataFrame = {
    implicit val enc = Encoders.product[AudioSilence]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("wav"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val s = decodeWavSamples(bytes)
          var i = 0; var nSil = 0; var run = 0; var maxRun = 0
          while (i < s.length) {
            if (math.abs(s(i)) < threshold) {
              nSil += 1; run += 1
              if (run > maxRun) maxRun = run
            } else run = 0
            i += 1
          }
          AudioSilence(id, s.length, nSil, maxRun)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle for [[audioSilence]]: regenerates the fixture's sample
    * series and finds the same runs by gaps-and-islands (silent rows
    * grouped by `i - row_number()` — consecutive indices share a
    * group).
    */
  def sqlAudioSilence(threshold: Int = 100): String =
    s"""WITH p AS (SELECT doc_id,
       |   (100 + doc_id % 50) * (1 + doc_id % 2) AS n,
       |   1000 + doc_id % 29000 AS peak FROM documents),
       |s AS (SELECT doc_id, n,
       |   CASE WHEN i = 0 THEN peak ELSE (i * 131 + doc_id) % 997 END AS v,
       |   i FROM (SELECT doc_id, n, peak, unnest(range(0, n)) AS i FROM p)),
       |sil AS (SELECT doc_id, i,
       |   i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |   FROM s WHERE abs(v) < $threshold),
       |runs AS (SELECT doc_id, COUNT(*) AS run FROM sil GROUP BY doc_id, grp),
       |agg AS (SELECT doc_id, SUM(run) AS n_silent, MAX(run) AS max_run
       |        FROM runs GROUP BY doc_id)
       |SELECT p.doc_id, CAST(p.n AS INTEGER) AS n_samples,
       |  CAST(COALESCE(a.n_silent, 0) AS INTEGER) AS n_silent,
       |  CAST(COALESCE(a.max_run, 0) AS INTEGER) AS max_silent_run
       |FROM p LEFT JOIN agg a ON a.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  /** Scene-cut detection over decoded video frames: consecutive-frame
    * L1 distance between per-channel pixel sums ([[gifPixelStats]]'s
    * exact integers), a cut wherever the delta exceeds `threshold` —
    * the shot-segmentation signal a video sampling pipeline uses to
    * pick one frame per scene instead of one per stride. Per video:
    * frame count, cut count, and the largest delta.
    *
    * Scale shape: the decode is the narrow per-partition GIF walk;
    * the lag sits in a doc_id-PARTITIONED window over the per-frame
    * aggregate (frames per video rows, not pixels), then one keyed
    * aggregate — nothing unpartitioned, nothing driver-side.
    */
  def videoSceneCuts(media: DataFrame, threshold: Long = 1800L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame")
    gifFrameStats(media)
      .select(col("doc_id"), col("frame"), col("sum_r"), col("sum_g"), col("sum_b"))
      .withColumn("delta",
        abs(col("sum_r") - lag("sum_r", 1).over(w)) +
          abs(col("sum_g") - lag("sum_g", 1).over(w)) +
          abs(col("sum_b") - lag("sum_b", 1).over(w)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("delta") > threshold, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(max(col("delta")), lit(0L)).as("max_delta"))
      .orderBy("doc_id")
  }

  /** Oracle for [[videoSceneCuts]]: the fixture GIF's frame pixels
    * are `(doc_id*31 + frame*13 + x*7 + y) % 16777216` by
    * construction (the m8 fidelity query proves the decoder
    * reproduces them bit-exactly), so the oracle regenerates the
    * per-frame channel sums and replays the same lag-delta window.
    */
  def sqlVideoSceneCuts(threshold: Long = 1800L): String =
    s"""WITH p AS (SELECT doc_id, 10 + doc_id % 8 AS w, 8 + doc_id % 4 AS h,
       |   2 + doc_id % 6 AS nf FROM documents),
       |f AS (SELECT doc_id, unnest(range(0, nf)) AS frame, w, h FROM p),
       |px AS (SELECT doc_id, frame,
       |   (doc_id * 31 + frame * 13 + x * 7 + y) % 16777216 AS rgb
       |   FROM (SELECT doc_id, frame, w, h, unnest(range(0, w)) AS x FROM f) t,
       |   LATERAL (SELECT unnest(range(0, h)) AS y) u),
       |s AS (SELECT doc_id, frame, SUM(rgb // 65536) AS sr,
       |   SUM((rgb // 256) % 256) AS sg, SUM(rgb % 256) AS sb
       |   FROM px GROUP BY 1, 2),
       |d AS (SELECT doc_id, frame,
       |   abs(sr - lag(sr) OVER w) + abs(sg - lag(sg) OVER w)
       |     + abs(sb - lag(sb) OVER w) AS delta
       |   FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY frame))
       |SELECT doc_id, COUNT(*) AS n_frames,
       |  CAST(SUM(CASE WHEN delta > $threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |  CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_delta
       |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The PCM sample series of a 16-bit RIFF/WAVE file (sign-extended;
    * empty for corrupt or non-16-bit input) — the chunk walk of
    * [[decodeWavEnergy]], materializing samples instead of folding.
    */
  private[graft] def decodeWavSamples(bytes: Array[Byte]): Array[Int] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int, s: String) = bytes.length >= i + 4 &&
      bytes(i) == s(0).toByte && bytes(i + 1) == s(1).toByte &&
      bytes(i + 2) == s(2).toByte && bytes(i + 3) == s(3).toByte
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return Array.empty
    var i = 12
    var bits = 0; var dataOff = -1; var dataLen = 0
    var walking = true
    while (walking && i + 8 <= bytes.length) {
      val sz = le32(i + 4).toLong & 0xffffffffL
      if (tag(i, "fmt ") && i + 24 <= bytes.length) bits = le16(i + 22)
      else if (tag(i, "data")) {
        dataOff = i + 8; dataLen = math.min(sz, (bytes.length - dataOff).toLong).toInt
      }
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) walking = false else i = next.toInt
    }
    if (bits != 16 || dataOff < 0) return Array.empty
    val n = dataLen / 2
    val out = new Array[Int](n)
    var j = 0
    while (j < n) { out(j) = (le16(dataOff + 2 * j) << 16) >> 16; j += 1 }
    out
  }

  /** Oracle for [[audioAutocorr]]: regenerates the fixture's sample
    * series and sums the same integer lag products.
    */
  def sqlAudioAutocorr: String =
    s"""WITH p AS (SELECT doc_id,
       |   (100 + doc_id % 50) * (1 + doc_id % 2) AS n,
       |   1000 + doc_id % 29000 AS peak FROM documents),
       |s AS (SELECT doc_id, n,
       |   CASE WHEN i = 0 THEN peak ELSE (i * 131 + doc_id) % 997 END AS v,
       |   i FROM (SELECT doc_id, n, peak, unnest(range(0, n)) AS i FROM p)),
       |a AS (SELECT x.doc_id, l.lag,
       |   CAST(SUM(x.v * y.v) AS BIGINT) AS ac
       |   FROM s x
       |   CROSS JOIN (SELECT unnest(range(1, 5)) AS lag) l
       |   JOIN s y ON y.doc_id = x.doc_id AND y.i = x.i + l.lag
       |   GROUP BY 1, 2)
       |SELECT p.doc_id, CAST(p.n AS INTEGER) AS n_samples,
       |  CAST(coalesce(MAX(CASE WHEN lag = 1 THEN ac END), 0) AS BIGINT) AS ac1,
       |  CAST(coalesce(MAX(CASE WHEN lag = 2 THEN ac END), 0) AS BIGINT) AS ac2,
       |  CAST(coalesce(MAX(CASE WHEN lag = 3 THEN ac END), 0) AS BIGINT) AS ac3,
       |  CAST(coalesce(MAX(CASE WHEN lag = 4 THEN ac END), 0) AS BIGINT) AS ac4
       |FROM p LEFT JOIN a ON a.doc_id = p.doc_id
       |GROUP BY p.doc_id, p.n ORDER BY p.doc_id""".stripMargin

  /** media(doc_id, wav) -> [[AudioEnergy]] rows via
    * [[decodeWavEnergy]]. Narrow per-partition decode, no shuffle.
    */
  def audioEnergy(media: DataFrame, window: Int = 50): DataFrame = {
    implicit val enc = Encoders.product[AudioEnergy]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("wav"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (n, total, maxWin) = decodeWavEnergy(bytes, window)
          AudioEnergy(id, n, total, maxWin)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle for [[audioEnergy]] over the WAV fixture: the sample
    * series is `peak, (i*131 + doc_id) % 997, ...` by construction,
    * so the oracle regenerates it and aggregates the same integer
    * squares the Spark side computes from the real PCM bytes.
    */
  def sqlAudioEnergy(window: Int = 50): String =
    s"""WITH p AS (SELECT doc_id,
       |   (100 + doc_id % 50) * (1 + doc_id % 2) AS n,
       |   1000 + doc_id % 29000 AS peak FROM documents),
       |s AS (SELECT doc_id, n, peak, unnest(range(0, n)) AS i FROM p),
       |v AS (SELECT doc_id, n, i // $window AS win,
       |   CASE WHEN i = 0 THEN peak ELSE (i * 131 + doc_id) % 997 END AS v FROM s),
       |w AS (SELECT doc_id, n, win, SUM(v * v) AS we FROM v GROUP BY 1, 2, 3)
       |SELECT doc_id, CAST(MAX(n) AS INTEGER) AS n_samples,
       |  CAST(SUM(we) AS BIGINT) AS energy, CAST(MAX(we) AS BIGINT) AS max_win_energy
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Parse a RIFF/WAVE file's chunk list: `fmt ` yields channels /
    * sample rate / bits per sample, `data` yields the payload extent;
    * duration = frames * 1000 / rate with frames = dataLen/blockAlign,
    * and peak = the maximum absolute 16-bit little-endian sample.
    * Corrupt bytes degrade to zeros, never throw.
    */
  def decodeWavHeader(bytes: Array[Byte]): (Int, Int, Long, Int) = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int, s: String) = bytes.length >= i + 4 &&
      bytes(i) == s(0).toByte && bytes(i + 1) == s(1).toByte &&
      bytes(i + 2) == s(2).toByte && bytes(i + 3) == s(3).toByte
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return (0, 0, 0L, 0)
    var i = 12
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    var walking = true
    while (walking && i + 8 <= bytes.length) {
      // RIFF sizes are unsigned 32-bit; widen before any arithmetic so
      // a corrupt/huge size can neither wrap the cursor backwards
      // (infinite loop) nor overflow it past the array (AIOOBE) — the
      // walk just stops, honoring the degrade-don't-throw contract
      val sz = le32(i + 4).toLong & 0xffffffffL
      if (tag(i, "fmt ") && i + 24 <= bytes.length) {
        channels = le16(i + 10); rate = le32(i + 12); bits = le16(i + 22)
      } else if (tag(i, "data")) {
        dataOff = i + 8; dataLen = math.min(sz, (bytes.length - dataOff).toLong).toInt
      }
      val next = i.toLong + 8L + sz + (sz & 1L) // chunks are word-aligned
      if (next <= i || next > Int.MaxValue) walking = false else i = next.toInt
    }
    if (rate <= 0 || channels <= 0 || bits != 16 || dataOff < 0) return (0, 0, 0L, 0)
    val blockAlign = channels * 2
    val frames = dataLen / blockAlign
    val durationMs = frames.toLong * 1000L / rate
    var peak = 0
    var j = dataOff
    while (j + 1 < dataOff + dataLen) {
      val v = (le16(j) << 16) >> 16 // sign-extend
      val a = math.abs(v)
      if (a > peak) peak = a
      j += 2
    }
    (rate, channels, durationMs, peak)
  }

  /** media(doc_id, wav: binary) -> audio metadata from a REAL RIFF
    * chunk parse ([[decodeWavHeader]]). Narrow per-partition decode,
    * no shuffle.
    */
  def audioMeta(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[AudioMeta]
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    media.select(col("doc_id"), col("wav"))
      .as[(Long, Array[Byte])](tupleEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (rate, ch, dur, peak) = decodeWavHeader(bytes)
          AudioMeta(id, rate, ch, dur, peak)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle for [[audioMeta]] over the WAV fixture
    * (TestFixtures.mediaAudio): every parameter was derived from
    * doc_id at generation time, so the oracle recomputes them while
    * the Spark side must parse the actual RIFF chunks.
    */
  def sqlAudioMeta: String =
    """SELECT doc_id,
      |  CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
      |  CAST((100 + doc_id % 50) * 1000 // (8000 + (doc_id % 4) * 4000) AS BIGINT) AS duration_ms,
      |  CAST(1000 + doc_id % 29000 AS INTEGER) AS peak
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Oracle for [[frameSample]] over the GIF fixture
    * (TestFixtures.mediaVideo): frame count and screen dimensions
    * derive from doc_id; stride is 2.
    */
  def sqlFrameSample: String =
    """SELECT doc_id,
      |  CAST(10 + doc_id % 8 AS INTEGER) AS width,
      |  CAST(8 + doc_id % 4 AS INTEGER) AS height,
      |  CAST(2 + doc_id % 6 AS INTEGER) AS n_frames,
      |  CAST((2 + doc_id % 6 + 1) // 2 AS INTEGER) AS n_sampled
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Oracle for [[imageMeta]] over the media fixture
    * (TestFixtures.mediaImages): image dimensions were DERIVED from
    * doc_id at generation time (w = 16+id%32, h = 8+id%16, png for
    * even ids / jpeg for odd), so the oracle recomputes them from
    * doc_id alone — the Spark side must recover the same numbers by
    * actually parsing the PNG/JPEG bytes.
    */
  def sqlImageMeta: String =
    """SELECT doc_id,
      |  CAST(16 + doc_id % 32 AS INTEGER) AS width,
      |  CAST(8 + doc_id % 16 AS INTEGER) AS height,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin
}
