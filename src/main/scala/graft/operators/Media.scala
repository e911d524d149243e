package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads ride as opaque `binary`
  * columns with typed metadata, processed partition-wise so decode
  * libraries initialize once per partition (the Scala analogue of a
  * batched Pandas UDF: amortized setup, streaming iterator, no
  * per-row JNI/process churn).
  *
  * The decode kernels themselves are STUBS — this container ships no
  * image/audio codecs — but they sit behind an injectable seam: pass a
  * custom [[Media.ImageDecoder]] / [[Media.FrameSampler]] (e.g.
  * javacv/ffmpeg-backed) to [[Media.imageMeta]] / [[Media.frameSamples]]
  * and everything around the kernel — schema, encoders, partition
  * batching, pushdown-friendly projections — is unchanged. The default
  * stubs are deterministic (derived from the payload bytes) so plumbing
  * tests and DuckDB oracles are stable. Decoder functions must be
  * serializable (plain lambdas/objects; no captured JNI handles —
  * initialize native state lazily inside the function, it runs once per
  * executor classload).
  */
object Media {

  case class MediaItem(id: Long, kind: String, payload: Array[Byte])

  case class ImageMeta(id: Long, width: Int, height: Int, channels: Int, n_bytes: Long)

  case class FrameSample(id: Long, frame_no: Int, frame_hash: Long)

  /** Decoder seam: payload bytes → (width, height, channels). */
  type ImageDecoder = Array[Byte] => (Int, Int, Int)

  /** Sampler seam: (payload bytes, frames wanted) → (frame_no, frame
    * perceptual hash) pairs. */
  type FrameSampler = (Array[Byte], Int) => Seq[(Int, Long)]

  /** STUB decoder (the default [[ImageDecoder]]): deterministic fake
    * dimensions from the payload. A real implementation parses the
    * container header. */
  val stubImageDecoder: ImageDecoder = payload => {
    val h = java.util.Arrays.hashCode(payload)
    (64 + math.abs(h % 1024), 64 + math.abs((h / 1024) % 1024), 3)
  }

  /** STUB frame sampler (the default [[FrameSampler]]): emits `n`
    * deterministic pseudo-frame hashes. A real implementation seeks
    * keyframes and perceptual-hashes them. The fake is a modular rolling
    * hash (seed 7, base 31, mod 1e9+7) — overflow-free, so the
    * correctness oracle can replay it in SQL. */
  val FrameHashMod = 1000000007L
  val stubFrameSampler: FrameSampler = (payload, n) => {
    var acc = 7L
    payload.foreach(b => acc = (acc * 31 + (b & 0xff)) % FrameHashMod)
    val h = acc
    (0 until n).map(i => (i, h * (i + 1) % FrameHashMod))
  }

  /** REAL header decoder for the four ubiquitous raster formats —
    * dimensions and channel count parsed straight from the container
    * bytes, no codec library:
    *
    *  - PNG:  IHDR width/height (big-endian u32 at offsets 16/20),
    *    channels from the color type byte;
    *  - GIF:  logical screen width/height (little-endian u16 at 6/8);
    *  - BMP:  BITMAPINFOHEADER width/height (little-endian i32 at
    *    18/22, height may be negative for top-down rows), channels
    *    from bits-per-pixel;
    *  - JPEG: marker walk to the first SOF frame header (height/width
    *    big-endian u16, component count byte).
    *
    * Throws `IllegalArgumentException` on unrecognized payloads — real
    * decoder semantics; compose with a fallback in the caller if
    * tolerance is wanted. Full pixel decode still needs a codec
    * ([[stubImageDecoder]] remains the oracle-stable default). */
  val headerImageDecoder: ImageDecoder = p => {
    def u8(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (p.length >= 26 && be32(0) == 0x89504e47 && be32(4) == 0x0d0a1a0a) {
      val channels = u8(25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case ct => throw new IllegalArgumentException(s"PNG: unknown color type $ct")
      }
      (be32(16), be32(20), channels)
    } else if (p.length >= 10 && p.startsWith("GIF87a".getBytes("US-ASCII")) ||
        p.length >= 10 && p.startsWith("GIF89a".getBytes("US-ASCII"))) {
      // channels=3 is a color-model heuristic: palette entries are RGB;
      // GIF89a per-frame transparency (effective RGBA) is not visible in
      // the logical screen descriptor parsed here
      (le16(6), le16(8), 3)
    } else if (p.length >= 30 && u8(0) == 'B' && u8(1) == 'M') {
      // bpp → color channels, not bytes-per-pixel: 16 bpp is packed RGB
      // (RGB555/565 = 3 channels), 32 bpp carries an alpha byte
      val channels = le16(28) match {
        case 1 | 2 | 4 | 8 => 1 // palette indices (2 = Windows CE 4-color)
        case 16 | 24       => 3
        case 32            => 4
        case 0             => 3 // BI_JPEG/BI_PNG embedded stream; color assumed
        case bpp => throw new IllegalArgumentException(s"BMP: unsupported bit depth $bpp")
      }
      (le32(18), math.abs(le32(22)), channels)
    } else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // walk FF-marker segments to the first start-of-frame
      var i = 2
      var sof: Option[(Int, Int, Int)] = None
      while (sof.isEmpty && i + 9 < p.length) {
        if (u8(i) != 0xff) throw new IllegalArgumentException(
          f"JPEG: expected marker at $i, got 0x${u8(i)}%02x")
        val marker = u8(i + 1)
        if (marker == 0xff) i += 1 // fill byte (B.1.1.2): any run of 0xff may pad a marker
        else if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          sof = Some((be16(i + 7), be16(i + 5), u8(i + 9)))
        else i += 2 + (if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) 0
                       else be16(i + 2))
      }
      sof.getOrElse(throw new IllegalArgumentException("JPEG: no SOF marker before end of payload"))
    } else throw new IllegalArgumentException("unrecognized image container")
  }

  /** Image metadata extraction, partition-batched. Swap `decode` for a
    * real codec without touching the operator. */
  def imageMeta(items: Dataset[MediaItem], decode: ImageDecoder = stubImageDecoder): Dataset[ImageMeta] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-partition decoder init would go here (once, not per row)
      it.map { m =>
        val (w, h, c) = decode(m.payload)
        ImageMeta(m.id, w, h, c, m.payload.length.toLong)
      }
    }
  }

  /** Keyframe sampling → flat (id, frame_no, frame_hash) relation,
    * ready for the PDQ similarity join. Swap `sample` for a real
    * keyframe extractor without touching the operator. */
  def frameSamples(items: Dataset[MediaItem], framesPerItem: Int,
      sample: FrameSampler = stubFrameSampler): Dataset[FrameSample] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.flatMap { m =>
        sample(m.payload, framesPerItem).map { case (no, fh) =>
          FrameSample(m.id, no, fh)
        }
      }
    }
  }

  // ---- real pixel decode (no codec library: container parsing + the
  // JDK's zlib) ---------------------------------------------------------

  /** Full-decode seam: payload bytes → (width, height, packed 0xRRGGBB
    * pixels, row-major). The real counterpart of [[ImageDecoder]] for
    * operators that need pixels, not just dimensions ([[pdqHashes]]). */
  type PixelDecoder = Array[Byte] => (Int, Int, Array[Int])

  /** REAL BMP pixel decoder: uncompressed 24-bpp BITMAPINFOHEADER
    * payloads — BGR byte order, 4-byte-aligned rows, bottom-up when
    * height is positive (top-down when negative). Throws
    * `IllegalArgumentException` on anything else. */
  val bmpPixelDecoder: PixelDecoder = p => {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(p.length >= 54 && u8(0) == 'B' && u8(1) == 'M', "not a BMP payload")
    require(le16(28) == 24, s"BMP: only 24-bpp supported, got ${le16(28)}")
    require(le32(30) == 0, s"BMP: only BI_RGB (uncompressed) supported, got ${le32(30)}")
    val w = le32(18)
    val rawH = le32(22)
    val h = math.abs(rawH)
    val off = le32(10)
    val rowBytes = (3 * w + 3) & ~3
    require(p.length >= off + rowBytes * h, "BMP: payload truncated")
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      // positive height = bottom-up storage: last stored row is y=0
      val srcRow = if (rawH > 0) h - 1 - y else y
      var x = 0
      while (x < w) {
        val i = off + srcRow * rowBytes + 3 * x
        out(y * w + x) = (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** 24-bpp BMP encoder — the synthesis half of the BMP round-trip
    * (gate queries build payloads with it so [[bmpPixelDecoder]] runs
    * against real container bytes). */
  def encodeBmp24(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h, s"expected ${w * h} pixels, got ${rgb.length}")
    val rowBytes = (3 * w + 3) & ~3
    val size = 54 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    while (y < h) {
      val srcY = h - 1 - y // bottom-up
      var x = 0
      while (x < w) {
        val v = rgb(srcY * w + x)
        b.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte).put(((v >> 16) & 0xff).toByte)
        x += 1
      }
      var pad = rowBytes - 3 * w
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y += 1
    }
    b.array()
  }

  /** Magic-byte dispatch over the real pixel decoders — BMP, PNG, GIF
    * (first frame), baseline JPEG. The archive-ingest entry point: one
    * binary column of MIXED payloads hashes without the caller routing
    * formats, and an unrecognized container fails loudly (or
    * quarantines through `keepUndecodable`, like any decode error). */
  val autoPixelDecoder: PixelDecoder = p => {
    def u8(i: Int): Int = p(i) & 0xff
    require(p.length >= 8, "payload too short for any known container")
    if (u8(0) == 'B' && u8(1) == 'M') bmpPixelDecoder(p)
    else if (u8(0) == 0x89 && u8(1) == 'P') pngPixelDecoder(p)
    else if (u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F') {
      val frames = gifFrames(p)
      require(frames.nonEmpty, "GIF: no frames")
      frames.head
    } else if (u8(0) == 0xff && u8(1) == 0xd8) Jpeg.decode(p)
    else if ((u8(0) == 'I' && u8(1) == 'I' && u8(2) == 42 && u8(3) == 0) ||
      (u8(0) == 'M' && u8(1) == 'M' && u8(2) == 0 && u8(3) == 42)) tiffPixelDecoder(p)
    else if (p.length >= 12 && u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
      u8(8) == 'W' && u8(9) == 'E' && u8(10) == 'B' && u8(11) == 'P') Webp.webpPixelDecoder(p)
    else if (graft.sources.Heif.isHeif(p)) {
      val d = graft.sources.Heif.decodePrimary(p)
      (d.width, d.height, d.rgb.map(_ & 0xffffff))
    }
    else throw new IllegalArgumentException("unrecognized image container")
  }

  /** TIFF-flavor LZW decode (spec §13): MSB-first bit packing, codes
    * 256 = Clear / 257 = EOI, 9→12-bit widths with the EARLY-CHANGE
    * convention (width grows when the NEXT entry would be 2^width − 1,
    * one code before GIF would). Returns exactly `need` bytes. */
  private[graft] def tiffLzwDecode(p: Array[Byte], off: Int, cnt: Int, need: Int): Array[Byte] = {
    val out = new Array[Byte](need)
    var at = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258; var width = 9; var prev = -1
    var bitBuf = 0L; var bitCnt = 0; var i = off
    def emit(code: Int): Byte = { // writes table[code], returns its first byte
      var c = code; var sp = 0
      while (c >= 256) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      val first = c.toByte
      if (at < need) { out(at) = first; at += 1 }
      while (sp > 0) { sp -= 1; if (at < need) { out(at) = stack(sp); at += 1 } }
      first
    }
    var done = false
    while (!done && at < need) {
      while (bitCnt < width && i < off + cnt) { bitBuf = (bitBuf << 8) | (p(i) & 0xff); bitCnt += 8; i += 1 }
      if (bitCnt < width) done = true
      else {
        val code = ((bitBuf >>> (bitCnt - width)) & ((1 << width) - 1)).toInt
        bitCnt -= width
        if (code == 257) done = true
        else if (code == 256) { next = 258; width = 9; prev = -1 }
        else {
          require(code < 4096 && code <= next, s"TIFF LZW: code $code before table entry $next")
          if (prev < 0) emit(code)
          else {
            val first =
              if (code < next) emit(code)
              else { // code == next: prev-string + its first byte
                var c = prev
                while (c >= 256) c = prefix(c)
                prefix(next) = prev; suffix(next) = c.toByte
                emit(code)
              }
            if (code < next && next < 4096) { prefix(next) = prev; suffix(next) = first }
            if (next < 4096) next += 1
          }
          prev = code
          if (next == (1 << width) - 1 && width < 12) width += 1 // early change
        }
      }
    }
    require(at >= need, s"TIFF LZW: short stream ($at of $need bytes)")
    out
  }

  /** REAL TIFF pixel decoder — the archival scan format, pure JVM: IFD
    * walk in either byte order (II/MM); photometrics 0/1 (gray, incl.
    * WhiteIsZero), 2 (RGB, extra samples dropped), 3 (palette via
    * ColorMap's 16-bit planes, high byte kept); bit depths 8 and 16
    * (high byte, file byte order) and 4 for palette indices (high
    * nibble first, byte-aligned rows); STRIP or TILE layout (tiles are
    * grid-padded, edge tiles clipped); compressions 1 (none), 32773
    * (PackBits) and 5 (LZW, §13 early-change) with horizontal
    * predictor 2 on 8-bit samples; CCITT G3/G4/RLE bilevel via
    * [[CcittFax]] (T4Options 2D, FillOrder 2). Throws loudly on
    * anything else (JPEG-in-TIFF, planar configuration 2). */
  val tiffPixelDecoder: PixelDecoder = p => {
    require(p.length >= 8, "not a TIFF payload")
    val le = (p(0) & 0xff) == 'I' && (p(1) & 0xff) == 'I'
    val be = (p(0) & 0xff) == 'M' && (p(1) & 0xff) == 'M'
    require(le || be, "not a TIFF payload")
    def u8(i: Int): Int = p(i) & 0xff
    def u16(i: Int): Int = if (le) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      if (le) (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3).toLong << 24))
      else ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3))
    require(u16(2) == 42, "TIFF: bad magic")
    val ifd = u32(4).toInt
    val n = u16(ifd)
    var w = 0; var h = 0; var photometric = -1; var compression = 1
    var samplesPerPixel = 1; var rowsPerStrip = Int.MaxValue
    var bitDepth = 8; var predictor = 1; var planar = 1
    var tileW = 0; var tileH = 0
    var fillOrder = 1; var t4Options = 0
    var stripOffsets: Array[Int] = null
    var stripCounts: Array[Int] = null
    var tileOffsets: Array[Int] = null
    var tileCounts: Array[Int] = null
    var colorMap: Array[Int] = null
    def values(entry: Int): Array[Int] = { // SHORT(3) or LONG(4) arrays
      val typ = u16(entry + 2); val cnt = u32(entry + 4).toInt
      val size = if (typ == 3) 2 else 4
      val at = if (cnt * size <= 4) entry + 8 else u32(entry + 8).toInt
      Array.tabulate(cnt)(i => if (typ == 3) u16(at + 2 * i) else u32(at + 4 * i).toInt)
    }
    var e = ifd + 2
    var k = 0
    while (k < n) {
      val tag = u16(e)
      tag match {
        case 256 => w = values(e)(0)
        case 257 => h = values(e)(0)
        case 258 =>
          val bs = values(e)
          require(bs.forall(_ == bs(0)), s"TIFF: mixed bits per sample ${bs.mkString(",")}")
          bitDepth = bs(0)
        case 259 => compression = values(e)(0)
        case 262 => photometric = values(e)(0)
        case 273 => stripOffsets = values(e)
        case 277 => samplesPerPixel = values(e)(0)
        case 278 => rowsPerStrip = values(e)(0)
        case 279 => stripCounts = values(e)
        case 284 => planar = values(e)(0)
        case 317 => predictor = values(e)(0)
        case 266 => fillOrder = values(e)(0)
        case 292 => t4Options = values(e)(0)
        case 320 => colorMap = values(e)
        case 322 => tileW = values(e)(0)
        case 323 => tileH = values(e)(0)
        case 324 => tileOffsets = values(e)
        case 325 => tileCounts = values(e)
        case _ => ()
      }
      e += 12; k += 1
    }
    val tiled = tileOffsets != null
    require(w > 0 && h > 0 && (stripOffsets != null || tiled), "TIFF: missing required tags")
    require(planar == 1, "TIFF: planar configuration 2 unsupported")
    val ccitt = compression == 2 || compression == 3 || compression == 4
    require(compression == 1 || compression == 32773 || compression == 5 || ccitt,
      s"TIFF: compression $compression unsupported (uncompressed/PackBits/LZW/CCITT only)")
    require(photometric >= 0 && photometric <= 3, s"TIFF: photometric $photometric unsupported")
    require(fillOrder == 1 || (fillOrder == 2 && ccitt),
      s"TIFF: fill order $fillOrder unsupported outside CCITT")
    val palette = photometric == 3
    val gray = photometric < 2
    if (ccitt) require(bitDepth == 1 && photometric <= 1,
      s"TIFF: CCITT needs bilevel gray (depth $bitDepth, photometric $photometric)")
    require(
      if (palette) bitDepth == 4 || bitDepth == 8
      else if (gray) bitDepth == 1 || bitDepth == 8 || bitDepth == 16
      else bitDepth == 8 || bitDepth == 16,
      s"TIFF: bit depth $bitDepth with photometric $photometric unsupported")
    require(predictor == 1 || (predictor == 2 && bitDepth == 8),
      s"TIFF: predictor $predictor at depth $bitDepth unsupported")
    require(if (gray || palette) samplesPerPixel == 1 else samplesPerPixel >= 3,
      s"TIFF: $samplesPerPixel samples with photometric $photometric")
    if (palette) require(colorMap != null && colorMap.length >= 3 * (1 << bitDepth),
      "TIFF: palette image missing ColorMap")
    if (tiled) require(tileW > 0 && tileH > 0, "TIFF: tiled layout missing tile dims")

    val spp = samplesPerPixel
    def rowBytes(pixels: Int): Int = (pixels * spp * bitDepth + 7) / 8
    val out = new Array[Int](w * h)

    // decompress one segment to its padded raw size
    def rawSegment(off: Int, cnt: Int, need: Int, segW: Int, segRows: Int): Array[Byte] = compression match {
      case 2 | 3 | 4 =>
        CcittFax.decode(p, off, off + cnt, segW, segRows,
          compression, t4Options, fillOrder == 2)
      case 1 =>
        val buf = new Array[Byte](need)
        System.arraycopy(p, off, buf, 0, math.min(cnt, need))
        buf
      case 5 => tiffLzwDecode(p, off, cnt, need)
      case _ => // PackBits
        val buf = new Array[Byte](need)
        var at = 0; var i = off
        while (i < off + cnt && at < need) {
          val ctl = p(i).toInt; i += 1
          if (ctl >= 0) {
            val take = math.min(ctl + 1, need - at)
            System.arraycopy(p, i, buf, at, take)
            at += take; i += ctl + 1
          } else if (ctl != -128) {
            val take = math.min(1 - ctl, need - at)
            java.util.Arrays.fill(buf, at, at + take, p(i))
            at += take; i += 1
          }
        }
        require(at >= need, s"TIFF: strip data short ($at of $need samples)")
        buf
    }

    // scatter one decoded segment (origin x0,y0; padded sw×sh) into out
    def scatter(raw: Array[Byte], x0: Int, y0: Int, sw: Int, sh: Int): Unit = {
      val rb = rowBytes(sw)
      var y = 0
      while (y < sh && y0 + y < h) {
        val ro = y * rb
        if (predictor == 2) { // undo horizontal differencing in place
          var i = ro + spp
          while (i < ro + sw * spp) { raw(i) = (raw(i) + raw(i - spp)).toByte; i += 1 }
        }
        var x = 0
        while (x < sw && x0 + x < w) {
          val px = (y0 + y) * w + (x0 + x)
          if (palette) {
            val idx =
              if (bitDepth == 8) raw(ro + x) & 0xff
              else (raw(ro + (x >> 1)) >> (if ((x & 1) == 0) 4 else 0)) & 0xf
            val m = 1 << bitDepth
            out(px) = ((colorMap(idx) >> 8) << 16) |
              ((colorMap(m + idx) >> 8) << 8) | (colorMap(2 * m + idx) >> 8)
          } else {
            def sample(c: Int): Int =
              if (bitDepth == 8) raw(ro + x * spp + c) & 0xff
              else if (bitDepth == 1) // bilevel (CCITT or raw), MSB-first
                if (((raw(ro + (x >> 3)) >> (7 - (x & 7))) & 1) == 1) 255 else 0
              else { // 16-bit: high byte, file byte order
                val o = ro + 2 * (x * spp + c)
                if (le) raw(o + 1) & 0xff else raw(o) & 0xff
              }
            if (gray) {
              val v0 = sample(0)
              val v = if (photometric == 0) 255 - v0 else v0 // 0 = WhiteIsZero
              out(px) = (v << 16) | (v << 8) | v
            } else {
              out(px) = (sample(0) << 16) | (sample(1) << 8) | sample(2)
            }
          }
          x += 1
        }
        y += 1
      }
    }

    if (tiled) {
      val across = (w + tileW - 1) / tileW
      val down = (h + tileH - 1) / tileH
      require(tileOffsets.length >= across * down, "TIFF: tile count short")
      var t = 0
      while (t < across * down) {
        val cnt = if (tileCounts != null) tileCounts(t) else p.length - tileOffsets(t)
        val raw = rawSegment(tileOffsets(t), cnt, tileH * rowBytes(tileW), tileW, tileH)
        scatter(raw, (t % across) * tileW, (t / across) * tileH, tileW, tileH)
        t += 1
      }
    } else {
      var s = 0
      var y0 = 0
      while (s < stripOffsets.length && y0 < h) {
        val rows = math.min(rowsPerStrip, h - y0)
        val cnt = if (stripCounts != null) stripCounts(s) else p.length - stripOffsets(s)
        val raw = rawSegment(stripOffsets(s), cnt, rows * rowBytes(w), w, rows)
        scatter(raw, 0, y0, w, rows)
        s += 1
        y0 += rows
      }
      require(y0 >= h, s"TIFF: strips cover $y0 of $h rows")
    }
    (w, h, out)
  }

  /** TIFF-flavor LZW encode, synced to [[tiffLzwDecode]]'s early-change
    * width schedule via the DECODER-side entry count (`decNext`, one
    * behind the encoder's — the decoder adds no entry for the first
    * code after a Clear). Clears conservatively at 3,500 entries, well
    * before the 4,096 table cap, which also exercises the reset path. */
  private[operators] def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0; var width = 9
    def writeBits(c: Int): Unit = {
      bitBuf = (bitBuf << width) | c; bitCnt += width
      while (bitCnt >= 8) { out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8 }
    }
    val dict = new java.util.HashMap[Long, Integer]()
    var nextEnc = 258; var decNext = 258; var firstAfterClear = true
    def writeCode(c: Int): Unit = { // a normal (non-control) code
      writeBits(c)
      if (firstAfterClear) firstAfterClear = false
      else {
        decNext += 1
        if (decNext == (1 << width) - 1 && width < 12) width += 1
      }
    }
    def clearTable(): Unit = {
      writeBits(256)
      dict.clear(); nextEnc = 258; decNext = 258; width = 9; firstAfterClear = true
    }
    writeBits(256) // spec: streams open with a Clear
    var prev = -1
    var i = 0
    while (i < data.length) {
      val cur = data(i) & 0xff
      if (prev < 0) prev = cur
      else {
        val key = (prev.toLong << 8) | cur
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          writeCode(prev)
          dict.put(key, nextEnc); nextEnc += 1
          prev = cur
          if (nextEnc >= 3500) clearTable()
        }
      }
      i += 1
    }
    if (prev >= 0) writeCode(prev)
    writeBits(257) // EOI
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** 8-bit palette TIFF encoder (photometric 3, one uncompressed strip,
    * 16-bit ColorMap planes) — fixture half of the palette decode. */
  def encodeTiffPalette(w: Int, h: Int, idx: Array[Int], cmap16: Array[Int]): Array[Byte] = {
    require(idx.length == w * h, s"expected ${w * h} indices, got ${idx.length}")
    require(cmap16.length == 3 * 256, s"expected 768 colormap entries, got ${cmap16.length}")
    val nEntries = 9
    val ifdAt = 8
    val mapAt = ifdAt + 2 + 12 * nEntries + 4
    val dataAt = mapAt + 2 * cmap16.length
    val b = java.nio.ByteBuffer.allocate(dataAt + w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdAt)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit =
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count).putInt(value)
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, 1)
    entry(262, 3, 1, 3)          // Photometric: palette
    entry(273, 4, 1, dataAt)
    entry(277, 3, 1, 1)
    entry(279, 4, 1, w * h)
    entry(320, 3, cmap16.length, mapAt)
    b.putInt(0)
    cmap16.foreach(v => b.putShort(v.toShort))
    idx.foreach(v => b.put(v.toByte))
    b.array()
  }

  /** 16-bit grayscale TIFF encoder — BIG-endian (MM) file so the
    * high-byte extraction's byte-order handling is exercised; two
    * strips to cover strip-boundary row accounting. */
  def encodeTiffGray16(w: Int, h: Int, gray16: Array[Int]): Array[Byte] = {
    require(gray16.length == w * h, s"expected ${w * h} samples, got ${gray16.length}")
    val nEntries = 9
    val ifdAt = 8
    val rows1 = (h + 1) / 2 // strip 1 rows (RowsPerStrip)
    val offsAt = ifdAt + 2 + 12 * nEntries + 4
    val dataAt = offsAt + 16 // two LONG offsets + two LONG counts
    val b = java.nio.ByteBuffer.allocate(dataAt + 2 * w * h)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdAt)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      // big-endian file: a lone SHORT sits in the FIRST two value bytes
      if (typ == 3 && count == 1) { b.putShort(value.toShort); b.putShort(0) }
      else b.putInt(value)
    }
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 16)
    entry(259, 3, 1, 1)
    entry(262, 3, 1, 1)          // BlackIsZero
    entry(273, 4, 2, offsAt)
    entry(277, 3, 1, 1)
    entry(278, 4, 1, rows1)
    entry(279, 4, 2, offsAt + 8)
    b.putInt(0)
    b.putInt(dataAt).putInt(dataAt + 2 * w * rows1)           // strip offsets
    b.putInt(2 * w * rows1).putInt(2 * w * (h - rows1))       // strip counts
    gray16.foreach(v => b.putShort((v & 0xffff).toShort))
    b.array()
  }

  /** Tiled LZW RGB TIFF encoder with horizontal predictor 2 — the
    * fixture for the tile-grid scatter, §13 LZW and predictor paths in
    * one file. Edge tiles are grid-padded by edge replication (any
    * padding decodes fine; replication keeps LZW runs long). */
  def encodeTiffRgbTiledLzw(w: Int, h: Int, rgb: Array[Int], tw: Int, th: Int): Array[Byte] = {
    require(rgb.length == w * h, s"expected ${w * h} pixels, got ${rgb.length}")
    require(tw % 16 == 0 && th % 16 == 0, "TIFF tiles must be multiples of 16")
    val across = (w + tw - 1) / tw
    val down = (h + th - 1) / th
    val tiles = (0 until across * down).map { t =>
      val x0 = (t % across) * tw; val y0 = (t / across) * th
      val raw = new Array[Byte](th * tw * 3)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          val v = rgb(math.min(y0 + y, h - 1) * w + math.min(x0 + x, w - 1))
          val o = (y * tw + x) * 3
          raw(o) = ((v >> 16) & 0xff).toByte
          raw(o + 1) = ((v >> 8) & 0xff).toByte
          raw(o + 2) = (v & 0xff).toByte
          x += 1
        }
        // forward horizontal differencing (predictor 2), per row
        var i = (y + 1) * tw * 3 - 1
        while (i >= y * tw * 3 + 3) { raw(i) = (raw(i) - raw(i - 3)).toByte; i -= 1 }
        y += 1
      }
      tiffLzwEncode(raw)
    }
    val nEntries = 10
    val ifdAt = 8
    val bitsAt = ifdAt + 2 + 12 * nEntries + 4
    val offsAt = bitsAt + 6
    val dataAt = offsAt + 4 * tiles.length
    val b = java.nio.ByteBuffer.allocate(dataAt + tiles.map(_.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdAt)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit =
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count).putInt(value)
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 3, bitsAt)
    entry(259, 3, 1, 5)          // LZW
    entry(262, 3, 1, 2)          // RGB
    entry(277, 3, 1, 3)
    entry(317, 3, 1, 2)          // horizontal predictor
    entry(322, 4, 1, tw)
    entry(323, 4, 1, th)
    entry(324, 4, tiles.length, offsAt)
    b.putInt(0)
    b.putShort(8).putShort(8).putShort(8)
    var off = dataAt
    tiles.foreach { t => b.putInt(off); off += t.length }
    tiles.foreach(t => b.put(t))
    b.array()
  }

  /** Little-endian uncompressed RGB TIFF encoder (one strip) — the
    * synthesis half of the TIFF round-trip. */
  def encodeTiffRgb(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h, s"expected ${w * h} pixels, got ${rgb.length}")
    val nEntries = 8
    val ifdAt = 8
    val bitsAt = ifdAt + 2 + 12 * nEntries + 4
    val dataAt = bitsAt + 6
    val b = java.nio.ByteBuffer.allocate(dataAt + 3 * w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdAt)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count).putInt(value)
    }
    entry(256, 4, 1, w)           // ImageWidth
    entry(257, 4, 1, h)           // ImageLength
    entry(258, 3, 3, bitsAt)      // BitsPerSample -> [8,8,8]
    entry(259, 3, 1, 1)           // Compression: none
    entry(262, 3, 1, 2)           // Photometric: RGB
    entry(273, 4, 1, dataAt)      // StripOffsets
    entry(277, 3, 1, 3)           // SamplesPerPixel
    entry(279, 4, 1, 3 * w * h)   // StripByteCounts
    b.putInt(0)                   // next IFD
    b.putShort(8).putShort(8).putShort(8)
    var i = 0
    while (i < rgb.length) {
      val v = rgb(i)
      b.put(((v >> 16) & 0xff).toByte).put(((v >> 8) & 0xff).toByte).put((v & 0xff).toByte)
      i += 1
    }
    b.array()
  }

  /** 8-bit RGB PNG encoder (filter None, one IDAT, `Deflater` zlib) —
    * the lossless synthesis counterpart of [[pngPixelDecoder]]. */
  def encodePngRgb(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h, s"expected ${w * h} pixels, got ${rgb.length}")
    val out = new java.io.ByteArrayOutputStream()
    val crcT = new java.util.zip.CRC32()
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, body: Array[Byte]): Unit = {
      out.write(be32(body.length))
      val tb = tag.getBytes("US-ASCII")
      crcT.reset(); crcT.update(tb); crcT.update(body)
      out.write(tb); out.write(body); out.write(be32(crcT.getValue.toInt))
    }
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0))
    val raw = new Array[Byte](h * (1 + 3 * w))
    var y = 0
    while (y < h) {
      val ro = y * (1 + 3 * w)
      raw(ro) = 0 // filter None
      var x = 0
      while (x < w) {
        val v = rgb(y * w + x)
        raw(ro + 1 + 3 * x) = ((v >> 16) & 0xff).toByte
        raw(ro + 2 + 3 * x) = ((v >> 8) & 0xff).toByte
        raw(ro + 3 + 3 * x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    d.end()
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  private[operators] def pngWrap(w: Int, h: Int, depth: Int, colorType: Int,
      interlace: Int, raw: Array[Byte], plte: Array[Int] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val crcT = new java.util.zip.CRC32()
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, body: Array[Byte]): Unit = {
      out.write(be32(body.length))
      val tb = tag.getBytes("US-ASCII")
      crcT.reset(); crcT.update(tb); crcT.update(body)
      out.write(tb); out.write(body); out.write(be32(crcT.getValue.toInt))
    }
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0, interlace.toByte))
    if (plte != null)
      chunk("PLTE", plte.flatMap(v => Array(
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)))
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    d.end()
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Adam7 INTERLACED RGB PNG encoder (filter None per scanline) — the
    * fixture half of the interlaced decode path: the stream carries
    * seven concatenated reduced images, so decode must de-interlace to
    * reproduce the source pixels exactly. */
  def encodePngRgbInterlaced(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h, s"expected ${w * h} pixels, got ${rgb.length}")
    val raw = new java.io.ByteArrayOutputStream()
    Adam7.foreach { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        var j = 0
        while (j < ph) {
          raw.write(0) // filter None
          var k = 0
          while (k < pw) {
            val v = rgb((y0 + j * dy) * w + (x0 + k * dx))
            raw.write((v >> 16) & 0xff); raw.write((v >> 8) & 0xff); raw.write(v & 0xff)
            k += 1
          }
          j += 1
        }
      }
    }
    pngWrap(w, h, 8, 2, 1, raw.toByteArray)
  }

  /** 16-bit grayscale PNG encoder (big-endian samples, filter None) —
    * the fixture half of the high-depth decode path; decode reduces to
    * the high byte per the spec's 16→8 sample scaling. */
  def encodePngGray16(w: Int, h: Int, gray16: Array[Int]): Array[Byte] = {
    require(gray16.length == w * h, s"expected ${w * h} samples, got ${gray16.length}")
    val raw = new java.io.ByteArrayOutputStream()
    var y = 0
    while (y < h) {
      raw.write(0)
      var x = 0
      while (x < w) {
        val v = gray16(y * w + x) & 0xffff
        raw.write((v >> 8) & 0xff); raw.write(v & 0xff)
        x += 1
      }
      y += 1
    }
    pngWrap(w, h, 16, 0, 0, raw.toByteArray)
  }

  /** Adam7 pass origins and steps: (x0, y0, dx, dy) per PNG spec §8.2. */
  private val Adam7: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** REAL PNG pixel decoder — pure JVM (chunk walk + `java.util.zip
    * .Inflater` + scanline unfiltering), no codec library. Supports
    * color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6
    * (RGBA) at bit depth 8 — depth 16 for the non-palette types,
    * reduced to the high byte (the spec's 16→8 sample scaling) — and
    * sub-byte depths 1/2/4 for gray and palette (MSB-first packing,
    * gray rescaled v·255/(2^d−1), indices through PLTE); alpha
    * is dropped in the packed-RGB output. All five scanline filters
    * (None/Sub/Up/Average/Paeth) per spec §9, and BOTH interlace
    * methods: null and Adam7 (seven concatenated reduced sub-images,
    * each unfiltered independently, scattered by pass origin/step). */
  val pngPixelDecoder: PixelDecoder = p => {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    require(p.length >= 8 && be32(0) == 0x89504e47 && be32(4) == 0x0d0a1a0a, "not a PNG payload")
    var w = 0; var h = 0; var colorType = -1; var bitDepth = 0; var interlace = 0
    var palette: Array[Int] = null
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var done = false
    while (!done && i + 8 <= p.length) {
      val len = be32(i)
      val typ = new String(p, i + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          w = be32(i + 8); h = be32(i + 12)
          bitDepth = u8(i + 16)
          colorType = u8(i + 17)
          require(bitDepth == 8 || (bitDepth == 16 && colorType != 3) ||
            ((bitDepth == 1 || bitDepth == 2 || bitDepth == 4) &&
              (colorType == 0 || colorType == 3)),
            s"PNG: bit depth $bitDepth with color type $colorType unsupported")
          interlace = u8(i + 20)
          require(interlace <= 1, s"PNG: unknown interlace method $interlace")
        case "PLTE" =>
          palette = Array.tabulate(len / 3)(j =>
            (u8(i + 8 + 3 * j) << 16) | (u8(i + 8 + 3 * j + 1) << 8) | u8(i + 8 + 3 * j + 2))
        case "IDAT" => idat.write(p, i + 8, len)
        case "IEND" => done = true
        case _      => () // ancillary chunk
      }
      i += 12 + len // length + type + data + CRC (CRCs not verified)
    }
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case ct => throw new IllegalArgumentException(s"PNG: unknown color type $ct")
    }
    val sampleBytes = bitDepth / 8
    val bpp = math.max(1, channels * bitDepth / 8) // filter distance in bytes
    def rowBytesOf(pw: Int): Int = (pw * channels * bitDepth + 7) / 8
    // interlaced streams concatenate seven reduced sub-images, each
    // with its own filter bytes; empty passes contribute nothing
    val passes = (if (interlace == 0) Seq((0, 0, 1, 1)) else Adam7).map {
      case (x0, y0, dx, dy) =>
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
        (x0, y0, dx, dy, pw, ph)
    }
    val rawLen = passes.collect { case (_, _, _, _, pw, ph) if pw > 0 && ph > 0 =>
      ph * (1 + rowBytesOf(pw))
    }.sum
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var filled = 0
    while (filled < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, filled, raw.length - filled)
      require(n > 0 || inf.finished(), "PNG: truncated IDAT stream")
      filled += n
    }
    inf.end()
    require(filled == raw.length, s"PNG: expected ${raw.length} filtered bytes, got $filled")
    // unfilter each pass independently, then scatter its pixels; the
    // image buffer holds 8-bit samples (16-bit reduces to the high
    // byte — the spec's sample-depth scaling for 16→8)
    val stride = w * channels
    val img = new Array[Byte](h * stride)
    var rawOff = 0
    passes.foreach { case (x0, y0, dx, dy, pw, ph) =>
      if (pw > 0 && ph > 0) {
        val prow = rowBytesOf(pw)
        val pimg = new Array[Byte](ph * prow)
        var y = 0
        while (y < ph) {
          val filter = raw(rawOff + y * (1 + prow)) & 0xff
          val rowOff = rawOff + y * (1 + prow) + 1
          var x = 0
          while (x < prow) {
            val cur = raw(rowOff + x) & 0xff
            val a = if (x >= bpp) pimg(y * prow + x - bpp) & 0xff else 0
            val b = if (y > 0) pimg((y - 1) * prow + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) pimg((y - 1) * prow + x - bpp) & 0xff else 0
            val rec = filter match {
              case 0 => cur
              case 1 => cur + a
              case 2 => cur + b
              case 3 => cur + (a + b) / 2
              case 4 =>
                val pp = a + b - c
                val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
                cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
              case f => throw new IllegalArgumentException(s"PNG: unknown filter type $f")
            }
            pimg(y * prow + x) = (rec & 0xff).toByte
            x += 1
          }
          y += 1
        }
        var j = 0
        while (j < ph) {
          var k = 0
          while (k < pw) {
            if (bitDepth < 8) { // sub-byte gray/palette: MSB-first packing
              val bit = k * bitDepth
              val v = (pimg(j * prow + (bit >> 3)) >> (8 - bitDepth - (bit & 7))) &
                ((1 << bitDepth) - 1)
              // gray scales to full range (v·255/(2^d−1)); palette keeps
              // the raw index — the PLTE lookup below resolves it
              val s = if (colorType == 0) v * 255 / ((1 << bitDepth) - 1) else v
              img((y0 + j * dy) * w + (x0 + k * dx)) = s.toByte
            } else {
              var ch = 0
              while (ch < channels) {
                img(((y0 + j * dy) * w + (x0 + k * dx)) * channels + ch) =
                  pimg((j * prow + k * bpp) + ch * sampleBytes) // BE: high byte first
                ch += 1
              }
            }
            k += 1
          }
          j += 1
        }
        rawOff += ph * (1 + prow)
      }
    }
    val out = new Array[Int](w * h)
    var pix = 0
    while (pix < w * h) {
      val o = pix * channels
      out(pix) = colorType match {
        case 0 | 4 => val g = img(o) & 0xff; (g << 16) | (g << 8) | g
        case 2 | 6 => ((img(o) & 0xff) << 16) | ((img(o + 1) & 0xff) << 8) | (img(o + 2) & 0xff)
        case 3 =>
          require(palette != null, "PNG: palette image without PLTE chunk")
          palette(img(o) & 0xff)
      }
      pix += 1
    }
    (w, h, out)
  }

  /** REAL GIF frame decoder — pure JVM LZW (no codec library): parses
    * the logical screen descriptor, global/local color tables, walks
    * extension and image-descriptor blocks, and LZW-decompresses every
    * frame (variable code size 3..12 bits LSB-first across sub-blocks,
    * clear/end codes, dictionary growth per the GIF89a spec appendix).
    *
    * Each frame is returned as its own (width, height, packed-RGB
    * raster) from its OWN image descriptor — no disposal compositing
    * (frames that patch a sub-rectangle decode standalone); interlaced
    * frames are row-deinterlaced (passes 8/8+4/4/2 per spec). For the
    * keyframe→PDQ pipeline standalone rasters are the right contract:
    * a sampler hashes frames, it does not replay an animation. */
  def gifFrames(p: Array[Byte]): Seq[(Int, Int, Array[Int])] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(p.length >= 13 && (p.startsWith("GIF87a".getBytes("US-ASCII")) ||
      p.startsWith("GIF89a".getBytes("US-ASCII"))), "not a GIF payload")
    var i = 6
    i += 4 // logical screen w/h
    val packed = u8(i); i += 3 // packed + bg index + aspect
    var globalPalette: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      globalPalette = Array.tabulate(n)(j => (u8(i + 3 * j) << 16) | (u8(i + 3 * j + 1) << 8) | u8(i + 3 * j + 2))
      i += 3 * n
    }
    val frames = Seq.newBuilder[(Int, Int, Array[Int])]
    var done = false
    while (!done && i < p.length) {
      u8(i) match {
        case 0x3b => done = true // trailer
        case 0x21 => // extension: label + length-prefixed sub-blocks
          i += 2
          while (u8(i) != 0) i += 1 + u8(i)
          i += 1
        case 0x2c =>
          val w = le16(i + 5); val h = le16(i + 7)
          val ipacked = u8(i + 9)
          i += 10
          var palette = globalPalette
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            palette = Array.tabulate(n)(j => (u8(i + 3 * j) << 16) | (u8(i + 3 * j + 1) << 8) | u8(i + 3 * j + 2))
            i += 3 * n
          }
          require(palette != null, "GIF: frame without any color table")
          val minCode = u8(i); i += 1
          // concatenate the data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (u8(i) != 0) { data.write(p, i + 1, u8(i)); i += 1 + u8(i) }
          i += 1
          val indices = lzwDecode(data.toByteArray, minCode, w * h)
          val raster = new Array[Int](w * h)
          if ((ipacked & 0x40) != 0) {
            // interlaced: rows arrive in 4 passes (start/step 0/8, 4/8, 2/4, 1/2)
            val order = Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, st) => s until h by st }
            for ((destRow, srcRow) <- order.zipWithIndex; x <- 0 until w)
              raster(destRow * w + x) = palette(indices(srcRow * w + x) & 0xff)
          } else {
            var j = 0
            while (j < w * h) { raster(j) = palette(indices(j) & 0xff); j += 1 }
          }
          frames += ((w, h, raster))
        case b => throw new IllegalArgumentException(f"GIF: unknown block 0x$b%02x at $i")
      }
    }
    val out = frames.result()
    require(out.nonEmpty, "GIF: no image frames before trailer")
    out
  }

  /** GIF-variant LZW decode: codes are LSB-first, width grows from
    * minCode+1 up to 12 bits, clear resets the dictionary, end stops. */
  private[operators] def lzwDecode(data: Array[Byte], minCode: Int, expected: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val out = new java.io.ByteArrayOutputStream(expected)
    // dictionary as (prefixCode, appendedByte); roots are -1-prefixed
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = 0
    def reset(): Unit = {
      dictSize = end + 1
      var c = 0
      while (c < clear) { prefix(c) = -1; suffix(c) = c.toByte; c += 1 }
    }
    reset()
    var codeSize = minCode + 1
    var buf = 0L; var bits = 0; var pos = 0
    var prev = -1
    val scratch = new Array[Byte](4096)
    def expand(code: Int): Int = { // writes the string for `code` into scratch reversed; returns length
      var len = 0; var c = code
      while (c >= 0) { scratch(len) = suffix(c); len += 1; c = prefix(c) }
      len
    }
    var stop = false
    while (!stop && (bits >= codeSize || pos < data.length)) {
      while (bits < codeSize && pos < data.length) {
        buf |= (data(pos) & 0xffL) << bits; bits += 8; pos += 1
      }
      if (bits < codeSize) stop = true
      else {
        val code = (buf & ((1 << codeSize) - 1)).toInt
        buf >>>= codeSize; bits -= codeSize
        if (code == clear) { reset(); codeSize = minCode + 1; prev = -1 }
        else if (code == end) stop = true
        else {
          require(code < dictSize || (code == dictSize && prev >= 0), s"LZW: code $code out of range")
          if (prev >= 0 && dictSize < 4096) {
            // new entry = prev + first byte of current (or of prev for the K-case)
            val probe = if (code < dictSize) code else prev
            var c = probe
            while (prefix(c) >= 0) c = prefix(c)
            prefix(dictSize) = prev; suffix(dictSize) = suffix(c); dictSize += 1
          }
          val len = expand(code)
          var k = len - 1
          while (k >= 0) { out.write(scratch(k)); k -= 1 }
          prev = code
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
      }
    }
    val arr = out.toByteArray
    require(arr.length >= expected, s"LZW: expected $expected pixels, got ${arr.length}")
    if (arr.length == expected) arr else java.util.Arrays.copyOf(arr, expected)
  }

  /** Multi-frame grayscale GIF89a encoder (REAL LZW compression with
    * dictionary growth and clear-on-full) — the synthesis half of the
    * GIF round-trip. Pixels quantize to the 256-gray global palette by
    * integer luma. */
  def encodeGifGray(w: Int, h: Int, frames: Seq[Array[Int]]): Array[Byte] = {
    require(frames.nonEmpty, "need at least one frame")
    frames.foreach(f => require(f.length == w * h, s"expected ${w * h} pixels"))
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0xf7) // global table, 256 entries, 8-bit resolution
    out.write(0); out.write(0)
    for (g <- 0 until 256) { out.write(g); out.write(g); out.write(g) }
    for (f <- frames) {
      out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(0) // descriptor
      out.write(8) // LZW min code size
      val packed = lzwEncode(f.map(v => PdqHash.luma(v).toByte), 8)
      var off = 0
      while (off < packed.length) {
        val n = math.min(255, packed.length - off)
        out.write(n); out.write(packed, off, n); off += n
      }
      out.write(0) // block terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** GIF-variant LZW encode (true dictionary compression, clear code
    * emitted when the table fills). */
  private[operators] def lzwEncode(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var buf = 0L; var bits = 0
    var codeSize = minCode + 1
    def emit(code: Int): Unit = {
      buf |= code.toLong << bits; bits += codeSize
      while (bits >= 8) { out.write((buf & 0xff).toInt); buf >>>= 8; bits -= 8 }
    }
    // dictionary: (prefixCode << 8 | byte) -> code
    var dict = new java.util.HashMap[Integer, Integer]()
    var dictSize = end + 1
    emit(clear)
    var prev = -1
    for (b <- indices) {
      val cur = b & 0xff
      if (prev < 0) prev = cur
      else {
        val key = (prev << 8) | cur
        val hit = dict.get(key)
        if (hit != null) prev = hit
        else {
          emit(prev)
          if (dictSize < 4096) {
            dict.put(key, dictSize); dictSize += 1
            if (dictSize > (1 << codeSize) && codeSize < 12) codeSize += 1
          } else {
            emit(clear); dict = new java.util.HashMap[Integer, Integer]()
            dictSize = end + 1; codeSize = minCode + 1
          }
          prev = cur
        }
      }
    }
    if (prev >= 0) emit(prev)
    // width sync for END: the decoder assigns one more entry after the
    // final data code (its dict trails this one by exactly one entry,
    // reaching `dictSize` after that add) and widens when it hits
    // 2^codeSize — mirror that before emitting END or the decoder
    // reads END one bit wider than written
    if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
    emit(end)
    if (bits > 0) out.write((buf & 0xff).toInt)
    out.toByteArray
  }

  /** First frame of a GIF as a [[PixelDecoder]] (single-image GIFs are
    * plain rasters; animated ones hash per-frame via [[pdqFrames]]). */
  val gifPixelDecoder: PixelDecoder = p => gifFrames(p).head

  // ---- audio: RIFF/WAVE PCM, pure JVM --------------------------------

  /** REAL WAV decoder: RIFF chunk walk to `fmt ` + `data`, PCM 16-bit
    * little-endian only (format tag 1), any channel count — channels
    * mix down to mono by floor((Σ ch)/n) so multi-channel archives
    * fingerprint deterministically. Returns (sampleRate, channels,
    * mono samples in -32768..32767). */
  def wavSamples(p: Array[Byte]): (Int, Int, Array[Int]) = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(p.length >= 44 && le32(0) == 0x46464952 && le32(8) == 0x45564157, // "RIFF" .. "WAVE"
      "not a RIFF/WAVE payload")
    var i = 12
    var rate = -1; var channels = -1; var bits = -1
    var mono: Array[Int] = null
    while (mono == null || rate < 0) {
      require(i + 8 <= p.length, "WAV: truncated before fmt/data chunks")
      val id = le32(i); val len = le32(i + 4)
      id match {
        case 0x20746d66 => // "fmt "
          require(le16(i + 8) == 1, s"WAV: only PCM supported, got format ${le16(i + 8)}")
          channels = le16(i + 10); rate = le32(i + 12); bits = le16(i + 22)
          require(bits == 16, s"WAV: only 16-bit PCM supported, got $bits")
          require(channels >= 1, "WAV: zero channels")
        case 0x61746164 => // "data"
          require(rate > 0, "WAV: data chunk before fmt")
          val frames = len / (2 * channels)
          mono = new Array[Int](frames)
          var f = 0
          while (f < frames) {
            var acc = 0L
            var c = 0
            while (c < channels) {
              acc += le16(i + 8 + 2 * (f * channels + c)).toShort.toInt
              c += 1
            }
            mono(f) = math.floorDiv(acc, channels).toInt
            f += 1
          }
        case _ => ()
      }
      i += 8 + len + (len & 1) // chunks are word-aligned
    }
    (rate, channels, mono)
  }

  /** Mono 16-bit PCM WAV encoder — the synthesis half of the WAV
    * round-trip. */
  def encodeWav16(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => b.putShort(s.toShort))
    b.array()
  }

  // ---- AVI (RIFF) container: MJPEG video, pure JVM --------------------

  /** Minimal-but-valid MJPEG AVI encoder — RIFF('AVI ') with an 'hdrl'
    * header list (avih + one 'vids'/'MJPG' stream), a 'movi' list of
    * '00dc' chunks each holding one complete JPEG frame (word-aligned),
    * and an 'idx1' index. The synthesis half of the AVI round-trip:
    * pass frames from [[graft.operators.Jpeg.encodeGray]]/`encodeRgb`
    * (optionally `omitDht = true` for the DHT-less MJPEG convention
    * real capture hardware emits). */
  def encodeAviMjpeg(w: Int, h: Int, jpegFrames: Seq[Array[Byte]], fps: Int = 10): Array[Byte] = {
    require(jpegFrames.nonEmpty, "an AVI needs at least one frame")
    require(fps >= 1, s"fps must be >= 1, got $fps")
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(fcc(id)).putInt(body.length).put(body)
      if ((body.length & 1) == 1) b.put(0.toByte)
      b.array()
    }
    def list(typ: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
      val inner = bodies.map(_.length).sum
      val b = java.nio.ByteBuffer.allocate(12 + inner).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(fcc("LIST")).putInt(4 + inner).put(fcc(typ))
      bodies.foreach(b.put)
      b.array()
    }
    val maxFrame = jpegFrames.map(_.length).max
    val avih = {
      val b = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(1000000 / fps).putInt(maxFrame * fps).putInt(0).putInt(0x10 /* HASINDEX */)
      b.putInt(jpegFrames.length).putInt(0).putInt(1).putInt(maxFrame)
      b.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val strh = {
      val b = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(fcc("vids")).put(fcc("MJPG")).putInt(0).putInt(0).putInt(0)
      b.putInt(1).putInt(fps).putInt(0).putInt(jpegFrames.length).putInt(maxFrame)
      b.putInt(-1).putInt(0).putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    val strf = { // BITMAPINFOHEADER with biCompression = 'MJPG'
      val b = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.put(fcc("MJPG")).putInt(w * h * 3).putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val frameChunks = jpegFrames.map(f => chunk("00dc", f))
    // idx1 offsets are relative to the start of the 'movi' list type fourcc
    val idx = {
      val b = java.nio.ByteBuffer.allocate(16 * jpegFrames.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 4
      jpegFrames.indices.foreach { i =>
        b.put(fcc("00dc")).putInt(0x10 /* KEYFRAME */).putInt(off).putInt(jpegFrames(i).length)
        off += frameChunks(i).length
      }
      b.array()
    }
    val hdrl = list("hdrl", Seq(chunk("avih", avih), list("strl", Seq(chunk("strh", strh), chunk("strf", strf)))))
    val movi = list("movi", frameChunks)
    val body = Seq(hdrl, movi, chunk("idx1", idx))
    val total = body.map(_.length).sum
    val b = java.nio.ByteBuffer.allocate(12 + total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(fcc("RIFF")).putInt(4 + total).put(fcc("AVI "))
    body.foreach(b.put)
    b.array()
  }

  /** REAL video-container frame decoder — MJPEG-in-AVI, pure JVM: RIFF
    * walk to the 'movi' list (recursing into 'rec ' groups), every
    * video chunk ('##dc'/'##db') decoded as one JPEG frame by
    * [[graft.operators.Jpeg.decode]]. DHT-less frames (the dominant
    * capture-hardware MJPEG convention) get the ITU T.81 Annex K
    * standard tables spliced in first
    * ([[graft.operators.Jpeg.withStdHuffmanIfMissing]]). Frames return
    * in container order; a frameless or non-AVI RIFF fails loudly.
    * Fills the [[FrameSampler]]/[[pdqFrames]] stub seam with a genuine
    * video path: pixels → frames → shots → keyframes → clip dedup runs
    * end-to-end from a real video file. */
  val aviFrames: Array[Byte] => Seq[(Int, Int, Array[Int])] = p => {
    def u8(i: Int): Int = p(i) & 0xff
    def u32(i: Int): Long =
      u8(i) | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def fcc(i: Int): String = new String(p.slice(i, i + 4), "US-ASCII")
    require(p.length >= 12 && fcc(0) == "RIFF" && fcc(8) == "AVI ", "not an AVI payload")
    val frames = scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Int])]()
    // walk chunks in [from, until); descend into LISTs of interest
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var i = from
      while (i + 8 <= until) {
        val id = fcc(i)
        val len = u32(i + 4).toInt
        require(len >= 0 && i + 8 + len <= until, s"AVI: chunk '$id' overruns its parent")
        if (id == "LIST") {
          val typ = fcc(i + 8)
          if (typ == "movi" || (inMovi && typ == "rec "))
            walk(i + 12, i + 8 + len, inMovi = true)
          else if (!inMovi && typ == "hdrl") () // header parsed by no one: frames self-describe
        } else if (inMovi && id.length == 4 && id(0).isDigit && id(1).isDigit &&
          (id.substring(2) == "dc" || id.substring(2) == "db")) {
          val payload = p.slice(i + 8, i + 8 + len)
          frames += graft.operators.Jpeg.decode(graft.operators.Jpeg.withStdHuffmanIfMissing(payload))
        }
        i += 8 + len + (len & 1) // chunks are word-aligned
      }
    }
    walk(12, p.length, inMovi = false)
    require(frames.nonEmpty, "AVI: no video frames in the movi list")
    frames.toSeq
  }

  /** Magic-byte dispatch over the FRAME decoders — the multi-frame
    * sibling of [[autoPixelDecoder]]: AVI (MJPEG) and GIF yield their
    * frame sequences; any single-image container yields one frame.
    * The archive-ingest entry point for [[pdqFrames]] over a binary
    * column of MIXED stills and clips. */
  val autoFrames: Array[Byte] => Seq[(Int, Int, Array[Int])] = p => {
    def u8(i: Int): Int = p(i) & 0xff
    require(p.length >= 12, "payload too short for any known container")
    if (u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
      u8(8) == 'A' && u8(9) == 'V' && u8(10) == 'I') aviFrames(p)
    else if (u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
      u8(8) == 'W' && u8(9) == 'E' && u8(10) == 'B' && u8(11) == 'P') Webp.webpFrames(p)
    else if (u8(4) == 'f' && u8(5) == 't' && u8(6) == 'y' && u8(7) == 'p')
      graft.sources.Mp4.mp4Frames(p)
    else if (u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F') gifFrames(p)
    else Seq(autoPixelDecoder(p))
  }

  case class AudioFingerprint(id: Long, fp_hex: String, quality: Long, sample_rate: Int, n_samples: Long)

  /** Audio perceptual fingerprints: WAV payload → real PCM decode →
    * [[PdqHash.fingerprintSamples]] (the image kernel over the
    * time-reshaped plane). `keepUndecodable` quarantines corrupt
    * payloads as (id, null, -1, -1, -1) rows, as in [[pdqHashes]]. */
  def audioFingerprints(items: Dataset[MediaItem],
      keepUndecodable: Boolean = false): Dataset[AudioFingerprint] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.map { m =>
        try {
          val (rate, _, mono) = wavSamples(m.payload)
          val (hx, q) = graft.operators.PdqHash.fingerprintSamples(mono)
          AudioFingerprint(m.id, hx, q, rate, mono.length.toLong)
        } catch {
          case scala.util.control.NonFatal(e) if keepUndecodable =>
            AudioFingerprint(m.id, null, -1L, -1, -1L)
        }
      }
    }
  }

  case class PdqResult(id: Long, pdq_hex: String, quality: Long)

  case class FramePdq(id: Long, frame_no: Int, pdq_hex: String, quality: Long)

  case class DihedralHash(id: Long, variant_no: Int, variant: String, pdq_hex: String)

  /** All 8 dihedral PDQ hashes per item from ONE decode + downsample —
    * the matching tier that catches mirrored / rotated reposts: join
    * any candidate's variant hashes against the corpus' `orig` hashes
    * (equi-join on the hex, or banded Hamming for near matches). */
  def pdqHashesDihedral(items: Dataset[MediaItem],
      decode: PixelDecoder = bmpPixelDecoder): Dataset[DihedralHash] = {
    import items.sparkSession.implicits._
    items.flatMap { m =>
      val (w, h, rgb) = decode(m.payload)
      val (hashes, _) = graft.operators.PdqHash.dihedralHashes(w, h, rgb)
      hashes.zipWithIndex.map { case ((name, hx), v) => DihedralHash(m.id, v, name, hx) }
    }
  }

  /** Per-FRAME PDQ hashes for multi-frame media (animated GIF today;
    * any container whose frame decoder fits the seam): payload →
    * frames → fixed-point PDQ each — the real form of the video
    * keyframe dedup pipeline [[frameSamples]] stubs. */
  def pdqFrames(items: Dataset[MediaItem],
      decodeFrames: Array[Byte] => Seq[(Int, Int, Array[Int])] = gifFrames,
      keepUndecodable: Boolean = false): Dataset[FramePdq] = {
    import items.sparkSession.implicits._
    items.flatMap { m =>
      try {
        decodeFrames(m.payload).zipWithIndex.map { case ((w, h, px), no) =>
          val (hx, q) = graft.operators.PdqHash.hashImage(w, h, px)
          FramePdq(m.id, no, hx, q)
        }
      } catch {
        // a corrupt container loses its frames but keeps one visible
        // (id, -1, null, -1) marker row, same contract as pdqHashes
        case scala.util.control.NonFatal(e) if keepUndecodable =>
          Seq(FramePdq(m.id, -1, null, -1L))
      }
    }
  }

  /** Temporal alignment of two per-frame hash sequences: for each id,
    * the frame offset `o ∈ [0, maxShift]` minimizing the mean Hamming
    * distance between `a`'s frame `f+o` and `b`'s frame `f` over the
    * overlapping frames — "is clip B a delayed copy of clip A, and by
    * how much" (re-encoded uploads, stream segments, broadcast delays).
    *
    * Scale shape: the offset dimension explodes on the PROBE side only
    * (maxShift+1 rows per b-frame — bounded, tiny), candidates come
    * from ONE hash equi-join on (id, aligned frame), and both closing
    * steps are combinable aggregates sharing the id hash partitioning
    * — the argmin is a `min(struct(avg, o))`, never a window sort. A
    * billion-clip archive aligns with one shuffle of slim (id, frame,
    * 32-byte hash) rows.
    *
    * Inputs carry (id, frame_no, pdq_hex); ties on the mean prefer the
    * smaller offset. Output: (id, best_offset, avg_dist, n_frames).
    */
  def alignFrameOffset(a: DataFrame, b: DataFrame, maxShift: Int): DataFrame = {
    require(maxShift >= 0, s"maxShift must be >= 0, got $maxShift")
    import graft.functions.HashFunctions.canonicalHex64
    val aw = a.select(col("id"), col("frame_no").as("af"),
      unhex(canonicalHex64(col("pdq_hex"))).as("ah"))
    val bw = b.select(col("id"), col("frame_no").as("bf"),
      unhex(canonicalHex64(col("pdq_hex"))).as("bh"))
      .withColumn("o", explode(sequence(lit(0), lit(maxShift))))
      .withColumn("af", col("bf") + col("o"))
    aw.join(bw, Seq("id", "af"))
      .select(col("id"), col("o"),
        graft.plans.HammingDistance(col("ah"), col("bh")).as("d"))
      .groupBy("id", "o")
      .agg(sum("d").as("sum_d"), count(lit(1)).as("n_frames"))
      .withColumn("avg_dist", col("sum_d").cast("double") / col("n_frames"))
      .groupBy("id")
      .agg(min(struct(col("avg_dist"), col("o"), col("n_frames"))).as("m"))
      .select(col("id"), col("m.o").as("best_offset"),
        col("m.avg_dist").as("avg_dist"), col("m.n_frames").as("n_frames"))
  }

  /** Shot-boundary (scene-cut) detection over per-frame hashes: a cut
    * is a frame whose PDQ distance to its PREDECESSOR exceeds the
    * threshold — within a shot consecutive frames drift a few bits,
    * across a cut the DCT signature jumps. The keyframe-selection
    * primitive: dedup/index one representative per shot instead of
    * every frame. One window exchange on the clip id (lag over
    * frame_no); distances ride the codegen'd `HammingDistance` over
    * the unhexed hashes.
    *
    * @return (id, frame_no, dist_prev [null for frame 0], is_cut —
    *         frame 0 always opens a shot, shot_no running count) */
  def shotBoundaries(frames: DataFrame, threshold: Int): DataFrame = {
    require(threshold >= 1 && threshold <= 256, s"threshold must be in [1, 256], got $threshold")
    import graft.functions.HashFunctions.canonicalHex64
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("frame_no")
    frames
      .select(col("id"), col("frame_no"),
        unhex(canonicalHex64(col("pdq_hex"))).as("__w"))
      .withColumn("__pw", lag("__w", 1).over(w))
      .withColumn("dist_prev", graft.plans.HammingDistance(col("__w"), col("__pw")))
      .withColumn("is_cut", (col("dist_prev").isNull || col("dist_prev") > threshold).cast("int"))
      .withColumn("shot_no",
        sum("is_cut").over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)) - 1)
      .select("id", "frame_no", "dist_prev", "is_cut", "shot_no")
  }

  /** One representative frame per shot — the keyframe-selection step
    * that turns "index every frame" into "index one frame per scene":
    * shots come from [[shotBoundaries]], the keyframe is the shot's
    * HIGHEST-QUALITY frame (PDQ gradient quality; ties to the earliest
    * frame). Downstream dedup/retrieval then runs on |shots| rows
    * instead of |frames| — the 100 TB video-archive move. Same single
    * clip-id exchange as the boundary pass plus one rank window per
    * (clip, shot); the rank is a WindowGroupLimit top-1, no per-shot
    * sort materializes beyond it.
    *
    * @param frames (id, frame_no, pdq_hex, quality)
    * @return (id, shot_no, keyframe_no, pdq_hex, quality) */
  def keyframes(frames: DataFrame, threshold: Int): DataFrame = {
    val shots = shotBoundaries(frames, threshold)
      .select(col("id"), col("frame_no"), col("shot_no"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "shot_no").orderBy(col("quality").desc, col("frame_no").asc)
    frames.join(shots, Seq("id", "frame_no"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("shot_no"), col("frame_no").as("keyframe_no"),
        col("pdq_hex"), col("quality"))
  }

  /** A resized grayscale image: target dimensions plus the row-major
    * luma plane. */
  final case class ResizedImage(id: Long, w: Int, h: Int, px: Array[Int])

  /** Standalone RESIZE — exact integer box downsample of each payload's
    * luma plane to `w2×h2` (the thumbnail/feature-extraction step of a
    * media pipeline, the same cell convention as the PDQ kernel's
    * 64×64 stage: source pixel (x, y) → cell (x·w2 div w, y·h2 div h),
    * cell value = floor of the cell mean). Deterministic end to end,
    * so the per-pixel values replay relationally — which is what the
    * gate pins. Partition-batched behind the [[PixelDecoder]] seam
    * like the other media kernels; requires every image ≥ the target
    * in both axes (fails loudly otherwise). */
  def resizeGray(items: Dataset[MediaItem], decode: PixelDecoder,
      w2: Int, h2: Int): Dataset[ResizedImage] = {
    require(w2 >= 1 && h2 >= 1, s"target dims must be >= 1, got ${w2}x$h2")
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.map { m =>
        val (w, h, rgb) = decode(m.payload)
        require(w >= w2 && h >= h2,
          s"image ${m.id} is ${w}x$h — smaller than the ${w2}x$h2 target")
        val sums = new Array[Long](w2 * h2)
        val counts = new Array[Long](w2 * h2)
        var y = 0
        while (y < h) {
          val cy = y * h2 / h
          var x = 0
          while (x < w) {
            val c = cy * w2 + x * w2 / w
            sums(c) += PdqHash.luma(rgb(y * w + x))
            counts(c) += 1L
            x += 1
          }
          y += 1
        }
        val px = Array.tabulate(w2 * h2)(i => (sums(i) / counts(i)).toInt)
        ResizedImage(m.id, w2, h2, px)
      }
    }
  }

  /** One hash for the WHOLE clip — per-bit MAJORITY pooling of the
    * per-frame PDQ hashes (the temporal-pooling idea of Meta's
    * TMK/PDQF video hashing, reduced to its deterministic bitwise
    * core): clip bit b is 1 iff strictly more than half the frames set
    * it (ties → 0). Two re-encodes of the same video with different
    * frame alignment mostly agree per bit, so clip hashes land within
    * small Hamming distance and the EXISTING 256-bit join tier
    * ([[PdqDuplicates]], banded joins) works unchanged on clips.
    * Shape: one shuffle on (clip, bit) — map-side combinable counts —
    * then the nibble/hex reassembly groups 64 rows per clip.
    *
    * @param frames (id, frame_no, pdq_hex)
    * @return (id, n_frames, clip_hex) — 64-char canonical hex */
  def clipHash(frames: DataFrame): DataFrame = {
    import graft.functions.HashFunctions.canonicalHex64
    val bits = frames
      .select(col("id"), canonicalHex64(col("pdq_hex")).as("hx"))
      .select(col("id"), col("hx"), explode(sequence(lit(0), lit(255))).as("p"))
      .select(col("id"), col("p"),
        expr("(CAST(conv(substring(hx, p div 4 + 1, 1), 16, 10) AS INT) >> (3 - p % 4)) & 1")
          .as("bit"))
    val maj = bits.groupBy("id", "p")
      .agg(sum("bit").as("ones"), count(lit(1)).as("n"))
      .select(col("id"), col("p"), col("n"),
        when(lit(2) * col("ones") > col("n"), 1).otherwise(0).as("mb"))
    maj
      .groupBy(col("id"), expr("p div 4").as("c"))
      .agg(max("n").as("n"),
        sum(expr("mb * (1 << (3 - p % 4))")).as("nv"))
      .groupBy("id")
      .agg(max("n").as("n_frames"),
        array_join(transform(array_sort(collect_list(struct(col("c"),
            expr("substring('0123456789abcdef', CAST(nv AS INT) + 1, 1)").as("hc")))),
          s => s.getField("hc")), "").as("clip_hex"))
  }

  /** PDQ hashes computed FROM PIXELS: payload → [[PixelDecoder]] →
    * [[PdqHash.hashImage]] (luma → 64×64 box downsample → 16×16 DCT →
    * median threshold), partition-batched like the other media kernels.
    * This is the capability the reference consumes but never computes
    * (`pdq_hash.py:1-20` takes hex strings as input); a user pointing
    * the engine at a raw media archive starts here.
    *
    * `keepUndecodable = true` turns decode/hash failures into
    * `(id, null, -1)` rows instead of failing the job — at 100 TB a
    * media archive WILL contain truncated and corrupt payloads, and
    * one bad file must not kill a stage. The null rows stay in the
    * output so callers count/quarantine them declaratively
    * (`filter($"pdq_hex".isNull)`, an `observe()` metric) rather than
    * losing them silently; the default stays fail-fast. */
  def pdqHashes(items: Dataset[MediaItem], decode: PixelDecoder = bmpPixelDecoder,
      keepUndecodable: Boolean = false): Dataset[PdqResult] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.map { m =>
        try {
          val (w, h, rgb) = decode(m.payload)
          val (hx, q) = graft.operators.PdqHash.hashImage(w, h, rgb)
          PdqResult(m.id, hx, q)
        } catch {
          case scala.util.control.NonFatal(e) if keepUndecodable =>
            PdqResult(m.id, null, -1L)
        }
      }
    }
  }

  case class ImageStats(id: Long, w: Long, h: Long,
      mean_r: Long, mean_g: Long, mean_b: Long,
      black_micro: Long, white_micro: Long,
      n_buckets: Long, top_bucket_micro: Long)

  /** Per-image color statistics — the cheap curation signals that
    * catch blank pages, monochrome screenshots, and dead thumbnails
    * BEFORE any hashing: per-channel integer means, near-black /
    * near-white pixel fractions (all channels < 16 / > 239), and the
    * 64-bucket (4 levels per channel) color occupancy — bucket count
    * plus the dominant bucket's share. A screenshot of a dialog box
    * shows 1–3 buckets with top share ≈ 1e6; a photo spreads wide.
    *
    * Exact integer arithmetic throughout (truncating means, half-up
    * micro ratios — the engine-shared rounding), so the DuckDB twin
    * replays every value from the pixel relation. Partition-batched
    * map-only decode like [[pdqHashes]]. */
  def imageStats(items: Dataset[MediaItem],
      decode: PixelDecoder = bmpPixelDecoder): Dataset[ImageStats] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.map { m =>
        val (w, h, rgb) = decode(m.payload)
        val n = rgb.length.toLong
        var sr = 0L; var sg = 0L; var sb = 0L
        var nb = 0L; var nw = 0L
        val buckets = new Array[Long](64)
        var i = 0
        while (i < rgb.length) {
          val p = rgb(i)
          val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
          sr += r; sg += g; sb += b
          if (r < 16 && g < 16 && b < 16) nb += 1
          if (r > 239 && g > 239 && b > 239) nw += 1
          buckets((r / 64) * 16 + (g / 64) * 4 + b / 64) += 1
          i += 1
        }
        // half-up micro ratio, the shared ratioScaled formula
        def micro(c: Long): Long = (2 * c * 1000000L + n) / (2 * n)
        var nbk = 0L; var top = 0L
        var j = 0
        while (j < 64) {
          if (buckets(j) > 0) nbk += 1
          if (buckets(j) > top) top = buckets(j)
          j += 1
        }
        ImageStats(m.id, w, h, sr / n, sg / n, sb / n,
          micro(nb), micro(nw), nbk, micro(top))
      }
    }
  }

  /** Column-level binary metadata (no decode needed): byte length and a
    * hex prefix — expressible natively, pushdown-friendly, and
    * oracle-replayable. */
  def binaryMeta(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      length(col(binCol)).cast("bigint").as("n_bytes"),
      // hex the payload then slice (first 8 bytes = 16 hex chars):
      // string-side slicing is portable, BLOB slicing is not
      substring(lower(hex(col(binCol))), 1, 16).as("prefix_hex")
    )
}
