package graft.sources

import com.github.luben.zstd.{ZstdDecompressCtx, ZstdDictDecompress, ZstdException, ZstdInputStream, Zstd => LibZstd}

/** Zstandard (RFC 8878) decoding — the compression format modern crawl
  * dumps actually ship in (`.warc.zst` replaced `.warc.gz` at the major
  * crawl archives).
  *
  * Decoded by zstd-jni (libzstd, on the Spark classpath): every block
  * and entropy mode, multi-frame concatenation, skippable frames, the
  * content checksum (verified), and dictionary frames (RFC 8878 §5,
  * `zstd --train` / `-D`) through [[parseDictionary]]. The wrapper
  * walks the frame headers first and adds what the library lacks: a
  * frame that declares a dictionary id refuses with "dictionary
  * required" without a dictionary and "dictionary id mismatch" under
  * the wrong one (libzstd reports both as one "Dictionary mismatch");
  * a declared content size over [[MaxOutput]] refuses before anything
  * is allocated; a truncated frame refuses before decoding starts; the
  * decoded total is capped at [[MaxOutput]], and so is the window
  * (libzstd's own default stops at 128 MiB, below `zstd --long=28`).
  * Small payloads whose frames declare their sizes decode through a
  * per-thread native context, larger ones stream. `ZstdSpec` pins
  * byte-exact output against system-zstd compressions
  * (`tools/gen_zstd_fixtures.py`).
  * [[encodeRawFrames]] is the store-mode writer gates use to
  * synthesize inputs. */
object Zstd {

  private val Magic = 0xFD2FB528
  private val SkippableMin = 0x184D2A50
  private val SkippableMax = 0x184D2A5F
  private val DictMagic = 0xEC30A437

  /** Hard cap on decoded output — local safety valve against corrupt
    * headers (callers decode one archive member at a time; a 100 TB
    * dump is many frames, not one). */
  val MaxOutput: Int = 1 << 30

  private def u32le(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) | ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)

  /** Decompress a (possibly multi-frame) zstd payload. */
  def decompress(p: Array[Byte]): Array[Byte] = decompress(p, null)

  /** Decompress with an optional dictionary. A frame that declares a
    * Dictionary_ID refuses without the right dictionary. */
  def decompress(p: Array[Byte], dict: Dict): Array[Byte] = {
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)] // start, length, content size
    var at = 0
    while (at < p.length) {
      require(at + 4 <= p.length, "zstd: truncated magic")
      val magic = u32le(p, at)
      val skippable = magic >= SkippableMin && magic <= SkippableMax
      val size =
        if (skippable) 0L
        else {
          require(magic == Magic, f"zstd: bad magic 0x$magic%08x")
          checkHeader(p, at, dict)
        }
      val len = try LibZstd.findFrameCompressedSize(p, at).toInt
      catch {
        case e: ZstdException =>
          throw new IllegalArgumentException(s"zstd: frame at $at truncated or corrupt (${e.getMessage})", e)
      }
      if (!skippable) frames += ((at, len, size))
      at += len
    }
    val declared = frames.map(_._3)
    if (declared.forall(_ >= 0) && declared.sum <= OneShotMax) decodeOneShot(p, frames.toSeq, dict)
    else Streams.drain("zstd", MaxOutput) {
      val in = new ZstdInputStream(new java.io.ByteArrayInputStream(p))
      in.setLongMax(30) // windows up to the 1 GiB output cap (`zstd --long=30`)
      if (dict != null) in.setDict(dict.ddict)
      in
    }
  }

  /** Payloads whose frames all declare a content size totalling at most
    * this decode into one array of that size through a per-thread
    * context; the rest stream. The array comes from the headers, so
    * the bound is also what a crafted header can make a call allocate
    * up front. */
  private val OneShotMax = 1 << 20

  /** A native decoder context is costlier to create (~0.1 ms) than a
    * WARC record body is to decode, so each thread keeps one. */
  private val contexts = ThreadLocal.withInitial[ZstdDecompressCtx](() => new ZstdDecompressCtx())

  private def decodeOneShot(p: Array[Byte], frames: Seq[(Int, Int, Long)], dict: Dict): Array[Byte] = {
    val out = new Array[Byte](frames.map(_._3).sum.toInt)
    val ctx = contexts.get()
    try {
      if (dict != null) ctx.loadDict(dict.ddict)
      var o = 0
      for ((start, len, size) <- frames) {
        val n = ctx.decompressByteArray(out, o, size.toInt, p, start, len)
        require(n == size, s"zstd: frame at $start decoded $n of its declared $size bytes")
        o += n
      }
      out
    } catch {
      case e: ZstdException => throw new IllegalArgumentException(s"zstd: ${e.getMessage}", e)
    } finally ctx.reset() // drops the dictionary reference with the session
  }

  /** Dictionary id and declared content size (-1 when absent) of the
    * frame at `at`; a frame header is at most 18 bytes. */
  private def checkHeader(p: Array[Byte], at: Int, dict: Dict): Long = {
    val head = java.util.Arrays.copyOfRange(p, at, math.min(p.length, at + 18))
    val did = LibZstd.getDictIdFromFrame(head).toInt
    if (did != 0) {
      require(dict != null, f"zstd: frame declares dictionary 0x$did%08x — dictionary required")
      require(did == dict.id, f"zstd: dictionary id mismatch (frame 0x$did%08x, dict 0x${dict.id}%08x)")
    }
    val size = LibZstd.getFrameContentSize(head, 0, head.length, false)
    require(size <= MaxOutput, s"zstd: declared content $size > cap")
    size
  }

  /** A loaded `zstd --train` dictionary and its id. */
  final class Dict private[sources] (val id: Int, private[sources] val ddict: ZstdDictDecompress)

  /** Load a `zstd --train` dictionary (magic, id, entropy tables,
    * content); libzstd refuses corrupt entropy tables here. */
  def parseDictionary(d: Array[Byte]): Dict = {
    require(d.length >= 8 && u32le(d, 0) == DictMagic, "zstd: bad dictionary magic")
    new Dict(u32le(d, 4), new ZstdDictDecompress(d))
  }

  /** Store-mode encoder: a valid single-segment frame of raw blocks.
    * This is the TRANSPORT shape (gates round-trip corpus-derived
    * payloads through the real frame/block walk at runtime). */
  def encodeRawFrames(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    w32(Magic)
    val n = data.length
    if (n < 256) { out.write(0x20); out.write(n) } // FCS flag 0 + single-segment
    else if (n < 65536 + 256) {
      out.write(0x60); out.write((n - 256) & 0xff); out.write(((n - 256) >> 8) & 0xff)
    } else { out.write(0xa0); w32(n) }
    val blockMax = 128 * 1024
    var at = 0
    do {
      val len = math.min(blockMax, n - at)
      val lastBit = if (at + len == n) 1 else 0
      val bh = (len << 3) | lastBit // block type 0 = raw
      out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
      out.write(data, at, len)
      at += len
    } while (at < n)
    out.toByteArray
  }
}
