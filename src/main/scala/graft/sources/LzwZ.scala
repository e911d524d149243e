package graft.sources

import org.apache.commons.compress.compressors.z.ZCompressorInputStream

/** Unix `compress` (.Z, LZW) decoding — the wrapper of the pre-gzip
  * internet: usenet archives, old FTP mirrors and legacy institutional
  * dumps all carry `.tar.Z`. [[Archives.autoEntries]] routes the magic
  * like the other wrappers.
  *
  * Decoded by commons-compress 1.28 (`ZCompressorInputStream`): codes
  * growing 9→maxbits with the 8-code group padding at every width
  * change, CLEAR resets in block mode, and pre-1985 non-block-mode
  * files. The wrapper adds the header check (magic, maxbits 9..16 as
  * compress(1) writes them, so no larger table is ever allocated), the
  * [[MaxOutput]] cap, and refusals as `IllegalArgumentException`.
  * `LzwZSpec` pins byte-exact output against fixtures each proven by a
  * system-`uncompress` round trip (`tools/gen_lzw_z_fixtures.py`). */
object LzwZ {

  def decompress(p: Array[Byte]): Array[Byte] = {
    require(p.length >= 3 && (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x9d,
      "lzw: bad .Z magic")
    val maxbits = p(2) & 0x1f
    require(maxbits >= 9 && maxbits <= 16, s"lzw: maxbits $maxbits out of range (9..16)")
    Streams.drain("lzw", MaxOutput)(new ZCompressorInputStream(new java.io.ByteArrayInputStream(p)))
  }

  /** Hard cap on decompressed output — corrupt-header safety. */
  final val MaxOutput: Int = 1 << 30
}
