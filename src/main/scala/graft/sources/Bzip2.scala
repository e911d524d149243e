package graft.sources

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream

/** bzip2 stream decoding — the format the long-lived encyclopedia/wiki
  * dump ecosystem still distributes in (`*-pages-articles.xml.bz2`).
  *
  * Decoded by commons-compress 1.28 (on the Spark classpath): `BZh1`–
  * `BZh9` streams, multi-stream concatenation (pbzip2 output), the
  * deprecated randomized blocks Hadoop's java writer still emits, and
  * every block CRC plus the combined stream CRC verified; bytes after
  * the last stream that do not start another one refuse. The wrapper
  * adds the [[MaxOutput]] cap and refusals as
  * `IllegalArgumentException`. `Bzip2Spec` pins byte-exact output
  * against system-bzip2 compressions (`tools/gen_bzip2_fixtures.py`). */
object Bzip2 {

  /** Hard cap on total decompressed output — corrupt-header safety. */
  val MaxOutput: Int = 1 << 30

  def decompress(p: Array[Byte]): Array[Byte] =
    Streams.drain("bzip2", MaxOutput)(
      new BZip2CompressorInputStream(new java.io.ByteArrayInputStream(p), true))
}
