package graft.sources

import org.apache.commons.compress.archivers.sevenz.{SevenZFile => LibSevenZFile}
import org.apache.commons.compress.PasswordRequiredException
import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
import org.apache.spark.sql.Dataset
import org.tukaani.xz.{ArrayCache, BasicArrayCache}

/** 7z archive reading — a top-three dump container in the wild: wiki
  * mirrors, dataset releases, scraped-forum archives.
  *
  * Decoded by commons-compress 1.28's `SevenZFile` (on the Spark
  * classpath; LZMA/LZMA2 and the delta/BCJ filters through xz-java):
  * plain and LZMA-encoded headers, solid folders split into
  * substreams, empty files and directories, and every declared CRC
  * (start header, next header, substream) verified. The wrapper adds
  * the [[Xz.MaxOutput]] cap per entry (a declared size over it refuses
  * before decoding; entries are read into buffers grown with the
  * decoded bytes, never sized from the header), the [[Xz.MaxWindow]]
  * dictionary limit, entries
  * read in archive order (directories skipped, empty files kept as
  * zero-byte payloads), and refusals as `IllegalArgumentException` that
  * name what is missing: AES-256 (no password support), BCJ2
  * (multi-stream coders) and unknown coders.
  *
  * Golden validation: `SevenZSpec` writes real archives with
  * commons-compress's `SevenZOutputFile` across the coder matrix, plus
  * an encoded-header re-mux, and pins the entries byte-exact. The read
  * grain is one archive per task (map-only flatMap), the
  * [[Archives.entries]] contract; [[Archives.autoEntries]] routes the
  * magic. */
object SevenZ {

  final val Magic: Array[Byte] = Array('7', 'z', 0xbc, 0xaf, 0x27, 0x1c).map(_.toByte)

  def isSevenZ(p: Array[Byte]): Boolean =
    p.length >= 32 && (0 until 6).forall(i => p(i) == Magic(i))

  /** xz-java's process-wide default array cache, the one
    * commons-compress's LZMA and LZMA2 coders use (`SevenZFile` takes
    * no cache). Inside [[extract]] a thread reuses dictionaries instead
    * of allocating and zeroing one per archive (8 MiB at
    * commons-compress's default, 64 MiB at 7-Zip's -mx9: about 1 ms
    * for a tiny archive); everywhere else it allocates, as xz-java's
    * own default does. The arrays lent during a call go back when it
    * ends: the coders return theirs only when they read their end
    * marker, which an entry-bounded read never does. A reused array's
    * last byte is cleared: xz-java 1.10's `LZMAInputStream` reads it
    * as the first literal's context without resetting it. */
  private object Dictionaries extends BasicArrayCache {
    private val lent = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Array[Byte]]]
    ArrayCache.setDefaultCache(this)

    def within[T](body: => T): T = {
      val mine = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      lent.set(mine)
      try body
      finally {
        lent.remove()
        mine.foreach(super.putArray)
      }
    }

    override def getByteArray(size: Int, fillWithZeros: Boolean): Array[Byte] = {
      val mine = lent.get
      if (mine == null) new Array[Byte](size)
      else {
        val b = super.getByteArray(size, fillWithZeros)
        if (size > 0) b(size - 1) = 0
        mine += b
        b
      }
    }
    override def putArray(array: Array[Byte]): Unit = ()
    override def getIntArray(size: Int, fillWithZeros: Boolean): Array[Int] = new Array[Int](size)
    override def putArray(array: Array[Int]): Unit = ()
  }

  /** Extract all entries (name -> bytes); directories skipped, empty
    * files yielded as zero-byte payloads. Every declared CRC verified. */
  def extract(p: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(isSevenZ(p), "7z: bad signature magic")
    Dictionaries.within(try {
      val z = LibSevenZFile.builder()
        .setSeekableByteChannel(new SeekableInMemoryByteChannel(p))
        .setMaxMemoryLimitKiB(Xz.MemoryLimitKiB)
        .get()
      try {
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
        val chunk = new Array[Byte](1 << 16)
        var e = z.getNextEntry
        while (e != null) {
          if (!e.isDirectory) {
            require(e.getSize <= Xz.MaxOutput, s"7z: entry size ${e.getSize} > cap")
            // grown with what decodes, not sized from the header: a
            // crafted size must not allocate; the entry CRC is checked
            // when the read reaches the declared end
            val b = new java.io.ByteArrayOutputStream(math.min(e.getSize, 1L << 16).toInt)
            var r = z.read(chunk)
            while (r >= 0) { b.write(chunk, 0, r); r = z.read(chunk) }
            require(b.size == e.getSize, s"7z: entry '${e.getName}' truncated")
            out += ((Option(e.getName).getOrElse(s"entry_${out.size}"), b.toByteArray))
          }
          e = z.getNextEntry
        }
        out.toSeq
      } finally z.close()
    } catch {
      case e: PasswordRequiredException =>
        throw new IllegalArgumentException("7z: AES-256 encrypted archive refused (no password support)", e)
      case e: java.io.IOException if String.valueOf(e.getMessage).startsWith("Multi input/output") =>
        throw new IllegalArgumentException("7z: multi-stream coders (BCJ2) unsupported — refused by name", e)
      case e: java.io.IOException if String.valueOf(e.getMessage).startsWith("Unsupported compression method") =>
        throw new IllegalArgumentException(s"7z: coder unsupported, refused by name (${e.getMessage})", e)
      case e: java.io.IOException => throw new IllegalArgumentException(s"7z: ${e.getMessage}", e)
    })
  }

  final case class SevenZFile(id: Long, bytes: Array[Byte])
  final case class SevenZEntry(id: Long, entry: String, payload: Array[Byte], error: String)

  /** Map-only extraction; corrupt archives quarantine to a marker row
    * under `keepCorrupt` ([[Archives.entries]] contract). */
  def entries(files: Dataset[SevenZFile], keepCorrupt: Boolean = false): Dataset[SevenZEntry] = {
    import files.sparkSession.implicits._
    files.flatMap { f =>
      try extract(f.bytes).map { case (n, b) => SevenZEntry(f.id, n, b, null) }
      catch {
        case scala.util.control.NonFatal(e) if keepCorrupt =>
          Seq(SevenZEntry(f.id, null, null, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }
}
