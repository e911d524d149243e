package graft.sources

/** Shared tail of the library-backed decoders ([[Xz]], [[Zstd]],
  * [[Bzip2]], [[LzwZ]], [[Packages]]): drain a decoding stream into
  * memory under an output cap (the libraries have none), and turn the
  * library's `IOException`s into the `IllegalArgumentException`
  * refusals the `keepCorrupt` tiers quarantine, prefixed with the
  * codec name. */
private[sources] object Streams {

  /** Read `in` to its end; more than `cap` bytes refuses. `in` is
    * opened inside the guard, so header errors refuse the same way. */
  def drain(codec: String, cap: Int)(in: => java.io.InputStream): Array[Byte] =
    refusing(codec) {
      val s = in
      try {
        val out = s.readNBytes(cap)
        require(s.read() < 0, s"$codec: output exceeds the ${cap >> 20} MiB cap")
        out
      } finally s.close()
    }

  /** Run `body`, rethrowing a library `IOException` as a refusal. */
  def refusing[T](codec: String)(body: => T): T =
    try body
    catch {
      case e: java.io.EOFException if e.getMessage == null =>
        throw new IllegalArgumentException(s"$codec: truncated input", e)
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"$codec: ${e.getMessage}", e)
    }
}
