package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PDQ-hash bit domain: hex codecs + Hamming distance.
  *
  * Reference semantics (`cir_duplicate_detector/pdq_dup_detect_algorithms/
  * utils.py`): a hash is a hex string of a 256-bit perceptual hash whose
  * leading zeros may have been stripped (`utils.py:32-52` zfill-pads the
  * binary form back to 256). Hashes LONGER than 256 bits are tolerated —
  * the rapidfuzz Hamming used at `utils.py:90-105` pads the shorter
  * operand, so the length delta counts fully toward the distance
  * (`tests/unit/test_pdq_hash.py:126-146`).
  *
  * Two representations:
  *  - fast path (every hash 1..64 hex chars, i.e. <= 256 bits): the
  *    canonical 64-char hex of [[canonicalHex64]]; Hamming is
  *    `HammingDistance(unhex(a), unhex(b))`, or the packed broadcast
  *    kernel `graft.plans.HammingKernelJoin` for all-pairs joins.
  *  - parity path (arbitrary length): the reference's binary-string
  *    domain via plain-Scala functions (UDF-wrapped by the caller).
  */
object HashFunctions {
  val PdqHashLength = 256

  // ---------------------------------------------------------------------
  // driver-side scalars
  // ---------------------------------------------------------------------

  /** `int(round(len * (1 - t)))` with Python's banker's rounding
    * (`utils.py:19-29`): `rint`, not `round` — half-to-even matters on
    * boundary thresholds (e.g. t=0.9 -> 25.6 -> 26, t=0.95 -> 12.8 -> 13,
    * t=0.96875 -> 8.0 exactly). */
  def absoluteThreshold(hashLength: Int, similarityThreshold: Double): Int =
    math.rint(hashLength * (1.0 - similarityThreshold)).toInt

  def validateThreshold(t: Double): Unit =
    require(t >= 0.0 && t <= 1.0, s"Threshold must be between 0.0 and 1.0, got $t")

  // ---------------------------------------------------------------------
  // parity path (arbitrary-length hex, reference binary-string domain)
  // ---------------------------------------------------------------------

  /** `hex_to_binary` (`utils.py:32-52`): binary digits of the hex value,
    * left-zero-padded to 256; empty in -> empty out. A >256-bit value
    * keeps its natural bit length (zfill never truncates). */
  def hexToBinaryString(hex: String): String = {
    if (hex == null) null
    else if (hex.isEmpty) ""
    else {
      val bin = new java.math.BigInteger(hex, 16).toString(2)
      if (bin.length >= PdqHashLength) bin
      else "0" * (PdqHashLength - bin.length) + bin
    }
  }

  /** rapidfuzz `Hamming.distance(..., pad=True)` (`utils.py:90-105`):
    * positional mismatches over the common prefix + the length delta. */
  def hammingPadded(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var d = math.abs(a.length - b.length)
    var i = 0
    while (i < n) {
      if (a.charAt(i) != b.charAt(i)) d += 1
      i += 1
    }
    d
  }

  // ---------------------------------------------------------------------
  // fast path (fixed 256-bit): native column expressions only
  // ---------------------------------------------------------------------

  /** Canonical 64-char lowercase hex. Only valid for hashes of <= 64 hex
    * chars — Spark's `lpad` truncates longer inputs, callers must route
    * oversized hashes to the parity path first. */
  def canonicalHex64(hex: Column): Column = lpad(lower(hex), 64, "0")

  /** Similarity normalization `1.0 - dist/256` (`pdq_hash.py:45`). */
  def similarity(dist: Column): Column =
    lit(1.0) - dist.cast("double") / lit(PdqHashLength.toDouble)

  // ---------------------------------------------------------------------
  // pigeonhole banding (the scale path; the "mih" idea the reference
  // stubbed at pdq_hash.py:218-220)
  // ---------------------------------------------------------------------

  /** Split a 64-char hex hash into `nBands` contiguous nibble-aligned
    * substrings with near-equal sizes. If two hashes differ in at most
    * `nBands - 1` BITS, at most `nBands - 1` nibbles differ, so at least
    * one band is identical (pigeonhole) — band-equality join yields a
    * complete candidate set for radius `nBands - 1`. Requires
    * `1 <= nBands <= 64`. Callers: `PdqDuplicates.bandedHashJoin`,
    * `StreamingDedup`'s band state keys, the `bands/` relation of the
    * old media-index layout in MediaIndexSpec's fixture, and the
    * `index_ingest` layer probe of perfbench. */
  def hexBands(hex64: Column, nBands: Int): Column = {
    require(nBands >= 1 && nBands <= 64, s"nBands must be in [1, 64], got $nBands")
    val cuts = (0 to nBands).map(j => 64 * j / nBands)
    val parts = (0 until nBands).map { j =>
      val start = cuts(j) + 1 // 1-based substr
      val len = cuts(j + 1) - cuts(j)
      struct(lit(j).as("band_id"), substring(hex64, start, len).as("band"))
    }
    array(parts: _*)
  }
}
