package perfbench

import scala.collection.mutable

/** Plain-JVM twins of the workloads' input generators and brute-force
  * expected outputs. Nothing here calls the program: URLs are normalized
  * by the reference rule (lowercase, strip `scheme://`, strip the
  * fragment), distances are popcounts over the 256 hash bits, and every
  * hash pair is compared. */
object Gen {
  /** Modulus of the order-independent edge checksum. */
  val P: Long = 2147483647L

  final case class Edges(n: Long, nUrl: Long, s1: Long, s2: Long)

  private val md = java.security.MessageDigest.getInstance("MD5")

  def md5(s: String): String =
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def hash(salt: String, key: Long): String = {
    val k = salt + key
    md5(k) + md5(k + "x")
  }

  def flip(h: String): String = h.substring(0, 63) + (if (h.charAt(63) == '0') "1" else "0")

  /** 64 hex chars -> four 64-bit words. */
  def words(h: String): Array[Long] =
    Array.tabulate(4)(i => java.lang.Long.parseUnsignedLong(h.substring(i * 16, i * 16 + 16), 16))

  def dist(a: Array[Long], b: Array[Long]): Int =
    java.lang.Long.bitCount(a(0) ^ b(0)) + java.lang.Long.bitCount(a(1) ^ b(1)) +
      java.lang.Long.bitCount(a(2) ^ b(2)) + java.lang.Long.bitCount(a(3) ^ b(3))

  def normalizeUrl(url: String): String = {
    val noScheme = url.toLowerCase.replaceFirst("^[a-z][a-z0-9+.-]*://", "")
    val f = noScheme.indexOf('#')
    if (f >= 0) noScheme.substring(0, f) else noScheme
  }

  /** Accumulates the checksum that `Workloads.edgeChecksum` computes in
    * Spark. `dist` is -1 for url edges. */
  final class EdgeSum {
    var n, nUrl, s1, s2 = 0L
    def add(index: Long, partner: Long, dist: Int): Unit = {
      val pdq = dist >= 0
      val key = ((index * (1L << 20) + partner) * 512 + (if (pdq) dist else 0)) * 2 + (if (pdq) 1 else 0)
      val k = key % P
      n += 1; if (!pdq) nUrl += 1
      s1 += k; s2 += k * k % P
    }
    def result: Edges = Edges(n, nUrl, s1, s2)
  }

  /** Directed edges among rows grouped by hash: every pair of distinct
    * hashes within `radius` (a hash pairs with itself at distance 0)
    * links every row of one to every other row of the other. */
  private def hashEdges(ids: Map[String, Seq[Long]], radius: Int, acc: EdgeSum): Unit = {
    val hs = ids.keys.toArray
    val ws = hs.map(words)
    var i = 0
    while (i < hs.length) {
      var j = i
      while (j < hs.length) {
        val d = dist(ws(i), ws(j))
        if (d <= radius) {
          for (a <- ids(hs(i)); b <- ids(hs(j)) if a != b) {
            acc.add(a, b, d)
            if (i != j) acc.add(b, a, d)
          }
        }
        j += 1
      }
      i += 1
    }
  }

  def detectArchiveEdges(seed: Long, rows: Int, urlGroups: Int, pdqGroups: Int, radius: Int): Edges = {
    val acc = new EdgeSum
    val byUrl = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    val byHash = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    for (id <- 0L until rows) {
      val u = id % urlGroups
      val host = "shop-" + md5(s"$seed/u/$u").substring(0, 10) + ".example.com"
      val url = (if (id % 3 == 0) "https://" else if (id % 3 == 1) "http://" else "") +
        (if (id % 5 == 0) host.toUpperCase else host) + "/item/" + u +
        (if (id % 4 == 0) s"#sec$id" else "")
      byUrl.getOrElseUpdate(normalizeUrl(url), mutable.ArrayBuffer.empty) += id
      val base = hash(s"$seed/p/", id / (rows / pdqGroups))
      byHash.getOrElseUpdate(if (id % 5 == 0) flip(base) else base, mutable.ArrayBuffer.empty) += id
    }
    for (members <- byUrl.values; a <- members; b <- members if a != b) acc.add(a, b, -1)
    hashEdges(byHash.view.mapValues(_.toSeq).toMap, radius, acc)
    acc.result
  }

  def fuzzyRadiusEdges(seed: Long, hashes: Int, radius: Int): Edges = {
    val acc = new EdgeSum
    val salt = s"$seed/f/"
    val hs = (0L until hashes).map { id =>
      val h = if (id % 997 == 0) flip(hash(salt, id)) else if (id % 997 == 1) hash(salt, id - 1) else hash(salt, id)
      h -> id
    }
    hashEdges(hs.groupMap(_._1)(_._2), radius, acc)
    acc.result
  }

  /** Stride between the corpus ids the classify batch copies. */
  def batchStride(corpus: Int): Long = corpus / 200L

  /** Brute-force classify: batch id -> (status, best corpus id or -1,
    * best distance or -1), best = smallest (distance, corpus id). */
  def classify(seed: Long, corpus: Int, batch: Int, radius: Int): Map[Long, (String, Long, Long)] = {
    val cw = Array.tabulate(corpus)(i => words(hash(s"$seed/c/", i.toLong)))
    (0L until batch).map { i =>
      val copied = hash(s"$seed/c/", i * batchStride(corpus))
      val h = if (i < 100) copied else if (i < 200) flip(copied) else hash(s"$seed/n/", i)
      val w = words(h)
      var best = (Int.MaxValue, -1L)
      var c = 0
      while (c < corpus) {
        val d = dist(w, cw(c))
        if (d < best._1) best = (d, c.toLong)
        c += 1
      }
      i -> (if (best._1 > radius) ("novel", -1L, -1L)
            else (if (best._1 == 0) "exact" else "near", best._2, best._1.toLong))
    }.toMap
  }

  /** Order-independent checksum of a classify result. */
  def classifyChecksum(rows: Map[Long, (String, Long, Long)]): (Long, Long, Long, Long) = {
    val acc = new EdgeSum
    rows.foreach { case (id, (status, best, d)) =>
      acc.add(id * 4 + (status match { case "exact" => 0 case "near" => 1 case _ => 2 }), best + 1, d.toInt + 1)
    }
    val e = acc.result
    (e.n, e.nUrl, e.s1, e.s2)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) 0L
    else f.length()
}

/** Checksums for the default seed, derived once with DuckDB by
  * `perfbench/oracle.py` from SQL twins of the generators and of the
  * program's duplicate and classify semantics; a third, independent
  * check beside the plain-JVM brute force. */
object Pinned {
  val detectArchive: Map[Long, (Long, Long, Long, Long)] = Map(1L -> (5920000L, 1960000L, 3299573574280000L, 6353411235569452L))
  val fuzzyRadius: Map[Long, (Long, Long, Long, Long)] = Map(1L -> (18L, 0L, 9737228422L, 20057273126L))
  val indexIngest: Map[Long, (Long, Long, Long, Long)] = Map(1L -> (300L, 0L, 108189582084L, 207399501503L))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
