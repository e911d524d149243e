package graft.functions

import graft.SparkTestBase
import graft.plans.HammingDistance
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

class UrlFunctionsSpec extends SparkTestBase {
  import UrlFunctions._

  // goldens: reference tests/unit/test_url.py:28-47
  val goldens = Seq(
    "https://example.com/path;param1=val1?arg=value&arg2=value2#15213" ->
      "example.com/path;param1=val1?arg=value&arg2=value2",
    "http://hello.example.com/otherpath#page=123" -> "hello.example.com/otherpath",
    "https://example.com/path?differentarg=value#yes=no" -> "example.com/path?differentarg=value",
    "https://test123.anotherexample.com/path2?arg=value#42" -> "test123.anotherexample.com/path2?arg=value",
    "https://EXAMPLE.com/Path?arg=value" -> "example.com/path?arg=value",
    // conftest fixture urls (scheme-less / fragment variants)
    "example.com/path" -> "example.com/path",
    "https://example.com/path#1523" -> "example.com/path",
    "test.com/asdf?mode=yes#6124" -> "test.com/asdf?mode=yes",
    "https://test.com/asdf?mode=yes" -> "test.com/asdf?mode=yes"
  )

  test("extract_base_url goldens — scala function") {
    goldens.foreach { case (in, want) => assert(normalizeUrl(in) == want, s"input: $in") }
  }

  test("extract_base_url goldens — column expression") {
    import spark.implicits._
    val got = goldens.map(_._1).toDF("url")
      .select(normalizeUrl(col("url")))
      .collect()
      .map(_.getString(0))
      .toSeq
    assert(got == goldens.map(_._2))
  }

  test("normalize_url is idempotent on generated urls (SURVEY §5 property)") {
    val scheme = Gen.oneOf("", "http://", "https://", "ftp://", "HTTPS://")
    val host = Gen.oneOf("Example.com", "sub.test.org", "a-b.c", "x.io")
    val path = Gen.oneOf("", "/", "/p", "/P/q;param=1", "/p?a=1&b=2", "/p?a=1#frag", "#only-frag")
    val urlGen = for { s <- scheme; h <- host; p <- path } yield s + h + p
    val urls = org.scalacheck.Gen.listOfN(300, urlGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
    urls.foreach { u =>
      val once = normalizeUrl(u)
      assert(normalizeUrl(once) == once, s"not idempotent on: $u -> $once")
    }
  }
}

class HashFunctionsSpec extends SparkTestBase {
  import HashFunctions._

  // goldens: reference tests/unit/test_utils.py:101-141
  test("hex_to_binary goldens") {
    assert(hexToBinaryString("FF") == "0" * 248 + "11111111")
    assert(hexToBinaryString("ABCDEF") == "0" * 232 + "101010111100110111101111")
    assert(hexToBinaryString("1") == "0" * 255 + "1")
    assert(hexToBinaryString("0") == "0" * 256)
    assert(hexToBinaryString("") == "")
    // "black image" hash with stripped leading zeros (60 hex chars)
    val black = "1134000011342c4b00002c4b1134000000002c4b2c4b00002c4b8200554b"
    val want = "0000000000000000000100010011010000000000000000000001000100110100" +
      "0010110001001011000000000000000000101100010010110001000100110100" +
      "0000000000000000000000000000000000101100010010110010110001001011" +
      "0000000000000000001011000100101110000010000000000101010101001011"
    assert(hexToBinaryString(black) == want)
  }

  test("absolute threshold uses banker's rounding (utils.py:19-29)") {
    assert(absoluteThreshold(256, 0.9) == 26) // 25.6 -> 26
    assert(absoluteThreshold(256, 0.8) == 51) // 51.2 -> 51
    assert(absoluteThreshold(256, 1.0) == 0)
    assert(absoluteThreshold(256, 0.0) == 256)
    // half-to-even: 256*(1-0.998046875) = 0.5 -> 0 (python round(0.5)=0)
    assert(absoluteThreshold(256, 0.998046875) == 0)
    // 256*(1-0.994140625) = 1.5 -> 2
    assert(absoluteThreshold(256, 0.994140625) == 2)
  }

  test("hammingPadded: pad semantics for unequal lengths") {
    assert(hammingPadded("1010", "1010") == 0)
    assert(hammingPadded("1010", "1011") == 1)
    assert(hammingPadded("1010", "101000") == 2)
    assert(hammingPadded("", "111") == 3)
  }

  val hexGen: Gen[String] =
    Gen.listOfN(64, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)

  test("hamming_distance(unhex) == reference binary-string hamming") {
    import spark.implicits._
    val pairs = Gen.listOfN(200, Gen.zip(hexGen, hexGen)).sample.get
    val got = pairs.toDF("a", "b")
      .select(HammingDistance(unhex(col("a")), unhex(col("b"))))
      .collect().map(_.getInt(0)).toSeq
    val want = pairs.map { case (a, b) => hammingPadded(hexToBinaryString(a), hexToBinaryString(b)) }
    assert(got == want)
  }

  test("canonicalHex64 zero-pads like zfill for hamming_distance") {
    import spark.implicits._
    val short = "ff" // == 62 zeros + ff
    val full = "00" * 31 + "ff"
    val got = Seq((short, full)).toDF("a", "b")
      .select(HammingDistance(unhex(canonicalHex64(col("a"))), unhex(canonicalHex64(col("b")))))
      .head().getInt(0)
    assert(got == 0)
  }

  test("pigeonhole: dist <= n implies some band equal") {
    import spark.implicits._
    val n = 26
    val base = hexGen.sample.get
    // flip exactly n bits spread across the hash
    val bits = new java.math.BigInteger(base, 16)
    val flipped = (0 until n).foldLeft(bits)((acc, i) => acc.flipBit((i * 9) % 256))
    val flippedHex = {
      val s = flipped.toString(16)
      "0" * (64 - s.length) + s
    }
    val bandsOf = (h: String) =>
      Seq(h).toDF("h").select(explode(hexBands(col("h"), n + 1)).as("b"))
        .select("b.band_id", "b.band").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(bandsOf(base).intersect(bandsOf(flippedHex)).nonEmpty)
  }

  test("canonicalUrl: www/ports/slash/tracking/param-order all collapse; real ports survive") {
    import spark.implicits._
    val cases = Seq(
      // every spelling of the same resource -> one canonical form
      "https://www.Shop.example.com:443/item/5/?utm_source=x&b=2&a=1#frag" -> "shop.example.com/item/5?a=1&b=2",
      "http://shop.example.com:80/item/5?a=1&b=2" -> "shop.example.com/item/5?a=1&b=2",
      "shop.example.com/item/5?b=2&utm_campaign=z&a=1" -> "shop.example.com/item/5?a=1&b=2",
      // non-default port survives; all-tracking query drops entirely
      "https://shop.example.com:8080/x?gclid=123&fbclid=9" -> "shop.example.com:8080/x",
      // bare query key and ref param
      "https://a.com/p?ref=t&z=1&" -> "a.com/p?z=1",
      // no query, root slash
      "https://www.a.com/" -> "a.com"
    )
    cases.foreach { case (in, want) =>
      val got = Seq(in).toDF("u").select(UrlFunctions.canonicalUrl(col("u"))).collect().head.getString(0)
      assert(got == want, s"input: $in got: $got")
    }
    // null-safe
    assert(Seq(Option.empty[String]).toDF("u")
      .select(UrlFunctions.canonicalUrl(col("u"))).collect().head.isNullAt(0))
  }
}
