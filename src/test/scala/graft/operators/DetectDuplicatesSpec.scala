package graft.operators

import graft.{Fixtures, SparkTestBase}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Ports of reference tests/unit/test_duplicate_detection.py. */
class DetectDuplicatesSpec extends SparkTestBase {

  for (method <- Seq("naive", "bk-tree")) {
    test(s"[$method] end-to-end both columns (test_duplicate_detection.py:9-12)") {
      val got = DetectDuplicates(Fixtures.sampleData(spark), similarityThreshold = Fixtures.threshold, method = method)
      assert(rows(got) == Fixtures.expectedDetect)
    }
  }

  test("url-only input (test_duplicate_detection.py:15-23)") {
    val got = DetectDuplicates(Fixtures.sampleData(spark).select("index", "url"))
    val want = Fixtures.expectedUrl.map(r => Seq(r(0), r(1), null, null))
    assert(rows(got) == want)
  }

  test("pdq-only input (test_duplicate_detection.py:26-34)") {
    val got = DetectDuplicates(
      Fixtures.sampleData(spark).select("index", "pdq_hash"),
      similarityThreshold = Fixtures.threshold
    )
    val want = Fixtures.expectedPdq.map(r => Seq(r(0), null, r(1), r(2)))
    assert(rows(got) == want)
  }

  test("missing url and pdq_hash columns raises (test_duplicate_detection.py:53-60)") {
    intercept[IllegalArgumentException](DetectDuplicates(Fixtures.sampleData(spark).select("index")))
  }

  test("missing index raises (test_duplicate_detection.py:62-68)") {
    intercept[IllegalArgumentException](DetectDuplicates(Fixtures.sampleData(spark).select("url")))
  }

  test("non-unique index raises (test_duplicate_detection.py:82-88)") {
    val rs = Fixtures.sampleRows ++ Fixtures.sampleRows.take(1)
    intercept[IllegalArgumentException](DetectDuplicates(Fixtures.sampleData(spark, rs)))
  }

  test("empty frame -> empty result (test_duplicate_detection.py:71-79)") {
    val got = DetectDuplicates(Fixtures.sampleData(spark, Nil), similarityThreshold = Fixtures.threshold)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("index", "url_duplicates", "pdq_hash_duplicates", "pdq_hash_similarities"))
  }

  test("all-NA rows yield empty (test_duplicate_detection.py:91-103)") {
    val rs = Fixtures.sampleRows.map(r => Row(r.getString(0), null, null))
    assert(DetectDuplicates(Fixtures.sampleData(spark, rs)).count() == 0)
  }

  test("checked index whose data is NA (test_duplicate_detection.py:106-120)") {
    val rs = Fixtures.sampleRows.map {
      case Row("UW0004", _, _) => Row("UW0004", null, null)
      case r                   => r
    }
    val got = DetectDuplicates(
      Fixtures.sampleData(spark, rs),
      indexesToCheck = Some(Seq("UW0004")),
      similarityThreshold = Fixtures.threshold
    )
    assert(got.count() == 0)
  }

  test("10k-row integration: synthetic far rows leave goldens unchanged (integration test)") {
    // tests/integration/test_large_duplicate_detection.py:6-38, scaled
    // down (1k synthetic rows keeps the suite fast; same construction).
    val nSynth = 1000
    val synth = (0 until nSynth).map { i =>
      val v = (BigInt(i) * (BigInt(10).pow(60) / nSynth)).toString(16)
      val hex = "0" * (64 - v.length) + v
      Row(f"SY$i%05d", s"https://example.com/$i", Seq(hex))
    }
    val got = DetectDuplicates(
      Fixtures.sampleData(spark, Fixtures.sampleRows ++ synth),
      similarityThreshold = Fixtures.threshold,
      method = "bk-tree"
    )
    assert(rows(got) == Fixtures.expectedDetect)
  }

  /** The frame `build` returns, the Spark jobs it started while building
    * it, and the bytes their result tasks sent to the driver, counted by
    * a listener on a job group of their own. */
  private def construct(build: => DataFrame): (DataFrame, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"construct-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(p => String.valueOf(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          if (g == group) e.stageIds.foreach(stages.add(_))
          seen.add(g)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construct")
      val df = try build finally sc.clearJobGroup()
      // the bus delivers events in order: once this marker job is seen,
      // so is every job and task the build started
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(s"$group-end"), "listener events did not arrive")
      (df, seen.toArray.count(_ == group), bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  private def constructJobs(build: => DataFrame): (DataFrame, Int) = {
    val (df, jobs, _) = construct(build)
    (df, jobs)
  }

  private def withHash(index: String)(f: String => String): Seq[Row] = Fixtures.sampleRows.map {
    case Row(`index`, u, h: Seq[_]) => Row(index, u, Seq(f(h.head.asInstanceOf[String])))
    case r                          => r
  }

  private def pdqEdges(df: DataFrame): Seq[Seq[Any]] =
    rows(df.filter(col("kind") === "pdq").select("index", "partner", "similarity"))

  test("one fact query: no detection scan without assumeFixed256; 65-char and non-hex hashes take the parity path") {
    val input = Fixtures.sampleData(spark)
    val (fixed, fixedJobs) = constructJobs(DetectDuplicates.edges(input, similarityThreshold = Fixtures.threshold,
      assumeFixed256 = true))
    val (detected, detectedJobs) = constructJobs(DetectDuplicates.edges(input,
      similarityThreshold = Fixtures.threshold))
    assert(detectedJobs == fixedJobs, s"$detectedJobs construct jobs without assumeFixed256, $fixedJobs with it")
    assert(rows(detected) == rows(fixed))

    // 65 chars: the fixed path would truncate the hash to its first 64
    val long = Fixtures.sampleData(spark, withHash("UW0004")(_ + "0"))
    val got = DetectDuplicates.edges(long, similarityThreshold = Fixtures.threshold)
    assert(!got.queryExecution.executedPlan.toString.contains("HammingKernelJoin"))
    val parity = PdqDuplicates.edges(long.select("index", "pdq_hash"), similarityThreshold = Fixtures.threshold)
    val truncated = PdqDuplicates.edges(long.select("index", "pdq_hash"), similarityThreshold = Fixtures.threshold,
      assumeFixed256 = true)
    assert(pdqEdges(got) == rows(parity))
    assert(rows(parity) != rows(truncated), "the input does not tell the two paths apart")

    // non-hex: the parity path's parse refuses it when the query runs;
    // the kernel would refuse it while the frame is built
    val bad = DetectDuplicates.edges(Fixtures.sampleData(spark, withHash("UW0006")("zz" + _.drop(2))),
      similarityThreshold = Fixtures.threshold)
    assert(!bad.queryExecution.executedPlan.toString.contains("HammingKernelJoin"))
    intercept[org.apache.spark.SparkException](bad.collect())
  }

  test("bounded fact query: more distinct hashes than its bound cannot crowd out a repeated index") {
    // a kernel cap of 5 bounds the fact query at 20 indexes + 6 hashes
    val rs = (0 until 100).map { i =>
      val v = (BigInt(i + 1) * (BigInt(10).pow(60) / 100)).toString(16)
      Row(f"R$i%03d", s"https://example.com/$i", Seq("0" * (64 - v.length) + v))
    }
    spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, "5")
    try {
      val e = intercept[IllegalArgumentException](DetectDuplicates.edges(
        Fixtures.sampleData(spark, rs :+ Row("R042", "https://example.com/x", Seq("f" * 64))),
        similarityThreshold = Fixtures.threshold))
      assert(e.getMessage.contains("The DataFrame indexes are not unique") && e.getMessage.contains("R042"),
        e.getMessage)
    } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
  }

  test("bounded fact query: over 50 partitions, the driver gets about its bound of hashes, not every distinct one") {
    // 200,000 distinct hashes, 4,000 per shuffle partition: under a
    // kernel cap of 5,000 each partition holds fewer than the fact
    // query's bound. Past the cap, radius 64 takes the predicate join,
    // which starts no job of its own while the frame is built
    val input = spark.range(0, 200000, 1, 8)
      .select(col("id").cast("string").as("index"), array(sha2(col("id").cast("string"), 256)).as("pdq_hash"))
    val confs = Seq(PdqDuplicates.KernelMaxCorpusKey -> "5000", "spark.sql.shuffle.partitions" -> "50",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (got, _, bytes) = construct(DetectDuplicates.edges(input, similarityThreshold = 0.75))
      // every distinct hash is 64 chars: shipping them all is over 12 MB.
      // Each result task also sends ~12 KB of metrics
      assert(bytes < 200000L * 64 / 4, s"$bytes result bytes reached the driver")
      assert(!got.queryExecution.executedPlan.toString.contains("HammingKernelJoin"))
      val e = intercept[IllegalArgumentException](DetectDuplicates.edges(
        input.union(input.filter(col("index") === "123456")), similarityThreshold = 0.75))
      assert(e.getMessage.contains("The DataFrame indexes are not unique") && e.getMessage.contains("123456"),
        e.getMessage)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("the kernel sees distinct hashes, not rows: 1,000 rows over 100 hashes fit a kernel cap of 100") {
    // 50 base hashes, and a one-nibble variant of each on every 7th row.
    // The plan estimates 0.7 distinct hashes per input row, 700 here:
    // over 4x the cap, where a pre-distinct estimate gives up the kernel
    val id = col("id")
    val g = (id % 50).cast("string")
    val base = concat(md5(g), md5(concat(g, lit("x"))))
    val h = when(id % 7 === 0, concat(substring(base, 1, 63),
      when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
    val input = spark.range(0, 1000, 1, 4).select(id.cast("string").as("index"), array(h).as("pdq_hash"))
    val hashes = input.collect().map(r => r.getString(0) -> r.getSeq[String](1).head)
    assert(hashes.map(_._2).distinct.length <= 100)
    spark.conf.set(PdqDuplicates.KernelMaxCorpusKey, "100")
    try {
      val got = DetectDuplicates.edges(input, similarityThreshold = 0.98, method = "auto")
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("HammingKernelJoin maxDist=5"), plan)
      def dist(a: String, b: String) =
        new java.math.BigInteger(a, 16).xor(new java.math.BigInteger(b, 16)).bitCount
      val want = for {
        (a, ha) <- hashes.toSeq; (b, hb) <- hashes.toSeq
        d = dist(ha, hb) if a != b && d <= 5
      } yield Seq(a, b, 1.0 - d / 256.0)
      assert(pdqEdges(got) == want.sortBy(_.mkString("|")))
    } finally spark.conf.unset(PdqDuplicates.KernelMaxCorpusKey)
  }

  for (mode <- Seq("none", "local"))
    test(s"literal empty frame warns for both series and the fixture's rows hold [materialize=$mode]") {
      import spark.implicits._
      @volatile var warned = List.empty[String]
      spark.conf.set(Materialize.ModeKey, mode)
      Warnings.onWarning(m => warned ::= m)
      try {
        val empty = Seq.empty[(String, String, Seq[String])].toDF("index", "url", "pdq_hash")
        val got = DetectDuplicates(empty, similarityThreshold = Fixtures.threshold)
        assert(got.count() == 0)
        assert(got.columns.toSeq == DetectDuplicates.outputSchema.fieldNames.toSeq)
        assert(warned.exists(_.contains("url series is empty")), warned)
        assert(warned.exists(_.contains("pdq hash series is empty")), warned)
        assert(rows(DetectDuplicates(Fixtures.sampleData(spark), similarityThreshold = Fixtures.threshold)) ==
          Fixtures.expectedDetect)
      } finally {
        Warnings.onWarning(_ => ())
        spark.conf.unset(Materialize.ModeKey)
      }
    }
}
