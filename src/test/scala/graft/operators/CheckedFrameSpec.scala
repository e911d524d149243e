package graft.operators

import graft.{Fixtures, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The DataFrame spelling of `indexes_to_check` (left-semi join path —
  * reference accepts a Series of arbitrary size at `url.py:32-43`,
  * `pdq_hash.py:76-110`), the P5 runtime element-type validation, and
  * the A4 observe-based telemetry twins. */
class CheckedFrameSpec extends SparkTestBase {
  import PdqDuplicates.Strategy

  private def checkedDf(ids: String*): DataFrame = {
    import spark.implicits._
    ids.toDF("index")
  }

  private def pdqOnly(rs: Seq[Row] = Fixtures.sampleRows): DataFrame =
    Fixtures.sampleData(spark, rs).select("index", "pdq_hash")

  private def urlOnly(rs: Seq[Row] = Fixtures.sampleRows): DataFrame =
    Fixtures.sampleData(spark, rs).select("index", "url")

  for (s <- Seq(Strategy.Naive, Strategy.Banded)) {
    test(s"[$s] pdq checkedBy(frame) ≡ literal list (test_pdq_hash.py:168-206 via semi join)") {
      val lit = PdqDuplicates(pdqOnly(), Some(Seq("UW0001", "UW0005")), Fixtures.threshold, s)
      val frm = PdqDuplicates.checkedBy(pdqOnly(), checkedDf("UW0001", "UW0005"), Fixtures.threshold, s)
      assert(rows(frm) == rows(lit))
    }

    test(s"[$s] pdq checkedBy single index (test_pdq_hash.py:209-240 via semi join)") {
      val got = rows(PdqDuplicates.checkedBy(pdqOnly(), checkedDf("UW0001"), Fixtures.threshold, s))
      val want = Seq(
        Seq("UW0001", List("UW0002", "UW0003"), List(1.0, 1.0)),
        Seq("UW0002", List("UW0001"), List(1.0)),
        Seq("UW0003", List("UW0001"), List(1.0))
      )
      assert(got == want)
    }
  }

  test("pdq checkedBy empty frame -> empty typed result, no driver action") {
    val got = PdqDuplicates.checkedBy(pdqOnly(), checkedDf(), Fixtures.threshold, Strategy.Naive)
    assert(got.count() == 0)
    // lazy path: same column names/types (nullability may be tighter)
    assert(got.schema.map(f => (f.name, f.dataType.sql)) ==
      PdqDuplicates.outputSchema.map(f => (f.name, f.dataType.sql)))
  }

  test("url checkedBy(frame) ≡ literal list, bi-directional membership (test_url.py:106-120)") {
    // checked = {UW0004, UW0005}: UW0007 is annotated too (shares
    // UW0004's base url) even though it is not checked
    val lit = UrlDuplicates(urlOnly(), Some(Seq("UW0004", "UW0005")))
    val frm = UrlDuplicates.checkedBy(urlOnly(), checkedDf("UW0004", "UW0005"))
    assert(rows(frm) == rows(lit))
    assert(rows(frm).map(_.head) == Seq("UW0004", "UW0007"))
  }

  test("detect checkedBy(frame) ≡ apply with literal list") {
    val df = Fixtures.sampleData(spark)
    val lit = DetectDuplicates(df, Some(Seq("UW0001", "UW0005")), Fixtures.threshold)
    val frm = DetectDuplicates.checkedBy(df, checkedDf("UW0001", "UW0005"), Fixtures.threshold)
    assert(rows(frm) == rows(lit))
  }

  test("P5 runtime: non-string hash elements raise (test_pdq_hash.py:118-123)") {
    import spark.implicits._
    val bad = Seq(("A", Seq(1, 2))).toDF("index", "pdq_hash")
    val e = intercept[IllegalArgumentException](PdqDuplicates(bad))
    assert(e.getMessage.contains("must be array<string>"))
    for (detect <- Seq[DataFrame => DataFrame](DetectDuplicates(_), DetectDuplicates.edges(_))) {
      val d = intercept[IllegalArgumentException](detect(bad))
      assert(d.getMessage.contains("must be array<string>"), d.getMessage)
    }
  }

  test("A4 telemetry: observe metrics surface null-drop and result counts") {
    @volatile var metrics = Map.empty[String, Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        metrics ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rs = Fixtures.sampleRows.map {
        case Row("UW0006", _, h) => Row("UW0006", null, h)
        case r                   => r
      }
      UrlDuplicates(urlOnly(rs)).collect()
      // observation names carry a per-invocation suffix (composability);
      // listeners match on the stable prefix
      def find(prefix: String): Option[Row] =
        metrics.collectFirst { case (k, v) if k.startsWith(prefix) => v }
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!(find("url_input").isDefined && find("url_result").isDefined) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val in = find("url_input").get
      assert(in.getAs[Long]("n_rows") == 7L)
      assert(in.getAs[Long]("n_null_urls") == 1L)
      assert(find("url_result").get.getAs[Long]("n_rows_with_duplicates") == 5L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observe names are per-invocation: two operator outputs compose in one action") {
    // fixed observation names fail analysis with "Multiple definitions
    // of observed metrics" when two invocations meet under one action
    val u = UrlDuplicates(urlOnly()).union(UrlDuplicates(urlOnly()))
    assert(u.count() == 10L)
    val p = PdqDuplicates(pdqOnly(), similarityThreshold = Fixtures.threshold)
      .union(PdqDuplicates(pdqOnly(), similarityThreshold = Fixtures.threshold))
    assert(p.count() > 0)
  }

  test("empty-series warn twins (pdq_hash.py:134-138, url.py:56-59)") {
    import spark.implicits._
    @volatile var warned = List.empty[String]
    Warnings.onWarning(msg => warned ::= msg)
    try {
      val emptyPdq = Seq.empty[(String, Seq[String])].toDF("index", "pdq_hash")
      val r = PdqDuplicates(emptyPdq)
      assert(r.count() == 0)
      assert(r.schema == PdqDuplicates.outputSchema)
      assert(warned.exists(_.contains("pdq hash series is empty")))

      val emptyUrl = Seq.empty[(String, String)].toDF("index", "url")
      assert(UrlDuplicates(emptyUrl).count() == 0)
      // literal empties warn eagerly (plan-level detection, zero jobs)
      assert(warned.exists(_.contains("url series is empty")))

      // a FILTERED-literal empty still folds to an empty LocalRelation
      // (PropagateEmptyRelation) and warns without any job
      warned = Nil
      val filtered = Seq(("A", "https://x.com")).toDF("index", "url").filter($"index" =!= "A")
      assert(UrlDuplicates(filtered).count() == 0)
      assert(warned.exists(_.contains("url series is empty")))

      // documented divergence: a file-backed input that merely CONTAINS
      // no rows cannot be detected without a scan — correct empty
      // result, no warn (AQE drops CollectMetrics on runtime-empties,
      // so no listener can see it either)
      warned = Nil
      val dir = java.nio.file.Files.createTempDirectory("warn-parquet").toString
      Seq(("A", "https://x.com")).toDF("index", "url")
        .write.mode("overwrite").parquet(dir)
      val fromFile = spark.read.parquet(dir).filter($"index" =!= "A")
      assert(UrlDuplicates(fromFile).count() == 0)
      assert(!warned.exists(_.contains("url series is empty")))
    } finally Warnings.onWarning(_ => ())
  }
}
