package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Per-query
  * records (ok|failed|timeout, rows, seconds, error) go to
  * `target/verify.json`; the exit status is 1 when no query wrote output. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // per-query timeout: one pathological query must not stall the whole
    // correctness dump. Each query runs under its own job group on a
    // dedicated thread; a timeout cancels THE GROUP (interrupt + join)
    // before the next query starts — an abandoned Future would keep
    // submitting jobs (eager construction-time actions) and poison
    // subsequent queries. The gate records the missing output as a
    // failure for that query only.
    val timeoutMs = (sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong * 1000L).max(1L)
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump to named queries — local
    // iteration on one gate without paying for the full sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // (name, status, JSON record)
    val records = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val group = s"verify-$name"
      val start = System.nanoTime()
      @volatile var err: Option[Throwable] = None
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable => err = Some(e) }
        finally spark.sparkContext.clearJobGroup()
      }, group)
      t.setDaemon(true)
      t.start()
      t.join(timeoutMs)
      val status = if (t.isAlive) {
        System.err.println(s"[verify] $name TIMED OUT after ${timeoutMs / 1000}s")
        spark.sparkContext.cancelJobGroup(group)
        t.interrupt()
        t.join(30000)
        "timeout"
      } else err.fold("ok") { e => System.err.println(s"[verify] $name failed: ${e.getMessage}"); "failed" }
      val seconds = (System.nanoTime() - start) / 1e9
      val rows = if (status == "ok")
        scala.util.Try(spark.read.parquet(s"$outDir/$name").count()).getOrElse(-1L) else 0L
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val why = err.fold("")(e => s""", "error": ${q(String.valueOf(e.getMessage).take(300))}""")
      (name, status, f"""{"query": ${q(name)}, "status": "$status", "rows": $rows, "seconds": $seconds%.3f$why}""")
    }
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/verify.json"), records.map(_._3).mkString("[\n", ",\n", "\n]\n"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the last stdout line must survive a ~2 KB tail capture
    val n = records.groupBy(_._2).map { case (k, v) => k -> v.size }.withDefaultValue(0)
    val bad = records.filter(_._2 != "ok").map(_._1).mkString(" ")
    println(s"[verify] ${records.size} queries: ok ${n("ok")}, failed ${n("failed")}, " +
      s"timeout ${n("timeout")}; records in target/verify.json" +
      (if (records.isEmpty) s"; SPARK_GRAFT_ONLY matched no query: ${only.fold("")(_.mkString(",")).take(300)}" else "") +
      (if (bad.isEmpty) "" else s"; not ok: ${bad.take(1500)}${if (bad.length > 1500) " ..." else ""}"))
    if (n("ok") == 0) sys.exit(1)
  }
}
