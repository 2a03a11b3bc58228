package graft

/** Benchmark main (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries are materialized through the noop sink — `count()` would
  * let Catalyst prune the projections and under-report compute; noop
  * executes the full plan and discards rows. One untimed q1 run first
  * amortizes session/codegen warmup out of the measurements.
  *
  * Harness contract (r3 hardening):
  *  - failures are RECORDED, not swallowed: a query that throws gets
  *    its wall time in `queries` and its error class+message in
  *    `errors`, so a regression can never masquerade as a speedup;
  *  - the one-time shingle staging (shared by the dedup family) is
  *    forced up front and reported as its own `_staging_shingles`
  *    slot instead of inflating whichever dedup query runs first;
  *  - times are rounded to ms and the line is flushed, keeping the
  *    emitted JSON short enough that log capture cannot truncate it
  *    mid-object (r2's tail was cut); the complete JSON is ALSO
  *    written to BENCH_run_last.json in the repo root (r3's log capture
  *    kept only the tail, so the repo artifact lost its head — a
  *    file write cannot be truncated by log capture) and to
  *    /tmp/graft_bench_last.json for local bench_diff runs. The
  *    authoritative BENCH_last.json is produced ONLY by
  *    tools/bench_stamp.py over quiet-box fresh-JVM runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    def jsonStr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    try run("q1_pricing_summary") catch { case _: Throwable => () } // warmup

    var errors = Map.empty[String, String]
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try body catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("")
          errors += name -> s"${e.getClass.getSimpleName}: ${msg.take(200)}"
      }
      name -> (System.nanoTime() - t0) / 1e9
    }

    val staging = timed("_staging_shingles")(
      graft.operators.Dedup.stageShingles(spark, sfDir))
    val tables = timed("_staging_tables") {
      // The eight staged tables are independent of one another, so
      // their build jobs OVERLAP from a small thread pool (guide
      // §2.6: concurrent jobs back-fill the executor slots a single
      // small write job leaves idle — these are all tiny-output
      // writes whose wall time is stage latency, not throughput).
      // Each builder memoizes through its own ConcurrentHashMap key,
      // so concurrency cannot double-build; failures propagate so a
      // broken staging still lands in `errors` as before.
      val builders: Seq[() => Any] = Seq(
        () => graft.operators.SourceOps.bucketedTable(spark, sfDir),
        () => graft.operators.SourceOps.bucketedFactTable(spark, sfDir,
          "lineitem", "l_orderkey", graft.sources.Tables.lineitem(_, _)
            .select(org.apache.spark.sql.functions.col("l_orderkey"),
              org.apache.spark.sql.functions.col("l_extendedprice"))),
        () => graft.operators.SourceOps.bucketedFactTable(spark, sfDir,
          "orders", "o_orderkey", graft.sources.Tables.orders(_, _)
            .select(org.apache.spark.sql.functions.col("o_orderkey"),
              org.apache.spark.sql.functions.col("o_orderpriority"))),
        () => graft.operators.SourceOps.rangeTable(spark, sfDir),
        () => graft.operators.SourceOps.bloomTable(spark, sfDir),
        () => graft.operators.SourceOps.zorderTable(spark, sfDir),
        () => graft.operators.SourceOps.sortedRuns(spark, sfDir),
        () => graft.operators.SourceOps.setFileTable(spark, sfDir))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futs = builders.map(b => pool.submit(
          new java.util.concurrent.Callable[Any] { def call(): Any = b() }))
        futs.foreach { f => // surface the ORIGINAL builder failure
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      } finally pool.shutdown()
      ()
    }
    val results = SparkEntry.queries.keys.toSeq.sorted.map(n => timed(n)(run(n)))

    val all = results :+ staging :+ tables
    val qs = all.map { case (k, v) => jsonStr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val total = all.map(_._2).sum
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // full line first (for logs and the file artifacts), then a
    // COMPACT summary as the LAST stdout line: the driver parses a
    // bounded tail window, and the 180+-entry per-query map outgrew
    // it — the summary always fits, and the complete map still lands
    // in BENCH_run_last.json below. Only the first few errors ride
    // along; the count is always exact.
    println(line)
    val errHead = errors.toSeq.sortBy(_._1).take(3)
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.length},"n_errors":${errors.size},"errors":$errHead,"sf":"$sfDir","full":"BENCH_run_last.json"}""")
    Console.out.flush()
    // BENCH_last.json is the AUTHORITATIVE quiet-box median, written only
    // by tools/bench_stamp.py from fresh-JVM runs — a plain Bench run
    // (including the driver's contended post-verify sweep) must not
    // overwrite it, so raw runs land in BENCH_run_last.json instead.
    for (p <- Seq("/root/repo/BENCH_run_last.json", "/tmp/graft_bench_last.json"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line)
      catch { case _: Throwable => () }
    spark.stop()
  }
}
