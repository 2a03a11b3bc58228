package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{Dedup, SourceOps}
import graft.sources.Tables

/** The benchmark's JVM side: one session at local[cores], a closed loop
  * with one client and one query in flight.
  *
  *  1. Set up once, cold: the workload's staging, then one warm-up query
  *     (q1, as `graft.Bench` does). `setup_s` runs from JVM start to the
  *     end of the warm-up query.
  *  2. Correctness pass: every query once, its result written as parquet
  *     under `<out>/results/<name>` for the oracle check in run.py.
  *  3. `passes` timed passes, each in a fresh seeded order. A fixed count,
  *     not a time limit, ends them: a run that fits a fourth pass would
  *     otherwise take its medians over warmer executions than one that
  *     does not. A query is built with
  *     `SparkEntry.queries(name)(spark, dir)` and materialized through
  *     the noop sink. With `trace 1`, passes alternate untraced, traced,
  *     traced, untraced (ABBA), so that both sides see the same JIT
  *     warm-up; the passes with the listeners of [[Tracer]] and those
  *     without give the tracing overhead from the same process.
  *
  * Everything measured is written to `<out>/raw.json`; run.py computes
  * the metrics from it.
  *
  * Usage: Runner --manifest a,b,... --data DIR --out DIR --queries a,b,c --staging
  * none|tables|shingles --seed N --passes N --cores N --trace 0|1
  */
object Runner {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = args("data")
    val out = Paths.get(args("out"))
    val queries = args("queries").split(",").toSeq
    val rng = new scala.util.Random(args("seed").toLong)
    val passCount = args("passes").toInt
    val traced = args("trace") == "1"
    val cores = args("cores")

    manifestProblems(args("manifest").split(",").toSeq, queries) match {
      case Nil => ()
      case problems =>
        problems.foreach(p => System.err.println(s"perfbench: manifest: $p"))
        sys.exit(3)
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.TxnLogCatalog")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def sinceJvmStart(): Double =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionStart = sinceJvmStart()

    def run(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    val staging = timed(stage(spark, args("staging"), dir))
    val warmup = timed(run("q1_pricing_summary", dir))
    val setupDone = sinceJvmStart()

    val correctness = rng.shuffle(queries).map { name =>
      val t0 = System.nanoTime()
      val error = attempt {
        SparkEntry.queries(name)(spark, dir).write.mode("overwrite")
          .parquet(out.resolve("results").resolve(name).toString)
      }
      Json.obj("name" -> name, "wall_s" -> (System.nanoTime() - t0) / 1e9, "error" -> error)
    }

    val correctnessDone = sinceJvmStart()
    val tracer = if (traced)
      Some(new Tracer(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
    else None
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer.empty[Json.Rendered]
    for (pass <- 0 until passCount) {
      val tracing = tracer.filter(_ => (pass + 1) / 2 % 2 == 1)
      tracing.foreach(_.attach())
      val cpu0 = cpu.getProcessCpuTime
      val jit0 = jitCpuNs()
      val t0 = System.nanoTime()
      val rows = rng.shuffle(queries).map { name =>
        val trace = tracing.map(_.begin())
        spark.sparkContext.setJobGroup(s"perfbench-$pass-$name", name)
        val start = System.currentTimeMillis()
        val q0 = System.nanoTime()
        var built = q0
        var execStart = start
        val error = attempt {
          val df = SparkEntry.queries(name)(spark, dir)
          built = System.nanoTime()
          execStart = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
        }
        val q1 = System.nanoTime()
        val end = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        tracing.foreach(_.end())
        jitCpuNs()
        val base = Seq("name" -> name, "wall_s" -> (q1 - q0) / 1e9,
          "build_s" -> (built - q0) / 1e9, "exec_s" -> (q1 - built) / 1e9,
          "start_ms" -> start, "exec_start_ms" -> execStart, "end_ms" -> end,
          "error" -> error)
        Json.obj(base ++ trace.map(traceFields).getOrElse(Nil): _*)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      val jitS = (jitCpuNs() - jit0) / 1e9
      tracing.foreach(_.detach())
      passes += Json.obj("traced" -> tracing.isDefined, "wall_s" -> wall,
        "cpu_s" -> cpuS, "jit_cpu_s" -> jitS, "queries" -> Json.arr(rows))
    }

    val oracle = SparkEntry.oracleSql
    val raw = Json.obj(
      "cores" -> cores.toInt,
      "session_start_s" -> sessionStart,
      "setup_s" -> setupDone,
      "staging_s" -> staging,
      "warmup_s" -> warmup,
      "phase_end_s" -> Json.obj("session" -> sessionStart, "setup" -> setupDone,
        "correctness" -> correctnessDone, "timed" -> sinceJvmStart()),
      "oracle_sql" -> Json.obj(queries.map(q => q -> oracle.get(q).orNull): _*),
      "correctness" -> Json.arr(correctness),
      "passes" -> Json.arr(passes.toSeq),
      "memory" -> memory())
    Files.writeString(out.resolve("raw.json"), raw.text)
    spark.stop()
  }

  /** Why the workload manifest cannot be used, if it cannot: `listed`
    * must name every `SparkEntry.queries` key exactly once, and every
    * query the run executes needs an oracle statement. */
  private def manifestProblems(listed: Seq[String], run: Seq[String]): List[String] = {
    val keys = SparkEntry.queries.keySet
    val twice = listed.diff(listed.distinct).distinct
    val unknown = listed.distinct.filterNot(keys.contains)
    val unlisted = keys.toSeq.sorted.filterNot(listed.toSet.contains)
    val noOracle = run.filterNot(SparkEntry.oracleSql.contains)
    List("listed more than once" -> twice, "not a query" -> unknown,
      "in no workload" -> unlisted, "without an oracle statement" -> noOracle)
      .collect { case (why, names) if names.nonEmpty => s"$why: ${names.mkString(", ")}" }
  }

  /** Runs `body`; returns null, or the error it threw as one line. */
  private def attempt(body: => Unit): String =
    try { body; null } catch {
      case e: Throwable =>
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }

  private def stage(spark: SparkSession, kind: String, dir: String): Unit = kind match {
    case "none" => ()
    case "shingles" => Dedup.stageShingles(spark, dir)
    case "tables" =>
      // the staged tables graft.Bench builds, overlapped the same way
      import org.apache.spark.sql.functions.col
      val builders: Seq[() => Any] = Seq(
        () => SourceOps.bucketedTable(spark, dir),
        () => SourceOps.bucketedFactTable(spark, dir, "lineitem", "l_orderkey",
          Tables.lineitem(_, _).select(col("l_orderkey"), col("l_extendedprice"))),
        () => SourceOps.bucketedFactTable(spark, dir, "orders", "o_orderkey",
          Tables.orders(_, _).select(col("o_orderkey"), col("o_orderpriority"))),
        () => SourceOps.rangeTable(spark, dir),
        () => SourceOps.bloomTable(spark, dir),
        () => SourceOps.zorderTable(spark, dir),
        () => SourceOps.sortedRuns(spark, dir),
        () => SourceOps.setFileTable(spark, dir))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try builders.map(b => pool.submit(new java.util.concurrent.Callable[Any] {
          def call(): Any = b() })).foreach(_.get())
      finally pool.shutdown()
    case other => throw new IllegalArgumentException(s"unknown staging: $other")
  }

  /** Last CPU ticks seen per JIT compiler thread (HotSpot's C1 and C2),
    * by thread id. The JVM does not expose these threads as Java threads,
    * and starts and ends them as the compile queue grows and shrinks, so
    * a thread that has ended keeps the ticks it was last seen with. */
  private val jitTicks = mutable.Map.empty[String, Long]

  /** CPU time the JIT compiler threads have used so far, from
    * /proc/self/task; exact up to what an ended thread used after it was
    * last sampled, which is why it is sampled between queries too. */
  private def jitCpuNs(): Long = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.foreach { t =>
      try {
        val stat = Files.readString(t.resolve("stat"))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (comm.contains("CompilerThre")) {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          jitTicks(t.getFileName.toString) = f(11).toLong + f(12).toLong  // utime, stime
        }
      } catch { case _: java.io.IOException => () }  // the thread has ended
    } finally tasks.close()
    jitTicks.values.sum * 10000000L  // USER_HZ is 100 on Linux
  }

  private def traceFields(t: QueryTrace): Seq[(String, Any)] = Seq(
    "jobs" -> Json.arr(t.jobs.toSeq.map { case (id, s, e, g) => Json.arr(Seq(id, s, e, g)) }),
    "stages" -> Json.arr(t.stages.toSeq.map { case (id, j, s, e, n) =>
      Json.arr(Seq(id, j, s, e, n)) }),
    "counts" -> Json.obj(t.counts.toSeq: _*))

  /** Resident-set high-water mark and the old generation's peak use. */
  private def memory(): Json.Rendered = {
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble }.getOrElse(0.0)
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen")).map(_.getPeakUsage.getUsed.toDouble).sum
    Json.obj("vm_hwm_mb" -> hwmKb / 1024, "old_gen_peak_mb" -> oldGen / 1048576)
  }
}

/** Minimal JSON rendering; values are pre-rendered JSON strings. */
private object Json {
  private def value(v: Any): String = v match {
    case null => "null"
    case s: Rendered => s.text
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => quote(other.toString)
  }
  final case class Rendered(text: String)

  def obj(kv: (String, Any)*): Rendered =
    Rendered(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Rendered = Rendered(xs.map(value).mkString("[", ",", "]"))

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
