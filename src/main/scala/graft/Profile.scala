package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: run chosen queries N times each in one JVM and report
  * wall seconds plus scheduler counters (jobs / stages / tasks and
  * summed task time) per run, so overhead-dominated queries (many
  * tiny stages) can be told apart from compute-bound ones, plus the
  * classes Spark's code generator compiled (`compiles`): a query whose
  * generated code stops repeating, or that the codegen cache no
  * longer holds, shows compiles > 0 from rep 2 on. Same
  * session config as Bench; noop sink; not part of the driver
  * contract.
  *
  * Usage: runMain graft.Profile <sfDir> [<bigDir>] <reps> <query>...
  *
  * With a second data dir each rep runs the query on both dirs, and
  * one closing SCALE line per query prints the median wall on each
  * and their big/small ratio — evidence for the would-it-hold-at-N×
  * question.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (dirs, rest) = args.toSeq.span(_.toIntOption.isEmpty)
    val sfDir = dirs.head
    val reps = rest.head.toInt
    val names = rest.tail
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    // SPARK_GRAFT_PROF_STAGES=1: per-stage (tasks, taskSec, name) dump
    // after each rep — attributes a regression to its operator chain
    val stageDetail = sys.env.get("SPARK_GRAFT_PROF_STAGES").contains("1")
    val stageRows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          if (stageDetail) stageRows.add((st.stageInfo.stageId,
            st.stageInfo.numTasks,
            Option(st.stageInfo.taskMetrics)
              .map(_.executorRunTime).getOrElse(0L),
            st.stageInfo.name.takeWhile(_ != '\n').take(120)))
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        tasks += 1
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
      }
    })

    def run(name: String, dir: String = sfDir): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    try run("q1_pricing_summary") catch { case _: Throwable => () } // warmup
    dirs.foreach(graft.operators.Dedup.stageShingles(spark, _))

    val walls =
      scala.collection.mutable.Map.empty[(String, String), Seq[Double]]
    for (n <- names; rep <- 1 to reps; dir <- dirs) {
      synchronized { jobs = 0; stages = 0; tasks = 0; taskMs = 0L }
      stageRows.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try run(n, dir) catch {
        case e: Throwable => println(s"PROF $n rep$rep FAILED: $e")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      walls((n, dir)) = walls.getOrElse((n, dir), Nil) :+ wall
      // brief settle so straggling listener events land in this rep
      Thread.sleep(150)
      val compiles =
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val tag = if (dirs.size > 1) s" $dir" else ""
      println(f"PROF $n%-32s rep$rep$tag wall=$wall%7.3f jobs=$jobs%3d " +
        f"stages=$stages%4d tasks=$tasks%5d taskSec=${taskMs / 1e3}%8.2f " +
        f"compiles=$compiles%4d")
      if (stageDetail) {
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sortBy(-_._3).take(12).foreach {
          case (id, nt, ms, nm) =>
            println(f"  STAGE $id%4d tasks=$nt%4d runSec=${ms / 1e3}%7.2f  $nm")
        }
      }
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    if (dirs.size > 1) names.foreach { n =>
      val Seq(a, b) = dirs.map(dir => median(walls((n, dir))))
      println(f"SCALE $n%-32s small=$a%7.3f big=$b%7.3f ratio=${b / a}%5.1fx")
    }
    spark.stop()
  }
}
