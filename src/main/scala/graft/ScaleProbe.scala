package graft

/** Dev tool: time the same queries against two data dirs and print the
  * scaling ratio — evidence for the would-it-hold-at-N× question.
  *
  * Usage: runMain graft.ScaleProbe <dirSmall> <dirBig> <q1,q2,...>
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(small, big, qcsv) = args.take(3)
    val names = qcsv.split(",").toSeq
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup
    time(names.head, small)
    println(f"${"query"}%-22s ${"small"}%8s ${"big"}%8s ratio")
    names.foreach { n =>
      val a = time(n, small)
      val b = time(n, big)
      println(f"$n%-22s $a%8.2f $b%8.2f ${b / a}%5.1fx")
    }
    spark.stop()
  }
}
