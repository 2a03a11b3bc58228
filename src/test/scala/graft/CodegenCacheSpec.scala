package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated code stays resident across queries: Spark's codegen
  * cache (`spark.sql.codegen.cache.maxEntries`, set for every graft
  * JVM in build.sbt) holds more than the classes other queries
  * compile in between, so a query that ran before compiles nothing
  * when it runs again. At Spark's default of 100 entries the repeat
  * recompiles its classes. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save()

  test("a repeated query compiles nothing after 100+ classes compiled in between") {
    run("dedup_simhash")
    // 150 projections with distinct inlined constants: each compiles
    // its own class the first time it runs in this JVM, and the same
    // class after that, like a catalog query's code
    val between = compiles((1 to 150).foreach { i =>
      spark.range(8).selectExpr(s"id * ${7919L * i} + $i AS x")
        .write.format("noop").mode("overwrite").save()
    })
    assert(between > 100, s"only $between classes compiled in between")
    assert(compiles(run("dedup_simhash")) === 0L)
  }
}
