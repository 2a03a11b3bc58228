package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `local[n]` with n
  * shuffle partitions, UTC, and the graft extensions plus the txnlog
  * session catalog (the wiring SQL over txnlog tables needs). n is
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
object Sessions {
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.TxnLogCatalog")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
