package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Block-manager census for the one checkpoint release policy: a
  * query build holds no global state, a subtree shared through a
  * reused exchange persists nothing, a checkpoint whose last consumer
  * is inside its operator is released there, and one the returned
  * plan reads is freed by Spark's ContextCleaner once the frame is
  * unreachable. */
class CheckpointCensusSpec extends AnyFunSuite {
  import TestSpark._

  /** Queries whose subtree shared by several consumers is no longer
    * checkpointed: AQE reuses the shared exchange instead. */
  private val sharedSubtreeQueries = Seq("dedup_simhash",
    "dedup_minhash_lsh", "mm_phash_neardup", "dedup_embedding_lsh",
    "dedup_substring_max", "dedup_substring_scrub")

  /** Queries whose returned plan still reads a checkpoint. */
  private val returnedCheckpointQueries = Seq("dedup_bloom_admit",
    "mr_triangles", "dedup_semantic", "txt_lm_buckets_sampled",
    "dedup_components")

  private def build(name: String) = SparkEntry.queries(name)(spark, sf)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def runQuery(name: String): Unit =
    build(name).write.format("noop").mode("overwrite").save()

  test("build order no longer matters: a later build leaves an earlier frame intact") {
    (sharedSubtreeQueries ++ returnedCheckpointQueries).foreach { name =>
      val expected = rowsOf(build(name))
      val first = build(name)
      build("q2_filter_project")
      assert(rowsOf(first) == expected,
        s"$name: rows changed when another query was built before collect")
    }
  }

  test("shared subtrees persist nothing: no RDD stays registered after a run") {
    sharedSubtreeQueries.foreach { name =>
      val before = persisted()
      runQuery(name)
      val left = persisted() -- before
      assert(left.isEmpty,
        s"$name left ${left.size} persisted RDD(s) after materializing")
    }
  }

  test("in-function training checkpoints release inside their operator") {
    val before = persisted()
    // perceptron features and both PQ/IVF training samples release
    // inside their operator (their last consumer is an internal
    // collect), so the census comes back clean with no other step
    runQuery("ml_perceptron_quality")
    runQuery("emb_pq")
    val leaked = persisted() -- before
    assert(leaked.isEmpty,
      s"${leaked.size} training checkpoint(s) survived their operator")
  }

  test("a dropped components frame's label checkpoint is freed by the ContextCleaner") {
    val before = persisted()
    // the final labels are the iterate's state and stay a checkpoint
    // for as long as a frame reads them
    var df = Dedup.components(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    assert((persisted() -- before).nonEmpty,
      "the label checkpoint is gone while its frame is alive")
    df = null
    val deadline = System.currentTimeMillis() + 30000L
    while ((persisted() -- before).nonEmpty &&
        System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(200L)
    }
    val left = persisted() -- before
    assert(left.isEmpty,
      s"${left.size} checkpointed RDD(s) still pinned 30 s after the frame was dropped")
  }
}
