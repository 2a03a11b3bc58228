package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: native functions via the registry + temp views. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("registered functions work from plain SQL") {
    GraftExtensions.install(spark)
    GraftExtensions.registerTables(spark, sf)
    val cos = spark.sql(
      """SELECT cosine_similarity(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id = 0 AND b.vec_id = 0""".stripMargin)
      .collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12) // self-similarity
    val rh = spark.sql("SELECT rolling_hash('abc z') AS h")
      .collect()(0).getLong(0)
    assert(rh == 92597308L) // cross-checked against the DuckDB fold
    val sims = spark.sql(
      """SELECT doc_id, simhash64(xxhash64(w), 1L) AS sig FROM (
        |  SELECT doc_id, explode(split(trim(text), '\\s+')) AS w
        |  FROM documents) GROUP BY doc_id""".stripMargin)
    assert(sims.count() == 500)
    val mins = spark.sql(
      """SELECT size(minhash_sig(xxhash64(text))) AS n FROM documents""")
      .collect()(0).getInt(0)
    assert(mins == 128)
    val isz = spark.sql(
      "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d'))")
      .collect()(0).getLong(0)
    assert(isz == 2L)
  }

  test("full TPC-H-style query runs as plain SQL over the views") {
    GraftExtensions.registerTables(spark, sf)
    val rows = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
    assert(rows.map(_.getLong(2)).sum == 6000L)
  }

  test("image header functions run from plain SQL inside codegen") {
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, graft.operators.ImageSynth.png(640, 480)),
      (2L, graft.operators.ImageSynth.jpeg(123, 45)),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("id", "payload").createOrReplaceTempView("graft_imgs")
    val rows = spark.sql(
      """SELECT id, image_format(payload) AS fmt,
        |  image_width(payload) AS w, image_height(payload) AS h
        |FROM graft_imgs ORDER BY id""".stripMargin).collect()
    assert(rows(0).getString(1) == "png" &&
      rows(0).getLong(2) == 640L && rows(0).getLong(3) == 480L)
    assert(rows(1).getString(1) == "jpeg" &&
      rows(1).getLong(2) == 123L && rows(1).getLong(3) == 45L)
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))
    // StaticInvoke stays inside whole-stage codegen — no UDF boundary
    val plan = spark.sql(
      "SELECT image_width(payload) FROM graft_imgs")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"image functions fell out of codegen:\n$plan")
  }

  test("image_dhash decodes real pixels from SQL and is total on junk") {
    GraftExtensions.install(spark)
    import spark.implicits._
    import graft.operators.{ImageSynth, DHash}
    val rows = Seq(
      (1L, ImageSynth.realPng(42L)),         // complete, decodable PNG
      (2L, ImageSynth.png(8, 8)),            // header-only frame: no pixels
      (3L, "not an image".getBytes),         // garbage
      (4L, Array.empty[Byte]))               // empty
      .toDF("id", "payload")
    rows.createOrReplaceTempView("graft_dhash_imgs")
    val got = spark.sql(
      "SELECT id, image_dhash(payload) FROM graft_dhash_imgs ORDER BY id")
      .collect()
    val expected = DHash.of(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageSynth.realPng(42L))))
    assert(got(0).getLong(1) == expected,
      "SQL function must equal the direct decode+hash")
    assert(got(1).isNullAt(1) && got(2).isNullAt(1) && got(3).isNullAt(1),
      "undecodable payloads must yield NULL, never throw")
    // pixel hashing stays inside whole-stage codegen — no UDF boundary
    val plan = spark.sql(
      "SELECT image_dhash(payload) FROM graft_dhash_imgs")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"image_dhash fell out of codegen:\n$plan")
  }

  test("SQL DML statements lower onto the txnlog ops") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqldml-").resolve("t")
    val t = TxnLog.Table(root)
    TxnLog.append(spark, t,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v")
        .coalesce(1))
    TxnLog.append(spark, t, Seq((5L, 50L)).toDF("k", "v").coalesce(1))
    val p = root.toString
    // DELETE FROM path target with WHERE
    spark.sql(s"DELETE FROM txnlog.`$p` WHERE k % 2 = 0")
    assert(TxnLog.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 3L, 5L))
    // MERGE INTO with a temp-view source, all three clause kinds
    Seq((1L, 100L), (3L, 1L), (7L, 70L), (8L, 80L)).toDF("k", "v")
      .createOrReplaceTempView("sqldml_src")
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING sqldml_src s ON t.k = s.k
         |WHEN MATCHED AND s.v >= 100 THEN UPDATE SET v = t.v + s.v
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.k % 2 = 1 THEN INSERT *""".stripMargin)
    // 1 updated (110), 3 deleted, 5 untouched, 7 inserted, 8 dropped
    assert(TxnLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 110L), (5L, 50L), (7L, 70L)))
    // OPTIMIZE compacts the live set; VACUUM frees the dead files
    spark.sql(s"OPTIMIZE txnlog.`$p`")
    assert(TxnLog.snapshot(t).liveFiles.length === 1)
    def dataFiles(): Int = {
      val s = java.nio.file.Files.walk(root.resolve("data"))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val preVacuum = dataFiles()
    assert(preVacuum > 1)
    spark.sql(s"VACUUM txnlog.`$p` RETAIN 0 HOURS")
    // dead UNREFERENCED files are freed; files the retained log still
    // references as change files (the merge's new images) stay pinned
    // so the change feed over that range keeps replaying
    assert(dataFiles() < preVacuum && dataFiles() >= 1)
    assert(TxnLog.read(spark, t).count() === 3)
    // a catalog table created USING txnlog is addressable by name
    spark.sql("DROP TABLE IF EXISTS sqldml_cat")
    spark.sql(s"CREATE TABLE sqldml_cat USING txnlog OPTIONS (path '$p')")
    try {
      spark.sql("DELETE FROM sqldml_cat WHERE k = 7")
      assert(TxnLog.read(spark, t).collect().map(_.getLong(0)).sorted
        .toSeq === Seq(1L, 5L))
      // DELETE without WHERE wipes the table (the SQL contract)
      spark.sql(s"DELETE FROM txnlog.`$p`")
      assert(TxnLog.read(spark, t).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS sqldml_cat")
    // DESCRIBE HISTORY returns the audit as a result set, LIMIT-aware
    val hist = spark.sql(s"DESCRIBE HISTORY txnlog.`$p`").collect()
    assert(hist.length >= 5 && hist.exists(_.getString(1) == "OPTIMIZE"))
    assert(spark.sql(s"DESCRIBE HISTORY txnlog.`$p` LIMIT 2").count() === 2)
    // a CASE WHEN inside a SET expression is not a clause boundary
    val croot = java.nio.file.Files
      .createTempDirectory("graft-sqlcase-").resolve("t")
    val ct = TxnLog.Table(croot)
    TxnLog.append(spark, ct,
      Seq((1L, 5L), (2L, 50L)).toDF("k", "v").coalesce(1))
    Seq((1L, 0L), (2L, 0L)).toDF("k", "v")
      .createOrReplaceTempView("sqldml_case_src")
    spark.sql(
      s"""MERGE INTO txnlog.`$croot` t USING sqldml_case_src s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET
         |  v = CASE WHEN t.v > 10 THEN t.v * 2 ELSE 0 END""".stripMargin)
    assert(TxnLog.read(spark, ct).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 0L), (2L, 100L)))
    // a DELETE whose target is NOT a txnlog table runs Spark's own
    // plan — the native error surfaces, not a txnlog refusal
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("DELETE FROM graft_no_such_table WHERE 1 = 1")
    }
    assert(nf.getMessage.contains("graft_no_such_table"))
    // OPTIMIZE ZORDER BY parses and clusters
    val zroot = java.nio.file.Files
      .createTempDirectory("graft-sqlz-").resolve("t")
    val zt = TxnLog.Table(zroot)
    val rows = (0L until 1024L).map(i => (i, i % 32L, (i / 32L) % 32L))
    TxnLog.appendWithStats(spark, zt,
      rows.toDF("id", "a", "b").repartition(4), Seq("a", "b"))
    spark.sql(s"OPTIMIZE txnlog.`$zroot` ZORDER BY (a, b)")
    assert(TxnLog.read(spark, zt).count() === 1024L)
    val (kept, total) = TxnLog.plannedFilesBox(zt,
      Seq(("a", 4L, 8L), ("b", 4L, 8L)))
    assert(kept < total, s"zorder SQL path did not cluster: $kept/$total")
  }

  test("SQL UPDATE, time travel and N-col ZORDER round out the statement surface") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlupd-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.append(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("k", "v", "s").coalesce(1))
    // UPDATE with expressions referencing table columns, WHERE-gated
    spark.sql(s"UPDATE txnlog.`$p` SET v = v * 10, s = 'X' WHERE k >= 2")
    assert(TxnLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      .toSeq === Seq((1L, 10L, "a"), (2L, 200L, "X"), (3L, 300L, "X")))
    val vAfterUpdate = TxnLog.latestVersion(t)
    // catalog-name target works too; UPDATE without WHERE hits all rows
    spark.sql("DROP TABLE IF EXISTS sqlupd_cat")
    spark.sql(s"CREATE TABLE sqlupd_cat USING txnlog OPTIONS (path '$p')")
    try {
      spark.sql("UPDATE sqlupd_cat SET v = v + 1")
      assert(spark.sql(s"SELECT sum(v) FROM txnlog.`$p`").head().getLong(0)
        === 10L + 200L + 300L + 3L)
    } finally spark.sql("DROP TABLE IF EXISTS sqlupd_cat")
    // SQL time travel: VERSION AS OF reads the snapshot BEFORE the
    // second UPDATE as text (lowered onto the versionAsOf option)…
    val historic = spark.sql(
      s"SELECT k, v FROM txnlog.`$p` VERSION AS OF $vAfterUpdate ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(historic === Seq((1L, 10L), (2L, 200L), (3L, 300L)))
    // …an alias after the travel clause survives the rewrite, and
    // TIMESTAMP AS OF resolves through versionAt
    assert(spark.sql(
      s"""SELECT x.v FROM txnlog.`$p` VERSION AS OF $vAfterUpdate x
         |WHERE x.k = 1""".stripMargin).head().getLong(0) === 10L)
    val now = System.currentTimeMillis() + 60000L
    assert(spark.sql(
      s"SELECT sum(v) FROM txnlog.`$p` TIMESTAMP AS OF $now")
      .head().getLong(0) === 513L)
    // a MERGE against a NON-txnlog table must reach Spark's native
    // path even when our grammar parses it — the error names the
    // table, not our grammar
    Seq((1L, 1L)).toDF("k", "v").createOrReplaceTempView("sqlupd_src")
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """MERGE INTO graft_no_such_tbl t USING sqlupd_src s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
          .stripMargin)
    }
    assert(nf.getMessage.contains("graft_no_such_tbl"),
      s"pass-through broke: ${nf.getMessage}")
    // …while a clause genuinely outside the grammar against a TXNLOG
    // table raises the helpful message at run time, not a parse crash
    val unsupported = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO txnlog.`$p` t USING sqlupd_src s ON t.k = s.k
           |WHEN MATCHED THEN INSERT *""".stripMargin)
    }
    assert(unsupported.getMessage.contains("supported"),
      s"wrong txnlog grammar error: ${unsupported.getMessage}")
    // a string literal containing 'WHEN MATCHED' inside a clause
    // condition or SET expression does not fracture the clause list
    // (quote-aware splitter — a raw regex split would break here)
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING sqlupd_src s
         |ON t.k = s.k
         |WHEN MATCHED AND 'WHEN MATCHED THEN DELETE' != '' THEN
         |  UPDATE SET s = 'WHEN MATCHED'
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TxnLog.read(spark, t).filter($"k" === 1L).head().getString(2)
      === "WHEN MATCHED")
    // WHEN NOT MATCHED BY TARGET is the standard spelling of INSERT *
    Seq((9L, 90L, "i")).toDF("k", "v", "s")
      .createOrReplaceTempView("sqlupd_src2")
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING sqlupd_src2 s ON t.k = s.k
         |WHEN NOT MATCHED BY TARGET THEN INSERT *""".stripMargin)
    assert(TxnLog.read(spark, t).count() === 4L)
    // 3-column ZORDER through the grammar
    val zroot = java.nio.file.Files
      .createTempDirectory("graft-sqlz3-").resolve("t")
    val zt = TxnLog.Table(zroot)
    val rows = (0L until 4096L).map(i =>
      (i, i % 8L * 100L, (i / 8L) % 8L * 100L, (i / 64L) % 8L * 100L))
    TxnLog.appendWithStats(spark, zt,
      rows.toDF("id", "a", "b", "c").repartition(4), Seq("a", "b", "c"))
    spark.sql(s"OPTIMIZE txnlog.`$zroot` ZORDER BY (a, b, c)")
    val (kept, total) = TxnLog.plannedFilesBox(zt,
      Seq(("a", 0L, 100L), ("b", 0L, 100L), ("c", 0L, 100L)))
    assert(kept < total, s"3-col SQL zorder did not cluster: $kept/$total")
    // UPDATE against a non-txnlog target delegates to Spark's plan
    val unf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("UPDATE graft_no_such_tbl SET v = 1 WHERE k = 1")
    }
    assert(unf.getMessage.contains("graft_no_such_tbl"))
    // RESTORE TABLE rolls back as SQL text (its own VERSION AS OF is
    // a statement clause, not a time-travel reference)…
    spark.sql(s"RESTORE TABLE txnlog.`$p` TO VERSION AS OF $vAfterUpdate")
    val rolled = spark.sql(
      s"SELECT count(*) AS n, sum(v) AS sv FROM txnlog.`$p`").head()
    assert((rolled.getLong(0), rolled.getLong(1)) === (3L, 510L))
    // …and the TIMESTAMP AS OF form resolves through versionAt (a
    // future instant = the current state: a no-op restore)
    spark.sql(s"RESTORE TABLE txnlog.`$p` TO TIMESTAMP AS OF $now")
    assert(spark.sql(s"SELECT count(*) FROM txnlog.`$p`")
      .head().getLong(0) === 3L)
  }

  test("SQL INSERT statements write through the transaction log, never behind it") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlins-").resolve("t")
    val p = root.toString
    // CTAS through the CreatableRelationProvider seam (the location
    // must not pre-exist: Table() is constructed only after)
    spark.sql("DROP TABLE IF EXISTS sqlins_cat")
    spark.sql(s"""CREATE TABLE sqlins_cat USING txnlog
      |OPTIONS (path '$p') AS SELECT 1L AS k, 10L AS v""".stripMargin)
    val t = TxnLog.Table(root)
    try {
      assert(TxnLog.latestVersion(t) === 0L)
      // path-form VALUES (ints cast to the registered bigint schema)
      spark.sql(s"INSERT INTO txnlog.`$p` VALUES (2, 20), (3, 30)")
      // catalog-form SELECT source
      spark.sql("INSERT INTO sqlins_cat SELECT 4L, 40L")
      assert(TxnLog.latestVersion(t) === 2L) // one commit per INSERT
      assert(TxnLog.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
        Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
      // every row is IN THE LOG — the files the snapshot plans are
      // exactly the files on disk (nothing written behind the log)
      val snap = TxnLog.snapshot(t)
      val onDisk = {
        val s0 = java.nio.file.Files.walk(root.resolve("data"))
        try {
          import scala.jdk.CollectionConverters._
          s0.iterator().asScala
            .filter(_.toString.endsWith(".parquet"))
            .map(q => root.relativize(q).toString).toSet
        } finally s0.close()
      }
      assert(onDisk === snap.liveFiles.toSet,
        s"files behind the log: ${onDisk -- snap.liveFiles.toSet}")
      // OVERWRITE is one atomic replace; history before it survives
      val vPre = TxnLog.latestVersion(t)
      spark.sql(s"INSERT OVERWRITE txnlog.`$p` VALUES (9, 90)")
      assert(TxnLog.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((9L, 90L)))
      assert(TxnLog.read(spark, t, Some(vPre)).count() === 4L)
      // arity mismatch refuses loudly for txnlog
      val ar = intercept[IllegalArgumentException] {
        spark.sql(s"INSERT INTO txnlog.`$p` VALUES (1, 2, 3)")
      }
      assert(ar.getMessage.contains("column"))
      // an explicit column list aligns BY NAME (list order, not
      // schema order) and NULL-fills the unnamed columns
      spark.sql(s"INSERT INTO txnlog.`$p` (v, k) VALUES (70, 7)")
      spark.sql(s"INSERT INTO txnlog.`$p` (k) VALUES (8)")
      val byK = TxnLog.read(spark, t).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(byK(7L) === Some(70L), s"named insert misaligned: $byK")
      assert(byK(8L) === None, s"unnamed column not NULL-filled: $byK")
      // unknown / duplicate names in the list still refuse
      val uk = intercept[IllegalArgumentException] {
        spark.sql(s"INSERT INTO txnlog.`$p` (k, nope) VALUES (1, 2)")
      }
      assert(uk.getMessage.contains("nope"))
      val dup = intercept[IllegalArgumentException] {
        spark.sql(s"INSERT INTO txnlog.`$p` (k, k) VALUES (1, 2)")
      }
      assert(dup.getMessage.toLowerCase.contains("duplicate"))
      // a non-txnlog INSERT runs Spark's own plan (native error)
      val nf = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("INSERT INTO graft_no_such_ins VALUES (1)")
      }
      assert(nf.getMessage.contains("graft_no_such_ins"))
      // an exotic form this grammar skips must fail LOUDLY as
      // unresolved, never silently write behind the log
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"INSERT INTO txnlog.`$p` PARTITION (k=1) SELECT 5L")
      }
      assert(TxnLog.read(spark, t).count() === 3L, s"bypass! $ex")
    } finally spark.sql("DROP TABLE IF EXISTS sqlins_cat")
    // a PARTITIONED table's SQL inserts restage through its layout
    val proot = java.nio.file.Files
      .createTempDirectory("graft-sqlinsp-").resolve("t")
    val pt = TxnLog.Table(proot)
    TxnLog.appendPartitioned(spark, pt,
      Seq((1L, "d1")).toDF("id", "day"), Seq("day"))
    spark.sql(s"INSERT INTO txnlog.`$proot` VALUES (2, 'd2')")
    val psnap = TxnLog.snapshot(pt)
    assert(psnap.liveFiles.forall(psnap.filePartitions.contains),
      s"SQL insert flattened the layout: ${psnap.liveFiles}")
    assert(TxnLog.readPartition(spark, pt, Map("day" -> "d2"))
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("SHOW PARTITIONS and time-traveled MERGE sources complete the SQL surface") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlshow-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.appendPartitioned(spark, t,
      Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
        .toDF("id", "day", "v"), Seq("day"))
    // SHOW PARTITIONS from the manifest: one row per spec + file count
    val parts = spark.sql(s"SHOW PARTITIONS txnlog.`$p`").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(parts.map(_._1) === Seq("day=d1", "day=d2"), parts.toString)
    assert(parts.forall(_._2 >= 1L))
    // a non-txnlog SHOW PARTITIONS still runs Spark's own plan
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SHOW PARTITIONS graft_no_such_parts")
    }
    assert(nf.getMessage.contains("graft_no_such_parts"))
    // MERGE against a TIME-TRAVELED source: sync a second table to
    // yesterday's snapshot of the first
    val v0 = TxnLog.latestVersion(t)
    spark.sql(s"DELETE FROM txnlog.`$p` WHERE id = 1")
    val dst = java.nio.file.Files
      .createTempDirectory("graft-sqlttm-").resolve("t")
    val d = TxnLog.Table(dst)
    TxnLog.append(spark, d,
      Seq((1L, "x", 0L)).toDF("id", "day", "v").coalesce(1))
    spark.sql(
      s"""MERGE INTO txnlog.`$dst` t
         |USING txnlog.`$p` VERSION AS OF $v0 s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, day = s.day
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the PRE-delete snapshot drove the merge: id=1 updated from it
    assert(TxnLog.read(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      .toSeq === Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L)))
    // ALTER TABLE ADD COLUMNS as SQL text — metadata-only evolution
    spark.sql(s"ALTER TABLE txnlog.`$dst` ADD COLUMNS (note STRING)")
    val df = spark.sql(s"SELECT * FROM txnlog.`$dst` WHERE id = 1")
    assert(df.columns.toSeq === Seq("id", "day", "v", "note"))
    assert(df.head().isNullAt(3))
    // a non-txnlog ALTER still runs Spark's own plan
    val anf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("ALTER TABLE graft_no_such_alter ADD COLUMNS (x INT)")
    }
    assert(anf.getMessage.contains("graft_no_such_alter"))
  }

  test("statement-scanner edges: literals with keywords, spaced timestamps, txnlog-named databases, cross-source inserts") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqledge-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1))
    // a SET expression containing ' WHERE ' inside a string literal
    // must not fracture the UPDATE statement
    spark.sql(s"UPDATE txnlog.`$p` SET s = 'use WHERE wisely' WHERE k = 1")
    assert(TxnLog.read(spark, t).filter($"k" === 1L).head().getString(1)
      === "use WHERE wisely")
    // backslash-escaped quotes stay inside MERGE clause literals
    Seq((2L, "x")).toDF("k", "s").createOrReplaceTempView("edge_src")
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING edge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET
         |  s = 'O\\'Brien WHEN MATCHED style'""".stripMargin)
    assert(TxnLog.read(spark, t).filter($"k" === 2L).head().getString(1)
      === "O'Brien WHEN MATCHED style")
    // TIMESTAMP AS OF with the space-separated SQL form parses
    // (interpreted UTC) — far-future resolves to the latest version
    val rows = spark.sql(
      s"SELECT count(*) FROM txnlog.`$p` TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head().getLong(0)
    assert(rows === 2L)
    // a REAL database named txnlog keeps catalog resolution (only
    // path-shaped identifiers — containing '/' — substitute)
    spark.sql("CREATE DATABASE IF NOT EXISTS txnlog")
    try {
      spark.sql("DROP TABLE IF EXISTS txnlog.edge_cat")
      spark.sql(
        "CREATE TABLE txnlog.edge_cat USING parquet AS SELECT 7L AS k")
      assert(spark.sql("SELECT k FROM txnlog.edge_cat").head().getLong(0)
        === 7L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS txnlog.edge_cat")
      spark.sql("DROP DATABASE IF EXISTS txnlog")
    }
    // a NON-txnlog INSERT whose SOURCE is a txnlog path resolves the
    // read through the same substitution the standalone SELECT gets
    spark.sql("DROP TABLE IF EXISTS edge_plain")
    spark.sql("CREATE TABLE edge_plain (k BIGINT, s STRING) USING parquet")
    try {
      spark.sql(s"INSERT INTO edge_plain SELECT * FROM txnlog.`$p`")
      assert(spark.table("edge_plain").count() === 2L)
    } finally spark.sql("DROP TABLE IF EXISTS edge_plain")
    // VACUUM DRY RUN lists the reclaimable set without deleting;
    // DESCRIBE DETAIL reports the manifest's table metadata
    spark.sql(s"DELETE FROM txnlog.`$p` WHERE k = 2")
    val dry = spark.sql(s"VACUUM txnlog.`$p` RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0))
    assert(dry.nonEmpty && dry.forall(_.endsWith(".parquet")))
    assert(TxnLog.read(spark, t).count() === 1L) // nothing deleted
    val detail = spark.sql(s"DESCRIBE DETAIL txnlog.`$p`").head()
    assert(detail.getString(0) === "txnlog" &&
      detail.getLong(3) >= 1L && detail.getLong(4) > 0L)
    spark.sql(s"VACUUM txnlog.`$p` RETAIN 0 HOURS")
    assert(spark.sql(s"VACUUM txnlog.`$p` RETAIN 0 HOURS DRY RUN")
      .count() === 0L) // the dry-run set was exactly what vacuum took
    // INSERT OVERWRITE keeps a partitioned target's layout (the
    // replace carries the tokens forward)
    val proot = java.nio.file.Files
      .createTempDirectory("graft-sqledgep-").resolve("t")
    val pt = TxnLog.Table(proot)
    TxnLog.appendPartitioned(spark, pt,
      Seq((1L, "d1"), (2L, "d2")).toDF("id", "day"), Seq("day"))
    spark.sql(
      s"INSERT OVERWRITE txnlog.`$proot` VALUES (3, 'd3'), (4, 'd4')")
    val psnap = TxnLog.snapshot(pt)
    assert(psnap.liveFiles.nonEmpty &&
      psnap.liveFiles.forall(psnap.filePartitions.contains),
      s"INSERT OVERWRITE flattened the layout: ${psnap.liveFiles}")
    assert(TxnLog.dropPartition(pt, Map("day" -> "d3")) > 0)
    assert(TxnLog.read(spark, pt).collect().map(_.getLong(0)).toSeq
      === Seq(4L))
  }

  test("aliased UPDATE, quote-safe time travel and ON-split edges") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlr16-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.append(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s").coalesce(1))
    // UPDATE t x SET … — the aliased form mutates the txnlog table
    // with alias-qualified references in SET and WHERE
    spark.sql(
      s"UPDATE txnlog.`$p` x SET v = x.v + 100 WHERE x.k = 1")
    // …and the AS spelling too
    spark.sql(
      s"UPDATE txnlog.`$p` AS y SET s = concat(y.s, '!') WHERE y.k = 2")
    assert(TxnLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
      .toSeq === Seq((1L, 110L, "a"), (2L, 20L, "b!")))
    // an aliased UPDATE whose target is NOT txnlog still delegates to
    // Spark's native path (the native error names the table)
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("UPDATE graft_no_such_upd u SET v = u.v + 1")
    }
    assert(nf.getMessage.contains("graft_no_such_upd"))
    // aliased DELETE mutates too; non-txnlog target delegates
    spark.sql(s"INSERT INTO txnlog.`$p` VALUES (3, 3, 'z')")
    spark.sql(s"DELETE FROM txnlog.`$p` AS d WHERE d.k = 3")
    assert(TxnLog.read(spark, t).filter($"k" === 3L).count() === 0L)
    val dnf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("DELETE FROM graft_no_such_del d WHERE d.k = 1")
    }
    assert(dnf.getMessage.contains("graft_no_such_del"))
    // a string literal containing a txnlog time-travel reference
    // survives an INSERT verbatim — the travel rewrite is quote-aware
    val lit0 = s"see txnlog.`$p` VERSION AS OF 3 for details"
    spark.sql(s"INSERT INTO txnlog.`$p` VALUES (9, 9, '$lit0')")
    assert(TxnLog.read(spark, t).filter($"k" === 9L).head().getString(2)
      === lit0)
    // …while a REAL travel reference in the same statement still
    // rewrites (both shapes in one text)
    val v0 = TxnLog.latestVersion(t)
    spark.sql(s"DELETE FROM txnlog.`$p` WHERE k = 9")
    assert(spark.sql(
      s"""SELECT count(*) FROM txnlog.`$p` VERSION AS OF $v0
         |WHERE s = '$lit0'""".stripMargin).head().getLong(0) === 1L)
    // a MERGE ON condition with an AND inside a string literal gets
    // the intended equi-conjunction message, not a fragment error
    Seq((1L, 1L, "x")).toDF("k", "v", "s")
      .createOrReplaceTempView("r16_src")
    val on = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO txnlog.`$p` t USING r16_src s
           |ON t.k = s.k AND t.s = 'a AND b'
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(on.getMessage.contains("conjunction"),
      s"wrong ON-split error: ${on.getMessage}")
    // date-only TIMESTAMP AS OF parses as midnight UTC; junk fails
    // naming the accepted forms
    assert(spark.sql(
      s"SELECT count(*) FROM txnlog.`$p` TIMESTAMP AS OF '2099-01-01'")
      .head().getLong(0) === 2L)
    val bad = intercept[IllegalArgumentException] {
      spark.sql(
        s"SELECT * FROM txnlog.`$p` TIMESTAMP AS OF 'T::Z'").collect()
    }
    assert(bad.getMessage.contains("accepted forms"),
      s"wrong timestamp error: ${bad.getMessage}")
  }

  test("txnlog path references resolve per query: temp views serve fresh data") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqllive-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.append(spark, t, Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    spark.sql(
      s"CREATE OR REPLACE TEMP VIEW live_v AS SELECT * FROM txnlog.`$p`")
    try {
      assert(spark.sql("SELECT count(*) FROM live_v").head().getLong(0)
        === 1L)
      // a commit AFTER view creation is visible THROUGH the view —
      // the one seam where the old parse-time pin served stale data
      spark.sql(s"INSERT INTO txnlog.`$p` VALUES (2, 20)")
      assert(spark.sql("SELECT count(*) FROM live_v").head().getLong(0)
        === 2L, "temp view pinned its creation-time snapshot")
      // a time-traveled reference still PINS its version
      val v0 = 0L
      spark.sql(s"CREATE OR REPLACE TEMP VIEW pin_v AS " +
        s"SELECT * FROM txnlog.`$p` VERSION AS OF $v0")
      spark.sql(s"DELETE FROM txnlog.`$p` WHERE k = 1")
      assert(spark.sql("SELECT count(*) FROM live_v").head().getLong(0)
        === 1L)
      assert(spark.sql("SELECT k FROM pin_v").collect()
        .map(_.getLong(0)).toSeq === Seq(1L),
        "time-traveled view lost its pin")
      // the live view survives VACUUM: the fresh file list never
      // references the reclaimed files (an eager pin would throw)
      TxnLog.vacuum(t, graceMs = 0L)
      assert(spark.sql("SELECT sum(v) FROM live_v").head().getLong(0)
        === 20L)
      // a DataFrame-created view stores the ANALYZED plan — one
      // relation instance baked in — so freshness there rides the
      // per-EXECUTION buildScan resolution, pinned by the audit
      // counter AND by seeing a commit that lands after creation
      val df = spark.sql(s"SELECT * FROM txnlog.`$p`")
      df.createOrReplaceTempView("live_dfv")
      val rel = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation
      }.collectFirst { case r: graft.sources.TxnLogRelation => r }.get
      val before = rel.logReads.get()
      assert(spark.sql("SELECT count(*) FROM live_dfv").head().getLong(0)
        === 1L)
      spark.sql(s"INSERT INTO txnlog.`$p` VALUES (5, 50)")
      assert(spark.sql("SELECT count(*) FROM live_dfv").head().getLong(0)
        === 2L, "stored-analyzed-plan view pinned its snapshot")
      assert(rel.logReads.get() >= before + 2,
        "live relation did not re-resolve per execution")
      // a PARTITIONED table's live view reconstitutes fresh too
      val proot = java.nio.file.Files
        .createTempDirectory("graft-sqllivep-").resolve("t")
      val pt = TxnLog.Table(proot)
      TxnLog.appendPartitioned(spark, pt,
        Seq((1L, "d1")).toDF("id", "day"), Seq("day"))
      spark.sql(s"CREATE OR REPLACE TEMP VIEW live_pv AS " +
        s"SELECT * FROM txnlog.`$proot`")
      assert(spark.sql("SELECT count(*) FROM live_pv").head().getLong(0)
        === 1L)
      spark.sql(s"INSERT INTO txnlog.`$proot` VALUES (2, 'd2')")
      assert(spark.sql(
        "SELECT id FROM live_pv WHERE day = 'd2'").collect()
        .map(_.getLong(0)).toSeq === Seq(2L),
        "partitioned temp view pinned its creation-time snapshot")
    } finally {
      spark.sql("DROP VIEW IF EXISTS live_v")
      spark.sql("DROP VIEW IF EXISTS pin_v")
      spark.sql("DROP VIEW IF EXISTS live_pv")
      spark.sql("DROP VIEW IF EXISTS live_dfv")
    }
  }

  test("txnlog_changes TVF and schema-defining CREATE TABLE close the SQL loop") {
    import spark.implicits._
    import graft.sources.TxnLog
    // CREATE TABLE with explicit columns on an EMPTY location defines
    // the table: queryable (zero rows), INSERT-able, constrainable
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlddl-").resolve("t")
    val p = root.toString
    spark.sql("DROP TABLE IF EXISTS ddl_cat")
    spark.sql(s"CREATE TABLE ddl_cat (k BIGINT, v BIGINT) USING txnlog " +
      s"OPTIONS (path '$p')")
    try {
      val t = TxnLog.Table(root)
      assert(TxnLog.latestVersion(t) === 0L) // the schema commit
      assert(spark.sql("SELECT * FROM ddl_cat").columns.toSeq ===
        Seq("k", "v"))
      assert(spark.sql("SELECT * FROM ddl_cat").count() === 0L)
      // constraints can be declared BEFORE any data
      spark.sql(s"ALTER TABLE txnlog.`$p` ADD CONSTRAINT v_pos " +
        "CHECK (v >= 0)")
      // INSERT aligns to the declared schema; column lists work
      spark.sql("INSERT INTO ddl_cat VALUES (1, 10)")
      val vIns1 = TxnLog.latestVersion(t)
      spark.sql(s"INSERT INTO txnlog.`$p` (k) VALUES (2)")
      val vIns2 = TxnLog.latestVersion(t)
      val got = intercept[IllegalArgumentException] {
        spark.sql("INSERT INTO ddl_cat VALUES (3, -1)")
      }
      assert(got.getMessage.contains("v_pos"))
      // the PATH reference resolves live; the catalog NAME does too —
      // TxnLogCatalog resolves it DSv2 (per-analysis loadTable), so
      // there is no relation cache to refresh (the r17-era DSv1
      // refreshTable workaround is gone)
      assert(spark.sql(s"SELECT count(*) FROM txnlog.`$p`")
        .head().getLong(0) === 2L)
      assert(spark.sql("SELECT count(*) FROM ddl_cat").head().getLong(0)
        === 2L, "catalog name served a stale cached relation")
      // txnlog_changes TVF: the typed change feed straight from SQL,
      // with per-commit attribution
      val v1 = TxnLog.latestVersion(t)
      spark.sql(s"DELETE FROM txnlog.`$p` WHERE k = 1")
      val v2 = TxnLog.latestVersion(t)
      val changes = spark.sql(
        s"""SELECT _commit_version, _change_type, k
           |FROM txnlog_changes('$p', $v1, $v2)
           |ORDER BY _change_type, k""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(changes === Seq((v2, "delete", 1L)), changes.toString)
      // the full range attributes each commit separately
      val all = spark.sql(
        s"""SELECT _commit_version, _change_type, count(*) AS n
           |FROM txnlog_changes('$p', 0, $v2)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(all === Seq((vIns1, "insert", 1L), (vIns2, "insert", 1L),
        (v2, "delete", 1L)), all.toString)
      // non-literal arguments refuse loudly: a column reference dies
      // in Spark's own resolution; a resolvable non-foldable
      // expression hits the builder's named literal guard
      val nl = intercept[Exception] {
        spark.sql(s"SELECT * FROM txnlog_changes('$p', 0, k)").collect()
      }
      assert(nl.getMessage.contains("k"), nl.getMessage)
      val nf2 = intercept[Exception] {
        spark.sql(
          s"SELECT * FROM txnlog_changes('$p', 0, rand())").collect()
      }
      assert(nf2.getMessage.contains("must be literals"), nf2.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS ddl_cat")
  }

  test("MERGE clause parity: INSERT (cols) VALUES, UPDATE SET *, nested USING") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-mrgpar-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.append(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s").coalesce(1))
    Seq((2L, 200L, "B"), (3L, 30L, "c"), (4L, 40L, "d"))
      .toDF("k", "v", "s").createOrReplaceTempView("mrgpar_src")
    // UPDATE SET * expands to every target column from the source;
    // INSERT (cols) VALUES aligns by name and NULL-fills unlisted
    // columns; a row both insert clauses accept routes to the FIRST
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING mrgpar_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.k = 3
         |  THEN INSERT (k, v) VALUES (s.k, s.v * 2)
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = TxnLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 10L, Some("a")), (2L, 200L, Some("B")),
      (3L, 60L, None), (4L, 40L, Some("d"))), got.toString)
    // a USING subquery with TWO levels of paren nesting parses (the
    // balanced scanner, not a bounded regex group)
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING (SELECT k, v, s FROM
         |  mrgpar_src WHERE k IN (SELECT k FROM mrgpar_src
         |  WHERE k >= 4)) s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v + 1""".stripMargin)
    assert(TxnLog.read(spark, t).filter($"k" === 4L)
      .head().getLong(1) === 41L)
    // refusals stay loud: unknown column in the INSERT list,
    // column/VALUES arity mismatch, SET * over a source missing a
    // target column
    val unk = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO txnlog.`$p` t USING mrgpar_src s ON t.k = s.k
           |WHEN NOT MATCHED THEN INSERT (k, zzz) VALUES (s.k, 1)"""
          .stripMargin)
    }
    assert(unk.getMessage.contains("zzz"), unk.getMessage)
    val arity = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO txnlog.`$p` t USING mrgpar_src s ON t.k = s.k
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"""
          .stripMargin)
    }
    assert(arity.getMessage.contains("VALUES expression"),
      arity.getMessage)
    Seq((1L, 5L)).toDF("k", "v")
      .createOrReplaceTempView("mrgpar_narrow")
    val miss = intercept[IllegalArgumentException] {
      spark.sql(
        s"""MERGE INTO txnlog.`$p` t USING mrgpar_narrow s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(miss.getMessage.contains("missing: s"), miss.getMessage)
    // `INSERT INTO t (SELECT ...)`: the parens are grouping, not a
    // column list — the statement appends through the log
    spark.sql(s"INSERT INTO txnlog.`$p` (SELECT 9L, 90L, 'z')")
    assert(TxnLog.read(spark, t).filter($"k" === 9L)
      .collect().map(r => (r.getLong(1), r.getString(2))).toSeq ===
      Seq((90L, "z")))
  }

  test("CREATE TABLE PARTITIONED BY binds the layout at v0; view schemas refresh per their kind") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-ddlp-").resolve("t")
    val p = root.toString
    spark.sql("DROP TABLE IF EXISTS ddlp_cat")
    spark.sql(s"CREATE TABLE ddlp_cat (k BIGINT, day STRING) " +
      s"USING txnlog PARTITIONED BY (day) OPTIONS (path '$p')")
    try {
      val t = TxnLog.Table(root)
      assert(TxnLog.latestVersion(t) === 0L)
      assert(TxnLog.declaredPartCols(t) === Seq("day"))
      // SHOW PARTITIONS works pre-data (no partitions yet)
      assert(spark.sql(s"SHOW PARTITIONS txnlog.`$p`").count() === 0L)
      // INSERT routes through the declared layout without any
      // PARTITION clause — the declaration decides
      spark.sql(s"INSERT INTO txnlog.`$p` VALUES (1, 'd1'), (2, 'd2')")
      assert(spark.sql(s"SHOW PARTITIONS txnlog.`$p`").collect()
        .map(_.getString(0)).sorted.toSeq ===
        Seq("day=d1", "day=d2"))
      // the layout prunes: one partition's files planned
      assert(TxnLog.plannedFilesPartition(t, Map("day" -> "d1"))._1 === 1)
      // DESCRIBE DETAIL reports the declared partition columns
      assert(spark.sql(s"DESCRIBE DETAIL txnlog.`$p`")
        .head().getString(5) === "day")
      // a DataFrame append (no partitionBy) also stages through it
      Seq((3L, "d1")).toDF("k", "day").write.format("txnlog")
        .mode("append").save(p)
      val snap = TxnLog.snapshot(t)
      assert(snap.liveFiles.forall(r =>
        snap.filePartitions.getOrElse(r, Map.empty).contains("day")))
      // view SCHEMA semantics, pinned as the documented trade: every
      // view kind — SQL-text and DataFrame-created alike — keeps its
      // creation-time schema (Spark's View contract fixes output
      // attributes at creation; live relations refresh DATA per
      // scan, never a view's shape). ADD COLUMNS becomes visible
      // through a view only after re-creation — the Delta posture.
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ddlp_sqlv AS " +
        s"SELECT * FROM txnlog.`$p`")
      TxnLog.read(spark, t).createOrReplaceTempView("ddlp_dfv")
      spark.sql(s"ALTER TABLE txnlog.`$p` ADD COLUMNS (note STRING)")
      assert(spark.table("ddlp_sqlv").columns.toSeq === Seq("k", "day"))
      assert(spark.table("ddlp_dfv").columns.toSeq === Seq("k", "day"))
      // a DIRECT reference sees the new column at once; re-created
      // views pick it up
      assert(spark.sql(s"SELECT * FROM txnlog.`$p`").columns.toSeq ===
        Seq("k", "day", "note"))
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ddlp_sqlv AS " +
        s"SELECT * FROM txnlog.`$p`")
      TxnLog.read(spark, t).createOrReplaceTempView("ddlp_dfv")
      assert(spark.table("ddlp_sqlv").columns.toSeq ===
        Seq("k", "day", "note"))
      assert(spark.table("ddlp_dfv").columns.toSeq ===
        Seq("k", "day", "note"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS ddlp_cat")
      spark.sql("DROP VIEW IF EXISTS ddlp_sqlv")
      spark.sql("DROP VIEW IF EXISTS ddlp_dfv")
    }
  }

  test("withExtensions wiring registers the same functions") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(s2.sql("SELECT rolling_hash('x')").collect()(0).getLong(0) ==
        'x'.toLong)
    } finally () // shared-JVM session; don't stop the base session
  }

  test("txnlog_changes timestamp bounds, TBLPROPERTIES quote escapes, orphan-v0 adoption") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-tvfts-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    for (i <- 0 until 3)
      TxnLog.append(spark, t,
        Seq((i.toLong, i.toLong)).toDF("k", "v").coalesce(1))
    // pin the commit instants: v0, v1, v2 one minute apart
    val base = java.time.Instant.parse("2001-01-01T00:00:00Z")
      .toEpochMilli
    (0L to 2L).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        t.logDir.resolve(f"$v%020d.log"),
        java.nio.file.attribute.FileTime.fromMillis(base + v * 60000L))
    }
    // a non-numeric string bound resolves like timestampAsOf: the
    // pair reads "changes between the table as of ts1 and as of ts2"
    val viaTs = spark.sql(
      s"""SELECT k, _commit_version
         |FROM txnlog_changes('$p', '2001-01-01 00:00:30',
         |                          '2001-01-01 00:02:30')
         |ORDER BY k""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaTs === Seq((1L, 1L), (2L, 2L)), viaTs.toString)
    // version and timestamp bounds mix; the version form is unchanged
    val mixed = spark.sql(
      s"""SELECT k FROM txnlog_changes('$p', 1, '2001-01-01 00:02:30')
         |ORDER BY k""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(mixed === Seq(2L))
    // TYPED literals resolve by their Catalyst type: a TIMESTAMP
    // evals to epoch MICROS — read as a raw number it would be
    // misread as a (huge) version; a DATE to epoch DAYS — worse, a
    // small number that could BE a real version on an old table
    val viaTyped = spark.sql(
      s"""SELECT k FROM txnlog_changes('$p',
         |  TIMESTAMP '2001-01-01 00:00:30+00:00',
         |  TIMESTAMP '2001-01-01 00:02:30+00:00')
         |ORDER BY k""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(viaTyped === Seq(1L, 2L), viaTyped.toString)
    val viaDate = spark.sql(
      s"""SELECT count(*) FROM txnlog_changes('$p',
         |  DATE '2001-01-01', DATE '2001-01-02')""".stripMargin)
      .head().getLong(0)
    assert(viaDate === 3L, s"DATE bounds read $viaDate rows") // v0..v2
    // typed DATE / TIMESTAMP_NTZ bounds convert through the SESSION
    // time zone, like Spark's own literals: the same DATE names an
    // instant 5h30m earlier in Asia/Kolkata — here, before v0 exists
    assert(spark.sql(s"SELECT count(*) FROM txnlog_changes('$p', " +
      "0, DATE '2001-01-01')").head().getLong(0) === 1L) // UTC: at v0
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      val tzd = intercept[Exception] {
        spark.sql(s"SELECT * FROM txnlog_changes('$p', " +
          "0, DATE '2001-01-01')").collect()
      }
      assert(tzd.getMessage.contains("no version committed"),
        tzd.getMessage)
      val ntz = intercept[Exception] {
        spark.sql(s"SELECT * FROM txnlog_changes('$p', " +
          "0, TIMESTAMP_NTZ '2001-01-01 00:00:30')").collect()
      }
      assert(ntz.getMessage.contains("no version committed"),
        ntz.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // a negative version bound refuses like the nonexistent version
    // it is (an arithmetic underflow must not replay the origin wave)
    val neg = intercept[Exception] {
      spark.sql(s"SELECT * FROM txnlog_changes('$p', -1, 2)").collect()
    }
    assert(neg.getMessage.contains("does not exist"), neg.getMessage)
    // a NULL bound refuses by name — a typed null would unbox to
    // epoch 0 and silently stream the whole feed
    val nul = intercept[Exception] {
      spark.sql(s"SELECT * FROM txnlog_changes('$p', " +
        "CAST(NULL AS TIMESTAMP), 2)").collect()
    }
    assert(nul.getMessage.contains("must not be NULL"), nul.getMessage)
    // a timestamp FROM-bound that cannot prove it postdates EXPIRED
    // history refuses (the version form's partially-expired refusal,
    // timestamp-shaped): after expiry the earliest retained commit is
    // v2, and an instant at-or-before its mtime may have admitted
    // expired commits too
    TxnLog.checkpoint(t, 2L)
    assert(TxnLog.expireLog(t) > 0) // earliest retained is now v2
    TxnLog.append(spark, t, Seq((9L, 9L)).toDF("k", "v").coalesce(1))
    java.nio.file.Files.setLastModifiedTime(
      t.logDir.resolve(f"${3L}%020d.log"),
      java.nio.file.attribute.FileTime.fromMillis(base + 3 * 60000L))
    val exp = intercept[Exception] {
      spark.sql(s"SELECT * FROM txnlog_changes('$p', " +
        "'2001-01-01 00:01:00', '2001-01-01 00:03:30')").collect()
    }
    assert(exp.getMessage.contains("expired"), exp.getMessage)
    // a bound strictly after the earliest retained instant provably
    // postdates every expired commit: still serves
    assert(spark.sql(s"SELECT count(*) FROM txnlog_changes('$p', " +
      "'2001-01-01 00:02:30', '2001-01-01 00:03:30')")
      .head().getLong(0) === 1L)
    // a timestamp FROM resolving ABOVE a version TO refuses with the
    // version form's named empty-range message, not a silent empty df
    val ord = intercept[Exception] {
      spark.sql(s"SELECT * FROM txnlog_changes('$p', " +
        "'2001-01-01 00:03:30', 3)").collect()
    }
    assert(ord.getMessage.contains("empty change range"), ord.getMessage)
    // TBLPROPERTIES: SQL's doubled-quote escape round-trips through
    // key and value (Spark's own grammar accepts it)
    spark.sql(s"ALTER TABLE txnlog.`$p` SET TBLPROPERTIES " +
      "('it''s' = 'a ''quoted'' value')")
    assert(TxnLog.propertiesOf(t).get("it's") ===
      Some("a 'quoted' value"))
    spark.sql(s"ALTER TABLE txnlog.`$p` UNSET TBLPROPERTIES ('it''s')")
    assert(!TxnLog.propertiesOf(t).contains("it's"))
    // ORPHAN-v0 adoption: a CREATE whose native half failed leaves a
    // metadata-only v0 behind (rolling it back raced concurrent
    // writers); the IDENTICAL retry adopts it instead of refusing
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-orphan-").resolve("t2")
    val t2 = TxnLog.Table(root2)
    TxnLog.registerSchema(t2, new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.LongType))
    spark.sql("DROP TABLE IF EXISTS orphan_cat")
    spark.sql(s"CREATE TABLE orphan_cat (k BIGINT, v BIGINT) " +
      s"USING txnlog OPTIONS (path '$root2')")
    try {
      assert(TxnLog.latestVersion(t2) === 0L)
      spark.sql("INSERT INTO orphan_cat VALUES (1, 10)")
      assert(TxnLog.read(spark, t2).count() === 1L)
      // a DIFFERING declaration still refuses (adopting would
      // silently redefine whatever minted the v0)...
      spark.sql("DROP TABLE IF EXISTS orphan_bad")
      val bad = intercept[Exception] {
        spark.sql(s"CREATE TABLE orphan_bad (k BIGINT, z STRING) " +
          s"USING txnlog OPTIONS (path '$root2')")
      }
      assert(bad.getMessage.contains("already exists"), bad.getMessage)
      // ...and so does a re-CREATE once data landed (no longer orphan)
      spark.sql("DROP TABLE IF EXISTS orphan_cat")
      val live = intercept[Exception] {
        spark.sql(s"CREATE TABLE orphan_cat (k BIGINT, v BIGINT) " +
          s"USING txnlog OPTIONS (path '$root2')")
      }
      assert(live.getMessage.contains("already exists"), live.getMessage)
      // a PATH-addressed CREATE never adopts: its registration IS the
      // create (no native half to fail), so a metadata-only v0 there
      // is a successfully created EMPTY table and a duplicate CREATE
      // must refuse — the SQL contract a lax adoption would mask
      val root3 = java.nio.file.Files
        .createTempDirectory("graft-dupcre-").resolve("t3")
      spark.sql(s"CREATE TABLE txnlog.`$root3` (k BIGINT) USING txnlog")
      val dup = intercept[Exception] {
        spark.sql(s"CREATE TABLE txnlog.`$root3` (k BIGINT) USING txnlog")
      }
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
      // IF NOT EXISTS still no-ops on it
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS txnlog.`$root3` (k BIGINT) " +
          "USING txnlog")
      // adoption compares NULLABILITY too: a retry that adds NOT NULL
      // must not silently lose the constraint to the orphan's schema
      val root4 = java.nio.file.Files
        .createTempDirectory("graft-orphnn-").resolve("t4")
      val t4 = TxnLog.Table(root4)
      TxnLog.registerSchema(t4,
        new org.apache.spark.sql.types.StructType()
          .add("k", org.apache.spark.sql.types.LongType)) // nullable
      spark.sql("DROP TABLE IF EXISTS orphan_nn")
      val nn = intercept[Exception] {
        spark.sql(s"CREATE TABLE orphan_nn (k BIGINT NOT NULL) " +
          s"USING txnlog OPTIONS (path '$root4')")
      }
      assert(nn.getMessage.contains("already exists"), nn.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orphan_cat")
      spark.sql("DROP TABLE IF EXISTS orphan_bad")
    }
  }

  test("DSv2 catalog: names serve fresh metadata and data, no refreshTable") {
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-dsv2-").resolve("t")
    val p = root.toString
    spark.sql("DROP TABLE IF EXISTS v2_cat")
    spark.sql(s"CREATE TABLE v2_cat (k BIGINT, v BIGINT) USING txnlog " +
      s"PARTITIONED BY (k) OPTIONS (path '$p') " +
      "TBLPROPERTIES ('graft.note' = 'created')")
    try {
      val t = TxnLog.Table(root)
      // the name resolves through TxnLogCatalog → TxnLogTable → the
      // live V1 relation; every statement below runs WITHOUT any
      // refreshTable call
      assert(spark.table("v2_cat").columns.toSeq === Seq("k", "v"))
      spark.sql("INSERT INTO v2_cat VALUES (1, 10), (2, 20)")
      assert(spark.sql("SELECT count(*) FROM v2_cat").head().getLong(0)
        === 2L)
      // DML through the parser seam lands in the log; the NAME sees it
      spark.sql("DELETE FROM v2_cat WHERE k = 2")
      assert(spark.sql("SELECT sum(v) FROM v2_cat").head().getLong(0)
        === 10L)
      // schema evolution: the catalog name picks the new column up on
      // the very next query (DSv1 served the stale cached schema here)
      spark.sql("ALTER TABLE v2_cat ADD COLUMNS (note STRING)")
      assert(spark.table("v2_cat").columns.toSeq === Seq("k", "v", "note"))
      // DESCRIBE TABLE EXTENDED on the NAME is property/constraint/
      // layout-aware — served from the log, not the metastore entry
      spark.sql("ALTER TABLE v2_cat ADD CONSTRAINT v_pos CHECK (v >= 0)")
      val desc = spark.sql("DESCRIBE TABLE EXTENDED v2_cat").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(desc.contains("note"), desc.toString) // evolved column
      val props = desc.getOrElse("Table Properties", "")
      assert(props.contains("graft.note=created"), props)
      assert(props.contains("graft.constraints.v_pos=v >= 0"), props)
      assert(desc.contains("# Partition Information"), desc.toString)
      // SHOW TBLPROPERTIES (parser seam) agrees with the v2 surface
      val shown = spark.sql("SHOW TBLPROPERTIES v2_cat").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown.get("graft.note").contains("created"))
      // the catalog-name read keeps the V1 plan shape: filters still
      // push into the relation (the rewrite rule hands analysis the
      // same PrunedFilteredScan every path reference uses)
      val plan = spark.sql("SELECT v FROM v2_cat WHERE v > 15")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [GreaterThan(v,15)]") ||
        plan.contains("GreaterThan(v,15)"), plan)
      // table_changes accepts the catalog NAME too (Delta's TVF
      // spelling): commit 0 is the schema-only CREATE, commit 1 the
      // two-row insert wave
      assert(spark.sql(
        "SELECT count(*) FROM txnlog_changes('v2_cat', 0, 1)")
        .head().getLong(0) === 2L)
      // a temp view over the NAME stays live (the rewrite rule hands
      // it the per-scan-resolved relation, not a pinned file list)
      spark.sql("CREATE OR REPLACE TEMP VIEW v2_cat_view AS " +
        "SELECT * FROM v2_cat")
      val before = spark.table("v2_cat_view").count()
      spark.sql("INSERT INTO v2_cat VALUES (3, 30, 'x')")
      assert(spark.table("v2_cat_view").count() === before + 1,
        "temp view over the catalog name pinned its snapshot")
      // time travel on the NAME — VERSION AS OF and TIMESTAMP AS OF
      // resolve through the TableCatalog overloads
      val vNow = TxnLog.latestVersion(t)
      spark.sql("INSERT INTO v2_cat VALUES (9, 90, 'later')")
      assert(spark.sql(s"SELECT count(*) FROM v2_cat VERSION AS OF $vNow")
        .head().getLong(0) === 2L)
      assert(spark.sql("SELECT count(*) FROM v2_cat").head().getLong(0)
        === 3L)
      // TIMESTAMP AS OF through the TableCatalog micros overload: an
      // instant past every commit resolves to the current version
      assert(spark.sql("SELECT count(*) FROM v2_cat " +
        "TIMESTAMP AS OF '2099-01-01 00:00:00'").head().getLong(0)
        === 3L)
      // the READER-OPTION spelling travels too — ignoring it would
      // silently serve the latest snapshot
      assert(spark.read.option("versionAsOf", vNow).table("v2_cat")
        .count() === 2L)
      // DataFrameWriterV2 appends through the same V1Write bridge
      locally {
        val sp = spark
        import sp.implicits._
        Seq((8L, 80L, "w")).toDF("k", "v", "note").writeTo("v2_cat")
          .append()
      }
      assert(spark.sql("SELECT v FROM v2_cat WHERE k = 8").collect()
        .map(_.getLong(0)).toSeq === Seq(80L))
      // INSERT with a PARTITION spec — a form the parser seam does
      // NOT lower; it plans through Spark's native v2 write path and
      // lands as an ordinary partitioned append commit
      spark.sql("INSERT INTO v2_cat PARTITION (k = 7) VALUES (70, 'p')")
      assert(spark.sql("SELECT v FROM v2_cat WHERE k = 7").collect()
        .map(_.getLong(0)).toSeq === Seq(70L))
      assert(TxnLog.snapshot(t).partCols === Seq("k"),
        "native v2 insert eroded the declared layout")
      // INSERT OVERWRITE via the parser seam stays one atomic replace
      spark.sql("INSERT OVERWRITE v2_cat VALUES (5, 50, 'only')")
      assert(spark.sql("SELECT k, v FROM v2_cat").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((5L, 50L)))
      // writes to a time-traveled snapshot refuse: the guard sits in
      // newWriteBuilder, driven here on a traveled table instance
      // (SQL has no INSERT ... VERSION AS OF form to reach it with)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("v2_cat"))
      val traveled = graft.sources.TxnLogTable(t, meta, Some(vNow))
      val tt = intercept[IllegalArgumentException] {
        traveled.newWriteBuilder(null)
      }
      assert(tt.getMessage.contains("time-traveled"), tt.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS v2_cat")
  }

  test("CREATE OR REPLACE TABLE / writeTo.createOrReplace: one atomic redefinition commit, history crossable, layout and properties replaced") {
    import graft.sources.TxnLog
    val sp = spark
    import sp.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft-cor-")
      .resolve("t")
    val t = TxnLog.Table(TxnLog.pathOf(loc.toString))
    spark.sql("DROP TABLE IF EXISTS cor_cat")
    spark.sql(s"CREATE TABLE cor_cat (k BIGINT) USING txnlog " +
      s"OPTIONS (path '$loc') TBLPROPERTIES ('old.prop' = '1')")
    spark.sql("INSERT INTO cor_cat VALUES (1), (2)")
    spark.sql("ALTER TABLE cor_cat ADD CONSTRAINT pos CHECK (k > 0)")
    val v0 = TxnLog.latestVersion(t)
    try {
      // CTAS form with a NEW layout + NEW properties: ONE commit
      // carries the whole redefinition — files out, schema/layout/
      // properties in, old constraints dropped, data staged
      spark.sql(s"CREATE OR REPLACE TABLE cor_cat USING txnlog " +
        s"PARTITIONED BY (p) OPTIONS (path '$loc') " +
        "TBLPROPERTIES ('new.prop' = '2') " +
        "AS SELECT -5L AS k, 'a' AS p UNION ALL SELECT 6L, 'b'")
      val snap = TxnLog.snapshot(t)
      assert(snap.version === v0 + 1, "replace was not one atomic commit")
      assert(snap.declaredPartCols === Seq("p"))
      assert(snap.liveFiles.forall(snap.filePartitions.contains),
        "replace CTAS flattened its declared layout")
      assert(snap.properties.get("new.prop").contains("2") &&
        !snap.properties.contains("old.prop"),
        s"properties not replaced: ${snap.properties}")
      assert(snap.checks.isEmpty && snap.notNull.isEmpty,
        "a replace must drop the old definition's constraints " +
          "(the CTAS data would violate k > 0 otherwise)")
      assert(spark.table("cor_cat").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
        Seq((-5L, "a"), (6L, "b")))
      // the catalog surface serves the new shape; appends route
      // through the REPLACED layout (header republished)
      assert(spark.table("cor_cat").columns.toSeq === Seq("k", "p"))
      spark.sql("INSERT INTO cor_cat VALUES (7, 'c')")
      val snap2 = TxnLog.snapshot(t)
      assert(snap2.liveFiles.forall(snap2.filePartitions.contains),
        "a post-replace append flattened the replaced layout")
      // CDF: the replace feeds delete-old + insert-new exactly
      val cdf = spark.sql(
        s"SELECT _change_type, count(*) AS n FROM " +
          s"txnlog_changes('cor_cat', $v0, ${v0 + 1}) GROUP BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(cdf === Map("delete" -> 2L, "insert" -> 2L), cdf.toString)
      // writeTo.createOrReplace() — no .using(): the existing entry's
      // provider routes it; the layout clears (no partitionedBy)
      Seq((9L, 90L)).toDF("k", "v").writeTo("cor_cat").createOrReplace()
      val snap3 = TxnLog.snapshot(t)
      assert(snap3.declaredPartCols === Nil,
        "writeTo.createOrReplace kept the old declared layout")
      assert(spark.table("cor_cat").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((9L, 90L)))
      // history is RETAINED: DESCRIBE HISTORY lists versions below
      // the replaces, and RESTORE can cross them (schema AND layout
      // reconciled back)
      assert(spark.sql(s"DESCRIBE HISTORY txnlog.`$loc`").count() >=
        (v0 + 3).toLong)
      spark.sql(s"RESTORE TABLE txnlog.`$loc` TO VERSION AS OF $v0")
      assert(spark.sql(s"SELECT k FROM txnlog.`$loc` ORDER BY k")
        .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
      assert(TxnLog.registeredSchema(t).get.fieldNames.toSeq === Seq("k"))
      assert(TxnLog.snapshot(t).declaredPartCols === Nil)
      // properties are part of the restored definition: the replace's
      // new.prop lifts, the original old.prop comes back
      val restProps = TxnLog.snapshot(t).properties
      assert(restProps.get("old.prop").contains("1") &&
        !restProps.contains("new.prop"),
        s"restore did not reconcile properties: $restProps")
      // plain REPLACE TABLE (writeTo.replace) on a MISSING table
      // refuses; createOrReplace creates — and the created half obeys
      // the same duplicate rules as CREATE (a second createOrReplace
      // is just a replace, idempotent by value)
      spark.sql("DROP TABLE IF EXISTS cor_cat2")
      val missing = intercept[Exception] {
        Seq(1L).toDF("k").writeTo("cor_cat2").using("txnlog").replace()
      }
      assert(missing.getMessage.contains("does not exist"),
        missing.getMessage)
      Seq(1L).toDF("k").writeTo("cor_cat2").using("txnlog")
        .createOrReplace()
      Seq(2L).toDF("k").writeTo("cor_cat2").using("txnlog")
        .createOrReplace()
      assert(spark.table("cor_cat2").collect().map(_.getLong(0))
        .toSeq === Seq(2L))
      // the replace SUPERSEDES DROP COLUMN tombstones: no surviving
      // file holds the dropped bytes, so the once-dropped name is
      // safe again after CREATE OR REPLACE
      val t5loc = java.nio.file.Files
        .createTempDirectory("graft-cor5-").resolve("t")
      spark.sql(s"CREATE TABLE txnlog.`$t5loc` (a BIGINT, b BIGINT) " +
        "USING txnlog")
      spark.sql(s"INSERT INTO txnlog.`$t5loc` VALUES (1, 2)")
      spark.sql(s"ALTER TABLE txnlog.`$t5loc` DROP COLUMN b")
      val preClear = intercept[Exception] {
        spark.sql(s"ALTER TABLE txnlog.`$t5loc` ADD COLUMNS (b BIGINT)")
      }
      assert(preClear.getMessage.contains("DROPPED"), preClear.getMessage)
      spark.sql(s"CREATE OR REPLACE TABLE txnlog.`$t5loc` (k BIGINT) " +
        "USING txnlog")
      spark.sql(s"ALTER TABLE txnlog.`$t5loc` ADD COLUMNS (b BIGINT)")
      assert(TxnLog.registeredSchema(TxnLog.Table(
        TxnLog.pathOf(t5loc.toString))).get.fieldNames.toSeq ===
        Seq("k", "b"))
      // RESTORE back across the replace RE-ARMS the tombstone: the
      // re-added pre-replace files still hold the dropped bytes
      spark.sql(s"RESTORE TABLE txnlog.`$t5loc` TO VERSION AS OF 2")
      val rearmed = intercept[Exception] {
        spark.sql(s"ALTER TABLE txnlog.`$t5loc` ADD COLUMNS (b BIGINT)")
      }
      assert(rearmed.getMessage.contains("DROPPED"), rearmed.getMessage)
      // OR REPLACE's column list routes through the same DEFAULT gate
      // as CREATE: non-deterministic refuses, constants freeze
      val ndRep = intercept[Exception] {
        spark.sql(s"CREATE OR REPLACE TABLE txnlog.`$t5loc` " +
          "(k BIGINT, r DOUBLE DEFAULT rand()) USING txnlog")
      }
      assert(ndRep.getMessage.contains("non-deterministic"),
        ndRep.getMessage)
      spark.sql(s"CREATE OR REPLACE TABLE txnlog.`$t5loc` " +
        "(k BIGINT, lang STRING DEFAULT 'fr') USING txnlog")
      spark.sql(s"INSERT INTO txnlog.`$t5loc` (k) VALUES (1)")
      assert(spark.sql(s"SELECT k, lang FROM txnlog.`$t5loc`")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "fr")))
      // a non-txnlog provider is left to Spark's native handling
      // (its own refusal for V1 providers stands)
      spark.sql("DROP TABLE IF EXISTS cor_pq")
      spark.sql("CREATE TABLE cor_pq (k BIGINT) USING parquet")
      val native = intercept[Exception] {
        spark.sql("CREATE OR REPLACE TABLE cor_pq (k BIGINT) " +
          "USING parquet")
      }
      assert(native.getMessage.contains("REPLACE TABLE"),
        native.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cor_cat")
      spark.sql("DROP TABLE IF EXISTS cor_cat2")
      spark.sql("DROP TABLE IF EXISTS cor_pq")
    }
  }

  test("streaming over catalog names: readStream.table and writeStream.toTable ride the proven source/sink") {
    import graft.sources.TxnLog
    import scala.jdk.CollectionConverters._
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-snam-").resolve("t")
    spark.sql("DROP TABLE IF EXISTS stream_cat")
    spark.sql("CREATE TABLE stream_cat (id BIGINT) USING txnlog " +
      s"OPTIONS (path '$root')")
    val t = TxnLog.Table(root)
    try {
      spark.sql("INSERT INTO stream_cat VALUES (1), (2)")
      spark.sql("INSERT INTO stream_cat VALUES (3)")
      // 1) readStream on the NAME replays the append feed exactly
      // once across restart — the TxnLogSpec:540 contract, on a name
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-snam-ckpt-").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def startQ() = spark.readStream.table("stream_cat")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0))); ()
        }.start()
      val q1 = startQ()
      try {
        q1.processAllAvailable()
        assert(got.asScala.toSeq.sorted === Seq(1L, 2L, 3L))
        spark.sql("INSERT INTO stream_cat VALUES (4)")
        q1.processAllAvailable()
        assert(got.asScala.toSeq.sorted === (1L to 4L))
      } finally q1.stop()
      spark.sql("INSERT INTO stream_cat VALUES (5)")
      val q2 = startQ()
      try {
        q2.processAllAvailable()
        assert(got.asScala.toSeq.sorted === (1L to 5L),
          "restart re-delivered or dropped rows on a NAME stream")
      } finally q2.stop()
      // 2) reader OPTIONS flow on a name (Spark's own V1 fallback
      // seam drops them — the rewrite rule must carry them):
      // startingVersion skips the initial backlog
      val svCkpt = java.nio.file.Files
        .createTempDirectory("graft-snam-sv-").toString
      val svGot = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val fromV = TxnLog.latestVersion(t) // stream only what lands next
      val q3 = spark.readStream
        .option("startingVersion", (fromV + 1).toString)
        .table("stream_cat")
        .writeStream.option("checkpointLocation", svCkpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => svGot.add(r.getLong(0))); ()
        }.start()
      try {
        q3.processAllAvailable()
        assert(svGot.asScala.toSeq === Nil, "startingVersion ignored " +
          "on a catalog name — the backlog was replayed")
        spark.sql("INSERT INTO stream_cat VALUES (6)")
        q3.processAllAvailable()
        assert(svGot.asScala.toSeq.sorted === Seq(6L))
      } finally q3.stop()
      // 3) a CDF stream on the NAME: dv DML arrives as typed events
      spark.sql("ALTER TABLE stream_cat SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')")
      val cdfCkpt = java.nio.file.Files
        .createTempDirectory("graft-snam-cdf-").toString
      val events =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      val q4 = spark.readStream.option("readChangeFeed", "true")
        .table("stream_cat")
        .writeStream.option("checkpointLocation", cdfCkpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id", "_change_type").collect()
            .foreach(r => events.add((r.getLong(0), r.getString(1)))); ()
        }.start()
      try {
        q4.processAllAvailable()
        // backlog arrives as one insert wave
        assert(events.asScala.count(_._2 == "insert") === 6)
        spark.sql("DELETE FROM stream_cat WHERE id = 2") // dv delete
        q4.processAllAvailable()
        assert(events.asScala.toSeq.contains((2L, "delete")),
          s"dv DELETE did not stream as a typed event: ${events.asScala}")
      } finally q4.stop()
      assert(TxnLog.snapshot(t).dvs.nonEmpty,
        "the DELETE above was expected to take the merge-on-read path")
      // 4) writeStream.toTable on a NAME: exactly-once commits
      // through the V1 fallback seam (format names the provider, the
      // OSS-Delta contract)
      val sinkRoot = java.nio.file.Files
        .createTempDirectory("graft-snam-sink-").resolve("s")
      spark.sql("DROP TABLE IF EXISTS sink_cat")
      spark.sql("CREATE TABLE sink_cat (id BIGINT) USING txnlog " +
        s"OPTIONS (path '$sinkRoot')")
      val st = TxnLog.Table(sinkRoot)
      val sinkCkpt = java.nio.file.Files
        .createTempDirectory("graft-snam-sinkck-").toString
      def pump() = spark.readStream.table("stream_cat")
        .writeStream.format("txnlog")
        .option("checkpointLocation", sinkCkpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("sink_cat")
      val w1 = pump()
      assert(w1.awaitTermination(120000L), "AvailableNow did not stop")
      val afterFirst = spark.table("sink_cat").count()
      assert(afterFirst === spark.table("stream_cat").count())
      // restart with the same checkpoint: replayed batches are FENCED
      // (appId derives from the checkpoint), nothing double-lands
      val w2 = pump()
      assert(w2.awaitTermination(120000L), "AvailableNow did not stop")
      assert(spark.table("sink_cat").count() === afterFirst,
        "restarted toTable query re-delivered fenced batches")
      assert(spark.table("sink_cat").as[Long].collect().sorted
        === spark.table("stream_cat").as[Long].collect().sorted)
      // the sink fed through ordinary log commits readable by version
      assert(TxnLog.latestVersion(st) >= 1L)
      // 5) a time-traveled NAME refuses to stream — Spark's own
      // relation resolution asserts it before the rewrite rule runs
      // (the rule keeps a defensive refusal of its own)
      val travel = intercept[Exception] {
        spark.readStream.option("versionAsOf", "1").table("stream_cat")
          .writeStream.format("noop").start()
      }
      val chain = Iterator.iterate[Throwable](travel)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains("time travel is not allowed in streaming")
        || chain.contains("stream a time-traveled"), chain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS stream_cat")
      spark.sql("DROP TABLE IF EXISTS sink_cat")
    }
  }

  test("partition-scoped overwrite: INSERT OVERWRITE PARTITION / writeTo.overwrite / replaceWhere option rewrite one partition atomically") {
    import graft.sources.TxnLog
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-rw-").resolve("t")
    val t = TxnLog.Table(root)
    spark.sql("DROP TABLE IF EXISTS rw_cat")
    spark.sql("CREATE TABLE rw_cat (v BIGINT, k BIGINT) USING txnlog " +
      s"PARTITIONED BY (k) OPTIONS (path '$root')")
    try {
      spark.sql("INSERT INTO rw_cat VALUES (10, 1), (11, 1), (20, 2), " +
        "(30, 3)")
      val before = TxnLog.snapshot(t)
      val untouched = before.liveFiles.filter(rel =>
        before.filePartitions(rel).get("k").exists(_ != "2")).toSet
      // SQL INSERT OVERWRITE ... PARTITION (k = 2) on the catalog
      // name: ONE commit replaces exactly partition 2's files
      spark.sql("INSERT OVERWRITE rw_cat PARTITION (k = 2) VALUES (21)")
      val after = TxnLog.snapshot(t)
      assert(after.version === before.version + 1, "not one commit")
      assert(untouched.subsetOf(after.liveFiles.toSet),
        "a scoped overwrite touched out-of-scope files")
      assert(after.liveFiles.toSet.intersect(
        before.liveFiles.toSet -- untouched).isEmpty,
        "partition 2's old files survived the scoped overwrite")
      assert(spark.sql("SELECT v FROM rw_cat WHERE k = 2").collect()
        .map(_.getLong(0)).toSeq === Seq(21L))
      assert(spark.sql("SELECT count(*) FROM rw_cat").head().getLong(0)
        === 4L)
      // declared layout survives, and the commit feeds exact CDF
      assert(after.partCols === Seq("k"))
      val cdf = spark.sql(
        s"""SELECT v, _change_type
           |FROM txnlog_changes('rw_cat', ${before.version},
           |                    ${after.version})
           |ORDER BY v""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(cdf === Seq((20L, "delete"), (21L, "insert")), cdf.toString)
      // DataFrameWriterV2's condition spelling rides the same seam
      Seq((12L, 1L)).toDF("v", "k").writeTo("rw_cat")
        .overwrite($"k" === 1L)
      assert(spark.sql("SELECT v FROM rw_cat WHERE k = 1").collect()
        .map(_.getLong(0)).toSeq === Seq(12L))
      assert(spark.sql("SELECT count(*) FROM rw_cat").head().getLong(0)
        === 3L) // (12,1) (21,2) (30,3)
      // the writer-OPTION spelling (Delta's replaceWhere) on the path
      Seq((31L, 3L), (32L, 3L)).toDF("v", "k")
        .write.format("txnlog").mode("overwrite")
        .option("replaceWhere", "k = 3")
        .option("path", root.toString).save()
      assert(spark.sql("SELECT v FROM rw_cat WHERE k = 3 ORDER BY v")
        .collect().map(_.getLong(0)).toSeq === Seq(31L, 32L))
      // a row OUTSIDE the scoped partition refuses (Delta validation)
      val stray = intercept[Exception] {
        Seq((99L, 9L)).toDF("v", "k").writeTo("rw_cat")
          .overwrite($"k" === 2L)
      }
      assert(stray.getMessage.contains("outside the scoped"),
        stray.getMessage)
      // a NON-partition condition routes the GENERAL replaceWhere
      // (Delta >= 1.1) — here its incoming-scope validation refuses
      // the out-of-scope row (v=1 under a v=21 predicate), leaving
      // state untouched; the happy path is pinned in TxnLogSpec
      val nonPart = intercept[Exception] {
        Seq((1L, 2L)).toDF("v", "k").writeTo("rw_cat")
          .overwrite($"v" === 21L)
      }
      assert(nonPart.getMessage.contains("outside the predicate"),
        nonPart.getMessage)
      // a dv-CARRYING victim stages its LIVE rows as old images (raw
      // refs would re-deliver the dead row through the change feed)
      spark.sql("ALTER TABLE rw_cat SET TBLPROPERTIES " +
        "('graft.enableDeletionVectors' = 'true')")
      spark.sql("DELETE FROM rw_cat WHERE v = 31") // dv in partition 3
      assert(TxnLog.snapshot(t).dvs.nonEmpty, "expected a dv victim")
      val vBefore = TxnLog.latestVersion(t)
      spark.sql("INSERT OVERWRITE rw_cat PARTITION (k = 3) VALUES (33)")
      val dvCdf = spark.sql(
        s"""SELECT v, _change_type
           |FROM txnlog_changes('rw_cat', $vBefore, ${vBefore + 1})
           |ORDER BY v""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(dvCdf === Seq((32L, "delete"), (33L, "insert")),
        s"dv victim old images leaked dead rows: $dvCdf")
      // an EMPTY-partition backfill is a plain insert wave: the CDF
      // must deliver each row exactly ONCE (cdc refs over the same
      // adds would double-count)
      val vEmpty = TxnLog.latestVersion(t)
      spark.sql("INSERT OVERWRITE rw_cat PARTITION (k = 9) " +
        "VALUES (91), (92)")
      val backfill = spark.sql(
        s"""SELECT v, _change_type
           |FROM txnlog_changes('rw_cat', $vEmpty, ${vEmpty + 1})
           |ORDER BY v""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(backfill === Seq((91L, "insert"), (92L, "insert")),
        s"empty-partition backfill double-delivered: $backfill")
      // the writer-option parser: quote-aware AND split, duplicate
      // column refusal
      import graft.sources.TxnLogStreamProvider.parseReplaceWhere
      assert(parseReplaceWhere("a = 'x AND y' AND b = 2") ===
        Map("a" -> "x AND y", "b" -> "2"))
      val dupSpec = intercept[IllegalArgumentException] {
        parseReplaceWhere("k = 1 AND k = 2")
      }
      assert(dupSpec.getMessage.contains("more than once"),
        dupSpec.getMessage)
      // DYNAMIC overwrite: replaces exactly the partitions PRESENT in
      // the data (k=1 and k=9 here), leaves the rest untouched — the
      // daily-ETL re-run idiom, data-driven instead of spec-driven
      val preDyn = TxnLog.snapshot(t)
      val dynUntouched = preDyn.liveFiles.filter(rel =>
        !Set("1", "9").contains(
          preDyn.filePartitions(rel)("k"))).toSet
      Seq((13L, 1L), (93L, 9L)).toDF("v", "k").writeTo("rw_cat")
        .overwritePartitions()
      val postDyn = TxnLog.snapshot(t)
      assert(postDyn.version === preDyn.version + 1, "not one commit")
      assert(dynUntouched.subsetOf(postDyn.liveFiles.toSet),
        "dynamic overwrite touched a partition absent from the data")
      assert(spark.sql("SELECT v FROM rw_cat WHERE k IN (1, 9) " +
        "ORDER BY v").collect().map(_.getLong(0)).toSeq ===
        Seq(13L, 93L))
      // SQL INSERT OVERWRITE under partitionOverwriteMode=dynamic
      // rides the same seam
      val prevMode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      try {
        spark.sql("INSERT OVERWRITE rw_cat VALUES (14, 1)")
        assert(spark.sql("SELECT v FROM rw_cat WHERE k = 1").collect()
          .map(_.getLong(0)).toSeq === Seq(14L))
        assert(spark.sql("SELECT count(*) FROM rw_cat WHERE k <> 1")
          .head().getLong(0) > 0L,
          "dynamic-mode INSERT OVERWRITE clobbered other partitions")
      } finally spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", prevMode)
    } finally spark.sql("DROP TABLE IF EXISTS rw_cat")
  }

  test("bare-name CTAS and writeTo.create land at the default location; partitioned CTAS keeps its declared layout") {
    import graft.sources.TxnLog
    val sp = spark
    import sp.implicits._
    def tOf(name: String): TxnLog.Table = {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      TxnLog.Table(TxnLog.pathOf(meta.location.getPath))
    }
    Seq("ctas_flat", "ctas_part", "ctas_wt", "ctas_wtp").foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS $n"))
    try {
      // 1) bare-name CTAS, no path: default location, immediately
      // queryable, v0 carries the schema
      spark.sql("CREATE TABLE ctas_flat USING txnlog " +
        "AS SELECT id AS k, id * 10 AS v FROM range(3)")
      assert(spark.table("ctas_flat").count() === 3L)
      val tf = tOf("ctas_flat")
      assert(TxnLog.registeredSchema(tf).exists(
        _.fieldNames.toSeq === Seq("k", "v")))
      // duplicate CTAS refuses; IF NOT EXISTS no-ops without writing
      val dup = intercept[Exception] {
        spark.sql("CREATE TABLE ctas_flat USING txnlog " +
          "AS SELECT 1L AS x")
      }
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
      spark.sql("CREATE TABLE IF NOT EXISTS ctas_flat USING txnlog " +
        "AS SELECT 1L AS x")
      assert(spark.table("ctas_flat").count() === 3L)
      // 2) DataFrameWriterV2 create — the API spelling
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").writeTo("ctas_wt")
        .using("txnlog").create()
      assert(spark.table("ctas_wt").count() === 2L)
      assert(TxnLog.latestVersion(tOf("ctas_wt")) >= 0L)
      // 3) PARTITIONED CTAS keeps the declared layout in the LOG —
      // Spark's native V1 CTAS command silently flattens it; ours
      // registers v0 (schema + layout + props) and stages through it
      spark.sql("CREATE TABLE ctas_part USING txnlog " +
        "PARTITIONED BY (k) TBLPROPERTIES ('graft.note' = 'ctas') " +
        "AS SELECT id * 10 AS v, id % 2 AS k FROM range(4)")
      val tp = tOf("ctas_part")
      assert(TxnLog.declaredPartCols(tp) === Seq("k"))
      val snapP = TxnLog.snapshot(tp)
      assert(snapP.partCols === Seq("k"))
      assert(snapP.filePartitions.values.forall(_.contains("k")),
        s"CTAS data not staged through the layout: ${snapP.filePartitions}")
      assert(snapP.properties.get("graft.note") === Some("ctas"))
      assert(spark.sql("SELECT sum(v) FROM ctas_part WHERE k = 1")
        .head().getLong(0) === 40L) // 10 + 30
      // partition pruning holds from birth
      assert(TxnLog.plannedFilesPartition(tp, Map("k" -> "0"))._1 <
        snapP.liveFiles.length)
      // a later insert stages through the same layout
      spark.sql("INSERT INTO ctas_part VALUES (50, 7)")
      assert(TxnLog.snapshot(tp).filePartitions.values
        .forall(_.contains("k")))
      // saveAsTable APPEND into the existing table keeps Spark's
      // native handling (the CTAS reroute is mode-scoped to
      // ErrorIfExists/Ignore) and still stages through the layout
      Seq((60L, 1L)).toDF("v", "k").write.format("txnlog")
        .partitionBy("k").mode("append").saveAsTable("ctas_part")
      assert(spark.sql("SELECT count(*) FROM ctas_part")
        .head().getLong(0) === 6L)
      assert(TxnLog.snapshot(tp).filePartitions.values
        .forall(_.contains("k")), "append flattened the layout")
      // 4) the writeTo spelling of partitioned create
      Seq((1L, 7L), (2L, 8L)).toDF("v", "k").writeTo("ctas_wtp")
        .using("txnlog").partitionedBy($"k").create()
      val tw = tOf("ctas_wtp")
      assert(TxnLog.declaredPartCols(tw) === Seq("k"))
      assert(TxnLog.snapshot(tw).filePartitions.values
        .forall(_.contains("k")))
      assert(spark.table("ctas_wtp").count() === 2L)
    } finally Seq("ctas_flat", "ctas_part", "ctas_wt", "ctas_wtp")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("statements parse with Spark's grammar: comments, double-quoted literals, a parenthesized ON") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlgram-").resolve("t")
    val t = TxnLog.Table(root)
    val p = root.toString
    TxnLog.append(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s").coalesce(1))
    def rows(): Seq[(Long, Long, String)] = TxnLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    // a WHERE inside a comment is not a clause: every row updates
    spark.sql(s"UPDATE txnlog.`$p` SET s = 'c' /* WHERE k = 1 */")
    assert(rows() === Seq((1L, 10L, "c"), (2L, 20L, "c")))
    // a double-quoted literal holding WHERE and AND stays one literal
    spark.sql(
      s"""UPDATE txnlog.`$p` SET s = "x WHERE y AND z" WHERE k = 1""")
    assert(rows() === Seq((1L, 10L, "x WHERE y AND z"), (2L, 20L, "c")))
    // a parenthesized ON condition is the same equi-join
    Seq((2L, 200L, "m"), (3L, 30L, "n")).toDF("k", "v", "s")
      .createOrReplaceTempView("gram_src")
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING gram_src s ON (t.k = s.k)
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows() ===
      Seq((1L, 10L, "x WHERE y AND z"), (2L, 200L, "c"), (3L, 30L, "n")))
    // a comment spelling a WHEN clause is not a clause
    Seq((1L, 11L, "o")).toDF("k", "v", "s")
      .createOrReplaceTempView("gram_src2")
    spark.sql(
      s"""MERGE INTO txnlog.`$p` t USING gram_src2 s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |  /* WHEN MATCHED THEN DELETE */
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows() ===
      Seq((1L, 11L, "x WHERE y AND z"), (2L, 200L, "c"), (3L, 30L, "n")))
  }

  test("statement lowering routes by target: txnlog paths and USING txnlog tables get graft commands, parquet tables keep Spark's plan") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-route-").resolve("t")
    val p = root.toString
    TxnLog.append(spark, TxnLog.Table(root),
      Seq((1L, 10L, "a")).toDF("k", "v", "s").coalesce(1))
    Seq((1L, 5L, "b")).toDF("k", "v", "s")
      .createOrReplaceTempView("route_src")
    spark.sql("DROP TABLE IF EXISTS route_txn")
    spark.sql("DROP TABLE IF EXISTS route_pq")
    spark.sql(s"CREATE TABLE route_txn USING txnlog OPTIONS (path '$p')")
    spark.sql("CREATE TABLE route_pq (k BIGINT, v BIGINT, s STRING) " +
      "USING parquet")
    // %T is the target; %P the provider of the defining statements
    val forms = Seq(
      "DELETE FROM %T WHERE k = 1",
      "UPDATE %T SET s = 'WHERE' WHERE k = 1",
      "INSERT INTO %T VALUES (2, 20, 'c')",
      "INSERT OVERWRITE %T SELECT * FROM route_src",
      "INSERT INTO %T (k, s) VALUES (3, 'd')",
      """MERGE INTO %T t USING (SELECT * FROM route_src
        |  WHERE s != 'WHEN MATCHED') s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin,
      "MERGE INTO %T t USING route_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *",
      "MERGE INTO %T t USING route_src s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
      "MERGE INTO %T t USING route_src s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0",
      "MERGE INTO %T t USING route_src s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE AND t.v > 1 THEN DELETE",
      "MERGE WITH SCHEMA EVOLUTION INTO %T t USING route_src s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *",
      "ALTER TABLE %T ADD COLUMNS (q INT DEFAULT 7, d DECIMAL(10,2))",
      "ALTER TABLE %T DROP COLUMN s",
      "ALTER TABLE %T RENAME COLUMN s TO s2",
      "ALTER TABLE %T ALTER COLUMN v TYPE DOUBLE",
      "ALTER TABLE %T ALTER COLUMN s SET NOT NULL",
      "ALTER TABLE %T ALTER COLUMN s DROP NOT NULL",
      "ALTER TABLE %T ADD CONSTRAINT v_pos CHECK (v > 0)",
      "ALTER TABLE %T DROP CONSTRAINT v_pos",
      "ALTER TABLE %T SET TBLPROPERTIES ('a.b' = 'c')",
      "ALTER TABLE %T UNSET TBLPROPERTIES ('a.b')",
      "SHOW PARTITIONS %T",
      "SHOW TBLPROPERTIES %T",
      "CREATE TABLE %N (k BIGINT DEFAULT 1) USING %P PARTITIONED BY (k)",
      "CREATE OR REPLACE TABLE %N (k BIGINT) USING %P")
    def analyzed(sql: String): scala.util.Try[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
      scala.util.Try(spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(sql)).analyzed)
    def isGraft(plan: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Boolean =
      plan.getClass.getName.startsWith("graft.sources.TxnLog")
    val ours = Seq(("txnlog.`" + p + "`", s"txnlog.`$p/new`"),
      ("route_txn", "route_new"))
    for (form <- forms; (target, fresh) <- ours) {
      val sql = form.replace("%T", target).replace("%N", fresh)
        .replace("%P", "txnlog")
      val plan = analyzed(sql)
      assert(plan.isSuccess && isGraft(plan.get),
        s"$sql was not lowered: $plan")
    }
    for (form <- forms) {
      val sql = form.replace("%T", "route_pq").replace("%N", "route_pq2")
        .replace("%P", "parquet")
      analyzed(sql) match {
        case scala.util.Success(plan) =>
          assert(!isGraft(plan), s"$sql was lowered onto $plan")
        case scala.util.Failure(e) =>
          assert(e.isInstanceOf[org.apache.spark.SparkThrowable],
            s"$sql: not Spark's own refusal: $e")
      }
    }
    // time travel lowers onto the pinned relation for a path; a parquet
    // table keeps Spark's refusal
    assert(spark.sql(s"SELECT count(*) FROM txnlog.`$p` VERSION AS OF 0")
      .head().getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM txnlog.`$p` TIMESTAMP AS OF " +
      "'2099-01-01'").head().getLong(0) === 1L)
    assert(analyzed("SELECT * FROM route_pq VERSION AS OF 0").isFailure)
    spark.sql("DROP TABLE IF EXISTS route_txn")
    spark.sql("DROP TABLE IF EXISTS route_pq")
  }

  test("format(txnlog) time-travel options refuse both at once and a non-numeric version by name") {
    import spark.implicits._
    import graft.sources.TxnLog
    val root = java.nio.file.Files
      .createTempDirectory("graft-ttopts-").resolve("t")
    val t = TxnLog.Table(root)
    TxnLog.append(spark, t, Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    TxnLog.append(spark, t, Seq((2L, 20L)).toDF("k", "v").coalesce(1))
    def load(opts: (String, String)*) =
      opts.foldLeft(spark.read.format("txnlog")
        .option("path", root.toString)) { case (r, (k, v)) => r.option(k, v) }
        .load()
    val both = intercept[IllegalArgumentException] {
      load("versionAsOf" -> "0", "timestampAsOf" -> "2099-01-01")
    }
    assert(both.getMessage.contains("versionAsOf or timestampAsOf, not both"),
      both.getMessage)
    val nan = intercept[IllegalArgumentException] {
      load("versionAsOf" -> "abc")
    }
    assert(nan.getMessage.contains("numeric log version, got: abc"),
      nan.getMessage)
    // each option alone still travels
    assert(load("versionAsOf" -> "0").count() === 1L)
    assert(load("timestampAsOf" -> "2099-01-01").count() === 2L)
  }

  test("a live txnlog reference resolves ONE snapshot per execution: both sides of a self-join read one version") {
    import spark.implicits._
    import graft.sources.{TxnLog, TxnLogFileIndex, TxnLogRelation}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files
      .createTempDirectory("graft-onesnap-").resolve("t")
    val t = TxnLog.Table(root)
    TxnLog.append(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    // a DataFrame-created view stores the analyzed plan: one relation
    // instance, referenced by both sides of the join
    val df = spark.sql(s"SELECT * FROM txnlog.`$root`")
    df.createOrReplaceTempView("one_snap_v")
    val rel = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.collectFirst { case r: TxnLogRelation => r }.get
    def selfJoin() = spark.sql(
      "SELECT a.k, b.v FROM one_snap_v a JOIN one_snap_v b ON a.k = b.k")
    def versions(q: org.apache.spark.sql.DataFrame): Seq[Long] =
      q.queryExecution.sparkPlan.collect { case f: FileSourceScanExec =>
        f.relation.location }.collect { case i: TxnLogFileIndex => i.version }
    val before = rel.logReads.get()
    val q1 = selfJoin()
    assert(q1.collect().length === 2)
    assert(rel.logReads.get() === before + 1,
      s"a self-join resolved ${rel.logReads.get() - before} snapshots")
    assert(versions(q1) === Seq(0L, 0L))
    // the next execution resolves afresh — once — and both sides move
    spark.sql(s"INSERT INTO txnlog.`$root` VALUES (3, 30)")
    val q2 = selfJoin()
    assert(q2.collect().length === 3)
    assert(rel.logReads.get() === before + 2)
    assert(versions(q2) === Seq(1L, 1L))
  }

  test("a SQL range filter on a stats-tracked txnlog path plans one log-indexed scan over only the files its stats admit") {
    import spark.implicits._
    import graft.sources.{TxnLog, TxnLogFileIndex}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files
      .createTempDirectory("graft-sqlskip-").resolve("t")
    val t = TxnLog.Table(root)
    // four disjoint key ranges, one file each, stats in the manifest
    (0 until 4).foreach(i => TxnLog.appendWithStats(spark, t,
      (i * 100L until i * 100L + 50L).toDF("k").coalesce(1), Seq("k")))
    TxnLog.append(spark, t, Seq(1000L).toDF("k").coalesce(1)) // no stats
    val q = spark.sql(
      s"SELECT k FROM txnlog.`$root` WHERE k BETWEEN 120 AND 230")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      ((120L until 150L) ++ (200L to 230L)))
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }
    assert(scans.length === 1, s"want one scan:\n${q.queryExecution.sparkPlan}")
    assert(scans.head.relation.location.isInstanceOf[TxnLogFileIndex])
    val snap = TxnLog.snapshot(t)
    val want = snap.liveFiles.filter(rel => snap.fileStats.get(rel)
      .forall(_("k") match { case (lo, hi) => hi >= 120L && lo <= 230L }))
    assert(want.length === 3) // files 1 and 2, and the stats-less file
    val got = scans.head.selectedPartitions.filePartitionIterator
      .flatMap(_.files).map(f => java.nio.file.Paths.get(
        f.fileStatus.getPath.toUri.getPath).toString).toSeq
    assert(got.sorted === want.map(r => root.resolve(r).toString).sorted)
  }
}
