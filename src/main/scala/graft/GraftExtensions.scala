package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import graft.functions.{CosineSimilarity, MinHashAgg, RollingHash, SimHashAgg, SortedIntersectSize}
import graft.sources.Tables

/** SQL surface of the library.
  *
  * `GraftExtensions` registers the native graft expressions in the
  * function registry so pure-SQL users get them
  * (`spark.sql("SELECT cosine_similarity(a, b) ...")`), wired either
  * via `.withExtensions(new GraftExtensions)` at session build or
  * `GraftExtensions.install(spark)` on a live session.
  * `registerTables` exposes the star schema as temp views so every
  * query in this library can be written as plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // custom physical operators (AsofJoin.asof also self-registers via
    // experimental.extraStrategies for sessions built without this)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // table-valued CHANGE FEED access — Delta's table_changes:
    //   SELECT * FROM txnlog_changes('/path', fromV, toV)
    //   SELECT * FROM txnlog_changes('/path', '2026-01-01', '2026-02-01')
    // rows arrive typed (_change_type insert|delete) with per-commit
    // attribution (_commit_version); arguments must be literals (the
    // feed is resolved at analysis, like any table reference).
    // TIMESTAMP bounds (non-numeric strings) resolve to Delta's
    // inclusive commit window: [first commit at-or-after ts1, last
    // commit at-or-before ts2] — the time-bounded audit users reach
    // for more often than version numbers. Version bounds keep the
    // (from, to] contract with the origin-inclusive from = 0.
    e.injectTableFunction((FunctionIdentifier("txnlog_changes"),
      GraftExtensions.info("txnlog_changes",
        "txnlog_changes(path, from, to) - typed change feed of a " +
          "txnlog table; version bounds read (from, to], timestamp " +
          "strings read the inclusive commit window [ts1, ts2]"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "txnlog_changes takes (path, fromVersion|fromTimestamp, " +
            "toVersion|toTimestamp)")
        def const(e: Expression): Any = {
          require(e.foldable,
            s"txnlog_changes arguments must be literals, got: ${e.sql}")
          e.eval()
        }
        import graft.sources.TxnLog
        val spark0 = SparkSession.active
        val raw = const(args(0)).toString
        // first argument: a path (every real path has a '/') or a
        // catalog table name whose provider is txnlog — Delta's
        // table_changes accepts both spellings
        val t =
          if (raw.contains('/')) TxnLog.Table(TxnLog.pathOf(raw))
          else graft.sources.GraftSqlParser.tryResolveTable(spark0,
              spark0.sessionState.sqlParser.parseMultipartIdentifier(raw))
            .getOrElse(
              throw new IllegalArgumentException(
                s"txnlog_changes: $raw is neither a path nor a " +
                  "catalog table USING txnlog"))
        // a bound is a VERSION (integral literal / numeric string) or
        // a TIMESTAMP: typed TIMESTAMP/DATE literals resolve by their
        // Catalyst TYPE — a TIMESTAMP evals to epoch MICROS and a
        // DATE to epoch DAYS, which read as raw numbers would be
        // silently misread as (possibly existing) version numbers;
        // plain strings keep the parse-as-version-else-timestamp
        // convention (the numeric form predates timestamp support)
        def boundOf(e: Expression): Either[Long, Long] = { // L=ts ms, R=ver
          import org.apache.spark.sql.types.{DateType, TimestampType,
            TimestampNTZType}
          val v = const(e)
          // a NULL bound must refuse by name: a typed null would
          // unbox to epoch 0 (silently streaming the entire feed),
          // a string null would NPE
          require(v != null,
            s"txnlog_changes bounds must not be NULL, got: ${e.sql}")
          // typed bounds convert through the SESSION time zone, the
          // semantics Spark's own literals have: a TIMESTAMP is an
          // instant already (micros since epoch); a DATE is a local
          // day and a TimestampNTZ a local wall-clock, both of which
          // name different instants in different zones
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          lazy val sessionTz =
            spark0.sessionState.conf.sessionLocalTimeZone
          e.dataType match {
            case TimestampType =>
              Left(v.asInstanceOf[Long] / 1000L) // micros → millis
            case TimestampNTZType => // local wall-clock → instant
              Left(DateTimeUtils.toUTCTime(
                v.asInstanceOf[Long], sessionTz) / 1000L)
            case DateType => // local midnight → instant
              Left(DateTimeUtils.daysToMicros(v.asInstanceOf[Int],
                DateTimeUtils.getZoneId(sessionTz)) / 1000L)
            case _ => v match {
              case n: Number => Right(n.longValue)
              case other =>
                val s0 = other.toString
                scala.util.Try(s0.toLong).toOption.map(Right(_))
                  .getOrElse(Left(TxnLog.tsMillis(s0)))
            }
          }
        }
        val spark = spark0
        val to = boundOf(args(2)) match {
          case Right(v)  => v
          case Left(ms)  => TxnLog.versionAt(t, ms)
        }
        val df = boundOf(args(1)) match {
          case Right(v) =>
            require(v <= to, s"empty change range: v$v..v$to")
            TxnLog.tableChanges(spark, t, v, to)
          case Left(ms) =>
            // the CHECKED resolution: a bound that does not provably
            // postdate expired history refuses instead of silently
            // folding expired commits into the base snapshot
            val fromV = TxnLog.versionAtOrAfterChecked(t, ms)
            // the same range-order refusal the version form has: a
            // timestamp `from` resolving above the `to` bound is an
            // empty range and must say so by name, not flow into the
            // feed body's silent empty result
            require(fromV <= to,
              s"empty change range: ts($ms)→v$fromV..v$to")
            TxnLog.tableChangesLowest(spark, t, fromV, to,
              s"ts($ms)..v$to")
        }
        df.queryExecution.analyzed
      }))
    // SQL for txnlog tables — a delegating parser front end (text
    // recognition only for the six statements Spark has no grammar
    // for; see GraftSqlParser). Parser injection is build-time only:
    // sessions get it through .withExtensions(new GraftExtensions) or
    // spark.sql.extensions=graft.GraftExtensions, not install().
    e.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(delegate, () => session))
    // DSv2 catalog integration (sessions that ALSO set
    // spark.sql.catalog.spark_catalog=graft.sources.TxnLogCatalog):
    // read-position relations over catalog-name txnlog tables rewrite
    // into the same txnlog relation SQL path references and
    // format("txnlog") reads analyze to. Inert without the catalog (no
    // TxnLogTable relations ever appear).
    e.injectResolutionRule(session =>
      graft.sources.TxnLogV2ReadRewrite(session))
    // every txnlog relation expands into its snapshot's log-indexed
    // parquet scan — once per execution, after analysis and before
    // the cache lookup and the optimizer, each table resolved once
    e.injectPlanNormalizationRule(session =>
      graft.sources.TxnLogReadExpansion(session))
    // every parsed statement Spark's grammar covers (DML, ALTER,
    // SHOW, CREATE [OR REPLACE]) lowers onto a txnlog command when its
    // target is ours — HINTS batch: the rewrite must beat
    // ResolveSessionCatalog, which claims these statements (and
    // refuses REPLACE for V1 providers) inside the Resolution batch
    // before any injected resolution rule could run. Root-only, O(1).
    e.injectHintResolutionRule(session =>
      graft.sources.TxnLogStatementRule(session))
    // partitioned CTAS keeps its declared layout (Spark's V1 CTAS
    // command would silently flatten it through the
    // CreatableRelationProvider seam) — POST-HOC: the V1 command is
    // minted by DataSourceAnalysis in the post-hoc batch, after the
    // resolution fixpoint; root-only match, O(1)
    e.injectPostHocResolutionRule(session =>
      graft.sources.TxnLogCtasLayoutRule(session))
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private[graft] def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val registrations: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("cosine_similarity",
      info("cosine_similarity",
        "cosine_similarity(a, b) - cosine of two float vectors"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("rolling_hash",
      info("rolling_hash",
        "rolling_hash(s) - Rabin-Karp polynomial hash mod 2^31-1"),
      (es: Seq[Expression]) => RollingHash(es(0))),
    ("simhash64",
      info("simhash64",
        "simhash64(hash, weight) - 64-bit SimHash aggregate"),
      (es: Seq[Expression]) =>
        SimHashAgg(es(0), es(1)).toAggregateExpression()),
    ("minhash_sig",
      info("minhash_sig",
        "minhash_sig(hash) - 128-perm MinHash signature aggregate"),
      (es: Seq[Expression]) =>
        MinHashAgg(es(0), 128, 42L).toAggregateExpression()),
    ("sorted_intersect_size",
      info("sorted_intersect_size",
        "sorted_intersect_size(a, b) - |a ∩ b| of two sorted string arrays"),
      (es: Seq[Expression]) => SortedIntersectSize(es(0), es(1))),
    // image header sniffing over binary columns: StaticInvoke keeps
    // these inside whole-stage codegen (the generated Java calls the
    // ImageHeaders static forwarders directly — no UDF)
    ("image_format",
      info("image_format",
        "image_format(bytes) - png/jpeg/gif from the header, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.ImageHeaders.getClass, StringType, "imageFormat",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("image_width",
      info("image_width",
        "image_width(bytes) - pixel width from the header, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.ImageHeaders.getClass, LongType, "imageWidth",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("image_height",
      info("image_height",
        "image_height(bytes) - pixel height from the header, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.ImageHeaders.getClass, LongType, "imageHeight",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    // WAV/RIFF header sniffing — the audio row of the same family
    ("wav_channels",
      info("wav_channels",
        "wav_channels(bytes) - channel count from the fmt chunk, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.AudioHeaders.getClass, LongType, "wavChannels",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("wav_sample_rate",
      info("wav_sample_rate",
        "wav_sample_rate(bytes) - sample rate from the fmt chunk, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.AudioHeaders.getClass, LongType, "wavSampleRate",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("wav_bits",
      info("wav_bits",
        "wav_bits(bytes) - bits per sample from the fmt chunk, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.AudioHeaders.getClass, LongType, "wavBits",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("wav_data_bytes",
      info("wav_data_bytes",
        "wav_data_bytes(bytes) - data chunk length in bytes, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.AudioHeaders.getClass, LongType, "wavDataBytes",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    // ISO-BMFF (MP4) container walk — the video row of the family
    ("video_brand",
      info("video_brand",
        "video_brand(bytes) - ftyp major brand of an ISO-BMFF movie, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.VideoHeaders.getClass, StringType, "videoBrand",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("video_timescale",
      info("video_timescale",
        "video_timescale(bytes) - mvhd movie timescale, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.VideoHeaders.getClass, LongType, "videoTimescale",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("video_duration",
      info("video_duration",
        "video_duration(bytes) - mvhd movie duration in timescale ticks, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.VideoHeaders.getClass, LongType, "videoDuration",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    ("video_tracks",
      info("video_tracks",
        "video_tracks(bytes) - trak box count under moov, else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.VideoHeaders.getClass, LongType, "videoTracks",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
    // r10: the first of the family to leave the header and touch
    // PIXELS — full decode through the JDK's registered codecs, so
    // SQL users get perceptual hashing as one codegen'd projection
    ("image_dhash",
      info("image_dhash",
        "image_dhash(bytes) - 64-bit perceptual difference-hash from " +
          "a REAL pixel decode (JDK codecs), else NULL"),
      (es: Seq[Expression]) => StaticInvoke(
        graft.operators.DHash.getClass, LongType, "ofBytes",
        es, inputTypes = Seq(BinaryType), propagateNull = true,
        returnNullable = true)),
  )

  /** Register the functions on an already-built session. */
  def install(spark: SparkSession): Unit =
    registrations.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }

  /** Expose the star schema as temp views for plain-SQL querying. */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.read(spark, sfDir, t).createOrReplaceTempView(t)
    }
    // events goes through its loader (nanos-timestamp conversion)
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
  }
}
