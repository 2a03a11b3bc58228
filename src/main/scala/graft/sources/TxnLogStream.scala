package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftglue.StreamShim
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, SchemaRelationProvider,
  StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a [[TxnLog]] table — the read
  * half of the lakehouse streaming loop (the write half is the
  * exactly-once `appendBatch` sink): `readStream.format("txnlog")
  * .option("path", root)` replays the table's change feed into a
  * streaming query, the way Delta/Iceberg tables feed downstream
  * pipelines.
  *
  * Offsets ARE log versions — the natural total order the commit
  * protocol already provides — so offset tracking is one long per
  * batch and a restart resumes from the engine's checkpointed
  * version with no source-side state at all. Batch planning is a
  * metadata walk: the first batch is the snapshot at the starting
  * version (the initial backlog); every later batch reads EXACTLY
  * the files that append commits added in (start, end] (plus any
  * recorded cdc insert files), resolved from the log the same way
  * [[TxnLog.changes]]'s fast path is. Compactions are invisible
  * (`cdc none`); row-level delete commits FAIL the stream by default
  * — a downstream that assumed append-only must find out. Delta's
  * two opt-outs apply: `ignoreDeletes=true` skips PURE delete
  * commits only; `ignoreChanges=true` also accepts update rewrites
  * (MERGE/REPLACE) by re-emitting their new images — the downstream
  * must tolerate re-delivered rows.
  *
  * 100 TB posture: per micro-batch the source lists only the version
  * files past the last offset (checkpoint-bounded, O(1) for a live
  * stream) and scans only the new data files; nothing rescans the
  * table. Exactly-once end-to-end composes with the appendBatch
  * sink: versions give the source its replayable offsets, txn
  * markers give the sink its idempotence.
  *
  * Spark wires V1 sources through `StreamSourceProvider` (the same
  * interface FileStreamSource ships on); `DataSourceRegister` + the
  * META-INF services entry make the short name `txnlog` resolvable. */
class TxnLogStreamProvider extends StreamSourceProvider
    with StreamSinkProvider
    with RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider
    with DataSourceRegister {

  /** STREAMING SINK — `writeStream.format("txnlog")` closes the
    * lakehouse streaming loop natively (the read half is the source
    * below; foreachBatch + appendBatch remains for custom batching):
    * Append mode lands each micro-batch as ONE exactly-once commit
    * through [[TxnLog.appendBatch]]'s txn markers — the writer
    * identity is the `appId` option, derived from the query's
    * checkpointLocation when absent, so a RESTARTED query (same
    * checkpoint) fences its replayed batches and a crashed epoch
    * never double-delivers. Complete mode maps each batch onto one
    * atomic REPLACE (idempotent by value). Update mode — a keyed
    * aggregation's native shape — needs option `mergeKeys` (comma-
    * separated key columns) and lands each micro-batch as one
    * exactly-once UPSERT ([[TxnLog.upsertBatch]]: matched keys take
    * the batch's values, fresh keys insert, the same txn fencing as
    * Append), converging to the batch-twin result across restarts.
    * A partitioned target (or an explicit `.partitionBy(...)`)
    * stages through the layout. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val t = tableOf(parameters)
    val complete =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    val update =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Update()
    require(complete || update ||
      outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"txnlog sink supports Append (exactly-once commits), Update " +
        s"(exactly-once keyed upserts via option 'mergeKeys') and " +
        s"Complete (atomic replace) output modes, got $outputMode")
    val mergeKeys = parameters.get("mergeKeys")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toIndexedSeq)
      .filter(_.nonEmpty)
    require(!update || mergeKeys.nonEmpty,
      "txnlog sink in Update output mode needs option 'mergeKeys' " +
        "(comma-separated key columns) to upsert on")
    val appId = parameters.get("appId").getOrElse {
      val ckpt = parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "txnlog sink needs option 'appId' (a stable writer identity " +
            "for exactly-once fencing) or a checkpointLocation to " +
            "derive one from"))
      // a 64-bit digest prefix, not a 32-bit hash: two queries on
      // distinct checkpoints writing one table must never collide
      // into one writer identity (a collision silently fences out the
      // other query's batches). A checkpoint whose markers were
      // committed under the LEGACY 32-bit identity keeps it —
      // switching ids under an existing checkpoint would unfence its
      // replayed batches (duplicate delivery on upgrade)
      val legacy = "ck" + java.lang.Integer.toUnsignedString(
        java.util.Arrays.hashCode(ckpt.getBytes("UTF-8")))
      val derived = "ck" + java.security.MessageDigest
        .getInstance("SHA-256").digest(ckpt.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString
      if (TxnLog.lastBatch(t, derived).isEmpty &&
          TxnLog.lastBatch(t, legacy).nonEmpty) legacy
      else derived
    }
    new TxnLogSink(sqlContext, t, appId, partitionColumns, complete,
      if (update) mergeKeys else None,
      allowWiden = parameters.get("mergeSchema").exists(_.toBoolean))
  }

  /** BATCH writes — `df.write.format("txnlog").mode(...).save()`:
    * Append is one append commit; Overwrite is one atomic REPLACE
    * commit (remove every live file + add the staged ones — readers
    * see the old table or the new one, never a mix, and a concurrent
    * append aborts the replace instead of being silently dropped);
    * ErrorIfExists/Ignore follow their contracts against a non-empty
    * table. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val t = tableOf(parameters)
    val empty = TxnLog.latestVersion(t) < 0
    // Delta's mergeSchema writer option: an additive source schema
    // already lands with the data in one commit (the standing
    // contract); the option additionally admits losslessly WIDER
    // incoming types, re-registering the column wide in that same
    // commit instead of refusing toward ALTER COLUMN TYPE
    val allowWiden = parameters.get("mergeSchema").exists(_.toBoolean)
    mode match {
      case SaveMode.Append =>
        TxnLog.append(sqlContext.sparkSession, t, data, allowWiden)
      case SaveMode.Overwrite if parameters.contains("replaceWhere") =>
        // Delta's writer-option spelling: a conjunction of
        // PARTITION-column equalities keeps the metadata-only fast
        // path (one scoped replace commit, no data file read); any
        // other predicate routes the GENERAL form (Delta >= 1.1) —
        // one atomic delete-matching + insert-validated commit
        val raw = parameters("replaceWhere")
        val spec =
          try Some(TxnLogStreamProvider.parseReplaceWhere(raw))
          catch { case _: IllegalArgumentException => None }
        // ONE snapshot serves the spec classification AND the
        // statement itself — no second full log replay per write
        val snap0 = if (empty) None else Some(TxnLog.snapshot(t))
        val partCols = snap0.map(_.partCols).getOrElse(Nil)
        spec match {
          case Some(sp) if sp.nonEmpty &&
              sp.keySet.subsetOf(partCols.toSet) =>
            TxnLog.replaceWhere(sqlContext.sparkSession, t, data, sp,
              allowWiden, snap0)
          case _ =>
            TxnLog.replaceWhereExpr(sqlContext.sparkSession, t, data,
              org.apache.spark.sql.functions.expr(raw), snap0,
              allowWiden)
        }
      case SaveMode.Overwrite =>
        TxnLog.replace(sqlContext.sparkSession, t, data)
      case SaveMode.ErrorIfExists if !empty =>
        throw new IllegalStateException(
          s"txnlog table at ${t.root} already exists (latest version " +
            s"${TxnLog.latestVersion(t)}); use mode(\"append\") or " +
            "mode(\"overwrite\")")
      case SaveMode.Ignore if !empty => ()
      case _ => // ErrorIfExists / Ignore on an empty table: first write
        TxnLog.append(sqlContext.sparkSession, t, data)
    }
    relationOf(sqlContext, parameters, None)
  }

  override def shortName(): String = "txnlog"

  /** BATCH reads through the same short name —
    * `spark.read.format("txnlog").option("path", root).load()` and
    * SQL `CREATE ... USING txnlog OPTIONS (path ...)` — resolved to
    * a [[TxnLogRelation]] pinned to the snapshot, which the graft
    * read rule expands into parquet scans over exactly its live files
    * (filter pushdown, stats skipping, column pruning and whole-stage
    * codegen all apply). Time travel rides the options: `versionAsOf`
    * (a log version) or `timestampAsOf` (epoch millis or an ISO-8601
    * instant). */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    relationOf(sqlContext, parameters, None)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    relationOf(sqlContext, parameters, Some(schema))

  private def relationOf(sqlContext: SQLContext,
      parameters: Map[String, String],
      userSchema: Option[StructType]): BaseRelation = {
    val t = tableOf(parameters)
    // a SCHEMA-DEFINING first touch (version-0 schema commit on an
    // empty location) happens only under the EXPLICIT createIfAbsent
    // option — set by the SQL CREATE TABLE path (the parser's
    // TxnLogDefineTableCommand registers directly) or a programmatic
    // caller that means it. A probing READ with a schema must never
    // mint table metadata as a side effect: a later CREATE with a
    // different schema would merge into the accident instead of
    // defining the table.
    if (TxnLog.latestVersion(t) < 0 &&
        parameters.get("createIfAbsent").exists(_.toBoolean) &&
        !parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"))
      userSchema.foreach(sc => TxnLog.registerSchema(t, sc))
    // the catalog's time-travel refusals, by name: both options at
    // once would silently prefer one, a non-numeric version would
    // surface as a raw NumberFormatException
    require(!(parameters.contains("versionAsOf") &&
        parameters.contains("timestampAsOf")),
      "set either versionAsOf or timestampAsOf, not both")
    val asOf = parameters.get("versionAsOf").map(v =>
      try v.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"txnlog VERSION AS OF takes a numeric log version, got: $v") })
      .orElse(parameters.get("timestampAsOf").map(ts =>
        TxnLog.versionAt(t, TxnLog.tsMillis(ts))))
    // pinned to the version resolved NOW: the frame a load() returns
    // reads the same snapshot at every execution
    val snap = TxnLog.snapshot(t, asOf)
    new TxnLogRelation(sqlContext, t, Some(snap.version), userSchema
      .getOrElse(TxnLog.schemaOf(sqlContext.sparkSession, t, snap)))
  }

  private def tableOf(parameters: Map[String, String]): TxnLog.Table =
    TxnLog.Table(TxnLog.pathOf(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txnlog source requires option 'path'"))))

  private def schemaOf(sqlContext: SQLContext,
                       schema: Option[StructType],
                       parameters: Map[String, String]): StructType =
    schema.getOrElse {
      // once, at stream definition time (raw-commit tables infer it
      // from the live snapshot's footers)
      val t = tableOf(parameters)
      require(TxnLog.latestVersion(t) >= 0,
        s"txnlog table at ${t.root} has no commits and no registered " +
          "schema; commit first or pass .schema(...) explicitly")
      TxnLog.schemaOf(sqlContext.sparkSession, t, TxnLog.snapshot(t))
    }

  /** `readChangeFeed=true` turns the source into a CDF stream: rows
    * arrive with a trailing `_change_type` column ("insert" or
    * "delete" — a merge delivers delete-old-image + insert-new-image
    * pairs), so a delete commit mid-stream becomes typed delete
    * events instead of fail-or-skip, and replaying inserts-then-
    * deletes converges to the snapshot. */
  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  private def withChangeType(schema: StructType): StructType =
    StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
      "_change_type", org.apache.spark.sql.types.StringType,
      nullable = false))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schemaOf(sqlContext, schema, parameters)
    ("txnlog", if (isCdf(parameters)) withChangeType(base) else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val t = tableOf(parameters)
    // Delta's startingVersion: skip the initial-snapshot backlog and
    // stream changes FROM the given version (inclusive). "latest"
    // resolves ONCE and persists under the stream's metadata path:
    // a driver that dies after starting but before its first offset
    // commits must not re-resolve on restart — commits that landed
    // during the outage belong to the stream
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "set either startingVersion or startingTimestamp, not both")
    // resolve-once persistence shared by "latest" and
    // startingTimestamp: both resolve against CURRENT log state, so
    // a driver that dies after starting but before its first offset
    // commits must not re-resolve on restart — commits that landed
    // during the outage belong to the stream. The marker write is
    // atomic; a racing twin reads the winner's value back.
    def resolveOnce(resolve: => Long): Long = {
      val marker = TxnLog.pathOf(metadataPath)
        .resolve("graft-starting-version")
      if (java.nio.file.Files.exists(marker))
        java.nio.file.Files.readString(marker).trim.toLong
      else {
        val v = resolve
        java.nio.file.Files.createDirectories(marker.getParent)
        val tmp = marker.getParent.resolve(
          s".tmp-sv-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.writeString(tmp, s"$v\n")
        try java.nio.file.Files.move(tmp, marker,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp) }
        java.nio.file.Files.readString(marker).trim.toLong
      }
    }
    val startingVersion = parameters.get("startingVersion").map {
      case s0 if s0.equalsIgnoreCase("latest") =>
        resolveOnce(TxnLog.latestVersion(t) + 1)
      case s0 => s0.toLong
    }.orElse {
      // startingTimestamp: the earliest version committed at or
      // after the instant (inclusive — Delta's contract), resolved
      // ONCE and persisted — an instant past the current head means
      // "wait", and re-resolving after an outage would silently skip
      // the commits that landed during it; log expiry between
      // resolutions would likewise shift the answer. The resolution
      // is CHECKED, like the TVF's: when expired history could hide
      // commits at or after the instant, the stream refuses instead
      // of silently folding them into the retained floor. A log with
      // no commits yet has nothing expired — resolve to v0 and wait.
      parameters.get("startingTimestamp").map(ts =>
        resolveOnce(
          if (TxnLog.latestVersion(t) < 0) 0L
          else TxnLog.versionAtOrAfterChecked(t, TxnLog.tsMillis(ts))))
    }
    new TxnLogSource(sqlContext, t,
      schemaOf(sqlContext, schema, parameters),
      parameters.get("ignoreDeletes").exists(_.toBoolean),
      parameters.get("maxVersionsPerBatch").map(_.toLong),
      parameters.get("ignoreChanges").exists(_.toBoolean),
      isCdf(parameters),
      startingVersion)
  }
}

private[graft] object TxnLogStreamProvider {
  /** Parse the `replaceWhere` writer option with Spark's expression
    * parser: a conjunction of `col = literal` equalities, each value
    * rendered as the recorded partition token its literal's Scala
    * value gives ([[TxnLogV2WriteBuilder.partToken]]: `k = 07` scopes
    * `k=7`, a DATE literal scopes `yyyy-MM-dd`). A column named twice
    * refuses (silently last-winning on a contradictory spec would
    * replace the wrong partition). Anything richer refuses by name
    * with IllegalArgumentException — the scoped overwrite is
    * partition-granular by design; the caller routes such predicates
    * to the general row-level form. */
  private[graft] def parseReplaceWhere(expr: String)
      : Map[String, String] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
      Expression}
    def refuse(): Nothing = throw new IllegalArgumentException(
      s"replaceWhere accepts a conjunction of partition-column " +
        s"equalities (k = 7 AND d = '2020-01-01'); cannot parse: '$expr'")
    // a constant's Scala value (null and non-constants have none)
    def value(e: Expression): Option[Any] =
      if (!e.foldable) None
      else scala.util.Try(Option(e.eval())).toOption.flatten
        .map(CatalystTypeConverters.convertToScala(_, e.dataType))
    def pairs(e: Expression): Seq[(String, String)] = e match {
      case And(l, r) => pairs(l) ++ pairs(r)
      case EqualTo(UnresolvedAttribute(Seq(c)), v) =>
        Seq(c -> TxnLogV2WriteBuilder.partToken(value(v).getOrElse(refuse())))
      case _ => refuse()
    }
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(expr)
      catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(e.getMessage, e) }
    val ps = pairs(parsed)
    val dup = ps.groupBy(_._1).collect {
      case (c, vs) if vs.length > 1 => c }
    require(dup.isEmpty,
      s"replaceWhere names column(s) more than once: " +
        s"${dup.toSeq.sorted.mkString(", ")}")
    ps.toMap
  }
}

/** See [[TxnLogStreamProvider.createSink]]. The micro-batch frame
  * re-plans as a batch frame once (StreamShim.asBatch — V1 sinks
  * cannot hand a streaming plan to ordinary writers), then Append
  * rides appendBatch's exactly-once txn fencing and Complete rides
  * the atomic REPLACE. A partitioned TARGET with no explicit
  * partitionBy inherits the table's layout — the sink must not erode
  * what every other write op preserves. */
private[sources] class TxnLogSink(ctx: SQLContext, t: TxnLog.Table,
    appId: String, partitionColumns: Seq[String], complete: Boolean,
    upsertKeys: Option[Seq[String]] = None,
    allowWiden: Boolean = false)
  extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = StreamShim.asBatch(data)
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else if (TxnLog.latestVersion(t) < 0) Nil
      else TxnLog.snapshot(t).partCols
    if (complete)
      TxnLog.replace(ctx.sparkSession, t, batch, partCols)
    else upsertKeys match {
      case Some(keys) => // Update mode: exactly-once keyed upsert
        TxnLog.upsertBatch(ctx.sparkSession, t, batch, keys, appId,
          batchId, partCols, allowWiden)
      case None =>
        TxnLog.appendBatch(ctx.sparkSession, t, batch, appId, batchId,
          partCols, allowWiden)
    }
    ()
  }
}

/** The log-backed file index every txnlog read scans — Delta Lake's
  * design (Armbrust et al., VLDB 2020): the file list comes from the
  * add lines, never from a directory listing. `rels` are files of
  * `snap`, whose add lines give their byte lengths (`size=`), decoded
  * partition values (`part=`, typed through `partitionSchema`) and
  * manifest (min, max) stats, keyed by PHYSICAL column name — the
  * name the pushed filters reference, since the relation scans the
  * physical schema.
  *
  * `listFiles` returns one directory per distinct partition spec,
  * pruned on the partition values and, per file, on the stats: a
  * comparison, BETWEEN or IN filter on an integral column drops a
  * file whose range cannot hold a match; a file without stats for
  * the column is kept. Two indexes over the same files of one
  * snapshot are equal, so two scans of it canonicalize equal
  * (exchange reuse, cache hits). */
private[graft] final class TxnLogFileIndex(private val t: TxnLog.Table,
    private val snap: TxnLog.Snapshot, private val rels: Seq[String],
    override val partitionSchema: StructType)
  extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata,
    PartitionDirectory}

  def version: Long = snap.version

  // qualified the way a listing qualifies them, so `_metadata.file_path`
  // carries the same URL-encoded form the deletion-vector keys use
  private def qualified(p: java.nio.file.Path): Path =
    new Path(p.normalize.toString)
      .makeQualified(java.net.URI.create("file:///"), null)

  /** (partition values, files) per distinct spec. A legacy add with
    * no `size=` costs one stat. */
  private lazy val dirs: Seq[(InternalRow, Seq[(String, FileStatusWithMetadata)])] =
    rels.groupBy(snap.filePartitions.getOrElse(_, Map.empty)).toSeq.map {
      case (spec, fs) =>
        InternalRow.fromSeq(partitionSchema.fields.toSeq.map(f =>
          spec.get(f.name).filter(_ != "__HIVE_DEFAULT_PARTITION__")
            .map(v => Cast(Literal(v), f.dataType, Some(org.apache.spark.sql
              .internal.SQLConf.get.sessionLocalTimeZone)).eval())
            .orNull)) -> fs.map(rel => rel -> FileStatusWithMetadata(
          new FileStatus(snap.fileSizes.getOrElse(rel,
            java.nio.file.Files.size(t.root.resolve(rel))), false, 0, 0L, 0L,
            qualified(t.root.resolve(rel)))))
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = partitionFilters.reduceOption(And).map(p =>
      Predicate.createInterpreted(p.transform { case a: AttributeReference =>
        val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }))
    dirs.collect { case (row, fs) if keep.forall(_.eval(row)) =>
      PartitionDirectory(row, fs.collect { case (rel, f) if dataFilters
        .forall(TxnLogFileIndex.admits(snap.fileStats.getOrElse(rel,
          Map.empty), _)) => f })
    }.filter(_.files.nonEmpty)
  }

  override def rootPaths: Seq[Path] = Seq(qualified(t.root))
  override def inputFiles: Array[String] =
    dirs.flatMap(_._2).map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = dirs.flatMap(_._2).map(_._2.getLen).sum

  override def equals(o: Any): Boolean = o match {
    case x: TxnLogFileIndex =>
      x.t == t && x.version == version && x.rels == rels
    case _ => false
  }
  override def hashCode: Int = (t, version, rels).##
}

private[graft] object TxnLogFileIndex {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
    ShortType}

  /** Can a file with per-column `(min, max)` stats `st` hold a row
    * passing `e`? Attributes name stats keys (PHYSICAL names); only
    * the shapes the stats decide answer false. The one stats test:
    * the index's pushed filters and [[TxnLog]]'s box probes both
    * call it. */
  private[sources] def admits(st: Map[String, (Long, Long)], e: Expression): Boolean = {
    def holds(op: String, a: Expression, x: Long) = a match {
      case a: AttributeReference if Seq(ByteType, ShortType, IntegerType,
          LongType).contains(a.dataType) =>
        st.get(a.name).forall { case (lo, hi) => op match {
          case "=" | "<=>" => lo <= x && x <= hi
          case "<"         => lo < x
          case "<="        => lo <= x
          case ">"         => hi > x
          case ">="        => hi >= x
          case _           => true
        } }
      case _ => true
    }
    val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    e match {
      case And(l, r)    => admits(st, l) && admits(st, r)
      case Or(l, r)     => admits(st, l) || admits(st, r)
      case In(a, vs)    => vs.exists(v => admits(st, EqualTo(a, v)))
      case InSet(a, vs) =>
        vs.exists(v => admits(st, EqualTo(a, Literal(v, a.dataType))))
      case c: BinaryComparison => (c.left, c.right) match {
        case (a, Literal(n: Number, _)) => holds(c.symbol, a, n.longValue)
        case (Literal(n: Number, _), a) =>
          holds(flip.getOrElse(c.symbol, c.symbol), a, n.longValue)
        case _ => true
      }
      case _ => true
    }
  }
}

/** The relation every SQL path reference, catalog name and
  * `format("txnlog")` read analyzes to: the table, the version it
  * pins (None = the latest at each execution) and the schema analysis
  * binds. It never scans: [[TxnLogReadExpansion]] replaces it with
  * [[TxnLog.read]]'s plan before optimization, and `buildScan` — what
  * a session without the graft extensions reaches — refuses by name.
  * `logReads` counts the snapshots resolved for it (one per execution,
  * however many times a query scans it). */
private[graft] final class TxnLogRelation(
    override val sqlContext: SQLContext, val t: TxnLog.Table,
    val asOf: Option[Long], override val schema: StructType)
  extends BaseRelation with org.apache.spark.sql.sources.TableScan {
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicInteger(0)

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    throw new IllegalStateException(
      s"reading txnlog table ${t.root} through SQL, a catalog name or " +
        "format(\"txnlog\") needs the graft read rule: set " +
        "spark.sql.extensions=graft.GraftExtensions")
}

/** Plan-normalization rule (injected by GraftExtensions): every
  * [[TxnLogRelation]] becomes [[TxnLog.read]]'s plan for its
  * snapshot, aliased back to the relation's output attributes so
  * references bound upstream stay valid. Normalization runs once per
  * QueryExecution, after analysis and before the cache lookup and the
  * optimizer: a live relation resolves the latest snapshot per
  * execution (a temp view serves fresh data), each table resolves
  * ONCE per pass (both sides of a self-join see one version, and
  * their scans canonicalize equal), and filters and projections push
  * into the parquet scans the outer plan shows. */
private[graft] final case class TxnLogReadExpansion(
    spark: org.apache.spark.sql.SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val snaps = scala.collection.mutable
      .Map.empty[(java.nio.file.Path, Option[Long]), TxnLog.Snapshot]
    plan.transformUpWithSubqueries {
      case lr @ LogicalRelation(m: TxnLogRelation, _, _, _, _) =>
        val snap = snaps.getOrElseUpdate((m.t.root, m.asOf), {
          m.logReads.incrementAndGet()
          TxnLog.snapshot(m.t, m.asOf)
        })
        val read = org.apache.spark.sql.graftshim.Shim.analyzed(
          TxnLog.readRels(spark, m.t, snap, snap.liveFiles, mergeSchema = true))
        Project(lr.output.map { a =>
          val r = read.output.find(_.name == a.name).getOrElse(
            throw new IllegalStateException(s"txnlog table ${m.t.root} " +
              s"has no column '${a.name}' at v${snap.version}"))
          Alias(if (r.dataType == a.dataType) r else Cast(r, a.dataType),
            a.name)(a.exprId, a.qualifier, Some(a.metadata))
        }, read)
    }
  }
}

/** See [[TxnLogStreamProvider]]. `maxVersionsPerBatch` is the
  * maxFilesPerTrigger analog: without it, a consumer starting (or
  * restarting) against a long backlog plans ONE batch spanning the
  * whole gap; with it each micro-batch advances at most N versions,
  * so backlog recovery is a stream of bounded batches — the shape
  * that keeps executor memory and commit sizes flat at 100 TB. */
class TxnLogSource(ctx: SQLContext, t: TxnLog.Table,
    tableSchema: StructType, ignoreDeletes: Boolean,
    maxVersionsPerBatch: Option[Long] = None,
    ignoreChanges: Boolean = false,
    readChangeFeed: Boolean = false,
    startingVersion: Option[Long] = None)
    extends Source {

  override val schema: StructType =
    if (!readChangeFeed) tableSchema
    else StructType(tableSchema.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false))

  maxVersionsPerBatch.foreach(n =>
    require(n > 0, s"maxVersionsPerBatch must be positive, got $n"))

  /** High-water mark of versions this source has already offered or
    * been asked for — rate-limited offsets must never move backward
    * (after a restart the engine's checkpointed offset re-seeds it
    * through getBatch before anything else matters). SEEDED from
    * startingVersion: the skip must hold in offset tracking too, or
    * a rate-limited first batch (maxVersionsPerBatch) would commit a
    * small offset and the next batch would chain from it, delivering
    * the very backlog the option skips; a startingVersion beyond the
    * current latest makes the stream WAIT for that version. */
  private var lastSeen: Long = startingVersion.map(_ - 1).getOrElse(-1L)

  /** The engine replays checkpointed offsets as SerializedOffset;
    * both carry the version as their json. */
  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def getOffset: Option[Offset] = {
    val latest = TxnLog.latestVersion(t)
    if (latest < 0) None
    else {
      val target = maxVersionsPerBatch
        .map(n => math.min(latest, lastSeen + n)).getOrElse(latest)
      val eff = math.max(target, lastSeen)
      if (eff < 0) None
      else {
        lastSeen = eff
        Some(LongOffset(eff))
      }
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    lastSeen = math.max(lastSeen, endV)
    start.foreach(s0 => lastSeen = math.max(lastSeen, versionOf(s0)))
    // the engine holds ONE schema for the stream's lifetime; a
    // column-adding commit mid-stream would otherwise be silently
    // projected away — fail loudly instead (the Delta posture: a
    // schema change requires a stream restart, which re-reads the
    // registered schema and picks the new columns up)
    TxnLog.registeredSchema(t).foreach { reg =>
      val pinned = tableSchema.fields.map(f => f.name -> f.dataType).toMap
      val extra = reg.fieldNames.filterNot(pinned.contains)
      // a WIDENED column mid-stream is as fatal as a new one: files
      // written wide cannot be read under the pinned narrow schema
      val retyped = reg.fields
        .filter(f => pinned.get(f.name).exists(_ != f.dataType))
        .map(_.name)
      if (extra.nonEmpty || retyped.nonEmpty)
        throw new IllegalStateException(
          s"txnlog table at ${t.root} evolved mid-stream (" +
            (if (extra.nonEmpty) s"new columns: ${extra.mkString(", ")}"
             else "") +
            (if (extra.nonEmpty && retyped.nonEmpty) "; " else "") +
            (if (retyped.nonEmpty)
              s"retyped columns: ${retyped.mkString(", ")}" else "") +
            "); restart the stream to pick the new schema up")
    }
    import org.apache.spark.sql.functions.lit
    def typed(df: DataFrame, kind: String): DataFrame =
      df.withColumn("_change_type", lit(kind))
    // startingVersion skips the initial-snapshot backlog: the first
    // batch replays the feed FROM that version (inclusive) instead of
    // delivering the whole table; sv <= 0 degrades to the snapshot
    // path (replaying from the origin IS the initial snapshot)
    val firstFrom = startingVersion.filter(_ > 0).map(_ - 1)
    val batch = (start.map(versionOf).orElse(firstFrom),
        readChangeFeed) match {
      case (None, false) =>
        // initial backlog: the full snapshot at the first offset
        TxnLog.read(ctx.sparkSession, t, Some(endV))
      case (None, true) =>
        // CDF backlog: the snapshot arrives as one insert wave
        typed(TxnLog.read(ctx.sparkSession, t, Some(endV)), "insert")
      case (Some(s0), false) =>
        TxnLog.readFeedBatch(ctx.sparkSession, t, s0, endV,
          ignoreDeletes, ignoreChanges, tableSchema.json)
      case (Some(s0), true) =>
        val (ins, del) = TxnLog.readChangeFeedBatch(ctx.sparkSession, t,
          s0, endV, tableSchema.json)
        typed(ins, "insert").unionByName(typed(del, "delete"))
    }
    StreamShim.asStreamingBatch(batch)
  }

  override def stop(): Unit = ()
}
