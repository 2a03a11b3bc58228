package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftglue.StreamShim
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal ACID commit log for a parquet table directory — the
  * lakehouse transaction layer (snapshot isolation, time travel,
  * optimistic concurrency, row-level delete with a change-data feed,
  * compaction, checkpoints, vacuum) expressed against the
  * filesystem's atomic-namespace contract, the same primitive the
  * reference's job commit protocol serializes on (reference:
  * hadoop-mapreduce-project/.../output/FileOutputCommitter.java:1
  * rename-based commit; hadoop-common/.../fs/FileSystem.java:1
  * atomic create/rename semantics).
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   -- immutable data files
  *   <root>/data/.inflight-<uuid>        -- staging marker (pre-commit)
  *   <root>/cdc/<uuid>/part-*.parquet    -- row-level change files
  *   <root>/_txnlog/%020d.log            -- one action log per version
  *   <root>/_txnlog/%020d.ckpt           -- replay checkpoint (every 10)
  * }}}
  *
  * A version file holds one tab-separated action per line, the
  * analog of Delta Lake's JSON action lines:
  * {{{
  *   add <relpath>[ <col>:<min>:<max> ...]   file joins the live set
  *   remove <relpath>                        file leaves the live set
  *   schema <spark StructType json>          registered table schema
  *   txn <appId> <batchId>                   streaming batch marker
  *   cdc none                                rewrite, no logical change
  *   rowstate unchanged                      compaction's commute claim
  *   cdc <relpath> insert|delete             row-level change file
  * }}}
  *
  * A version COMMITS by hard-linking a fully written temp file to its
  * version-numbered name: `Files.createLink` is a single atomic
  * syscall that fails with EEXIST when the slot is taken, so (a)
  * exactly one writer wins each version, (b) a version name never
  * exists with partial content, and (c) the log is dense and gap-free
  * — a reader listing `_txnlog` can never observe version N without
  * every version below it. On HDFS the same step is
  * `create(path, overwrite=false)`; on an object store, put-if-absent.
  *
  * Concurrency rules (optimistic): blind APPENDS retry into the next
  * slot — they conflict with nothing. Commits carrying REMOVES
  * validated their read set at snapshot time: row-CHANGING rewrites
  * (delete, merge) abort with ConcurrentModificationException if
  * anything landed since — rather than resurrecting or
  * double-deleting rows — while logical no-op rewrites (compaction)
  * reconcile at FILE granularity: intervening commits that left the
  * compacted files untouched commute and the rewrite rebases into
  * the next slot; intervening rewrites of those files still abort.
  * Schema-CHANGING appends serialize the same way (claim exactly
  * latest+1, re-merge on loss) so two concurrent column additions
  * can never overwrite each other's registration.
  *
  * 100 TB posture: the log is metadata-scale (file lists, not data);
  * a snapshot read plans from the live-file manifest — no directory
  * listing of the data tree, no eventual-consistency exposure — and
  * commit coordination is O(1) regardless of table size. Replay cost
  * is bounded by CHECKPOINTS: every [[CheckpointInterval]] commits the
  * full replayed state (live set + stats + schema + txn high-water)
  * lands in one `.ckpt` file, so snapshot/lastBatch/schema reads touch
  * at most [[CheckpointInterval]] log files — a year-old streaming
  * table replays like a fresh one.
  */
object TxnLog {

  /** Commits between automatic replay checkpoints. */
  val CheckpointInterval = 10L

  /** Highest log reader version this library understands. Version 2
    * adds the features that change READ semantics — column mapping
    * (files hold physical names), type widening (promoted scan
    * types) and deletion vectors (rows a plain scan must not serve).
    * Commits introducing any of them stamp `protocol 2`, and replay
    * REFUSES a log demanding more than this constant: an older
    * reader must fail loudly rather than silently serve physical
    * column names or deleted rows (the Delta minReaderVersion
    * contract). */
  val CurrentReaderVersion = 4L

  private val ProtocolV2Line = s"protocol\t2"
  /** Floor 3: the log carries `@<rel>` deletion-vector SIDECAR
    * references — a v2 reader would refuse them as corrupt rather
    * than silently serve the dead rows, but the floor makes the
    * refusal name the real reason (upgrade, not corruption). */
  private val ProtocolV3Line = s"protocol\t3"
  /** Floor 4: the registered schema carries column DEFAULT values
    * (EXISTS_DEFAULT field metadata) — an older reader would serve
    * NULL where pre-evolution rows owe the default. */
  private val ProtocolV4Line = s"protocol\t4"

  /** Files dead for less than this keep their staging grace (see
    * [[vacuum]]): an in-flight writer's staged-but-uncommitted files
    * are never reclaimed under it. */
  val VacuumGraceMs: Long = 24L * 3600 * 1000

  /** `fileStats`: per live file, per column, the (min, max) embedded
    * in its add action — the manifest's data-skipping index. Files
    * added without stats simply never prune: conservative, always
    * correct. Stats are keyed by PHYSICAL column name ([[statsKey]]).
    * `schemaJson`: the schema REGISTERED in the log at this
    * version (one `schema` action per schema-changing commit), which
    * makes evolved reads footer-count-independent. `filePartitions`:
    * per live file, the hive-style partition values recorded in its
    * add action (`part=<col>=<val>` tokens) — the column is NOT in
    * the data file; reads reconstitute it and partition ops (prune,
    * drop) resolve from this map alone. Partition values are stored
    * DECODED (see [[unescapePart]]). `fileSizes`: per live file, the
    * byte size stamped in its add action at staging time (`size=`
    * token) — DESCRIBE DETAIL and size-driven maintenance
    * (compactSmall) read the manifest instead of stat-walking the
    * filesystem, which at 100 TB table scale is the difference
    * between a log replay and O(live files) driver FS calls. Files
    * added by legacy/raw commits simply lack an entry; consumers
    * fall back to one stat for those. `txns`: each streaming app's
    * highest committed batch id, the fence an exactly-once sink
    * re-checks on every commit attempt. */
  final case class Snapshot(version: Long, liveFiles: Seq[String],
      fileStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      schemaJson: Option[String] = None,
      filePartitions: Map[String, Map[String, String]] = Map.empty,
      fileSizes: Map[String, Long] = Map.empty,
      notNull: Set[String] = Set.empty,
      checks: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      declaredPartCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      minReader: Long = 1L,
      dropped: Set[String] = Set.empty,
      private[sources] val txns: Map[String, Long] = Map.empty) {
    /** Declared constraints at this version — carried BY the snapshot
      * so rewrite ops enforce without a second log replay. */
    def constraints: Constraints = Constraints(notNull, checks)
    /** The key a column's `fileStats` carry: its PHYSICAL name under
      * this version's schema — the name in the data files, which a
      * rename keeps and no other column can take — else the name. */
    def statsKey(c: String): String = physicalOf.getOrElse(c, c)
    private lazy val physicalOf: Map[String, String] =
      schemaJson.map(parseSchema).filter(hasMapping)
        .map(_.fields.map(f => f.name -> physicalName(f)).toMap)
        .getOrElse(Map.empty)
    /** The partition layout every write op must stage through: the
      * DDL-declared columns (authoritative, in declared order — a
      * `PARTITIONED BY` CREATE binds the layout before any data
      * lands) followed by any observed layout columns a declaration
      * didn't cover (legacy tables partitioned by their first
      * write). */
    def partCols: Seq[String] = {
      val observed = filePartitions.values.flatMap(_.keys)
        .toSeq.distinct.sorted.filterNot(declaredPartCols.contains)
      declaredPartCols ++ observed
    }
  }

  /** A filesystem path from a string that may arrive URI-form —
    * Spark normalizes a table's `path` option to `file:/...` in
    * places (CREATE TABLE resolution among them). */
  private[graft] def pathOf(raw: String): Path =
    Paths.get(if (raw.startsWith("file:")) raw.stripPrefix("file:")
              else raw)

  /** A table rooted at `root` (created if absent). */
  final case class Table(root: Path) {
    val logDir: Path = root.resolve("_txnlog")
    val dataDir: Path = root.resolve("data")
    val cdcDir: Path = root.resolve("cdc")
    /** Deletion-vector SIDECARS: over-cap vectors live here as
      * compact gzipped range files referenced by `@<rel>` dv tokens
      * (created lazily — most tables never need one). */
    val dvDir: Path = root.resolve("_dv")
    Files.createDirectories(logDir)
    Files.createDirectories(dataDir)
  }

  private def versionOf(p: Path): Long = {
    val n = p.getFileName.toString
    n.stripSuffix(".log").stripSuffix(".ckpt").toLong
  }

  /** Drain a directory stream EAGERLY and close it — Files.list/walk
    * hold an open directory fd until closed, and the log is listed on
    * every snapshot/latestVersion/lastBatch call, so an unclosed
    * stream here would leak fds for the life of the JVM. */
  private def listing(stream: java.util.stream.Stream[Path]): Seq[Path] =
    try stream.iterator().asScala.toSeq finally stream.close()

  /** The log's version files and checkpoint files, each in version
    * order, from ONE listing of the log directory. */
  private def logFiles(t: Table): (Seq[Path], Seq[Path]) = {
    val all = listing(Files.list(t.logDir))
    def named(ext: String): Seq[Path] =
      all.filter(_.getFileName.toString.matches(s"\\d{20}\\.$ext"))
        .sortBy(versionOf)
    (named("log"), named("ckpt"))
  }

  private def versionFiles(t: Table): Seq[Path] = logFiles(t)._1

  private def checkpointFiles(t: Table): Seq[Path] = logFiles(t)._2

  /** Latest committed version, or -1 for an empty table. */
  def latestVersion(t: Table): Long =
    versionFiles(t).lastOption.map(versionOf).getOrElse(-1L)

  // ---------------------------------------------------------------
  // Replay
  // ---------------------------------------------------------------

  /** Mutable replay accumulator — the full log state at one version. */
  private final class State {
    val live = new java.util.LinkedHashSet[String]()
    var stats = Map.empty[String, Map[String, (Long, Long)]]
    var parts = Map.empty[String, Map[String, String]]
    var sizes = Map.empty[String, Long]
    var schemaJson: Option[String] = None
    var txns = Map.empty[String, Long]
    var notNull = Set.empty[String]
    var checks = Map.empty[String, String] // name -> expression SQL
    var dropped = Set.empty[String] // tombstoned PHYSICAL column names
    var dvs = Map.empty[String, String] // file -> dead-row ranges
    var minReader = 1L // protocol floor the log demands of readers
    var declaredParts = Seq.empty[String] // DDL-declared layout
    var props = Map.empty[String, String] // table properties
  }

  private def corrupt(src: Path, line: String): Nothing =
    throw new IllegalStateException(s"corrupt action in $src: $line")

  /** Apply one action line to the replay state. Any malformed line —
    * unknown verb, short split, non-numeric stats triple — fails
    * LOUDLY naming the file (the TxnLogSpec corruption contract):
    * silently skipping could resurrect deleted rows. */
  private def applyLine(st: State, src: Path, line: String): Unit =
    line.split('\t') match {
      case Array("add", rel) => st.live.add(rel); ()
      case arr if arr.length > 2 && arr(0) == "add" =>
        // decorated add: `part=<col>=<val>` partition tokens,
        // `size=<bytes>` and/or col:min:max stats triples
        st.live.add(arr(1))
        val (zTok, rest0) = arr.drop(2).partition(_.startsWith("size="))
        val (pTok, sTok) = rest0.partition(_.startsWith("part="))
        zTok.lastOption.foreach { tok =>
          val n = try tok.stripPrefix("size=").toLong
          catch { case _: NumberFormatException => corrupt(src, line) }
          st.sizes += arr(1) -> n
        }
        if (pTok.nonEmpty)
          st.parts += arr(1) -> pTok.map { tok =>
            tok.stripPrefix("part=").split("=", 2) match {
              // on-disk tokens are hive-ESCAPED (directory names);
              // replay state is DECODED — the one decode point.
              // Column NAMES decode too: Spark's partitioned writer
              // escapes them in directory segments the same way, and
              // an escaped name would never match schema fields in
              // readRels/dropPartition otherwise
              case Array(c, v) if c.nonEmpty =>
                unescapePart(c) -> unescapePart(v)
              case _                         => corrupt(src, line)
            }
          }.toMap
        if (sTok.nonEmpty)
          st.stats += arr(1) -> sTok.map { triple =>
            triple.split(':') match {
              case Array(c, lo, hi) =>
                try c -> (lo.toLong, hi.toLong)
                catch { case _: NumberFormatException => corrupt(src, line) }
              case _ => corrupt(src, line)
            }
          }.toMap
      case Array("remove", rel) =>
        st.live.remove(rel)
        st.stats -= rel
        st.parts -= rel
        st.sizes -= rel
        st.dvs -= rel
      // DELETION VECTOR: the file stays live, the listed row indices
      // (sorted `a-b`/`a` ranges, 0-based positions within the file)
      // are dead — merge-on-read row-level DML. The action SETS the
      // file's complete dead set (writers merge before emitting);
      // `-` clears it (a restore below the DV).
      case Array("dv", rel, enc) =>
        if (enc == "-") st.dvs -= rel
        else if (enc.startsWith("@")) {
          // sidecar REFERENCE: shape-validate only — replay is a
          // metadata walk and must not open sidecar files (readers
          // resolve them lazily through dvRanges)
          if (enc.length < 2 || enc.contains('\t')) corrupt(src, line)
          st.dvs += rel -> enc
        } else {
          try decodeRanges(enc) // validate at replay: loud, names the file
          catch { case _: RuntimeException => corrupt(src, line) }
          st.dvs += rel -> enc
        }
      case Array("schema", js) => st.schemaJson = Some(js)
      // table constraints: declared in one metadata commit, enforced
      // on every subsequent write (CHECK expressions hive-escaped —
      // SQL text may contain tabs, the action separator)
      case Array("constraint", "notnull", c)  => st.notNull += c
      case Array("constraint", "check", n, e) =>
        st.checks += n -> unescapePart(e)
      case Array("dropconstraint", "notnull", c)  => st.notNull -= c
      case Array("dropconstraint", "check", n)    => st.checks -= n
      // table properties (ALTER TABLE SET/UNSET TBLPROPERTIES):
      // last-write-wins metadata — behavior toggles like
      // graft.enableDeletionVectors ride here (values hive-escaped)
      case Array("property", k, v) => st.props += k -> unescapePart(v)
      // an EMPTY property value: split('\t') drops the trailing empty
      // token, so "property\tk\t" arrives as two fields — it must
      // parse (one valid SET TBLPROPERTIES ('k' = '') would otherwise
      // brick every future replay as a corrupt line)
      case Array("property", k)     => st.props += k -> ""
      case Array("unsetproperty", k) => st.props -= k
      // the DDL-declared partition layout (PARTITIONED BY at CREATE):
      // binds every write to the layout before any data exists
      case Array("partcols", enc) =>
        st.declaredParts = enc.split(',').toSeq
          .filter(_.nonEmpty).map(unescapePart)
      // an EMPTY declaration (REPLACE TABLE without PARTITIONED BY
      // clears a previous layout): split('\t') drops the trailing
      // empty token, so "partcols\t" arrives as one field
      case Array("partcols") => st.declaredParts = Nil
      // protocol floor: the minimum reader version this log demands
      // (monotone — a later lower stamp never downgrades)
      case Array("protocol", n) =>
        val v = try n.toLong
        catch { case _: NumberFormatException => corrupt(src, line) }
        st.minReader = math.max(st.minReader, v)
      // DROP COLUMN's tombstone: the physical name stays forbidden
      // for NEW columns, whose physical would default to their
      // logical name — a fresh column reading a dropped column's
      // bytes out of old files is the resurrection bug this blocks
      case Array("dropped", phys) => st.dropped += phys
      // CREATE OR REPLACE supersedes the old definition wholesale:
      // with every old live file removed in the same commit, no
      // surviving file holds a dropped column's bytes — the
      // resurrection guard lifts
      case Array("cleardropped") => st.dropped = Set.empty
      case Array("txn", a, b) =>
        val id = try b.toLong
        catch { case _: NumberFormatException => corrupt(src, line) }
        st.txns += a -> math.max(st.txns.getOrElse(a, Long.MinValue), id)
      case Array("cdc", _) | Array("cdc", _, _) => () // change-feed refs
      // the compaction family's commute declaration (see
      // [[RowStateUnchanged]]) — per-commit, never part of state
      case Array("rowstate", "unchanged") => ()
      case _ => corrupt(src, line)
    }

  /** Replay the log through `asOf`, starting from the newest
    * checkpoint at or below it — at most [[CheckpointInterval]] log
    * files are read no matter how old the table is. */
  private def replayState(t: Table, asOf: Option[Long]): (Long, State) =
    replay(t, logFiles(t), asOf)

  /** [[replayState]] over an already-taken [[logFiles]] listing. */
  private def replay(t: Table, files: (Seq[Path], Seq[Path]),
                     asOf: Option[Long]): (Long, State) = {
    val (all, ckpts) = files
    val upTo = asOf match {
      case Some(v) =>
        val have = all.filter(versionOf(_) <= v)
        require(have.nonEmpty && versionOf(have.last) == v,
          s"version $v does not exist in ${t.logDir} (retained " +
            all.headOption.map(h => s"${versionOf(h)}..").getOrElse("") +
            s"${latestVersion(t)}; older versions may be expired)")
        have
      case None => all
    }
    require(upTo.nonEmpty, s"empty transaction log at ${t.logDir}")
    val target = versionOf(upTo.last)
    val st = new State
    val ckpt = ckpts.filter(versionOf(_) <= target).lastOption
    val from = ckpt match {
      case Some(c) =>
        for (line <- Files.readAllLines(c).asScala if line.nonEmpty)
          applyLine(st, c, line)
        versionOf(c)
      case None => -1L
    }
    for (vf <- upTo if versionOf(vf) > from;
         line <- Files.readAllLines(vf).asScala if line.nonEmpty)
      applyLine(st, vf, line)
    // protocol gate: a log demanding a newer reader refuses HERE,
    // before any consumer plans a scan — serving it anyway would
    // read physical column names, promoted types or deleted rows
    // wrong. Time travel BELOW the protocol bump keeps working (the
    // replay never sees the stamp).
    require(st.minReader <= CurrentReaderVersion,
      s"table at ${t.root} requires log reader version " +
        s"${st.minReader}; this engine supports up to " +
        s"$CurrentReaderVersion — upgrade the library to read this " +
        "table (or time-travel below the protocol upgrade)")
    (target, st)
  }

  /** Replay the action log through `asOf` (latest when None). The
    * live set is insertion-ordered so file order — and thus scan
    * planning — is deterministic across replays. */
  def snapshot(t: Table, asOf: Option[Long] = None): Snapshot =
    snapshotOf(replayState(t, asOf))

  /** The latest version's [[snapshot]] from one log listing; None on
    * an empty log. */
  private def latestSnapshot(t: Table): Option[Snapshot] = {
    val files = logFiles(t)
    if (files._1.isEmpty) None else Some(snapshotOf(replay(t, files, None)))
  }

  private def snapshotOf(replayed: (Long, State)): Snapshot = {
    val (v, st) = replayed
    val live = st.live.asScala.toSeq
    Snapshot(v, live, st.stats.view.filterKeys(st.live.contains).toMap,
      st.schemaJson,
      st.parts.view.filterKeys(st.live.contains).toMap,
      st.sizes.view.filterKeys(st.live.contains).toMap,
      st.notNull, st.checks,
      st.dvs.view.filterKeys(st.live.contains).toMap,
      st.declaredParts, st.props, st.minReader, st.dropped, st.txns)
  }

  /** Decode a deletion vector's `a-b`/`a` range string (sorted,
    * comma-separated, inclusive both ends). */
  private[sources] def decodeRanges(enc: String): Seq[(Long, Long)] =
    if (enc.isEmpty) Nil
    else enc.split(',').toSeq.map { tok =>
      tok.split('-') match {
        case Array(a)    => (a.toLong, a.toLong)
        case Array(a, b) =>
          val (lo, hi) = (a.toLong, b.toLong)
          require(lo <= hi, s"bad deletion-vector range: $tok")
          (lo, hi)
        case _ => throw new IllegalArgumentException(
          s"bad deletion-vector range: $tok")
      }
    }

  /** Encode sorted ranges back to the action form. */
  private[sources] def encodeRanges(rs: Seq[(Long, Long)]): String =
    rs.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }
      .mkString(",")

  /** Resolve a dv TOKEN to its ranges: inline encodings decode
    * directly; an `@<rel>` token reads the SIDECAR file the over-cap
    * vector lives in ([[writeDvSidecar]]). Every dv consumer routes
    * through here so the two storage forms can never diverge. */
  private[graft] def dvRanges(t: Table, enc: String): Seq[(Long, Long)] =
    if (enc.startsWith("@")) decodeRanges(readDvSidecar(t, enc.substring(1)))
    else decodeRanges(enc)

  /** Write an over-cap vector as a gzipped sidecar under `_dv/` and
    * return its root-relative path — what a `dv <file> @<rel>` action
    * references. The log (and every later checkpoint) then carries a
    * ~50-byte token where the adversarial scattered delete would have
    * stamped a megabyte-scale line; the fallback used to be a full
    * copy-on-write rewrite of the data file (1 GB of IO for a 100k-row
    * scatter — Delta pays a ~12 KB bitmap sidecar there, and now so
    * does this engine). A sidecar orphaned by a refused commit is
    * reclaimed by [[vacuum]] under the usual grace window. */
  private[graft] def writeDvSidecar(t: Table, encoded: String): String =
    writeDvSidecars(t, Seq(encoded)).head

  /** [[writeDvSidecar]] for a whole statement's over-cap vectors in
    * ONE batched pass: the names are minted up front and the bodies
    * written through a parallel stream, so a statement stamping
    * thousands of over-cap files pays overlapped IO instead of that
    * many sequential driver round-trips. Returns the sidecar paths
    * in input order. */
  private[graft] def writeDvSidecars(t: Table,
                                     encoded: Seq[String]): Seq[String] = {
    if (encoded.isEmpty) return Nil
    Files.createDirectories(t.dvDir)
    val rels = encoded.map(_ => s"_dv/${UUID.randomUUID()}.dv")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    java.util.stream.IntStream.range(0, encoded.length).parallel()
      .forEach { i =>
        try {
          val out = new java.util.zip.GZIPOutputStream(
            Files.newOutputStream(t.root.resolve(rels(i))))
          try out.write(encoded(i)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } catch { case scala.util.control.NonFatal(e) => errs.add(e); () }
      }
    Option(errs.poll()).foreach(throw _)
    rels
  }

  private[graft] def readDvSidecar(t: Table, rel: String): String = {
    val in = new java.util.zip.GZIPInputStream(
      Files.newInputStream(t.root.resolve(rel)))
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Interval subtraction `a − b` over inclusive ranges — the dv
    * delta a restore reconstitutes row events from (newly dead =
    * target − current; resurrected = current − target). */
  private[sources] def subtractRanges(a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val bs = mergeRanges(b)
    mergeRanges(a).flatMap { case (lo, hi) =>
      var cur = lo
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for ((blo, bhi) <- bs if bhi >= cur && blo <= hi) {
        if (blo > cur) out += ((cur, math.min(hi, blo - 1)))
        cur = math.max(cur, bhi + 1)
      }
      if (cur <= hi) out += ((cur, hi))
      out
    }
  }

  /** Sort + coalesce overlapping/adjacent ranges — the writer-side
    * merge of an existing DV with freshly dead rows. */
  private[sources] def mergeRanges(
      rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = rs.sortBy(identity)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for ((lo, hi) <- sorted) out.lastOption match {
      case Some((a, b)) if lo <= b + 1 =>
        out(out.length - 1) = (a, math.max(b, hi))
      case _ => out += ((lo, hi))
    }
    out.toSeq
  }

  /** Write the `.ckpt` replay checkpoint for version `v` (best
    * effort, idempotent): the replay is deterministic, so racing
    * checkpointers produce identical content and the createLink
    * EEXIST loser simply drops out. */
  def checkpoint(t: Table, v: Long): Unit = {
    val (_, st) = replayState(t, Some(v))
    val lines =
      (if (st.minReader > 1L) Seq(s"protocol\t${st.minReader}") else Nil) ++
      (if (st.declaredParts.isEmpty) Nil
       else Seq("partcols\t" +
         st.declaredParts.map(escapePart).mkString(","))) ++
      st.schemaJson.map(js => s"schema\t$js").toSeq ++
      st.live.asScala.toSeq.map { rel =>
        val pTok = st.parts.getOrElse(rel, Map.empty).toSeq.sortBy(_._1)
          .map { case (c, v) => s"part=${escapePart(c)}=${escapePart(v)}" }
        val zTok = st.sizes.get(rel).map(n => s"size=$n").toSeq
        val sTok = st.stats.getOrElse(rel, Map.empty).toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }
        (s"add\t$rel" +: (pTok ++ zTok ++ sTok)).mkString("\t")
      } ++
      st.dvs.toSeq.sortBy(_._1).map { case (r, e) => s"dv\t$r\t$e" } ++
      st.dropped.toSeq.sorted.map(p => s"dropped\t$p") ++
      st.notNull.toSeq.sorted.map(c => s"constraint\tnotnull\t$c") ++
      st.checks.toSeq.sortBy(_._1).map { case (n, e) =>
        s"constraint\tcheck\t$n\t${escapePart(e)}" } ++
      st.props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"property\t$k\t${escapePart(v)}" } ++
      st.txns.toSeq.sortBy(_._1).map { case (a, b) => s"txn\t$a\t$b" }
    val tmp = t.logDir.resolve(s".tmp-ckpt-${UUID.randomUUID()}")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    try Files.createLink(t.logDir.resolve(f"$v%020d.ckpt"), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  private def maybeCheckpoint(t: Table, v: Long): Unit =
    if (v > 0 && v % CheckpointInterval == 0)
      try checkpoint(t, v) catch { case _: Exception => () } // best effort

  // ---------------------------------------------------------------
  // Commit protocol
  // ---------------------------------------------------------------

  /** Bound on reconcile-and-retry attempts for rewrite commits — far
    * above any sane contention level; hitting it means a writer storm
    * the USER should see rather than an unbounded spin. */
  private[sources] val MaxCommitRetries = 20

  /** The action a rewrite commit stamps to DECLARE that row state is
    * unchanged (compaction/zorder: files move, rows do not). The
    * retry reconciliation lets such commits commute with predicate
    * statements over disjoint files — so the marker is a promise
    * with teeth, emitted ONLY through [[noopRewriteLines]] by the
    * compaction family. A rewrite that changes rows must never
    * stamp it. */
  private[sources] val RowStateUnchanged = "rowstate\tunchanged"

  /** The commit-line pair every logical-no-op rewrite emits: the CDF
    * marker (`cdc none` — the change feed skips the commit) and the
    * [[RowStateUnchanged]] commute declaration. One emit point keeps
    * the two in lockstep: a commit claiming feed-invisibility
    * without the commute claim (or vice versa) cannot be produced
    * by this library. */
  private def noopRewriteLines: Seq[String] =
    Seq("cdc\tnone", RowStateUnchanged)

  /** Atomically publish one version holding `adds`/`removes`.
    * `base` is the version the writer's read set was computed at
    * (latest at snapshot time; -1 for a fresh table). `extra` lines
    * (cdc refs, txn markers) ride in the same atomic commit.
    *
    * `reconcileDisjoint` is the file-granularity conflict check a
    * rewrite may opt into: on losing its slot it re-reads the
    * intervening commits, and when NONE of them touched (removed or
    * dv-stamped) a file in this rewrite's read set — its `removes`
    * plus the broader `readSet` the statement SCANNED to decide what
    * to rewrite — and none changed table METADATA the staged output
    * was computed under (schema, layout, constraints, dropped
    * columns), the rewrite rebases and retries into the next slot
    * (bounded attempts). A blind append and a rewrite commute at
    * WRITE-SERIALIZABLE isolation (Delta's default): the interloper's
    * new files were never in the rewrite's read set. Compaction
    * passes its removes as the read set (a logical no-op reads only
    * what it rewrites); DML passes its full candidate list, so an
    * intervening commit that rewrote ANY scanned file still refuses.
    * A nonempty `readSet` also forces rewrite claim semantics
    * (exactly base+1) even with no removes — the deletion-vector
    * commit shape, which changes row state without a remove line.
    * These lines are FIXED; a commit whose lines depend on the state
    * it lands on goes through [[commitRecomputed]]. Returns the
    * committed version. */
  def commit(t: Table, base: Long, adds: Seq[String],
             removes: Seq[String] = Nil,
             extra: Seq[String] = Nil,
             reconcileDisjoint: Boolean = false,
             readSet: Set[String] = Set.empty,
             forceClaim: Boolean = false): Long = {
    val body = (removes.map(r => s"remove\t$r") ++
      adds.map(a => s"add\t$a") ++ extra).mkString("", "\n", "\n")
    val tmp = t.logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, body)
    try {
      // A rewrite's read set is valid only if NOTHING landed after
      // `base`, so removes must claim exactly base+1 — EEXIST there IS
      // the conflict. Appends start from the freshest slot and walk up.
      // `forceClaim` opts a statement whose read set is a PREDICATE
      // over future state (replaceWhere on an empty partition) into
      // the same claim semantics with nothing to reconcile against.
      val rewrite = removes.nonEmpty || readSet.nonEmpty || forceClaim
      val guard = removes.toSet ++ readSet
      // claim `v` for a read set valid at `myBase`; on a lost slot a
      // blind append walks up, a rewrite reconciles or refuses
      @annotation.tailrec
      def publish(v: Long, myBase: Long, attempts: Int): Long =
        if (link(t, v, tmp)) v
        else if (!rewrite) publish(v + 1, myBase, attempts) // next slot
        else {
          def refuse(why: String): Nothing =
            throw new java.util.ConcurrentModificationException(
              s"rewrite commit based on stale snapshot " +
                s"v$myBase: $why; recompute the rewrite against " +
                "the current snapshot and retry")
          if (!reconcileDisjoint)
            refuse(s"version $v was taken concurrently")
          if (attempts >= MaxCommitRetries)
            refuse(s"gave up after $MaxCommitRetries " +
              "reconcile-and-retry attempts (writer storm)")
          val latest = latestVersion(t)
          // classify each intervening COMMIT: blind appends
          // commute (their new files were never in this
          // statement's read set — Delta's WriteSerializable
          // exemption); a LOGICAL NO-OP rewrite (compaction,
          // `cdc none`) commutes when its touched files are
          // disjoint from the read set (row state unchanged, so
          // the predicate scan's answer stands); a ROW-CHANGING
          // rewrite always refuses — its ADDS may have moved
          // rows INTO this statement's predicate scope, which no
          // file-set check can see (Delta raises
          // ConcurrentAppend/ConcurrentDeleteRead there)
          versionFiles(t)
            .filter(p => versionOf(p) > myBase && versionOf(p) <= latest)
            .foreach { vf =>
              val lines = Files.readAllLines(vf).asScala
              // metadata the staged rewrite was computed under
              // must not shift beneath it: new constraints were
              // never enforced on the staged files, schema/layout
              // changes invalidate their shape, a dropped
              // column's tombstone forbids bytes the staging may
              // carry, and PROPERTY flips steer routing decisions
              // (merge-on-read) taken at snapshot time — Delta's
              // MetadataChangedException covers all of these
              lines.find(l =>
                l.startsWith("schema\t") ||
                l.startsWith("partcols\t") ||
                l.startsWith("constraint\t") ||
                l.startsWith("dropconstraint\t") ||
                l.startsWith("dropped\t") ||
                l.startsWith("property\t") ||
                l.startsWith("unsetproperty\t"))
              .foreach(l => refuse(
                s"a concurrent commit changed table metadata " +
                  s"(${l.split('\t').take(2).mkString(" ")})"))
              val touched = lines.collect {
                case l if l.startsWith("remove\t") ||
                    l.startsWith("dv\t") => l.split('\t')(1)
              }
              if (touched.nonEmpty) {
                val conflict = touched.filter(guard)
                if (conflict.nonEmpty)
                  refuse(s"concurrent commits rewrote read-set " +
                    s"file(s) ${conflict.take(3).mkString(", ")}")
                // a PREDICATE-based statement (nonempty readSet)
                // must also refuse row-changing interlopers
                // wholesale: their ADDS may have moved rows INTO
                // the predicate's scope, which no file-set check
                // can see. A file-scoped logical no-op
                // (compaction: empty readSet — it read exactly
                // its removes) commutes with them when
                // file-disjoint, and compactions themselves
                // commute with predicates over disjoint files.
                // The commute key is the DEDICATED
                // [[RowStateUnchanged]] action (not the `cdc
                // none` feed marker, which is a CDF convention a
                // future rewrite op could plausibly emit while
                // changing rows): only [[noopRewriteLines]]
                // produces it, and that helper is the one place
                // the "rows unchanged" claim is made.
                if (readSet.nonEmpty &&
                    !lines.contains(RowStateUnchanged))
                  refuse("a concurrent row-changing rewrite " +
                    s"(${vf.getFileName}) may have moved rows " +
                    "into this statement's scope")
              }
            }
          publish(latest + 1, latest, attempts + 1) // commuting: rebase
        }
      val committed = publish(
        if (rewrite) base + 1 else math.max(latestVersion(t), base) + 1,
        base, 0)
      maybeCheckpoint(t, committed)
      committed
    } finally Files.deleteIfExists(tmp)
  }

  /** Link the written commit body `tmp` as exactly version `v`; false
    * when the slot is already taken — the single-syscall claim every
    * publish goes through. */
  private def link(t: Table, v: Long, tmp: Path): Boolean =
    try { Files.createLink(t.logDir.resolve(f"$v%020d.log"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** Attempt to publish `lines` as exactly version `v`; false when
    * the slot is already taken. Only [[commitRecomputed]] and the
    * version-0 claims of [[registerSchema]] and [[shallowClone]] call
    * it. */
  private def tryPublish(t: Table, v: Long, lines: Seq[String]): Boolean = {
    val tmp = t.logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    try {
      val won = link(t, v, tmp)
      if (won) maybeCheckpoint(t, v)
      won
    } finally Files.deleteIfExists(tmp)
  }

  /** The one loop for commits whose lines are RECOMPUTED from the
    * state they land on — Delta's optimistic read, validate, claim.
    * Each attempt reads the latest [[Snapshot]] once (None on an
    * empty log) and hands it to `body`, which validates against it
    * and returns the lines to publish (Right) or declines with the
    * call's result (Left: nothing to publish, or a fence that already
    * holds). The loop claims exactly base+1 and re-runs `body` on a
    * lost slot, so every published line was computed against the
    * version directly below it. */
  @annotation.tailrec
  private def commitRecomputed(t: Table)(
      body: Option[Snapshot] => Either[Long, Seq[String]]): Long = {
    val cur = latestSnapshot(t)
    val base = cur.fold(-1L)(_.version)
    body(cur) match {
      case Left(result) => result
      case Right(lines) if tryPublish(t, base + 1, lines) => base + 1
      case Right(_) => commitRecomputed(t)(body)
    }
  }

  /** Does the streaming fence (`appId`, `batchId`) already hold at
    * `cur` — that app's txn marker at or above the batch? */
  private def fenceHolds(cur: Option[Snapshot],
                         fence: Option[(String, Long)]): Boolean =
    fence.exists { case (app, bid) =>
      cur.exists(_.txns.get(app).exists(_ >= bid)) }

  // ---------------------------------------------------------------
  // Schema registration
  // ---------------------------------------------------------------

  /** The schema registered in the log, scanning NEWEST-FIRST with
    * early exit — a `schema` action beats everything below it, and
    * the newest checkpoint summarizes everything at or below itself,
    * so the walk is bounded by [[CheckpointInterval]] files. */
  def registeredSchema(t: Table): Option[StructType] = {
    val (versions, ckpts) = logFiles(t)
    val ckptV = ckpts.lastOption.map(versionOf).getOrElse(-1L)
    val newerFirst = versions.filter(versionOf(_) > ckptV).reverse
    for (vf <- newerFirst; line <- Files.readAllLines(vf).asScala.reverse)
      if (line.startsWith("schema\t"))
        return Some(parseSchema(line.split('\t')(1)))
    ckpts.lastOption.flatMap { c =>
      Files.readAllLines(c).asScala.find(_.startsWith("schema\t"))
        .map(l => parseSchema(l.split('\t')(1)))
    }
  }

  private def parseSchema(js: String): StructType =
    DataType.fromJson(js).asInstanceOf[StructType]

  // ---------------------------------------------------------------
  // Column mapping (RENAME / DROP COLUMN without rewriting data)
  // ---------------------------------------------------------------

  /** The metadata key carrying a field's PHYSICAL column name — the
    * name stored in the data files. Absent = physical == logical.
    * A RENAME changes only the logical name (one metadata commit;
    * old files keep reading through the mapping); a DROP removes the
    * field and tombstones its physical name. The Delta
    * column-mapping idea expressed through Spark's own field
    * metadata, so the mapping rides the existing `schema` action
    * and checkpoints untouched. */
  private[sources] val PhysicalKey = "graft.physical"

  /** Spark's own column-default field-metadata keys: CURRENT_DEFAULT
    * is the SQL text an INSERT omitting the column evaluates;
    * EXISTS_DEFAULT is what reads of files that PREDATE the column
    * serve instead of NULL — honored by Spark's parquet readers for
    * physically-missing columns, which is exactly the per-file
    * semantics (a post-evolution explicit NULL stays NULL; only
    * files written before the column existed backfill). This engine
    * keeps the two equal (defaults are CREATE/ADD-time immutable). */
  private[sources] val CurrentDefaultKey = "CURRENT_DEFAULT"
  private[sources] val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** The column's declared DEFAULT as SQL text, if any. */
  private[graft] def defaultSql(
      f: org.apache.spark.sql.types.StructField): Option[String] =
    if (f.metadata.contains(CurrentDefaultKey))
      Some(f.metadata.getString(CurrentDefaultKey))
    else if (f.metadata.contains(ExistsDefaultKey))
      Some(f.metadata.getString(ExistsDefaultKey))
    else None

  private[sources] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[sources] def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** The schema as the data files hold it: mapped fields renamed to
    * their physical names, the mapping metadata dropped (everything
    * else — EXISTS_DEFAULT, which the parquet reader backfills
    * physically-missing columns from — rides along). */
  private def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      if (!f.metadata.contains(PhysicalKey)) f
      else f.copy(name = physicalName(f),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalKey).build())))

  /** Rename a frame's columns LOGICAL -> PHYSICAL before staging —
    * the write half of the mapping (columns outside the registered
    * schema — an evolving append's new fields — keep their names:
    * physical defaults to logical at registration). No-op without a
    * mapping. */
  private def toPhysical(df: DataFrame,
                         schema: Option[StructType]): DataFrame =
    schema match {
      case Some(sc) if hasMapping(sc) =>
        import org.apache.spark.sql.functions.col
        val m = sc.fields.map(f => f.name -> physicalName(f)).toMap
        df.select(df.columns.toIndexedSeq.map(c =>
          col(c).as(m.getOrElse(c, c))): _*)
      case _ => df
    }

  /** Merge `incoming` into the schema `snap` registers (None: a fresh
    * location, where `incoming` registers as is): shared names must
    * keep their types AND their physical mapping
    * (refuse-rather-than-corrupt), genuinely new fields append — the
    * ADDITIVE evolution contract. A new field whose physical name (=
    * its logical name) was tombstoned by DROP COLUMN refuses: old
    * files still hold the dropped column's bytes under that name,
    * and a fresh column must never read them. Under `allowWiden`
    * (Delta's `mergeSchema` writer option / `MERGE ... WITH SCHEMA
    * EVOLUTION`) a losslessly WIDER incoming type re-registers the
    * column at the wide type in the same commit, exactly what the
    * explicit ALTER COLUMN TYPE verb does — without it, implicit
    * widening through a write refuses (a write must not change the
    * table shape as a side effect). Returns (merged schema, whether
    * registration is needed, whether a column widened — the caller
    * must stamp the type-widening protocol floor then). */
  private def mergedSchema(snap: Option[Snapshot], incoming: StructType,
                           allowWiden: Boolean = false)
      : (StructType, Boolean, Boolean) =
    snap.flatMap(_.schemaJson).map(parseSchema) match {
      case None => (incoming, true, false)
      case Some(c) =>
        val byName = c.fields.map(f => f.name -> f).toMap
        var widened = Map.empty[String, DataType]
        incoming.fields.foreach { f =>
          byName.get(f.name).foreach { have =>
            // a NARROWER incoming type is compatible under a widened
            // registration (the pinned read schema promotes it
            // in-scan); an incoming WIDER type needs allowWiden (the
            // mergeSchema option) or the explicit ALTER COLUMN TYPE
            val wider = canWiden(have.dataType, f.dataType)
            if (wider && allowWiden) widened += f.name -> f.dataType
            else require(have.dataType == f.dataType ||
              canWiden(f.dataType, have.dataType),
              s"non-additive schema change on '${f.name}': " +
                s"${have.dataType} -> ${f.dataType}" +
                (if (wider)
                  " — widen the column first (TxnLog.widenColumn / " +
                    "ALTER TABLE t ALTER COLUMN c TYPE ...) or opt " +
                    "the write in with option(\"mergeSchema\", \"true\")"
                 else ""))
            require(!f.metadata.contains(PhysicalKey) ||
              physicalName(f) == physicalName(have),
              s"conflicting physical mapping for '${f.name}': " +
                s"${physicalName(have)} vs ${physicalName(f)}")
          }
        }
        val fresh = incoming.fields.filterNot(f => byName.contains(f.name))
        if (fresh.nonEmpty) {
          val dead = snap.fold(Set.empty[String])(_.dropped)
          val clash = fresh.map(physicalName).filter(dead.contains)
          require(clash.isEmpty,
            s"column name(s) ${clash.mkString(", ")} were DROPPED from " +
              s"this table: old data files still hold their bytes, so " +
              "re-adding the name would resurrect deleted values — " +
              "pick a different name or rewrite the table " +
              "(INSERT OVERWRITE resets the schema)")
          // same hazard through RENAME: a new column named like an
          // existing field's physical (pre-rename) storage name would
          // read that field's bytes out of old files
          val curPhys = c.fields.map(physicalName).toSet
          val clash2 = fresh.map(physicalName).filter(curPhys.contains)
          require(clash2.isEmpty,
            s"column name(s) ${clash2.mkString(", ")} are the physical " +
              "storage name of an existing (renamed) column — pick a " +
              "different name or rewrite the table")
        }
        // a widened field keeps its registered metadata (the physical
        // mapping rides the field) — only the type moves
        val kept =
          if (widened.isEmpty) c.fields
          else c.fields.map(f =>
            widened.get(f.name).map(dt => f.copy(dataType = dt))
              .getOrElse(f))
        (StructType(kept ++ fresh), fresh.nonEmpty || widened.nonEmpty,
          widened.nonEmpty)
    }

  // ---------------------------------------------------------------
  // Writes
  // ---------------------------------------------------------------

  private def inflightMarker(t: Table, stage: Path): Path =
    stage.getParent.resolve(s".inflight-${stage.getFileName}")

  /** Reserve a staging directory and mark it in-flight so [[vacuum]]
    * never reclaims files a live writer has staged but not yet
    * committed. The marker is removed once the commit resolves either
    * way (a loser's files become ordinary vacuumable garbage); a
    * CRASHED writer's marker expires after the vacuum grace window. */
  private def newStage(t: Table, parent: Path): Path = {
    Files.createDirectories(parent)
    val stage = parent.resolve(UUID.randomUUID().toString)
    Files.writeString(inflightMarker(t, stage), "")
    stage
  }

  private def seal(t: Table, stages: Path*): Unit =
    stages.foreach(st => Files.deleteIfExists(inflightMarker(t, st)))

  /** Stage `df` as parquet under a fresh uuid directory and commit it
    * as one append. The staged files are invisible to every reader
    * until the version link lands. A schema-CHANGING append registers
    * the merged schema in the same commit, serialized through the
    * exact-slot claim so concurrent column additions merge instead of
    * overwriting each other. */
  def append(s: SparkSession, t: Table, df: DataFrame,
             allowWiden: Boolean = false): Long =
    appendWithStats(s, t, df, Nil, allowWiden)

  /** [[append]], plus per-file (min, max) of `statsCols` (long-typed
    * columns) embedded in the add actions — the write-side price of
    * manifest data skipping, paid once per commit with ONE aggregate
    * over the staged files (grouped by input_file_name), exactly how
    * a stats-collecting lakehouse writer works. A table whose CREATE
    * declared `PARTITIONED BY` routes THROUGH that layout — the
    * declaration, not the first writer, decides the physical shape. */
  def appendWithStats(s: SparkSession, t: Table, df: DataFrame,
                      statsCols: Seq[String],
                      allowWiden: Boolean = false): Long = {
    appendStaged(s, t, df, declaredPartCols(t), statsCols,
      allowWiden = allowWiden)
  }

  /** Append a sequence of INDEPENDENT slices as consecutive commits:
    * every slice STAGES concurrently (stagedPar, guide §2.6 — the
    * writes are independent small jobs whose wall time is stage
    * latency, and a strictly sequential loop leaves the executors
    * idle between them), then COMMITS strictly in input order, so the
    * log records exactly the history the equivalent sequential
    * [[append]] calls would: same per-commit file sets (a slice's
    * staged file count is its write's partition count, unchanged by
    * when the write runs), same version order, the schema registered
    * by the first commit, APPEND classification in DESCRIBE HISTORY.
    * This is the multi-batch ingest shape: a day's independent
    * slices land as one overlapped staging wave plus N metadata-only
    * commits. Constraints (if any) are enforced per slice against its
    * own staged files, refusing BEFORE that slice's commit exactly
    * like [[append]]; `statsCols` stamp per-file (min, max) exactly
    * like [[appendWithStats]]. The wave stages against the wave-entry
    * registered schema; a concurrent schema-changing commit conflicts
    * through commitAppend's re-merge, as with any append race.
    * Every slice must carry one schema (nullability aside): a slice
    * that evolved the schema would stage against a registration its
    * predecessor's commit has not made yet, so a differing slice
    * refuses by index before anything stages. */
  def appendSlices(s: SparkSession, t: Table, slices: Seq[DataFrame],
                   statsCols: Seq[String] = Nil): Seq[Long] = {
    if (slices.isEmpty) return Nil
    slices.zipWithIndex.find { case (df, _) =>
      !org.apache.spark.sql.catalyst.types.DataTypeUtils
        .sameType(df.schema, slices.head.schema)
    }.foreach { case (df, i) =>
      throw new IllegalArgumentException(
        s"appendSlices needs every slice to share one schema; slice $i " +
          s"has ${df.schema.simpleString}, slice 0 has " +
          slices.head.schema.simpleString)
    }
    require(declaredPartCols(t).isEmpty,
      "appendSlices stages flat; a table declared PARTITIONED BY " +
        "routes through appendPartitioned per slice")
    val stages = slices.map(_ => newStage(t, t.dataDir))
    try {
      val reg = registeredSchema(t).map(_.json)
      val staged = stagedPar(s, slices.zip(stages).map {
        case (df, stg) => () => stageAdds(s, t, df, stg, Nil, statsCols, reg)
      })
      staged.map(commitAppend(s, t, _))
    } finally seal(t, stages: _*)
  }

  /** The one append body: stage `df` through `partCols` (flat when
    * empty) and publish it through [[commitAppend]]. Under a `fence`
    * (a streaming batch's `(appId, batchId)`) it returns -1 when the
    * batch already holds. */
  private def appendStaged(s: SparkSession, t: Table, df: DataFrame,
      partCols: Seq[String], statsCols: Seq[String],
      extraLines: Seq[String] = Nil, allowWiden: Boolean = false,
      fence: Option[(String, Long)] = None): Long = {
    val stage = newStage(t, t.dataDir)
    try commitAppend(s, t,
      stageAdds(s, t, df, stage, partCols, statsCols,
        registeredSchema(t).map(_.json)),
      extraLines, allowWiden, fence)
    finally seal(t, stage)
  }

  /** The append-commit tail shared by flat, partitioned and sliced
    * appends, one [[commitRecomputed]] attempt at a time: publish the
    * staged adds plus `extraLines` as one commit, registering the
    * merged schema when it changed. Every append merges against the
    * TRUE latest, the base < 0 first write included — a blind-append
    * retry would republish a stale schema over a racing first
    * writer's columns (last-schema-wins replay).
    *
    * Every attempt enforces the constraints of its own state on the
    * staged rows (a retry's base has always moved): rows staged
    * before an ADD CONSTRAINT can never commit after it unchecked,
    * and a refusal publishes nothing.
    *
    * A `fence` (`appId`, `batchId`) is checked first on every
    * attempt: when that app's txn marker already holds the batch (a
    * replayed twin won the slot), nothing publishes and the result
    * is -1. */
  private def commitAppend(s: SparkSession, t: Table, st: Staged,
      extraLines: Seq[String] = Nil, allowWiden: Boolean = false,
      fence: Option[(String, Long)] = None): Long = {
    commitRecomputed(t) { cur =>
      if (fenceHolds(cur, fence)) Left(-1L)
      else {
        enforceStaged(s, t, st, cur.fold(NoConstraints)(_.constraints))
        val (schema, changed, widened) =
          mergedSchema(cur, st.schema, allowWiden)
        // a write-side widening promotes old files' scan types exactly
        // like the explicit ALTER — same protocol floor, same commit
        val lines = (if (widened) Seq(ProtocolV2Line) else Nil) ++
          (if (changed) Seq(s"schema\t${schema.json}") else Nil) ++
          st.adds ++ extraLines
        // an empty write: nothing to publish
        if (lines.isEmpty) Left(cur.fold(-1L)(_.version)) else Right(lines)
      }
    }
  }

  /** Hive-style PARTITIONED append: `df` stages via
    * `write.partitionBy(partCols)` — the partition columns live in
    * the directory layout, not the files — and each add action
    * records its file's partition values as `part=<col>=<val>`
    * tokens. That makes three things metadata-only at any table
    * size: partition-pruned reads ([[readPartition]] plans only the
    * partition's files), [[dropPartition]] (one remove-only commit,
    * zero data files read — retention's drop-a-day), and the
    * partition column itself on read (reconstituted as a typed
    * literal per scan group, never stored). Every rewrite op —
    * delete, update, merge, mergeInto, compact, zorder — restages
    * its touched sliver THROUGH the partition layout (partitionBy +
    * re-emitted `part=` tokens), so partition pruning and
    * metadata-only [[dropPartition]] keep working under a steady DML
    * feed; only the change files under cdc/ stay flat (they are the
    * feed, not the table). */
  def appendPartitioned(s: SparkSession, t: Table, df: DataFrame,
                        partCols: Seq[String],
                        statsCols: Seq[String] = Nil,
                        extraLines: Seq[String] = Nil,
                        allowWiden: Boolean = false): Long = {
    require(partCols.nonEmpty, "appendPartitioned needs partition columns")
    // a DECLARED layout is binding: an explicit different layout
    // must refuse, not quietly fork the table's physical shape
    val declared = declaredPartCols(t)
    require(declared.isEmpty || declared == partCols,
      s"table at ${t.root} is declared PARTITIONED BY " +
        s"(${declared.mkString(", ")}); this write partitions by " +
        s"(${partCols.mkString(", ")}) — stage through the declared " +
        "layout")
    appendStaged(s, t, df, partCols, statsCols, extraLines, allowWiden)
  }

  /** Add-action lines for a partitionBy-written stage: each file's
    * `<col>=<val>` path segments become `part=` tokens, spliced in
    * right after the path, before any stats triples — the ONE place
    * the decorated add grammar is produced. */
  private def partitionedAddLines(s: SparkSession, t: Table, stage: Path,
                                  keys: Seq[String]): Seq[String] = {
    val stageRel = t.root.relativize(stage).toString
    addLinesFor(s, t, stage, keys).map { line =>
      val arr = line.split('\t')
      val segs = arr(1).stripPrefix(stageRel + "/").split('/').dropRight(1)
      (arr.take(2) ++ segs.map { seg =>
        seg.split("=", 2) match {
          case Array(c, v) if c.nonEmpty => s"part=$c=$v"
          case _ => throw new IllegalStateException(
            s"staged file ${arr(1)} is not under a <col>=<val> layout")
        }
      } ++ arr.drop(2)).mkString("\t")
    }
  }

  /** Does a file's recorded partition spec admit `spec`? Files with
    * NO recorded value for a spec column may hold any value — kept
    * (correct, never prunes). */
  private def mayHold(p: Map[String, String],
                      spec: Map[String, String]): Boolean =
    spec.forall { case (c, v) => p.get(c).forall(_ == v) }

  /** Partition-pruned read: [[read]] filtered to `spec`, so the
    * result is exactly the partition's rows regardless of file
    * provenance. The file index plans ONLY the files whose recorded
    * partition values admit `spec` (metadata-less files stay — they
    * may hold anything, and the filter runs on their rows). */
  def readPartition(s: SparkSession, t: Table, spec: Map[String, String],
                    asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    spec.foldLeft(read(s, t, asOf)) { case (d, (c, v)) =>
      // null-SAFE equality: the __HIVE_DEFAULT_PARTITION__ sentinel
      // reconstitutes as a null literal, and `=== null` would match
      // nothing — <=> selects the null partition's rows correctly
      d.filter(col(c) <=> partValue(v).cast(d.schema(c).dataType))
    }
  }

  /** (files planned, files live) for a partition probe. */
  def plannedFilesPartition(t: Table,
                            spec: Map[String, String]): (Int, Int) = {
    val snap = snapshot(t)
    (snap.liveFiles.count(rel =>
      mayHold(snap.filePartitions.getOrElse(rel, Map.empty), spec)),
      snap.liveFiles.length)
  }

  /** METADATA-ONLY partition drop — retention's "drop a day" as one
    * remove-only commit: every live file whose add action recorded
    * exactly `spec`'s values is removed, and the commit references
    * those same data files as `cdc delete` change files (zero-copy —
    * the old files ARE the old images, on disk until vacuum). No
    * data file is read or written; the signature takes no
    * SparkSession. Files WITHOUT recorded values for the spec
    * columns are left alone — a sliver some rewrite flattened out of
    * the partition layout needs [[delete]] instead. Returns the
    * committed version (unchanged when nothing matched). */
  def dropPartition(t: Table, spec: Map[String, String]): Long = {
    require(spec.nonEmpty, "dropPartition needs a partition spec")
    val snap = snapshot(t)
    val victims = snap.liveFiles.filter { rel =>
      val p = snap.filePartitions.getOrElse(rel, Map.empty)
      spec.forall { case (c, v) => p.get(c).contains(v) }
    }
    if (victims.isEmpty) return snap.version
    commit(t, snap.version, adds = Nil, removes = victims,
      extra = victims.map(r => s"cdc\t$r\tdelete"))
  }

  /** A manifest (min, max) bound from an aggregate result: integral
    * values pass through; fractional ones round OUTWARD so the box
    * always covers the file's true range (Long.Min/MaxValue saturate
    * on overflow — still covering). */
  private def statBound(n: Number, up: Boolean): Long = n match {
    case d: java.lang.Double =>
      (if (up) math.ceil(d.doubleValue) else math.floor(d.doubleValue)).toLong
    case f: java.lang.Float =>
      (if (up) math.ceil(f.doubleValue) else math.floor(f.doubleValue)).toLong
    case x => x.longValue
  }

  /** Per staged file, its row count and (min, max) bounds for
    * `physCols`, read from the staged files' PARQUET FOOTERS on the
    * driver — the metadata a
    * stats-collecting writer already produced during the write —
    * instead of re-SCANNING every staged byte through a Spark
    * aggregate job (guide §1.2 step 1: the read-back was a second
    * full pass over the write's data; at 100 TB that is the
    * difference between O(files) metadata reads and re-reading the
    * whole commit). The bounds are None for a file whose footer lacks
    * exact, provably-equivalent stats for a requested column — statistics
    * absent or unreadable, a NaN-dropped float/double min/max, a
    * physical type outside {INT32, INT64, FLOAT, DOUBLE}, a decimal/
    * date/timestamp logical annotation, or an unknown null count —
    * and the caller then falls back to the aggregate scan, so this
    * path can only ever emit the IDENTICAL bounds the aggregate would
    * (floor/ceil are monotone, so per-row-group outward rounding
    * composes to the global statBound). Usable bounds are
    * Some(bounds, physCols order) for files with stats, Some(None)
    * for files with zero non-null values in some column (added
    * stat-less — the aggregate path's null-aggregate contract). An
    * unreadable footer gives row count -1. Footers read from a small
    * driver-side pool: file-count-scale metadata I/O. */
  private def footers(s: SparkSession, t: Table, rels: Seq[String],
      physCols: Seq[String])
      : Seq[(String, Long, Option[Option[Seq[(Long, Long)]]])] = {
    import org.apache.parquet.column.statistics.{DoubleStatistics,
      FloatStatistics, IntStatistics, LongStatistics}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = s.sparkContext.hadoopConfiguration
    // one set of read options for every footer: open(file) builds a
    // set per file, which cost 10-25 ms each on a 4-core host
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    // per file: (rows, bounds), bounds None = footer unusable (forces
    // the global fallback); Some(None) = no stats for this file
    def footerOf(rel: String)
        : (Long, Option[Option[Seq[(Long, Long)]]]) = try {
      val hp = new org.apache.hadoop.fs.Path(
        t.root.resolve(rel).toString)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf),
        opts)
      try {
        val all = rd.getFooter.getBlocks.asScala.toSeq
        val blocks = all.filter(_.getRowCount > 0)
        val perCol: Seq[Option[Option[(Long, Long)]]] = physCols.map { c =>
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var seen = false    // any non-null value in this file
          var usable = true   // every chunk's stats exact & typed
          for (b <- blocks if usable) {
            b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case None => usable = false // column absent from file
              case Some(cc) =>
                val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
                val annOk = ann == null ||
                  (ann.isInstanceOf[
                     LogicalTypeAnnotation.IntLogicalTypeAnnotation] &&
                   ann.asInstanceOf[
                     LogicalTypeAnnotation.IntLogicalTypeAnnotation]
                     .isSigned)
                val tn = cc.getPrimitiveType.getPrimitiveTypeName
                val st = cc.getStatistics
                if (!annOk || st == null) usable = false
                else if (st.hasNonNullValue) {
                  val mm: Option[(Number, Number)] = (tn, st) match {
                    case (PrimitiveTypeName.INT64, v: LongStatistics) =>
                      Some((v.getMin, v.getMax))
                    case (PrimitiveTypeName.INT32, v: IntStatistics) =>
                      Some((v.getMin, v.getMax))
                    case (PrimitiveTypeName.FLOAT, v: FloatStatistics) =>
                      Some((v.getMin, v.getMax))
                    case (PrimitiveTypeName.DOUBLE, v: DoubleStatistics) =>
                      Some((v.getMin, v.getMax))
                    case _ => None
                  }
                  mm match {
                    case Some((mn, mx)) =>
                      seen = true
                      lo = math.min(lo, statBound(mn, up = false))
                      hi = math.max(hi, statBound(mx, up = true))
                    case None => usable = false
                  }
                } else if (!(st.isNumNullsSet &&
                    st.getNumNulls == cc.getValueCount))
                  usable = false // stats missing, not a proven all-null
                // else: all-null chunk — contributes no values
            }
          }
          if (!usable) None
          else if (!seen) Some(None) // zero non-null values in file
          else Some(Some((lo, hi)))
        }
        (all.map(_.getRowCount).sum,
          if (perCol.exists(_.isEmpty)) None
          else if (perCol.exists(_.contains(None))) Some(None)
          else Some(Some(perCol.map(_.get.get))))
      } finally rd.close()
    } catch { case scala.util.control.NonFatal(_) => (-1L, None) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, rels.length)))
    try {
      rels.map(rel => rel -> pool.submit(
        new java.util.concurrent.Callable[
            (Long, Option[Option[Seq[(Long, Long)]]])] {
          def call() = footerOf(rel)
        })).map { case (rel, f) =>
        val (rows, bounds) = f.get()
        (rel, rows, bounds)
      }
    } finally pool.shutdown()
  }

  /** `add` action lines for the staged files, with the staged byte
    * size stamped as a `size=` token (one stat per STAGED file, at
    * write time — never per live file at read time) and (min, max)
    * triples for the `keys` columns (PHYSICAL names, the names the
    * stats are keyed by) read from the staged parquet FOOTERS
    * (driver-side metadata, zero Spark jobs — see [[footers]]),
    * falling back to ONE file-count-scale aggregate over the staged
    * files whenever a footer cannot prove the identical bounds. A
    * file whose footer counts zero rows (Spark writes one for an
    * empty frame) gets no add line: it stays in the sealed stage for
    * vacuum, and an empty write commits no data file. */
  private def addLinesFor(s: SparkSession, t: Table, stage: Path,
                          keys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    def sized(rel: String): String =
      s"add\t$rel\tsize=${Files.size(t.root.resolve(rel))}"
    val foot = footers(s, t, stagedFiles(t, stage), keys)
      .filter(_._2 != 0)
    val rels = foot.map(_._1)
    if (keys.isEmpty || foot.forall(_._3.isDefined))
      return foot.map { case (rel, _, bounds) =>
        (sized(rel) +: bounds.flatten.toSeq.flatMap(keys.zip(_).map {
          case (c, (lo, hi)) => s"$c:$lo:$hi" })).mkString("\t")
      }
    val aggs = keys.flatMap(c =>
      Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c")))
    val byPath = s.read.parquet(stage.toString)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // file-count-scale: one row per staged file
      .flatMap { r =>
        // key by the full normalized path, not the file name — a
        // partitionBy stage reuses part file names across its
        // <col>=<val> subdirectories
        val abs = java.nio.file.Paths.get(
          new java.net.URI(r.getString(0)).getPath).normalize.toString
        // an all-null or empty file yields null aggregates: add the
        // file with NO stats (conservative, never prunes) rather than
        // fabricating a range
        if (keys.exists(c => r.isNullAt(r.fieldIndex(s"lo_$c")))) None
        else Some(abs -> keys.map(c =>
          // Number, not Long: a widened column's staged files may
          // still carry the narrow integral type — and a FRACTIONAL
          // aggregate (int widened to double) must round OUTWARD
          // (floor the min, ceil the max), never truncate toward
          // zero: a non-covering box would make DML pruning silently
          // skip files that hold matching rows
          s"$c:${statBound(r.getAs[Number](s"lo_$c"), up = false)}" +
            s":${statBound(r.getAs[Number](s"hi_$c"), up = true)}"))
      }.toMap
    rels.map { rel =>
      byPath.get(t.root.resolve(rel).normalize.toString) match {
        case Some(triples) => (sized(rel) +: triples).mkString("\t")
        case None          => sized(rel)
      }
    }
  }

  /** Highest streaming batch id `appId` has committed, if any —
    * scanning NEWEST-FIRST with early exit (batch ids of one app are
    * sequential, so the newest marker IS the high-water mark) and
    * falling back to the newest checkpoint's txn summary. A
    * long-running stream pays O(1) log reads per micro-batch, not
    * O(versions). */
  def lastBatch(t: Table, appId: String): Option[Long] = {
    val (versions, ckpts) = logFiles(t)
    val ckpt = ckpts.lastOption
    val ckptV = ckpt.map(versionOf).getOrElse(-1L)
    for (vf <- versions.filter(versionOf(_) > ckptV).reverse) {
      val here = Files.readAllLines(vf).asScala.collect {
        case l if l.startsWith("txn\t") =>
          l.split('\t') match {
            case Array(_, a, b) if a == appId => Some(b.toLong)
            case Array(_, _, _)               => None
            case _                            => corrupt(vf, l)
          }
      }.flatten
      if (here.nonEmpty) return Some(here.max)
    }
    ckpt.flatMap(c => Files.readAllLines(c).asScala.collectFirst {
      case l if l.startsWith(s"txn\t$appId\t") => l.split('\t')(2).toLong
    })
  }

  /** EXACTLY-ONCE streaming append — the foreachBatch sink contract:
    * the commit carries a `txn appId batchId` marker, and a replayed
    * batch (restart, retry, a racing twin) recognizes a marker at or
    * above its id and no-ops. The check-then-publish races through
    * the version-slot claim itself: each attempt targets exactly
    * latest+1, and an EEXIST loss re-reads the log — if the twin that
    * won WAS this batch, the re-check sees its marker and returns
    * false, so the pair (batch staged, marker linked) lands at most
    * once no matter how many writers replay it. Returns true iff THIS
    * call committed the batch; a false leaves only invisible staged
    * files, which vacuum reclaims. Contract: one app's batch ids are
    * SEQUENTIAL (the foreachBatch guarantee — batch b+1 only runs
    * after b committed), which is what makes the at-or-above fence
    * sound; concurrent independent writers are distinct appIds. */
  def appendBatch(s: SparkSession, t: Table, df: DataFrame,
                  appId: String, batchId: Long,
                  partCols0: Seq[String] = Nil,
                  allowWiden: Boolean = false): Boolean = {
    require(appId.matches("[A-Za-z0-9_-]+"), s"bad app id: $appId")
    if (lastBatch(t, appId).exists(_ >= batchId)) return false
    // the foreachBatch contract honors a declared layout like every
    // other writer: an unspecified layout routes through the
    // declaration, a mismatched explicit one refuses (silent flat
    // batches would be invisible to partition pruning/drop)
    val declared = declaredPartCols(t)
    require(partCols0.isEmpty || declared.isEmpty || declared == partCols0,
      s"table at ${t.root} is declared PARTITIONED BY " +
        s"(${declared.mkString(", ")}); this batch partitions by " +
        s"(${partCols0.mkString(", ")}) — stage through the declared " +
        "layout")
    // a partitioned table's streaming batches stage THROUGH its
    // layout (tokens recorded) — same rule as every other write op.
    // The constraint check runs before the first publish attempt: a
    // refused batch leaves only staged garbage and never advances the
    // txn high-water mark, so a retried batch with fixed data lands
    appendStaged(s, t, df, if (partCols0.nonEmpty) partCols0 else declared,
      Nil, Seq(s"txn\t$appId\t$batchId"), allowWiden,
      fence = Some((appId, batchId))) >= 0
  }

  // ---------------------------------------------------------------
  // Reads
  // ---------------------------------------------------------------

  /** Read the table at `asOf` (latest when None) straight from the
    * manifest — the scan plans over exactly the live files. When the
    * log registered a schema (every append-family commit does), the
    * scan is pinned to it: additive evolution null-fills old files'
    * missing columns WITHOUT reading any footer — the
    * footer-count-independent production path. `mergeSchema` remains
    * only as the fallback for raw-commit logs that never registered
    * one (it unions live-file footers). */
  def read(s: SparkSession, t: Table, asOf: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val snap = snapshot(t, asOf)
    readRels(s, t, snap, snap.liveFiles, mergeSchema)
  }

  /** The schema a read of `snap` binds: the registered one, else (a
    * raw-commit log) the union of its live files' footers. */
  private[graft] def schemaOf(s: SparkSession, t: Table,
                              snap: Snapshot): StructType =
    snap.schemaJson.map(parseSchema).getOrElse(
      readRels(s, t, snap, snap.liveFiles, mergeSchema = true).schema)

  /** The one scan entry: `rels` of `snap` as parquet relations over a
    * [[TxnLogFileIndex]] — no path listing, partition values from the
    * `part=` tokens, stats-based file skipping for every pushed
    * filter. Files carrying `part=` tokens read WITHOUT their
    * partition columns (the files don't store them); files without
    * them (an unpartitioned table, a sliver a rewrite flattened, a
    * change file) hold every column — one relation per distinct
    * partition-column set, so at most two for any table written
    * through one layout. Data columns scan PHYSICAL and alias back to
    * logical; `snap.dvs` route through [[dvAware]]. A snapshot with
    * no registered schema infers one from the files' footers
    * (`mergeSchema` unions them). */
  private[sources] def readRels(s: SparkSession, t: Table, snap: Snapshot,
                                rels: Seq[String],
                                mergeSchema: Boolean = false,
                                withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = snap.schemaJson.map(parseSchema).getOrElse {
      val files = new TxnLogFileIndex(t, snap, rels, StructType(Nil))
        .listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat().inferSchema(s,
          Map("mergeSchema" -> mergeSchema.toString), files)
        .getOrElse(throw new IllegalStateException(
          s"table at ${t.root} registered no schema and has no file " +
            "to infer one from"))
    }
    def quoted(n: String) = col(s"`${n.replace("`", "``")}`")
    val groups = rels
      .groupBy(rel => snap.filePartitions.getOrElse(rel, Map.empty).keySet)
      .toSeq.sortBy(_._1.toSeq.sorted.mkString(",")) // deterministic plan
    (if (groups.isEmpty) Seq(Set.empty[String] -> Nil) else groups).map {
      case (keys, files) =>
        require(keys.subsetOf(schema.fieldNames.toSet),
          "partitioned txnlog reads need a log-registered schema")
        // partition columns never map (rename/drop refuse on them)
        val (part, data) = schema.fields.partition(f => keys.contains(f.name))
        val scan = dvAware(s, t,
          fs => StreamShim.scanOf(s, new TxnLogFileIndex(t, snap, fs,
            StructType(part)), physicalSchema(StructType(data))),
          files, snap.dvs, withPos)
        scan.select(schema.fields.toIndexedSeq.map(f =>
          if (physicalName(f) == f.name) quoted(f.name)
          else quoted(physicalName(f)).as(f.name)) ++
          (if (withPos) PosCols.map(col) else Nil): _*)
    }.reduce(_.unionByName(_))
  }

  /** [[readRels]] of files outside any one snapshot — a feed's
    * change and insert files — under `schemaJson`, partition columns
    * reconstituted from `parts`. */
  private[graft] def readFiles(s: SparkSession, t: Table,
      rels: Seq[String], schemaJson: Option[String],
      parts: Map[String, Map[String, String]] = Map.empty): DataFrame =
    readRels(s, t, Snapshot(-1L, rels, schemaJson = schemaJson,
      filePartitions = parts), rels)

  /** The two helper columns a position-exposing read carries: the
    * file's normalized absolute path and the row's 0-based index
    * within it — what DV writers key their dead sets on. */
  private val PosCols = Seq("_g_fp", "_g_ri")

  /** A manifest file's absolute path in the exact URL-ENCODED form
    * Spark's `_metadata.file_path` carries (scheme stripped by the
    * scan-side normalization): Hadoop Path's URI quoting, so a table
    * root containing spaces or percents still matches byte-for-byte
    * — a raw-path key would silently serve deleted rows there. */
  private def encodedAbs(t: Table, rel: String): String =
    new org.apache.hadoop.fs.Path(
      t.root.resolve(rel).normalize.toString).toUri.toString

  /** DELETION-VECTOR-aware scan wrapper: rows of files listed dead
    * in `dvs` are dropped via ONE broadcast interval anti-join on
    * (file path, row index) — `_metadata.row_index` is Spark's own
    * per-file row position, so no data column is touched and the
    * check is codegen-friendly. The scan SPLITS: only the
    * DV-carrying files flow through the per-row path normalization
    * and anti-join probe; vector-free files scan plain and union in
    * — at 100 TB one trickle-deleted file must not tax every row of
    * the table. Zero overhead (single plain scan) when no file
    * carries a DV. `build` constructs the scan for a file subset;
    * `withPos` keeps the (path, index) helper columns in the output
    * for DV writers. */
  private def dvAware(s: SparkSession, t: Table,
      build: Seq[String] => DataFrame,
      rels: Seq[String], dvs: Map[String, String],
      withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
    def pos(df: DataFrame): DataFrame = df
      // file_path arrives URI-form (file:/... or file:///...):
      // normalize to the plain absolute path the manifest resolves to
      .withColumn("_g_fp",
        regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
      .withColumn("_g_ri", col("_metadata.row_index"))
    def plain(fs: Seq[String]) = if (withPos) pos(build(fs)) else build(fs)
    val dvd = rels.filter(dvs.contains)
    if (dvd.isEmpty) return plain(rels)
    val rows = dvd.flatMap { rel =>
      val abs = encodedAbs(t, rel)
      dvRanges(t, dvs(rel)).map { case (lo, hi) =>
        org.apache.spark.sql.Row(abs, lo, hi) }
    }
    val dead = s.createDataFrame(rows.asJava,
      StructType(Seq(
        org.apache.spark.sql.types.StructField("_g_dfp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_g_dlo",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_g_dhi",
          org.apache.spark.sql.types.LongType))))
    val posDirty = pos(build(dvd))
    val dirty = posDirty.join(broadcast(dead),
      posDirty("_g_fp") === dead("_g_dfp") &&
        posDirty("_g_ri") >= dead("_g_dlo") &&
        posDirty("_g_ri") <= dead("_g_dhi"),
      "left_anti")
    val live = if (withPos) dirty else dirty.drop(PosCols: _*)
    val clean = rels.filterNot(dvs.contains)
    if (clean.isEmpty) live else plain(clean).unionByName(live)
  }

  /** A partition VALUE as a literal: values are stored DECODED in
    * replay state (see [[unescapePart]]), so only the null sentinel
    * needs mapping here — decoding again would corrupt a value that
    * legitimately contains '%'. */
  private def partValue(v: String): Column = {
    import org.apache.spark.sql.functions.lit
    if (v == "__HIVE_DEFAULT_PARTITION__") lit(null) else lit(v)
  }

  /** Decode hive's %XX path escaping — applied ONCE, where `part=`
    * tokens enter replay state, so every comparison (partition spec
    * matching, dropPartition, pruning) and the reconstituted column
    * share one value domain: the DECODED one. A partition value
    * containing ':', '=', '%' or '/' would otherwise silently fail
    * to match the user's spec (the tokens are directory names, which
    * Spark's writer escapes). The null sentinel passes through. */
  private[graft] def unescapePart(v: String): String = {
    if (!v.contains('%')) return v
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      // both chars must be hex DIGITS — parseInt would also accept a
      // sign ('%+5'), breaking pass-through parity with Spark's
      // unescapePathName for hand-written tokens
      val d = if (c == '%' && i + 2 < v.length &&
          Character.digit(v.charAt(i + 1), 16) >= 0 &&
          Character.digit(v.charAt(i + 2), 16) >= 0)
        (Character.digit(v.charAt(i + 1), 16) << 4) |
          Character.digit(v.charAt(i + 2), 16)
      else -1
      // an invalid %-sequence passes through verbatim — Spark's
      // unescapePathName parity (a literal '%' someone hand-wrote
      // into a token must not crash replay; round-tripped tokens
      // always escape it)
      if (d >= 0) { sb.append(d.toChar); i += 3 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Re-escape a decoded partition value for a `part=` token — the
    * inverse of [[unescapePart]], used wherever replay state (which
    * is decoded) is re-emitted as action lines: checkpoints and
    * rewrite ops that re-stamp a partition spec. Escapes the same
    * character set Spark's partitioned writer escapes in directory
    * names, which also keeps the token safe for the tab-separated
    * action grammar (tab/newline are in the control range). */
  private[sources] def escapePart(v: String): String = {
    def needs(c: Char): Boolean =
      c < 0x20 || c == 0x7F || "\"#%'*/:=?\\{[]^".indexOf(c) >= 0
    if (!v.exists(needs)) v
    else v.flatMap(c => if (needs(c)) f"%%${c.toInt}%02X" else c.toString)
  }

  /** A range probe on `colName`: [[read]] filtered to [lo, hi]. The
    * file index plans only the live files whose manifest stats
    * intersect the range — files without stats are kept (cannot skip,
    * stays correct). At 100 TB this is the query-planning step that
    * touches no data file at all. */
  def readPruned(s: SparkSession, t: Table, colName: String,
                 lo: Long, hi: Long, asOf: Option[Long] = None): DataFrame =
    read(s, t, asOf).filter(
      org.apache.spark.sql.functions.col(colName).between(lo, hi))

  /** (files planned, files live) for a probe — the skipping audit. */
  def plannedFiles(t: Table, colName: String, lo: Long,
                   hi: Long): (Int, Int) = {
    val snap = snapshot(t)
    (pruneBox(snap, Seq((colName, lo, hi))).length, snap.liveFiles.length)
  }

  private def stagedFiles(t: Table, stage: Path): Seq[String] =
    // a reserved stage nothing wrote to (e.g. a merge with no insert
    // clause) contributes no files; the walk is recursive so a
    // partitionBy stage's <col>=<val>/ subdirectories are included
    if (!Files.isDirectory(stage)) Nil
    else listing(Files.walk(stage))
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => t.root.relativize(p).toString).sorted

  // ---------------------------------------------------------------
  // Rewrites: OPTIMIZE and row-level DELETE
  // ---------------------------------------------------------------

  /** OPTIMIZE: rewrite the current live files into `targetFiles`
    * compacted ones in one remove+add commit — logically a no-op,
    * physically fewer files ([[rewriteFiles]]). */
  def compact(s: SparkSession, t: Table, targetFiles: Int = 1): Long = {
    val snap = snapshot(t)
    rewriteFiles(s, t, snap, snap.liveFiles, _.coalesce(targetFiles),
      liveStatsCols(snap))
  }

  /** The one compaction body: read the `victims` (through their
    * deletion vectors, so a rewrite materializes the vectors away —
    * dead rows dropped, the remove clears the dv entry), apply
    * `arrange`, restage THROUGH the partition layout (tokens
    * re-emitted — OPTIMIZE must never silently flatten the metadata
    * dropPartition and partition pruning depend on) with (min, max)
    * for `statsCols`, and commit once: the victims removed, the
    * staged files added. The commit carries a `cdc none` marker
    * (dataChange=false), so a change-feed consumer resolves the range
    * FROM THE LOG and never rescans the table. Conflict handling is
    * FILE-GRANULAR: blind appends landing between snapshot and
    * publish commute (the rewrite rebases and retries — steady ingest
    * cannot starve OPTIMIZE), while any concurrent commit that
    * rewrote one of the victims still fails rather than resurrecting
    * its rows. The OPTIMIZE forms differ only in the victims they
    * pick and the arrangement they ask for. Returns the committed
    * version (unchanged when there are no victims). */
  private def rewriteFiles(s: SparkSession, t: Table, snap: Snapshot,
      victims: Seq[String], arrange: DataFrame => DataFrame,
      statsCols: Seq[String]): Long =
    if (victims.isEmpty) snap.version
    else {
      val stage = newStage(t, t.dataDir)
      try {
        val adds = stageAdds(s, t, arrange(readRels(s, t, snap, victims)),
          stage, snap.partCols, statsCols, snap.schemaJson).adds
        commit(t, snap.version, adds = Nil, removes = victims,
          extra = adds ++ noopRewriteLines, reconcileDisjoint = true)
      } finally seal(t, stage)
    }

  /** Incremental OPTIMIZE — the steady-state maintenance shape: only
    * live files SMALLER than `minFileBytes` compact; right-sized
    * files are not touched, so a table compacted hourly rewrites its
    * latest small appends and never the whole history. Victims are
    * found from the MANIFEST's recorded sizes (zero FS calls for
    * files whose add actions carry `size=`; one stat only as the
    * legacy fallback), grouped by partition spec; a partition holding
    * one small file gains nothing and keeps it. The victims rewrite
    * into at most `targetFiles` files per partition in ONE
    * dataChange=false commit ([[rewriteFiles]]); appends landing
    * mid-compaction commute. Returns the committed version (unchanged
    * when there is nothing to do). */
  def compactSmall(s: SparkSession, t: Table, minFileBytes: Long,
                   targetFiles: Int = 1): Long = {
    val snap = snapshot(t)
    val victims = snap.liveFiles
      .filter { rel =>
        // a DV-carrying file is always a victim regardless of size:
        // incremental maintenance is where deletion vectors get
        // materialized away (the full-table OPTIMIZE being the other)
        snap.dvs.contains(rel) || (snap.fileSizes.get(rel) match {
          case Some(n) => n < minFileBytes // manifest-recorded: no stat
          case None => // legacy add without a size token: one stat
            val p = t.root.resolve(rel)
            Files.exists(p) && Files.size(p) < minFileBytes
        })
      }
      .groupBy(rel => snap.filePartitions.getOrElse(rel, Map.empty))
      // a lone small file gains nothing — unless it carries a DV,
      // which the rewrite purges
      .values.filter(g => g.length >= 2 || g.exists(snap.dvs.contains))
      .flatten.toSeq.sorted
    rewriteFiles(s, t, snap, victims, _.coalesce(targetFiles),
      liveStatsCols(snap))
  }

  /** PARTITION-SCOPED OPTIMIZE — `OPTIMIZE t WHERE day = 'd1'`: only
    * live files whose recorded partition values match `spec` (all of
    * its columns) compact, into at most `targetFiles` files per
    * partition, everything else untouched — the maintenance shape a
    * 100 TB table actually runs (compact yesterday's partition; never
    * rewrite the whole table). Spec columns must be partition columns
    * (a data-column WHERE would silently scope nothing — refused
    * loudly); a partition with one file gains nothing and stays; the
    * rest publish in ONE dataChange=false commit ([[rewriteFiles]]).
    * Returns the committed version (unchanged when nothing
    * qualifies). */
  def compactPartition(s: SparkSession, t: Table,
                       spec: Map[String, String],
                       targetFiles: Int = 1): Long = {
    require(spec.nonEmpty, "compactPartition needs a partition spec")
    val snap = snapshot(t)
    val partCols = snap.partCols.toSet
    val bad = spec.keySet.diff(partCols)
    require(bad.isEmpty,
      s"OPTIMIZE WHERE references non-partition column(s): " +
        s"${bad.mkString(", ")} (partition columns: " +
        s"${partCols.mkString(", ")}) — scoped compaction keys on " +
        "the layout")
    val victims = snap.liveFiles
      .filter { rel =>
        val p = snap.filePartitions.getOrElse(rel, Map.empty)
        spec.forall { case (c, v) => p.get(c).contains(v) }
      }
      .groupBy(rel => snap.filePartitions.getOrElse(rel, Map.empty))
      .values.filter(_.length >= 2).flatten.toSeq.sorted
    rewriteFiles(s, t, snap, victims, _.coalesce(targetFiles),
      liveStatsCols(snap))
  }

  /** OPTIMIZE ZORDER BY (colA, colB): [[compact]]'s clustered form —
    * the live set rewrites range-partitioned and sorted on the Morton
    * interleave of the two keys, and the add actions embed recomputed
    * (min, max) for BOTH dimensions (plus whatever the manifest
    * already tracked). Because the z curve keeps both key ranges
    * tight per file, a 2-D box probe prunes files from the MANIFEST
    * alone — the commit log's answer to multi-dimensional data
    * skipping, before any parquet footer is opened. Same
    * dataChange=false / stale-rewrite-refusal contract as compact. */
  def compactZorder(s: SparkSession, t: Table, colA: String,
                    colB: String, targetFiles: Int = 8): Long =
    compactZorderKeys(s, t, Seq(colA, colB), targetFiles)

  /** [[compactZorder]] on 2+ clustering keys — three-column keys
    * (tenant, date, id) are routine; each key gets 62/n interleave
    * bits (round-robin, [[graft.functions.ZOrder.zValueN]]), so an
    * n-dimensional box probe still prunes every dimension from the
    * manifest alone. A partitioned table z-clusters WITHIN its
    * layout. */
  def compactZorderKeys(s: SparkSession, t: Table, keys: Seq[String],
                        targetFiles: Int = 8): Long = {
    import org.apache.spark.sql.functions.col
    require(keys.length >= 2,
      s"zorder needs at least two keys, got ${keys.mkString(", ")}")
    val snap = snapshot(t)
    // zValueN interleaves 62/n bits per key: out-of-range keys alias
    // on the curve (clustering degrades silently). When the manifest
    // already tracks the key columns, validate the range for free —
    // a metadata check, no data read.
    val maxKey = graft.functions.ZOrder.maxKeyExclusive(keys.length)
    for (c <- keys;
         (lo, hi) <- snap.fileStats.values.flatMap(_.get(snap.statsKey(c)))
           .reduceOption((p, q) => (math.min(p._1, q._1),
             math.max(p._2, q._2))))
      require(lo >= 0 && hi < maxKey,
        s"zorder key '$c' has values in [$lo, $hi] outside " +
          s"[0, $maxKey): keys would " +
          "alias on the z curve — rescale the column first")
    val partCols = snap.partCols
    require(!keys.exists(partCols.contains),
      s"zorder keys must be data columns, not partition columns " +
        s"(${partCols.mkString(", ")}) — the layout already clusters " +
        "on those")
    rewriteFiles(s, t, snap, snap.liveFiles,
      _.withColumn("_z", graft.functions.ZOrder.zValueN(keys))
        .repartitionByRange(targetFiles, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z"),
      (liveStatsCols(snap) ++ keys).distinct.sorted)
  }

  /** [[readPruned]] for a conjunction of range predicates — the box
    * probe a z-ordered manifest answers: only files whose stats
    * intersect EVERY range are planned (stats-less files always
    * kept). */
  def readPrunedBox(s: SparkSession, t: Table,
                    preds: Seq[(String, Long, Long)],
                    asOf: Option[Long] = None): DataFrame =
    preds.foldLeft(read(s, t, asOf)) { case (df, (c, lo, hi)) =>
      df.filter(org.apache.spark.sql.functions.col(c).between(lo, hi)) }

  /** (files planned, files live) for a box probe. */
  def plannedFilesBox(t: Table,
                      preds: Seq[(String, Long, Long)]): (Int, Int) = {
    val snap = snapshot(t)
    (pruneBox(snap, preds).length, snap.liveFiles.length)
  }

  /** The stats columns a rewrite should RE-STAMP, by logical name:
    * current columns whose stats key some live file tracks — a
    * column DROPPED leaves orphaned stats triples in old add actions,
    * and aggregating a vanished column over restaged files would
    * fail analysis, bricking every rewrite op. Tables without a
    * registered schema keep all tracked columns. */
  private def liveStatsCols(snap: Snapshot): Seq[String] = {
    val keys = snap.fileStats.values.flatMap(_.keys).toSet
    snap.schemaJson.map(parseSchema(_).fieldNames.toSeq)
      .getOrElse(keys.toSeq).filter(c => keys.contains(snap.statsKey(c)))
      .sorted
  }

  /** The live files whose stats intersect every `(column, lo, hi)`
    * range — [[TxnLogFileIndex.admits]] on the box. */
  private def pruneBox(snap: Snapshot,
                       preds: Seq[(String, Long, Long)]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And,
      AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val box = preds.map { case (c, lo, hi) =>
      val a = AttributeReference(snap.statsKey(c),
        org.apache.spark.sql.types.LongType)()
      And(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi)))
    }
    snap.liveFiles.filter(f => box.forall(
      TxnLogFileIndex.admits(snap.fileStats.getOrElse(f, Map.empty), _)))
  }

  /** Atomic REPLACE (the `mode("overwrite")` path): ONE commit
    * removes every live file and adds the staged rows — readers see
    * the old table or the new one, never a mix; a concurrent append
    * aborts the replace (stale-rewrite refusal) instead of being
    * silently dropped. The change feed stays log-resolved at zero
    * extra cost: the commit references the OLD live files as
    * `cdc delete` and its own new files as `cdc insert` (change
    * files may point at data files; the old ones stay on disk until
    * vacuum, the same horizon as time travel). A replace RESETS the
    * registered schema to `df`'s — the table's new truth — while
    * historical versions keep theirs. On an empty table or a fresh
    * location the replace still claims exactly its slot: a writer
    * that lands first makes it refuse, never vanish under it. */
  def replace(s: SparkSession, t: Table, df: DataFrame,
              partCols0: Seq[String] = Nil): Long = {
    // an overwrite resets the DATA, not a DECLARED layout: the
    // declaration is table identity (bound at CREATE), so an
    // unspecified layout routes through it and a mismatched explicit
    // one refuses — otherwise df.write.mode("overwrite") would
    // silently flatten a PARTITIONED BY table out of its pruning
    // metadata. Observed-only layouts (no declaration) keep the
    // documented reset semantics: overwrite decides the new shape.
    val declared = declaredPartCols(t)
    require(partCols0.isEmpty || declared.isEmpty ||
      declared == partCols0,
      s"table at ${t.root} is declared PARTITIONED BY " +
        s"(${declared.mkString(", ")}); this overwrite partitions by " +
        s"(${partCols0.mkString(", ")}) — stage through the declared " +
        "layout")
    val snap = latestSnapshot(t)
    // constraints are table identity too: one that reads a column the
    // new schema drops could never be evaluated again, so the replace
    // refuses rather than dropping it silently
    snap.foreach { sn =>
      val lost = sn.schemaJson.fold(Seq.empty[String])(
        parseSchema(_).fieldNames.toSeq.filterNot(f =>
          df.columns.exists(_.equalsIgnoreCase(f))))
      val stale = sn.notNull.diff(df.columns.toSet).toSeq.sorted
        .map(c => s"NOT NULL $c") ++
        sn.checks.toSeq.sorted.collect {
          case (n, sql) if checkCols(sql, lost).nonEmpty => s"CHECK $n" }
      require(stale.isEmpty,
        s"replace drops column(s) that constraint(s) " +
          s"${stale.mkString(", ")} reference — drop the constraint(s) " +
          "first (TxnLog.dropConstraint / ALTER TABLE ... DROP CONSTRAINT)")
    }
    // a replace may carry a partition layout forward (the SQL INSERT
    // OVERWRITE / Complete-mode sink contract: no write op silently
    // flattens a partitioned table); the staged files hold the new
    // schema's own names, and no stats are stamped
    overwrite(s, t, snap, Some(df),
      if (partCols0.nonEmpty) partCols0 else declared, statsCols = Nil,
      mapping = None, snap.fold(NoConstraints)(_.constraints),
      header =
        if (snap.exists(_.schemaJson.contains(df.schema.json))) Nil
        else Seq(s"schema\t${df.schema.json}"),
      victims = _ => Some(snap.fold(Seq.empty[String])(_.liveFiles)))
  }

  /** Partition-scoped OVERWRITE — Delta's `replaceWhere` / SQL
    * `INSERT OVERWRITE ... PARTITION (k=v)`: ONE atomic commit that
    * removes exactly the live files recorded under partitions
    * matching `spec` and adds the staged incoming rows. This is the
    * backfill idiom on partitioned tables; the hand-composed
    * DELETE + INSERT alternative is two commits, and a reader
    * between them observes the gap.
    *
    * Contracts (each refuses LOUDLY rather than degrading):
    *  - `spec` columns must be partition columns — a non-partition
    *    filter cannot scope files and would need a row-level rewrite
    *    ([[delete]] + [[append]]);
    *  - every INCOMING row must fall inside the scoped partitions
    *    (Delta's replaceWhere validation) — a row outside would land
    *    data the overwrite never claimed to touch;
    *  - every live file must RECORD values for the spec columns — a
    *    sliver some rewrite flattened out of the partition layout
    *    could hold in-scope rows that would silently survive.
    *
    * CDF stays exact: dv-free victims ride as zero-copy `cdc delete`
    * file refs; a victim carrying a deletion vector stages its LIVE
    * rows as a change file instead (raw refs would re-deliver the
    * dead rows). At 100 TB the commit is metadata plus the new
    * partition's staging — no out-of-scope file is read or written
    * (only dv-carrying in-scope victims are read, for their old
    * images). */
  def replaceWhere(s: SparkSession, t: Table, df: DataFrame,
                   spec: Map[String, String],
                   allowWiden: Boolean = false,
                   snap0: Option[Snapshot] = None): Long = {
    require(spec.nonEmpty, "replaceWhere needs a partition spec")
    val snap = snap0.getOrElse(snapshot(t))
    val partCols = snap.partCols
    val nonPart = spec.keySet -- partCols.toSet
    require(nonPart.isEmpty,
      s"replaceWhere supports partition-column equality only " +
        s"(partition columns: ${partCols.mkString(", ")}); " +
        s"got filter(s) on: ${nonPart.toSeq.sorted.mkString(", ")} — " +
        "use DELETE FROM + INSERT for row-scoped rewrites")
    val blind = snap.liveFiles.filter { rel =>
      val p = snap.filePartitions.getOrElse(rel, Map.empty)
      spec.exists { case (c, _) => !p.contains(c) }
    }
    require(blind.isEmpty,
      s"replaceWhere cannot scope ${blind.length} live file(s) with " +
        s"no recorded values for (${spec.keys.toSeq.sorted.mkString(", ")}) " +
        s"(e.g. ${blind.take(2).mkString(", ")}); compact the table " +
        "back into partition discipline first")
    val missing = spec.keySet -- df.columns.toSet
    require(missing.isEmpty,
      s"replaceWhere input is missing scoped partition column(s): " +
        missing.toSeq.sorted.mkString(", "))
    overwrite(s, t, Some(snap), Some(df), partCols, liveStatsCols(snap),
      snap.schemaJson, snap.constraints,
      schemaHeader(snap, df.schema, allowWiden),
      victims = adds => {
        // Delta's scope validation, on the STAGED OUTPUT rather than a
        // separate pass over the input plan — a nondeterministic
        // source could satisfy a pre-staging check and then stage
        // DIFFERENT rows; the staged partition tokens are what will
        // actually commit, and checking them costs zero extra jobs
        val strays = adds.flatMap { line =>
          val toks = addLineParts(line)
          spec.collectFirst { case (c, v) if !toks.get(c).contains(v) =>
            s"$c=${toks.getOrElse(c, "<none>")}"
          }
        }
        require(strays.isEmpty,
          s"replaceWhere(${spec.map { case (c, v) => s"$c=$v" }
            .mkString(", ")}) received row(s) outside the scoped " +
            s"partition(s): ${strays.distinct.take(3).mkString(", ")}")
        Some(snap.liveFiles.filter { rel =>
          val p = snap.filePartitions.getOrElse(rel, Map.empty)
          spec.forall { case (c, v) => p.get(c).contains(v) }
        })
      })
  }

  /** DYNAMIC partition overwrite — `writeTo(t).overwritePartitions()`
    * / `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`: ONE
    * atomic commit replaces exactly the partitions PRESENT IN THE
    * INCOMING DATA (resolved from the staged partition tokens — the
    * rows that will actually commit) and leaves every other partition
    * untouched — the daily-ETL re-run idiom, [[replaceWhere]]'s
    * data-driven sibling. Shares its contracts: layout-blind live
    * files refuse (they could hold replaced-partition rows that would
    * silently survive), dv-carrying victims stage live old images,
    * an all-new-partitions write is a plain insert wave, and the
    * commit claims its slot so a racing insert into a replaced
    * partition refuses. An EMPTY input replaces nothing (Spark's
    * dynamic-mode contract) and commits nothing. */
  def replaceDynamic(s: SparkSession, t: Table, df: DataFrame,
                     allowWiden: Boolean = false): Long = {
    val snap = snapshot(t)
    val partCols = snap.partCols
    require(partCols.nonEmpty,
      s"dynamic partition overwrite needs a partitioned table " +
        s"(${t.root} has no partition layout); use a whole-table " +
        "overwrite instead")
    val blind = snap.liveFiles.filter { rel =>
      val p = snap.filePartitions.getOrElse(rel, Map.empty)
      partCols.exists(!p.contains(_))
    }
    require(blind.isEmpty,
      s"dynamic partition overwrite cannot scope ${blind.length} " +
        s"live file(s) with no recorded values for " +
        s"(${partCols.mkString(", ")}) " +
        s"(e.g. ${blind.take(2).mkString(", ")}); compact the table " +
        "back into partition discipline first")
    overwrite(s, t, Some(snap), Some(df), partCols, liveStatsCols(snap),
      snap.schemaJson, snap.constraints,
      schemaHeader(snap, df.schema, allowWiden),
      victims = adds =>
        if (adds.isEmpty) None // empty input: no-op
        else {
          val stagedSpecs: Set[Map[String, String]] = adds.map { l =>
            val toks = addLineParts(l)
            partCols.map(c => c -> toks.getOrElse(c,
              throw new IllegalStateException(
                s"staged file missing partition token for $c"))).toMap
          }.toSet
          Some(snap.liveFiles.filter { rel =>
            val p = snap.filePartitions.getOrElse(rel, Map.empty)
            stagedSpecs.contains(partCols.map(c => c -> p(c)).toMap)
          })
        })
  }

  /** SHALLOW CLONE — a ZERO-COPY table fork (Delta's CLONE, the
    * dev/test-against-prod and migration idiom): the clone's version
    * 0 REFERENCES the source's live data files by absolute path
    * (partition tokens, sizes, stats, deletion vectors and sidecar
    * refs carried), along with the source's schema, declared layout,
    * properties and constraints at the cloned version — no data
    * byte moves. From there the two tables DIVERGE independently:
    * writes to the clone stage under the clone's root, rewrites
    * retire absolute refs for local files, compaction localizes
    * whole partitions, time travel on the clone sees v0 as the
    * clone point.
    *
    * Vacuum safety matrix: the CLONE's vacuum can never delete
    * source files — candidates are walked under the clone's own
    * data/_dv trees, which the absolute refs are not in (by
    * construction, spec-pinned). The SOURCE's vacuum knows nothing
    * of clones (no back-references — Delta's documented contract):
    * source-LIVE files are never vacuum candidates, so a clone of
    * the source's current state stays readable as long as those
    * files stay live; once the SOURCE removes a file (DML/compact/
    * replace), its grace window starts, and a clone still
    * referencing it must either localize (OPTIMIZE the clone) or
    * accept the source's vacuum horizon — the same trade Delta
    * documents for shallow clones. */
  def shallowClone(src: Table, dst: Table,
                   asOf: Option[Long] = None): Snapshot = {
    require(src.root.toAbsolutePath.normalize !=
      dst.root.toAbsolutePath.normalize,
      s"cannot clone ${src.root} onto itself")
    require(latestVersion(dst) < 0,
      s"cannot clone into ${dst.root}: the location already holds a " +
        s"table (version ${latestVersion(dst)}) — DROP it or choose " +
        "an empty location")
    // ONE replay serves everything (the snapshot carries the
    // tombstone set, and the caller reuses the returned snapshot for
    // its catalog entry — no re-replay of a log this call just wrote)
    val snap = snapshot(src, asOf)
    def absOf(rel: String): String =
      src.root.resolve(rel).toAbsolutePath.normalize.toString
    val addLines = snap.liveFiles.map { rel =>
      val pTok = snap.filePartitions.getOrElse(rel, Map.empty)
        .toSeq.sortBy(_._1)
        .map { case (c, v) => s"part=${escapePart(c)}=${escapePart(v)}" }
      val zTok = snap.fileSizes.get(rel).map(n => s"size=$n").toSeq
      val sTok = snap.fileStats.getOrElse(rel, Map.empty).toSeq
        .sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }
      (s"add\t${absOf(rel)}" +: (pTok ++ zTok ++ sTok)).mkString("\t")
    }
    // dv tokens re-key onto the absolute file refs; SIDECAR refs go
    // absolute too (they stay under the source's _dv/, where the
    // clone's vacuum cannot reach)
    val dvLines = snap.dvs.toSeq.sortBy(_._1).map { case (rel, enc) =>
      val tok =
        if (enc.startsWith("@")) "@" + absOf(enc.substring(1))
        else enc
      s"dv\t${absOf(rel)}\t$tok"
    }
    val lines =
      (if (snap.minReader > 1L) Seq(s"protocol\t${snap.minReader}")
       else Nil) ++
      snap.schemaJson.map(js => s"schema\t$js").toSeq ++
      // the clone's v0 DECLARES the source's full layout (declared ++
      // observed): the fork's definition pins what the source lived
      // by, so every later writer stages through it
      (if (snap.partCols.isEmpty) Nil
       else Seq("partcols\t" +
         snap.partCols.map(escapePart).mkString(","))) ++
      snap.properties.toSeq.sortBy(_._1).map { case (k, v) =>
        s"property\t$k\t${escapePart(v)}" } ++
      snap.notNull.toSeq.sorted.map(c => s"constraint\tnotnull\t$c") ++
      snap.checks.toSeq.sortBy(_._1).map { case (n, e) =>
        s"constraint\tcheck\t$n\t${escapePart(e)}" } ++
      // DROP COLUMN tombstones ride too: the clone's absolute-ref
      // pre-drop files still hold the dropped columns' bytes, so the
      // resurrection guard must survive the fork
      snap.dropped.toSeq.sorted.map(ph => s"dropped\t$ph") ++
      addLines ++ dvLines
    if (!tryPublish(dst, 0L, lines))
      throw new java.util.ConcurrentModificationException(
        s"a concurrent writer defined the table at ${dst.root} first")
    snap
  }

  /** CREATE OR REPLACE TABLE's log half — ONE atomic commit that
    * redefines the table: every live file removed, the NEW schema /
    * declared layout / properties registered, old constraints
    * dropped (a replace defines the table fresh), and the optional
    * CTAS data staged in — readers see the old table or the new one,
    * never a mix, and DESCRIBE HISTORY retains everything below so
    * RESTORE can cross the replace. On an empty location the same
    * call IS the create (claims version 0; a lost claim means a
    * concurrent writer defined the table first and refuses loudly —
    * the OR REPLACE contract is redefine-atomically, never merge).
    * A checkpoint lands immediately after: the DECLARED layout is a
    * v0/checkpoint header read ([[declaredPartCols]]), so a mid-log
    * layout change must republish the header or every later writer
    * would route through the replaced layout. CDF mirrors
    * [[replace]]: old files ride as zero-copy `cdc delete` refs, the
    * staged files as `cdc insert`. */
  def replaceDefinition(s: SparkSession, t: Table, schema: StructType,
                        partCols: Seq[String],
                        props: Map[String, String],
                        data: Option[DataFrame]): Long = {
    val unknown = partCols.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"PARTITIONED BY names column(s) not in the schema: " +
        unknown.mkString(", "))
    props.keys.foreach(k => require(
      k.nonEmpty && !k.exists(c => c == '\t' || c == '\n'),
      s"bad property key: '$k'"))
    val snap = latestSnapshot(t)
    val oldProps = snap.map(_.properties).getOrElse(Map.empty)
    // the partcols line is ALWAYS emitted (empty clears a previous
    // declaration) — the layout is part of the definition
    val header =
      (if (schema.fields.exists(_.metadata.contains(ExistsDefaultKey)))
        Seq(ProtocolV4Line)
       else Nil) ++
      Seq(s"schema\t${schema.json}",
        "partcols\t" + partCols.map(escapePart).mkString(",")) ++
      // the old definition is fully superseded: no live file holds
      // a dropped column's bytes anymore, so the tombstones lift —
      // a post-replace ADD COLUMNS of a once-dropped name is safe
      (if (snap.isEmpty) Nil else Seq("cleardropped")) ++
      oldProps.keySet.diff(props.keySet).toSeq.sorted
        .map(k => s"unsetproperty\t$k") ++
      props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"property\t$k\t${escapePart(v)}" } ++
      snap.toSeq.flatMap(sn =>
        sn.notNull.toSeq.sorted.map(c => s"dropconstraint\tnotnull\t$c") ++
        sn.checks.keys.toSeq.sorted.map(n => s"dropconstraint\tcheck\t$n"))
    // the staged data routes through the NEW layout and the NEW
    // schema (a replace has no mapping/constraints to honor — it
    // defines them)
    val v = overwrite(s, t, snap, data, partCols, statsCols = Nil,
      mapping = None, NoConstraints, header,
      victims = _ => Some(snap.fold(Seq.empty[String])(_.liveFiles)))
    checkpoint(t, v) // republish the header: see scaladoc
    v
  }

  /** ARBITRARY-PREDICATE overwrite — Delta ≥1.1's general
    * `replaceWhere`: ONE atomic commit that deletes every live row
    * matching `pred` and inserts the staged incoming rows, where the
    * hand-composed DELETE + INSERT is two commits with a
    * reader-visible gap. The partition-equality form keeps its
    * metadata-only fast path ([[replaceWhere]] — no data file read);
    * this general form is [[delete]]'s copy-on-write rewrite
    * ([[rewriteRows]]: stats-pruned locate, only files that CONTAIN
    * matching rows rewrite) with the incoming rows as its new rows.
    *
    * Contracts: every INCOMING row must satisfy `pred` — validated
    * on the STAGED OUTPUT (a nondeterministic source cannot sneak
    * rows past a pre-staging check), refusing loudly. Survivor rows
    * of touched files restage through the partition layout; CDF
    * stays exact (matched rows ride as `cdc delete` change files,
    * the staged adds as `cdc insert` refs — or, when nothing
    * matched, the commit is [[overwrite]]'s plain insert wave). The
    * commit CLAIMS its slot: a concurrent writer landing rows in the
    * predicate's scope must refuse, not silently survive — the same
    * strictness as the partition-scoped form. At 100 TB: untouched
    * files are never read; the locate opens only the stats-pruned
    * candidate sliver. */
  def replaceWhereExpr(s: SparkSession, t: Table, df: DataFrame,
                       pred: Column,
                       snap0: Option[Snapshot] = None,
                       allowWiden: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val snap = snap0.getOrElse(snapshot(t))
    val header = schemaHeader(snap, df.schema, allowWiden)
    val cond = coalesce(pred, lit(false))
    def inScope(st: Staged): Unit = if (st.adds.nonEmpty) {
      val stray = readStaged(s, st).filter(not(cond)).limit(1).collect()
      require(stray.isEmpty,
        s"replaceWhere received row(s) outside the predicate's " +
          s"scope, e.g.: ${stray.headOption.getOrElse("")} — every " +
          "incoming row must satisfy the replaceWhere condition")
    }
    rewriteRows(s, t, snap, dmlCandidates(snap, pred),
      touched = _.filter(cond), kept = _.filter(not(cond)),
      newRows = Some(_ => df), dvCaps = None, schemaLines = header,
      claim = true, admit = inScope).getOrElse(
      overwrite(s, t, Some(snap), Some(df), snap.partCols,
        liveStatsCols(snap), snap.schemaJson, snap.constraints, header,
        victims = adds => if (adds.isEmpty) None else Some(Nil),
        admit = inScope))
  }

  /** Partition tokens of a decorated add line, DECODED (the form
    * replay state holds). */
  private def addLineParts(line: String): Map[String, String] =
    line.split('\t').drop(2).filter(_.startsWith("part="))
      .flatMap(_.stripPrefix("part=").split("=", 2) match {
        case Array(c, v) => Some(unescapePart(c) -> unescapePart(v))
        case _           => None
      }).toMap

  /** The schema lines a scoped overwrite commits: the incoming shape
    * must merge against the registered schema — an unknown column
    * would otherwise land in the files but never register (silently
    * dropped by every pinned read), and a wider type would poison
    * pinned-narrow scans; additive columns register in the SAME
    * commit, widening needs the mergeSchema opt-in like every other
    * write. */
  private def schemaHeader(snap: Snapshot, incoming: StructType,
      allowWiden: Boolean): Seq[String] = {
    val (merged, changed, widened) =
      mergedSchema(Some(snap), incoming, allowWiden)
    (if (widened) Seq(ProtocolV2Line) else Nil) ++
      (if (changed) Seq(s"schema\t${merged.json}") else Nil)
  }

  /** The one staged-replace transaction behind every file-scoped
    * overwrite — [[replace]], [[replaceWhere]], [[replaceDynamic]],
    * [[replaceDefinition]], and [[replaceWhereExpr]] when its
    * predicate matches no row. Delta's overwrite shape: stage the
    * incoming rows, choose the files they replace, commit adds and
    * removes together; only the choice differs per form. The caller
    * passes the statement's snapshot (None on a fresh location), the
    * incoming frame with its staging arguments (layout, stats
    * columns, the schema whose column mapping the files follow), the
    * constraints the staged rows must satisfy, the `header` lines
    * (schema, layout, properties; evaluated after the checks) and
    * the `victims` rule: from the staged add lines, the live files
    * the overwrite removes — or None to commit nothing. `admit` may
    * refuse the staged rows before anything commits.
    *
    * The change feed is exact: a vector-free victim rides a zero-copy
    * `cdc delete` reference; a victim carrying a deletion vector
    * stages its LIVE rows as a change file instead (a raw reference
    * would re-deliver its dead rows). The staged files become `cdc
    * insert` references only when there are victims: an insert-only
    * commit's adds auto-count in the feed, and references would
    * deliver every row twice. The commit claims exactly base+1
    * (forceClaim): even with zero victims, a concurrent insert into
    * the replaced scope must refuse, not silently survive. */
  private def overwrite(s: SparkSession, t: Table, snap: Option[Snapshot],
      data: Option[DataFrame], partCols: Seq[String],
      statsCols: Seq[String], mapping: Option[String],
      constraints: Constraints, header: => Seq[String],
      victims: Seq[String] => Option[Seq[String]],
      admit: Staged => Unit = _ => ()): Long = {
    val base = snap.fold(-1L)(_.version)
    val stage = newStage(t, t.dataDir)
    val cdcStage = newStage(t, t.cdcDir)
    try {
      val staged = data.map(stageAdds(s, t, _, stage, partCols,
        statsCols, mapping))
      val adds = staged.toSeq.flatMap(_.adds)
      victims(adds).fold(base) { removes =>
        staged.foreach { st =>
          admit(st)
          enforceStaged(s, t, st, constraints)
        }
        val head = header
        val cdc = snap match {
          case Some(sn) if removes.nonEmpty =>
            val (dvVictims, plain) = removes.partition(sn.dvs.contains)
            if (dvVictims.nonEmpty)
              toPhysical(readRels(s, t, sn, dvVictims),
                sn.schemaJson.map(parseSchema)).write.parquet(cdcStage.toString)
            (plain ++ stagedFiles(t, cdcStage)).map(r => s"cdc\t$r\tdelete") ++
              adds.map(a => s"cdc\t${a.split('\t')(1)}\tinsert")
          case _ => Nil
        }
        commit(t, base, adds = Nil, removes = removes,
          extra = head ++ adds ++ cdc, forceClaim = true)
      }
    } finally seal(t, stage, cdcStage)
  }

  /** The manifest box a DML predicate implies: its top-level AND
    * conjuncts of the shape `col <op> <integral literal>` become
    * min/max ranges (`pruneBox` keeps stats-less files, so an
    * untracked column simply never prunes). Everything else — OR
    * branches, arithmetic, functions — contributes no range, which
    * degrades to the full locating scan, never to a wrong answer. */
  private def dmlBox(pred: Column): Seq[(String, Long, Long)] =
    org.apache.spark.sql.graftshim.Shim.comparisonConjuncts(pred).flatMap {
      case (c, "=", v)  => Some((c, v, v))
      case (c, "<=", v) => Some((c, Long.MinValue, v))
      case (c, ">=", v) => Some((c, v, Long.MaxValue))
      case (c, "<", v) if v != Long.MinValue =>
        Some((c, Long.MinValue, v - 1))
      case (c, ">", v) if v != Long.MaxValue =>
        Some((c, v + 1, Long.MaxValue))
      case _ => None
    }

  /** The live files a predicate statement's locating scan opens:
    * those its [[dmlBox]] keeps (every live file when the predicate
    * implies no box). */
  private def dmlCandidates(snap: Snapshot, pred: Column): Seq[String] = {
    val box = dmlBox(pred)
    if (box.isEmpty) snap.liveFiles else pruneBox(snap, box)
  }

  /** (candidate files the DML locating scan would open, files live)
    * for `predicate` — the stats-pruned DML audit, data-free. */
  def plannedFilesDml(t: Table, predicate: Column): (Int, Int) = {
    val snap = snapshot(t)
    (dmlCandidates(snap, predicate).length, snap.liveFiles.length)
  }

  /** Run a statement's INDEPENDENT staging writes concurrently
    * (guide §2.6 — overlap independent jobs): each thunk is a
    * self-contained write into its own stage dir, and these are all
    * small sliver-scale jobs whose wall time is stage latency, not
    * throughput, so overlapping them back-fills the executor slots a
    * single write leaves idle (the Bench `_staging_tables` pool
    * precedent). Results come back in input order; a failure
    * rethrows the ORIGINAL builder exception, so refusal semantics
    * (constraints, scope probes) are unchanged. Spark job submission
    * is thread-safe and job descriptions are thread-local
    * (inherited), per the guide. When one thunk fails, its siblings
    * are interrupted and awaited, and the Spark jobs they started are
    * cancelled, before the failure rethrows: the caller's seal() must
    * not remove a stage's .inflight marker while a sibling still
    * writes into it. At most 8 thunks run at once (the widest wave any
    * caller stages today: 8 skipping slices; DML stages at most 3),
    * so an N-slice append does not start N threads; the rest queue. */
  private[graft] def stagedPar[A](s: SparkSession,
      thunks: Seq[() => A]): Seq[A] = {
    if (thunks.length <= 1) return thunks.map(_())
    val tag = s"graft-staged-${UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.length, 8))
    try {
      val futs = thunks.map(th => pool.submit(
        new java.util.concurrent.Callable[A] {
          def call(): A = { s.sparkContext.addJobTag(tag); th() }
        }))
      futs.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    } catch { case e: Throwable =>
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue,
        java.util.concurrent.TimeUnit.NANOSECONDS)
      // every thread has stopped, so no tagged job starts after this;
      // an interrupted thread leaves the job it waited on running
      s.sparkContext.cancelJobsWithTag(tag)
      throw e
    } finally pool.shutdown()
  }

  /** A table stage [[stageAdds]] wrote: its directory, its add-action
    * lines, and what [[readStaged]] needs to read its rows back — the
    * staged frame's (logical) schema, the partition columns it was
    * laid out by, and each column's name in the files. */
  private final case class Staged(dir: Path, adds: Seq[String],
      schema: StructType, partCols: Seq[String],
      physical: Map[String, String])

  /** Stage `df` under `stage` and return it with its add-action
    * lines, THROUGH the partition layout when `partCols` is nonempty
    * — the one writer of table stages (appends, overwrites,
    * compaction, row-level rewrites), so no write op can silently
    * flatten files out of partition discipline. The files hold the
    * physical names of `schemaJson`'s column mapping, and the stats
    * of `statsCols` are keyed by them. Partitioned stats drop the
    * partition columns (they are not in the data files). */
  private def stageAdds(s: SparkSession, t: Table, df: DataFrame,
      stage: Path, partCols: Seq[String],
      statsCols: Seq[String],
      schemaJson: Option[String] = None): Staged = {
    // the files hold PHYSICAL names (no-op without a mapping);
    // partition columns never map, so partitionBy stays logical
    val out = toPhysical(df, schemaJson.map(parseSchema))
    val physical = df.columns.zip(out.columns).toMap
    val keys = statsCols.map(c => physical.getOrElse(c, c))
    val adds =
      if (partCols.isEmpty) {
        out.write.parquet(stage.toString)
        addLinesFor(s, t, stage, keys)
      } else {
        out.write.partitionBy(partCols: _*).parquet(stage.toString)
        partitionedAddLines(s, t, stage, keys.filterNot(partCols.contains))
      }
    Staged(stage, adds, df.schema, partCols, physical)
  }

  /** Read a [[Staged]] stage back as the rows it holds, under logical
    * names: data columns with the types they were written with,
    * partition columns read as their directory tokens (STRING) and
    * cast to their written type — the type the commit registers.
    * Spark's partition-type INFERENCE would otherwise read a STRING
    * token that looks numeric ("0013") as an integer, so a CHECK or a
    * scope predicate would see 13. The explicit read schema touches
    * no session state and needs no footer read. */
  private def readStaged(s: SparkSession, st: Staged): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField}
    val (part, data) = st.schema.fields.partition(f =>
      st.partCols.contains(f.name))
    val raw = s.read.schema(StructType(
      data.map(f => StructField(st.physical(f.name), f.dataType)) ++
      part.map(f => StructField(f.name, StringType))))
      .parquet(st.dir.toString)
    raw.select((data.map(f => col(st.physical(f.name)).as(f.name)) ++
      part.map(f => col(f.name).cast(f.dataType).as(f.name))).toIndexedSeq: _*)
  }

  /** Map input_file_name URIs back to the snapshot's relative live
    * paths — the rewrite ops' touched-file resolution. */
  private def relsOf(t: Table, snap: Snapshot,
                     uris: Seq[String]): Seq[String] = {
    val byAbs = snap.liveFiles
      .map(rel => t.root.resolve(rel).normalize.toString -> rel).toMap
    uris.map(u => java.nio.file.Paths.get(
        new java.net.URI(u).getPath).normalize.toString)
      .flatMap(byAbs.get).sorted
  }

  /** Row-level DELETE: remove every row matching `predicate` in one
    * rewrite commit. Only files that actually CONTAIN matching rows
    * are rewritten (located with one file-count-scale distinct over
    * input_file_name — at 100 TB a selective delete touches a sliver
    * of the table); survivors restage with their stats recomputed,
    * and the deleted rows are WRITTEN OUT as change files referenced
    * by `cdc <relpath> delete` actions in the same atomic commit —
    * the Delta CDF contract that lets [[changes]] resolve any
    * remove-bearing range from the log instead of diffing two full
    * snapshots. A predicate that evaluates to NULL on a row (a null
    * operand) deletes NOTHING for that row — SQL DELETE's "condition
    * is true" contract — so the split is on `coalesce(pred, false)`
    * and such rows survive instead of silently vanishing from both
    * sides of the rewrite. `alias` names the table frame for
    * qualified predicate references (the SQL `DELETE FROM t x` form;
    * qualified predicates skip manifest box pruning but stay
    * correct). Returns the committed version (the current one when
    * nothing matched). */
  def delete(s: SparkSession, t: Table, predicate: Column,
             alias: Option[String] = None,
             snap0: Option[Snapshot] = None): Long =
    rewriteWhere(s, t, predicate, None, alias, snap0, dvCaps = None)

  /** Row-level UPDATE: rewrite every row matching `predicate` with
    * the `set` assignments applied (unlisted columns keep their
    * values; assignment expressions may reference any table column
    * and cast back to the column's type — parquet schema stability
    * over arbitrary SET expressions). Same plan shape as [[delete]]
    * — stats-pruned locate, only files that CONTAIN matching rows
    * rewrite — and survivors and new images restage THROUGH the
    * partition layout (updating a partition column moves the row to
    * its new partition directory). The change feed carries old
    * images as `cdc delete` change files plus the new-image data
    * files as `cdc insert` — the (delete old, insert new) event pair
    * [[changes]] resolves from the log, exactly a self-merge's CDF
    * without the self-join a merge would pay. A predicate that
    * evaluates to NULL updates NOTHING for that row (SQL's
    * "condition is true" contract — `coalesce(pred, false)`).
    * `alias` names the table frame for qualified references in the
    * predicate/SET expressions (the SQL `UPDATE t x SET …` form).
    * Returns the committed version (unchanged when nothing
    * matched). */
  def update(s: SparkSession, t: Table, set: Map[String, Column],
             predicate: Column, alias: Option[String] = None,
             snap0: Option[Snapshot] = None): Long =
    rewriteWhere(s, t, predicate, Some(set), alias, snap0, dvCaps = None)

  /** Merge-on-read DELETE — the deletion-vector path: files whose
    * matching rows number at most `maxDvRowsPerFile` are NOT
    * rewritten; the commit stamps a `dv` action listing their dead
    * row indices and readers anti-filter them in-scan
    * ([[dvAware]] — one broadcast interval anti-join on Spark's own
    * `_metadata.row_index`, zero cost for DV-free files). Files
    * above the threshold fall back to [[delete]]'s copy-on-write
    * rewrite in the SAME atomic commit, Delta's own DV sizing
    * policy: at 100 TB a one-row delete against a 1 GB file commits
    * without rewriting a byte of data, while a delete-most-rows file
    * rewrites once instead of carrying a near-full vector forever.
    * The change feed keeps its contract — deleted rows are written
    * out as `cdc delete` change files — so [[changes]], CDF streams
    * and `table_changes` resolve DV commits from the log like any
    * other row-level DML. A repeated delete never re-deletes: the
    * locating scan reads THROUGH existing vectors. OPTIMIZE /
    * compactSmall materialize vectors away (the rewrite drops dead
    * rows; the remove clears the dv entry). Snapshot-dependent like
    * every rewrite: a concurrent commit refuses with
    * ConcurrentModificationException rather than losing the delete.
    * Returns the committed version (unchanged when nothing matched). */
  def deleteDv(s: SparkSession, t: Table, predicate: Column,
               alias: Option[String] = None,
               maxDvRowsPerFile: Long = DefaultDvRowCap,
               snap0: Option[Snapshot] = None,
               maxDvBytesPerFile: Long = DefaultDvByteCap): Long =
    rewriteWhere(s, t, predicate, None, alias, snap0,
      Some((maxDvRowsPerFile, maxDvBytesPerFile)))

  /** Merge-on-read UPDATE: the matched rows' OLD positions go dead
    * via deletion vectors (or a copy-on-write rewrite above the
    * per-file threshold, like [[deleteDv]]) and the NEW images append
    * as fresh data files in the same atomic commit — a one-row
    * update stops rewriting its 1 GB neighbor file. CDF shape is the
    * standard (delete old image, insert new image) pair; constraints
    * enforce on the staged new images with the atomic refusal. */
  def updateDv(s: SparkSession, t: Table, set: Map[String, Column],
               predicate: Column, alias: Option[String] = None,
               maxDvRowsPerFile: Long = DefaultDvRowCap,
               snap0: Option[Snapshot] = None,
               maxDvBytesPerFile: Long = DefaultDvByteCap): Long =
    rewriteWhere(s, t, predicate, Some(set), alias, snap0,
      Some((maxDvRowsPerFile, maxDvBytesPerFile)))

  /** Default per-file light-vector thresholds for merge-on-read DML
    * (rows dead per statement; bytes of the MERGED encoded vector) —
    * past either, the file rewrites copy-on-write. */
  private val DefaultDvRowCap = 100000L
  private val DefaultDvByteCap = 65536L

  /** How row-level DML on the table at `snap` retires old rows: the
    * default deletion-vector caps when its `graft.enableDeletionVectors`
    * property is true, else None (copy-on-write). The one place that
    * decides — SQL DELETE, UPDATE and MERGE and the streaming upsert
    * sink all ask here, with the statement's own snapshot (no second
    * log replay). */
  private[sources] def dvCapsOf(snap: Snapshot): Option[(Long, Long)] =
    if (snap.properties.get("graft.enableDeletionVectors")
        .exists(_.equalsIgnoreCase("true")))
      Some((DefaultDvRowCap, DefaultDvByteCap))
    else None

  /** DELETE (`set` None) and UPDATE by predicate, either retirement
    * mode: the split is `coalesce(predicate, false)` over the files
    * the predicate's manifest box keeps ([[dmlBox]]; untranslatable
    * predicates open every live file). SET targets are checked
    * against the registered schema BEFORE the no-match return — a
    * typo'd column must fail on an empty partition too, not only once
    * rows happen to match (migration scripts dry-run empty). The
    * alias (if any) sits ON TOP of each frame, so both bare and
    * alias-qualified references resolve in the predicate and the SET
    * right-hand sides. */
  private[sources] def rewriteWhere(s: SparkSession, t: Table,
      predicate: Column, set: Option[Map[String, Column]],
      alias: Option[String], snap0: Option[Snapshot],
      dvCaps: Option[(Long, Long)]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(set.forall(_.nonEmpty), "UPDATE needs at least one SET assignment")
    val snap = snap0.getOrElse(snapshot(t))
    def checkTargets(have: Seq[String]): Unit = set.foreach { m =>
      val bad = m.keySet.diff(have.toSet)
      require(bad.isEmpty,
        s"UPDATE SET targets unknown column(s): ${bad.mkString(", ")}")
    }
    snap.schemaJson.foreach(js => checkTargets(parseSchema(js).fieldNames))
    val cond = coalesce(predicate, lit(false))
    def al(df: DataFrame): DataFrame = alias.map(df.as(_)).getOrElse(df)
    rewriteRows(s, t, snap, dmlCandidates(snap, predicate),
      touched = df => al(df).filter(cond),
      kept = df => al(df).filter(not(cond)),
      newRows = set.map(m => (old: DataFrame) => {
        checkTargets(old.columns)
        old.select(old.columns.toSeq.map(c =>
          m.get(c).map(_.cast(old.schema(c).dataType).as(c))
            .getOrElse(col(c))): _*)
      }),
      dvCaps).getOrElse(snap.version)
  }

  /** ONE locating job for DV writers: per-file dead sets come back
    * as RUN-LENGTH RANGES compressed map-side — input (file, index)
    * pairs that arrive ascending per file within a partition (a
    * scan's natural order) fold into few runs. The driver never holds
    * row-scale state: each partition caps what it emits per file
    * (ranges AND rows) at the light-file thresholds and signals
    * overflow with a (-1, -1) sentinel — a file past either cap is
    * heavy (copy-on-write) and needs no exact dead set at all.
    * Out-of-order input (a join's) gives the same vectors: it only
    * splits runs, which the per-file range merge rejoins, and since
    * every range holds a row, a range overflow is a row overflow
    * whatever the order. */
  private def runLengthDeadSets(
      ds: org.apache.spark.sql.Dataset[(String, Long)],
      capRanges: Long, maxRows: Long): Array[(String, Long, Long)] =
    ds.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long)]
      val nRanges = scala.collection.mutable.Map.empty[String, Long]
      val nRows = scala.collection.mutable.Map.empty[String, Long]
      val over = scala.collection.mutable.Set.empty[String]
      var fp: String = null
      var lo = -1L
      var hi = -1L
      def close(): Unit = if (fp != null) {
        if (!over(fp)) {
          val nr = nRanges.getOrElse(fp, 0L) + 1L
          val nw = nRows.getOrElse(fp, 0L) + (hi - lo + 1L)
          if (nr > capRanges || nw > maxRows) {
            over += fp
            out += ((fp, -1L, -1L))
          } else {
            nRanges(fp) = nr
            nRows(fp) = nw
            out += ((fp, lo, hi))
          }
        }
        fp = null
      }
      it.foreach { case (f, i) =>
        if (f == fp && i == hi + 1L) hi = i
        else { close(); fp = f; lo = i; hi = i }
      }
      close()
      out.iterator
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)).collect()

  /** Route a statement's touched row `positions` (`_g_fp`, `_g_ri`
    * over files in `rels`) into LIGHT vectors and HEAVY files — the
    * ONE routing decision every deletion-vector writer shares
    * (through [[rewriteRows]]), so the cap semantics can never
    * silently diverge. The positions fold into per-file runs in one
    * job ([[runLengthDeadSets]]; ranges per file are bounded by the
    * row cap, each range holding at least one row). Per-partition
    * overflow sentinels (past the ROW cap) are heavy outright; each
    * surviving file's statement ranges merge with its EXISTING vector
    * and ride INLINE when the merged encoding fits the byte cap — past
    * it the vector lands as a SIDECAR file ([[writeDvSidecar]])
    * referenced by an `@<rel>` token, so an adversarial scattered
    * delete stamps a ~50-byte reference instead of either a megabyte
    * log line or a full copy-on-write rewrite of the data file. Only
    * the row cap routes copy-on-write: it bounds the READ-side
    * anti-join work per file, which a sidecar would not. Returns (dv
    * action lines, heavy relative paths, sorted). */
  private def dvLightHeavy(t: Table, snap: Snapshot, positions: DataFrame,
      rels: Seq[String], caps: (Long, Long)): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.col
    val (rowCap, byteCap) = caps
    val relOfAbs = rels.map(r => encodedAbs(t, r) -> r).toMap
    val byFile = runLengthDeadSets(
      positions.select(col("_g_fp"), col("_g_ri")).as[(String, Long)](
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong)),
      math.max(16L, rowCap), rowCap).groupBy(_._1)
    val overflow = byFile.collect {
      case (f, rs) if rs.exists(_._2 < 0L) => f }.toSet
    val stmtRanges: Map[String, Seq[(Long, Long)]] =
      (byFile -- overflow).map { case (f, rs) =>
        f -> mergeRanges(rs.map { case (_, l, h) => (l, h) }.toSeq)
      }
    def stmtRows(abs: String): Long =
      stmtRanges(abs).map { case (l, h) => h - l + 1L }.sum
    // the statement-row check comes BEFORE the merged encoding: a
    // statement touching thousands of already-heavy files must not
    // pay the encode work it immediately discards for them
    val (rowLight, rowHeavy0) =
      stmtRanges.keys.toSeq.sorted.partition(stmtRows(_) <= rowCap)
    val heavyExtra = scala.collection.mutable.ArrayBuffer.empty[String]
    // Left = inline token; Right = over-byte-cap encoding whose
    // sidecar is written BELOW in one batched pass — per-file writes
    // here would serialize thousands of driver IO round-trips on a
    // many-file scattered statement
    val resolved: Seq[(String, Either[String, String])] =
      rowLight.flatMap { abs =>
        val ranges = mergeRanges(
          snap.dvs.get(relOfAbs(abs)).map(dvRanges(t, _))
            .getOrElse(Nil) ++ stmtRanges(abs))
        // the row cap bounds the MERGED vector, not just this
        // statement's slice: trickle deletes ACCUMULATE per file, and
        // an unbounded merged vector is unbounded read-side anti-join
        // work on every later scan — past the cap the file rewrites
        // copy-on-write once, materializing the whole vector away
        if (ranges.map { case (l, h) => h - l + 1L }.sum > rowCap) {
          heavyExtra += abs
          None
        } else {
          val merged = encodeRanges(ranges)
          Some(abs ->
            (if (merged.length <= byteCap) Left(merged)
             else Right(merged)))
        }
      }
    val sidecarRels = writeDvSidecars(t,
      resolved.collect { case (_, Right(enc)) => enc }).iterator
    val dvLines = resolved.map {
      case (abs, Left(tok)) => s"dv\t${relOfAbs(abs)}\t$tok"
      case (abs, Right(_)) =>
        s"dv\t${relOfAbs(abs)}\t@${sidecarRels.next()}"
    }
    (dvLines,
      (rowHeavy0 ++ heavyExtra ++ overflow.toSeq).distinct.map(relOfAbs).sorted)
  }

  /** The one row-level rewrite behind DELETE, UPDATE and MERGE (both
    * forms), copy-on-write and deletion-vector alike — Delta's DML
    * shape: locate the touched files, split their rows, restage,
    * commit once. The caller passes the statement's snapshot and its
    * pruned `candidates`, the split (`touched` / `kept` map a scan of
    * table files to the rows the statement retires / leaves alone),
    * the rows it stages in their place (`newRows` of the touched
    * rows: UPDATE's SET images, MERGE's new images and inserts; None
    * for DELETE) and `dvCaps`. `touched` keeps every scanned column
    * and may add `helpers` (columns `newRows` reads); they are dropped
    * from the old images, like the position columns.
    *
    * Copy-on-write (`dvCaps` None): one file-count-scale distinct
    * over input_file_name finds the files holding touched rows; they
    * are removed and their kept rows restage. Deletion vectors: the
    * locating scan reads THROUGH existing vectors with row positions
    * and PERSISTS, so the old images and new rows re-read the touched
    * rows from cache and one statement pays the locate once; the
    * positions route per file ([[dvLightHeavy]]) — light files gain a
    * `dv` line and stay live, heavy files rewrite copy-on-write in
    * the same commit. A split that reorders rows (a join) costs only
    * run compression there, never correctness.
    *
    * Either way the kept-row restage, the new rows (plus their
    * constraint check — kept rows are byte-identical rewrites and
    * already satisfied the declaration's validating scan) and the
    * old-image change files are independent sliver-scale writes,
    * overlapped ([[stagedPar]]); a refusal still throws before
    * anything commits, and concurrently staged garbage is sealed for
    * vacuum. Table rows restage THROUGH the partition layout
    * ([[stageAdds]]); change files stay flat (they are the feed, not
    * the table). New rows are also `cdc insert` references (change
    * files may point at live data files; nothing is written twice),
    * so the feed is exactly (delete old images, insert new rows).
    *
    * The commit claims exactly base+1 — the nonempty read set keeps a
    * vector-only commit on rewrite claim semantics, since a `dv` line
    * changes row state without a remove — and reconciles past
    * file-disjoint interlopers (a blind append commutes at
    * write-serializable isolation), refusing when any candidate file
    * moved. It never reconciles under `claim` (an overwrite must
    * refuse even a blind append into its scope) or under a `fence`
    * (the streaming upsert sink's batch, whose `txn` marker rides
    * last): commit()'s rebase-retry never re-checks a marker, so a
    * fenced statement retries through upsertBatch's loop, which
    * re-checks the fence first. Vectors raise the protocol floor in
    * the same commit (an older reader would serve the dead rows): V3
    * when any rides a sidecar reference, else V2. `admit` may refuse
    * the staged new rows before anything commits; `schemaLines` is
    * evaluated after staging. Returns None when no candidate row is
    * touched (the caller's no-match result applies), else the
    * committed version. */
  private def rewriteRows(s: SparkSession, t: Table, snap: Snapshot,
      candidates: Seq[String],
      touched: DataFrame => DataFrame, kept: DataFrame => DataFrame,
      newRows: Option[DataFrame => DataFrame],
      dvCaps: Option[(Long, Long)],
      schemaLines: => Seq[String] = Nil,
      claim: Boolean = false,
      admit: Staged => Unit = _ => (),
      helpers: Seq[String] = Nil,
      fence: Option[(String, Long)] = None): Option[Long] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    if (candidates.isEmpty) return None
    val hits = dvCaps.map(caps => caps ->
      touched(readRels(s, t, snap, candidates, withPos = true))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // (files removed, dv lines, touched rows, kept rows to restage)
      val (removes, dvLines, hit, survivors) = hits match {
        case Some((caps, h)) =>
          val (dvLines, heavyRels) =
            dvLightHeavy(t, snap, h, candidates, caps)
          if (dvLines.isEmpty && heavyRels.isEmpty) return None
          (heavyRels, dvLines, h.drop(PosCols: _*),
            if (heavyRels.isEmpty) None
            else Some(kept(readRels(s, t, snap, heavyRels))))
        case None =>
          val affectedRel = relsOf(t, snap,
            touched(readRels(s, t, snap, candidates)
                .withColumn("_f", input_file_name()))
              .select(col("_f")).distinct()
              .collect() // file-count scale: one row per affected file
              .map(_.getString(0)).toSeq)
          if (affectedRel.isEmpty) return None
          val affected = readRels(s, t, snap, affectedRel)
          (affectedRel, Nil, touched(affected), Some(kept(affected)))
      }
      val fresh = newRows.map(_(hit))
      val statsCols = liveStatsCols(snap)
      val survivorStage = newStage(t, t.dataDir)
      val freshStage = newStage(t, t.dataDir)
      val cdcStage = newStage(t, t.cdcDir)
      try {
        val staged = stagedPar(s, Seq(
          () => survivors.toSeq.flatMap(stageAdds(s, t, _, survivorStage,
            snap.partCols, statsCols, snap.schemaJson).adds),
          () => fresh.toSeq.flatMap { df =>
            val st = stageAdds(s, t, df, freshStage, snap.partCols,
              statsCols, snap.schemaJson)
            admit(st)
            enforceStaged(s, t, st, snap.constraints)
            st.adds
          },
          () => {
            toPhysical(hit.drop(helpers: _*), snap.schemaJson.map(parseSchema))
              .write.parquet(cdcStage.toString)
            stagedFiles(t, cdcStage).map(r => s"cdc\t$r\tdelete")
          }))
        val proto =
          if (dvLines.exists(_.split('\t')(2).startsWith("@")))
            Seq(ProtocolV3Line)
          else if (dvLines.nonEmpty) Seq(ProtocolV2Line)
          else Nil
        Some(commit(t, snap.version, adds = Nil, removes = removes,
          extra = proto ++ schemaLines ++ staged(0) ++ staged(1) ++
            dvLines ++ staged(2) ++
            staged(1).map(a => s"cdc\t${a.split('\t')(1)}\tinsert") ++
            fence.map { case (app, bid) => s"txn\t$app\t$bid" },
          reconcileDisjoint = fence.isEmpty && !claim,
          readSet = candidates.toSet))
      } finally seal(t, survivorStage, freshStage, cdcStage)
    } finally hits.foreach(_._2.unpersist())
  }

  /** MERGE (upsert) by KEY-GROUP REPLACEMENT: every table row whose
    * `keyCol` value occurs in `source` is removed, and every `source`
    * row is inserted — the whole-row upsert a CDC-fed lakehouse table
    * runs every sync. A source with several rows for one key is
    * well-defined here (all of them land; the key's old rows all
    * go), unlike the clause form [[mergeIntoKeys]], which must refuse
    * it because its per-row clauses would depend on join order. Only
    * files that actually CONTAIN matched keys are rewritten (one
    * left-semi-join locate over the files the source's key range
    * keeps, when the key is stats-tracked); survivors restage with
    * recomputed stats, the OLD images of matched rows come out as
    * `cdc delete` change files, and the source rows stage as new data
    * files that the commit ALSO references as `cdc insert` actions —
    * [[rewriteRows]], whose feed is exactly (delete old images,
    * insert new images). A source with no matched key degrades to a
    * plain append; new source columns register in the same commit.
    * The source is materialized once (a recomputed non-deterministic
    * source could disagree with itself between the locate and the
    * staging; its blocks are released at the end). At 100 TB the
    * cost is one key join over the table plus a rewrite of the
    * touched sliver. Returns the committed version. */
  def merge(s: SparkSession, t: Table, source: DataFrame,
            keyCol: String): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val snap = snapshot(t)
    val src = source.localCheckpoint()
    try {
      val keys = src.select(col(keyCol)).distinct()
      // manifest pruning BEFORE the locating join: when the key column
      // is stats-tracked, one source-scale min/max aggregate bounds the
      // key range and only files whose (min, max) intersect it are
      // opened — the CDC-sync posture at 100 TB (the source is
      // sync-sized; the table is not)
      val candidates =
        if (!snap.fileStats.values.exists(_.contains(snap.statsKey(keyCol))))
          snap.liveFiles
        else keys.agg(min(col(keyCol)), max(col(keyCol))).head() match {
          case r if r.isNullAt(0) => Nil // empty source: nothing matches
          case r => (r.get(0), r.get(1)) match {
            case (lo: Long, hi: Long) => pruneBox(snap, Seq((keyCol, lo, hi)))
            case _ => snap.liveFiles // non-long key: cannot prune
          }
        }
      rewriteRows(s, t, snap, candidates,
        touched = _.join(keys, Seq(keyCol), "left_semi"),
        kept = _.join(keys, Seq(keyCol), "left_anti"),
        newRows = Some((_: DataFrame) => src), dvCaps = None,
        schemaLines = {
          val (schema, changed, _) =
            mergedSchema(Some(snap), src.schema)
          if (changed) Seq(s"schema\t${schema.json}") else Nil
        }).getOrElse(
        appendStaged(s, t, src, snap.partCols, liveStatsCols(snap)))
    } finally org.apache.spark.sql.graftshim.Shim.releaseCheckpoint(src)
  }

  /** One WHEN clause of [[mergeInto]]. Conditions and SET expressions
    * reference the target as `t.<col>` and the source as `s.<col>`
    * (the aliases are overridable for the SQL front end). */
  sealed trait MergeClause
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ... —
      * column-level: unlisted target columns keep their values. */
    final case class Update(cond: Option[Column],
        set: Map[String, Column]) extends MergeClause
    /** WHEN MATCHED [AND cond] THEN DELETE. */
    final case class Delete(cond: Option[Column]) extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT (the whole source
      * row). */
    final case class Insert(cond: Option[Column]) extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (...) —
      * the column-list insert: listed target columns take their
      * expressions (source references through the source alias),
      * unlisted target columns NULL-fill. Unlike the whole-row
      * [[Insert]], this form targets the table's registered schema
      * exactly and never evolves it. */
    final case class InsertExpr(cond: Option[Column],
        values: Map[String, Column]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET — the
      * full-sync reconciliation clause (condition and SET reference
      * only target columns). */
    final case class BySourceUpdate(cond: Option[Column],
        set: Map[String, Column]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
    final case class BySourceDelete(cond: Option[Column])
      extends MergeClause
  }

  /** Conditional MERGE — the full WHEN-clause form a tombstoned CDC
    * feed needs ([[merge]] is the whole-row replace-or-insert special
    * case): for every target row with a source match, the FIRST
    * matched clause whose condition holds applies (UPDATE SET with
    * column-level assignments, or DELETE); a matched row no clause
    * accepts stays untouched — it does NOT enter the change feed,
    * and a file holding no touched row stays in place. Source rows
    * matching nothing insert when some not-matched clause accepts
    * them, else drop.
    * WHEN NOT MATCHED BY SOURCE clauses (UPDATE SET / DELETE,
    * conditions over target columns only) complete the triad: target
    * rows absent from the source route through them — the full-sync
    * reconciliation a snapshot-mirroring feed runs; their presence
    * puts EVERY live file in the read set, because such rows can
    * live anywhere (the read is the table, by definition).
    *
    * A source with more than one row per key is REFUSED loudly (one
    * source-scale aggregate): two source rows hitting the same target
    * row would make the result depend on join order. (The whole-row
    * [[merge]] has no such ambiguity: it replaces each matched key's
    * rows with ALL of that key's source rows.)
    *
    * Plan shape at 100 TB: the same stats-pruned candidates as
    * [[merge]] (source key range → manifest box), then
    * [[rewriteRows]] over ONE left-outer join of the candidates
    * against the sync-sized source, which evaluates every clause:
    * the touched rows are those some clause fires on; their old
    * images become `cdc delete` change files, and updated new images
    * + accepted inserts stage in one write the commit also references
    * as `cdc insert` — the exact (delete old, insert new) event feed
    * [[changes]] resolves from the log. Returns the committed
    * version. */
  def mergeInto(s: SparkSession, t: Table, source: DataFrame,
      keyCol: String, clauses: Seq[MergeClause],
      targetAlias: String = "t", sourceAlias: String = "s"): Long =
    mergeIntoKeys(s, t, source, Seq(keyCol), clauses, targetAlias,
      sourceAlias)

  /** [[mergeInto]] on a COMPOSITE key: rows match when every key
    * column is equal (a source row with a NULL key component matches
    * nothing and routes through the NOT MATCHED clauses — SQL equi-
    * join semantics). Everything else — clause routing, ambiguity
    * refusal, stats-pruned locate (each stats-tracked key column
    * contributes a manifest range), CDF shape — is the single-key
    * contract verbatim. `dvCaps` (row cap, encoded-byte cap) opts the
    * statement into MERGE-ON-READ: touched rows' old positions
    * dead-list via deletion vectors with a per-file copy-on-write
    * fallback past either cap ([[rewriteRows]]). Under a `fence` (the
    * streaming upsert sink's `(appId, batchId)`) the commit carries
    * the batch's `txn` marker. */
  def mergeIntoKeys(s: SparkSession, t: Table, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause],
      targetAlias: String = "t", sourceAlias: String = "s",
      fence: Option[(String, Long)] = None,
      snap0: Option[Snapshot] = None,
      dvCaps: Option[(Long, Long)] = None,
      evolveSchema: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, max,
      min, when}
    require(keyCols.nonEmpty, "mergeIntoKeys needs at least one key column")
    require(clauses.nonEmpty, "mergeInto needs at least one WHEN clause")
    val matched = clauses.collect {
      case u: MergeClause.Update => u
      case d: MergeClause.Delete => d
    }
    // both insert forms, IN clause order — a row a whole-row INSERT
    // and a column-list INSERT both accept routes to the FIRST one
    val insertsAll: Seq[MergeClause] = clauses.collect {
      case i: MergeClause.Insert     => i
      case i: MergeClause.InsertExpr => i
    }
    val hasInsertExpr =
      insertsAll.exists(_.isInstanceOf[MergeClause.InsertExpr])
    // WHEN NOT MATCHED BY SOURCE: target rows with NO source match
    // can live in any file, so these clauses put EVERY live file in
    // the rewrite set — the full-sync reconciliation semantics; the
    // read is the table, by definition
    val bySource = clauses.collect {
      case u: MergeClause.BySourceUpdate => u
      case d: MergeClause.BySourceDelete => d
    }
    val (ta, sa) = (targetAlias, sourceAlias)
    // materialize the sync-sized source ONCE: the merge evaluates it
    // from several angles (ambiguity, key range, locate, clause join,
    // insert anti-join) and a recomputed non-deterministic source
    // could disagree with itself between them — the reason Delta
    // materializes merge sources too (blocks released in the finally)
    val src = source.localCheckpoint()
    try {

    val snap = snap0.getOrElse(snapshot(t))
    val statsCols = liveStatsCols(snap)
    // each stats-tracked key column bounds the candidate set by the
    // source's range on it (consumed below)
    val trackedKeys = keyCols.filter(k =>
      snap.fileStats.values.exists(_.contains(snap.statsKey(k))))
    // loud ambiguity refusal + per-tracked-key source range in ONE
    // source-scale job (r22, guide §1.5 — fewer actions): the worst
    // per-key multiplicity and every tracked key's min/max ride the
    // same grouped pass; the old shape paid a second aggregate over
    // the distinct keys just for the range. Rows with a NULL key
    // component are EXCLUDED from the multiplicity — they can never
    // match a target row (SQL equi-join; they only route through NOT
    // MATCHED) — which the when() guard reproduces; min/max skip null
    // groups by definition, and min/max over the grouped keys equal
    // min/max over the raw rows, so both results are byte-identical
    // to the two-job shape.
    val fusedAggs =
      max(when(keyCols.map(col(_).isNotNull).reduce(_ && _), col("_n")))
        .as("_worst") +:
      trackedKeys.flatMap(k =>
        Seq(min(col(k)).as(s"lo_$k"), max(col(k)).as(s"hi_$k")))
    val fused = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(fusedAggs.head, fusedAggs.tail: _*).head()
    require(fused.isNullAt(0) || fused.getLong(0) <= 1L,
      s"merge source has up to ${fused.getLong(0)} rows per key " +
        s"(${keyCols.mkString(", ")}): a multi-row-per-key source makes " +
        "the merge order-dependent — dedup the source (e.g. keep the " +
        "newest row per key) first")
    // WITH SCHEMA EVOLUTION (Delta's clause): the source's NEW
    // columns extend the target schema (existing rows null-fill) and
    // losslessly WIDER shared types re-register wide — decided ONCE
    // here against the statement's snapshot, so the clause join, the
    // survivor/old-image/new-image stages and the commit's schema
    // line all see the same shape, and schema + data land in ONE
    // atomic commit. Without the clause, today's contract stands
    // (whole-row INSERT evolves additively; wider types refuse).
    val evolvedTo: Option[(StructType, Boolean)] =
      if (!evolveSchema) None
      else if (snap.schemaJson.isEmpty) None // the source schema registers
      else {
        val (m, changed, widenedAny) =
          mergedSchema(Some(snap), src.schema, allowWiden = true)
        if (changed) Some((m, widenedAny)) else None
      }
    val candidates =
      if (trackedKeys.isEmpty) snap.liveFiles
      else if (fused.isNullAt(1)) Nil // empty source: nothing matches
      else {
        val preds = trackedKeys.flatMap { k =>
          (fused.getAs[Any](s"lo_$k"), fused.getAs[Any](s"hi_$k")) match {
            case (lo: Long, hi: Long) => Some((k, lo, hi))
            case _                    => None
          }
        }
        if (preds.isEmpty) snap.liveFiles else pruneBox(snap, preds)
      }

    // the column-list insert aligns against the REGISTERED schema —
    // a raw-commit table has nothing to align to (and no NULL-fill
    // contract), so it refuses by name
    lazy val targetFields: Seq[org.apache.spark.sql.types.StructField] =
      evolvedTo.map(_._1.fields.toSeq).orElse(
        snap.schemaJson.map(parseSchema(_).fields.toSeq)).getOrElse(
        throw new IllegalArgumentException(
          "MERGE ... INSERT (cols) VALUES needs a log-registered " +
            "table schema to align the column list against"))
    if (hasInsertExpr) {
      val names = targetFields.map(_.name).toSet
      val bad = insertsAll.collect {
        case e: MergeClause.InsertExpr => e.values.keySet.diff(names)
      }.flatten
      require(bad.isEmpty,
        s"MERGE INSERT column list names unknown column(s): " +
          s"${bad.mkString(", ")} (table has " +
          s"${targetFields.map(_.name).mkString(", ")})")
    }
    // an unlisted target column takes its declared DEFAULT (SQL
    // INSERT's contract); NULL only when none is declared
    def fill(f: org.apache.spark.sql.types.StructField): Column =
      defaultSql(f).map(expr).getOrElse(lit(null))

    def insertCond(cl: MergeClause): Column = (cl match {
      case x: MergeClause.Insert     => x.cond
      case x: MergeClause.InsertExpr => x.cond
      case _                         => None
    }).getOrElse(lit(true))

    def insertable(unmatched: => DataFrame): Option[DataFrame] =
      if (insertsAll.isEmpty) None
      else if (!hasInsertExpr)
        // whole-row inserts all stage the same row: the OR of the
        // conditions IS first-match routing (and this path keeps the
        // schema-evolution contract — source-only columns extend the
        // table)
        Some(unmatched.filter(
          insertsAll.map(insertCond).reduce(_ || _)))
      else {
        // mixed/column-list path: route each unmatched row to its
        // FIRST accepting clause and project that clause's values
        // into the registered schema (whole-row clauses take the
        // same-named source columns, NULL-filling the rest; no
        // schema evolution — the projection IS the table shape)
        val srcCols = src.columns.toSet
        val ichain = insertsAll.zipWithIndex
          .foldRight(lit(0): Column) { case ((cl, i), acc) =>
            when(insertCond(cl), lit(i + 1)).otherwise(acc)
          }
        val routed = unmatched.withColumn("_graft_ic", ichain)
          .filter(col("_graft_ic") =!= 0)
        Some(routed.select(targetFields.map { f =>
          insertsAll.zipWithIndex
            .foldRight(lit(null).cast(f.dataType): Column) {
              case ((cl, i), acc) =>
                val v: Column = cl match {
                  case _: MergeClause.Insert =>
                    if (srcCols.contains(f.name)) col(s"$sa.${f.name}")
                    else fill(f)
                  case x: MergeClause.InsertExpr =>
                    x.values.getOrElse(f.name, fill(f))
                  case _ => lit(null)
                }
                when(col("_graft_ic") === (i + 1), v.cast(f.dataType))
                  .otherwise(acc)
            }.as(f.name)
        }.toIndexedSeq: _*))
      }
    // accepted inserts: source rows whose key no candidate file holds
    // (a key outside the source's range is in no candidate, and a
    // matched row no clause touches must not insert a second time)
    val inserted = insertable(
      if (candidates.isEmpty) src.alias(sa)
      else src.alias(sa).join(readRels(s, t, snap, candidates)
          .select(keyCols.map(k => col(k).as(s"_tk_$k")): _*),
        keyCols.map(k => col(s"$sa.$k") === col(s"_tk_$k")).reduce(_ && _),
        "left_anti"))
    // decided before staging, so an incompatible source refuses first:
    // WITH SCHEMA EVOLUTION lands the pre-computed merged shape; else
    // only the whole-row insert path evolves the schema (the
    // column-list projection already IS the registered shape)
    val schemaLines = {
      val (schema, changed, widenedAny) = evolvedTo match {
        case Some((m, w)) => (m, true, w)
        case None if inserted.nonEmpty && !hasInsertExpr =>
          mergedSchema(Some(snap), src.schema)
        case None => (src.schema, false, false)
      }
      (if (widenedAny) Seq(ProtocolV2Line) else Nil) ++
        (if (changed) Seq(s"schema\t${schema.json}") else Nil)
    }

    // first-match clause index: i >= 1 the i-th MATCHED clause
    // applies, -j <= -1 the j-th NOT-MATCHED-BY-SOURCE clause
    // applies, 0 no clause fires (row untouched, absent from CDF)
    def chain(cls: Seq[MergeClause], sign: Int): Column =
      cls.zipWithIndex.foldRight(lit(0): Column) { case ((cl, i), acc) =>
        val cond = (cl match {
          case u: MergeClause.Update         => u.cond
          case d: MergeClause.Delete         => d.cond
          case u: MergeClause.BySourceUpdate => u.cond
          case d: MergeClause.BySourceDelete => d.cond
          case _: MergeClause.Insert     => None // never listed here
          case _: MergeClause.InsertExpr => None // never listed here
        }).getOrElse(lit(true))
        when(cond, lit(sign * (i + 1))).otherwise(acc)
      }
    val idx = when(col(s"$sa._graft_m").isNull, chain(bySource, -1))
      .otherwise(chain(matched, 1))
    // (clause index, SET assignments) of every UPDATE clause
    val updates: Seq[(Int, Map[String, Column])] =
      matched.zipWithIndex.collect {
        case (u: MergeClause.Update, i) => (i + 1, u.set) } ++
      bySource.zipWithIndex.collect {
        case (u: MergeClause.BySourceUpdate, i) => (-(i + 1), u.set) }
    val setCols = updates.flatMap(_._2.keys).distinct
    val helpers = "_graft_clause" +: setCols.map(c => s"_graft_new_$c")
    // the clause join over a scan of target files: every scanned
    // column (file and position helpers included), the clause index,
    // and each SET target's value under the applying UPDATE clause
    // (cast back to the column's type — parquet schema stability over
    // arbitrary SET expressions). Under WITH SCHEMA EVOLUTION the
    // target first takes the evolved shape: new columns null-fill
    // (pre-evolution rows have no value), widened ones cast up.
    def clauseJoin(df: DataFrame): DataFrame = {
      val tgt = evolvedTo.fold(df) { case (m, _) =>
        m.fields.foldLeft(df) { (d, f) =>
          if (!d.columns.contains(f.name))
            d.withColumn(f.name, lit(null).cast(f.dataType))
          else if (d.schema(f.name).dataType != f.dataType)
            d.withColumn(f.name, col(f.name).cast(f.dataType))
          else d
        }
      }
      val bad = setCols.diff(tgt.columns)
      require(bad.isEmpty,
        s"UPDATE SET targets unknown column(s): ${bad.mkString(", ")}")
      tgt.alias(ta)
        .join(src.withColumn("_graft_m", lit(true)).alias(sa),
          keyCols.map(k => col(s"$ta.$k") === col(s"$sa.$k"))
            .reduce(_ && _), "left_outer")
        .withColumn("_graft_clause", idx)
        .select(tgt.columns.toSeq.map(c => col(s"$ta.$c").as(c)) ++
          (col("_graft_clause") +: setCols.map(c => updates.foldRight(
            col(s"$ta.$c")) { case ((i, set), acc) =>
              set.get(c).fold(acc)(v => when(col("_graft_clause") === i,
                v.cast(tgt.schema(c).dataType)).otherwise(acc))
            }.as(s"_graft_new_$c"))): _*)
    }
    // new images of updated rows, then the accepted inserts in the
    // same write (aligned by name: columns only the images carry take
    // the declared DEFAULT, as the column-list INSERT does; columns
    // only the source carries null-fill the images, as a read would)
    val newRows: Option[DataFrame => DataFrame] =
      if (updates.isEmpty) inserted.map(rows => (_: DataFrame) => rows)
      else Some { hit =>
        val images = hit.filter(col("_graft_clause")
            .isInCollection(updates.map(_._1)))
          .select(hit.columns.toSeq.filterNot(helpers.contains).map(c =>
            if (setCols.contains(c)) col(s"_graft_new_$c").as(c)
            else col(c)): _*)
        inserted.fold(images) { rows =>
          val defaults = snap.schemaJson.fold(Map.empty[String, Column])(
            parseSchema(_).fields.map(f => f.name -> fill(f)).toMap)
          images.unionByName(rows.select(rows.columns.toSeq.map(col) ++
            images.schema.fields.filterNot(f => rows.columns.contains(f.name))
              .map(f => defaults.getOrElse(f.name, lit(null))
                .cast(f.dataType).as(f.name)): _*),
            allowMissingColumns = true)
        }
      }

    // a partitioned table restages survivors, updated images AND
    // inserts THROUGH its layout (same rule as delete) — a CDC-synced
    // partitioned table must keep metadata-only dropPartition working.
    // BY SOURCE clauses make every live file a candidate and the read
    // set. With no touched row the merge is its inserts: an append
    // (fenced for the sink, whose no-insert batch publishes its marker
    // alone), or nothing at all.
    val marker = fence.toSeq.map { case (app, bid) => s"txn\t$app\t$bid" }
    rewriteRows(s, t, snap,
      if (bySource.nonEmpty) snap.liveFiles else candidates,
      touched = clauseJoin(_).filter(col("_graft_clause") =!= 0),
      kept = clauseJoin(_).filter(col("_graft_clause") === 0)
        .drop(helpers: _*),
      newRows, dvCaps, schemaLines, helpers = helpers, fence = fence)
      .getOrElse(inserted match {
        case Some(rows) => appendStaged(s, t, rows, snap.partCols,
          statsCols, marker, allowWiden = evolveSchema, fence = fence)
        // the marker alone, fence re-checked on every attempt: a
        // replayed twin that landed the batch first is never re-applied
        case None if fence.nonEmpty => commitRecomputed(t) { cur =>
          if (fenceHolds(cur, fence)) Left(cur.fold(-1L)(_.version))
          else Right(marker) }
        case None => snap.version
      })
    } finally org.apache.spark.sql.graftshim.Shim.releaseCheckpoint(src)
  }

  /** EXACTLY-ONCE streaming UPSERT — the Update-output-mode sink
    * contract ([[appendBatch]]'s keyed sibling): the micro-batch
    * upserts into the table on `keyCols` (matched rows take the
    * source's values column-wise, unmatched rows insert) and the
    * commit carries the same `txn appId batchId` fence, so a
    * RESTARTED query's replayed batch recognizes the marker and
    * no-ops. A concurrent-commit loss recomputes the whole upsert
    * against the fresh snapshot and re-checks the fence — a racing
    * twin that won with THIS batch id is detected, not re-applied.
    * Contract: one row per key per batch (the Update-mode aggregation
    * shape; violations refuse loudly via mergeIntoKeys' ambiguity
    * check). Returns true when the batch is committed after this
    * call (by it, or by a twin it detected mid-flight); false when
    * the fence already held at entry. */
  def upsertBatch(s: SparkSession, t: Table, df: DataFrame,
                  keyCols: Seq[String], appId: String,
                  batchId: Long, partCols: Seq[String] = Nil,
                  allowWiden: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.col
    require(appId.matches("[A-Za-z0-9_-]+"), s"bad app id: $appId")
    require(keyCols.nonEmpty, "upsertBatch needs key columns")
    while (true) {
      if (lastBatch(t, appId).exists(_ >= batchId)) return false
      // first batch on an empty table: nothing to merge into (the
      // explicit partition layout must not be lost here — F4)
      if (latestVersion(t) < 0)
        return appendBatch(s, t, df, appId, batchId, partCols,
          allowWiden = allowWiden)
      val nonKey = df.columns.filterNot(keyCols.contains).toSeq
      val clauses =
        (if (nonKey.isEmpty) Nil
         else Seq(MergeClause.Update(None,
           nonKey.map(c => c -> col(s"s.$c")).toMap))) :+
        MergeClause.Insert(None)
      // graft.enableDeletionVectors routes the sink's upserts
      // merge-on-read too — the HIGHEST-frequency writer a lakehouse
      // table has (a keyed micro-batch every trigger) stops paying a
      // whole-file rewrite per touched file; the dv path's exact-slot
      // refusal surfaces as the same ConcurrentModificationException
      // this loop already recomputes on. ONE snapshot per attempt
      // serves the property check AND the merge.
      val snap = snapshot(t)
      try {
        mergeIntoKeys(s, t, df, keyCols, clauses,
          fence = Some((appId, batchId)), snap0 = Some(snap),
          dvCaps = dvCapsOf(snap),
          evolveSchema = allowWiden)
        return true
      } catch {
        // a concurrent commit invalidated the rewrite: recompute
        // against the fresh snapshot (the fence re-check above
        // catches a twin that already landed this batch)
        case _: java.util.ConcurrentModificationException => ()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---------------------------------------------------------------
  // Change-data feed
  // ---------------------------------------------------------------

  /** One version file parsed into its change-relevant pieces. */
  private[graft] final case class CommitActions(adds: Seq[String],
      hasRemoves: Boolean, cdcNone: Boolean,
      cdcFiles: Seq[(String, String)], // (relpath, insert|delete)
      addParts: Map[String, Map[String, String]], // partitioned adds
      hasDv: Boolean = false) { // deletion-vector commit: a rewrite
    /** A commit that changes ROW state without removing files (a
      * deletion-vector DML) is a rewrite for every feed purpose: its
      * adds are NOT a plain insert wave, and its row changes resolve
      * only through its cdc references. */
    def rewrites: Boolean = hasRemoves || hasDv
  }

  private def commitActions(vf: Path): CommitActions = {
    val lines = Files.readAllLines(vf).asScala.filter(_.nonEmpty)
    val addArrs = lines.filter(_.startsWith("add\t")).map(_.split('\t'))
    CommitActions(
      adds = addArrs.map(_(1)).toSeq,
      hasRemoves = lines.exists(_.startsWith("remove\t")),
      hasDv = lines.exists(_.startsWith("dv\t")),
      cdcNone = lines.contains("cdc\tnone"),
      cdcFiles = lines.collect {
        case l if l.startsWith("cdc\t") && l != "cdc\tnone" =>
          l.split('\t') match {
            case Array(_, rel, kind) => rel -> kind
            case _                   => corrupt(vf, l)
          }
      }.toSeq,
      addParts = addArrs.collect {
        case arr if arr.exists(_.startsWith("part=")) =>
          arr(1) -> arr.drop(2).filter(_.startsWith("part="))
            .map(_.stripPrefix("part=").split("=", 2) match {
              case Array(c, v) => unescapePart(c) -> unescapePart(v)
              case _           => corrupt(vf, arr.mkString("\t"))
            }).toMap
      }.toMap)
  }

  /** DESCRIBE HISTORY: one row per committed version — the operation
    * (inferred from the commit's action shape, the way a lakehouse
    * surfaces its audit log) plus add/remove/change-file counts. A
    * metadata walk over the version files; never touches data.
    *
    * DRIVER-COST BOUND: the walk reads every RETAINED version file,
    * so its cost is governed by log retention, not table age — under
    * [[expireLog]] discipline the log stays O([[CheckpointInterval]])
    * files and a year-old streaming table audits like a fresh one
    * (expired history is gone with its logs, the same truncation
    * Delta's DESCRIBE HISTORY shows under log retention; replay
    * checkpoints summarize STATE, not per-commit operations, so they
    * cannot serve the audit). On a never-expired table, pass `limit`
    * — DESCRIBE HISTORY LIMIT n — to read only the NEWEST n version
    * files; [[versionAt]] shares the same retention-bounded listing
    * (one directory scan, no file contents). */
  def history(t: Table,
              limit: Int = Int.MaxValue): Seq[(Long, String, Long, Long, Long)] =
    versionFiles(t).takeRight(limit).map { vf =>
      val a = commitActions(vf)
      val lines = Files.readAllLines(vf).asScala
      val removeRels = lines.collect {
        case l if l.startsWith("remove\t") => l.split('\t')(1)
      }
      val removes = removeRels.length
      val hasTxn = lines.exists(_.startsWith("txn\t"))
      val delRels = a.cdcFiles.collect { case (r, "delete") => r }
      val inss = a.cdcFiles.count(_._2 == "insert")
      val op =
        if (a.hasRemoves && a.cdcNone) "OPTIMIZE"
        // a deletion-vector commit is row-level DML without file
        // removal: UPDATE when it stamps new images (adds + cdc
        // inserts), a cdc-insert-only dv commit with NO adds is a
        // dv-reconciling RESTORE's resurrection wave (labeling it
        // UPDATE/DELETE would invert the audit), DELETE when the cdc
        // files carry deleted rows, and a dv line with no cdc at all
        // is a metadata-only RESTORE
        else if (a.hasDv && inss > 0 && a.adds.nonEmpty) "UPDATE"
        else if (a.hasDv && inss > 0) "RESTORE"
        else if (a.hasDv && delRels.nonEmpty) "DELETE"
        else if (a.hasDv) "RESTORE"
        // a REPLACE's delete side IS its remove set (old data files
        // referenced as change files); a MERGE's lives under cdc/
        else if (delRels.nonEmpty && inss > 0 &&
          delRels.toSet == removeRels.toSet) "REPLACE"
        else if (delRels.nonEmpty && inss > 0) "MERGE"
        else if (delRels.nonEmpty) "DELETE"
        else if (a.hasRemoves) "REWRITE"
        else if (hasTxn) "STREAMING"
        else "APPEND"
      (versionOf(vf), op, a.adds.length.toLong, removes.toLong,
        a.cdcFiles.length.toLong)
    }

  /** Time travel BY TIMESTAMP: the latest version committed at or
    * before `ts` (epoch millis) — the version file's mtime IS its
    * commit instant (the hard link lands fully written). The Delta
    * `timestampAsOf` contract: a caller replaying "the table as of
    * last night" without knowing version numbers. */
  /** A user-supplied timestamp string as epoch millis: epoch millis
    * verbatim, ISO-8601 instants, the space-separated SQL form
    * (`2026-01-01 00:00:00`) or a bare date (`2026-01-01`, midnight)
    * — the date-bearing forms interpreted in UTC, the session
    * timezone every main/test session pins. One parse shared by the
    * reader option, the SQL rewrite suffix and RESTORE's clause; an
    * unparseable string fails naming the accepted forms instead of
    * leaking a raw DateTimeParseException. */
  private[graft] def tsMillis(ts: String): Long = {
    val s0 = ts.trim
    val parses: Seq[() => Long] = Seq(
      () => s0.toLong,
      () => java.time.Instant.parse(s0).toEpochMilli,
      () => java.time.LocalDateTime.parse(s0.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
      () => java.time.LocalDate.parse(s0)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    parses.view.map(p => scala.util.Try(p())).collectFirst {
      case scala.util.Success(v) => v
    }.getOrElse(throw new IllegalArgumentException(
      s"cannot parse timestamp '$ts': accepted forms are epoch millis " +
        "(1767225600000), ISO-8601 instants (2026-01-01T00:00:00Z), " +
        "SQL timestamps (2026-01-01 00:00:00, UTC) and dates " +
        "(2026-01-01, midnight UTC)"))
  }

  /** The earliest retained version committed AT OR AFTER `ts` (epoch
    * millis) — the streaming `startingTimestamp` and feed timestamp
    * resolution (Delta's inclusive contract: changes committed at or
    * after the instant stream). latest+1 when every retained commit is
    * older: the stream WAITS for the next commit instead of replaying
    * history the caller asked to skip. Refuses when expired
    * history could hide commits at or after `ts`: if the earliest
    * RETAINED commit is not v0 and its instant is already at-or-after
    * the bound, expired commits may also have been, and resolving to
    * the retained floor would silently fold their changes into the
    * base snapshot (the timestamp twin of the version form's
    * partially-expired refusal). Commit instants are version-ordered
    * (the invariant every time-travel read relies on), so a bound
    * STRICTLY AFTER the earliest retained instant provably postdates
    * every expired commit. */
  private[graft] def versionAtOrAfterChecked(t: Table, ts: Long): Long = {
    val files = versionFiles(t)
    require(files.nonEmpty, s"empty transaction log at ${t.logDir}")
    require(versionOf(files.head) == 0L ||
        Files.getLastModifiedTime(files.head).toMillis < ts,
      s"timestamp bound $ts does not postdate the earliest retained " +
        s"commit (v${versionOf(files.head)}) and older versions are " +
        "expired — the feed cannot prove which expired commits were " +
        "at or after the instant; resync from a full snapshot or use " +
        "version bounds")
    files.find(vf => Files.getLastModifiedTime(vf).toMillis >= ts)
      .map(versionOf).getOrElse(versionOf(files.last) + 1)
  }

  def versionAt(t: Table, ts: Long): Long = {
    val at = versionFiles(t)
      .filter(vf => Files.getLastModifiedTime(vf).toMillis <= ts)
      .lastOption
    require(at.nonEmpty,
      s"no version committed at or before $ts in ${t.logDir}")
    versionOf(at.get)
  }

  /** Define an EMPTY table: register `schema` as version 0 — the
    * `CREATE TABLE t (cols) USING txnlog` path, so a table can exist
    * (queryable as zero rows, constrainable, INSERT-able with column
    * alignment) before its first data commit. `partCols` records a
    * declared `PARTITIONED BY` layout in the same commit: every
    * write from then on stages through it (a mismatched explicit
    * layout refuses), so the FIRST writer no longer silently decides
    * the table's physical layout. No-op when any version exists; a
    * racing first WRITE losing slot 0 is equally fine — either way
    * the schema lands merged. */
  /** Returns true iff THIS call published version 0 — a caller that
    * rolls back its own registration (a failed CREATE) must never
    * mistake a concurrent writer's v0 for its own. */
  def registerSchema(t: Table, schema: StructType,
                     partCols: Seq[String] = Nil,
                     props: Map[String, String] = Map.empty): Boolean = {
    def lostDeclaration(): Unit =
      // a declared layout can only bind at version 0 (declaredPartCols
      // is a v0/checkpoint header read): dropping it SILENTLY would
      // let the racing first writer's layout stand as if declared —
      // refuse loudly unless the declaration already matches
      if (partCols.nonEmpty && declaredPartCols(t) != partCols)
        throw new IllegalStateException(
          s"table at ${t.root} already has commits; the PARTITIONED " +
            s"BY (${partCols.mkString(", ")}) declaration can only " +
            "bind an empty location — a concurrent first write may " +
            "have won version 0. Recreate at an empty location or " +
            "adopt the existing layout")
    if (latestVersion(t) < 0) {
      val unknown = partCols.filterNot(schema.fieldNames.contains)
      require(unknown.isEmpty,
        s"PARTITIONED BY names column(s) not in the schema: " +
          unknown.mkString(", "))
      val pLine =
        if (partCols.isEmpty) Nil
        else Seq("partcols\t" + partCols.map(escapePart).mkString(","))
      // CREATE-time TBLPROPERTIES ride the same v0 commit — the log
      // is the properties' source of truth (SHOW TBLPROPERTIES and
      // the DSv2 catalog surface both read it), so a property set at
      // declaration must not live only in a metastore entry
      props.keys.foreach(k => require(
        k.nonEmpty && !k.exists(c => c == '\t' || c == '\n'),
        s"bad property key: '$k'"))
      val propLines = props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"property\t$k\t${escapePart(v)}" }
      val proto =
        if (schema.fields.exists(_.metadata.contains(ExistsDefaultKey)))
          Seq(ProtocolV4Line)
        else Nil
      val won = tryPublish(t, 0L,
        proto ++ (s"schema\t${schema.json}" +: (pLine ++ propLines)))
      if (!won) lostDeclaration()
      won
    } else { lostDeclaration(); false }
  }

  /** Table properties registered in the log — last-write-wins
    * metadata behavior toggles (e.g. `graft.enableDeletionVectors`,
    * which routes SQL DELETE/UPDATE through the merge-on-read
    * path). */
  def propertiesOf(t: Table): Map[String, String] =
    latestSnapshot(t).fold(Map.empty[String, String])(_.properties)

  /** `ALTER TABLE t SET TBLPROPERTIES (k = v, …)` — one metadata
    * commit carrying every pair. */
  def setProperties(t: Table, pairs: Map[String, String]): Long = {
    require(pairs.nonEmpty, "setProperties needs at least one pair")
    pairs.keys.foreach(k => require(
      k.nonEmpty && !k.exists(c => c == '\t' || c == '\n'),
      s"bad property key: '$k'"))
    commit(t, latestVersion(t), adds = Nil,
      extra = pairs.toSeq.sortBy(_._1).map { case (k, v) =>
        s"property\t$k\t${escapePart(v)}" })
  }

  /** `ALTER TABLE t UNSET TBLPROPERTIES (k, …)` — unknown keys no-op
    * (the IF EXISTS semantics; Spark's own statement errors without
    * it, but a metadata unset is idempotent by nature here). */
  def unsetProperties(t: Table, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetProperties needs at least one key")
    keys.foreach(k => require( // same key hygiene as setProperties:
      k.nonEmpty && !k.exists(c => c == '\t' || c == '\n'),
      s"bad property key: '$k'")) // a tab would corrupt the action
    commit(t, latestVersion(t), adds = Nil,
      extra = keys.sorted.map(k => s"unsetproperty\t$k"))
  }

  /** The DDL-declared partition layout — an O(1) HEADER read, not a
    * log scan, because every append pays this lookup: a declaration
    * can only be minted at version 0 ([[registerSchema]]) and
    * checkpoints re-emit it in their header (protocol / partcols /
    * schema lead every checkpoint and the v0 commit), so reading the
    * first few lines of the newest checkpoint — or of the retained
    * v0 file — answers it without streaming a 100 TB table's
    * million-line live set. Empty for tables that never declared
    * one. */
  def declaredPartCols(t: Table): Seq[String] = {
    def parse(line: String): Seq[String] =
      line.split('\t').drop(1).headOption.getOrElse("").split(',').toSeq
        .filter(_.nonEmpty).map(unescapePart)
    val (versions, ckpts) = logFiles(t)
    val src = ckpts.lastOption
      .orElse(versions.headOption.filter(versionOf(_) == 0L))
    src.flatMap { f =>
      val r = Files.newBufferedReader(f)
      // scan the HEADER PREFIX (everything before the first
      // file-level action), not a fixed line count: a future header
      // line added ahead of partcols must not silently push the
      // declaration out of a fixed window — that would stop every
      // writer from routing through the declared layout with no error
      try Iterator.continually(r.readLine()).takeWhile(_ != null)
        .takeWhile(l => !isFileAction(l))
        .find(_.startsWith("partcols\t")).map(parse)
      finally r.close()
    }.getOrElse(Nil)
  }

  /** The verb taxonomy [[applyLine]]'s dispatch partitions into —
    * defined ONCE, side by side, so a future verb cannot be added to
    * one list and forgotten in the other's consumer:
    * [[declaredPartCols]]'s header-prefix scan stops at the first
    * FILE action (fail-direction: a missed file verb only scans
    * further), while [[metadataOnlyV0]]'s adoption check requires
    * every line to be a KNOWN metadata verb (fail-direction: an
    * unknown verb refuses adoption — never adopts by accident). */
  private val FileActionVerbs =
    Set("add", "remove", "txn", "cdc", "dv")
  private val MetadataVerbs =
    Set("schema", "partcols", "protocol", "property", "unsetproperty",
      "constraint", "dropconstraint", "dropped")

  private def isFileAction(line: String): Boolean =
    FileActionVerbs.exists(v => line.startsWith(v + "\t"))

  /** True when the log holds EXACTLY version 0 and that commit
    * carries only table METADATA (schema/layout/constraint/property/
    * protocol lines — no file, dv or txn action): the footprint of a
    * CATALOG-named DDL CREATE whose native half failed after minting
    * (the caller also checks the catalog entry is absent; a
    * path-addressed CREATE has no native half, so its v0 is a
    * successfully created empty table and never adopts). Such an
    * orphan may be adopted by an identical re-CREATE instead of
    * refusing — deleting it on failure raced concurrent writers (a
    * v1 built on the v0 would silently lose its schema lines). */
  private[sources] def metadataOnlyV0(t: Table): Boolean =
    latestVersion(t) == 0L && {
      import scala.jdk.CollectionConverters._
      val f = t.logDir.resolve(f"${0L}%020d.log")
      Files.exists(f) && Files.readAllLines(f).asScala.forall { l =>
        l.isEmpty || MetadataVerbs.contains(l.split('\t')(0))
      }
    }

  /** Typed CHANGE FEED rows for (from, to] with per-commit
    * attribution — the `table_changes` SQL surface: every row of the
    * range's change feed tagged `_change_type` (insert|delete) and
    * `_commit_version`. Resolution cost is ONE from-snapshot replay
    * plus one version-file read per commit in the range (never a
    * replay per version — a long audit range stays linear in
    * retained log size); `from`/`to` validate against the log
    * exactly like [[changes]] (nonexistent versions refuse loudly),
    * and rewrites without cdc info refuse like every feed read. The
    * PLAN is one union branch per commit — per-commit literals are
    * the point — so bound the range to what you audit. */
  def tableChanges(s: SparkSession, t: Table, from: Long,
                   to: Long): DataFrame = {
    // a negative `from` must refuse like the nonexistent version it
    // is — an arithmetic underflow (lastProcessed - 1 past 0) would
    // otherwise silently replay the whole origin insert wave
    require(from >= 0, s"version $from does not exist in ${t.logDir}")
    require(from <= to, s"empty change range: v$from..v$to")
    // `from = 0` is INCLUSIVE of commit 0 — the origin commit's adds
    // are its insert wave (the streaming source's initial-snapshot
    // convention), so the table's very first changes stay reachable;
    // any higher `from` keeps the (from, to] contract
    tableChangesLowest(s, t, if (from == 0L) 0L else from + 1, to,
      s"v$from..v$to")
  }

  /** Inclusive-from body of [[tableChanges]]: the typed feed of the
    * commit window [lowest, to] — what TIMESTAMP bounds resolve onto
    * (the version form's exclusive `from` cannot express "from v1
    * inclusive" once commit 0 is origin-special). */
  private[graft] def tableChangesLowest(s: SparkSession, t: Table,
      lowest: Long, to: Long, label: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val snapTo = snapshot(t, Some(to)) // validates `to` exists
    val schemaJson = snapTo.schemaJson.getOrElse(
      throw new IllegalStateException(
        s"table at ${t.root} never registered a schema (raw commits); " +
          "table_changes needs one to type the feed"))
    val schema = parseSchema(schemaJson)
    val tsType = org.apache.spark.sql.types.TimestampType
    def empty: DataFrame =
      readRels(s, t, snapTo, Nil)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(0L))
        .withColumn("_commit_timestamp", lit(null).cast(tsType))
        .limit(0)
    if (lowest > to) return empty
    val baseParts =
      if (lowest == 0L) Map.empty[String, Map[String, String]]
      else snapshot(t, Some(lowest - 1)).filePartitions // validates floor
    val range = versionFiles(t)
      .filter(p => versionOf(p) >= lowest && versionOf(p) <= to)
    require(range.headOption.exists(versionOf(_) == lowest),
      s"change range $label is partially expired — resync from " +
        "a full snapshot instead")
    // ONE pass over the range's version files builds (file, version)
    // attribution pairs per side plus the partition-metadata union —
    // metadata only, never a replay per version. The PLAN is then two
    // scans total (all insert files, all delete files), each joined
    // to a broadcast file→(version, timestamp) map on the scan's own
    // file identity — a 5000-commit audit range no longer hands the
    // analyzer a 10000-branch union.
    var parts = baseParts
    val insPairs = Seq.newBuilder[(String, Long)]
    val delPairs = Seq.newBuilder[(String, Long)]
    val tsOf = Map.newBuilder[Long, java.sql.Timestamp]
    for (vf <- range) {
      val v = versionOf(vf)
      val a = commitActions(vf)
      if (a.rewrites && !a.cdcNone && a.cdcFiles.isEmpty)
        throw new IllegalStateException(
          s"commit ${vf.getFileName} rewrites files without cdc info; " +
            "table_changes cannot resolve it from the log")
      parts = parts ++ a.addParts
      tsOf += v -> new java.sql.Timestamp(
        Files.getLastModifiedTime(vf).toMillis)
      ((if (!a.rewrites) a.adds else Nil) ++
        a.cdcFiles.collect { case (rel, "insert") => rel })
        .foreach(rel => insPairs += rel -> v)
      a.cdcFiles.collect { case (rel, "delete") => rel }
        .foreach(rel => delPairs += rel -> v)
    }
    val ts = tsOf.result()
    val partsAll = parts
    def side(pairs: Seq[(String, Long)], kind: String): Option[DataFrame] = {
      if (pairs.isEmpty) return None
      val files = pairs.map(_._1).distinct
      // the scan exposes each row's file identity (withPos); the
      // broadcast join attributes it — a file touched by N commits
      // in the range emits its rows once PER commit, the per-commit
      // attribution the union form had
      val df = readRels(s, t,
        snapTo.copy(filePartitions = partsAll, dvs = Map.empty), files,
        withPos = true)
      val m = s.createDataFrame(
        pairs.distinct.map { case (rel, v) =>
          org.apache.spark.sql.Row(encodedAbs(t, rel), v, ts(v))
        }.asJava,
        StructType(Seq(
          org.apache.spark.sql.types.StructField("_g_mfp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_commit_timestamp",
            tsType))))
      Some(df.join(broadcast(m), df("_g_fp") === m("_g_mfp"))
        .withColumn("_change_type", lit(kind))
        .select(schema.fieldNames.toIndexedSeq.map(col) ++
          Seq(col("_change_type"), col("_commit_version"),
            col("_commit_timestamp")): _*))
    }
    (side(insPairs.result(), "insert"), side(delPairs.result(), "delete")) match {
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None)    => i
      case (None, Some(d))    => d
      case (None, None)       => empty
    }
  }

  /** ADDITIVE schema evolution as explicit DDL: register `newCols`
    * appended to the current schema in one metadata-only commit (the
    * same `schema` action an evolving append writes, through the
    * same serialized exact-slot claim, so racing column adds merge).
    * Existing files simply lack the columns — reads null-fill them
    * from the registered schema without touching a footer; time
    * travel below the commit keeps the old shape. Re-adding an
    * existing column with the same type is a no-op (idempotent
    * migration scripts); a different type refuses loudly
    * (mergedSchema's non-additive check). Returns the committed
    * version. */
  def addColumns(t: Table, newCols: StructType): Long = {
    require(newCols.nonEmpty, "addColumns needs at least one column")
    commitRecomputed(t) { latest =>
      val (snap, cur) = evolvable(t, latest, ": commit data first " +
        "(the first append registers the initial schema)")
      val (merged, changed, _) =
        mergedSchema(latest, StructType(cur.fields ++ newCols.fields))
      // DEFAULT-carrying columns change read semantics (an older
      // reader would null-fill pre-evolution rows) — protocol floor 4
      val proto =
        if (newCols.fields.exists(_.metadata.contains(ExistsDefaultKey)))
          Seq(ProtocolV4Line)
        else Nil
      if (!changed) Left(snap.version)
      else Right(proto :+ s"schema\t${merged.json}")
    }
  }

  /** RENAME COLUMN as ONE metadata commit — no data file rewritten:
    * the field keeps its PHYSICAL name (the one in the files) via
    * [[PhysicalKey]] mapping metadata, and only the logical name the
    * schema exposes changes. Old files read under the new name
    * through the mapping; time travel below the commit shows the old
    * name (each version's schema is its own); the change feed
    * reconstitutes either side under the schema of its range end.
    * Refused for partition columns (their name IS the layout), when
    * the new name is taken, and when a CHECK constraint references
    * the old name (its SQL text cannot be rewritten safely — drop
    * and re-add the constraint around the rename). A NOT NULL
    * constraint migrates automatically in the same commit.
    * Manifest (min, max) stats are keyed by the physical name, so
    * they keep pruning under the new name. Returns the committed
    * version. */
  def renameColumn(t: Table, oldName: String, newName: String): Long = {
    require(newName.nonEmpty && !newName.exists(c => c == '\t' || c == '\n'),
      s"bad column name: '$newName'")
    commitRecomputed(t) { latest =>
      val (snap, cur) = evolvable(t, latest)
      require(cur.fieldNames.contains(oldName),
        s"no column '$oldName' (table has ${cur.fieldNames.mkString(", ")})")
      require(!cur.fieldNames.contains(newName),
        s"column '$newName' already exists")
      evolutionGuards(snap, oldName, "rename")
      val fields = cur.fields.map { f =>
        if (f.name != oldName) f
        else org.apache.spark.sql.types.StructField(newName, f.dataType,
          f.nullable, new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(PhysicalKey, physicalName(f)).build())
      }
      val migrate =
        if (!snap.notNull.contains(oldName)) Nil
        else Seq(s"dropconstraint\tnotnull\t$oldName",
          s"constraint\tnotnull\t$newName")
      // column mapping changes read semantics: older readers must
      // refuse, not serve physical names — bump the protocol floor
      Right(ProtocolV2Line +: s"schema\t${StructType(fields).json}" +:
        migrate)
    }
  }

  /** DROP COLUMN as ONE metadata commit: the field leaves the
    * schema, old files keep their bytes (ignored by the pinned
    * scan), and the PHYSICAL name is tombstoned — re-adding a column
    * under it refuses, because the new column would read the dropped
    * column's surviving bytes out of old files (the resurrection
    * bug; rewrite the table to truly reclaim the name). Refused for
    * partition columns, the last remaining column, and columns a
    * CHECK constraint references; a NOT NULL constraint drops with
    * the column. Time travel below the commit still shows it.
    * Returns the committed version. */
  def dropColumn(t: Table, name: String): Long =
    commitRecomputed(t) { latest =>
      val (snap, cur) = evolvable(t, latest)
      require(cur.fieldNames.contains(name),
        s"no column '$name' (table has ${cur.fieldNames.mkString(", ")})")
      require(cur.length > 1, s"cannot drop the last column '$name'")
      evolutionGuards(snap, name, "drop")
      val phys = physicalName(cur.fields.find(_.name == name).get)
      val fields = cur.fields.filterNot(_.name == name)
      val migrate =
        if (snap.notNull.contains(name))
          Seq(s"dropconstraint\tnotnull\t$name")
        else Nil
      Right(Seq(ProtocolV2Line,
        s"schema\t${StructType(fields).json}",
        s"dropped\t$phys") ++ migrate)
    }

  /** Lossless widenings Spark's parquet reader promotes IN-SCAN
    * (verified against 4.x: requesting a wider schema over narrower
    * files upcasts per batch): the integral up-chain, float→double,
    * and small-integral→double. Everything else — narrowing, string
    * changes, decimal reshapes — stays refused. */
  private[sources] def canWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    val chain: Seq[DataType] = Seq(ByteType, ShortType, IntegerType,
      LongType)
    (from, to) match {
      case (f, t0) if chain.contains(f) && chain.contains(t0) =>
        chain.indexOf(f) < chain.indexOf(t0)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** TYPE WIDENING as ONE metadata commit — the third evolution verb
    * after add and rename/drop: re-register the column at a WIDER
    * type ([[canWiden]]); no data file is rewritten — old files keep
    * their narrow physical type and the pinned read schema promotes
    * them in-scan; writers may keep sending the narrow type (the
    * merged-schema check accepts narrower-than-registered), wide
    * writes land wide. Time travel below the commit keeps the narrow
    * shape; a running stream pinned to the narrow schema fails
    * loudly on its next batch (restart re-reads the registered
    * schema). Partition columns refuse — their values reconstitute
    * from layout strings and retyping them mid-table would change
    * prune semantics. Returns the committed version. */
  def widenColumn(t: Table, name: String, to: DataType): Long =
    commitRecomputed(t) { latest =>
      val (snap, cur) = evolvable(t, latest)
      val f = cur.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' (table has ${cur.fieldNames.mkString(", ")})"))
      if (f.dataType == to) Left(snap.version) // idempotent migrations
      else {
        require(canWiden(f.dataType, to),
          s"cannot change '$name' from ${f.dataType.simpleString} to " +
            s"${to.simpleString}: only lossless widenings are supported " +
            "(byte<short<int<long, float->double, byte/short/int->double)")
        require(!snap.partCols.contains(name),
          s"cannot widen partition column '$name' — rewrite the table " +
            "to change its partitioning types")
        val fields = cur.fields.map(x =>
          if (x.name == name) x.copy(dataType = to) else x)
        // widened scan types change read semantics: bump the protocol
        Right(Seq(ProtocolV2Line, s"schema\t${StructType(fields).json}"))
      }
    }

  /** The state an evolution verb validates against: the attempt's
    * snapshot and the schema it registers. An empty log refuses
    * (`emptyHint` appended to the message), and so does a log of raw
    * commits that never registered a schema. */
  private def evolvable(t: Table, latest: Option[Snapshot],
      emptyHint: String = ""): (Snapshot, StructType) = {
    require(latest.nonEmpty, s"empty transaction log at ${t.logDir}$emptyHint")
    val snap = latest.get
    (snap, snap.schemaJson.map(parseSchema).getOrElse(
      throw new IllegalStateException(
        s"table at ${t.root} never registered a schema (raw " +
          "commits); append through the API once before evolving it")))
  }

  /** Shared refusals for rename/drop: partition columns (the layout
    * IS the name) and columns referenced by a CHECK constraint
    * (opaque SQL text — cannot be rewritten safely). */
  private def evolutionGuards(snap: Snapshot, name: String,
                              op: String): Unit = {
    require(!snap.partCols.contains(name),
      s"cannot $op partition column '$name': the hive layout and " +
        "partition metadata key on it — rewrite the table to change " +
        "its partitioning")
    val refs = snap.checks.filter { case (_, sql) =>
      checkCols(sql, Seq(name)).nonEmpty }
    require(refs.isEmpty,
      s"cannot $op column '$name': CHECK constraint(s) " +
        s"${refs.keys.mkString(", ")} reference it — drop the " +
        "constraint(s) first and re-add them after")
  }

  /** The table's declared constraints at the latest version. */
  final case class Constraints(notNull: Set[String],
      checks: Map[String, String]) {
    def isEmpty: Boolean = notNull.isEmpty && checks.isEmpty
  }

  private val NoConstraints = Constraints(Set.empty, Map.empty)

  /** The columns among `fields` a CHECK references, read by Spark's
    * expression parser (no session needed: words inside string
    * literals are not references, and a backtick-quoted name stays
    * one name) and matched without regard to case, as Spark resolves
    * them — `K > 0` references column `k`. */
  private def checkCols(sql: String, fields: Iterable[String]): Set[String] = {
    val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
      }.toSet
    fields.filter(f => refs.contains(f.toLowerCase(java.util.Locale.ROOT)))
      .toSet
  }

  /** Constraints registered in the log (replay-accumulated —
    * checkpoint-bounded like every other metadata read; ops that
    * already hold a [[Snapshot]] read `snap.constraints` instead of
    * paying this second replay). */
  def constraintsOf(t: Table): Constraints =
    latestSnapshot(t).fold(NoConstraints)(_.constraints)

  /** Declare `col NOT NULL` in one metadata commit — enforced on
    * every subsequent write ([[enforceStaged]]) with a loud
    * per-violation refusal BEFORE anything commits. Like Delta's
    * ADD CONSTRAINT, existing rows must already satisfy it: one scan
    * of the live table refuses the declaration otherwise (a
    * constraint the data already violates would make every future
    * rewrite of old rows fail). */
  def addNotNull(s: SparkSession, t: Table, colName: String): Long =
    commitRecomputed(t) { latest =>
      val snap = latest.filter(_.schemaJson.nonEmpty).getOrElse(
        throw new IllegalStateException(
          s"table at ${t.root} never registered a schema; append " +
            "through the API once before constraining it"))
      val schema = parseSchema(snap.schemaJson.get)
      require(schema.fieldNames.contains(colName),
        s"NOT NULL constraint targets unknown column '$colName' " +
          s"(table has ${schema.fieldNames.mkString(", ")})")
      // the validating scan is only good for the snapshot it ran on:
      // a concurrent append that slips in is re-validated on the
      // retry, never blind-walked past
      if (snap.liveFiles.nonEmpty) {
        val nulls = readRels(s, t, snap, snap.liveFiles)
          .filter(org.apache.spark.sql.functions.col(colName).isNull)
          .count()
        require(nulls == 0L,
          s"cannot declare $colName NOT NULL: $nulls existing row(s) " +
            "are null — clean the data first")
      }
      Right(Seq(s"constraint\tnotnull\t$colName"))
    }

  /** Declare a named CHECK constraint (any boolean SQL expression
    * over the table's columns) in one metadata commit; existing rows
    * must satisfy it (one validating scan, like [[addNotNull]]), and
    * every subsequent write refuses atomically on violation. SQL
    * CHECK semantics: TRUE or UNKNOWN satisfies — only a provably
    * FALSE row violates, so NULL-filled columns pass (pair with NOT
    * NULL to forbid them). */
  def addCheck(s: SparkSession, t: Table, name: String,
               exprSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z0-9_-]+"), s"bad constraint name: $name")
    commitRecomputed(t) { latest =>
      require(latest.nonEmpty, s"empty transaction log at ${t.logDir}")
      val snap = latest.get
      // validated per attempt, like addNotNull
      if (snap.liveFiles.nonEmpty) {
        val bad = readRels(s, t, snap, snap.liveFiles)
          .filter(not(coalesce(expr(exprSql), lit(true)))).count()
        require(bad == 0L,
          s"cannot declare CHECK $name ($exprSql): $bad existing row(s) " +
            "violate it — clean the data first")
      }
      Right(Seq(s"constraint\tcheck\t$name\t${escapePart(exprSql)}"))
    }
  }

  /** Drop a NOT NULL constraint (by column) or a CHECK constraint
    * (by name) in one metadata commit; unknown names refuse. */
  def dropConstraint(t: Table, name: String): Long =
    commitRecomputed(t) { latest =>
      val c = latest.fold(NoConstraints)(_.constraints)
      Right(Seq(
        if (c.notNull.contains(name)) s"dropconstraint\tnotnull\t$name"
        else if (c.checks.contains(name)) s"dropconstraint\tcheck\t$name"
        else throw new IllegalArgumentException(
          s"no constraint '$name' on ${t.root} (not null: " +
            s"${c.notNull.mkString(", ")}; checks: " +
            s"${c.checks.keys.mkString(", ")})")))
    }

  /** Enforce the table's constraints over a STAGED write before its
    * commit — reading the staged files back through [[readStaged]]
    * (not the input frame: a non-deterministic source re-evaluated
    * for the check could disagree with what was actually written;
    * partition columns at their written types), so a refusal leaves
    * only invisible staged garbage for vacuum and the commit — txn
    * marker included — never lands: the atomic-refusal contract. One
    * local batch-sized scan; zero cost when no constraints are
    * declared. A staged write that OMITS a NOT NULL column entirely
    * (schema-divergent writer whose rows would null-fill on read)
    * refuses too. */
  private def enforceStaged(s: SparkSession, t: Table, st: Staged,
                            c: Constraints): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not,
      sum, when}
    if (c.isEmpty || st.adds.isEmpty) return
    lazy val reg = registeredSchema(t) // only an omitted column reads it
    // logical names, partition columns at their written types
    val df = readStaged(s, st)
    val have = df.columns.toSet
    // an omitted column with a NON-NULL default satisfies NOT NULL
    // (reads serve the default); a DEFAULT NULL column does not —
    // the backfill would be the very NULL the constraint forbids
    c.notNull.foreach(cn => require(have.contains(cn) ||
      reg.flatMap(_.fields.find(_.name == cn))
        .flatMap(defaultSql).exists(!_.equalsIgnoreCase("NULL")),
      s"constraint violation: NOT NULL $cn — this write omits the " +
        "column entirely (it would null-fill on read); nothing was " +
        "committed"))
    val viols: Seq[(String, org.apache.spark.sql.Column)] =
      c.notNull.toSeq.sorted.map(cn =>
        s"NOT NULL $cn" -> col(cn).isNull) ++
      c.checks.toSeq.sortBy(_._1).map { case (n, sql) =>
        // SQL CHECK semantics: TRUE or UNKNOWN satisfies — only a
        // provably FALSE row violates (a NULL-filled column passes)
        s"CHECK $n ($sql)" -> not(coalesce(expr(sql), lit(true))) }
    val aggs = viols.zipWithIndex.map { case ((_, v), i) =>
      sum(when(v, 1L).otherwise(0L)).as(s"_c$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    viols.zipWithIndex.foreach { case ((label, _), i) =>
      val n = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(n == 0L,
        s"constraint violation: $label — $n row(s) in this write " +
          "violate it; nothing was committed")
    }
  }

  /** RESTORE the table to the state of snapshot `v` in ONE
    * METADATA-ONLY commit — the lakehouse rollback (Delta's RESTORE
    * TABLE): remove every currently-live file that was not live at
    * `v`, re-add every `v`-live file that is not currently live
    * (partition tokens and stats carried forward from the restored
    * snapshot — decoded state re-escaped, the checkpoint re-emission
    * path), and re-register `v`'s schema when it differs. No data
    * file is read or written; the signature takes no SparkSession.
    * History going FORWARD is preserved — a restore is a new commit,
    * so "restore the restore" works and DESCRIBE HISTORY shows both
    * (it classifies as REPLACE: a restore IS a replace to an old
    * state, byte-identical commit shape). The change feed stays
    * log-resolved at zero copies: removed files are the delete side,
    * re-added files the insert side — `changes()` and CDF streams
    * converge to the restored state like any rewrite. Files vacuum
    * already reclaimed REFUSE loudly naming the first missing one
    * (the same time-travel horizon every vacuum trade documents).
    * Returns the committed version (unchanged when the live sets
    * already agree). */
  def restore(t: Table, v: Long): Long = restoreImpl(t, v, None)

  /** [[restore]] with constraint validation: when the table declares
    * constraints and the restore RE-ADDS files, the re-added rows are
    * read back and checked — a rollback must not smuggle rows a
    * since-declared CHECK forbids past the write-time gate (the
    * metadata-only overload REFUSES that combination instead,
    * pointing here). */
  def restore(s: SparkSession, t: Table, v: Long): Long =
    restoreImpl(t, v, Some(s))

  private def restoreImpl(t: Table, v: Long,
                          validate: Option[SparkSession]): Long = {
    val cur = snapshot(t)
    val tgt = snapshot(t, Some(v))
    val curSet = cur.liveFiles.toSet
    val tgtSet = tgt.liveFiles.toSet
    val removes = cur.liveFiles.filterNot(tgtSet)
    val readds = tgt.liveFiles.filterNot(curSet)
    val readdSet = readds.toSet
    // deletion-vector reconciliation: every target-live file whose
    // dv state differs from the current one gets its TARGET state
    // re-stamped (`-` clears — restoring below a DV delete
    // resurrects the rows); re-added files start vector-free at
    // replay, so any target vector restamps too
    val dvDelta: Seq[String] = tgt.liveFiles.flatMap { rel =>
      val want = tgt.dvs.get(rel)
      val have = if (readdSet.contains(rel)) None else cur.dvs.get(rel)
      if (want == have) None
      else Some(want match {
        case Some(enc) => s"dv\t$rel\t$enc"
        case None      => s"dv\t$rel\t-"
      })
    }
    // per-file row-range deltas of files live on BOTH sides — newly
    // dead (in the target vector, not the current) and RESURRECTED
    // (dead now, alive at the target) — computed once for the
    // resurrection constraint guard and the exact change feed
    val dvDeltaDetail: Seq[(String, Seq[(Long, Long)], Seq[(Long, Long)])] =
      if (dvDelta.isEmpty) Nil
      else tgt.liveFiles.filterNot(readdSet.contains).flatMap { rel =>
        val want = tgt.dvs.get(rel).map(dvRanges(t, _)).getOrElse(Nil)
        val have = cur.dvs.get(rel).map(dvRanges(t, _)).getOrElse(Nil)
        val dead = subtractRanges(want, have)
        val res = subtractRanges(have, want)
        if (dead.isEmpty && res.isEmpty) None
        else Some((rel, dead, res))
      }
    val resurrections = dvDeltaDetail.filter(_._3.nonEmpty)
    // the DECLARED layout is part of the restored definition too
    // (restoring below a CREATE OR REPLACE that changed it): emit
    // the header line and republish the checkpoint header after
    val partColsLine =
      if (tgt.declaredPartCols == cur.declaredPartCols) Nil
      else Seq(
        "partcols\t" + tgt.declaredPartCols.map(escapePart).mkString(","))
    // DROP COLUMN tombstones are part of the restored definition too:
    // restoring across a CREATE OR REPLACE (whose `cleardropped`
    // lifted them) re-adds files that still hold the dropped bytes —
    // the resurrection guard must re-arm with them. The reverse
    // direction (current tombstones absent at the target) stays
    // conservative: a sticky tombstone refuses a name that might be
    // safe, never serves stale bytes.
    val droppedLines =
      (tgt.dropped -- cur.dropped)
        .toSeq.sorted.map(ph => s"dropped\t$ph")
    // table PROPERTIES are part of the restored definition too
    // (restoring below a CREATE OR REPLACE or a SET TBLPROPERTIES
    // must bring back behavior toggles like the merge-on-read
    // switch): unset keys the target lacks, re-stamp differing ones
    val propLines =
      (cur.properties.keySet -- tgt.properties.keySet).toSeq.sorted
        .map(k => s"unsetproperty\t$k") ++
      tgt.properties.toSeq.sortBy(_._1).collect {
        case (k, pv) if !cur.properties.get(k).contains(pv) =>
          s"property\t$k\t${escapePart(pv)}"
      }
    // identical live sets, schema, layout, tombstones, properties AND
    // dv state = true no-op; a schema-only difference (restoring
    // below a rename/drop/add) still commits, restoring the shape
    // and reconciling constraints
    if (removes.isEmpty && readds.isEmpty && dvDelta.isEmpty &&
      partColsLine.isEmpty && droppedLines.isEmpty &&
      propLines.isEmpty &&
      tgt.schemaJson == cur.schemaJson) return cur.version
    val missing = readds.filterNot(rel => Files.exists(t.root.resolve(rel)))
    require(missing.isEmpty,
      s"cannot restore ${t.root} to v$v: data file(s) already " +
        s"vacuumed: ${missing.take(3).mkString(", ")} — the restore " +
        "horizon is the vacuum horizon")
    // constraints vs the restored STATE. Two interactions:
    // (a) constraints whose columns the RESTORED schema no longer
    //     carries (declared against a later shape — a renamed or
    //     since-added column) cannot be evaluated on any future write
    //     and are DROPPED in the restore commit, keeping metadata
    //     self-consistent;
    // (b) re-added files may hold rows violating a constraint
    //     declared AFTER v (the declaration validated only ITS
    //     snapshot's rows) — validating those rows needs a scan, so
    //     the metadata-only overload refuses and restore(spark, …)
    //     checks them.
    val restoredFields = tgt.schemaJson.orElse(cur.schemaJson)
      .map(parseSchema(_).fieldNames.toSet)
    val curFields = cur.schemaJson
      .fold(Seq.empty[String])(parseSchema(_).fieldNames.toSeq)
    // the current columns the restored schema no longer carries
    val lost = restoredFields.fold(Seq.empty[String])(f =>
      curFields.filterNot(c => f.exists(_.equalsIgnoreCase(c))))
    val keptNotNull =
      cur.notNull.filter(c => restoredFields.forall(_.contains(c)))
    val keptChecks = cur.checks.filter { case (_, sql) =>
      checkCols(sql, lost).isEmpty }
    val conDrops =
      (cur.notNull -- keptNotNull).toSeq.sorted
        .map(c => s"dropconstraint\tnotnull\t$c") ++
      (cur.checks.keySet -- keptChecks.keySet).toSeq.sorted
        .map(n => s"dropconstraint\tcheck\t$n")
    val kept = Constraints(keptNotNull, keptChecks)
    // rows the restore brings BACK — re-added files AND rows a
    // vector delta resurrects — may violate constraints declared
    // after v (the declaration validated only ITS snapshot's rows):
    // a rollback must not smuggle them past the write-time gate.
    // Constraints already present AT v prove nothing new: the
    // restored rows were live under them, so only the NET-NEW set
    // gates — a constrained table keeps its metadata-only rollback
    // as long as no constraint arrived since the target version.
    val newSince = Constraints(
      keptNotNull.diff(tgt.notNull),
      keptChecks.filterNot { case (n, e) => tgt.checks.get(n).contains(e) })
    if ((readds.nonEmpty || resurrections.nonEmpty) && !newSince.isEmpty)
      validate match {
      case None => throw new IllegalStateException(
        s"cannot restore ${t.root} to v$v metadata-only: the table " +
          "declares constraints and the restore brings back rows " +
          "(re-added files or deletion-vector resurrections) that " +
          "were never validated against them — use " +
          "restore(spark, t, v) (SQL RESTORE does), or drop the " +
          "constraints first")
      case Some(s) =>
        // validate the restored rows under the RESTORED schema (its
        // mapping is the one the files were written beneath): the
        // re-added files whole, the resurrected rows by position
        import org.apache.spark.sql.functions.{coalesce, col, expr,
          lit, not}
        def validateRows(df: DataFrame, what: String): Unit = {
          newSince.notNull.foreach { cn =>
            val n = df.filter(col(cn).isNull).count()
            require(n == 0L,
              s"cannot restore to v$v: $n $what row(s) violate " +
                s"NOT NULL $cn (declared after v$v) — drop the " +
                "constraint or restore to a cleaner version")
          }
          newSince.checks.foreach { case (name, sql) =>
            val n = df.filter(not(coalesce(expr(sql), lit(true)))).count()
            require(n == 0L,
              s"cannot restore to v$v: $n $what row(s) violate " +
                s"CHECK $name ($sql) — drop the constraint or restore " +
                "to a cleaner version")
          }
        }
        if (readds.nonEmpty)
          validateRows(readRels(s, t, tgt, readds), "re-added")
        if (resurrections.nonEmpty) {
          val noDv = tgt.copy(dvs = Map.empty)
          val dfp = readRels(s, t, noDv, resurrections.map(_._1),
            withPos = true)
          dvRangeCond(t, resurrections.map(r => r._1 -> r._3))
            .foreach(c => validateRows(
              dfp.filter(c).drop(PosCols: _*), "resurrected"))
        }
    }
    val addLines = readds.map { rel =>
      val pTok = tgt.filePartitions.getOrElse(rel, Map.empty)
        .toSeq.sortBy(_._1)
        .map { case (c, pv) => s"part=${escapePart(c)}=${escapePart(pv)}" }
      val zTok = tgt.fileSizes.get(rel).map(n => s"size=$n").toSeq
      val sTok = tgt.fileStats.getOrElse(rel, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }
      (s"add\t$rel" +: (pTok ++ zTok ++ sTok)).mkString("\t")
    }
    // the change feed counts a NO-removes commit's adds as its insert
    // wave already, so a pure re-add (restoring across a drop) must
    // not ALSO reference them as cdc inserts — that would deliver
    // every restored row twice; a remove-bearing restore needs the
    // explicit refs (adds of rewrite commits are not auto-counted).
    // File-level refs are EXACT only for vector-free files: a raw
    // ref to a dv-carrying file would deliver its dead rows too.
    // The VALIDATING overload (SQL RESTORE) stages those files'
    // LIVE rows as change files instead (see dvCdc below), so even
    // a MIXED restore — file moves AND vector deltas, the shape an
    // OPTIMIZE interleaved with dv DML produces — feeds exact row
    // events. The metadata-only overload cannot stage rows: any
    // restore its file refs cannot express stays cdc-unexplained —
    // changes() falls back to the exact snapshot diff and streams
    // refuse loudly instead of replaying a wrong feed.
    val remDvRels = removes.filter(cur.dvs.contains)
    val readdDvRels = readds.filter(tgt.dvs.contains)
    val rewriteCommit = removes.nonEmpty || dvDelta.nonEmpty
    val cdc =
      if (!rewriteCommit || validate.nonEmpty) Nil // exact feed below
      else if (dvDelta.isEmpty && remDvRels.isEmpty && removes.nonEmpty)
        removes.map(r => s"cdc\t$r\tdelete") ++
          readds.map(r => s"cdc\t$r\tinsert")
      else Nil
    val schemaLine = tgt.schemaJson.filterNot(cur.schemaJson.contains)
      .map(js => s"schema\t$js").toSeq
    val proto =
      if (dvDelta.exists(_.split('\t')(2).startsWith("@")))
        Seq(ProtocolV3Line) // a restamped sidecar ref needs v3 readers
      else if (dvDelta.exists(!_.endsWith("\t-"))) Seq(ProtocolV2Line)
      else Nil
    // cdc stages reserve LAZILY: a metadata-only restore must stay a
    // pure metadata operation — no marker writes, no cdc/ directory
    val stages = scala.collection.mutable.ArrayBuffer.empty[Path]
    def cdcStage(): Path = {
      val st = newStage(t, t.cdcDir); stages += st; st
    }
    try {
      // EXACT change feed under the VALIDATING overload (the one SQL
      // RESTORE uses) — for EVERY rewrite-shaped restore, mixed ones
      // included: vector-free removed/re-added files ride file-level
      // refs; vector-carrying ones stage their LIVE rows as change
      // files (a raw ref would deliver dead rows too); both-live
      // vector deltas stage the newly-killed rows as `cdc delete`
      // and resurrected rows as `cdc insert` — interval subtraction
      // per file, one dv-free positional scan of exactly the delta
      // files. So changes()/CDF streams resolve ANY validated restore
      // from the log like any rewrite. Metadata-only restores keep
      // the loud unexplained path when file refs cannot express the
      // events (no session to stage rows with).
      val dvCdc: Seq[String] =
        if (validate.isEmpty || !rewriteCommit) Nil
        else {
          import org.apache.spark.sql.functions.{col, lit}
          val s = validate.get
          val refs =
            removes.filterNot(cur.dvs.contains)
              .map(r => s"cdc\t$r\tdelete") ++
            readds.filterNot(tgt.dvs.contains)
              .map(r => s"cdc\t$r\tinsert")
          def liveRows(snap: Snapshot, rels: Seq[String],
              kind: String): Seq[String] =
            if (rels.isEmpty) Nil
            else {
              val dir = cdcStage()
              // dv-aware read under the owning side's snapshot: the
              // events are exactly the rows LIVE there
              toPhysical(readRels(s, t, snap, rels),
                snap.schemaJson.map(parseSchema))
                .write.parquet(dir.toString)
              stagedFiles(t, dir).map(r => s"cdc\t$r\t$kind")
            }
          val deltas = dvDeltaDetail
          val deltaCdc: Seq[String] =
            if (deltas.isEmpty) Nil
            else {
              val noDv = tgt.copy(dvs = Map.empty)
              val df = readRels(s, t, noDv, deltas.map(_._1),
                withPos = true)
              val schema = tgt.schemaJson.map(parseSchema)
              def stage(cond: Option[Column],
                  kind: String): Seq[String] = cond.toSeq.flatMap { c =>
                val dir = cdcStage()
                toPhysical(df.filter(c).drop(PosCols: _*), schema)
                  .write.parquet(dir.toString)
                stagedFiles(t, dir).map(r => s"cdc\t$r\t$kind")
              }
              stage(dvRangeCond(t, deltas.map(d => d._1 -> d._2)),
                "delete") ++
                stage(dvRangeCond(t, deltas.map(d => d._1 -> d._3)),
                  "insert")
            }
          refs ++ liveRows(cur, remDvRels, "delete") ++
            liveRows(tgt, readdDvRels, "insert") ++ deltaCdc
        }
      val extra = proto ++ schemaLine ++ partColsLine ++
        droppedLines ++ propLines ++ conDrops ++ addLines ++ dvDelta ++
        dvCdc ++ cdc
      // a dv-reconciling restore with NO removes is still a row-state
      // rewrite: it must claim exactly the next slot like every other
      // dv commit — blind-walking past a concurrent deletion-vector
      // commit would wipe its delete with stale state
      val v1 = commit(t, cur.version, adds = Nil, removes = removes,
        extra = extra, forceClaim = dvDelta.nonEmpty)
      // declaredPartCols is a v0/checkpoint HEADER read — a layout
      // change must republish it or later writers route wrong
      if (partColsLine.nonEmpty) checkpoint(t, v1)
      v1
    } finally seal(t, stages.toSeq: _*)
  }

  /** Positional selector for per-file row ranges — the (path, index)
    * disjunction the dv-restore feed and its constraint validation
    * share. None when nothing is selected. */
  private def dvRangeCond(t: Table,
      ranges: Seq[(String, Seq[(Long, Long)])]): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    ranges.collect {
      case (rel, rs) if rs.nonEmpty =>
        col("_g_fp") === lit(encodedAbs(t, rel)) &&
          rs.map { case (lo, hi) =>
            col("_g_ri").between(lo, hi) }.reduce(_ || _)
    }.reduceOption(_ || _)
  }

  /** The APPEND feed for the streaming source: the files whose rows
    * entered the table in (from, to], resolved purely from the log.
    * Compactions (`cdc none`) contribute nothing; a commit with
    * row-level deletes fails the stream by default (the Delta
    * posture: a consumer that assumed append-only must find out).
    * The two opt-outs mirror Delta's split exactly:
    * `ignoreDeletes` skips PURE delete commits — whole commits whose
    * only row-level changes are deletes — and still fails on a
    * rewrite that also carries new images (a MERGE/REPLACE), because
    * emitting those inserts would double-count every updated row in
    * an append-only downstream. `ignoreChanges` (subsumes
    * ignoreDeletes) accepts such rewrites and RE-EMITS their new
    * images; the downstream must tolerate re-delivered rows. A
    * remove-bearing commit with NO cdc info can never stream. */
  private[graft] def appendFeed(range: StreamRange, ignoreDeletes: Boolean,
      ignoreChanges: Boolean = false): Seq[String] =
    range.commits.flatMap { case (vf, a) =>
      if (!a.rewrites) // dv commits are rewrites: adds ≠ insert wave
        a.adds ++ a.cdcFiles.collect { case (rel, "insert") => rel }
      else if (a.cdcNone) Nil
      else {
        val inserts = a.cdcFiles.collect { case (rel, "insert") => rel }
        val hasDeletes = a.cdcFiles.exists(_._2 == "delete")
        if (!hasDeletes || ignoreChanges) inserts
        else if (ignoreDeletes && inserts.isEmpty) Nil // pure delete: skip
        else if (ignoreDeletes) throw new IllegalStateException(
          s"commit ${vf.getFileName} rewrites rows (deletes AND new " +
            "images); ignoreDeletes skips only pure-delete commits — " +
            "set ignoreChanges=true to re-emit the new images (the " +
            "downstream must tolerate re-delivered rows), or rebuild " +
            "it from a fresh full snapshot")
        else throw new IllegalStateException(
          s"commit ${vf.getFileName} contains row-level deletes; the " +
            "txnlog stream replays the APPEND feed — set " +
            "ignoreDeletes=true to skip pure-delete commits, " +
            "ignoreChanges=true to also re-emit rewrites' new images, " +
            "or rebuild the downstream from a fresh full snapshot")
      }
    }

  /** A stream batch's range: the commits in (from, to] with their
    * actions, and the retention floor (the oldest retained version). */
  private[graft] case class StreamRange(floor: Long,
      commits: Seq[(Path, CommitActions)])

  /** One log listing and one read per commit file for a micro-batch.
    * A range whose oldest commit expired, or holding a rewrite
    * without cdc info, refuses: a stream can neither skip nor diff. */
  private[graft] def streamRange(t: Table, from: Long,
      to: Long): StreamRange = {
    val all = versionFiles(t)
    val range = all.filter(p => versionOf(p) > from && versionOf(p) <= to)
    range.headOption.foreach(h => require(versionOf(h) == from + 1,
      s"stream range v$from..v$to is partially expired: earliest " +
        s"retained log in range is v${versionOf(h)} — restart the " +
        "stream from a fresh checkpoint"))
    val floor = all.headOption.map(versionOf).getOrElse(0L)
    StreamRange(floor, range.map { vf =>
      val a = commitActions(vf)
      if (a.rewrites && !a.cdcNone && a.cdcFiles.isEmpty)
        throw new IllegalStateException(
          s"commit ${vf.getFileName} rewrites files without cdc info; " +
            "the stream cannot resolve it from the log")
      vf -> a
    })
  }

  /** Partition metadata for the `files` a feed batch over the range
    * reads: the range commits' partitioned adds, plus the
    * from-snapshot's live files when the batch reads a file the range
    * did not add (a zero-copy delete, a change file) — an append-only
    * batch replays nothing. Metadata-scale; empty for unpartitioned
    * tables. */
  private def feedPartsMap(t: Table, from: Long, range: StreamRange,
      files: Seq[String]): Map[String, Map[String, String]] = {
    val rangeParts = range.commits.flatMap(_._2.addParts)
    val added = range.commits.flatMap(_._2.adds).toSet
    // a stream may legitimately resume at the version just below the
    // expireLog retention floor (its range is fully retained even
    // though `from` itself is not replayable): fall back to the
    // earliest retained state. Zero-copy deletes of files removed
    // exactly AT the floor version recorded their partition metadata
    // only in pre-floor state, which is gone — [[readChangeFeedBatch]]
    // refuses those loudly instead of null-filling the columns.
    val base =
      if (from < 0 || files.forall(added))
        Map.empty[String, Map[String, String]]
      else snapshot(t, Some(math.max(from, range.floor))).filePartitions
    base ++ rangeParts
  }

  /** One streaming micro-batch of the APPEND feed as a DataFrame,
    * partition columns reconstituted when the table is partitioned —
    * the read the V1 source's getBatch hands the engine. */
  private[graft] def readFeedBatch(s: SparkSession, t: Table, from: Long,
      to: Long, ignoreDeletes: Boolean, ignoreChanges: Boolean,
      schemaJson: String): DataFrame = {
    val range = streamRange(t, from, to)
    val files = appendFeed(range, ignoreDeletes, ignoreChanges)
    readFiles(s, t, files, Some(schemaJson),
      feedPartsMap(t, from, range, files))
  }

  /** One CDF micro-batch as (inserts, deletes) DataFrames, partition
    * columns reconstituted (zero-copy deletes from dropPartition
    * reference partition-recorded data files). Inserts are the
    * append commits' adds plus the insert change files; deletes are
    * the delete change files. Unlike [[changes]] a rewrite without
    * cdc info REFUSES instead of snapshot-diffing (a stream cannot
    * diff incrementally). A stream resuming ONE
    * version below the expireLog retention floor can hit zero-copy
    * deletes whose partition metadata lived only in pre-floor state:
    * reading those flat would silently null-fill the partition
    * columns, so they REFUSE with a resync message instead (change
    * files under cdc/ carry every column and are exempt). */
  private[graft] def readChangeFeedBatch(s: SparkSession, t: Table,
      from: Long, to: Long, schemaJson: String): (DataFrame, DataFrame) = {
    val range = streamRange(t, from, to)
    val acts = range.commits.map(_._2)
    val ins = acts.filter(!_.rewrites).flatMap(_.adds) ++
      acts.flatMap(_.cdcFiles).collect { case (rel, "insert") => rel }
    val del = acts.flatMap(_.cdcFiles).collect { case (rel, "delete") => rel }
    val parts = feedPartsMap(t, from, range, ins ++ del)
    val floor = range.floor
    if (from >= 0 && from < floor) {
      val unresolved = del.filterNot(parts.contains)
        .filterNot(_.startsWith("cdc/"))
      // an unpartitioned table's zero-copy deletes (a REPLACE's old
      // files) carry every column IN the file — one footer check per
      // candidate proves flat-readability; only files physically
      // MISSING schema columns (a dropped partition's) truly lost
      // their reconstitution metadata with the pre-floor log
      // footers hold PHYSICAL names — compare in that domain
      val want = physicalSchema(parseSchema(schemaJson)).fieldNames.toSet
      val lost = unresolved.filterNot { rel =>
        // a candidate vacuum already reclaimed folds into the same
        // resync refusal — a raw path-not-found from the footer read
        // would hide what actually happened
        val p = t.root.resolve(rel)
        Files.exists(p) && want.subsetOf(
          s.read.parquet(p.toString).schema.fieldNames.toSet)
      }
      if (lost.nonEmpty) throw new IllegalStateException(
        s"stream range v$from..v$to starts below the retained replay " +
          s"floor v$floor and commit v$floor removes data files " +
          s"(${lost.take(3).mkString(", ")}…) whose partition " +
          "metadata expired with the pre-floor log — the delete events " +
          "cannot be reconstituted; rebuild the downstream from a " +
          "fresh checkpoint")
    }
    (readFiles(s, t, ins, Some(schemaJson), parts),
      readFiles(s, t, del, Some(schemaJson), parts))
  }

  /** Change-data-feed read: the row-level (inserts, deletes) between
    * snapshot `from` (exclusive) and `to` (inclusive).
    *
    * LOG-RESOLVED path — used whenever every remove-bearing commit in
    * the range carries cdc information (compactions stamp `cdc none`,
    * [[delete]] writes change files): inserts are the rows of the
    * files that append commits added, deletes are the rows of the
    * recorded change files — a metadata resolution plus a scan of
    * ONLY new/changed files, the shape an incremental consumer runs
    * every few minutes at 100 TB, across any number of rewrites.
    * This path returns the change EVENT feed: a row inserted and then
    * deleted inside the range appears on both sides (applying inserts
    * then deletes converges to the `to` snapshot, the standard CDF
    * contract).
    *
    * FALLBACK — a remove-bearing commit WITHOUT cdc info (a raw
    * [[commit]] caller) degrades the range to the generic multiset
    * row diff of the two snapshots, schema-aligned under additive
    * evolution so a column-adding commit inside the range cannot
    * break the comparison. */
  def changes(s: SparkSession, t: Table, from: Long,
              to: Long): (DataFrame, DataFrame) = {
    require(from <= to, s"empty change range: v$from..v$to")
    val snapFrom = snapshot(t, Some(from)) // validates `from` exists
    val range = versionFiles(t)
      .filter(p => versionOf(p) > from && versionOf(p) <= to)
    require(range.nonEmpty && versionOf(range.last) == to,
      s"version $to does not exist in ${t.logDir}")
    require(versionOf(range.head) == from + 1,
      s"change range v$from..v$to is partially expired: earliest " +
        s"retained log in range is v${versionOf(range.head)} — " +
        "resync from a full snapshot instead")
    val acts = range.map(commitActions)
    val snapTo = snapshot(t, Some(to))
    // partition metadata for every file the range can reference:
    // the from-snapshot's live set plus the range commits' adds
    val feed = Snapshot(to, Nil,
      schemaJson = snapTo.schemaJson.orElse(snapFrom.schemaJson),
      filePartitions = snapFrom.filePartitions ++ acts.flatMap(_.addParts),
      fileSizes = snapFrom.fileSizes ++ snapTo.fileSizes)
    val none = readRels(s, t, feed, snapFrom.liveFiles,
      mergeSchema = true).limit(0)
    // feed-file reads are dv-FREE by default: an insert wave is the
    // rows as of its commit, regardless of rows a LATER deletion
    // vector killed (those arrive as their own delete events); the
    // snapshot-diff fallback passes each side's own dv state instead
    def rd(rels: Seq[String],
        dvs: Map[String, String] = Map.empty): DataFrame =
      if (rels.isEmpty) none
      else readRels(s, t, feed.copy(dvs = dvs), rels, mergeSchema = true)
    if (acts.forall(a => !a.rewrites || a.cdcNone || a.cdcFiles.nonEmpty)) {
      // every rewrite in the range explains itself: resolve from the
      // log. A rewrite's adds are restaged survivors, NOT inserts —
      // only no-rewrite commits contribute their add files (a
      // deletion-vector UPDATE's new-image adds ride its explicit
      // cdc insert references instead).
      val insertFiles =
        acts.filter(!_.rewrites).flatMap(_.adds) ++
        acts.flatMap(_.cdcFiles).collect { case (rel, "insert") => rel }
      val deleteFiles =
        acts.flatMap(_.cdcFiles).collect { case (rel, "delete") => rel }
      (rd(insertFiles), rd(deleteFiles))
    } else {
      // a snapshot CAN be empty (a delete-everything commit) — plan
      // it as an empty frame on the other side's schema; each side
      // diffs under its OWN deletion-vector state, so a dv-bearing
      // range still diffs row-exactly
      val aFiles = snapFrom.liveFiles
      val bFiles = snapTo.liveFiles
      require(aFiles.nonEmpty || bFiles.nonEmpty,
        s"both snapshots v$from and v$to are empty")
      def side(files: Seq[String], fallback: Seq[String],
          dvs: Map[String, String]): DataFrame =
        if (files.nonEmpty) rd(files, dvs) else rd(fallback).limit(0)
      val (a, b) = aligned(side(aFiles, bFiles, snapFrom.dvs),
        side(bFiles, aFiles, snapTo.dvs))
      (b.exceptAll(a), a.exceptAll(b))
    }
  }

  /** Pad each frame with the other's missing columns (null-filled)
    * and project both to one column order, so exceptAll compares
    * rows across an additive schema change instead of failing. */
  private def aligned(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    def pad(x: DataFrame, other: DataFrame): DataFrame = {
      val have = x.columns.toSet
      val padded = other.schema.fields.filterNot(f => have.contains(f.name))
        .foldLeft(x)((d, f) => d.withColumn(f.name,
          lit(null).cast(f.dataType)))
      padded.select(padded.columns.sorted.map(col).toIndexedSeq: _*)
    }
    (pad(a, b), pad(b, a))
  }

  // ---------------------------------------------------------------
  // Incremental consumers
  // ---------------------------------------------------------------

  /** Incremental-sync consumer — the AvailableNow-style downstream a
    * 100 TB table feeds every few minutes. [[pending]] reads
    * everything that changed since the consumer's durable cursor;
    * the caller processes the batch, then [[ack]]s the delivered
    * version. A crash before the ack re-delivers the batch —
    * at-least-once, the standard contract. Returns None when already
    * caught up. */
  def pending(s: SparkSession, t: Table,
              consumer: String): Option[(Long, DataFrame, DataFrame)] = {
    val from = cursorOf(t, consumer)
    val to = latestVersion(t)
    if (to <= from) None
    else if (from < 0)
      Some((to, read(s, t, Some(to)), read(s, t, Some(to)).limit(0)))
    else {
      val (ins, del) = changes(s, t, from, to)
      Some((to, ins, del))
    }
  }

  /** Durably advance `consumer`'s cursor to `version` (processed).
    * The cursor swaps by write-tmp-then-ATOMIC_MOVE — one rename
    * syscall, so the cursor file always holds EXACTLY the old or the
    * new value: a crash mid-ack can re-deliver one batch (the
    * at-least-once contract) but can never regress the consumer to a
    * full-table replay, and racing acks simply last-write-win. */
  def ack(t: Table, consumer: String, version: Long): Unit = {
    val tmp = t.logDir.resolve(s".tmp-cursor-${UUID.randomUUID()}")
    Files.writeString(tmp, s"$version\n")
    try Files.move(tmp, cursorPath(t, consumer),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    finally Files.deleteIfExists(tmp)
  }

  private def cursorPath(t: Table, consumer: String): Path = {
    require(consumer.matches("[A-Za-z0-9_-]+"), s"bad consumer id: $consumer")
    t.logDir.resolve(s".cursor-$consumer")
  }

  private def cursorOf(t: Table, consumer: String): Long = {
    val p = cursorPath(t, consumer)
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  // ---------------------------------------------------------------
  // Vacuum
  // ---------------------------------------------------------------

  /** Delete every data file no longer live at the LATEST version.
    * Time travel to versions whose files are vacuumed stops working —
    * the same trade Delta's VACUUM makes; production deployments gate
    * it behind a retention horizon so an in-flight snapshot read can
    * always finish, and this immediate form is the zero-retention
    * setting of that contract FOR COMMITTED HISTORY ONLY: files under
    * a staging directory whose in-flight marker is younger than
    * `graceMs` belong to a LIVE WRITER that has staged but not yet
    * committed, and are never touched — reclaiming them would let the
    * writer's subsequent commit publish adds that point at deleted
    * files. A crashed writer's marker ages past the grace window and
    * its garbage is collected then. Change files under cdc/ are the
    * change feed, not table data — never vacuumed here. Returns
    * deleted count. */
  /** Expire every log file BELOW the newest checkpoint (which
    * summarizes all of them): the log-retention half of the cleanup
    * story — a year-old streaming table's _txnlog stays O(interval)
    * files after its data was long since compacted. Replay at or
    * above the checkpoint is untouched (it starts from the
    * checkpoint); snapshot/changes/stream requests BELOW it now fail
    * loudly with a retained-range message instead of resolving
    * incompletely. Superseded checkpoints go with their logs.
    * Returns the number of expired files. */
  def expireLog(t: Table): Int = {
    val ck = checkpointFiles(t).lastOption
    require(ck.nonEmpty,
      s"no checkpoint in ${t.logDir} yet: nothing can expire " +
        s"(checkpoints land every $CheckpointInterval commits)")
    val cv = versionOf(ck.get)
    val dead = versionFiles(t).filter(versionOf(_) < cv) ++
      checkpointFiles(t).filter(versionOf(_) < cv)
    dead.foreach(Files.deleteIfExists(_))
    dead.length
  }

  /** Reclaim change files under cdc/ that no RETAINED version file
    * references anymore — the companion of [[expireLog]] (expired
    * commits' change files become unreachable) honoring the same
    * in-flight staging grace as [[vacuum]]. Returns deleted count. */
  def vacuumChanges(t: Table, graceMs: Long = VacuumGraceMs): Int = {
    if (!Files.isDirectory(t.cdcDir)) return 0
    val referenced = versionFiles(t).flatMap(vf =>
      commitActions(vf).cdcFiles.map(_._1)).toSet
    val now = System.currentTimeMillis()
    val protectedStages = listing(Files.list(t.cdcDir))
      .filter(_.getFileName.toString.startsWith(".inflight-"))
      .filter(m => now - Files.getLastModifiedTime(m).toMillis < graceMs)
      .map(_.getFileName.toString.stripPrefix(".inflight-"))
      .toSet
    val dead = listing(Files.walk(t.cdcDir))
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .filter(p => !protectedStages.contains(p.getParent.getFileName.toString))
      .map(p => t.root.relativize(p).toString)
      .filterNot(referenced)
    dead.foreach(rel => Files.deleteIfExists(t.root.resolve(rel)))
    dead.length
  }

  /** The files [[vacuum]] WOULD reclaim under `graceMs` — the DRY RUN
    * audit (`VACUUM t DRY RUN`): the same dead-set computation,
    * nothing deleted. Root-relative paths, sorted. */
  def vacuumCandidates(t: Table, graceMs: Long = VacuumGraceMs): Seq[String] = {
    val live = snapshot(t).liveFiles.toSet
    // zero-copy change files (a REPLACE's removed files, a dropped
    // partition's files) live under data/ while a RETAINED commit
    // references them as `cdc ... delete` — reclaiming them would
    // break changes() and any lagging CDF stream over that range.
    // They free up once expireLog retires the referencing commit —
    // the same lifecycle vacuumChanges applies under cdc/.
    val referenced = versionFiles(t)
      .flatMap(vf => commitActions(vf).cdcFiles.map(_._1)).toSet
    val keep = live ++ referenced
    val now = System.currentTimeMillis()
    val protectedStages = listing(Files.list(t.dataDir))
      .filter(_.getFileName.toString.startsWith(".inflight-"))
      .filter(m => now - Files.getLastModifiedTime(m).toMillis < graceMs)
      .map(_.getFileName.toString.stripPrefix(".inflight-"))
      .toSet
    listing(Files.walk(t.dataDir))
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      // the grace check keys on the TOP-LEVEL stage dir — a
      // partitionBy stage nests its files one level deeper than the
      // marker, so the parent dir would be `<col>=<val>`, not the
      // staged uuid the marker names
      .filter(p => !protectedStages.contains(
        t.dataDir.relativize(p).getName(0).toString))
      .map(p => t.root.relativize(p).toString)
      .filterNot(keep)
      // orphaned DV sidecars are vacuum candidates too — the DRY RUN
      // audit must list everything vacuum() would delete
      .++(dvSidecarCandidates(t, graceMs)).sorted
  }

  def vacuum(t: Table, graceMs: Long = VacuumGraceMs): Int = {
    val dead = vacuumCandidates(t, graceMs)
    val now = System.currentTimeMillis()
    dead.foreach(rel => Files.deleteIfExists(t.root.resolve(rel)))
    // expired markers guard nothing anymore — sweep them with the files
    listing(Files.list(t.dataDir))
      .filter(_.getFileName.toString.startsWith(".inflight-"))
      .filter(m => now - Files.getLastModifiedTime(m).toMillis >= graceMs)
      .foreach(Files.deleteIfExists(_))
    dead.length
  }

  /** Deletion-vector SIDECARS no RETAINED log file (version or
    * checkpoint) references — orphans from refused commits, and
    * vectors whose referencing history [[expireLog]] retired. The
    * grace window protects a sidecar a live writer has written but
    * not yet committed (the same in-flight contract staged data
    * files get). Root-relative paths; reclaimed by [[vacuum]] and
    * listed by [[vacuumCandidates]] so DRY RUN stays a faithful
    * audit. */
  private def dvSidecarCandidates(t: Table,
      graceMs: Long): Seq[String] = {
    if (!Files.isDirectory(t.dvDir)) return Nil
    val referenced = (versionFiles(t) ++ checkpointFiles(t))
      .flatMap(vf => Files.readAllLines(vf).asScala.collect {
        case l if l.startsWith("dv\t") =>
          l.split('\t') match {
            case Array(_, _, enc) if enc.startsWith("@") =>
              Some(enc.substring(1))
            case _ => None
          }
      }.flatten).toSet
    val now = System.currentTimeMillis()
    listing(Files.list(t.dvDir))
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".dv"))
      .filter(p => now - Files.getLastModifiedTime(p).toMillis >= graceMs)
      .map(p => t.root.relativize(p).toString)
      .filterNot(referenced)
  }
}
