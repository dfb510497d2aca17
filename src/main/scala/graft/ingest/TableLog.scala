package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned snapshot log for a landed parquet table — the missing
  * last step of the maintenance loop. `optimize` (ZOrder.compact) and
  * `upsert` (SCD1/SCD2 merge) deliberately write the new table BESIDE
  * the live one and leave "swap it in" to the caller; TableLog makes
  * that swap an ATOMIC COMMIT with history.
  *
  * THE LOG IS INCREMENTAL (r16): a commit publishes a
  * `<dir>/_graft_log/v<10-digit>.delta` record holding the commit's
  * action, the snapshot SCHEMA (one JSON line), and only the CHANGED
  * file names — `add=` lines for files the commit moved in, `remove=`
  * lines for head files it did not carry. A maintenance pass that
  * rewrites 2 of a million files therefore writes (and a reader
  * tails) a 2-line record, not a million-line manifest — at the
  * 100 TB / millions-of-files target the old replace-all manifest
  * was O(table) metadata per commit, the exact problem Delta's
  * incremental actions + parquet checkpoints and Iceberg's manifest
  * lists exist to solve. Every [[CheckpointInterval]] commits (and at
  * v0, and at the retention floor after [[expire]]) a DERIVED
  * `v<N>.checkpoint` record lands beside the delta with the full
  * resolved file list, so resolving any snapshot reads one
  * checkpoint + at most [[CheckpointInterval]] deltas — never the
  * whole history.
  *
  *   - the delta RENAME is the atomic point: a crash before it leaves
  *     only unreferenced files and a `_tmp.` record — readers never
  *     see them, [[expire]] sweeps them once they age past its
  *     in-flight window;
  *   - after the rename the committer READS THE RECORD BACK and fails
  *     unless the bytes (which embed a per-commit UUID) are its own:
  *     on filesystems whose rename silently overwrites an existing
  *     destination (POSIX rename(2), several object-store
  *     connectors), two same-head racers would otherwise BOTH report
  *     success with one commit silently lost — the read-back turns
  *     the overwritten writer into a loud conflict. (A window remains
  *     between verify and return on overwrite-happy stores; HDFS-style
  *     fail-on-existing rename closes it entirely.)
  *   - readers resolve a snapshot (head or any retained `version`)
  *     and read EXACTLY its files — snapshot isolation against
  *     concurrent commits and expiry, and time travel for free;
  *   - each record pins the snapshot's SCHEMA, so [[read]] serves an
  *     evolved table correctly: files landed before an add-column
  *     migration null-fill the new column, and time travel to a
  *     pre-evolution version returns the old shape;
  *   - `expectedHead` gives optimistic single-writer concurrency: the
  *     commit fails if another writer advanced the log (conflict
  *     DETECTION, not resolution — re-run the maintenance pass on the
  *     new head; at 100 TB the pass is file-granular so the retry is
  *     cheap);
  *   - `expire` drops history beyond the retained window, data files
  *     no retained snapshot references, and crash debris — but a file
  *     NO record has ever referenced is indistinguishable from an
  *     IN-FLIGHT commit's freshly-moved file, so never-referenced
  *     files, `_tmp.` records and `_staging-*` dirs are only swept
  *     once older than `minAgeMs` (default [[DefaultExpireAgeMs]]);
  *     files referenced by an EXPIRED snapshot were published and are
  *     safe to drop at any age.
  *
  * Scale: commit metadata is O(changed files) + one schema line;
  * resolution is one checkpoint + a bounded delta tail; the
  * streaming tier's batch-id probe ([[actions]]) reads one line per
  * record and never a file list.
  *
  * r17 additions: checkpoints are PARQUET (written/read as
  * DataFrames behind an immutable-record cache — no whole-file
  * driver text parse; legacy text checkpoints still resolve);
  * [[commit]] grows disjoint-writer REBASE; [[changes]] +
  * [[ChangeFeed]] give resumable per-commit CDF consumption; and
  * [[deleteWhere]]/[[compactDeletes]] add merge-on-read deletes via
  * deletion-vector sidecars (see each method's contract).
  *
  * r18 additions: [[diffCommit]] makes the change feed
  * FILE-GRANULAR (per-commit diff from the delta record's own
  * add/remove lists — the last O(table) cost in the maintenance loop
  * gone); [[FileStats]] lines per moved file let [[scanWhere]] prune
  * any predicate before opening a data file; `ts=` stamps give
  * [[readAsOf]] timestamp time travel (clock-skew monotonicized);
  * [[unionSchema]] widens types on the Delta-style matrix with
  * scan-time upcast; and [[changes]]/[[diff]] pair delete+insert
  * into update pre/post images under optional `keys`. */
object TableLog {

  private val LogDir = "_graft_log"
  private val DvDir = "_graft_dv"

  /** A full-file-list checkpoint record lands every this-many
    * commits; resolution tails at most this many deltas. */
  val CheckpointInterval = 10

  /** Default in-flight window for [[expire]]: never-referenced files,
    * `_tmp.` records and `_staging-*` dirs younger than this are
    * presumed to belong to a live commit and kept. */
  val DefaultExpireAgeMs: Long = 3600L * 1000

  final case class SnapshotMeta(version: Int, action: String,
    files: Seq[String], schemaJson: Option[String] = None,
    tsMs: Option[Long] = None)
  final case class ExpireStats(manifestsDropped: Int, filesDropped: Int)

  /** One parsed log record. A delta's `files` is the RESOLVED
    * snapshot only after [[resolveWalk]] applies it; a checkpoint's
    * `files` is complete as written. */
  private final case class Record(action: String,
    schemaJson: Option[String], adds: Seq[String], removes: Seq[String],
    files: Seq[String], dvAdds: Seq[String] = Nil,
    dvRemoves: Seq[String] = Nil, dvs: Seq[String] = Nil,
    ts: Option[Long] = None, statsLines: Seq[String] = Nil)

  /** The wall clock stamped into each commit record (`ts=` header
    * line, r18 timestamp time travel). Package-private so specs can
    * script non-monotonic stamps; production always reads the real
    * clock. */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** One resolved snapshot: data file names, recorded schema, the
    * commit's action, the ACTIVE deletion-vector sidecar names
    * (r17 merge-on-read deletes), and per-file stats lines keyed by
    * file name (r18, see [[FileStats]]). */
  private final case class Resolved(files: Seq[String],
    schemaJson: Option[String], action: String, dvs: Seq[String],
    stats: Map[String, Seq[String]] = Map.empty)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def deltaPath(dir: String, v: Int): Path =
    new Path(dir, f"$LogDir/v$v%010d.delta")

  private def checkpointPath(dir: String, v: Int): Path =
    new Path(dir, f"$LogDir/v$v%010d.checkpoint")

  private def checkpointParquetPath(dir: String, v: Int): Path =
    new Path(dir, f"$LogDir/v$v%010d.checkpoint.parquet")

  /** (delta versions, checkpoint versions), each sorted. A
    * checkpoint version counts whether the record is the r17 parquet
    * form (`v<N>.checkpoint.parquet`) or the legacy text form
    * (`v<N>.checkpoint`) — old logs keep resolving unchanged. */
  private def listLog(f: FileSystem, dir: String): (Seq[Int], Seq[Int]) = {
    val log = new Path(dir, LogDir)
    if (!f.exists(log)) (Seq.empty, Seq.empty)
    else {
      val names = f.listStatus(log).toSeq.map(_.getPath.getName)
      def vs(suffix: String): Seq[Int] = names
        .filter(n => n.startsWith("v") && n.endsWith(suffix))
        .map(_.stripPrefix("v").stripSuffix(suffix).toInt)
      (vs(".delta").sorted,
        (vs(".checkpoint") ++ vs(".checkpoint.parquet"))
          .distinct.sorted)
    }
  }

  /** Highest committed version, None for an uninitialized table. */
  def head(spark: SparkSession, dir: String): Option[Int] =
    listLog(fs(spark, dir), dir)._1.lastOption

  /** Header lines lead (action, commit id, `ts=` wall-clock stamp)
    * so [[commitTimestamps]] never reads past them into the schema
    * or file lists. */
  private def render(action: String, commitId: String,
      schemaJson: Option[String], lines: Seq[(String, String)]): String =
    (Seq(s"action=$action", s"commit=$commitId", s"ts=${clock()}") ++
      schemaJson.map(j => s"schema=$j") ++
      lines.map { case (k, v) => s"$k=$v" }).mkString("", "\n", "\n")

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def parse(text: String): Record = {
    val lines = text.linesIterator.toSeq
    def all(k: String): Seq[String] =
      lines.filter(_.startsWith(k + "=")).map(_.drop(k.length + 1))
    Record(
      action = all("action").headOption.getOrElse("?"),
      schemaJson = all("schema").headOption,
      adds = all("add"), removes = all("remove"), files = all("file"),
      dvAdds = all("dvadd"), dvRemoves = all("dvremove"),
      dvs = all("dv"),
      ts = all("ts").headOption.flatMap(_.toLongOption),
      statsLines = all("stats"))
  }

  /** Publish `content` at `dst` via temp write + rename, then read it
    * back: the rename is the atomic point, the read-back catches a
    * same-head racer whose rename silently overwrote ours (see the
    * object Scaladoc). */
  private def publish(f: FileSystem, dir: String, dst: Path,
      content: String): Unit = {
    val tmp = new Path(dir,
      s"$LogDir/_tmp.${java.util.UUID.randomUUID()}")
    val bytes = content.getBytes("UTF-8")
    val out = f.create(tmp, false)
    try out.write(bytes) finally out.close()
    // ATOMIC EXCLUSIVE PUBLISH. The old exists-then-rename had a TOCTOU
    // window on local filesystems: POSIX rename(2) silently OVERWRITES
    // an existing destination, so two racers that both passed the
    // exists check could BOTH land — the first read-back verifies
    // before the second rename replaces it, and the second verifies its
    // own content, so both returned success and the first record was
    // lost (caught by TableLogTortureSpec's six-writer race under heavy
    // host load, r19). On file: schemes, publish via hard LINK instead:
    // link(2) fails atomically when the destination exists, the linked
    // content is the fully-written temp bytes, and a crash leaves only
    // a temp file (no claim debris that could block the version).
    // Non-local stores keep rename (atomic-exclusive on HDFS and
    // object-store committers) + the read-back as defense in depth.
    val dstQ = f.makeQualified(dst)
    val linked: Option[Boolean] =
      if (dstQ.toUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dstQ.toUri.getPath),
            java.nio.file.Paths.get(
              f.makeQualified(tmp).toUri.getPath))
          Some(true)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => Some(false)
          // no link support: unsupported, or refused by the filesystem
          // (EPERM, overlay/NFS quirks) — publish by rename instead
          case _: UnsupportedOperationException => None
          case _: java.nio.file.FileSystemException => None
        }
      } else None
    linked match {
      case Some(won) =>
        f.delete(tmp, false)
        if (!won)
          sys.error(s"concurrent commit of ${dst.getName} to $dir " +
            "lost the rename race")
      case None =>
        if (f.exists(dst) || !f.rename(tmp, dst)) {
          f.delete(tmp, false)
          sys.error(s"concurrent commit of ${dst.getName} to $dir " +
            "lost the rename race")
        }
    }
    if (readText(f, dst) != content)
      sys.error(s"concurrent commit of ${dst.getName} to $dir " +
        "overwrote ours after the rename — commit lost, files staged " +
        "by this writer are orphans (expire sweeps them)")
  }

  /** (version, action) per commit, oldest first — read from each
    * record's FIRST LINE only, never a file list: the streaming
    * tier's per-micro-batch id probe must stay O(history), not
    * O(history × table files). */
  def actions(spark: SparkSession, dir: String): Seq[(Int, String)] = {
    val f = fs(spark, dir)
    listLog(f, dir)._1.map { v =>
      val in = f.open(deltaPath(dir, v))
      val line = try {
        new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8")).readLine()
      } finally in.close()
      v -> Option(line).filter(_.startsWith("action="))
        .fold("?")(_.drop(7))
    }
  }

  /** (version, commit wall-clock ms) per retained commit, oldest
    * first — None for pre-r18 records. Reads only each record's
    * HEADER lines (`ts=` precedes the schema and file lists), so the
    * probe is O(history) like [[actions]], never O(history × table
    * files). */
  def commitTimestamps(spark: SparkSession, dir: String)
      : Seq[(Int, Option[Long])] = {
    val f = fs(spark, dir)
    listLog(f, dir)._1.map { v =>
      val in = f.open(deltaPath(dir, v))
      val ts = try {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        Iterator.continually(r.readLine())
          .takeWhile(l => l != null && !l.startsWith("schema=") &&
            !l.startsWith("add=") && !l.startsWith("remove=") &&
            !l.startsWith("file=") && !l.startsWith("dvadd="))
          .collectFirst { case l if l.startsWith("ts=") =>
            l.drop(3).toLongOption }.flatten
      } finally in.close()
      v -> ts
    }
  }

  /** Timestamp time travel: the newest retained version whose commit
    * stamp is at or before `tsMs` — "AS OF yesterday". Wall clocks
    * skew, so resolution MONOTONICIZES first (the effective stamp of
    * v is the max stamp at or below v): a commit stamped earlier
    * than its predecessor can never make history non-causal, and
    * as-of returns the version a live reader at that instant would
    * have seen. Pre-r18 records carry no stamp and inherit their
    * predecessor's effective stamp (an unstamped prefix counts as
    * "before any time"). Fails loudly when `tsMs` predates the whole
    * retained history — expired history is unrecoverable, not
    * silently rounded up. */
  def asOfVersion(spark: SparkSession, dir: String, tsMs: Long): Int = {
    val stamps = commitTimestamps(spark, dir)
    require(stamps.nonEmpty, s"$dir has no log — run init first")
    var eff = Long.MinValue
    val effective = stamps.map { case (v, ts) =>
      eff = math.max(eff, ts.getOrElse(eff))
      v -> eff
    }
    val cand = effective.takeWhile(_._2 <= tsMs) // eff is non-decreasing
    require(cand.nonEmpty,
      s"as-of $tsMs predates the retained history of $dir (earliest " +
        s"commit stamp ${effective.head._2}) — that history has " +
        "expired or the table is younger than the target")
    cand.last._1
  }

  /** [[read]] at the [[asOfVersion]]-resolved snapshot. */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    read(spark, dir, Some(asOfVersion(spark, dir, tsMs)))

  /** Checkpoint records are IMMUTABLE once published (publish never
    * overwrites a destination), so resolved checkpoints cache
    * process-wide — a commit stream over the same table re-reads the
    * checkpoint zero times until the next one lands. Bounded: cleared
    * wholesale past 64 entries (tables in a process are few; this is
    * a correctness-safe cache, not an LRU).
    *
    * Keyed by the FULLY-QUALIFIED table URI (r18): the bare URI path
    * would collide two tables at the same path on different
    * filesystems/buckets (file:/data/t vs hdfs://nn/data/t both
    * reduce to /data/t) and silently serve each other's file lists.
    * Each entry also pins the checkpoint file's (path, length,
    * mtime) and is validated against the live FileStatus before
    * serving: "immutable once published" does not survive an
    * out-of-band rm -rf + re-init at the same path in a long-lived
    * driver, so a changed or missing status drops the entry instead
    * of serving the dead table's checkpoint. */
  private final case class CachedCp(rec: Record, path: String,
    len: Long, mtime: Long)
  private val cpCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), CachedCp]()

  /** Test/profile hook: drop the immutable-checkpoint cache so a
    * resolve measures the cold read path. */
  private[graft] def dropCheckpointCache(): Unit = cpCache.clear()

  /** Read checkpoint `cv` — the r17 parquet form when present (one
    * (kind, value) row per action/schema/file entry, written and read
    * as a DataFrame: columnar, compressed, no whole-file driver text
    * parse), else the legacy text record. */
  private def readCheckpoint(spark: SparkSession, f: FileSystem,
      dir: String, cv: Int): Record = {
    val key = (f.makeQualified(new Path(dir)).toUri.toString, cv)
    val hit = cpCache.get(key)
    if (hit != null) {
      val live = try {
        val st = f.getFileStatus(new Path(hit.path))
        st.getLen == hit.len && st.getModificationTime == hit.mtime
      } catch { case _: java.io.FileNotFoundException => false }
      if (live) return hit.rec
      cpCache.remove(key)
    }
    val pq = checkpointParquetPath(dir, cv)
    val (rec, src) =
      if (f.exists(pq)) {
        val rows = spark.read.parquet(pq.toString)
          .collect().map(r => r.getString(0) -> r.getString(1))
        (Record(
          action = rows.collectFirst { case ("action", a) => a }
            .getOrElse("?"),
          schemaJson = rows.collectFirst { case ("schema", s) => s },
          adds = Nil, removes = Nil,
          files = rows.toSeq.collect { case ("file", n) => n },
          dvs = rows.toSeq.collect { case ("dv", n) => n },
          statsLines = rows.toSeq.collect {
            case ("stats", s) => s }), pq)
      } else {
        val txt = checkpointPath(dir, cv)
        (parse(readText(f, txt)), txt)
      }
    if (cpCache.size > 64) cpCache.clear()
    val st = f.getFileStatus(src)
    cpCache.put(key, CachedCp(rec, src.toString, st.getLen,
      st.getModificationTime))
    rec
  }

  /** Resolve (sorted file list, schema) for each requested version in
    * ONE walk: start from the newest checkpoint at or below the
    * lowest target, apply deltas forward. O(checkpoint + tail), and
    * the multi-target form (history, expire) shares the walk. */
  private def resolveWalk(spark: SparkSession, f: FileSystem,
      dir: String, deltas: Seq[Int], cps: Seq[Int], targets: Seq[Int])
      : Map[Int, Resolved] = {
    if (targets.isEmpty) return Map.empty
    val lo = targets.min
    val hi = targets.max
    val want = targets.toSet
    val out = Map.newBuilder[Int, Resolved]
    var files = Set.empty[String]
    var dvs = Set.empty[String]
    var stats = Map.empty[String, Seq[String]]
    val start = cps.filter(_ <= lo).maxOption match {
      case Some(cv) =>
        val rec = readCheckpoint(spark, f, dir, cv)
        files = rec.files.toSet
        dvs = rec.dvs.toSet
        stats = rec.statsLines.groupBy(FileStats.fileOf)
        if (want(cv)) out += cv -> Resolved(rec.files.sorted,
          rec.schemaJson, rec.action, rec.dvs.sorted, stats)
        cv + 1
      case None =>
        require(deltas.headOption.contains(0) && deltas.head <= lo,
          s"no checkpoint at or below v$lo and no v0 delta in $dir — " +
            "history is unresolvable (expired without a floor " +
            "checkpoint?)")
        0
    }
    (start to hi).foreach { v =>
      require(deltas.contains(v),
        s"log gap: v$v missing from $dir while resolving v$hi")
      val rec = parse(readText(f, deltaPath(dir, v)))
      files = files -- rec.removes ++ rec.adds
      dvs = dvs -- rec.dvRemoves ++ rec.dvAdds
      stats = stats -- rec.removes ++
        rec.statsLines.groupBy(FileStats.fileOf)
      if (want(v)) out += v -> Resolved(files.toSeq.sorted,
        rec.schemaJson, rec.action, dvs.toSeq.sorted, stats)
    }
    out.result()
  }

  private def resolveOne(spark: SparkSession, f: FileSystem,
      dir: String, v: Int): Resolved = {
    val (deltas, cps) = listLog(f, dir)
    require(deltas.nonEmpty, s"$dir has no log — run init first")
    require(deltas.contains(v),
      s"v$v not in retained history ${deltas.mkString("[", ",", "]")}")
    resolveWalk(spark, f, dir, deltas, cps, Seq(v))(v)
  }

  /** Land the full-file-list checkpoint as PARQUET (r17): one
    * (kind, value) row per action/schema/file entry, written as a
    * single-file DataFrame and renamed into place. A checkpoint is a
    * DERIVED artifact — if another writer already published this
    * version's, ours is logically identical and simply discarded. */
  private def writeCheckpoint(spark: SparkSession, f: FileSystem,
      dir: String, v: Int, action: String, schemaJson: Option[String],
      files: Seq[String], dvs: Seq[String] = Nil,
      statsLines: Seq[String] = Nil): Unit = {
    import spark.implicits._
    val rows = (Seq("action" -> action) ++
      schemaJson.map("schema" -> _) ++
      files.sorted.map("file" -> _) ++
      dvs.sorted.map("dv" -> _) ++
      statsLines.sorted.map("stats" -> _)).toDF("kind", "value")
    val tmp = new Path(dir,
      s"$LogDir/_tmp.${java.util.UUID.randomUUID()}.cp")
    rows.coalesce(1).write.parquet(tmp.toString)
    val part = f.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"checkpoint write produced no part file " +
        s"under $tmp"))
    val dst = checkpointParquetPath(dir, v)
    if (!f.exists(dst)) f.rename(part, dst)
    // a silently-failed rename must not pass: for interval
    // checkpoints it would only cost a longer delta tail, but
    // [[expire]] checkpoints the new retention FLOOR and then drops
    // every older record — losing that write leaves the retained
    // tail with no checkpoint at or below the floor and the whole
    // table unresolvable. (A concurrent writer having already
    // published the identical derived record satisfies this too.)
    require(f.exists(dst),
      s"checkpoint publish failed: rename $part -> $dst lost")
    f.delete(tmp, true)
  }

  private def dataFiles(f: FileSystem, dir: String): Seq[String] =
    f.listStatus(new Path(dir)).toSeq
      .filter(_.isFile)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** Widen `a` and `b` to their least common type on the WIDENING
    * matrix (r18, the Delta-style slice Spark 4's parquet readers
    * upcast at scan time): the integral chain byte → short → int →
    * long, float → double, a ≤32-bit integral → double, and decimal
    * precision growth at the same scale. None for anything else —
    * int → string or long → int is a migration, not a merge. */
  private[ingest] def widen(a: DataType, b: DataType): Option[DataType] = {
    import org.apache.spark.sql.types._
    if (a == b) return Some(a)
    val chain = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    val ia = chain.indexOf(a)
    val ib = chain.indexOf(b)
    (a, b) match {
      case _ if ia >= 0 && ib >= 0 => Some(chain(math.max(ia, ib)))
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (_, DoubleType) if ia >= 0 && ia <= 2 => Some(DoubleType)
      case (DoubleType, _) if ib >= 0 && ib <= 2 => Some(DoubleType)
      case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
        Some(DecimalType(math.max(x.precision, y.precision), x.scale))
      case _ => None
    }
  }

  /** Union-by-name of two schemas — the evolution merge: base fields
    * keep their position, new fields append, and a same-name field
    * whose types sit on the [[widen]] matrix resolves to the WIDER
    * type. Old (narrow) files never rewrite: Spark 4's parquet
    * readers upcast them at scan time under the recorded wider
    * schema, exactly as add-column files null-fill — and time travel
    * to a pre-widening version still reads the narrow shape. Any
    * other same-name type change fails loudly (a migration, not a
    * merge). */
  private[ingest] def unionSchema(base: StructType, next: StructType)
      : StructType = {
    val nextByName = next.fields.map(fld => fld.name -> fld).toMap
    val baseNames = base.fields.map(_.name).toSet
    val merged = base.fields.map { fld =>
      nextByName.get(fld.name) match {
        case Some(n) if n.dataType != fld.dataType =>
          val w = widen(fld.dataType, n.dataType)
          require(w.isDefined,
            s"schema conflict on column ${fld.name}: " +
              s"${fld.dataType.simpleString} vs " +
              s"${n.dataType.simpleString} is not a widening — " +
              "migrate explicitly")
          fld.copy(dataType = w.get)
        case _ => fld
      }
    }
    StructType(merged ++
      next.fields.filterNot(fld => baseNames.contains(fld.name)))
  }

  /** Snapshot v0 from the files already in `dir` (a RangeSink root's
    * published ranges, a plain write — any flat parquet directory).
    * Records the table schema and lands the v0 checkpoint. */
  def init(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    require(listLog(f, dir)._1.isEmpty, s"$dir already has a log")
    val files = dataFiles(f, dir)
    val schemaJson =
      if (files.isEmpty) None
      else Some(spark.read.parquet(
        files.map(n => new Path(dir, n).toString): _*).schema.json)
    val stats = FileStats.forFiles(spark, dir, files)
    publish(f, dir, deltaPath(dir, 0),
      render("init", java.util.UUID.randomUUID().toString, schemaJson,
        files.sorted.map("add" -> _) ++ stats.sorted.map("stats" -> _)))
    writeCheckpoint(spark, f, dir, 0, "init", schemaJson, files,
      statsLines = stats)
    0
  }

  /** Commit `fromDir`'s files (an optimize/upsert output) as the next
    * snapshot: files MOVE into `dir` under a `v<N>-` prefix, then the
    * delta-record rename publishes them as the new head atomically.
    * `expectedHead` rejects the commit if another writer advanced the
    * log since the maintenance pass read its input.
    *
    * `carry` is the ZERO-COPY path: names of files the new snapshot
    * SHARES with the current head (a maintenance pass's untouched
    * files — `IncrementalAgg.incrementShared` returns them). They are
    * referenced, never moved or copied — a file lives once in the
    * directory and in as many snapshots as retain it; [[expire]]'s
    * referenced-set union keeps a shared file alive until the LAST
    * retaining snapshot expires. Every carried name must be in the
    * head snapshot — carrying a foreign or expired name would publish
    * a snapshot that cannot be read. The delta records `add=` lines
    * for moved files and `remove=` lines for head files NOT carried —
    * O(changed), never O(table).
    *
    * The snapshot schema is the union of the head's (when anything is
    * carried) and the moved files' — an add-column change feed
    * evolves the table; old files null-fill on read.
    *
    * REBASE (r17): with `rebase = true`, an expectedHead conflict
    * auto-resolves when the interleaved commits' removed-file sets
    * are DISJOINT from this pass's touched set (the expected-head
    * files it did not carry): the commit replays against the new
    * head, carrying everything the new head holds except the files
    * this pass rewrote/dropped — so two maintenance passes over
    * different files both land without a retry, Delta-style logical
    * conflict resolution at FILE granularity. Overlapping touched
    * sets still fail loudly (the loser's rewrite read stale rows).
    * File granularity is the contract's limit: two INSERTS of the
    * same key touch no common file and both land (a duplicate-key
    * append) — rebase is for callers whose concurrent passes own
    * disjoint key domains; otherwise serialize on expectedHead. */
  def commit(spark: SparkSession, dir: String, fromDir: String,
      action: String, expectedHead: Option[Int] = None,
      carry: Seq[String] = Nil, rebase: Boolean = false,
      dropDvs: Boolean = false): Int = {
    val f = fs(spark, dir)
    val carryNames0 = carry.map(c => new Path(c).getName)

    /** Everything the publish depends on, recomputed per attempt —
      * the rebase path re-prepares against whatever head a racer
      * left. */
    final case class Prep(v: Int, carryNames: Seq[String],
      removes: Seq[String], headRes: Resolved, headFiles: Set[String])

    def prepare(): Prep = {
      val (deltas, cps) = listLog(f, dir)
      require(deltas.nonEmpty, s"$dir has no log — run init first")
      val headV = deltas.last
      val rebasing = rebase && expectedHead.exists(_ != headV)
      expectedHead.foreach(e => require(rebasing || headV == e,
        s"conflict: head is v$headV, expected v$e — " +
          "re-run the maintenance pass against the new head"))
      val headRes = resolveWalk(spark, f, dir, deltas, cps,
        Seq(headV))(headV)
      val headFiles = headRes.files.toSet
      val carryNames: Seq[String] =
        if (!rebasing) carryNames0
        else {
          val e = expectedHead.get
          require(deltas.contains(e),
            s"cannot rebase: expected head v$e expired from retained " +
              s"history ${deltas.mkString("[", ",", "]")}")
          val eFiles = resolveWalk(spark, f, dir, deltas, cps,
            Seq(e))(e).files.toSet
          val badE = carryNames0.filterNot(eFiles.contains)
          require(badE.isEmpty,
            s"carry names not in expected-head snapshot v$e: " +
              s"${badE.take(3).mkString(", ")}")
          val touched = eFiles -- carryNames0
          val interleavedRemoved = ((e + 1) to headV)
            .flatMap(v => parse(readText(f, deltaPath(dir, v))).removes)
            .toSet
          val clash = touched & interleavedRemoved
          require(clash.isEmpty,
            s"rebase conflict: commits v${e + 1}..v$headV touched the " +
              s"same files this pass rewrote (${clash.take(3)
                .mkString(", ")}) — its rewrite read stale rows; " +
              "re-run the maintenance pass against the new head")
          // replay: keep everything the new head holds except the
          // files this pass explicitly rewrote/dropped (all still
          // present — disjointness just proved no interleaved commit
          // removed them)
          (headFiles -- touched).toSeq
        }
      val bad = carryNames.filterNot(headFiles.contains)
      require(bad.isEmpty,
        s"carry names not in head snapshot v$headV: " +
          s"${bad.take(3).mkString(", ")}")
      val removes = headRes.files.filterNot(carryNames.toSet)
      // active DVs either carry untouched (default: a commit that
      // never read raw files cannot invalidate them) or drop
      // wholesale when the committer materialized them
      // (compactDeletes). Checked BEFORE any file moves so a refused
      // commit leaves no orphans.
      require(dropDvs || headRes.dvs.isEmpty || removes.isEmpty,
        s"commit would rewrite files of a snapshot carrying " +
          s"${headRes.dvs.size} active deletion vector(s) without " +
          "materializing them — run compactDeletes first")
      Prep(headV + 1, carryNames, removes, headRes, headFiles)
    }

    var prep = prepare()
    val v = prep.v
    val from = fs(spark, fromDir)
    // version-prefix the moved name, stripping prefixes accumulated by
    // earlier commits (a never-rewritten file copied through N
    // maintenance passes must not grow N prefixes); stripped names can
    // collide within one commit — disambiguate with an ordinal
    val used = scala.collection.mutable.Set.empty[String]
    val moved = dataFiles(from, fromDir).map { n =>
      val base = n.replaceAll("^(v\\d+(-\\d+)?-)+", "")
      val dst0 = s"v$v-$base"
      val dst =
        if (used.add(dst0)) dst0
        else {
          var i = 1
          while (!used.add(s"v$v-$i-$base")) i += 1
          s"v$v-$i-$base"
        }
      require(from.rename(new Path(fromDir, n), new Path(dir, dst)),
        s"move of $n from $fromDir failed")
      // re-stamp mtime to MOVE-IN time: rename preserves the staging
      // write's mtime, so a slow maintenance pass's output would look
      // "old" the instant it lands and a concurrent expire's in-flight
      // age gate (which can only judge never-referenced files by age)
      // could sweep it in the window before the delta publishes
      f.setTimes(new Path(dir, dst), System.currentTimeMillis(), -1)
      dst
    }
    require(moved.nonEmpty || prep.carryNames.nonEmpty,
      s"$fromDir holds no data files and nothing carried")
    // snapshot schema: moved-file footers only (O(changed)), unioned
    // with the head's recorded schema when the commit carries
    val movedSchema =
      if (moved.isEmpty) new StructType()
      else spark.read.parquet(
        moved.map(n => new Path(dir, n).toString): _*).schema
    // per-file column stats from the moved files' FOOTERS only —
    // O(changed), recorded in the delta so scanWhere prunes without
    // opening data files (carried files keep their recorded lines)
    val movedStats = FileStats.forFiles(spark, dir, moved)

    // publish-attempt loop: files moved ONCE above; a rebasing commit
    // that loses the RENAME race to another racer re-prepares against
    // the new head and re-publishes the same moved names at the next
    // version (the v-prefix in a moved name is cosmetic — uniqueness
    // comes from the staged names; later commits strip prefixes).
    // Non-rebase commits keep the loud single-shot contract.
    var attempts = 0
    var out = -1
    while (out < 0) {
      val pv = prep.v
      val headSchema = prep.headRes.schemaJson
      val schemaJson =
        (if (prep.carryNames.nonEmpty) headSchema else None) match {
          case Some(h) => Some(unionSchema(
            DataType.fromJson(h).asInstanceOf[StructType],
            movedSchema).json)
          case None => if (moved.isEmpty) headSchema
            else Some(movedSchema.json)
        }
      val dvRemoves = if (dropDvs) prep.headRes.dvs else Nil
      try {
        publish(f, dir, deltaPath(dir, pv),
          render(action, java.util.UUID.randomUUID().toString,
            schemaJson,
            prep.removes.sorted.map("remove" -> _) ++
              moved.sorted.map("add" -> _) ++
              dvRemoves.sorted.map("dvremove" -> _) ++
              movedStats.sorted.map("stats" -> _)))
        // defense in depth behind the mtime re-stamp above: if a
        // concurrent expire still swept a moved file before the
        // publish, the snapshot just published references a deleted
        // file — fail LOUDLY rather than let readers hit FileNotFound
        val gone = moved.filterNot(n => f.exists(new Path(dir, n)))
        if (gone.nonEmpty) sys.error(
          s"commit v$pv published a snapshot referencing files a " +
            s"concurrent expire deleted: ${gone.take(3).mkString(", ")}" +
            s" — the head is corrupt; restore from v${pv - 1} and " +
            "re-run the maintenance pass (raise expire's minAgeMs)")
        // derived, non-atomic-with-the-commit: a crash here only
        // costs readers a longer delta tail until the next multiple
        if (pv % CheckpointInterval == 0)
          writeCheckpoint(spark, f, dir, pv, action, schemaJson,
            (prep.headFiles -- prep.removes ++ moved).toSeq,
            if (dropDvs) Nil else prep.headRes.dvs,
            (prep.headRes.stats -- prep.removes).values.flatten.toSeq ++
              movedStats)
        out = pv
      } catch {
        case e: RuntimeException
            if rebase && expectedHead.isDefined && attempts < 5 &&
              e.getMessage != null &&
              (e.getMessage.contains("lost the rename race") ||
                e.getMessage.contains("overwrote ours")) =>
          attempts += 1
          prep = prepare() // loud if the racer touched our files
      }
    }
    out
  }

  /** Absolute paths of a snapshot's data files — the table-file list
    * maintenance passes should read (the directory also holds other
    * versions' files).
    *
    * DELETION VECTORS (r17): when the snapshot carries active DVs,
    * the raw files hold rows [[deleteWhere]] already deleted — a
    * maintenance pass reading them would resurrect those rows, so
    * this fails LOUDLY until [[compactDeletes]] materializes the
    * deletes (or pass `allowDvs = true` for a caller that applies
    * [[snapshotDvs]] itself, as [[read]] does). */
  def snapshotFiles(spark: SparkSession, dir: String,
      version: Option[Int] = None, allowDvs: Boolean = false)
      : Seq[String] = {
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    val res = resolveOne(spark, f, dir, v)
    require(allowDvs || res.dvs.isEmpty,
      s"snapshot v$v of $dir carries ${res.dvs.size} active deletion " +
        "vector(s): raw file reads would resurrect deleted rows — run " +
        "compactDeletes first, or read through TableLog.read")
    res.files.map(n => new Path(dir, n).toString)
  }

  /** Absolute paths of a snapshot's active deletion-vector sidecars
    * (empty when all deletes are materialized). */
  def snapshotDvs(spark: SparkSession, dir: String,
      version: Option[Int] = None): Seq[String] = {
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    resolveOne(spark, f, dir, v).dvs
      .map(n => new Path(dir, s"$DvDir/$n").toString)
  }

  /** A snapshot's recorded schema (None only for an empty init). */
  def schemaOf(spark: SparkSession, dir: String,
      version: Option[Int] = None): Option[StructType] = {
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    resolveOne(spark, f, dir, v).schemaJson
      .map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Read a snapshot: the head, or any retained `version` — EXACTLY
    * the snapshot's files under its RECORDED schema, immune to later
    * commits and expiry. Schema evolution reconciles here: a file
    * landed before an add-column migration null-fills the new column,
    * and time travel to a pre-evolution version returns the old
    * shape. */
  def read(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    val res = resolveOne(spark, f, dir, v)
    val files = res.files
    val schema = res.schemaJson.map(DataType.fromJson(_)
      .asInstanceOf[StructType])
    val base = (files.isEmpty, schema) match {
      case (true, None) => spark.emptyDataFrame
      case (true, Some(s)) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case (false, None) => spark.read.parquet(
        files.map(n => new Path(dir, n).toString): _*)
      case (false, Some(s)) => spark.read.schema(s).parquet(
        files.map(n => new Path(dir, n).toString): _*)
    }
    if (res.dvs.isEmpty || files.isEmpty) base
    else antiJoinDvs(spark, base,
      res.dvs.map(n => new Path(dir, s"$DvDir/$n").toString))
  }

  /** STATS-PRUNED snapshot scan (r18): skip every file whose
    * log-recorded per-file column stats ([[FileStats]]) PROVABLY
    * exclude `predicate`, then read the survivors under the recorded
    * schema (DVs applied) and re-apply the FULL predicate — so the
    * result is always `read(version).filter(predicate)`, lossless by
    * construction, and at the 100 TB target a point or range
    * predicate on ANY stats-covered column opens only the files that
    * can match, before a single parquet footer is touched. Files
    * without stats (pre-r18 commits) are never pruned. */
  def scanWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      version: Option[Int] = None): DataFrame = {
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    val res = resolveOne(spark, f, dir, v)
    val schema = res.schemaJson.map(DataType.fromJson(_)
      .asInstanceOf[StructType])
    val kept = FileStats.analyzedCondition(spark,
        schema.getOrElse(new StructType()), predicate)
      .map(c => FileStats.prune(res.files, res.stats,
        schema.getOrElse(new StructType()), c))
      .getOrElse(res.files)
    val base = (kept.isEmpty, schema) match {
      case (true, None) => spark.emptyDataFrame
      case (true, Some(s)) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case (false, None) => spark.read.parquet(
        kept.map(n => new Path(dir, n).toString): _*)
      case (false, Some(s)) => spark.read.schema(s).parquet(
        kept.map(n => new Path(dir, n).toString): _*)
    }
    val withDvs =
      if (res.dvs.isEmpty || kept.isEmpty) base
      else antiJoinDvs(spark, base,
        res.dvs.map(n => new Path(dir, s"$DvDir/$n").toString))
    withDvs.filter(predicate)
  }

  /** A SOUND probe subset for
    * [[graft.operators.Upsert.mergeShared]]'s `probeFiles`: the
    * snapshot files whose log-recorded stats on `keyCol` can hold
    * ANY key in `keyFrame` (single column, same name). A point
    * upsert on a stats-covered clustered table probes the files its
    * keys can live in instead of key-column-scanning the whole
    * snapshot — the FileStats discipline applied to the maintenance
    * loop's own probe. Sound by construction: files without a stats
    * line for `keyCol` are always candidates, an all-null-stats file
    * cannot hold a (non-null) key, and unsupported key typing
    * returns EVERY file. Integral and string keys only (the exact
    * comparison domains [[FileStats]] pins); the containment join
    * broadcasts the metadata-sized ranges frame. */
  def statsCandidates(spark: SparkSession, dir: String, keyCol: String,
      keyFrame: DataFrame, version: Option[Int] = None)
      : Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.types._
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    val res = resolveOne(spark, f, dir, v)
    val all = res.files.map(n => new Path(dir, n).toString)
    val keyType = res.schemaJson.map(DataType.fromJson(_)
      .asInstanceOf[StructType])
      .flatMap(_.fields.find(_.name == keyCol)).map(_.dataType)
    val wantKind = keyType match {
      case Some(ByteType | ShortType | IntegerType | LongType) => "l"
      case Some(StringType) => "s"
      case _ => return all // unsupported key typing: no pruning
    }
    // (file, min, max) for files with a usable keyCol line; files
    // with an all-null key column are provably key-free
    val parsed = res.files.map { n =>
      val line = res.stats.getOrElse(n, Nil)
        .flatMap(FileStats.parseLine)
        .collectFirst { case (_, c, st) if c == keyCol => st }
      n -> line
    }
    val unstatted = parsed.collect {
      case (n, None) => n
      case (n, Some(st)) if st.kind != wantKind => n
    }
    val ranged = parsed.collect {
      case (n, Some(st)) if st.kind == wantKind && st.hasMinMax =>
        (n, st.min, st.max)
    } // all-null files (hasMinMax=false, nulls==rows) drop out; a
      // file with unknown nulls still records hasMinMax from values
    if (ranged.isEmpty)
      return unstatted.map(n => new Path(dir, n).toString)
    import spark.implicits._
    val rangesDf = wantKind match {
      case "l" => ranged.map { case (n, mn, mx) =>
        (n, mn.toLong, mx.toLong) }.toDF("__f", "__mn", "__mx")
      case _ => ranged.toDF("__f", "__mn", "__mx")
    }
    val keyCast =
      if (wantKind == "l") col(keyCol).cast(LongType) else col(keyCol)
    val hit = keyFrame.select(keyCast.as("__k")).na.drop().distinct()
      .join(broadcast(rangesDf),
        col("__k") >= col("__mn") && col("__k") <= col("__mx"))
      .select("__f").distinct()
      .as[String].collect().toSet
    (unstatted ++ res.files.filter(hit.contains))
      .map(n => new Path(dir, n).toString)
  }

  /** The pruned file count behind [[scanWhere]] — package-visible so
    * specs and declared queries can REQUIRE the pruning actually
    * happened. Returns (kept file names, total snapshot files). */
  private[graft] def prunedFiles(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      version: Option[Int] = None): (Seq[String], Int) = {
    val f = fs(spark, dir)
    val v = version.getOrElse(listLog(f, dir)._1.lastOption.getOrElse(
      sys.error(s"$dir has no log — run init first")))
    val res = resolveOne(spark, f, dir, v)
    val schema = res.schemaJson.map(DataType.fromJson(_)
      .asInstanceOf[StructType]).getOrElse(new StructType())
    (FileStats.analyzedCondition(spark, schema, predicate)
      .map(c => FileStats.prune(res.files, res.stats, schema, c))
      .getOrElse(res.files),
      res.files.size)
  }

  /** Merge-on-read application: anti-join a file-source frame against
    * deletion-vector sidecars on (file name, physical row index) —
    * the DV frame is delete-sized, the join rides a broadcast; stale
    * DV rows for files later commits rewrote never match (names are
    * unique). `df` must be a DIRECT parquet scan (the `_metadata`
    * column resolves only on file sources). */
  private[graft] def antiJoinDvs(spark: SparkSession, df: DataFrame,
      dvPaths: Seq[String]): DataFrame = {
    if (dvPaths.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col}
    val dv = spark.read.parquet(dvPaths: _*)
    val cols = df.columns.toSeq
    df
      .withColumn("__dv_f", col("_metadata.file_name"))
      .withColumn("__dv_ri", col("_metadata.row_index"))
      .join(broadcast(dv),
        col("__dv_f") === dv("file") &&
          col("__dv_ri") === dv("row_index"),
        "left_anti")
      .select(cols.map(col): _*)
  }

  /** Change-data feed between two retained snapshots: rows only in
    * `to` tagged `insert`, rows only in `from` tagged `delete` (an
    * update is its delete+insert pair — the minimal complete contract;
    * readers needing pre/post images pair them on the key). Multiset
    * semantics via exceptAll, so duplicate rows diff by count. Across
    * an add-column evolution both sides read under the NEWER schema
    * (unionByName would fail otherwise; the old side null-fills).
    *
    * An ADJACENT pair routes through [[diffCommit]] — O(the commit's
    * changed files), computed from the delta record's own add/remove
    * lists; an arbitrary span pays the two-snapshot exceptAll.
    *
    * `keys` (r18, optional): pair each delete+insert sharing the key
    * columns into `update_preimage`/`update_postimage` — the Delta
    * CDF update shape — via [[pairUpdates]]; unpaired rows keep
    * their insert/delete tags. */
  def diff(spark: SparkSession, dir: String, fromV: Int, toV: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val raw =
      if (toV == fromV + 1) diffCommit(spark, dir, toV)
      else diffSnapshots(spark, dir, fromV, toV)
    if (keys.isEmpty) raw else pairUpdates(raw, keys, Nil)
  }

  /** Tag each delete+insert pair sharing `keys` (within one
    * `partCols` group — the commit, for a multi-commit feed) as an
    * UPDATE: the delete becomes `update_preimage`, the insert
    * `update_postimage`; unpaired rows keep their tags. Duplicate
    * keys pair positionally by a deterministic rank over the
    * remaining columns (consumers wanting exact multi-row pairing
    * need a genuinely unique key — same as Delta CDF); rows whose
    * key columns hold NULL never pair. One delete-sized shuffle on
    * (group, key), no table reads. */
  private def pairUpdates(df: DataFrame, keys: Seq[String],
      partCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number}
    val dataCols = df.columns.toSeq
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    val bad = keys.filterNot(dataCols.contains)
    require(bad.isEmpty,
      s"pair keys not in the feed's columns: ${bad.mkString(", ")}")
    val orderCols = dataCols.filterNot(keys.contains).map(col)
    val w = Window
      .partitionBy((partCols ++ keys :+ "_change_type").map(col): _*)
      .orderBy((orderCols :+ lit(1)): _*)
    val ranked = df.withColumn("__rn", row_number().over(w))
      .localCheckpoint(eager = false)
    val del = ranked.filter(col("_change_type") === "delete")
    val ins = ranked.filter(col("_change_type") === "insert")
    val joinCols = partCols ++ keys :+ "__rn"
    def side(rows: DataFrame, other: DataFrame, tag: String)
        : DataFrame = {
      val otherKeys = other.select(joinCols.map(col): _*)
      rows.join(otherKeys, joinCols, "left_semi")
        .withColumn("_change_type", lit(tag))
        .unionByName(rows.join(otherKeys, joinCols, "left_anti"))
    }
    side(del, ins, "update_preimage")
      .unionByName(side(ins, del, "update_postimage"))
      .drop("__rn")
      .select(df.columns.map(col).toSeq: _*)
  }

  /** The full-snapshot diff — reads and exceptAlls BOTH snapshots, so
    * O(table) per call: the ad-hoc arbitrary-span form, and the
    * adjudication reference [[diffCommit]] is pinned against. */
  private[ingest] def diffSnapshots(spark: SparkSession, dir: String,
      fromV: Int, toV: Int): DataFrame = {
    val before0 = read(spark, dir, Some(fromV))
    val after = read(spark, dir, Some(toV))
    import org.apache.spark.sql.functions.{col, lit}
    val missing = after.columns.filterNot(before0.columns.contains)
    val before = missing.foldLeft(before0)((df, c) =>
      df.withColumn(c, lit(null).cast(
        after.schema(c).dataType)))
      .select(after.columns.map(c =>
        if (before0.columns.contains(c) &&
          before0.schema(c).dataType != after.schema(c).dataType)
          col(c).cast(after.schema(c).dataType).as(c)
        else col(c)).toSeq: _*)
    after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(
        before.exceptAll(after).withColumn("_change_type", lit("delete")))
  }

  /** FILE-GRANULAR per-commit change-data feed (r18): `diff(v-1, v)`
    * computed from the delta RECORD's own add/remove file lists,
    * never from the two full snapshots. A snapshot pair SHARES its
    * carried files physically, so the carried rows' multiset
    * contributions cancel by construction and
    *
    *   diff(v-1, v) ≡ exceptAll(rows(added files), rows(removed files))
    *
    * — O(the commit's CHANGED files) where the r17 implementation
    * read and shuffled both FULL snapshots per commit pair, the last
    * O(table) cost in the maintenance loop (a consumer tailing a busy
    * 100 TB table paid a full-table read per commit). Shapes:
    *
    *   - a deletion-vector commit (`dvadd`) has no file changes: the
    *     changed rows are exactly the new sidecar's (file, row_index)
    *     positions, semi-joined back to their files and tagged
    *     `delete` ([[deleteWhere]] computes positions from the
    *     DV-applied read, so they never overlap an older DV);
    *   - a compact-deletes commit applies the PREVIOUS snapshot's
    *     active DVs to the removed side, so materialization provably
    *     diffs empty;
    *   - the one irregular shape — a `dropDvs` commit whose dropped
    *     positions reference files it did NOT remove (no kernel here
    *     produces it: [[compactDeletes]] rewrites every DV-bearing
    *     file) — falls back to [[diffSnapshots]], lossless either
    *     way. ChangeFeedSpec pins diffCommit ≡ diffSnapshots
    *     row-for-row across upsert, evolution, stacked-DV, and
    *     compaction commits. */
  def diffCommit(spark: SparkSession, dir: String, v: Int): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    require(v >= 1, s"diffCommit needs a predecessor: v$v")
    val f = fs(spark, dir)
    val (deltas, cps) = listLog(f, dir)
    require(deltas.contains(v) && deltas.contains(v - 1),
      s"v${v - 1}..v$v not in retained history " +
        deltas.mkString("[", ",", "]"))
    val rec = parse(readText(f, deltaPath(dir, v)))
    val res = resolveWalk(spark, f, dir, deltas, cps, Seq(v - 1, v))
    val prev = res(v - 1)
    val cur = res(v)
    val schema = cur.schemaJson.map(DataType.fromJson(_)
      .asInstanceOf[StructType]).getOrElse(new StructType())
    def tagged(schema: StructType): StructType = StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        "_change_type", org.apache.spark.sql.types.StringType,
        nullable = false))
    if (schema.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        tagged(schema))
    def dvPaths(names: Seq[String]): Seq[String] =
      names.map(n => new Path(dir, s"$DvDir/$n").toString)
    // irregular dropDvs shape: every dropped position still live in
    // the previous snapshot must reference a file this commit
    // removed, or carried contributions would not cancel
    if (rec.dvRemoves.nonEmpty) {
      val droppedFiles = spark.read.parquet(dvPaths(rec.dvRemoves): _*)
        .select("file").distinct().collect().map(_.getString(0)).toSet
      if (!(droppedFiles & prev.files.toSet).subsetOf(rec.removes.toSet))
        return diffSnapshots(spark, dir, v - 1, v)
    }
    def readFiles(names: Seq[String], dvs: Seq[String]): DataFrame = {
      if (names.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val base = spark.read.schema(schema).parquet(
        names.map(n => new Path(dir, n).toString): _*)
      antiJoinDvs(spark, base, dvPaths(dvs))
    }
    // adds need no DV application: a sidecar active at v was created
    // by an earlier deleteWhere against files that existed THEN, and
    // added names are fresh (version-prefixed, per-commit unique)
    val after = readFiles(rec.adds, Nil)
    // removes read under the NEWER schema (old files null-fill /
    // widen exactly as read() reconciles), with the PREVIOUS
    // snapshot's DVs applied — rows deleteWhere already deleted must
    // not resurface as CDF deletes (and compact-deletes diffs empty)
    val before = readFiles(rec.removes, prev.dvs)
    val fileChanges = after.exceptAll(before)
      .withColumn("_change_type", lit("insert"))
      .unionByName(before.exceptAll(after)
        .withColumn("_change_type", lit("delete")))
    if (rec.dvAdds.isEmpty) fileChanges
    else {
      // the DV-delete commit: changed rows ARE the new sidecar's
      // positions — delete-sized, broadcast back to their files
      val dv = spark.read.parquet(dvPaths(rec.dvAdds): _*)
      val touched = dv.select("file").distinct()
        .collect().map(_.getString(0))
        .filter(prev.files.contains(_)).toSeq.sorted
      if (touched.isEmpty) fileChanges
      else {
        val base = spark.read.schema(schema).parquet(
          touched.map(n => new Path(dir, n).toString): _*)
        val cols = base.columns.toSeq
        val dvDeletes = base
          .withColumn("__dv_f", col("_metadata.file_name"))
          .withColumn("__dv_ri", col("_metadata.row_index"))
          .join(broadcast(dv),
            col("__dv_f") === dv("file") &&
              col("__dv_ri") === dv("row_index"), "left_semi")
          .select(cols.map(col): _*)
          .withColumn("_change_type", lit("delete"))
        fileChanges.unionByName(dvDeletes)
      }
    }
  }

  /** The resumable change feed's stateless core: every change landed
    * AFTER `sinceV` up to `untilV` (default head), as the union of
    * PAIRWISE diffs [[diffCommit]] with each row stamped
    * `_commit_version` — each pair FILE-GRANULAR (r18), so the feed
    * costs O(changed files across the consumed commits), never
    * O(commits × table). Per-commit granularity matters: an insert at
    * v2 deleted again at v5 shows BOTH events (a single spanning diff
    * would cancel them), so the feed equals the concatenation a
    * per-commit live consumer would have seen. Every version in
    * `(sinceV, untilV]` must still be retained — a consumer lagging
    * past [[expire]]'s window fails loudly rather than silently
    * skipping changes. Across an add-column evolution, earlier pairs'
    * rows null-fill the later columns (union-by-name), mirroring
    * [[read]]'s own reconciliation. [[ChangeFeed]] adds the
    * consumer-cursor layer.
    *
    * `keys` (r18, optional): pair each commit's delete+insert rows
    * sharing the key columns into `update_preimage`/
    * `update_postimage` ([[pairUpdates]], grouped per commit —
    * cross-commit events never pair). */
  def changes(spark: SparkSession, dir: String, sinceV: Int,
      untilV: Option[Int] = None, keys: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    val hi = untilV.getOrElse(head(spark, dir).getOrElse(
      sys.error(s"$dir has no log — run init first")))
    require(sinceV <= hi,
      s"sinceV v$sinceV is past v$hi — nothing to consume")
    val parts = ((sinceV + 1) to hi).map(v =>
      diffCommit(spark, dir, v)
        .withColumn("_commit_version", lit(v)))
    val raw =
      if (parts.isEmpty)
        diffSnapshots(spark, dir, hi, hi)
          .withColumn("_commit_version", lit(hi))
          .limit(0)
      else parts.reduce(_.unionByName(_, allowMissingColumns = true))
    if (keys.isEmpty) raw
    else pairUpdates(raw, keys, Seq("_commit_version"))
  }

  /** Full retained history, oldest first — ONE checkpoint + delta
    * walk resolves every version's file list (O(window × changed),
    * not O(window × table)). Use [[actions]] when only the commit
    * actions are needed. */
  def history(spark: SparkSession, dir: String): Seq[SnapshotMeta] = {
    val f = fs(spark, dir)
    val (deltas, cps) = listLog(f, dir)
    val resolved = resolveWalk(spark, f, dir, deltas, cps, deltas)
    val stamps = commitTimestamps(spark, dir).toMap
    deltas.map { v =>
      val r = resolved(v)
      SnapshotMeta(v, r.action, r.files, r.schemaJson,
        stamps.getOrElse(v, None))
    }
  }

  /** Drop history beyond the last `retainLast` snapshots, every data
    * file no retained snapshot references, and crash debris.
    * Idempotent; the head is always retained.
    *
    * Safety gates (r16):
    *   - files an EXPIRED snapshot referenced were published — safe
    *     at any age; a file NO record has ever referenced is
    *     indistinguishable from an in-flight commit's freshly-moved
    *     file, so never-referenced files, `_tmp.` records and
    *     `_staging-*` dirs are swept only once older than `minAgeMs`
    *     (pass 0 for a quiesced table);
    *   - dropping the MOST RECENT `*-batch-*` commit's record would
    *     let a replaying streaming pipeline double-apply that batch
    *     (the id probe could no longer see it) — refused unless
    *     `allowBatchActionDrop` (quiesced pipeline) is set.
    *
    * Before old records drop, a checkpoint lands at the new retention
    * floor so the remaining history stays resolvable. */
  def expire(spark: SparkSession, dir: String, retainLast: Int,
      minAgeMs: Long = DefaultExpireAgeMs,
      allowBatchActionDrop: Boolean = false): ExpireStats = {
    require(retainLast >= 1, "must retain at least the head")
    val f = fs(spark, dir)
    val (deltas, cps) = listLog(f, dir)
    require(deltas.nonEmpty, s"$dir has no log — run init first")
    val (drop, keep) =
      deltas.splitAt(math.max(0, deltas.size - retainLast))
    if (!allowBatchActionDrop && drop.nonEmpty) {
      val latestBatch = actions(spark, dir)
        .filter(_._2.matches(".*-batch-\\d+")).map(_._1).maxOption
      latestBatch.filter(drop.contains).foreach(v => sys.error(
        s"expire would drop v$v, the most recent streaming batch " +
          "commit — a replaying pipeline could double-apply it; " +
          "retain more history, or pass allowBatchActionDrop=true " +
          "for a quiesced pipeline"))
    }
    // resolve every version's file set in one walk BEFORE deleting
    // anything: retained → referenced (kept), dropped → historical
    // (published once, safe to sweep at any age)
    val resolved = resolveWalk(spark, f, dir, deltas, cps, deltas)
    val referenced = keep.flatMap(resolved(_).files).toSet
    val historical = drop.flatMap(resolved(_).files).toSet
    val referencedDvs = keep.flatMap(resolved(_).dvs).toSet
    val historicalDvs = drop.flatMap(resolved(_).dvs).toSet
    // land a checkpoint at the new floor so the tail stays resolvable
    val floor = keep.head
    if (drop.nonEmpty && !cps.contains(floor)) {
      val r = resolved(floor)
      writeCheckpoint(spark, f, dir, floor, r.action, r.schemaJson,
        r.files, r.dvs, r.stats.values.flatten.toSeq)
    }
    val now = System.currentTimeMillis()
    def oldEnough(p: Path): Boolean =
      now - f.getFileStatus(p).getModificationTime >= minAgeMs
    val dead = dataFiles(f, dir).filterNot(referenced.contains)
    val (expired, orphans) = dead.partition(historical.contains)
    val sweepOrphans = orphans.filter(n => oldEnough(new Path(dir, n)))
    (expired ++ sweepOrphans).foreach(n =>
      f.delete(new Path(dir, n), false))
    drop.foreach { v =>
      f.delete(deltaPath(dir, v), false)
      if (cps.contains(v)) {
        f.delete(checkpointPath(dir, v), false)
        f.delete(checkpointParquetPath(dir, v), false)
      }
    }
    // crashed commits: stranded _tmp records are never readable, and
    // a crashed maintenance batch's _staging-* shell holds only files
    // no record ever referenced — both age-gated (a LIVE commit's tmp
    // or staging looks identical until it publishes)
    val tmps = f.listStatus(new Path(dir, LogDir)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("_tmp.") && oldEnough(p))
    // recursive: a crashed checkpoint write leaves a _tmp.*.cp DIR
    tmps.foreach(f.delete(_, true))
    val staging = f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_staging") &&
        now - s.getModificationTime >= minAgeMs)
      .map(_.getPath)
    staging.foreach(f.delete(_, true))
    // deletion-vector sidecars follow the data-file rules: referenced
    // by a retained snapshot → kept; referenced only by expired
    // history (or superseded by compactDeletes) → swept at any age;
    // never referenced (in-flight deleteWhere) → age-gated
    val dvRoot = new Path(dir, DvDir)
    val deadDvs =
      if (!f.exists(dvRoot)) Seq.empty
      else f.listStatus(dvRoot).toSeq.filter(_.isFile)
        .map(_.getPath.getName)
        .filterNot(referencedDvs.contains)
        .filter(n => historicalDvs.contains(n) ||
          oldEnough(new Path(dvRoot, n)))
    deadDvs.foreach(n => f.delete(new Path(dvRoot, n), false))
    ExpireStats(drop.size + tmps.size,
      expired.size + sweepOrphans.size + staging.size + deadDvs.size)
  }

  final case class DeleteStats(version: Int, rowsDeleted: Long,
    filesRewritten: Int)

  /** MERGE-ON-READ DELETE (r17): delete every row matching
    * `predicate` by publishing a DELETION VECTOR — a parquet sidecar
    * of (file name, physical row index) pairs under `_graft_dv/` —
    * instead of rewriting the containing files. A 1-row tombstone on
    * a high-churn dimension costs one predicate-column scan plus a
    * delete-sized sidecar write, not an O(file) copy-on-write rewrite
    * ([[read]]/[[diff]]/[[changes]] anti-join active DVs; UpsertSpec
    * pins DV-read ≡ the copy-on-write result).
    *
    * The window closes at the next maintenance pass:
    * [[snapshotFiles]] refuses DV-bearing snapshots (a raw file read
    * would resurrect deleted rows), so run [[compactDeletes]] to
    * materialize before upsert/rollup/optimize. Returns rowsDeleted=0
    * without a commit when nothing matches. */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      expectedHead: Option[Int] = None): DeleteStats = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, dir)
    val (deltas, cps) = listLog(f, dir)
    require(deltas.nonEmpty, s"$dir has no log — run init first")
    val headV = deltas.last
    expectedHead.foreach(e => require(headV == e,
      s"conflict: head is v$headV, expected v$e"))
    val res = resolveWalk(spark, f, dir, deltas, cps, Seq(headV))(headV)
    if (res.files.isEmpty) return DeleteStats(headV, 0L, 0)
    // positions come from the CURRENT read (existing DVs applied), so
    // re-running the same predicate is idempotent: 0 new positions
    val positions = read(spark, dir, Some(headV))
      .filter(predicate)
      .select(col("_metadata.file_name").as("file"),
        col("_metadata.row_index").as("row_index"))
      .localCheckpoint()
    val n = positions.count()
    if (n == 0L) return DeleteStats(headV, 0L, 0)
    // land the sidecar via the checkpoint pattern: single-file write
    // into an age-gated _tmp dir, rename into _graft_dv/
    val tmp = new Path(dir,
      s"$LogDir/_tmp.${java.util.UUID.randomUUID()}.dv")
    positions.coalesce(1).write.parquet(tmp.toString)
    val part = f.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"DV write produced no part file under $tmp"))
    val v = headV + 1
    val dvName = s"dv-v$v-${java.util.UUID.randomUUID()}.parquet"
    f.mkdirs(new Path(dir, DvDir))
    require(f.rename(part, new Path(dir, s"$DvDir/$dvName")),
      s"DV publish failed: $part")
    f.delete(tmp, true)
    publish(f, dir, deltaPath(dir, v),
      render("delete", java.util.UUID.randomUUID().toString,
        res.schemaJson, Seq("dvadd" -> dvName)))
    if (v % CheckpointInterval == 0)
      writeCheckpoint(spark, f, dir, v, "delete", res.schemaJson,
        res.files, res.dvs :+ dvName, res.stats.values.flatten.toSeq)
    DeleteStats(v, n, 0)
  }

  /** Materialize every active deletion vector: rewrite ONLY the files
    * holding DV positions (survivor rows under the recorded schema),
    * carry the rest, and commit with the DV set dropped — after this
    * the maintenance loop ([[snapshotFiles]] consumers) is unblocked.
    * No-op (None) when the head carries no DVs. */
  def compactDeletes(spark: SparkSession, dir: String,
      expectedHead: Option[Int] = None): Option[DeleteStats] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val f = fs(spark, dir)
    val (deltas, cps) = listLog(f, dir)
    require(deltas.nonEmpty, s"$dir has no log — run init first")
    val headV = deltas.last
    expectedHead.foreach(e => require(headV == e,
      s"conflict: head is v$headV, expected v$e"))
    val res = resolveWalk(spark, f, dir, deltas, cps, Seq(headV))(headV)
    if (res.dvs.isEmpty) return None
    val dv = spark.read.parquet(
      res.dvs.map(n => new Path(dir, s"$DvDir/$n").toString): _*)
      .localCheckpoint()
    val touched = dv.select("file").distinct()
      .collect().map(_.getString(0))
      .filter(res.files.contains(_)).toSeq.sorted
    val schema = res.schemaJson.map(DataType.fromJson(_)
      .asInstanceOf[StructType]).getOrElse(
      sys.error(s"$dir head records no schema"))
    val staging = new Path(dir,
      s"_staging-compact-${java.util.UUID.randomUUID()}")
    val base = spark.read.schema(schema).parquet(
      touched.map(n => new Path(dir, n).toString): _*)
    val cols = base.columns.toSeq
    base
      .withColumn("__dv_f", col("_metadata.file_name"))
      .withColumn("__dv_ri", col("_metadata.row_index"))
      .join(broadcast(dv),
        col("__dv_f") === dv("file") &&
          col("__dv_ri") === dv("row_index"), "left_anti")
      .select(cols.map(col): _*)
      .write.parquet(staging.toString)
    val carry = res.files.filterNot(touched.contains(_))
    val v = commit(spark, dir, staging.toString, "compact-deletes",
      expectedHead = Some(headV), carry = carry, dropDvs = true)
    f.delete(staging, true)
    Some(DeleteStats(v, 0L, touched.size))
  }
}
