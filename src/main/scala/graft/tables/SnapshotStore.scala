package graft.tables

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE, WRITE}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** "Iceberg-lite" snapshot layer (no Iceberg runtime jar exists here, SURVEY
  * §7.0): partitioned Parquet data files, versioned JSON manifests per table
  * with per-partition lineage + metrics, and ONE commit log per table root.
  * A `SnapshotStore` is one table; the directory above it is its table root:
  *
  * ```
  * <root>/_commits/v<K>.json       {"version":K,"tables":{"<table>":N,…}}, K current
  * <root>/_commits/CURRENT         text "v<K>", atomically replaced
  * <root>/_commits/LOCK            the commit lock file
  * <root>/<table>/data/<commit-uuid>/part-*.parquet   immutable data files
  * <root>/<table>/snapshots/v<N>.json   manifest: files, lineage, metrics
  * ```
  *
  * Commit protocol (crash-safe on a POSIX fs; the single atomic log entry of
  * Delta Lake and Iceberg): (1) `write` stages a table's data files into a
  * fresh commit dir, outside any lock; (2) `SnapshotStore.commit` publishes
  * any set of staged changes under the root's lock: it reads the log,
  * builds each table's snapshot on that table's current version (appends
  * rebase, so concurrent committers lose nothing), writes each `v<N>.json`,
  * then the entry `v<K>.json` (both temp-file + ATOMIC_MOVE), and last flips
  * `_commits/CURRENT`, the only pointer readers follow; the older entries
  * are then deleted. A crash at any point leaves either the old entry
  * (orphan files are ignored, overwritten by the next commit, reclaimed by
  * `expire`) or every table of the commit published at once — the
  * reference's store-state-then-continue checkpointing
  * (fetcher_state.py:26-51) with root-level atomicity.
  */
final class SnapshotStore(val root: String) {
  import SnapshotStore._

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

  private val path = Paths.get(root).toAbsolutePath.normalize
  /** The table root this table publishes through, and its name there. */
  private val (tableRoot, name) = (path.getParent, path.getFileName.toString)

  def currentVersion: Option[Long] = logEntry(tableRoot).flatMap(_._2.get(name))

  def currentSnapshot: Option[Snapshot] = currentVersion.map(readSnapshot)

  def readSnapshot(version: Long): Snapshot =
    snapshotFromJson(Json.parse(Files.readString(p("snapshots", s"v$version.json")))
      .asInstanceOf[Json.JObj])

  /** Time travel: read the table as of snapshot `version` (every snapshot
    * lists its full file set, so any committed version stays readable until
    * its files are physically expired).
    */
  def readAt(spark: SparkSession, version: Long): Option[DataFrame] =
    readFiles(spark, readSnapshot(version).files)

  /** Incremental scan (the Iceberg append-scan analogue): only the rows
    * committed AFTER `fromVersion`, up to and including `toVersion` — the
    * primitive that lets a downstream consumer (index refresh, training-
    * data ingest) follow a 10^10-row table without ever rescanning it:
    * each cycle reads the file DELTA of the manifests, not the table.
    *
    * Valid only across append history. If any commit in the range REMOVED
    * files (replace / truncate / compaction rewrote history), the file
    * diff no longer equals the row delta — that's an error, loudly: the
    * caller must fall back to a full scan (or consume deltas BEFORE
    * compacting, which is how `CrawlPipeline`'s auto-compaction is
    * sequenced). `fromVersion = -1` is "before the first commit", so
    * (-1, v] is all of version v. Returns None when the range added no
    * files.
    */
  def readBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long): Option[DataFrame] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val fromPaths = snapshotOrEmpty(fromVersion).files.map(_.path).toSet
    val to = readSnapshot(toVersion)
    val removed = fromPaths -- to.files.map(_.path).toSet
    require(removed.isEmpty,
      s"non-append history between v$fromVersion and v$toVersion " +
        s"(${removed.size} file(s) removed, e.g. ${removed.take(2).mkString(", ")}) " +
        "— incremental scan invalid, full scan required")
    readFiles(spark, to.files.filterNot(f => fromPaths(f.path)))
  }

  /** Per-partition row delta between two snapshots, straight from the
    * lineage counts in the manifests — no file I/O. The driver-side
    * companion of [[readBetween]]: a consumer can see WHICH partitions
    * changed (and by how much) before deciding to scan anything.
    * Same append-only validity domain (and the same `fromVersion = -1`);
    * negative deltas (history rewrite) fail loudly.
    */
  def lineageDelta(fromVersion: Long, toVersion: Long): Map[String, Long] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val from = snapshotOrEmpty(fromVersion).lineage
    val to = readSnapshot(toVersion).lineage
    val delta = (from.keySet ++ to.keySet).iterator
      .map(k => k -> (to.getOrElse(k, 0L) - from.getOrElse(k, 0L)))
      .filter(_._2 != 0L).toMap
    val negative = delta.filter(_._2 < 0L)
    require(negative.isEmpty,
      s"non-append history between v$fromVersion and v$toVersion " +
        s"(partitions shrank: ${negative.keys.take(3).mkString(", ")})")
    delta
  }

  /** Read the current table state (union of all committed data files).
    * Files are grouped by commit and read with that commit's `basePath` so
    * the partition column (encoded in `<col>=<value>` directory names) is
    * reconstructed. Returns None when the table has no committed snapshot.
    */
  def read(spark: SparkSession): Option[DataFrame] =
    currentSnapshot.flatMap(snap => readFiles(spark, snap.files))

  /** Version `v`'s snapshot; the empty table before the first commit at -1. */
  private def snapshotOrEmpty(v: Long): Snapshot =
    if (v == -1L) Snapshot(-1L, -1L, Vector.empty, Map.empty, Map.empty)
    else readSnapshot(v)

  private def readFiles(spark: SparkSession, files: Vector[DataFileMeta]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val byCommit = files.groupBy(_.path.split('/').take(2).mkString("/"))
      val parts = byCommit.toSeq.sortBy(_._1).map { case (commitDir, fs) =>
        spark.read
          .option("basePath", s"$root/$commitDir")
          .parquet(fs.map(f => s"$root/${f.path}"): _*)
      }
      // allowMissingColumns: older commits may predate later schema
      // widenings (missing columns read as null — parquet-style evolution)
      Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
    }

  /** Stage `df` as this table's next change: its data files, invisible to
    * readers until `SnapshotStore.commit` publishes them. An append adds them
    * to the table; `replace` makes them the whole table (the Iceberg
    * `overwrite` analogue; prior files become history, reclaimed by
    * `expire`). `partitionCol` drives the on-disk layout and the lineage
    * counts. `clusterBeforeWrite`: shuffle rows onto their partition key
    * first — worth it for small-row tables whose key is hash-random (each
    * task would otherwise open a file per key); wrong for payload tables
    * whose input order already follows the key (it would move the bytes).
    */
  def write(spark: SparkSession, df: DataFrame, partitionCol: String,
      metrics: Map[String, Long] = Map.empty,
      clusterBeforeWrite: Boolean = false, replace: Boolean = false): Change = {
    import org.apache.spark.sql.functions.col
    Files.createDirectories(p("data"))
    val commitRel = s"data/${UUID.randomUUID()}"
    val toWrite = if (clusterBeforeWrite) df.repartition(col(partitionCol)) else df
    toWrite.write.partitionBy(partitionCol).parquet(s"$root/$commitRel")
    // per-file row counts straight from the parquet footers on the driver
    // (local fs, ~1 ms/file, read in parallel) — no Spark job, no recompute
    // of the input plan
    val files = withWalk(p(commitRel))(_.filter(_.toString.endsWith(".parquet")).toVector)
    import scala.collection.parallel.CollectionConverters._
    val newFiles = files.par.map { f =>
      val rel = p("").toAbsolutePath.relativize(f.toAbsolutePath).toString
      val pk = f.getParent.getFileName.toString match {
        case s if s.startsWith(s"$partitionCol=") => s.substring(partitionCol.length + 1)
        case _ => ""
      }
      DataFileMeta(rel, footerRowCount(f), pk)
    }.toVector.seq
    Change(this, newFiles, replace, metrics)
  }

  /** Start-over (R6: `start_over=True` deletes state, github.py:374-382):
    * a change to an empty table; prior data files become history. */
  def truncation: Change = Change(this, Vector.empty, replace = true, Map("truncated" -> 1L))

  /** `write` then `commit`, as this table's own commit. */
  def append(spark: SparkSession, df: DataFrame, partitionCol: String,
      metrics: Map[String, Long] = Map.empty, clusterBeforeWrite: Boolean = false): Snapshot =
    commit(Seq(write(spark, df, partitionCol, metrics, clusterBeforeWrite))).head

  def replace(spark: SparkSession, df: DataFrame, partitionCol: String,
      metrics: Map[String, Long] = Map.empty, clusterBeforeWrite: Boolean = false): Snapshot =
    commit(Seq(write(spark, df, partitionCol, metrics, clusterBeforeWrite, replace = true))).head

  def truncate(): Snapshot = commit(Seq(truncation)).head

  /** Physically expire history (the Iceberg `expire_snapshots` analogue):
    * keep the last `keepLast` snapshot manifests; delete every data file
    * referenced by NO kept snapshot — including the staged files of runs
    * that never committed — then the dropped manifests. Versions below the
    * kept range stop being time-travelable (see `readAt`). Runs under the
    * commit lock, so the current version cannot move underneath it.
    */
  def expire(keepLast: Int = 1): Unit = locked(tableRoot) {
    require(keepLast >= 1, "must keep at least the current snapshot")
    currentVersion.foreach { cur =>
      val keepFrom = math.max(0L, cur - keepLast + 1)
      val kept: Set[String] = (keepFrom to cur)
        .flatMap(v => readSnapshot(v).files.map(_.path)).toSet
      val dataDir = p("data")
      if (Files.exists(dataDir)) {
        val all = withWalk(dataDir)(_.filter(_.toString.endsWith(".parquet")).toVector)
        all.foreach { f =>
          val rel = p("").toAbsolutePath.relativize(f.toAbsolutePath).toString
          if (!kept.contains(rel)) Files.delete(f)
        }
        // prune directories emptied by the deletes (deepest first)
        withWalk(dataDir)(_.filter(Files.isDirectory(_)).toVector).sortBy(-_.getNameCount)
          .foreach { d => if (d != dataDir && isEmptyDir(d)) Files.delete(d) }
      }
      (0L until keepFrom).foreach { v =>
        Files.deleteIfExists(p("snapshots", s"v$v.json"))
      }
    }
  }

  private def footerRowCount(file: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), sharedHadoopConf))
    try reader.getRecordCount finally reader.close()
  }
}

object SnapshotStore {

  final case class DataFileMeta(path: String, rows: Long, partitionKey: String)

  /** One committed table version. `lineage` records, per partition key, how
    * many rows each commit contributed — the per-partition lineage the north
    * rule asks for. `metrics` are free-form counters for the commit.
    */
  final case class Snapshot(
      version: Long,
      parentVersion: Long, // -1 for first
      files: Vector[DataFileMeta],
      lineage: Map[String, Long],
      metrics: Map[String, Long]) {

    def toJson: Json.JObj = Json.obj(
      "version" -> Json.n(version),
      "parent_version" -> Json.n(parentVersion),
      "files" -> Json.JArr(files.map(f => Json.obj("path" -> Json.s(f.path),
        "rows" -> Json.n(f.rows), "partition" -> Json.s(f.partitionKey)): Json.Value)),
      "lineage" -> longsJson(lineage),
      "metrics" -> longsJson(metrics))
  }

  private def snapshotFromJson(j: Json.JObj): Snapshot = Snapshot(
    version = j.long("version"),
    parentVersion = j.long("parent_version"),
    files = j.arr("files").map { case o: Json.JObj =>
      DataFileMeta(o.str("path"), o.long("rows"), o.str("partition"))
    },
    lineage = longs(j("lineage")),
    metrics = longs(j("metrics")))

  private def longsJson(m: Map[String, Long]): Json.JObj =
    Json.JObj(m.toVector.sortBy(_._1).map { case (k, v) => k -> (Json.n(v): Json.Value) })

  private def longs(j: Json.Value): Map[String, Long] =
    j.asInstanceOf[Json.JObj].v.map { case (k, v) => k -> v.asInstanceOf[Json.JNum].toLong }.toMap

  /** Staged data files of one table, not yet visible to readers. `basedOn`:
    * the table version the change was computed from — its commit fails if
    * the table has moved since (-1 = the table had no version). None rebases
    * the change onto whatever version is current.
    */
  final case class Change(store: SnapshotStore, files: Vector[DataFileMeta],
      replace: Boolean, metrics: Map[String, Long], basedOn: Option[Long] = None) {

    private[SnapshotStore] def on(parent: Option[Snapshot]): Snapshot = {
      val counts = files.groupBy(_.partitionKey).map { case (pk, fs) => pk -> fs.map(_.rows).sum }
      val base = parent.filterNot(_ => replace) // a replace owns only its files
      Snapshot(parent.fold(0L)(_.version + 1), parent.fold(-1L)(_.version),
        base.fold(Vector.empty[DataFileMeta])(_.files) ++ files,
        counts.foldLeft(base.fold(Map.empty[String, Long])(_.lineage)) {
          case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) },
        metrics.updated("commit_rows", counts.values.sum))
    }
  }

  /** Publish `changes` (one per table, all under one table root) in ONE log
    * entry; returns their snapshots in order. Throws, publishing nothing, if
    * a change's `basedOn` version is no longer its table's current one. */
  def commit(changes: Seq[Change]): Seq[Snapshot] = {
    val root = changes.head.store.tableRoot
    require(changes.forall(_.store.tableRoot == root) &&
      changes.map(_.store.name).distinct.size == changes.size,
      s"a commit takes one change per table, all under $root")
    locked(root) {
      val (version, tables) = logEntry(root).getOrElse((-1L, Map.empty[String, Long]))
      val snaps = changes.map { c =>
        val current = tables.get(c.store.name)
        for (v <- c.basedOn if current.getOrElse(-1L) != v)
          throw new java.util.ConcurrentModificationException(s"${c.store.root} " +
            s"moved from v$v to v${current.getOrElse(-1L)} while this change was written")
        val snap = c.on(current.map(c.store.readSnapshot))
        writeAtomic(Files.createDirectories(c.store.p("snapshots"))
          .resolve(s"v${snap.version}.json"), snap.toJson.toString)
        snap
      }
      val entry = tables ++ changes.map(_.store.name).zip(snaps.map(_.version))
      val log = root.resolve(LogDir)
      val entryName = s"v${version + 1}.json"
      writeAtomic(log.resolve(entryName), Json.obj(
        "version" -> Json.n(version + 1), "tables" -> longsJson(entry)).toString)
      writeAtomic(log.resolve("CURRENT"), s"v${version + 1}")
      // only CURRENT's entry is ever read: prune the older ones (a reader
      // that resolved one of them just now re-reads CURRENT, see logEntry)
      withList(log)(_.filter { f =>
        val n = f.getFileName.toString
        n.startsWith("v") && n.endsWith(".json") && n != entryName
      }.foreach(Files.deleteIfExists))
      snaps
    }
  }

  private val LogDir = "_commits"

  /** A root's current log entry: its version and the table versions it
    * names. None before the root's first commit. An entry that is gone was
    * pruned by a commit that has already moved CURRENT on: read it again. */
  @scala.annotation.tailrec
  private def logEntry(root: Path): Option[(Long, Map[String, Long])] = {
    val current = root.resolve(LogDir).resolve("CURRENT")
    if (!Files.exists(current)) None
    else {
      val k = Files.readString(current).trim.stripPrefix("v")
      val entry = try Some(Files.readString(root.resolve(LogDir).resolve(s"v$k.json")))
        catch { case _: java.nio.file.NoSuchFileException => None }
      entry match {
        case Some(j) => Some((k.toLong, longs(Json.parse(j).asInstanceOf[Json.JObj]("tables"))))
        case None => logEntry(root)
      }
    }
  }

  private val rootLocks = new ConcurrentHashMap[String, ReentrantLock]()

  /** Run `body` under a table root's commit lock: a JVM-wide lock keyed by
    * the root's real path, then a `FileChannel` lock on `_commits/LOCK` for
    * other processes (alone it throws `OverlappingFileLockException` within
    * one JVM). */
  private def locked[A](root: Path)(body: => A): A = {
    val log = Files.createDirectories(root.resolve(LogDir))
    val jvmLock = rootLocks.computeIfAbsent(log.toRealPath().toString, _ => new ReentrantLock())
    jvmLock.lock()
    try {
      val channel = FileChannel.open(log.resolve("LOCK"), CREATE, WRITE)
      try { channel.lock(); body } finally channel.close()
    } finally jvmLock.unlock()
  }

  private def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** ONE shared Hadoop conf for footer reads: a Configuration per file
    * re-parses the default resources (~ms each, >1 s per commit at hundreds
    * of files). Its reads are thread-safe (the .par footer scan only reads).
    */
  private lazy val sharedHadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Loan-pattern walk: NIO directory streams hold an fd until closed. */
  private def withWalk[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private def withList[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private def isEmptyDir(d: Path): Boolean = withList(d)(!_.hasNext)
}
