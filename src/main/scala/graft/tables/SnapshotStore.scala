package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** "Iceberg-lite" snapshot layer: partitioned Parquet data files + versioned
  * JSON snapshot manifests + an atomic CURRENT pointer.
  *
  * No Iceberg runtime jar exists in this environment (SURVEY §7.0), so the
  * table layer implements the subset of snapshot semantics the north rule
  * needs — resumable checkpoint with per-partition lineage + metrics —
  * API-shaped so a real catalog could be swapped in:
  *
  * ```
  * <root>/data/<commit-uuid>/part-*.parquet      immutable data files
  * <root>/snapshots/v<N>.json                    manifest: files, lineage, metrics
  * <root>/CURRENT                                text "v<N>", atomically replaced
  * ```
  *
  * Commit protocol (crash-safe on a POSIX fs): (1) write data files into a
  * fresh commit dir, (2) write v<N>.json via temp-file + ATOMIC_MOVE,
  * (3) flip CURRENT via temp-file + ATOMIC_MOVE. A crash at any point leaves
  * either the old CURRENT (orphan data/manifest ignored by readers) or the
  * fully-committed new version. This mirrors the reference's
  * store-state-then-continue checkpointing (fetcher_state.py:26-51) with
  * table-level atomicity instead of a mutable JSON file.
  */
final class SnapshotStore(val root: String) {

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

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
      "files" -> Json.JArr(files.map(f => Json.obj(
        "path" -> Json.s(f.path),
        "rows" -> Json.n(f.rows),
        "partition" -> Json.s(f.partitionKey)): Json.Value)),
      "lineage" -> Json.JObj(lineage.toVector.sortBy(_._1)
        .map { case (k, v) => k -> (Json.n(v): Json.Value) }),
      "metrics" -> Json.JObj(metrics.toVector.sortBy(_._1)
        .map { case (k, v) => k -> (Json.n(v): Json.Value) }))
  }

  private def snapshotFromJson(j: Json.JObj): Snapshot = Snapshot(
    version = j.long("version"),
    parentVersion = j.long("parent_version"),
    files = j.arr("files").map { case o: Json.JObj =>
      DataFileMeta(o.str("path"), o.long("rows"), o.str("partition"))
    },
    lineage = j("lineage").asInstanceOf[Json.JObj].v
      .map { case (k, v) => k -> v.asInstanceOf[Json.JNum].toLong }.toMap,
    metrics = j("metrics").asInstanceOf[Json.JObj].v
      .map { case (k, v) => k -> v.asInstanceOf[Json.JNum].toLong }.toMap)

  def currentVersion: Option[Long] = {
    val cur = p("CURRENT")
    if (!Files.exists(cur)) None
    else Some(Files.readString(cur).trim.stripPrefix("v").toLong)
  }

  def currentSnapshot: Option[Snapshot] = currentVersion.map(readSnapshot)

  def readSnapshot(version: Long): Snapshot = {
    val j = Json.parse(Files.readString(p("snapshots", s"v$version.json")))
    snapshotFromJson(j.asInstanceOf[Json.JObj])
  }

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
    * sequenced). Returns None when the range added no files.
    */
  def readBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long): Option[DataFrame] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val fromPaths = readSnapshot(fromVersion).files.map(_.path).toSet
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
    * Same append-only validity domain; negative deltas (history rewrite)
    * fail loudly.
    */
  def lineageDelta(fromVersion: Long, toVersion: Long): Map[String, Long] = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val from = readSnapshot(fromVersion).lineage
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

  /** Append `df` as a new commit. `partitionCol` drives both the on-disk
    * layout (`partitionBy`) and the per-partition lineage counts. Returns the
    * committed snapshot. `clusterBeforeWrite`: shuffle rows onto their
    * partition key before the write. Worth it for small-row tables whose key
    * is hash-random (every task would otherwise open a file per partition
    * value — file-open overhead dwarfs the data); wrong for payload tables
    * whose input order is already aligned with the key (a shuffle would move
    * the heavy bytes).
    */
  def append(spark: SparkSession, df: DataFrame, partitionCol: String,
      metrics: Map[String, Long] = Map.empty,
      clusterBeforeWrite: Boolean = false): Snapshot =
    commit(spark, df, partitionCol, metrics, clusterBeforeWrite, replaceAll = false)

  /** REPLACE the table contents in ONE commit (the Iceberg `overwrite`
    * analogue): the new snapshot references only this commit's files, so a
    * crash at any point leaves either the fully-old or the fully-new table —
    * never an empty or doubled one. Prior files become unreferenced history
    * (reclaim with `expire`).
    */
  def replace(spark: SparkSession, df: DataFrame, partitionCol: String,
      metrics: Map[String, Long] = Map.empty,
      clusterBeforeWrite: Boolean = false): Snapshot =
    commit(spark, df, partitionCol, metrics, clusterBeforeWrite, replaceAll = true)

  private def commit(spark: SparkSession, df: DataFrame, partitionCol: String,
      metrics: Map[String, Long],
      clusterBeforeWrite: Boolean, replaceAll: Boolean): Snapshot = synchronized {
    import org.apache.spark.sql.functions._
    Files.createDirectories(p("data"))
    Files.createDirectories(p("snapshots"))

    val commitId = UUID.randomUUID().toString
    val commitRel: String = s"data/$commitId"
    // single pass: write the data, then derive per-partition lineage from
    // the committed files (partition-column-only scan = parquet footer
    // row counts, no data pages read, no recompute of the input plan)
    val toWrite = if (clusterBeforeWrite) df.repartition(col(partitionCol)) else df
    toWrite.write.partitionBy(partitionCol).parquet(s"$root/$commitRel")

      // per-file row counts straight from the parquet footers on the driver
      // (local fs, ~1 ms/file, read in parallel) — no Spark job, no
      // recompute of the input plan
      val newFiles = {
        val files = SnapshotStore.withWalk(p(commitRel))(
          _.filter(f => f.toString.endsWith(".parquet")).toVector)
        import scala.collection.parallel.CollectionConverters._
        files.par.map { f =>
          val rel = p("").toAbsolutePath.relativize(f.toAbsolutePath).toString
          val pk = f.getParent.getFileName.toString match {
            case s if s.startsWith(s"$partitionCol=") => s.substring(partitionCol.length + 1)
            case _ => ""
          }
          DataFileMeta(rel, footerRowCount(f), pk)
        }.toVector.seq
      }

      val counts: Map[String, Long] = newFiles.groupBy(_.partitionKey)
        .map { case (pk, fs) => pk -> fs.map(_.rows).sum }

      val parent = currentSnapshot
      val version = parent.map(_.version + 1).getOrElse(0L)
      // replace: the snapshot owns ONLY this commit's files and lineage
      val mergedLineage =
        if (replaceAll) counts
        else counts.foldLeft(parent.map(_.lineage).getOrElse(Map.empty)) {
          case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v)
        }
      val snap = Snapshot(
        version = version,
        parentVersion = parent.map(_.version).getOrElse(-1L),
        files = (if (replaceAll) Vector.empty
                 else parent.map(_.files).getOrElse(Vector.empty)) ++ newFiles,
        lineage = mergedLineage,
        metrics = metrics.updated("commit_rows", counts.values.sum))

      writeAtomic(p("snapshots", s"v$version.json"), snap.toJson.toString)
      writeAtomic(p("CURRENT"), s"v$version")
      snap
  }

  /** Start-over semantics (R6: `start_over=True` deletes state,
    * github.py:374-382): commit an empty snapshot; prior data files become
    * unreferenced history.
    */
  def truncate(): Snapshot = synchronized {
    Files.createDirectories(p("snapshots"))
    val parent = currentSnapshot
    val version = parent.map(_.version + 1).getOrElse(0L)
    val snap = Snapshot(version, parent.map(_.version).getOrElse(-1L),
      Vector.empty, Map.empty, Map("truncated" -> 1L))
    writeAtomic(p("snapshots", s"v$version.json"), snap.toJson.toString)
    writeAtomic(p("CURRENT"), s"v$version")
    snap
  }

  /** Physically expire history (the Iceberg `expire_snapshots` analogue):
    * keep the last `keepLast` snapshot manifests; delete every data file
    * referenced by NO kept snapshot, then the dropped manifests. Versions
    * below the kept range stop being time-travelable (see `readAt`);
    * the commit protocol is untouched (CURRENT always stays valid).
    */
  def expire(keepLast: Int = 1): Unit = synchronized {
    require(keepLast >= 1, "must keep at least the current snapshot")
    currentVersion.foreach { cur =>
      val keepFrom = math.max(0L, cur - keepLast + 1)
      val kept: Set[String] = (keepFrom to cur)
        .flatMap(v => readSnapshot(v).files.map(_.path)).toSet
      val dataDir = p("data")
      if (Files.exists(dataDir)) {
        val all = SnapshotStore.withWalk(dataDir)(
          _.filter(f => f.toString.endsWith(".parquet")).toVector)
        all.foreach { f =>
          val rel = p("").toAbsolutePath.relativize(f.toAbsolutePath).toString
          if (!kept.contains(rel)) Files.delete(f)
        }
        // prune directories emptied by the deletes (deepest first)
        SnapshotStore.withWalk(dataDir)(
          _.filter(Files.isDirectory(_)).toVector).sortBy(-_.getNameCount)
          .foreach { d =>
            if (d != dataDir && SnapshotStore.isEmptyDir(d)) Files.delete(d)
          }
      }
      (0L until keepFrom).foreach { v =>
        Files.deleteIfExists(p("snapshots", s"v$v.json"))
      }
    }
  }

  private def footerRowCount(file: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri),
        SnapshotStore.sharedHadoopConf))
    try reader.getRecordCount finally reader.close()
  }

  private def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object SnapshotStore {
  /** ONE shared Hadoop conf for footer reads: constructing a Configuration
    * per file re-parses the default resources (~ms each) — at hundreds of
    * commit files that was >1 s of serial driver time per commit, a pure
    * non-scaling cost on every crawl run. Configuration reads are
    * thread-safe (the .par footer scan only reads it).
    */
  private[tables] lazy val sharedHadoopConf =
    new org.apache.hadoop.conf.Configuration()

  /** Loan-pattern walk: NIO directory streams hold an fd until closed. */
  private[tables] def withWalk[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private[tables] def isEmptyDir(d: Path): Boolean = {
    val s = Files.list(d)
    try !s.iterator().hasNext finally s.close()
  }
}
