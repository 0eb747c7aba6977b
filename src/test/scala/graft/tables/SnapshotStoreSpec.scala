package graft.tables

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase

class SnapshotStoreSpec extends SparkTestBase {
  import spark.implicits._

  /** A table in a fresh table root (the root holds the commit log). */
  private def tmp(): String =
    Files.createTempDirectory("graft-snap").resolve("t").toString

  test("replace: one-commit overwrite — read sees only the new rows, old " +
      "versions stay time-travelable until expired") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "pk"), "pk")
    store.append(spark, Seq((3L, "a")).toDF("id", "pk"), "pk")
    val snap = store.replace(spark,
      Seq((10L, "a"), (11L, "c")).toDF("id", "pk"), "pk",
      Map("covered_version" -> 7L))
    assert(snap.version == 2L)
    // current read = exactly the replacement contents (no union with history)
    assert(store.read(spark).get.select("id").as[Long].collect().toSet ==
      Set(10L, 11L))
    assert(snap.lineage == Map("a" -> 1L, "c" -> 1L))
    assert(store.currentSnapshot.get.metrics("covered_version") == 7L)
    // pre-replace state is still time-travelable (files not yet expired)
    assert(store.readAt(spark, 1L).get.select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // expire reclaims the replaced files; current stays readable
    store.expire(keepLast = 1)
    assert(store.read(spark).get.count() == 2)
  }

  test("incremental scan: readBetween returns exactly the appended delta; " +
      "lineageDelta names the changed partitions without file I/O; " +
      "history rewrites fail loudly") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "pk"), "pk") // v0
    store.append(spark, Seq((3L, "a")).toDF("id", "pk"), "pk") // v1
    store.append(spark, Seq((4L, "c"), (5L, "a")).toDF("id", "pk"), "pk") // v2

    // delta of (v0, v2] = commits 1 and 2 only
    assert(store.readBetween(spark, 0L, 2L).get
      .select("id").as[Long].collect().toSet == Set(3L, 4L, 5L))
    assert(store.readBetween(spark, 1L, 2L).get
      .select("id").as[Long].collect().toSet == Set(4L, 5L))
    // empty range → no files → None
    assert(store.readBetween(spark, 2L, 2L).isEmpty)
    // driver-side partition delta straight from the manifests
    assert(store.lineageDelta(0L, 2L) == Map("a" -> 2L, "c" -> 1L))
    assert(store.lineageDelta(2L, 2L) == Map.empty)

    // a replace rewrites history: both incremental forms must refuse
    store.replace(spark, Seq((9L, "a")).toDF("id", "pk"), "pk") // v3
    intercept[IllegalArgumentException](store.readBetween(spark, 2L, 3L))
    intercept[IllegalArgumentException](store.lineageDelta(2L, 3L))
    // ...but deltas across the post-replace epoch work again
    store.append(spark, Seq((10L, "b")).toDF("id", "pk"), "pk") // v4
    assert(store.readBetween(spark, 3L, 4L).get
      .select("id").as[Long].collect().toSet == Set(10L))
    assert(store.lineageDelta(3L, 4L) == Map("b" -> 1L))
  }

  test("append → read returns committed rows with lineage + metrics") {
    val root = tmp()
    val store = new SnapshotStore(root)
    assert(store.currentVersion.isEmpty)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "pk")
    val snap = store.append(spark, df, "pk", Map("fetched" -> 3L))
    assert(snap.version == 0L && snap.parentVersion == -1L)
    assert(snap.lineage == Map("a" -> 2L, "b" -> 1L))
    assert(snap.metrics("fetched") == 3L)
    val read = store.read(spark).get
    assert(read.count() == 3)
    assert(read.columns.toSet == Set("id", "pk"))
  }

  test("expire: unreferenced data files + dropped manifests deleted; kept " +
      "versions stay readable (Iceberg expire_snapshots analogue)") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a")).toDF("id", "pk"), "pk") // v0
    store.append(spark, Seq((2L, "b")).toDF("id", "pk"), "pk") // v1 (cumulative)
    // keeping v1 keeps BOTH commits' files (snapshots list their full set)
    store.expire(keepLast = 1)
    assert(store.read(spark).get.count() == 2)
    assert(!Files.exists(Paths.get(root, "snapshots", "v0.json")))
    intercept[Exception](store.readAt(spark, 0L)) // expired version gone

    // truncate (empty file list) then expire → all data files physically gone
    store.truncate() // v2
    store.expire(keepLast = 1)
    val remaining = Files.walk(Paths.get(root, "data")).iterator()
    val parquetLeft = new java.util.ArrayList[java.nio.file.Path]()
    remaining.forEachRemaining(f => if (f.toString.endsWith(".parquet")) parquetLeft.add(f))
    assert(parquetLeft.isEmpty, s"orphan data files survived expire: $parquetLeft")
    assert(store.read(spark).isEmpty) // empty table, CURRENT still valid
    // appends keep working after expiry
    val snap = store.append(spark, Seq((9L, "z")).toDF("id", "pk"), "pk")
    assert(store.read(spark).get.count() == 1 && snap.version == 3L)
  }

  test("second append unions with first; lineage accumulates") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a")).toDF("id", "pk"), "pk")
    val snap2 = store.append(spark, Seq((2L, "a"), (3L, "c")).toDF("id", "pk"), "pk")
    assert(snap2.version == 1L && snap2.parentVersion == 0L)
    assert(snap2.lineage == Map("a" -> 2L, "c" -> 1L))
    assert(store.read(spark).get.count() == 3)
  }

  test("crash-mid-commit: orphan data + manifest without CURRENT flip are invisible") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a")).toDF("id", "pk"), "pk")
    // simulate a crash after data + manifest write but before CURRENT flip:
    // write an orphan manifest v99 and orphan data files by hand
    Files.createDirectories(Paths.get(root, "data", "orphan"))
    Files.writeString(Paths.get(root, "data", "orphan", "junk.parquet"), "junk")
    Files.writeString(Paths.get(root, "snapshots", "v99.json"),
      """{"version":99,"parent_version":0,"files":[],"lineage":{},"metrics":{}}""")
    // readers follow CURRENT only
    assert(store.currentVersion.contains(0L))
    assert(store.read(spark).get.count() == 1)
    // and the next commit continues from CURRENT, not from the orphan
    val snap = store.append(spark, Seq((2L, "b")).toDF("id", "pk"), "pk")
    assert(snap.version == 1L)
  }

  test("time travel: readAt(version) sees exactly that snapshot's rows") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a")).toDF("id", "pk"), "pk")
    store.append(spark, Seq((2L, "b"), (3L, "a")).toDF("id", "pk"), "pk")
    assert(store.readAt(spark, 0L).get.count() == 1)
    assert(store.readAt(spark, 1L).get.count() == 3)
    assert(store.read(spark).get.count() == 3)
    // per-file row counts recorded from footers
    assert(store.readSnapshot(1L).files.forall(_.rows >= 1L))
  }

  test("truncate = start_over semantics (R6)") {
    val root = tmp()
    val store = new SnapshotStore(root)
    store.append(spark, Seq((1L, "a")).toDF("id", "pk"), "pk")
    val t = store.truncate()
    assert(t.files.isEmpty)
    assert(store.read(spark).isEmpty)
  }

  /** Runs `work(i)` for i in 0 until n on n threads and waits for all. */
  private def onThreads(n: Int)(work: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = work(i) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  test("concurrent committers: 8 instances × 50 truncates end at v399") {
    val root = tmp()
    onThreads(8)(_ => {
      val store = new SnapshotStore(root)
      (1 to 50).foreach(_ => store.truncate())
    })
    assert(new SnapshotStore(root).currentVersion.contains(399L))
  }

  test("concurrent committers: every row of N threads × M appends is visible") {
    val root = tmp()
    val (threads, appends) = (4, 10)
    onThreads(threads)(t => {
      val store = new SnapshotStore(root)
      (0 until appends).foreach(k =>
        store.append(spark, Seq((t * 100L + k, "a")).toDF("id", "pk"), "pk"))
    })
    val store = new SnapshotStore(root)
    assert(store.currentVersion.contains(threads * appends - 1L))
    assert(store.read(spark).get.select("id").as[Long].collect().toSet ==
      (for (t <- 0 until threads; k <- 0 until appends) yield t * 100L + k).toSet)
  }

  /** The file names in a table's root commit log. */
  private def logFiles(table: String): Set[String] = {
    val s = Files.list(Paths.get(table).getParent.resolve("_commits"))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("commit log pruning: after five commits _commits holds CURRENT, LOCK " +
      "and the one entry CURRENT names") {
    val root = tmp()
    val store = new SnapshotStore(root)
    (1 to 5).foreach(i => store.append(spark, Seq((i.toLong, "a")).toDF("id", "pk"), "pk"))
    assert(logFiles(root) == Set("CURRENT", "LOCK", "v4.json"))
    assert(store.currentVersion.contains(4L) && store.read(spark).get.count() == 5)
  }

  test("commit log pruning: a reader resolving CURRENT during 4 × 20 " +
      "concurrent appends never fails") {
    val root = tmp()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      val store = new SnapshotStore(root)
      while (!stop.get) {
        try { store.currentVersion; reads.incrementAndGet() }
        catch { case t: Throwable => failure.compareAndSet(null, t); stop.set(true) }
      }
    })
    reader.start()
    try onThreads(4)(t => {
      val store = new SnapshotStore(root)
      (0 until 20).foreach(k =>
        store.append(spark, Seq((t * 100L + k, "a")).toDF("id", "pk"), "pk"))
    }) finally { stop.set(true); reader.join() }
    assert(failure.get == null, s"reader failed after ${reads.get} reads: ${failure.get}")
    assert(reads.get > 0L)
    assert(new SnapshotStore(root).currentVersion.contains(79L))
    assert(logFiles(root) == Set("CURRENT", "LOCK", "v79.json"))
  }

  test("snapshot json roundtrip preserves 64-bit values exactly") {
    val big = Long.MaxValue - 7
    val j = Json.parse(s"""{"v":$big,"neg":${Long.MinValue + 3}}""").asInstanceOf[Json.JObj]
    assert(j.long("v") == big)
    assert(j.long("neg") == Long.MinValue + 3)
  }
}
