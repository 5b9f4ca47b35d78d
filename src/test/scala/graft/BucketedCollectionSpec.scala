package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.BucketedKeyedCollection

/** The 100 TB ingest-layout property: a commit rewrites ONLY the buckets a
  * batch touches. Asserted at the filesystem level — untouched buckets keep
  * the exact same data directories across commits. */
class BucketedCollectionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("bucketed-collection-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType.fromDDL("key STRING, value BIGINT, seq BIGINT")

  private def freshColl(buckets: Int = 8): (String, BucketedKeyedCollection) = {
    val root = java.nio.file.Files.createTempDirectory("graft-bkc").toString
    (root, new BucketedKeyedCollection(root, schema, "key", buckets))
  }

  private def rowsOf(coll: BucketedKeyedCollection): Set[(String, Long)] =
    coll.read(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSet

  /** bucket id → live relative data dir, parsed from the current manifest. */
  private def liveDirs(root: String): Map[Int, String] = TestDirs.liveDirs(root)

  private def bucketOf(coll: BucketedKeyedCollection, key: String): Int = {
    import spark.implicits._
    Seq(key).toDF("key").select(coll.bucketExpr).head().getInt(0)
  }

  test("commitBuckets CASes on the caller's base version — a stale merge raises") {
    import spark.implicits._
    val (_, coll) = freshColl(buckets = 4)
    coll.commitBuckets(0 until 4,
      Seq(("a", 1L, 1L)).toDF("key", "value", "seq"), 1L,
      expectedBase = Some(-1L)) // empty store: base is the -1 sentinel
    val base = coll.currentVersion.get
    // writer B lands a commit between A's snapshot read and A's commit
    coll.commitBuckets(0 until 4,
      Seq(("a", 1L, 1L), ("b", 2L, 2L)).toDF("key", "value", "seq"), 2L)
    // A's merge was computed against `base` and never saw B's row — the
    // commit must RAISE, not quietly produce a snapshot without "b"
    val e = intercept[java.util.ConcurrentModificationException] {
      coll.commitBuckets(0 until 4,
        Seq(("a", 99L, 3L)).toDF("key", "value", "seq"), 3L,
        expectedBase = Some(base))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the failed CAS left the store untouched at B's snapshot
    assert(rowsOf(coll) == Set(("a", 1L), ("b", 2L)))
    assert(coll.currentVersion.contains(base + 1))
    // and a retry computed against the CURRENT snapshot goes through
    coll.commitBuckets(0 until 4,
      Seq(("a", 99L, 3L), ("b", 2L, 2L)).toDF("key", "value", "seq"), 3L,
      expectedBase = Some(base + 1))
    assert(rowsOf(coll) == Set(("a", 99L), ("b", 2L)))
  }

  test("commit rewrites only touched buckets; untouched dirs carry over") {
    import spark.implicits._
    val (root, coll) = freshColl()
    val all = (0 until 200).map(i => (s"k$i", i.toLong, 1L))
    coll.commitBuckets((0 until 8), all.toDF("key", "value", "seq"), 1L)
    val before = liveDirs(root)
    assert(before.nonEmpty)

    // second commit touches exactly one key → one bucket
    val b = bucketOf(coll, "k0")
    val survivors = all.filter(r => bucketOf(coll, r._1) == b)
      .map { case (k, v, s) => if (k == "k0") (k, 999L, 2L) else (k, v, s) }
    coll.commitBuckets(Seq(b), survivors.toDF("key", "value", "seq"), 2L)
    val after = liveDirs(root)

    assert(after(b) != before(b), "touched bucket must get a new data dir")
    (before.keySet - b).foreach { other =>
      assert(after(other) == before(other),
        s"untouched bucket $other must keep its exact data directory")
    }
    assert(rowsOf(coll) == all.map { case (k, v, _) =>
      (k, if (k == "k0") 999L else v) }.toSet)
    assert(coll.currentVersion.contains(1L))
  }

  test("a bucket emptied by deletes disappears from the manifest; reads stay whole") {
    import spark.implicits._
    val (root, coll) = freshColl(buckets = 4)
    val rows = (0 until 40).map(i => (s"k$i", i.toLong, 1L))
    coll.commitBuckets((0 until 4), rows.toDF("key", "value", "seq"), 1L)
    val b = bucketOf(coll, "k1")
    // new contents of bucket b: nothing survives
    coll.commitBuckets(Seq(b),
      Seq.empty[(String, Long, Long)].toDF("key", "value", "seq"), 1L)
    val expect = rows.filter(r => bucketOf(coll, r._1) != b)
      .map { case (k, v, _) => (k, v) }.toSet
    assert(rowsOf(coll) == expect)
    assert(!liveDirs(root).contains(b))
  }

  test("maxSeq is carried by the manifest, no index scan needed") {
    import spark.implicits._
    val (_, coll) = freshColl()
    assert(coll.maxSeq == 0L)
    coll.commitBuckets(Seq(bucketOf(coll, "a")),
      Seq(("a", 1L, 7L)).toDF("key", "value", "seq"), 7L)
    assert(coll.maxSeq == 7L)
    assert(coll.currentVersion.contains(0L))
  }

  test("a commit retried after a mid-move crash succeeds (orphan dirs cleaned)") {
    import spark.implicits._
    val (root, coll) = freshColl(buckets = 4)
    coll.commitBuckets((0 until 4),
      (0 until 20).map(i => (s"k$i", i.toLong, 1L)).toDF("key", "value", "seq"), 1L)
    // simulate a crash after some bucket moves of version 1 but before the
    // pointer swap: orphan data dirs for the NEXT version + a stale staging
    // dir are left behind
    val next = coll.currentVersion.get + 1
    val orphan = java.nio.file.Paths.get(root, f"b00000-v$next%08d")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    val stage = java.nio.file.Paths.get(root, f".stage-$next%08d")
    java.nio.file.Files.createDirectories(stage)
    // the retried commit must not throw FileAlreadyExistsException and must
    // publish the correct contents
    val b = bucketOf(coll, "k0")
    val survivors = (0 until 20).filter(i => bucketOf(coll, s"k$i") == b)
      .map(i => (s"k$i", if (i == 0) 999L else i.toLong, 2L))
    coll.commitBuckets(Seq(b), survivors.toDF("key", "value", "seq"), 2L)
    assert(coll.currentVersion.contains(next))
    assert(rowsOf(coll) == (0 until 20).map(i =>
      (s"k$i", if (i == 0) 999L else i.toLong)).toSet)
    assert(!java.nio.file.Files.exists(stage), "stale staging dirs are pruned")
  }

  test("commit lock is reentrant on the same thread, exclusive across threads") {
    import scala.jdk.CollectionConverters._
    val (root, coll) = freshColl(buckets = 2)
    val dir = java.nio.file.Paths.get(root)
    // same-thread nesting must not trip OverlappingFileLockException —
    // admin ops compose locked ops on the same dir (migrate-under-open,
    // rebucket's commitBuckets under the rebucket lock)
    val nested = BucketedKeyedCollection.withCommitLock(dir) {
      BucketedKeyedCollection.withCommitLock(dir) { 42 }
    }
    assert(nested == 42)
    // cross-thread: a second thread must BLOCK until the holder releases
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t1 = new Thread(() => BucketedKeyedCollection.withCommitLock(dir) {
      order.add("t1-in"); entered.countDown(); release.await(); order.add("t1-out")
    })
    t1.start()
    entered.await()
    val t2 = new Thread(() => BucketedKeyedCollection.withCommitLock(dir) {
      order.add("t2-in")
    })
    t2.start()
    Thread.sleep(200) // t2 must still be parked on the lock here
    assert(!order.contains("t2-in"), s"lock failed to exclude a second thread: $order")
    release.countDown(); t1.join(10000); t2.join(10000)
    assert(order.asScala.toSeq == Seq("t1-in", "t1-out", "t2-in"), s"order: $order")
  }

  test("storage is bounded: old manifests and unreferenced bucket dirs are vacuumed") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val (root, coll) = freshColl(buckets = 4)
    // 10 commits, each rewriting one bucket — without pruning this leaves
    // 10 manifests and ~14 bucket dirs; retention must bound both
    val all = (0 until 40).map(i => (s"k$i", i.toLong, 1L))
    coll.commitBuckets((0 until 4), all.toDF("key", "value", "seq"), 1L)
    val b = bucketOf(coll, "k0")
    (2 to 10).foreach { v =>
      val survivors = all.filter(r => bucketOf(coll, r._1) == b)
        .map { case (k, _, _) => (k, v.toLong, v.toLong) }
      coll.commitBuckets(Seq(b), survivors.toDF("key", "value", "seq"), v.toLong)
    }
    val entries = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try l.iterator().asScala.map(_.getFileName.toString).toSeq finally l.close()
    }
    val manifests = entries.filter(_.startsWith("manifest-")).sorted
    val cur = coll.currentVersion.get
    assert(manifests == Seq(f"manifest-${cur - 1}%08d", f"manifest-$cur%08d"),
      s"only the last retain=2 manifests may remain, got $manifests")
    val referenced = manifests.flatMap(m =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(root, m)).asScala.toSeq.tail
        .filter(_.nonEmpty).map(_.split(" ", 2)(1))).toSet
    val dataDirs = entries.filter(n => n.startsWith("b") && n.contains("-v")).toSet
    assert(dataDirs == referenced,
      s"every surviving data dir must be referenced by a retained manifest; " +
        s"orphans: ${dataDirs -- referenced}")
    // the snapshot itself is intact after 9 prunes
    assert(rowsOf(coll) == all.map { case (k, v, _) =>
      (k, if (bucketOf(coll, k) == b) 10L else v) }.toSet)
  }

  test("time travel: retained versions read as-of; pruned and unpublished ones refuse") {
    import spark.implicits._
    val (root, _) = freshColl(buckets = 4)
    val coll = new BucketedKeyedCollection(root, schema, "key", 4, retain = 3)
    assert(coll.retainedVersions.isEmpty, "no commits → no versions")

    def commitAll(rows: Seq[(String, Long, Long)], maxSeq: Long): Long =
      coll.commitBuckets(0 until 4, rows.toDF("key", "value", "seq"), maxSeq)
    val v0 = commitAll((0 until 20).map(i => (s"k$i", 0L, 1L)), 1L)
    val v1 = commitAll((0 until 20).map(i => (s"k$i", 1L, 2L)), 2L)
    val v2 = commitAll((0 until 10).map(i => (s"k$i", 2L, 3L)), 3L)
    assert(coll.retainedVersions == Seq(v0, v1, v2))

    // each retained version reads back its exact snapshot, and the pinned
    // frame is the SAME rows regardless of later commits
    def valsAt(v: Long): Set[(String, Long)] =
      coll.readVersion(spark, v).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(valsAt(v0) == (0 until 20).map(i => (s"k$i", 0L)).toSet)
    assert(valsAt(v1) == (0 until 20).map(i => (s"k$i", 1L)).toSet)
    assert(valsAt(v2) == (0 until 10).map(i => (s"k$i", 2L)).toSet)
    assert(coll.readVersion(spark, v2).collect().toSet ==
      coll.read(spark).collect().toSet, "readVersion(CURRENT) ≡ read")

    // a 4th commit vacuums v0: it leaves the window and refuses loudly
    val v3 = commitAll((0 until 5).map(i => (s"k$i", 3L, 4L)), 4L)
    assert(coll.retainedVersions == Seq(v1, v2, v3))
    val e = intercept[IllegalArgumentException] { coll.readVersion(spark, v0) }
    assert(e.getMessage.contains("not retained"))
    assert(valsAt(v1) == (0 until 20).map(i => (s"k$i", 1L)).toSet,
      "surviving pinned version still reads after the vacuum")

    // a manifest ABOVE the pointer (commit crashed before its swap) is
    // not a published snapshot — neither listed nor readable
    val ghost = v3 + 1
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(root, f"manifest-$v3%08d"),
      java.nio.file.Paths.get(root, f"manifest-$ghost%08d"))
    assert(coll.retainedVersions == Seq(v1, v2, v3),
      "unpublished manifest must not surface as a version")
    intercept[IllegalArgumentException] { coll.readVersion(spark, ghost) }
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, f"manifest-$ghost%08d"))
  }

  test("a lazy reader stays valid across retain-1 commits (the documented window)") {
    import spark.implicits._
    val (_, coll) = freshColl(buckets = 4)
    coll.commitBuckets(0 until 4,
      (0 until 40).map(i => (s"k$i", 1L, 1L)).toDF("key", "value", "seq"), 1L)
    // a long-running job plans its scan at t0 and collects much later —
    // the class doc promises the frame is still readable for retain-1
    // further commits, because the vacuum keeps the dirs the previous
    // manifest references
    val lazyFrame = coll.read(spark) // plans against v0's bucket dirs
    coll.commitBuckets(Seq(bucketOf(coll, "k0")),
      Seq(("k0", 2L, 2L)).toDF("key", "value", "seq"), 2L)
    val got = lazyFrame.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (0 until 40).map(i => (s"k$i", 1L)).toSet,
      "the pre-commit frame must still read v0's world, not fail or mix versions")
  }

  test("rows hashing outside the declared touched set are rejected") {
    import spark.implicits._
    val (_, coll) = freshColl()
    val k = "somekey"
    val wrong = (bucketOf(coll, k) + 1) % 8
    val err = intercept[IllegalArgumentException] {
      coll.commitBuckets(Seq(wrong), Seq((k, 1L, 1L)).toDF("key", "value", "seq"), 1L)
    }
    assert(err.getMessage.contains("undeclared buckets"))
  }

  test("stray files in the collection dir neither wedge commits nor get deleted") {
    import spark.implicits._
    val (root, coll) = freshColl(buckets = 4)
    val all = (0 until 40).map(i => (s"k$i", i.toLong, 1L))
    coll.commitBuckets((0 until 4), all.toDF("key", "value", "seq"), 1L)
    // user-dropped files whose names superficially match the layout's
    // naming: `backup-v2.txt` starts with 'b' and contains '-v' (the old
    // substring parse threw NumberFormatException and wedged every
    // subsequent commit); `manifest-backup` matches the manifest prefix
    val strays = Seq("backup-v2.txt", "manifest-backup", "b-notes-v.md")
      .map(java.nio.file.Paths.get(root, _))
    strays.foreach(p => java.nio.file.Files.write(p, "keep me".getBytes))
    // several commits: exercises both the retry-cleanup scan (every commit)
    // and prune's vacuum of manifests + unreferenced bucket dirs
    val b = bucketOf(coll, "k0")
    (2 to 4).foreach { v =>
      val survivors = all.filter(r => bucketOf(coll, r._1) == b)
        .map { case (k, _, _) => (k, v.toLong, v.toLong) }
      coll.commitBuckets(Seq(b), survivors.toDF("key", "value", "seq"), v.toLong)
    }
    strays.foreach(p => assert(java.nio.file.Files.exists(p),
      s"stray file $p must survive cleanup untouched"))
    assert(rowsOf(coll).size == 40, "snapshot intact around the strays")
  }

  test("dir names wider than the %0Nd padding are still parsed and cleaned") {
    import spark.implicits._
    val (root, coll) = freshColl(buckets = 4)
    val rows = (0 until 40).map(i => (s"k$i", i.toLong, 1L))
    coll.commitBuckets((0 until 4), rows.toDF("key", "value", "seq"), 1L)
    // %08d / %05d WIDEN past their pad once the value outgrows it — a layout
    // at version >= 1e8 writes 9-digit dir names. A fixed-width regex would
    // stop recognizing them: such a crashed-commit leftover (version >=
    // next) escapes the pre-commit cleanup and the later Files.move into
    // the same name wedges the commit; prune leaks it forever.
    val wideOrphan = java.nio.file.Paths.get(root, "b00001-v123456789")
    java.nio.file.Files.createDirectory(wideOrphan)
    java.nio.file.Files.write(wideOrphan.resolve("part-junk.parquet"), Array[Byte](1))
    val b = bucketOf(coll, "k0")
    val survivors = rows.filter(r => bucketOf(coll, r._1) == b)
    coll.commitBuckets(Seq(b), survivors.toDF("key", "value", "seq"), 2L)
    assert(!java.nio.file.Files.exists(wideOrphan),
      "a >=next orphan with overflowed digit width must be swept pre-commit")
    assert(rowsOf(coll).size == 40, "snapshot intact after the sweep")
  }
}
