package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftClient

/** Scalar (metadata) index — Milvus scalar-index parity: directory-level
  * bucket pruning for filtered reads, per-commit touched-bucket
  * maintenance, staleness fallback. Correctness here is double-checked
  * everywhere: every pruned result is compared against the same query's
  * full-scan answer. */
class ScalarIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def mkClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("graft-scalar").toString
    new GraftClient(spark, root)
  }

  private def vec(seed: Int): Seq[Float] = Seq.tabulate(4)(i => (seed % 17 + i).toFloat)

  /** 200 rows, two RARE source values on known keys, the rest common —
    * rare values land in few store buckets, so the prune is observable. */
  private def seedRows = {
    import spark.implicits._
    (0 until 200).map { i =>
      val src = if (i == 7 || i == 42) "rare" else if (i == 99) "unicorn" else "common"
      (s"k$i", vec(i), Map("source" -> src, "x" -> (i % 10).toString))
    }.toDF("key", "vec", "meta")
  }

  private def srcEq(v: String) = element_at(col("meta"), lit("source")) === v

  /** Distinct bucket directories a frame's plan actually reads. */
  private def bucketDirsRead(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).toSet

  test("build + prune: equality and IN read only the value's buckets, same answer") {
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)

    // BEFORE the index: full scan baseline (all live bucket dirs)
    val fullDirs = bucketDirsRead(c.queryWhere("col", srcEq("rare")))
    val fullKeys = c.queryWhere("col", srcEq("rare")).select("key")
      .collect().map(_.getString(0)).toSet
    assert(fullKeys == Set("k7", "k42"))

    c.createScalarIndex("col", "source")
    assert(c.listScalarIndexes("col") == Seq("source"))

    val pruned = c.queryWhere("col", srcEq("rare"))
    assert(pruned.select("key").collect().map(_.getString(0)).toSet == fullKeys)
    val prunedDirs = bucketDirsRead(pruned)
    assert(prunedDirs.size <= 2, s"rare (2 keys) must read <= 2 bucket dirs, got $prunedDirs")
    assert(prunedDirs.size < fullDirs.size)

    // IN over two values — union of their posting lists
    val in = c.queryWhere("col",
      element_at(col("meta"), lit("source")).isin("rare", "unicorn"))
    assert(in.select("key").collect().map(_.getString(0)).toSet == Set("k7", "k42", "k99"))
    assert(bucketDirsRead(in).size <= 3)

    // a value absent from the corpus proves absence: zero buckets, zero rows
    val none = c.queryWhere("col", srcEq("never-written"))
    assert(none.count() == 0)
    assert(none.inputFiles.isEmpty)
  }

  test("only implied AND-conjuncts prune; ORs stay full-scan; same-field conjuncts intersect") {
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.createScalarIndex("col", "source")

    // conjunct beside an un-indexed predicate: prune fires, filter still exact
    val conj = c.queryWhere("col",
      srcEq("rare") && element_at(col("meta"), lit("x")) === "7")
    assert(conj.select("key").collect().map(_.getString(0)).toSet == Set("k7"))
    assert(bucketDirsRead(conj).size <= 2)

    // OR cannot imply a bounded value set — no prune, correct answer
    val or = c.queryWhere("col",
      srcEq("rare") || element_at(col("meta"), lit("x")) === "9")
    val orKeys = or.select("key").collect().map(_.getString(0)).toSet
    assert(orKeys.contains("k7") && orKeys.contains("k42") && orKeys.contains("k9"))
    val fullDirs = bucketDirsRead(c.queryWhere("col", lit(true)))
    assert(bucketDirsRead(or) == fullDirs)

    // two conjuncts on the SAME field intersect their value sets
    val inter = c.queryWhere("col",
      srcEq("rare") && element_at(col("meta"), lit("source")).isin("rare", "common"))
    assert(inter.select("key").collect().map(_.getString(0)).toSet == Set("k7", "k42"))
    assert(bucketDirsRead(inter).size <= 2)
    // contradictory conjuncts → empty value set → zero buckets, zero rows
    assert(c.queryWhere("col", srcEq("rare") && srcEq("common")).count() == 0)
  }

  test("per-commit maintenance: upserts, value churn, deletes — index stays fresh and exact") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.createScalarIndex("col", "source")

    // new value arrives: the index rolled forward with the commit
    c.upsert("col", Seq(("kNew", vec(1), Map("source" -> "fresh")))
      .toDF("key", "vec", "meta"))
    val fresh = c.queryWhere("col", srcEq("fresh"))
    assert(fresh.select("key").collect().map(_.getString(0)).toSet == Set("kNew"))
    assert(bucketDirsRead(fresh).size <= 1)

    // value churn: k7 re-upserted with a DIFFERENT source — old posting
    // must not resurrect the key under 'rare'
    c.upsert("col", Seq(("k7", vec(7), Map("source" -> "moved")))
      .toDF("key", "vec", "meta"))
    assert(c.queryWhere("col", srcEq("rare")).select("key")
      .collect().map(_.getString(0)).toSet == Set("k42"))
    assert(c.queryWhere("col", srcEq("moved")).select("key")
      .collect().map(_.getString(0)).toSet == Set("k7"))

    // deleteWhere rides the prune and keeps the index fresh through its
    // commit; append-only maintenance lets the deleted value's postings
    // LINGER (dead, bucket-bounded) — the answer stays exact
    c.deleteWhere("col", srcEq("rare"))
    val gone = c.queryWhere("col", srcEq("rare"))
    assert(gone.count() == 0)
    assert(bucketDirsRead(gone).size <= 2,
      "dead postings stay bounded by the value's original buckets")

    // delete by key maintains too
    c.deleteByKeys("col", Seq("kNew"))
    assert(c.queryWhere("col", srcEq("fresh")).count() == 0)

    // after all the churn the pruned path still equals a fresh full scan
    val all = c.queryWhere("col", lit(true)).select("key")
      .collect().map(_.getString(0)).toSet
    assert(!all.contains("kNew") && all.contains("k7") && !all.contains("k42"))
  }

  test("staleness falls back to the full scan, never a wrong answer") {
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.createScalarIndex("col", "source")
    val dataPath = c.describe("col").dataPath

    // simulate a crashed build/maintenance: VERSION gone → index unusable
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dataPath-scalar/source/VERSION"))
    val q = c.queryWhere("col", srcEq("rare"))
    assert(q.select("key").collect().map(_.getString(0)).toSet == Set("k7", "k42"))
    assert(bucketDirsRead(q) == bucketDirsRead(c.queryWhere("col", lit(true))),
      "stale index must not prune")

    // createScalarIndex is the recovery path
    c.createScalarIndex("col", "source")
    assert(bucketDirsRead(c.queryWhere("col", srcEq("rare"))).size <= 2)
  }

  test("exact-path search prunes through the filter; IVF path unaffected") {
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.createScalarIndex("col", "source")

    val q = Array.fill(4)(0.5f)
    val hits = c.search("col", q, k = 5, filter = Some(srcEq("rare")))
    assert(hits.select("vector_key").collect().map(_.getString(0)).toSet == Set("k7", "k42"))
    assert(bucketDirsRead(hits).size <= 2, "exact-path filtered search must bucket-prune")

    // with a fresh IVF index the candidates come from the cells layout —
    // the scalar prune must not interfere with result correctness
    c.buildIndex("col", nlist = 4)
    val viaIvf = c.search("col", q, k = 5, filter = Some(srcEq("rare")), nprobe = 4)
    assert(viaIvf.select("vector_key").collect().map(_.getString(0)).toSet == Set("k7", "k42"))
  }

  test("partition-key collection: routed commits maintain per-partition; pk scoping rides the prune") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("pkc", dim = 4, partitionKey = "tenant", numPartitions = 4)
    val rows = (0 until 120).map { i =>
      (s"k$i", vec(i), Map("tenant" -> s"t${i % 3}", "kind" -> (if (i < 3) "odd" else "usual")))
    }.toDF("key", "vec", "meta")
    c.upsert("pkc", rows)
    c.createScalarIndex("pkc", "kind")

    // routed upsert after the index: every touched partition's index rolls forward
    c.upsert("pkc", Seq(("kX", vec(5), Map("tenant" -> "t1", "kind" -> "odd")))
      .toDF("key", "vec", "meta"))
    val odd = c.queryWhere("pkc", element_at(col("meta"), lit("kind")) === "odd")
    assert(odd.select("key").collect().map(_.getString(0)).toSet ==
      Set("k0", "k1", "k2", "kX"))
    // 4 rows → at most 4 bucket dirs across all partitions
    assert(bucketDirsRead(odd).size <= 4)

    // partition-key scoped search composes with the scalar filter
    val hits = c.search("pkc", Array.fill(4)(0.5f), k = 50,
      filter = Some(element_at(col("meta"), lit("kind")) === "odd"),
      partitionKeyValues = Seq("t1"))
    val keys = hits.select("vector_key").collect().map(_.getString(0)).toSet
    assert(keys.forall(Set("k1", "kX")), s"t1&odd only, got $keys")
    assert(keys == Set("k1", "kX"))
  }

  test("queryIterator re-applies the prune on every page") {
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.createScalarIndex("col", "source")
    val it = c.queryIterator("col", srcEq("rare"), batchSize = 1)
    assert(it.flatMap(_.map(_.getString(0))).toSeq == Seq("k42", "k7"))
  }

  test("lifecycle: reserved suffix, stats, drop, collection drop cleans up") {
    val c = mkClient()
    assertThrows[IllegalArgumentException](c.createCollection("x-scalar", dim = 4))

    c.createCollection("col", dim = 4)
    assertThrows[IllegalStateException](c.createScalarIndex("col", "source"))
    c.upsert("col", seedRows)
    assertThrows[IllegalArgumentException](c.createScalarIndex("col", "no spaces!"))
    c.createScalarIndex("col", "source")
    c.createScalarIndex("col", "x")
    assert(c.listScalarIndexes("col") == Seq("source", "x"))

    // stats: 'common' fans out to the most buckets (prunes nothing) —
    // the operator can see that before relying on the index
    val top = c.scalarIndexStats("col", "source").collect()
    assert(top.head.getString(0) == "common")
    assert(top.map(_.getString(0)).toSet == Set("common", "rare", "unicorn"))

    assert(c.dropScalarIndex("col", "x"))
    assert(!c.dropScalarIndex("col", "x"))
    assert(c.listScalarIndexes("col") == Seq("source"))

    val dataPath = c.describe("col").dataPath
    c.drop("col")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dataPath-scalar")),
      "drop must remove the scalar root")
  }

  test("append-only maintenance: dead postings linger soundly, auto-compaction folds them") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val c = new GraftClient(spark, root) {
      override protected val scalarCompactAt: Int = 3
    }
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    // kX is the ONLY row with source 'solo'
    c.upsert("col", Seq(("kX", vec(1), Map("source" -> "solo")))
      .toDF("key", "vec", "meta"))
    c.createScalarIndex("col", "source")
    val dir = s"${c.describe("col").dataPath}-scalar/source"
    assert(graft.index.ScalarIndex.appendCount(dir) == 0)

    // append 1: kX's value churns away — the old (solo, bucket) pair
    // LINGERS: the query reads kX's bucket, finds nothing, answers right
    c.upsert("col", Seq(("kX", vec(1), Map("source" -> "moved")))
      .toDF("key", "vec", "meta"))
    val solo = c.queryWhere("col", srcEq("solo"))
    assert(solo.count() == 0)
    assert(solo.inputFiles.nonEmpty, "append-only keeps the dead pair until compaction")
    assert(graft.index.ScalarIndex.appendCount(dir) == 1)

    // appends 2 and 3 — the third hits the threshold and compacts
    c.upsert("col", Seq(("kY", vec(2), Map("source" -> "y")))
      .toDF("key", "vec", "meta"))
    assert(graft.index.ScalarIndex.appendCount(dir) == 2)
    c.upsert("col", Seq(("kZ", vec(3), Map("source" -> "z")))
      .toDF("key", "vec", "meta"))
    assert(graft.index.ScalarIndex.appendCount(dir) == 0, "compaction resets the counter")
    // the dead pair folded: the absent value is again proven with zero I/O
    val soloAfter = c.queryWhere("col", srcEq("solo"))
    assert(soloAfter.count() == 0 && soloAfter.inputFiles.isEmpty)
    // and the compacted index still serves every live value exactly
    assert(c.queryWhere("col", srcEq("moved")).select("key")
      .collect().map(_.getString(0)).toSet == Set("kX"))
    assert(c.queryWhere("col", srcEq("z")).select("key")
      .collect().map(_.getString(0)).toSet == Set("kZ"))
    assert(c.listIndexes("col").filter(col("kind") === "SCALAR")
      .collect().forall(_.getAs[Boolean]("fresh")))
  }

  test("zone maps: numeric range/equality/IN and string ranges bucket-prune, lossless") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("col", dim = 4)
    // skewed fixture: two planted HIGH prices on known keys, the rest
    // 0..9 — high values land in few buckets, so a range prune shows
    c.upsert("col", (0 until 200).map { i =>
      val price = if (i == 7) "5000" else if (i == 42) "6000" else (i % 10).toString
      val tag = if (i == 99) "zz-top" else s"m$i"
      (s"k$i", vec(i), Map("price" -> price, "tag" -> tag))
    }.toDF("key", "vec", "meta"))
    val fullDirs = bucketDirsRead(c.queryWhere("col", lit(true)))
    c.createScalarIndex("col", "price")
    c.createScalarIndex("col", "tag")

    // numeric range via the Milvus filter-string shape (Cast to DOUBLE)
    val hi = c.queryWhere("col", c.milvusFilter("price > 1000"))
    assert(hi.select("key").collect().map(_.getString(0)).toSet == Set("k7", "k42"))
    assert(bucketDirsRead(hi).size <= 2 && bucketDirsRead(hi).size < fullDirs.size,
      s"range prune must skip low-price buckets, read ${bucketDirsRead(hi).size} of ${fullDirs.size}")

    // numeric POINT filter now prunes too (casts bypassed the posting
    // lists; the zone span check is what fires here)
    val eq = c.queryWhere("col", c.milvusFilter("price == 5000"))
    assert(eq.select("key").collect().map(_.getString(0)).toSet == Set("k7"))
    // span containment is coarser than a posting lookup (k42's bucket
    // spans [low, 6000] ∋ 5000) but must still beat the full scan
    assert(bucketDirsRead(eq).size <= 2 && bucketDirsRead(eq).size < fullDirs.size)

    // numeric IN
    val in = c.queryWhere("col", c.milvusFilter("price in [5000, 6000]"))
    assert(in.select("key").collect().map(_.getString(0)).toSet == Set("k7", "k42"))
    assert(bucketDirsRead(in).size <= 2)

    // string (lexical) range
    val z = c.queryWhere("col", element_at(col("meta"), lit("tag")) > "z")
    assert(z.select("key").collect().map(_.getString(0)).toSet == Set("k99"))
    assert(bucketDirsRead(z).size <= 1)

    // LIKE 'prefix%' implies the lexical band [prefix, successor) —
    // the reference's url-prefix filter shape rides the zones too
    val pfx = c.queryWhere("col", c.milvusFilter("""tag like "zz%""""))
    assert(pfx.select("key").collect().map(_.getString(0)).toSet == Set("k99"))
    assert(bucketDirsRead(pfx).size <= 1,
      s"prefix LIKE must zone-prune, read ${bucketDirsRead(pfx)}")
    // a % anywhere else must NOT prune (and must stay correct)
    assert(c.queryWhere("col", c.milvusFilter("""tag like "%z-top""""))
      .select("key").collect().map(_.getString(0)).toSet == Set("k99"))

    // an empty range proves emptiness with zero I/O
    val none = c.queryWhere("col", c.milvusFilter("price > 99999"))
    assert(none.count() == 0 && none.inputFiles.isEmpty)

    // appends keep zones sound: a NEW high value lands, range still finds it
    c.upsert("col", Seq(("kN", vec(3), Map("price" -> "7000", "tag" -> "mN")))
      .toDF("key", "vec", "meta"))
    assert(c.queryWhere("col", c.milvusFilter("price > 1000")).select("key")
      .collect().map(_.getString(0)).toSet == Set("k7", "k42", "kN"))

    // pre-zone-map layouts (no zones/ dir) fall back to the full scan,
    // never a wrong answer
    val zonesDir = java.nio.file.Paths.get(
      s"${c.describe("col").dataPath}-scalar/price/zones")
    graft.streaming.BucketedKeyedCollection.deleteTree(zonesDir)
    val fallback = c.queryWhere("col", c.milvusFilter("price > 1000"))
    assert(fallback.select("key").collect().map(_.getString(0)).toSet ==
      Set("k7", "k42", "kN"))
  }

  test("delete-only commits tick the compaction clock; dead pairs fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-delclock").toString
    val c = new GraftClient(spark, root) {
      override protected val scalarCompactAt: Int = 3
    }
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.upsert("col", Seq(
      ("kA", vec(1), Map("source" -> "doomed")),
      ("kB", vec(2), Map("source" -> "doomed")),
      ("kC", vec(3), Map("source" -> "doomed")))
      .toDF("key", "vec", "meta"))
    c.createScalarIndex("col", "source")
    val dir = s"${c.describe("col").dataPath}-scalar/source"
    assert(graft.index.ScalarIndex.appendCount(dir) == 0)

    // three PURE-delete commits: no puts, so nothing appends — but each
    // must tick the clock, and the third fires compaction
    c.deleteByKeys("col", Seq("kA"))
    assert(graft.index.ScalarIndex.appendCount(dir) == 1,
      "a delete-only commit must advance the compaction clock")
    val mid = c.queryWhere("col", srcEq("doomed"))
    assert(mid.select("key").collect().map(_.getString(0)).toSet == Set("kB", "kC"))
    c.deleteByKeys("col", Seq("kB"))
    assert(graft.index.ScalarIndex.appendCount(dir) == 2)
    c.deleteByKeys("col", Seq("kC"))
    assert(graft.index.ScalarIndex.appendCount(dir) == 0,
      "the third delete-only commit must fire compaction and reset the clock")
    // dead pairs folded: the fully-deleted value is proven absent, 0 I/O
    val gone = c.queryWhere("col", srcEq("doomed"))
    assert(gone.count() == 0 && gone.inputFiles.isEmpty,
      "after compaction the dead value must prune to zero buckets")
    // the index is fresh and still exact for live values
    assert(c.queryWhere("col", srcEq("rare")).select("key")
      .collect().map(_.getString(0)).toSet == Set("k7", "k42"))
    assert(c.listIndexes("col").filter(col("kind") === "SCALAR")
      .collect().forall(_.getAs[Boolean]("fresh")))
  }

  test("two concurrent writers: the index is never WRONG — fresh-and-pruned or stale-and-full") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = java.nio.file.Files.createTempDirectory("graft-scrace").toString
    val c1 = new GraftClient(spark, root)
    c1.createCollection("sc", dim = 2)
    val c2 = new GraftClient(spark, root)
    c1.upsert("sc", Seq(("seed", Seq(0f, 0f), Map("tag" -> "t0")))
      .toDF("key", "vec", "meta"))
    c1.createScalarIndex("sc", "tag")
    // Both clients interleave commits; each commit's refresh races the
    // other's. The contract under EVERY interleaving: a pruned read is
    // either FRESH (index rolled forward) or falls back to the full scan
    // (stamp left behind) — never a wrong answer. The end state is
    // deterministic (distinct keys), so expected sets are computable.
    def writer(c: GraftClient, tag: String): Unit =
      (0 until 6).foreach { i =>
        c.upsert("sc", Seq((s"$tag-$i", Seq(i.toFloat, 0f),
            Map("tag" -> s"t${i % 3}"))).toDF("key", "vec", "meta"))
      }
    val f1 = Future(writer(c1, "a")); val f2 = Future(writer(c2, "b"))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
    (0 until 3).foreach { t =>
      val expected = Seq("a", "b").flatMap(p =>
        (0 until 6).filter(_ % 3 == t).map(i => s"$p-$i")).toSet ++
        (if (t == 0) Set("seed") else Set.empty[String])
      val got = keysOfTag(c1, s"t$t")
      assert(got == expected, s"t$t: got $got, expected $expected")
    }
    assert(c1.queryWhere("sc", element_at(col("meta"), lit("tag")) === "tX")
      .count() == 0)
    // recovery path regardless of which refreshes lost their races:
    // re-create, then the prune must serve exact answers again
    c1.createScalarIndex("sc", "tag")
    assert(keysOfTag(c1, "t1") ==
      Set("a-1", "a-4", "b-1", "b-4"))
  }

  private def keysOfTag(c: GraftClient, v: String): Set[String] =
    c.queryWhere("sc", element_at(col("meta"), lit("tag")) === v)
      .select("key").collect().map(_.getString(0)).toSet

  test("listIndexes: one frame over IVF + text + scalar with per-index freshness") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", seedRows)
    c.createScalarIndex("col", "source")
    c.buildIndex("col", nlist = 2)
    c.buildTextIndex("col", seedRows
      .select(col("key"), concat_ws(" ", lit("doc"), col("key")).as("text")))
    val idx = c.listIndexes("col").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(idx == Set(("IVF_FLAT", "vec", true), ("TEXT", "text", true),
      ("SCALAR", "source", true)))
    // a commit the text index never saw: scalar + IVF roll forward
    // (auto-maintained), text goes stale — the report shows exactly that
    c.upsert("col", Seq(("kz", vec(3), Map("source" -> "z")))
      .toDF("key", "vec", "meta"))
    val after = c.listIndexes("col").collect()
      .map(r => (r.getString(0), r.getBoolean(2))).toMap
    assert(after("SCALAR") && after("IVF_FLAT") && !after("TEXT"))
  }

  test("scalarIndexZoneStats: zone_rows drifts up per append, compaction folds it to 1") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("col", dim = 4)
    c.upsert("col", (0 until 100).map(i =>
      (s"k$i", vec(i), Map("price" -> (i % 10).toString)))
      .toDF("key", "vec", "meta"))
    c.createScalarIndex("col", "price")
    val fresh = c.scalarIndexZoneStats("col", "price").collect()
    assert(fresh.nonEmpty && fresh.forall(_.getLong(1) == 1L),
      "a fresh build has exactly one zone row per bucket")
    // two appends: touched buckets accumulate one zone row each — the
    // drift gauge an operator reads (spans never tighten until compaction)
    c.upsert("col", Seq(("kB", vec(1), Map("price" -> "9000")))
      .toDF("key", "vec", "meta"))
    c.upsert("col", Seq(("kC", vec(2), Map("price" -> "9001")))
      .toDF("key", "vec", "meta"))
    val drifted = c.scalarIndexZoneStats("col", "price").collect()
    assert(drifted.exists(_.getLong(1) >= 2L),
      s"appends must show as zone_rows > 1, got ${drifted.map(_.getLong(1)).toSeq}")
    // effective span covers the appended extreme (min/max across rows)
    assert(drifted.map(r => Option(r.get(3)).fold(0.0)(_ => r.getDouble(3))).max >= 9001.0)
    // compaction (full rebuild) folds zone rows back to 1 per bucket
    c.createScalarIndex("col", "price")
    val compacted = c.scalarIndexZoneStats("col", "price").collect()
    assert(compacted.nonEmpty && compacted.forall(_.getLong(1) == 1L))
  }
}
