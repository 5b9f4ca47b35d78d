package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient

/** Milvus load/release surface (`load_collection` / `release_collection`
  * / `get_load_state`): loading pins the CURRENT snapshot's write-once
  * bucket-version dirs as persisted columnar frames, so repeated
  * searches scan executor memory instead of re-reading parquet. The
  * invariants under test: results are IDENTICAL loaded vs not (the
  * cache is write-once data, so there is nothing to invalidate),
  * read-your-writes survives loading (a commit publishes NEW dirs that
  * miss the cache), and every layout destructor evicts through the same
  * choke point so no cached frame outlives its files. */
class LoadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("load-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("graft-load").toString
    new GraftClient(spark, root)
  }

  private def seed(client: GraftClient, name: String, n: Int = 50): Unit = {
    import spark.implicits._
    client.createCollection(name, dim = 4, buckets = 8)
    client.upsert(name, (0 until n)
      .map(i => (s"k$i", Seq((i + 1).toFloat, 0f, 0f, 0f), Map("i" -> i.toString)))
      .toDF("key", "vec", "meta"))
  }

  private def hits(client: GraftClient, name: String, k: Int = 10): Seq[(String, Double)] = {
    val df = client.search(name, Array(0f, 0f, 0f, 0f), k = k)
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  test("loaded search serves from the in-memory cache with identical results") {
    val client = newClient()
    seed(client, "lc")
    val before = hits(client, "lc")
    assert(client.loadState("lc") == "NotLoaded")
    val loaded = client.loadCollection("lc")
    assert(loaded == 50, s"load must materialize the live rows (got $loaded)")
    assert(client.loadState("lc") == "Loaded")
    // the physical plan must actually ride the cache — values matching
    // alone would pass if load silently fell through to parquet
    val plan = client.search("lc", Array(0f, 0f, 0f, 0f), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"loaded search must scan the cached frames, plan was:\n$plan")
    assert(hits(client, "lc") == before, "loading must never change results")
    client.releaseCollection("lc")
    assert(client.loadState("lc") == "NotLoaded")
    val planAfter = client.search("lc", Array(0f, 0f, 0f, 0f), k = 10)
      .queryExecution.executedPlan.toString
    assert(!planAfter.contains("InMemoryTableScan"),
      "release must drop the cache — the plan went back to parquet")
    assert(hits(client, "lc") == before, "release must never change results")
  }

  test("read-your-writes survives loading: post-load commits are visible immediately") {
    import spark.implicits._
    val client = newClient()
    seed(client, "rw")
    client.loadCollection("rw")
    // a new key strictly closer to the query than any seeded row
    client.upsert("rw", Seq(("fresh", Seq(0.001f, 0f, 0f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    val top = hits(client, "rw", k = 1)
    assert(top.map(_._1) == Seq("fresh"),
      s"a commit after load must be visible (write-once dirs miss the cache); got $top")
    // an overwrite of an existing key must win too — its bucket's new
    // version dir replaces the cached one in the manifest
    client.upsert("rw", Seq(("k5", Seq(0.0001f, 0f, 0f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(hits(client, "rw", k = 1).map(_._1) == Seq("k5"))
    assert(client.count("rw") == 51)
    assert(client.loadState("rw") == "Loaded", "commits must not unload the collection")
    client.releaseCollection("rw")
  }

  test("deletes are visible through the cache and drop/re-create cannot resurrect cached rows") {
    val client = newClient()
    seed(client, "dd")
    client.loadCollection("dd")
    client.deleteByKeys("dd", Seq("k1", "k2"))
    assert(client.count("dd") == 48, "deletes must be visible while loaded")
    assert(!hits(client, "dd", k = 50).map(_._1).contains("k1"))
    // drop destroys the layout through deleteTree, which must evict the
    // cache — a same-path re-create reads ONLY its own fresh data
    client.drop("dd")
    seed(client, "dd", n = 3)
    assert(client.loadState("dd") == "NotLoaded", "drop must unload")
    assert(client.count("dd") == 3,
      "a re-created collection must not serve the dropped one's cached rows")
  }

  test("partition-scoped load: load_partitions shape and PartiallyLoaded state") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pp", dim = 2, buckets = 4)
    client.createPartition("pp", "hot")
    client.upsert("pp", Seq(("a", Seq(1f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    client.upsert("pp", Seq(("b", Seq(2f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"), partition = "hot")
    client.loadCollection("pp", partitions = Seq("hot"))
    assert(client.loadState("pp") == "PartiallyLoaded")
    // scoped search of the loaded partition rides the cache; the
    // unloaded partition still serves from parquet — results unchanged
    assert(client.search("pp", Array(0f, 0f), k = 2).collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    client.loadCollection("pp")
    assert(client.loadState("pp") == "Loaded")
    client.releaseCollection("pp")
    assert(client.loadState("pp") == "NotLoaded")
  }

  test("loading an IVF_FLAT collection pins the INDEX layout: pruned search rides the cache") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("ivf", dim = 2, indexType = "IVF_FLAT", nlist = 4, buckets = 8)
    // seeded vecs all sit >= (1,1), so a later row near the origin can
    // provably win the k=1 probe below
    client.upsert("ivf", (0 until 80)
      .map(i => (f"k$i%03d", Seq((i % 4 + 1).toFloat, (i / 4 + 1).toFloat), Map("i" -> i.toString)))
      .toDF("key", "vec", "meta"))
    client.buildIndex("ivf", nlist = 4)
    val q = Array(0f, 0f)
    val before = client.search("ivf", q, k = 5).collect().map(_.getString(0)).toSeq
    client.loadCollection("ivf")
    val layout = client.describe("ivf").dataPath + "-ivf"
    val loaded = client.search("ivf", q, k = 5)
    assert(LayoutScans.of(loaded, layout) == Seq("cells"),
      "indexed loaded search must scan the loaded cell layout, not parquet, plan was:\n" +
        loaded.queryExecution.executedPlan.toString.take(1500))
    assert(client.search("ivf", q, k = 5).collect().map(_.getString(0)).toSeq == before,
      "loading must never change indexed results")
    // a post-load commit refreshes the index (new stamp) — the frame must
    // swap, not serve the pre-commit cells
    client.upsert("ivf", Seq(("fresh", Seq(0.001f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(client.search("ivf", q, k = 1).collect().head.getString(0) == "fresh",
      "the refreshed index frame must serve post-commit rows")
    // a REBUILD at an unchanged store version must evict the frame too
    client.buildIndex("ivf", nlist = 2)
    assert(client.search("ivf", q, k = 1).collect().head.getString(0) == "fresh")
    client.releaseCollection("ivf")
    assert(LayoutScans.of(client.search("ivf", q, k = 5), layout) == Seq("parquet"),
      "release must unpin the cell layout")
  }

  test("loading an IVF_SQ8 collection pins codes + cells + store: both stages ride the cache") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("sq8", dim = 2, indexType = "IVF_SQ8", nlist = 2, buckets = 8)
    client.upsert("sq8", (0 until 60)
      .map(i => (f"k$i%03d", Seq((i % 3).toFloat, (i / 3).toFloat), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    client.buildIndex("sq8", nlist = 2)
    val q = Array(0f, 0f)
    val before = client.search("sq8", q, k = 5).collect().map(_.getString(0)).toSeq
    client.loadCollection("sq8")
    val loaded = client.search("sq8", q, k = 5)
    val plan = loaded.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"SQ8 stage 2 must ride the cached store frame, plan was:\n${plan.take(1500)}")
    assert(LayoutScans.of(loaded, client.describe("sq8").dataPath + "-ivf") == Seq("cells"),
      s"SQ8 stage 1 must scan the loaded codes layout, not parquet, plan was:\n${plan.take(1500)}")
    assert(client.search("sq8", q, k = 5).collect().map(_.getString(0)).toSeq == before,
      "loading must never change SQ8 results")
    client.releaseCollection("sq8")
    assert(client.search("sq8", q, k = 5).collect().map(_.getString(0)).toSeq == before)
  }

  test("streaming ingest into a LOADED collection: every drained batch swaps the frame") {
    import spark.implicits._
    import graft.ingest.Embedder
    val root = java.nio.file.Files.createTempDirectory("graft-load-stream").toString
    val client = new graft.api.GraftClient(spark, root)
    client.createCollection("live", dim = Embedder.TextDim)
    // load FIRST — the micro-batch commits must stay visible through the
    // loaded read path (each commit publishes a new dir set; the next
    // read swaps the snapshot frame)
    client.loadCollection("live")
    assert(client.loadState("live") == "Loaded")
    val objects = graft.sources.ObjectSources.withObjectKey(
      graft.sources.ObjectSources.textObjects(
        spark, "src/test/resources/objects/text/doc*.txt"), "objects/text")
      .select(col("key"), col("text"))
    spark.read.text("src/test/resources/events/ingest_log.jsonl")
      .coalesce(1).write.mode("overwrite").text(s"$root/landing")
    client.startIngest("live", s"$root/landing", objects).awaitTermination(120000)
    assert(client.loadState("live") == "Loaded", "ingest must not unload")
    val hit = client.search("live",
      Embedder.text.embedText("the quick brown fox jumps"), 1).head()
    assert(hit.getAs[String]("vector_key") == "doc1.txt")
    val plan = client.search("live", Embedder.text.embedText("fox"), 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      "post-ingest loaded search must ride the re-warmed frame")
    client.releaseCollection("live")
  }

  test("time travel under load: readVersion serves the PINNED snapshot, not the cached current one") {
    import spark.implicits._
    val client = newClient()
    seed(client, "tt", n = 10)
    val v0 = client.versions("tt").last
    client.loadCollection("tt")
    client.upsert("tt", Seq(("extra", Seq(9f, 0f, 0f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(client.count("tt") == 11, "current read sees the commit")
    // the pinned version's dir set differs from the cached snapshot's —
    // the loaded path must fall back to parquet, not serve 11 rows
    assert(client.readVersion("tt", v0).count() == 10,
      "a pinned old version must not be served from the current frame")
    client.releaseCollection("tt")
  }

  test("a loaded partition-key collection routes and moves exactly like an unloaded one") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pk", dim = 2, partitionKey = "tenant", numPartitions = 4)
    client.upsert("pk", Seq(
      ("x", Seq(1f, 0f), Map("tenant" -> "t0")),
      ("y", Seq(2f, 0f), Map("tenant" -> "t1"))).toDF("key", "vec", "meta"))
    client.loadCollection("pk")
    assert(client.loadState("pk") == "Loaded")
    // a pk-move while loaded: the old partition's cache must not serve
    // the moved key (its bucket rewrote to a new dir; stale dir evicted
    // by the vacuum hook)
    client.upsert("pk", Seq(("x", Seq(3f, 0f), Map("tenant" -> "t1")))
      .toDF("key", "vec", "meta"))
    assert(client.count("pk") == 2)
    assert(client.search("pk", Array(0f, 0f), k = 5, partitionKeyValues = Seq("t0"))
      .count() == 0, "the moved key's old copy must not survive in the cache")
    client.releaseCollection("pk")
  }
}
