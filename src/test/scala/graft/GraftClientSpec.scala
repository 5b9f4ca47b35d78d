package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient
import graft.ingest.Embedder

/** The switch-over surface: every call a reference user makes today,
  * through GraftClient — create, upsert (overwrite), search (with and
  * without filter), delete by key and predicate, describe/list/drop. */
class GraftClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-client-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("full reference lifecycle through the client") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-client").toString
    val client = new GraftClient(spark, root)

    // create (idempotent — has_collection gate)
    assert(client.createCollection("bkt_text_0001", dim = 384))
    assert(!client.createCollection("bkt_text_0001", dim = 999))
    assert(client.describe("bkt_text_0001").dim == 384)
    assert(client.list() == Seq("bkt_text_0001"))

    // upsert: embed three docs (the reference's ingest transform)
    def row(key: String, text: String, tag: String) =
      (key, Embedder.text.embedText(text).toSeq, Map("category" -> tag))
    val batch1 = Seq(
      row("doc1", "the quick brown fox jumps over the lazy dog", "animals"),
      row("doc2", "ceph object storage event notification pipeline", "infra"),
      row("doc3", "spark vector search engine", "infra")
    ).toDF("key", "vec", "meta")
    assert(client.upsert("bkt_text_0001", batch1) == 3)

    // same-key overwrite (put of a new object version)
    val batch2 = Seq(row("doc3", "spark vector search engine over parquet", "infra-v2"))
      .toDF("key", "vec", "meta")
    assert(client.upsert("bkt_text_0001", batch2) == 3)
    // Milvus get_collection_stats().row_count parity
    assert(client.count("bkt_text_0001") == 3)

    // search: top-2 by L2, reference result shape
    val q = Embedder.text.embedText("quick brown fox")
    val hits = client.search("bkt_text_0001", q, k = 2).collect()
    assert(hits.length == 2)
    assert(hits.head.getAs[String]("vector_key") == "doc1")
    assert(hits.head.getAs[Double]("distance") < hits(1).getAs[Double]("distance"))

    // overwrite visible: doc3's metadata is the v2 tag
    val d3 = client.search("bkt_text_0001",
      Embedder.text.embedText("spark vector search engine over parquet"), k = 1).head()
    assert(d3.getAs[String]("vector_key") == "doc3")
    assert(d3.getAs[Map[String, String]]("metadata")("category") == "infra-v2")

    // filtered search (B1/B2): restrict by metadata before top-k
    val filtered = client.search("bkt_text_0001", q, k = 2,
      filter = Some(element_at(col("meta"), "category") =!= "animals")).collect()
    assert(filtered.forall(_.getAs[String]("vector_key") != "doc1"))

    // delete by key (ObjectRemoved:Delete)
    assert(client.deleteByKeys("bkt_text_0001", Seq("doc1")) == 2)
    val afterDelete = client.search("bkt_text_0001", q, k = 3).collect()
    assert(!afterDelete.exists(_.getAs[String]("vector_key") == "doc1"))

    // delete by predicate (Milvus filter delete)
    assert(client.deleteWhere("bkt_text_0001",
      element_at(col("meta"), "category") === "infra-v2") == 1)

    // wrong dimension rejected at the boundary
    val err = intercept[Exception] {
      client.upsert("bkt_text_0001",
        Seq(("bad", Seq(1.0f, 2.0f), Map.empty[String, String])).toDF("key", "vec", "meta"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(_.contains("dimension")))
    val errQ = intercept[IllegalArgumentException] {
      client.search("bkt_text_0001", Array(1.0f), k = 1)
    }
    assert(errQ.getMessage.contains("dimension"))

    // drop
    assert(client.drop("bkt_text_0001"))
    assert(client.list().isEmpty)
  }

  private def notif(eventName: String, key: String): String =
    TestDirs.notif(eventName, key, category = "bin")

  private def writeLanding(dir: String, name: String, lines: Seq[String],
                           mtimeMs: Long): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  test("image branch: startIngest dispatches binary objects through embedBytes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-img").toString
    val client = new GraftClient(spark, root)
    client.createCollection("imgs", dim = Embedder.ImageDim)

    val objects = graft.sources.ObjectSources.withObjectKey(
      graft.sources.ObjectSources.binaryObjects(spark, "src/test/resources/objects/bin/*"),
      "objects/bin").select(col("key"), col("content").as("bytes"))
    val keys = objects.select("key").as[String].collect().toSeq.sorted
    assert(keys == Seq("clip1.wav", "img1.png", "vid1.mp4"))

    writeLanding(s"$root/landing", "events.json",
      keys.map(k => notif("ObjectCreated:Put", k)), System.currentTimeMillis())
    val q = client.startIngest("imgs", s"$root/landing", objects,
      embedder = Embedder.image)
    q.awaitTermination(120000)

    // the planted nearest neighbor: querying with img1.png's own bytes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/objects/bin/img1.png"))
    val hit = client.searchImage("imgs", bytes, k = 1).head()
    assert(hit.getAs[String]("vector_key") == "img1.png")
    assert(hit.getAs[Double]("distance") < 1e-6, "self-query must be distance ~0")
    assert(hit.getAs[Map[String, String]]("metadata")("category") == "bin")
  }

  test("streamed ingest into an HNSW collection: index-served via the growing tail") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-hnswstream").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(8)
    client.createCollection("hns", dim = 8, indexType = "HNSW", buckets = 4)
    val seed = (0 until 120).map(i => (s"s$i",
      (1 to 8).map(j => math.sin(i * 0.7 + j * 1.31).toFloat),
      Map.empty[String, String]))
    client.upsert("hns", seed.toDF("key", "vec", "meta"))
    client.buildIndex("hns", nlist = 0)

    val objects = Seq(
      ("doc-a", "alpha content for the hnsw stream".getBytes("UTF-8")),
      ("doc-b", "a rather different beta payload".getBytes("UTF-8")))
      .toDF("key", "bytes")
    writeLanding(s"$root/landing", "events.json",
      Seq(notif("ObjectCreated:Put", "doc-a"),
        notif("ObjectCreated:Put", "doc-b")), System.currentTimeMillis())
    client.startIngest("hns", s"$root/landing", objects, embedder = emb)
      .awaitTermination(120000)

    // the micro-batch commits did NOT rebuild graphs (growing tail: the
    // stamp lags current) yet the collection stays index-served...
    val idx = client.listIndexes("hns").filter(col("kind") === "HNSW").head()
    assert(idx.getBoolean(2), "HNSW must stay servable across streamed commits")
    assert(idx.getLong(3) < idx.getLong(4),
      "stamp must lag current — streamed commits must not pay rebuilds")
    val q = emb.embedBytes("alpha content for the hnsw stream".getBytes("UTF-8"))
    val df = client.search("hns", q, k = 1, ef = 200, refine = 130)
    assert(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "search must still ride the graph scatter-gather")
    // ...and the streamed doc — which NO graph has ever seen — is found
    // exactly, through the tail arm
    val hit = df.head()
    assert(hit.getAs[String]("vector_key") == "doc-a")
    assert(hit.getAs[Double]("distance") < 1e-6, "self-query must be ~0")
  }

  test("streamed ingest keeps an IVF_PQ collection's ADC path fresh") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pqstream").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(8)
    client.createCollection("pqs", dim = 8, indexType = "IVF_PQ", nlist = 2)
    // seed + build: the streamed commits below must MAINTAIN this index
    // (touched-cell re-encode against the frozen codebooks), not stale it
    val seed = (0 until 120).map(i => (s"s$i",
      (1 to 8).map(j => math.sin(i * 0.7 + j * 1.31).toFloat),
      Map.empty[String, String]))
    client.upsert("pqs", seed.toDF("key", "vec", "meta"))
    client.buildIndex("pqs", nlist = 2)

    val objects = Seq(
      ("doc-a", "alpha content for the pq stream".getBytes("UTF-8")),
      ("doc-b", "a rather different beta payload".getBytes("UTF-8")))
      .toDF("key", "bytes")
    writeLanding(s"$root/landing", "events.json",
      Seq(notif("ObjectCreated:Put", "doc-a"),
        notif("ObjectCreated:Put", "doc-b")), System.currentTimeMillis())
    client.startIngest("pqs", s"$root/landing", objects, embedder = emb)
      .awaitTermination(120000)

    val q = emb.embedBytes("alpha content for the pq stream".getBytes("UTF-8"))
    val df = client.search("pqs", q, k = 1, nprobe = 2, refine = 16)
    assert(df.queryExecution.executedPlan.toString.contains("pq_adc_distance"),
      "streamed commits must keep the ADC stage-1 path, not stale the index")
    val hit = df.head()
    assert(hit.getAs[String]("vector_key") == "doc-a")
    assert(hit.getAs[Double]("distance") < 1e-6, "self-query must be ~0")
    // the streamed rows' codes are real: once compact folds the delta
    // segments, they live in the pq cells
    client.compact("pqs")
    val pqCells = spark.read.parquet(s"${client.describe("pqs").dataPath}-ivf/pqcells")
    assert(pqCells.filter(col("key").isin("doc-a", "doc-b")).count() == 2)
  }

  test("a Copy event's tag mutation lands in meta (RGW metadata rewrite)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-copy").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(16)
    client.createCollection("cp", dim = 16)
    val objects = Seq(("report.pdf", "quarterly revenue numbers")).toDF("key", "text")

    // Golden fixtures in the Ceph-extension notification shape
    // (FIXTURES.md §2.1 — `s3.object.tags` rides inside the S3 record).
    // COPY is how RGW rewrites an object's metadata in place: S3 has no
    // metadata-update call, so `x-amz-metadata-directive: REPLACE` copies
    // the object onto its own key and the notification arrives as
    // ObjectCreated:Copy carrying the NEW tags.
    val putEvent =
      """{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3",""" +
        """"eventName":"ObjectCreated:Put","s3":{"bucket":{"name":"docs-bkt"},""" +
        """"object":{"key":"report.pdf","size":9512,""" +
        """"tags":{"category":"finance","status":"draft"}}}}]}"""
    val copyEvent =
      """{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3",""" +
        """"eventName":"ObjectCreated:Copy","s3":{"bucket":{"name":"docs-bkt"},""" +
        """"object":{"key":"report.pdf","size":9512,""" +
        """"tags":{"category":"finance","status":"approved","reviewed_by":"ops"}}}}]}"""

    writeLanding(s"$root/landing1", "put.json", Seq(putEvent), 1000000L)
    client.startIngest("cp", s"$root/landing1", objects, embedder = emb)
      .awaitTermination(120000)
    val before = client.search("cp", emb.embedText("quarterly revenue numbers"), 1)
      .head().getAs[Map[String, String]]("metadata")
    assert(before == Map("category" -> "finance", "status" -> "draft"))

    // the Copy arrives later (second landing dir = second stream run):
    // the two-arm dispatch upserts it, replacing the key's meta wholesale
    writeLanding(s"$root/landing2", "copy.json", Seq(copyEvent), 2000000L)
    client.startIngest("cp", s"$root/landing2", objects, embedder = emb)
      .awaitTermination(120000)
    val after = client.search("cp", emb.embedText("quarterly revenue numbers"), 1)
      .head().getAs[Map[String, String]]("metadata")
    assert(after == Map("category" -> "finance", "status" -> "approved",
      "reviewed_by" -> "ops"),
      s"Copy tag mutation must replace the key's meta, got $after")
    assert(client.count("cp") == 1L, "a Copy must update in place, not duplicate")
  }

  test("mixed text/image dispatch in one stream; unsupported objects rejected") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-mixed").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(64) // one dim for both modalities
    client.createCollection("mixed", dim = 64)

    val objects = Seq(
      ("a.txt", "the quick brown fox", null: Array[Byte]),
      ("b.png", null: String, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      ("c.bad", null: String, null: Array[Byte]) // reference's 400 arm
    ).toDF("key", "text", "bytes")
    writeLanding(s"$root/landing", "events.json",
      Seq(notif("ObjectCreated:Put", "a.txt"),
        notif("ObjectCreated:Put", "b.png"),
        notif("ObjectCreated:Put", "c.bad")), System.currentTimeMillis())
    val q = client.startIngest("mixed", s"$root/landing", objects, embedder = emb)
    q.awaitTermination(120000)

    val textHit = client.searchText("mixed", "quick brown fox", 1, embedder = emb).head()
    assert(textHit.getAs[String]("vector_key") == "a.txt")
    val imgHit = client.searchImage("mixed",
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), 1, embedder = emb).head()
    assert(imgHit.getAs[String]("vector_key") == "b.png")
    val all = client.search("mixed", emb.embedText("anything"), 10).collect()
      .map(_.getAs[String]("vector_key")).toSet
    assert(all == Set("a.txt", "b.png"), "the unsupported object must be rejected")
  }

  test("arrival order survives multi-file micro-batches (delete vs re-put)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-arrival").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(32)
    client.createCollection("live", dim = 32)
    val objects = Seq(
      ("a.txt", "alpha document"), ("b.txt", "beta document"),
      ("c.txt", "gamma document"), ("d.txt", "delta document")
    ).toDF("key", "text")

    val now = System.currentTimeMillis()
    // OLDER landing file: put a, put c, DELETE b
    writeLanding(s"$root/landing", "f1.json",
      Seq(notif("ObjectCreated:Put", "a.txt"),
        notif("ObjectCreated:Put", "c.txt"),
        notif("ObjectRemoved:Delete", "b.txt")), now - 60000)
    // NEWER landing file: re-PUT b (must win over the older delete),
    // DELETE c (must win over the older put)
    writeLanding(s"$root/landing", "f2.json",
      Seq(notif("ObjectCreated:Put", "b.txt"),
        notif("ObjectRemoved:Delete", "c.txt")), now)
    // SAME-mtime collision (notification burst inside one stamp quantum):
    // sequence-numbered files must order by length-then-lex, so f10 > f9
    // — d.txt's re-put in f10 must beat its delete in f9 despite
    // "f10" < "f9" lexicographically
    writeLanding(s"$root/landing", "f9.json",
      Seq(notif("ObjectRemoved:Delete", "d.txt")), now)
    writeLanding(s"$root/landing", "f10.json",
      Seq(notif("ObjectCreated:Put", "d.txt")), now)

    val q = client.startIngest("live", s"$root/landing", objects, embedder = emb)
    q.awaitTermination(120000)

    val keys = client.search("live", emb.embedText("document"), 10).collect()
      .map(_.getAs[String]("vector_key")).toSet
    assert(keys == Set("a.txt", "b.txt", "d.txt"),
      s"re-put after delete must survive (incl. same-mtime seq-named files), " +
        s"put before delete must not: $keys")
  }

  test("a malformed delete event (no object key) does not poison the stream") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-malformed").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(16)
    client.createCollection("mal", dim = 16)
    val objects = Seq(("good.txt", "a good doc")).toDF("key", "text")
    // delete record whose s3.object carries no key (truncated notification)
    val malformed =
      """{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3",""" +
        """"eventName":"ObjectRemoved:Delete","s3":{"bucket":{"name":"bkt"},""" +
        """"object":{"size":1,"tags":{}}}}]}"""
    writeLanding(s"$root/landing", "f1.json",
      Seq(notif("ObjectCreated:Put", "good.txt"), malformed),
      System.currentTimeMillis())
    val q = client.startIngest("mal", s"$root/landing", objects, embedder = emb)
    q.awaitTermination(120000)
    assert(q.exception.isEmpty,
      s"a malformed event must be dropped per-event, not kill the query: ${q.exception}")
    val keys = client.search("mal", emb.embedText("doc"), 10).collect()
      .map(_.getAs[String]("vector_key")).toSet
    assert(keys == Set("good.txt"), s"the well-formed event must still apply: $keys")
  }

  test("checkpointed ingest restarts at the first unseen landing file") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(16)
    client.createCollection("ckpt", dim = 16)
    val objects = Seq(("k1", "one doc"), ("k2", "two doc"), ("k3", "three doc"))
      .toDF("key", "text")
    val ckpt = s"$root/checkpoint"
    val now = System.currentTimeMillis()

    // run 1: two puts
    writeLanding(s"$root/landing", "f1.json",
      Seq(notif("ObjectCreated:Put", "k1"), notif("ObjectCreated:Put", "k2")),
      now - 60000)
    client.startIngest("ckpt", s"$root/landing", objects, embedder = emb,
      checkpointDir = Some(ckpt)).awaitTermination(120000)

    // run 2, same checkpoint: one delete + one put in a NEW file — the
    // restarted query must process exactly this file's 2 events, not
    // re-read f1 (a reprocess would also re-put k1 and break the delete)
    writeLanding(s"$root/landing", "f2.json",
      Seq(notif("ObjectRemoved:Delete", "k1"), notif("ObjectCreated:Put", "k3")), now)
    val q2 = client.startIngest("ckpt", s"$root/landing", objects, embedder = emb,
      checkpointDir = Some(ckpt))
    q2.awaitTermination(120000)
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    assert(replayed == 2,
      s"restart must resume at the checkpointed offset (2 new events), saw $replayed")

    val keys = client.search("ckpt", emb.embedText("doc"), 10).collect()
      .map(_.getAs[String]("vector_key")).toSet
    assert(keys == Set("k2", "k3"),
      s"delete of k1 must hold across the restart: $keys")
  }

  test("crash between merge-commit and checkpoint ack: replay converges, IVF recovers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val client = new GraftClient(spark, root)
    val emb = graft.ingest.HashingEmbedder(16)
    client.createCollection("crash", dim = 16, indexType = "IVF_FLAT", nlist = 2)
    val objects = Seq(("k1", "one doc"), ("k2", "two doc")).toDF("key", "text")
    client.upsert("crash", Seq(
      ("k0", emb.embedText("zero doc").toSeq, Map.empty[String, String]),
      ("kA", emb.embedText("alpha doc").toSeq, Map.empty[String, String])
    ).toDF("key", "vec", "meta"))
    client.buildIndex("crash", nlist = 2)
    val ckpt = s"$root/checkpoint"
    writeLanding(s"$root/landing", "f1.json",
      Seq(notif("ObjectCreated:Put", "k1"), notif("ObjectCreated:Put", "k2"),
        notif("ObjectRemoved:Delete", "k0")), System.currentTimeMillis())
    client.startIngest("crash", s"$root/landing", objects, embedder = emb,
      checkpointDir = Some(ckpt)).awaitTermination(120000)

    val dataPath = client.describe("crash").dataPath
    def storeVersion: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dataPath, "CURRENT"))).trim.toLong
    def indexVersion: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataPath-ivf/VERSION"))).trim.toLong
    def liveKeys: Set[String] = {
      client.registerSqlViews()
      spark.table("crash").select("key").collect().map(_.getString(0)).toSet
    }
    val expected = Set("kA", "k1", "k2")
    assert(liveKeys == expected)
    assert(indexVersion == storeVersion, "maintenance must chain VERSION through the batch")
    val vAfterBatch = storeVersion

    // CRASH INJECTION: the merge-commit landed (store + index above) but
    // the checkpoint ack never did — exactly the window the scaladoc
    // claims is safe (GraftClient.startIngest). The faithful on-disk
    // state has NEITHER commits/<n> NOR its checksum sidecar (a stale
    // .crc would trip the local filesystem's checksum check on rewrite
    // and masquerade as a concurrent-writer error).
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    import scala.jdk.CollectionConverters._
    val lastCommit = java.nio.file.Files.list(commits).iterator().asScala
      .filter(_.getFileName.toString.matches("\\d+")).toSeq
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(lastCommit)
    java.nio.file.Files.deleteIfExists(
      lastCommit.resolveSibling(s".${lastCommit.getFileName}.crc"))

    // restart with the same checkpoint: structured streaming re-executes
    // the unacked batch (same offsets, same landing files)
    val q2 = client.startIngest("crash", s"$root/landing", objects, embedder = emb,
      checkpointDir = Some(ckpt))
    q2.awaitTermination(120000)
    assert(q2.recentProgress.map(_.numInputRows).sum == 3,
      "the restarted query must replay the unacked 3-event batch")

    // convergence: same live set, content identical, no resurrected k0
    assert(liveKeys == expected, s"replay must converge to the identical live set")
    assert(storeVersion > vAfterBatch, "the replayed merge commits a new version")
    assert(indexVersion == storeVersion,
      "IVF VERSION must recover across the replayed commit (no silent staleness)")
    val df = client.search("crash", emb.embedText("one doc"), k = 3, nprobe = 2)
    assert(df.queryExecution.executedPlan.toString.contains("centroidId"),
      "search must keep the index prune after the crash-replay cycle")
    val got = df.collect().map(_.getAs[String]("vector_key")).toSeq
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => val d = x.toDouble - y; d * d }.sum
    val q = emb.embedText("one doc")
    val live = Map("kA" -> emb.embedText("alpha doc"),
      "k1" -> emb.embedText("one doc"), "k2" -> emb.embedText("two doc"))
    val exact = live.toSeq.map { case (k, v) => (k, l2(v, q)) }
      .sortBy { case (k, d) => (d, k) }.map(_._1)
    assert(got == exact, s"full-probe search after replay must be exact: $got vs $exact")
  }

  test("searchBatch equals per-query search on both the pruned and exact paths") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sb").toString
    val client = new GraftClient(spark, root)
    client.createCollection("sb", dim = 4, nlist = 8)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map(i =>
      (s"k$i", Seq.fill(4)(rnd.nextFloat()), Map("i" -> i.toString)))
    client.upsert("sb", rows.toDF("key", "vec", "meta"))
    val qvecs = (0 until 5).map(qi => qi.toLong -> Array.fill(4)(rnd.nextFloat()))
    val queries = qvecs.map { case (qi, v) => (qi, v.toSeq) }.toDF("qid", "qvec")

    def batchByQid(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getAs[Long]("qid")).map { case (qi, hits) =>
        qi -> hits.map(r => (r.getAs[String]("vector_key"),
          math.round(r.getAs[Double]("distance") * 1e9))).toSeq
      }
    def singles(nprobe: Int) = qvecs.map { case (qi, v) =>
      qi -> client.search("sb", v, k = 3, nprobe = nprobe).collect()
        .map(r => (r.getAs[String]("vector_key"),
          math.round(r.getAs[Double]("distance") * 1e9))).toSeq
    }.toMap

    // exact path (no index yet)
    assert(batchByQid(client.searchBatch("sb", queries, k = 3)) == singles(4))

    // the huge-|Q| regime on the exact path (the branch that consults the
    // nQ broadcast guard): a numQueries hint past the threshold must
    // degrade the query side to a shuffle join with IDENTICAL results —
    // the guard changes the plan, never the answer
    // (no plan assertion: AQE may legitimately re-broadcast the actually-
    // tiny frame at runtime — the guard only withholds the STATIC hint)
    val big = client.searchBatch("sb", queries, k = 3,
      numQueries = Some(200000L))
    assert(batchByQid(big) == singles(4),
      "forced non-broadcast regime must return the same hits")

    // pruned path: fresh index, per-query cells — plan must show the
    // probe join, and full-probe results must equal the exact answer
    client.buildIndex("sb", nlist = 8)
    val pruned = client.searchBatch("sb", queries, k = 3, nprobe = 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("centroidId"),
      "a fresh index must route searchBatch through the cell join")
    assert(batchByQid(pruned) == singles(2),
      "batched pruned results must equal single-query pruned results")
    assert(batchByQid(client.searchBatch("sb", queries, k = 3, nprobe = 8)) ==
      singles(8), "full probe through the index equals exact")

    // CONSTRUCTING a batched search must not launch Spark jobs: a local
    // in-memory query frame's size is read off the optimized plan, so the
    // broadcast decision costs no limit+count sizing job (interactive
    // latency). Jobs run when the caller acts, not before.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobNames.add(js.stageInfos.map(_.name).mkString("; "))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // deterministic, not wall-clock: drain every queued event from the
      // work above, zero the counter, and after constructing the plan
      // drain again — any sizing job's start event MUST have been
      // delivered by the time waitUntilEmpty returns
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      jobs.set(0)
      val df = client.searchBatch("sb", queries, k = 3, nprobe = 2)
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      assert(jobs.get() == 0,
        s"searchBatch construction launched ${jobs.get()} sizing job(s): " +
          s"${String.join(" || ", jobNames)}")
      assert(df.collect().nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stats: per-bucket rows and seq high-water marks") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stats").toString
    val client = new GraftClient(spark, root)
    client.createCollection("st", dim = 2, buckets = 4)
    client.upsert("st", (0 until 80).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map.empty[String, String])).toDF("key", "vec", "meta"))
    client.deleteByKeys("st", Seq("k0", "k1"))
    val statsDf = client.stats("st")
    val s = statsDf.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(s.map(_._2).sum == 78, s"78 live rows across buckets: ${s.toSeq}")
    assert(s.map(_._1).toSeq == s.map(_._1).toSeq.sorted && s.forall(_._1 < 4))
    assert(s.forall(_._3 == 1L), "one upsert commit → every bucket's max_seq is 1")
    // the bucket comes from the layout path, never from re-hashing keys:
    // the scan must project only `seq` (no key/vec/meta data pages)
    val plan = statsDf.queryExecution.executedPlan.toString
    assert(!plan.contains("xxhash64"),
      s"stats must not re-hash the key column:\n${plan.take(1500)}")
    assert(plan.contains("ReadSchema: struct<seq:bigint>"),
      s"stats must read only the seq column:\n${plan.take(1500)}")
    // layout-derived buckets agree with hash-derived ones over the LIVE
    // snapshot (listing the data dir raw would also count retained
    // previous-version dirs)
    client.registerSqlViews()
    val viaHash = spark.table("st")
      .groupBy(pmod(xxhash64(col("key")), lit(4L)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(s.map(t => t._1 -> t._2).toMap == viaHash,
      "path-derived bucket counts must equal hash-derived counts")

    // layout DRIFT fails loudly with the offending file's path — not a
    // silent null bucket, and not ANSI's generic cast error (the guard
    // must fire BEFORE the int cast of the unmatched extract). Simulate
    // drift the way it would really happen: a data dir referenced by the
    // manifest whose name stopped matching the bNNNNN-vNNNNNNNN layout.
    val dp = java.nio.file.Paths.get(client.describe("st").dataPath)
    val cur = new String(java.nio.file.Files.readAllBytes(dp.resolve("CURRENT"))).trim.toLong
    val manifest = dp.resolve(f"manifest-$cur%08d")
    val lines = java.nio.file.Files.readAllLines(manifest)
    val Array(b0, rel0) = lines.get(1).split(" ", 2)
    val stray = "renamed-by-hand"
    java.nio.file.Files.move(dp.resolve(rel0), dp.resolve(stray))
    java.nio.file.Files.write(manifest,
      (Seq(lines.get(0), s"$b0 $stray") ++
        (2 until lines.size).map(lines.get)).mkString("\n").getBytes)
    val drift = intercept[Exception] { client.stats("st").collect() }
    val msgs = Iterator.iterate[Throwable](drift)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("outside the bNNNNN-vNNNNNNNN bucket layout") &&
        msgs.contains(stray),
      s"drift must surface the designed diagnostic with the path, got: $msgs")
  }

  test("time travel: readVersion pins a snapshot while ingest keeps committing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val client = new GraftClient(spark, root)
    client.createCollection("tt", dim = 4, retain = 3)
    def up(tag: String, n: Int): Unit = client.upsert("tt",
      (0 until n).map(i => (s"k$i", Seq.fill(4)(i.toFloat), Map("tag" -> tag)))
        .toDF("key", "vec", "meta"))

    up("a", 6)
    val v0 = client.versions("tt").last
    up("b", 3)               // overwrites k0..k2
    client.deleteByKeys("tt", Seq("k5"))
    val vs = client.versions("tt")
    assert(vs.size == 3 && vs.head == v0 && vs == vs.sorted,
      s"retain=3 keeps the three commits oldest-first, got $vs")

    // the pinned frame is the pre-overwrite, pre-delete world —
    // reproducible export semantics while the collection keeps moving
    val pinned = client.readVersion("tt", v0)
    assert(pinned.count() == 6)
    assert(pinned.filter(col("meta")("tag") === "a").count() == 6,
      "version v0 must not see the later overwrites")
    val cur = client.readVersion("tt", vs.last)
    assert(cur.count() == 5, "current version sees the delete")
    assert(cur.filter(col("meta")("tag") === "b").count() == 3,
      "current version sees the overwrites")

    intercept[IllegalArgumentException] { client.readVersion("tt", v0 + 999L) }

    // bad parameters must be rejected at CREATE — persisting them would
    // wedge every later operation on an already-cataloged collection.
    // retain=1 in particular would let the commit-time vacuum delete the
    // pre-image snapshot incremental index maintenance still reads.
    for (bad <- Seq(
        () => client.createCollection("tt-bad", dim = 4, retain = 1),
        () => client.createCollection("tt-bad", dim = 0),
        () => client.createCollection("tt-bad", dim = 4, metric = "ip"),
        () => client.createCollection("tt-bad", dim = 4, indexType = "ANNOY"))) {
      intercept[IllegalArgumentException] { bad() }
      assert(!client.list().contains("tt-bad"), "rejected create must not catalog")
    }
  }

  test("drop destroys storage; ghost deletes commit nothing; null vecs rejected") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-drop").toString
    val client = new GraftClient(spark, root)
    client.createCollection("dd", dim = 4)
    client.upsert("dd", Seq(("a", Seq(1f, 2f, 3f, 4f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))

    // a delete that matches NOTHING must not rewrite buckets or bump the
    // version (it would expire pinned snapshots one commit early)
    val v = client.versions("dd").last
    client.deleteByKeys("dd", Seq("never-ingested"))
    assert(client.versions("dd").last == v, "ghost delete must not commit")
    // mixed ghost+real still deletes the real key
    client.deleteByKeys("dd", Seq("never-ingested", "a"))
    assert(client.get("dd", "a").isEmpty && client.versions("dd").last == v + 1)

    // a null vec must be rejected at the write boundary — committed, it
    // would rank first in every search (ASC NULLS FIRST, null distance)
    val e = intercept[Exception] {
      client.upsert("dd", Seq(("b", null.asInstanceOf[Seq[Float]],
        Map.empty[String, String])).toDF("key", "vec", "meta"))
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("null vec"), s"unexpected: $msgs")

    // drop destroys the layout: a same-named re-create must start EMPTY
    // (stale dirs would resurrect the old rows under the old dim)
    client.upsert("dd", Seq(("a", Seq(9f, 9f, 9f, 9f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    val dp = client.describe("dd").dataPath
    assert(client.drop("dd"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dp)),
      "drop must delete the data directory")
    client.createCollection("dd", dim = 8)
    assert(client.versions("dd").isEmpty, "re-created collection must start empty")
    assert(client.get("dd", "a").isEmpty, "old rows must not resurrect")
  }

  test("get: point lookup reads only the key's bucket") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-get").toString
    val client = new GraftClient(spark, root)
    client.createCollection("pt", dim = 2, buckets = 8)
    client.upsert("pt", (0 until 100).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map("i" -> i.toString))).toDF("key", "vec", "meta"))

    val got = client.get("pt", "k42")
    assert(got.contains((Seq(42f, 0f), Map("i" -> "42"))))
    assert(client.get("pt", "nope").isEmpty)

    // plan-level: the scan reads ONE bucket directory, not eight
    val m = client.describe("pt")
    val coll = new graft.streaming.BucketedKeyedCollection(
      m.dataPath, org.apache.spark.sql.types.StructType.fromDDL(
        "key STRING, vec ARRAY<FLOAT>, meta MAP<STRING,STRING>, ingest_ts TIMESTAMP, seq BIGINT"),
      "key", m.buckets)
    val b = Seq("k42").toDF("key").select(coll.bucketExpr).head().getInt(0)
    val single = coll.readBuckets(spark, Seq(b))
    assert(single.inputFiles.nonEmpty &&
      single.inputFiles.forall(_.contains(f"b$b%05d-")),
      s"a point read must touch only bucket $b's files: ${single.inputFiles.toSeq}")
  }

  test("rebucket migrates the layout; writes and search keep working") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-rb").toString
    val client = new GraftClient(spark, root)
    client.createCollection("rb", dim = 4, buckets = 4)
    val rows = (0 until 200).map(i =>
      (s"k$i", Seq(i.toFloat, 0f, 0f, 0f), Map("i" -> i.toString)))
    client.upsert("rb", rows.toDF("key", "vec", "meta"))
    client.buildIndex("rb", nlist = 4)

    assert(client.rebucket("rb", 32) == 200L)
    val meta = client.describe("rb")
    assert(meta.buckets == 32 && meta.dataPath.endsWith(".rb32"))

    // contents survived; search is correct (exact fallback — the old
    // index died with the old layout) and an explicit rebuild re-prunes
    val q = Array(5f, 0f, 0f, 0f)
    def top3 = client.search("rb", q, 3).collect().map(_.getAs[String]("vector_key")).toSeq
    assert(top3 == Seq("k5", "k4", "k6"))
    client.buildIndex("rb", nlist = 4)
    val pruned = client.search("rb", q, 3)
    assert(pruned.queryExecution.executedPlan.toString.contains("centroidId"))
    assert(pruned.collect().map(_.getAs[String]("vector_key")).toSeq == Seq("k5", "k4", "k6"))

    // the migrated store keeps touched-bucket economics: a one-key upsert
    // rewrites exactly one of the 32 buckets — asserted on the full
    // bucket→dir MAP, not a count (a full-layout rewrite would keep the
    // count identical while replacing every directory)
    val before = TestDirs.liveDirs(meta.dataPath)
    client.upsert("rb", Seq(("k5", Seq(999f, 0f, 0f, 0f), Map("i" -> "new")))
      .toDF("key", "vec", "meta"))
    val after = TestDirs.liveDirs(meta.dataPath)
    assert(after.keySet == before.keySet, "live bucket set unchanged")
    val changed = after.keySet.filter(b => after(b) != before(b))
    assert(changed.size == 1,
      s"a one-key upsert must rewrite exactly one bucket dir, changed: $changed")
    assert(client.search("rb", Array(999f, 0f, 0f, 0f), 1).collect()
      .head.getAs[String]("vector_key") == "k5", "post-rebucket write must win")
    // old layout is gone from disk
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(meta.dataPath.stripSuffix(".rb32"))))
  }

  test("upsertBytes mirrors upsertTexts for the image path") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ub").toString
    val client = new GraftClient(spark, root)
    client.createCollection("bin", dim = Embedder.ImageDim)
    client.upsertBytes("bin", Seq(
      ("one", Array[Byte](9, 9, 9, 9, 1, 1, 1, 1), Map("k" -> "1")),
      ("two", Array[Byte](-5, 0, 3, 7, 2, 4, 6, 8), Map("k" -> "2"))
    ).toDF("key", "bytes", "meta"))
    val hit = client.searchImage("bin", Array[Byte](9, 9, 9, 9, 1, 1, 1, 1), 1).head()
    assert(hit.getAs[String]("vector_key") == "one")
  }

  test("upsertTexts embeds server-side like the reference's ingest handler") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-client4").toString
    val client = new GraftClient(spark, root)
    client.createCollection("texts", dim = Embedder.TextDim)
    client.upsertTexts("texts", Seq(
      ("fox", "the quick brown fox jumps over the lazy dog", Map("k" -> "1")),
      ("ceph", "ceph object storage event notification", Map("k" -> "2"))
    ).toDF("key", "text", "meta"))
    val hit = client.search("texts", Embedder.text.embedText("quick brown fox"), 1).head()
    assert(hit.getAs[String]("vector_key") == "fox")
  }

  test("IVF index through the client: pruned search, staleness fallback") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-client3").toString
    val client = new GraftClient(spark, root)
    client.createCollection("ivf", dim = 8, metric = "l2", indexType = "IVF_FLAT", nlist = 4)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map("i" -> i.toString)))
    client.upsert("ivf", rows.toDF("key", "vec", "meta"))
    client.buildIndex("ivf", nlist = 4)

    val q = vec(17).toArray
    val viaIndex = client.search("ivf", q, k = 5).collect()
      .map(_.getAs[String]("vector_key")).toSeq
    assert(viaIndex.head == "k17")

    // brute-force exact oracle (computed locally) must agree at these k
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val exact = rows.map { case (key, v, _) => (key, l2(v)) }
      .sortBy { case (key, d) => (d, key) }.take(5).map(_._1)
    assert(viaIndex == exact, "fresh IVF top-5 matches the exact answer")

    // upsert after the build → the index refreshes incrementally: search
    // must still run THROUGH the prune and see the new key immediately
    client.upsert("ivf", Seq(("fresh", vec(17), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    val afterDf = client.search("ivf", q, k = 2)
    assert(afterDf.queryExecution.executedPlan.toString.contains("centroidId"),
      "an upsert must not silently degrade search to the exact full scan")
    val after = afterDf.collect().map(_.getAs[String]("vector_key")).toSeq
    assert(after.contains("fresh"), s"refreshed index must not hide new rows: $after")

    // deleteWhere also flows through the merge path now — index stays fresh
    client.deleteWhere("ivf", col("key") === "k199")
    val afterDel = client.search("ivf", q, k = 2)
    assert(afterDel.queryExecution.executedPlan.toString.contains("centroidId"),
      "a predicate delete must not silently degrade search either")
    assert(afterDel.collect().map(_.getAs[String]("vector_key")).toSeq.contains("fresh"))

    // simulate a crash mid-refresh (VERSION left behind the store): search
    // must fall back to the exact scan — correct, just unpruned
    val vfile = java.nio.file.Paths.get(
      s"${client.describe("ivf").dataPath}-ivf/VERSION")
    val v = new String(java.nio.file.Files.readAllBytes(vfile)).trim.toLong
    java.nio.file.Files.write(vfile, (v - 1).toString.getBytes)
    val staleDf = client.search("ivf", q, k = 2)
    assert(!staleDf.queryExecution.executedPlan.toString.contains("centroidId"),
      "a stale index must fall back to the exact scan, not serve stale cells")
    assert(staleDf.collect().map(_.getAs[String]("vector_key")).toSeq.contains("fresh"))

    // rebuild → indexed path again, still sees the new key
    client.buildIndex("ivf", nlist = 4)
    val rebuilt = client.search("ivf", q, k = 2).collect()
      .map(_.getAs[String]("vector_key")).toSeq
    assert(rebuilt.contains("fresh"))
  }

  test("dropIndex: search falls back to the exact scan; rebuild restores the prune; loaded refuses") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dropidx").toString
    val client = new GraftClient(spark, root)
    client.createCollection("di", dim = 8, metric = "l2",
      indexType = "IVF_SQ8", nlist = 4)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 150).map(i => (s"k$i", vec(i), Map.empty[String, String]))
    client.upsert("di", rows.toDF("key", "vec", "meta"))
    client.buildIndex("di", nlist = 4)
    val q = vec(23).toArray
    assert(client.search("di", q, k = 3).queryExecution.executedPlan
      .toString.contains("qvec"), "precondition: SQ8 stage 1 in the plan")
    assert(client.listIndexes("di").collect().exists(_.getString(0) == "IVF_SQ8"))

    // Milvus refuses drop_index on a loaded collection — release first
    client.loadCollection("di")
    val e = intercept[IllegalArgumentException](client.dropIndex("di"))
    assert(e.getMessage.contains("release"), e.getMessage)
    client.releaseCollection("di")

    client.dropIndex("di")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${client.describe("di").dataPath}-ivf")), "index layout destroyed")
    assert(!client.listIndexes("di").collect().exists(_.getString(0).startsWith("IVF")))
    val exactDf = client.search("di", q, k = 3)
    assert(!exactDf.queryExecution.executedPlan.toString.contains("qvec"),
      "post-drop search must be the exact scan")
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val exact = rows.map { case (key, v, _) => (key, l2(v)) }
      .sortBy { case (key, d) => (d, key) }.take(3).map(_._1)
    assert(exactDf.collect().map(_.getString(0)).toSeq == exact)
    // upserts keep working indexless (no refresh against a missing layout)
    client.upsert("di", Seq(("fresh", vec(23), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(client.search("di", q, k = 1).collect().head.getString(0) == "fresh")
    // rebuild restores the pruned path and sees everything
    client.buildIndex("di", nlist = 4)
    val again = client.search("di", q, k = 3)
    assert(again.queryExecution.executedPlan.toString.contains("qvec"))
    assert(again.collect().map(_.getString(0)).head == "fresh")
  }

  test("incremental IVF maintenance: upserts/deletes keep the prune exact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
    val client = new GraftClient(spark, root)
    client.createCollection("inc", dim = 8, metric = "l2", indexType = "IVF_FLAT", nlist = 4)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map("i" -> i.toString)))
    client.upsert("inc", rows.toDF("key", "vec", "meta"))
    client.buildIndex("inc", nlist = 4)

    // a batch that exercises every maintenance arm: brand-new keys, an
    // overwrite that MOVES a key to a different cell (k30 gets k170's
    // vector), then a delete
    client.upsert("inc", Seq(
      ("new1", vec(500), Map("i" -> "500")),
      ("new2", vec(501), Map("i" -> "501")),
      ("k30", vec(170), Map("i" -> "moved"))
    ).toDF("key", "vec", "meta"))
    client.deleteByKeys("inc", Seq("k17"))

    val live: Map[String, Seq[Float]] =
      (rows.map { case (k, v, _) => k -> v }.toMap
        ++ Map("new1" -> vec(500), "new2" -> vec(501), "k30" -> vec(170))) - "k17"

    // full probe (nprobe = nlist) through the maintained index must equal
    // the exact answer over the merged state — any lingering old copy
    // (k30's old cell, k17) or missed insert would show up here
    for (qSeed <- Seq(17, 30, 170, 500)) {
      val q = vec(qSeed).toArray
      val df = client.search("inc", q, k = 8, nprobe = 4)
      assert(df.queryExecution.executedPlan.toString.contains("centroidId"),
        "search must keep the centroidId prune after maintenance commits")
      val got = df.collect().map(_.getAs[String]("vector_key")).toSeq
      def l2(v: Seq[Float]): Double =
        v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
      val exact = live.toSeq.map { case (k, v) => (k, l2(v)) }
        .sortBy { case (k, d) => (d, k) }.take(8).map(_._1)
      assert(got == exact, s"q=vec($qSeed): $got != $exact")
    }
    // commits append delta segments and leave the base cells alone;
    // compact folds them, and the on-disk cells then hold exactly the
    // live rows: the deleted and moved-away copies must be gone
    assert(client.compact("inc").contains(("_default", "ivf", "delta folded")))
    for (qSeed <- Seq(17, 30, 170, 500)) {
      val q = vec(qSeed).toArray
      def l2(v: Seq[Float]): Double =
        v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
      val exact = live.toSeq.map { case (k, v) => (k, l2(v)) }
        .sortBy { case (k, d) => (d, k) }.take(8).map(_._1)
      assert(client.search("inc", q, k = 8, nprobe = 4).collect()
        .map(_.getAs[String]("vector_key")).toSeq == exact, s"after compact, q=vec($qSeed)")
    }
    val cells = spark.read.parquet(
      s"${client.describe("inc").dataPath}-ivf/cells")
    assert(cells.count() == live.size, "the folded cells hold exactly the live rows")
    assert(cells.filter(col("key") === "k17").count() == 0, "deleted key lingers in a cell")
    assert(cells.filter(col("key") === "k30").count() == 1, "moved key must exist exactly once")
    // the batch timestamp is a driver literal, so the index-cell rows and
    // the committed snapshot carry the IDENTICAL ingest_ts per key even
    // though they come from different actions over the same cached plan
    client.registerSqlViews()
    val snapTs = spark.table("inc").select("key", "ingest_ts")
    val diverged = cells.select(col("key"), col("ingest_ts").as("cell_ts"))
      .join(snapTs, Seq("key"))
      .filter(col("cell_ts") =!= col("ingest_ts")).count()
    assert(diverged == 0, "index-cell ingest_ts diverged from the snapshot's")
  }

  test("IVF maintenance chains across many commits without drifting") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-chain").toString
    val client = new GraftClient(spark, root)
    client.createCollection("chain", dim = 8, nlist = 4)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    var live = (0 until 150).map(i => s"k$i" -> vec(i)).toMap
    client.upsert("chain", live.toSeq.map { case (k, v) => (k, v, Map("i" -> k)) }
      .toDF("key", "vec", "meta"))
    client.buildIndex("chain", nlist = 4)

    // ten alternating commits: each upserts 5 (2 fresh, 3 moved) and
    // deletes 2 — the VERSION must chain through every one (a single
    // missed refresh would drop search to the exact scan; a wrong evict
    // would return a stale copy at full probe)
    for (round <- 1 to 10) {
      val fresh = (0 until 2).map(j => s"r$round-n$j" -> vec(1000 + round * 10 + j))
      val moved = (0 until 3).map(j => s"k${(round * 13 + j * 17) % 150}" -> vec(2000 + round * 10 + j))
      client.upsert("chain", (fresh ++ moved).map { case (k, v) => (k, v, Map("i" -> k)) }
        .toDF("key", "vec", "meta"))
      live = live ++ fresh ++ moved
      val dels = Seq(s"k${(round * 7) % 150}", s"k${(round * 11 + 3) % 150}")
        .filter(live.contains)
      if (dels.nonEmpty) { client.deleteByKeys("chain", dels); live = live -- dels }
    }

    val q = vec(42).toArray
    val df = client.search("chain", q, k = 10, nprobe = 4)
    assert(df.queryExecution.executedPlan.toString.contains("centroidId"),
      "after 20 maintenance commits the prune must still be in the plan")
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val exact = live.toSeq.map { case (k, v) => (k, l2(v)) }
      .sortBy { case (k, d) => (d, k) }.take(10).map(_._1)
    assert(df.collect().map(_.getAs[String]("vector_key")).toSeq == exact,
      "full probe after the commit chain must equal the exact answer")
  }

  test("IVF_SQ8 through the client: quantized stage-1, exact re-rank, fresh across upserts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    val client = new GraftClient(spark, root)
    client.createCollection("sq8", dim = 8, metric = "l2", indexType = "IVF_SQ8", nlist = 4)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map("i" -> i.toString)))
    client.upsert("sq8", rows.toDF("key", "vec", "meta"))
    client.buildIndex("sq8", nlist = 4)

    val dp = client.describe("sq8").dataPath
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dp-ivf/sq8cells")),
      "IVF_SQ8 build must persist the quantized cells")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dp-ivf/cells")),
      "the float cells remain as the exact fallback")

    // stage 1 runs over the QUANTIZED layout with the cell prune in the
    // plan; stage 2 is a broadcast re-rank against the keyed store
    val probed = client.search("sq8", vec(17).toArray, k = 5, nprobe = 2)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("centroidId"), "SQ8 stage 1 must keep the cell prune")
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("centroidId")),
      s"SQ8 stage 1's cell prune must be a PARTITION filter on the quantized scan:\n$plan")
    assert(plan.contains("qvec"), "stage 1 must scan the quantized codes")
    assert(plan.contains("BroadcastHashJoin"),
      "the exact re-rank fetch must be a broadcast join, not a shuffle")
    assert(probed.collect().head.getAs[String]("vector_key") == "k17")

    def l2(v: Seq[Float], q: Array[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    def exactTop(live: Map[String, Seq[Float]], q: Array[Float], k: Int): Seq[String] =
      live.toSeq.map { case (key, v) => (key, l2(v, q)) }
        .sortBy { case (key, d) => (d, key) }.take(k).map(_._1)

    val live0 = rows.map { case (k, v, _) => k -> v }.toMap
    for (qSeed <- Seq(3, 17, 42, 101)) {
      val q = vec(qSeed).toArray
      val got = client.search("sq8", q, k = 10, nprobe = 4)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(got == exactTop(live0, q, 10),
        s"refined SQ8 at full probe must equal the exact answer (q=vec($qSeed))")
    }

    // metadata filter composes on the quantized scan
    val evenFilter = element_at(col("meta"), "i").cast("int") % 2 === 0
    val filtered = client.search("sq8", vec(17).toArray, k = 5,
      filter = Some(evenFilter), nprobe = 4)
    assert(filtered.queryExecution.executedPlan.toString.contains("centroidId"))
    assert(filtered.collect().map(_.getAs[String]("vector_key")).toSeq
      .forall(k => k.drop(1).toInt % 2 == 0))

    // upsert (move + fresh) and delete: maintenance must re-quantize only
    // the touched cells and keep the SQ8 path serving — never degrade to
    // the exact scan, never serve a stale quantized copy
    client.upsert("sq8", Seq(
      ("fresh", vec(500), Map("i" -> "500")),
      ("k30", vec(170), Map("i" -> "30"))
    ).toDF("key", "vec", "meta"))
    client.deleteByKeys("sq8", Seq("k17"))
    val live = live0 ++ Map("fresh" -> vec(500), "k30" -> vec(170)) - "k17"

    for (qSeed <- Seq(17, 170, 500)) {
      val q = vec(qSeed).toArray
      val df = client.search("sq8", q, k = 8, nprobe = 4)
      assert(df.queryExecution.executedPlan.toString.contains("qvec"),
        "maintenance commits must keep the SQ8 stage-1 path")
      val got = df.collect().map(_.getAs[String]("vector_key")).toSeq
      assert(got == exactTop(live, q, 8), s"q=vec($qSeed): $got")
    }
    // compact folds the delta segments into the base cells
    client.compact("sq8")
    val sq8OnDisk = spark.read.parquet(s"$dp-ivf/sq8cells")
    assert(sq8OnDisk.filter(col("key") === "k17").count() == 0,
      "deleted key lingers in the quantized cells")
    assert(sq8OnDisk.filter(col("key") === "k30").count() == 1,
      "moved key must exist exactly once in the quantized cells")
    assert(sq8OnDisk.filter(col("key") === "fresh").count() == 1)

    // batched search through the SQ8 path equals per-query search
    val queries = Seq((0L, vec(17)), (1L, vec(170)), (2L, vec(500)))
      .toDF("qid", "qvec")
    val batchDf = client.searchBatch("sq8", queries, k = 5, nprobe = 4)
    // plan guard: the |Q|·k·refine stage-1 candidates and the query set
    // both ride broadcast joins into the keyed store — a refactor must
    // not silently trade the re-rank fetch for a shuffle of the store
    assert(batchDf.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "SQ8 batch re-rank must broadcast the candidate keys")
    val batch = batchDf
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getAs[String]("vector_key")).toSeq }
    for ((qid, qv) <- Seq((0L, vec(17)), (1L, vec(170)), (2L, vec(500)))) {
      val single = client.search("sq8", qv.toArray, k = 5, nprobe = 4)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(batch(qid) == single, s"batch qid=$qid diverges from single-query search")
    }
    // the differentiated broadcast guards: a numQueries hint that keeps q
    // broadcastable (60000 <= 100k) but pushes stage1 past its k*refine-
    // scaled threshold (60000*5*4 = 1.2M > 100k) must only change the
    // stage-1 join strategy, never the hits
    val splitRegime = client.searchBatch("sq8", queries, k = 5, nprobe = 4,
        numQueries = Some(60000L))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getAs[String]("vector_key")).toSeq }
    assert(splitRegime == batch,
      "k*refine-scaled stage-1 guard must not change results")

    // the metadata filter applies on the quantized stage-1 scan in the
    // batch path too, and filtered batch == filtered single-query
    val fBatch = client.searchBatch("sq8", queries, k = 5,
        filter = Some(evenFilter), nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getAs[String]("vector_key")).toSeq }
    for ((qid, qv) <- Seq((0L, vec(17)), (1L, vec(170)), (2L, vec(500)))) {
      val single = client.search("sq8", qv.toArray, k = 5,
          filter = Some(evenFilter), nprobe = 4)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(fBatch(qid) == single, s"filtered batch qid=$qid diverges from single")
      // keys carry their meta "i": kN has i=N, fresh has i=500 — all even
      assert(single.forall(k => k == "fresh" || k.drop(1).toInt % 2 == 0),
        s"metadata filter must hold on every filtered hit: $single")
    }

    // a crash mid-refresh (stale VERSION) falls back to the exact scan
    val vfile = java.nio.file.Paths.get(s"$dp-ivf/VERSION")
    val v = new String(java.nio.file.Files.readAllBytes(vfile)).trim.toLong
    java.nio.file.Files.write(vfile, (v - 1).toString.getBytes)
    val stale = client.search("sq8", vec(17).toArray, k = 5)
    assert(!stale.queryExecution.executedPlan.toString.contains("qvec"),
      "a stale SQ8 index must fall back to the exact scan")
    assert(stale.collect().map(_.getAs[String]("vector_key")).toSeq ==
      exactTop(live, vec(17).toArray, 5))
  }

  test("parameterized retrieval: user terms drive bm25, perplexity, and hybrid fusion") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-retr").toString
    val client = new GraftClient(spark, root)
    val docs = Seq(
      ("d1", "fox fox fox jumps high"),
      ("d2", "dog sleeps all day long"),
      ("d3", "fox dog mixed words here"),
      ("d4", "nothing relevant at all")
    ).toDF("key", "text")

    // bm25 with USER terms — ranking follows the terms, not a baked query
    val foxTop = client.bm25(docs, Seq("fox"), k = 2)
      .collect().map(_.getString(0)).toSeq
    assert(foxTop.head == "d1", s"tf=3 doc must out-score tf=1: $foxTop")
    assert(foxTop == Seq("d1", "d3"))
    val dogTop = client.bm25(docs, Seq("dog"), k = 2)
      .collect().map(_.getString(0)).toSeq
    assert(dogTop.toSet == Set("d2", "d3"), s"changing terms must change hits: $dogTop")

    // perplexity with a USER scoring predicate: model on the full frame,
    // scores only for the selected rows
    val ppl = client.perplexityProxy(docs, col("key").isin("d1", "d2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ppl.keySet == Set("d1", "d2"))
    assert(ppl("d1") == 5L && ppl("d2") == 5L)

    // hybrid: d1 wins the lexical arm; make it ALSO vector-nearest → it
    // must win the fusion; then flip the query vector toward d2 with dog
    // terms and the fused winner flips too
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    client.createCollection("hyb", dim = 8)
    client.upsert("hyb", Seq(
      ("d1", vec(1), Map.empty[String, String]),
      ("d2", vec(2), Map.empty[String, String]),
      ("d3", vec(3), Map.empty[String, String]),
      ("d4", vec(4), Map.empty[String, String])
    ).toDF("key", "vec", "meta"))
    val fused = client.hybridSearch("hyb", docs, Seq("fox"), vec(1).toArray, k = 4)
    val rows = fused.collect()
    assert(rows.head.getString(0) == "d1",
      s"lexical+vector winner must top the fusion: ${rows.map(_.getString(0)).toSeq}")
    val rrfs = rows.map(_.getDouble(3)).toSeq
    assert(rrfs == rrfs.sorted.reverse, "fused scores must be descending")
    val flipped = client.hybridSearch("hyb", docs, Seq("dog"), vec(2).toArray, k = 4)
      .collect().head.getString(0)
    assert(flipped == "d2", s"user terms + query vector must drive the winner: $flipped")
  }

  test("hybridSearch: a metadata filter binds BOTH arms, not just the vector one") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-hybfilter").toString
    val client = new GraftClient(spark, root)
    val docs = Seq(
      ("d1", "fox fox fox jumps"), // lexical winner for "fox"
      ("d2", "dog dog sleeps"),
      ("d3", "fox dog mixed words here"),
      ("d4", "nothing relevant at all")
    ).toDF("key", "text")
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    client.createCollection("hybf", dim = 8)
    client.upsert("hybf", Seq(
      ("d1", vec(1), Map("tier" -> "blocked")),
      ("d2", vec(2), Map("tier" -> "ok")),
      ("d3", vec(3), Map("tier" -> "ok")),
      ("d4", vec(4), Map("tier" -> "ok"))
    ).toDF("key", "vec", "meta"))
    // d1 wins both arms unfiltered; the filter excludes it, so it must
    // appear in NEITHER arm — a lexical-only leak would still seat it in
    // the fused top-k with a non-null lex_rank
    val filt = element_at(col("meta"), "tier") === "ok"
    val keys = client.hybridSearch("hybf", docs, Seq("fox"), vec(1).toArray,
        k = 4, filter = Some(filt))
      .collect().map(_.getString(0)).toSeq
    assert(!keys.contains("d1"), s"filtered-out doc leaked into the fusion: $keys")
    assert(keys.nonEmpty && keys.head == "d3",
      s"next-best fox doc must inherit the top slot: $keys")
    // unfiltered control: same call without the filter still crowns d1
    val ctl = client.hybridSearch("hybf", docs, Seq("fox"), vec(1).toArray, k = 4)
      .collect().head.getString(0)
    assert(ctl == "d1")
  }

  test("parameterized dedup: candidates, clusters, keep-best on a user frame with string keys") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val client = new GraftClient(spark, root)
    // a user corpus keyed like a collection (string keys) — NOT the
    // fixture documents table: near-dup group {a1,a2,a3}, group {b1,b2},
    // and two singletons
    def doc(seed: String, mutate: Int): String =
      ((0 until 30).map(i => s"${seed}w${i}") ++ (0 until mutate).map(i => s"x$i")).mkString(" ")
    val docs = Seq(
      ("a1", doc("a", 0), 30L), ("a2", doc("a", 1), 31L), ("a3", doc("a", 2), 32L),
      ("b1", doc("b", 0), 30L), ("b2", doc("b", 1), 31L),
      ("solo1", doc("c", 0), 30L), ("solo2", doc("d", 0), 30L)
    ).toDF("key", "text", "n_chars")

    val pairs = client.dedupCandidates(docs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("a1", "a2")) && pairs.contains(("b1", "b2")),
      s"near-identical docs must be candidates: $pairs")
    assert(!pairs.exists { case (x, y) => x.head != y.head },
      s"unrelated docs must never pair: $pairs")

    val clusters = client.dedupClusters(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clusters("a1") == 3 && clusters("b1") == 2,
      s"string-keyed clusters must converge to min-key labels: $clusters")
    assert(clusters("solo1") == 1 && clusters("solo2") == 1)

    // keep rule: longest doc wins (ties by key) — only multi-doc clusters listed
    val kept = client.dedupKeepBest(docs,
        keepOrder = Seq(org.apache.spark.sql.functions.desc("n_chars"), col("key")))
      .collect().map(r => r.getAs[String]("cluster_id") -> r.getAs[String]("key")).toMap
    assert(kept == Map("a1" -> "a3", "b1" -> "b2"),
      s"keep-best must pick the longest doc per multi-doc cluster: $kept")

    // labels expose the raw assignment for caller-side joins
    val lbls = client.dedupClusterLabels(docs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lbls("a3") == "a1" && lbls("b2") == "b1" && lbls("solo1") == "solo1")

    // an empty input frame returns empty clusters immediately — the
    // propagation loop's null checksum could never converge, so without
    // the early exit this would burn 32 rounds and throw the cap error
    assert(client.dedupClusters(docs.filter(col("key") === "no-such")).collect().isEmpty)

    // a caller frame whose columns collide with the internal label/window
    // names must be rejected at the boundary, not fail mid-plan with
    // AMBIGUOUS_REFERENCE or silently overwrite the caller's column
    val clashing = docs.withColumn("n_docs", lit(1L))
    val e = intercept[IllegalArgumentException] {
      client.dedupKeepBest(clashing, keepOrder = Seq(col("key")))
    }
    assert(e.getMessage.contains("n_docs") && e.getMessage.contains("rename"),
      s"expected a loud reserved-column rejection, got: ${e.getMessage}")
  }

  test("index rebuild at an unchanged store version evicts the version-keyed caches") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-rebuild").toString
    val client = new GraftClient(spark, root)
    client.createCollection("rb", dim = 8, metric = "l2", indexType = "IVF_FLAT", nlist = 2)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map.empty[String, String]))
    client.upsert("rb", rows.toDF("key", "vec", "meta"))

    client.buildIndex("rb", nlist = 2)
    val q = vec(17).toArray
    // warm the (name, version) caches through a search
    assert(client.search("rb", q, k = 5, nprobe = 2).collect().nonEmpty)

    // REBUILD with a different nlist — store version unchanged (no new
    // upserts). A stale cached quantizer would probe nlist=2 cell ids over
    // the new 8-cell layout and silently drop candidates.
    client.buildIndex("rb", nlist = 8)
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val exact = rows.map { case (key, v, _) => (key, l2(v)) }
      .sortBy { case (key, d) => (d, key) }.take(5).map(_._1)
    val viaIndex = client.search("rb", q, k = 5, nprobe = 8)
    assert(viaIndex.queryExecution.executedPlan.toString.contains("centroidId"),
      "the rebuilt index must serve the search")
    assert(viaIndex.collect().map(_.getAs[String]("vector_key")).toSeq == exact,
      "full probe through the REBUILT index must equal the exact answer")
  }

  test("IVF_SQ8 rejects dot at build time (no Voronoi prune for inner product)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sq8-dot").toString
    val client = new GraftClient(spark, root)
    client.createCollection("sq8dot", dim = 8, metric = "dot",
      indexType = "IVF_SQ8", nlist = 4)
    client.upsert("sq8dot", Seq(("a", (1 to 8).map(_.toFloat), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    val e = intercept[IllegalArgumentException] {
      client.buildIndex("sq8dot", nlist = 4)
    }
    assert(e.getMessage.contains("vector indexes support l2 and cosine"))
  }

  test("cosine IVF_SQ8: normalized-space quantized stage-1, exact cosine re-rank, fresh across upserts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sq8-cos").toString
    val client = new GraftClient(spark, root)
    client.createCollection("sq8c", dim = 8, metric = "cosine",
      indexType = "IVF_SQ8", nlist = 4)
    // vectors with WILDLY different magnitudes: cosine order ≠ l2 order,
    // so quantizing raw vectors (instead of normalized) would fail this
    def vec(seed: Int): Seq[Float] = {
      val mag = 1.0f + (seed % 7) * 10.0f
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat * mag)
    }
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map("i" -> i.toString)))
    client.upsert("sq8c", rows.toDF("key", "vec", "meta"))
    client.buildIndex("sq8c", nlist = 4)

    def cosine(v: Seq[Float], q: Seq[Float]): Double = {
      val dot = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
      val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nq = math.sqrt(q.map(x => x.toDouble * x).sum)
      if (nv == 0 || nq == 0) 0.0 else dot / (nv * nq)
    }
    def exactTop(live: Map[String, Seq[Float]], q: Seq[Float], k: Int): Seq[String] =
      live.toSeq.map { case (key, v) => (key, -cosine(v, q)) }
        .sortBy { case (key, d) => (d, key) }.take(k).map(_._1)

    // same plan shape as the l2 SQ8 path: partition-pruned quantized
    // stage 1, broadcast exact re-rank — a refactor must not trade the
    // broadcast for a shuffle of the keyed store
    val guard = client.search("sq8c", vec(3).toArray, k = 5, nprobe = 2)
    val gplan = guard.queryExecution.executedPlan.toString
    assert(gplan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("centroidId")),
      s"cosine SQ8 stage 1's cell prune must be a PARTITION filter:\n$gplan")
    assert(gplan.contains("qvec"), "stage 1 must scan the quantized codes")
    assert(gplan.contains("BroadcastHashJoin"),
      "the exact-cosine re-rank fetch must be a broadcast join, not a shuffle")

    val live0 = rows.map { case (k, v, _) => k -> v }.toMap
    for (qSeed <- Seq(3, 17, 42, 101)) {
      val q = vec(qSeed)
      val df = client.search("sq8c", q.toArray, k = 10, nprobe = 4)
      assert(df.queryExecution.executedPlan.toString.contains("qvec"),
        "cosine SQ8 must serve stage 1 from the quantized cells")
      val got = df.collect().map(_.getAs[String]("vector_key")).toSeq
      assert(got == exactTop(live0, q, 10),
        s"full-probe refined cosine SQ8 must equal the exact cosine answer (q=vec($qSeed))")
    }

    // batch through the cosine SQ8 path equals per-query search, with the
    // same broadcast-fetch plan shape as the l2 batch arm
    val queries = Seq((0L, vec(3)), (1L, vec(17)), (2L, vec(42))).toDF("qid", "qvec")
    val batchDf = client.searchBatch("sq8c", queries, k = 5, nprobe = 4)
    assert(batchDf.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "cosine SQ8 batch stage-2 fetch must broadcast, not shuffle the store")
    val batch = batchDf
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getAs[String]("vector_key")).toSeq }
    for ((qid, qv) <- Seq((0L, vec(3)), (1L, vec(17)), (2L, vec(42)))) {
      val single = client.search("sq8c", qv.toArray, k = 5, nprobe = 4)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(batch(qid) == single, s"cosine batch qid=$qid diverges from single-query")
    }

    // maintenance keeps the normalized-space codes fresh
    client.upsert("sq8c", Seq(
      ("fresh", vec(500), Map("i" -> "500")),
      ("k30", vec(171), Map("i" -> "30"))
    ).toDF("key", "vec", "meta"))
    client.deleteByKeys("sq8c", Seq("k17"))
    val live = live0 ++ Map("fresh" -> vec(500), "k30" -> vec(171)) - "k17"
    for (qSeed <- Seq(17, 171, 500)) {
      val q = vec(qSeed)
      val df = client.search("sq8c", q.toArray, k = 8, nprobe = 4)
      assert(df.queryExecution.executedPlan.toString.contains("qvec"),
        "maintenance commits must keep the cosine SQ8 stage-1 path")
      val got = df.collect().map(_.getAs[String]("vector_key")).toSeq
      assert(got == exactTop(live, q, 8), s"q=vec($qSeed): $got")
    }
  }

  test("cosine metric rides the IVF prune in normalized space") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-cos").toString
    val client = new GraftClient(spark, root)
    client.createCollection("cosivf", dim = 8, metric = "cosine", indexType = "IVF_FLAT", nlist = 8)
    val rnd = new scala.util.Random(7)
    // unnormalized vectors on purpose: magnitude must not affect cosine
    val rows = (0 until 400).map { i =>
      val scale = 0.1f + rnd.nextFloat() * 10f
      (s"k$i", (1 to 8).map(j => (math.sin(i * 0.37 + j * 1.7) * scale).toFloat), Map("i" -> i.toString))
    }
    client.upsert("cosivf", rows.toDF("key", "vec", "meta"))
    client.buildIndex("cosivf", nlist = 8)

    def cos(v: Seq[Float], q: Array[Float]): Double = {
      val dot = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
      val na = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(q.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    var hits = 0; var total = 0
    for (qSeed <- 0 until 10) {
      val q = (1 to 8).map(j => math.sin(qSeed * 0.91 + j * 0.53).toFloat).toArray
      val df = client.search("cosivf", q, k = 10, nprobe = 3)
      assert(df.queryExecution.executedPlan.toString.contains("centroidId"),
        "cosine search must go through the index when fresh")
      val got = df.collect().map(_.getAs[String]("vector_key")).toSet
      val exact = rows.map { case (k, v, _) => (k, -cos(v, q)) }
        .sortBy { case (k, d) => (d, k) }.take(10).map(_._1).toSet
      hits += got.intersect(exact).size; total += 10
      // full probe must be exactly the exact answer
      val full = client.search("cosivf", q, k = 10, nprobe = 8)
        .collect().map(_.getAs[String]("vector_key")).toSet
      assert(full == exact, "cosine full-probe through the index must be exact")
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.95, s"cosine recall@10 with nprobe=3/8 was $recall")

    // dot stays exact by documented stance
    val err = intercept[IllegalArgumentException] {
      val c2 = new GraftClient(spark, root)
      c2.createCollection("dotc", dim = 8, metric = "dot")
      c2.buildIndex("dotc", nlist = 4)
    }
    assert(err.getMessage.contains("dot"))
  }

  test("filtered search composes with the IVF index (prune, then filter)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-client5").toString
    val client = new GraftClient(spark, root)
    client.createCollection("fivf", dim = 8, metric = "l2", indexType = "IVF_FLAT", nlist = 8)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map("i" -> i.toString)))
    client.upsert("fivf", rows.toDF("key", "vec", "meta"))
    client.buildIndex("fivf", nlist = 8)

    val q = vec(17).toArray
    val evenFilter = element_at(col("meta"), "i").cast("int") % 2 === 0

    // the filtered search must still go THROUGH the index: pruned to
    // nprobe cells (centroidId partition filter in the plan), filter
    // applied on the pruned scan — not a silent exact-scan downgrade
    val pruned = client.search("fivf", q, k = 5, filter = Some(evenFilter), nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("centroidId"),
      "filtered search must keep the centroidId partition prune in the plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("centroidId")),
      s"the cell prune must reach the scan as a PARTITION filter (directory " +
        s"pruning at rest), not a post-scan predicate:\n$plan")
    assert(pruned.collect().map(_.getAs[String]("vector_key")).toSeq
      .forall(k => k.drop(1).toInt % 2 == 0), "metadata filter must hold on every hit")

    // with nprobe = nlist every cell is probed, so the filtered result
    // through the index equals the brute-force filtered exact answer
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val exact = rows.collect { case (key, v, m) if m("i").toInt % 2 == 0 => (key, l2(v)) }
      .sortBy { case (key, d) => (d, key) }.take(5).map(_._1)
    val full = client.search("fivf", q, k = 5, filter = Some(evenFilter), nprobe = 8)
      .collect().map(_.getAs[String]("vector_key")).toSeq
    assert(full == exact, "filter + full-probe index equals the exact filtered answer")
  }

  test("deleteWhere rewrites only the buckets holding matches") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-delw").toString
    val client = new GraftClient(spark, root)
    client.createCollection("dw", dim = 2, buckets = 8)
    val rows = (0 until 100).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map("grp" -> (if (i == 5) "victim" else "keep"))))
    client.upsert("dw", rows.toDF("key", "vec", "meta"))

    def liveDirs(): Map[Int, String] =
      TestDirs.liveDirs(client.describe("dw").dataPath)
    val before = liveDirs()
    assert(client.deleteWhere("dw",
      element_at(col("meta"), "grp") === "victim") == 99)
    val after = liveDirs()
    val changed = before.keySet.filter(b => after.get(b) != before.get(b))
    assert(changed.size == 1,
      s"a single-key predicate delete must rewrite exactly one bucket, got $changed")
    // a no-match predicate commits nothing at all
    val ver = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(client.describe("dw").dataPath, "CURRENT"))).trim
    assert(client.deleteWhere("dw", element_at(col("meta"), "grp") === "absent") == 99)
    val ver2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(client.describe("dw").dataPath, "CURRENT"))).trim
    assert(ver == ver2, "no-match deleteWhere must not bump the snapshot version")
  }

  test("within-batch duplicate keys resolve to one deterministic winner") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val client = new GraftClient(spark, root)
    client.createCollection("d1", dim = 2)
    client.createCollection("d2", dim = 2)
    val rows = (0 until 50).flatMap(i => Seq(
      (s"k$i", Seq(i.toFloat, 0f), Map("v" -> "a")),
      (s"k$i", Seq(i.toFloat, 1f), Map("v" -> "b"))))
    val df = rows.toDF("key", "vec", "meta")
    // the same logical batch in two different physical layouts (partition
    // count, per-partition order) must commit identical contents — the
    // winner is a function of row content, not of evaluation order
    client.upsert("d1", df)
    client.upsert("d2", df.repartition(7, col("vec")).sortWithinPartitions(col("vec").desc))
    def contents(name: String): Set[(String, String)] =
      client.search(name, Array(0f, 0f), k = 100).collect().map { r =>
        (r.getAs[String]("vector_key"), r.getAs[Map[String, String]]("metadata")("v"))
      }.toSet
    assert(contents("d1") == contents("d2"))
    assert(contents("d1").size == 50)
  }

  test("null keys are rejected at the write boundary") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-nullkey").toString
    val client = new GraftClient(spark, root)
    client.createCollection("nk", dim = 2)
    val bad = Seq((null: String, Seq(1.0f, 2.0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta")
    val err = intercept[Exception] { client.upsert("nk", bad) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(_.contains("null key")), s"opaque error: ${msgs(err)}")
  }

  test("keys are capped at 2048 chars (reference VARCHAR parity)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-keylen").toString
    val client = new GraftClient(spark, root)
    client.createCollection("kl", dim = 2)
    def row(len: Int) =
      Seq(("k" * len, Seq(1.0f, 2.0f), Map.empty[String, String]))
        .toDF("key", "vec", "meta")
    // exactly at the cap: accepted and round-trips
    client.upsert("kl", row(GraftClient.MaxKeyLength))
    assert(client.search("kl", Array(1.0f, 2.0f), k = 1)
      .head().getAs[String]("vector_key").length == GraftClient.MaxKeyLength)
    // one past the cap: rejected at the write boundary, nothing committed
    val err = intercept[Exception] { client.upsert("kl", row(GraftClient.MaxKeyLength + 1)) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(_.contains("max length")), s"opaque error: ${msgs(err)}")
    assert(client.count("kl") == 1L, "a rejected batch must commit nothing")
    // the cap is PUTS-only: a delete carrying an over-long key (e.g. a
    // pre-cap legacy row, or a malformed delete event in a stream) must
    // not raise — capping deletes would make such keys immortal and
    // poison-pill streaming batches on every checkpoint replay
    assert(client.deleteByKeys("kl", Seq("k" * (GraftClient.MaxKeyLength + 100))) == 1L)
    assert(client.count("kl") == 1L, "a ghost over-long delete commits nothing")
  }

  test("estimateRecall measures the nprobe recall/latency knob on the collection's own data") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-recall").toString
    val client = new GraftClient(spark, root)
    client.createCollection("er", dim = 2, indexType = "IVF_FLAT")
    // 100 points on a line: Voronoi cells partition the line into
    // contiguous runs, so a query near a cell boundary has true nearest
    // neighbors in the ADJACENT cell — exactly the regime where nprobe=1
    // loses recall and a larger nprobe recovers it
    client.upsert("er", (0 until 100).map(i =>
        (f"p$i%03d", Seq(i.toFloat, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    // no index yet: the pruned arm IS the exact arm
    assert(client.estimateRecall("er", k = 5) == 1.0)
    client.buildIndex("er", nlist = 4)
    val r1 = client.estimateRecall("er", k = 5, nprobe = 1, sampleQueries = 50)
    val rFull = client.estimateRecall("er", k = 5, nprobe = 4, sampleQueries = 50)
    assert(rFull == 1.0, s"full probe must be exact (got $rFull)")
    assert(r1 < 1.0, s"nprobe=1 on boundary-straddling neighbors must lose " +
      s"recall on this fixture (got $r1)")
    assert(r1 > 0.5, s"nprobe=1 recall collapsed ($r1) — prune is broken, " +
      "not just boundary-lossy")
  }

  test("two concurrent clients never silently lose a committed write") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = java.nio.file.Files.createTempDirectory("graft-mw").toString
    val c1 = new GraftClient(spark, root)
    c1.createCollection("mw", dim = 2)
    val c2 = new GraftClient(spark, root)
    // Two clients interleave upserts to one collection WITH NO
    // caller-side retry code: the commit path CASes on the snapshot the
    // merge was computed against and rebase-retries a lost race
    // internally (bounded), so every upsert call here must simply land —
    // and at the end EVERY acknowledged write must be present (the
    // lost-update the contract exists to prevent is a write that
    // "succeeded" but whose rows a concurrent merge clobbered).
    def writer(client: GraftClient, tag: String, batches: Int): Unit =
      (0 until batches).foreach { i =>
        client.upsert("mw",
          Seq((s"$tag-$i", Seq(i.toFloat, 0f), Map.empty[String, String]))
            .toDF("key", "vec", "meta"))
      }
    val f1 = Future(writer(c1, "a", 6))
    val f2 = Future(writer(c2, "b", 6))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
    val keys = c1.search("mw", Array(0f, 0f), k = 100)
      .collect().map(_.getAs[String]("vector_key")).toSet
    val expected = ((0 until 6).map(i => s"a-$i") ++ (0 until 6).map(i => s"b-$i")).toSet
    assert(keys == expected,
      s"acknowledged writes lost: missing ${expected -- keys}")
    // cross-commit last-write-wins survives the rebase: both clients
    // rewrite the SAME key, serialized by the internal retry — whoever
    // committed second owns the final value
    c1.upsert("mw", Seq(("shared", Seq(1f, 0f), Map("by" -> "c1")))
      .toDF("key", "vec", "meta"))
    c2.upsert("mw", Seq(("shared", Seq(2f, 0f), Map("by" -> "c2")))
      .toDF("key", "vec", "meta"))
    val sh = c1.fetch("mw", Seq("shared")).collect()
    assert(sh.length == 1 &&
      sh.head.getAs[Map[String, String]]("meta") == Map("by" -> "c2"),
      "the later commit must own the key after rebase-retry")
  }

  test("deleteWhere racing a re-upsert never deletes the re-upserted row") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = java.nio.file.Files.createTempDirectory("graft-delrace").toString
    val cDel = new GraftClient(spark, root)
    cDel.createCollection("dr", dim = 2)
    val cUp = new GraftClient(spark, root)
    // Per round: the key starts tagged "del"; writer B re-upserts it
    // tagged "keep" while writer A fires deleteWhere(tag == "del").
    // In EVERY linearizable interleaving the key ends alive-with-keep:
    // a delete committed after B's write must have been COMPUTED against
    // a snapshot where the tag is "keep" (no match). The pre-fix rebase
    // replayed the delete set computed on the pre-race snapshot, which
    // could erase B's acknowledged write — this test is the regression
    // net (racy, so it exercises the window probabilistically; it can
    // never false-fail).
    (0 until 6).foreach { round =>
      val k = s"r$round"
      cUp.upsert("dr", Seq((k, Seq(1f, 0f), Map("tag" -> "del")))
        .toDF("key", "vec", "meta"))
      val fDel = Future {
        cDel.deleteWhere("dr", element_at(col("meta"), "tag") === "del")
      }
      val fUp = Future {
        cUp.upsert("dr", Seq((k, Seq(2f, 0f), Map("tag" -> "keep")))
          .toDF("key", "vec", "meta"))
      }
      Await.result(fDel, 2.minutes); Await.result(fUp, 2.minutes)
      // quiesce: one final delete computed on the settled snapshot —
      // must be a no-op for the keep-tagged row
      cDel.deleteWhere("dr", element_at(col("meta"), "tag") === "del")
      val got = cUp.fetch("dr", Seq(k)).collect()
      assert(got.length == 1 &&
        got.head.getAs[Map[String, String]]("meta") == Map("tag" -> "keep"),
        s"round $round: the re-upserted keep row was deleted — a stale " +
          "delete set was replayed across the rebase")
    }
  }

  test("createCollection clears orphaned storage instead of resurrecting it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-orphan").toString
    val client = new GraftClient(spark, root)
    client.createCollection("rz", dim = 2)
    client.upsert("rz", Seq(
      ("a", Seq(1.0f, 0.0f), Map.empty[String, String]),
      ("b", Seq(0.0f, 1.0f), Map.empty[String, String])).toDF("key", "vec", "meta"))
    val dataPath = client.describe("rz").dataPath
    // simulate a crashed drop that removed the catalog entry but left the
    // storage behind (the pre-fix crash window): delete ONLY the registry
    // file, keeping the bucket dirs intact
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "catalog", "rz.json"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dataPath)),
      "fixture: orphaned data dir must exist")
    // re-creating the name — even under a DIFFERENT dim — must start empty,
    // not resurrect the old dim-2 rows
    assert(client.createCollection("rz", dim = 3))
    assert(client.count("rz") == 0L, "orphaned rows must not resurrect")
    client.upsert("rz", Seq(("c", Seq(1.0f, 0.0f, 0.0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(client.count("rz") == 1L)
  }

  test("cosine and dot metrics order correctly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-client2").toString
    val client = new GraftClient(spark, root)
    client.createCollection("cos", dim = 2, metric = "cosine")
    client.upsert("cos", Seq(
      ("east", Seq(1.0f, 0.0f), Map.empty[String, String]),
      ("north", Seq(0.0f, 1.0f), Map.empty[String, String]),
      ("northeast", Seq(1.0f, 1.0f), Map.empty[String, String])
    ).toDF("key", "vec", "meta"))
    val top = client.search("cos", Array(1.0f, 0.1f), k = 3).collect()
      .map(_.getAs[String]("vector_key")).toSeq
    assert(top == Seq("east", "northeast", "north"))
  }

  test("range search: exact band, lossless cell prune, radii maintained across commits") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-range").toString
    val client = new GraftClient(spark, root)
    client.createCollection("rng", dim = 2, metric = "l2", indexType = "IVF_FLAT", nlist = 4)
    // points on a line: key ki at distance i from the query (0,0)
    val rows = (0 until 100).map(i => (f"k$i%03d", Seq(i.toFloat, 0f),
      Map("i" -> i.toString)))
    client.upsert("rng", rows.toDF("key", "vec", "meta"))

    def band(radius: Double, rf: Double = Double.NegativeInfinity): Seq[String] =
      client.searchRange("rng", Array(0f, 0f), radius, rangeFilter = rf)
        .collect().map(_.getAs[String]("vector_key")).toSeq

    // exact path (no index yet): [0, 5.5) → k000..k005; annulus [1.5, 5.5) drops k000/k001
    assert(band(5.5) == (0 to 5).map(i => f"k$i%03d"))
    assert(band(5.5, rf = 1.5) == (2 to 5).map(i => f"k$i%03d"))

    // indexed path must return the identical band — the prune is lossless
    client.buildIndex("rng", nlist = 4)
    val viaIndex = client.searchRange("rng", Array(0f, 0f), 5.5)
    assert(viaIndex.collect().map(_.getAs[String]("vector_key")).toSeq
      == (0 to 5).map(i => f"k$i%03d"))
    // and it actually prunes: the tight band's executed scan reads fewer
    // centroidId partitions than an all-covering band (AQE hides scans
    // behind AdaptiveSparkPlanExec/QueryStageExec — walk them explicitly)
    def cellPartitionsRead(radius: Double): Long = {
      val df = client.searchRange("rng", Array(0f, 0f), radius)
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val scan = scans(df.queryExecution.executedPlan)
        .find(_.toString.contains("centroidId"))
        .getOrElse(fail(s"no cell FileSourceScanExec in:\n" +
          df.queryExecution.executedPlan))
      scan.metrics("numPartitions").value
    }
    val tight = cellPartitionsRead(5.5)
    val wide = cellPartitionsRead(1e6)
    assert(tight < wide,
      s"a 5.5-radius band over a 0..99 line must scan fewer cells ($tight) than an " +
        s"all-covering band ($wide)")

    // SOUNDNESS across maintenance: upsert a far outlier — its cell's
    // radius must grow with it, or the prune would silently skip it
    client.upsert("rng", Seq(("far", Seq(1000f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    val outlier = client.searchRange("rng", Array(0f, 0f), 1000.5, rangeFilter = 999.5)
    assert(outlier.queryExecution.executedPlan.toString.contains("centroidId"),
      "post-commit range search must still ride the index")
    assert(outlier.collect().map(_.getAs[String]("vector_key")).toSeq == Seq("far"),
      "a commit-grown cell radius must keep the far row findable through the prune")

    // delete it — radii recompute exactly (never a stale loose bound),
    // and the band over its old location is empty again
    client.deleteByKeys("rng", Seq("far"))
    assert(band(1000.5, rf = 999.5).isEmpty)

    // limit caps the band nearest-first
    assert(band(5.5).take(3) ==
      client.searchRange("rng", Array(0f, 0f), 5.5, limit = Some(3))
        .collect().map(_.getAs[String]("vector_key")).toSeq)

    // metadata filter composes (exact semantics on the pruned scan)
    val odd = client.searchRange("rng", Array(0f, 0f), 5.5,
      filter = Some(element_at(col("meta"), "i").cast("int") % 2 === 1))
      .collect().map(_.getAs[String]("vector_key")).toSeq
    assert(odd == Seq("k001", "k003", "k005"))
  }

  test("range search: randomized sweep — pruned band equals brute force on every draw") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-range-rand").toString
    val client = new GraftClient(spark, root)
    client.createCollection("rr", dim = 8, metric = "l2",
      indexType = "IVF_FLAT", nlist = 8)
    val rnd = new scala.util.Random(20260813L)
    val rows = (0 until 300).map { i =>
      (f"r$i%03d", Seq.fill(8)((rnd.nextDouble() * 4 - 2).toFloat),
        Map.empty[String, String])
    }
    client.upsert("rr", rows.toDF("key", "vec", "meta"))
    client.buildIndex("rr", nlist = 8)
    def exactBand(q: Array[Float], lo: Double, hi: Double): Set[String] =
      rows.collect { case (k, v, _) if {
        val d = math.sqrt(v.zip(q).map { case (a, b) =>
          val x = a.toDouble - b; x * x }.sum)
        d >= lo && d < hi
      } => k }.toSet
    // 20 random (query, annulus) draws — every one must match brute force
    // exactly through the radii prune; soundness may not depend on where
    // the band lands relative to the cell geometry
    (0 until 20).foreach { t =>
      val q = Array.fill(8)((rnd.nextDouble() * 4 - 2).toFloat)
      val lo = rnd.nextDouble() * 2
      val hi = lo + 0.2 + rnd.nextDouble() * 3
      val got = client.searchRange("rr", q, hi, rangeFilter = lo)
        .collect().map(_.getAs[String]("vector_key")).toSet
      assert(got == exactBand(q, lo, hi),
        s"draw $t: pruned band diverged from brute force (q=${q.toSeq}, lo=$lo, hi=$hi)")
    }
  }

  test("range search: cosine similarity bound maps to the chord-length prune exactly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-range-cos").toString
    val client = new GraftClient(spark, root)
    client.createCollection("rngc", dim = 2, metric = "cosine",
      indexType = "IVF_FLAT", nlist = 4)
    // unit-ish circle at 5° steps, magnitudes varied (cosine ignores them)
    val rows = (0 until 72).map { i =>
      val a = math.toRadians(i * 5.0); val mag = 1.0 + (i % 7)
      (f"a$i%03d", Seq((mag * math.cos(a)).toFloat, (mag * math.sin(a)).toFloat),
        Map("deg" -> (i * 5).toString))
    }
    client.upsert("rngc", rows.toDF("key", "vec", "meta"))
    val q = Array(1f, 0f)
    // sim > 0.9 ⇔ distance < -0.9: exact answer computed locally
    def exact(simMin: Double): Seq[String] = rows.collect {
      case (k, v, _) if {
        val d = v(0).toDouble * q(0) + v(1).toDouble * q(1)
        val n = math.sqrt(v(0).toDouble * v(0) + v(1).toDouble * v(1))
        d / n > simMin
      } => k
    }.sorted
    val pre = client.searchRange("rngc", q, radius = -0.9)
      .collect().map(_.getAs[String]("vector_key")).toSeq.sorted
    assert(pre == exact(0.9) && pre.nonEmpty)
    client.buildIndex("rngc", nlist = 4)
    val post = client.searchRange("rngc", q, radius = -0.9)
    assert(post.queryExecution.executedPlan.toString.contains("centroidId"))
    assert(post.collect().map(_.getAs[String]("vector_key")).toSeq.sorted == exact(0.9))
    // a radius admitting the whole sphere still answers exactly (no prune)
    assert(client.searchRange("rngc", q, radius = 1.5).count() == 72)
  }

  test("search offset paginates: pages tile the ranking on FLAT and SQ8 paths") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-paged").toString
    val client = new GraftClient(spark, root)
    def vec(seed: Int): Seq[Float] =
      (1 to 8).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)
    val rows = (0 until 300).map(i => (f"k$i%03d", vec(i), Map("i" -> i.toString)))
    for ((name, itype) <- Seq(("flat", "FLAT"), ("sq8", "IVF_SQ8"))) {
      client.createCollection(name, dim = 8, indexType = itype,
        nlist = if (itype == "FLAT") 0 else 4)
      client.upsert(name, rows.toDF("key", "vec", "meta"))
      if (itype == "IVF_SQ8") client.buildIndex(name, nlist = 4)
      val q = vec(42).toArray
      val all = client.search(name, q, k = 9, nprobe = 4).collect()
        .map(_.getAs[String]("vector_key")).toSeq
      val pages = (0 until 3).flatMap(p =>
        client.search(name, q, k = 3, nprobe = 4, offset = p * 3).collect()
          .map(_.getAs[String]("vector_key")))
      assert(pages == all,
        s"$itype: three offset pages must tile the top-9 exactly: $pages vs $all")
    }
  }

  test("grouped search: top groups by best hit, groupSize per group, null groups skipped") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-grouped").toString
    val client = new GraftClient(spark, root)
    client.createCollection("grp", dim = 2)
    // category c<g> sits at distance band g: members at g.0 and g.1; a
    // rogue uncategorized row sits nearest of all (must be skipped)
    val rows = (1 to 5).flatMap { g =>
      Seq((s"g${g}a", Seq(g.toFloat, 0f), Map("cat" -> s"c$g")),
          (s"g${g}b", Seq(g.toFloat + 0.1f, 0f), Map("cat" -> s"c$g")))
    } :+ (("nocat", Seq(0.1f, 0f), Map.empty[String, String]))
    client.upsert("grp", rows.toDF("key", "vec", "meta"))
    val out = client.searchGrouped("grp", Array(0f, 0f), k = 2,
      groupByKey = "cat", groupSize = 2).collect()
    assert(out.map(_.getAs[String]("vector_key")).toSeq ==
      Seq("g1a", "g1b", "g2a", "g2b"),
      "top-2 groups are the two nearest bands, 2 hits each, rogue row skipped")
    assert(out.map(r => (r.getAs[String]("group_value"),
      r.getAs[Long]("grp_rank"), r.getAs[Long]("rn"))).toSeq ==
      Seq(("c1", 1L, 1L), ("c1", 1L, 2L), ("c2", 2L, 1L), ("c2", 2L, 2L)))
    // groupSize=1 = "k results from k distinct groups"
    assert(client.searchGrouped("grp", Array(0f, 0f), k = 3, groupByKey = "cat")
      .collect().map(_.getAs[String]("vector_key")).toSeq == Seq("g1a", "g2a", "g3a"))
    // a metadata filter composes: exclude band 1 → bands 2 and 3 lead
    assert(client.searchGrouped("grp", Array(0f, 0f), k = 2, groupByKey = "cat",
      filter = Some(element_at(col("meta"), "cat") =!= "c1"))
      .collect().map(_.getAs[String]("vector_key")).toSeq == Seq("g2a", "g3a"))
  }

  test("weighted hybrid fusion: min-max normalized arms, weights steer the ranking") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-whybrid").toString
    val client = new GraftClient(spark, root)
    client.createCollection("wh", dim = 384)
    val docs = Seq(
      ("d1", "spark join hash scan join hash"),       // strong lexical
      ("d2", "completely unrelated prose about owls"),
      ("d3", "join scan"),                            // mild lexical
      ("d4", "storage engines and columnar layouts")
    ).toDF("key", "text")
    client.upsertTexts("wh", docs.withColumn("meta",
      map(lit("s"), col("key"))))
    val qv = graft.ingest.Embedder.text.embedText("spark join hash scan join hash")
    // wLex=1/wVec=0 ranks purely lexically: d1 (max bm25) must lead and
    // carry lex_norm == 1.0; wVec=1/wLex=0 ranks purely by vector: d1 is
    // the embedded twin of the query, so it leads there too with
    // vec_norm == 1.0 — both extremes agree on the winner, and the
    // normalized scores hit the [0,1] endpoints the ranker defines.
    val lexOnly = client.hybridSearch("wh", docs, Seq("join", "hash", "scan"), qv,
      fusion = "weighted", wVec = 0.0, wLex = 1.0).collect()
    assert(lexOnly.head.getAs[String]("key") == "d1")
    assert(math.abs(lexOnly.head.getAs[Double]("lex_norm") - 1.0) < 1e-9)
    val vecOnly = client.hybridSearch("wh", docs, Seq("join", "hash", "scan"), qv,
      fusion = "weighted", wVec = 1.0, wLex = 0.0).collect()
    assert(vecOnly.head.getAs[String]("key") == "d1")
    assert(math.abs(vecOnly.head.getAs[Double]("vec_norm") - 1.0) < 1e-9)
    // degenerate lexical arm (exactly ONE doc matches the term): its only
    // hit is the arm's best and must normalize to 1.0 and win under
    // wLex=1 — not collapse to 0 and become indistinguishable from docs
    // the arm never retrieved
    val single = client.hybridSearch("wh", docs, Seq("owls"), qv,
      fusion = "weighted", wVec = 0.0, wLex = 1.0).collect()
    assert(single.head.getAs[String]("key") == "d2",
      s"the only lexically-matching doc must lead: ${single.toSeq}")
    assert(math.abs(single.head.getAs[Double]("lex_norm") - 1.0) < 1e-9)
    // every fused score lives in [0,1] for unit weights
    val fused = client.hybridSearch("wh", docs, Seq("join", "hash", "scan"), qv,
      fusion = "weighted").collect()
    assert(fused.forall { r =>
      val s = r.getAs[Double]("wscore"); s >= 0.0 && s <= 1.0 + 1e-9 })
    // an un-retrieved arm contributes exactly 0, not null
    assert(fused.forall(r => !r.isNullAt(r.fieldIndex("wscore"))))
    // rrf still works through the same entry point (regression guard)
    assert(client.hybridSearch("wh", docs, Seq("join", "hash", "scan"), qv,
      fusion = "rrf").columns.contains("rrf"))
  }

  test("aliases: stable names over re-pointable targets, destruction guarded") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-alias").toString
    val client = new GraftClient(spark, root)
    client.createCollection("v1", dim = 2)
    client.createCollection("v2", dim = 2)
    client.upsert("v1", Seq(("a", Seq(1f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    client.upsert("v2", Seq(("b", Seq(0f, 1f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))

    // create + use through the alias on the data path
    assert(client.createAlias("prod", "v1"))
    assert(!client.createAlias("prod", "v2"), "create is exclusive, not upsert")
    assert(client.search("prod", Array(1f, 0f), k = 1)
      .head().getAs[String]("vector_key") == "a")
    assert(client.count("prod") == 1)
    assert(client.listAliases() == Seq("prod" -> "v1"))

    // the zero-downtime re-point: same client-facing name, new target
    client.alterAlias("prod", "v2")
    assert(client.search("prod", Array(0f, 1f), k = 1)
      .head().getAs[String]("vector_key") == "b")

    // guards: no alias to nowhere, no chains, no name collisions either way
    intercept[IllegalArgumentException](client.createAlias("x", "nope"))
    intercept[IllegalArgumentException](client.createAlias("x", "prod"))
    intercept[IllegalArgumentException](client.createAlias("v1", "v2"))
    intercept[IllegalArgumentException](client.createCollection("prod", dim = 2))

    // aliases surface in the SQL views too, reading their current target
    client.registerSqlViews()
    assert(spark.sql("SELECT key FROM prod").collect().map(_.getString(0)).toSeq
      == Seq("b"), "the alias view must read through to its CURRENT target")

    // destruction: dropping through an alias refused; dropping an aliased
    // target refused until the alias is gone; dropAlias never touches data
    intercept[IllegalArgumentException](client.drop("prod"))
    intercept[IllegalArgumentException](client.drop("v2"))
    assert(client.dropAlias("prod"))
    assert(client.count("v2") == 1, "dropAlias removes only the indirection")
    assert(client.drop("v2"))
  }

  test("fetch: batch point lookup reads only the touched buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fetch").toString
    val client = new GraftClient(spark, root)
    client.createCollection("fx", dim = 2, buckets = 8)
    client.upsert("fx", (0 until 200).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map("i" -> i.toString))).toDF("key", "vec", "meta"))
    val got = client.fetch("fx", Seq("k3", "k42", "k150", "missing"))
    val byKey = got.collect().map(r => r.getAs[String]("key") ->
      r.getSeq[Float](r.fieldIndex("vec"))).toMap
    assert(byKey.keySet == Set("k3", "k42", "k150"), "existing keys only, no ghosts")
    assert(byKey("k42") == Seq(42f, 0f))
    // the scan lists only the keys' bucket files, not all 8 buckets
    val m = client.describe("fx")
    val coll = new graft.streaming.BucketedKeyedCollection(
      m.dataPath, org.apache.spark.sql.types.StructType.fromDDL(
        "key STRING, vec ARRAY<FLOAT>, meta MAP<STRING,STRING>, ingest_ts TIMESTAMP, seq BIGINT"),
      "key", m.buckets)
    val wantBuckets = Seq("k3", "k42", "k150", "missing").toDF("key")
      .select(coll.bucketExpr.as("b")).distinct().collect().map(_.getInt(0)).toSet
    val files = client.fetch("fx", Seq("k3", "k42", "k150", "missing")).inputFiles
    assert(files.nonEmpty && files.forall(f =>
      wantBuckets.exists(b => f.contains(f"b$b%05d-"))),
      s"fetch must list only buckets $wantBuckets: ${files.toSeq}")
    // empty key set → empty result, correct schema, no scan
    assert(client.fetch("fx", Seq.empty).columns.toSeq == Seq("key", "vec", "meta"))
    assert(client.fetch("fx", Seq.empty).count() == 0)
    // a null key on the READ path matches nothing — it must not abort the
    // fetch with the write boundary's raise
    assert(client.fetchDf("fx",
      Seq(Option("k3"), Option.empty[String]).toDF("key")).count() == 1)
  }

  test("queryWhere: the scalar no-vector read; indexStats: cell occupancy + radius") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-qw").toString
    val client = new GraftClient(spark, root)
    client.createCollection("qw", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    client.upsert("qw", (0 until 40).map(i =>
      (f"k$i%02d", Seq(if (i < 20) 0f else 100f, i.toFloat),
        Map("parity" -> (i % 2).toString))).toDF("key", "vec", "meta"))

    // Milvus client.query(filter=...): predicate-only read, key order
    val odd = client.queryWhere("qw",
      element_at(col("meta"), "parity") === "1", limit = Some(5))
      .collect().map(_.getAs[String]("key")).toSeq
    assert(odd == Seq("k01", "k03", "k05", "k07", "k09"))
    // a null-evaluating predicate matches nothing (deleteWhere's rule)
    assert(client.queryWhere("qw",
      element_at(col("meta"), "missing") === "x").count() == 0)
    // the pushdown claim is a plan fact, not prose: a pushable predicate
    // must reach the Parquet scan's PushedFilters (an earlier coalesce
    // wrapper made the whole conjunct untranslatable — this guards the
    // regression)
    val pushed = client.queryWhere("qw", col("key") === "k07")
    val pplan = pushed.queryExecution.executedPlan.toString
    assert(pplan.contains("PushedFilters: [") &&
      pplan.contains("EqualTo(key,k07)"),
      s"key predicate must push to the Parquet row groups, plan was:\n$pplan")
    assert(pushed.collect().map(_.getAs[String]("key")).toSeq == Seq("k07"))

    client.buildIndex("qw", nlist = 2)
    val stats = client.indexStats("qw").collect()
    assert(stats.map(_.getAs[Long]("n_rows")).sum == 40,
      "every stored row is in exactly one cell")
    assert(stats.forall(r => !r.isNullAt(r.fieldIndex("radius"))),
      "every populated cell carries its range-prune radius")
    assert(stats.forall(_.getAs[Boolean]("fresh")))
    // the two planted clusters land in the two cells — occupancy visible
    assert(stats.length == 2 && stats.forall(_.getAs[Long]("n_rows") == 20))
    // empty a whole cluster: its cell must still be REPORTED, at zero —
    // empty cells are the oversized-nlist signal the report exists for
    client.deleteWhere("qw", col("key") < "k20")
    val after = client.indexStats("qw").collect()
    assert(after.length == 2, "the emptied cell must not vanish from the report")
    assert(after.count(_.getAs[Long]("n_rows") == 0L) == 1)
    assert(after.count(_.getAs[Long]("n_rows") == 20L) == 1)
    intercept[IllegalArgumentException](client.indexStats("nope"))
    intercept[IllegalArgumentException](
      client.queryWhere("qw", lit(true), limit = Some(-1)))
  }

  test("buildIndex through an alias evicts the resolved name's caches") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-alias-idx").toString
    val client = new GraftClient(spark, root)
    client.createCollection("v3", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    client.upsert("v3", (0 until 20).map(i =>
      (f"p$i%02d", Seq((i % 4) * 10f + i / 4f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    client.buildIndex("v3", nlist = 2)
    assert(client.createAlias("iprod", "v3"))
    client.search("iprod", Array(0f, 0f), k = 3).collect() // warms the caches
    // a rebuild through the ALIAS lands at the SAME store version: the
    // version-keyed caches of the RESOLVED name must be evicted, or the
    // stale 2-center quantizer would probe only 2 of the new 4 cells and
    // a full-probe search would silently drop rows
    client.buildIndex("iprod", nlist = 4)
    val full = client.search("iprod", Array(0f, 0f), k = 20, nprobe = 4)
      .collect().map(_.getAs[String]("vector_key")).toSet
    assert(full == (0 until 20).map(i => f"p$i%02d").toSet,
      "a rebuild through an alias must not leave stale quantizers over the new cells")
    // rebucket through the alias exercises the same resolved-name paths
    // (in-lock liveness re-check + cache eviction) — must not throw the
    // spurious concurrent-modification error
    client.rebucket("iprod", 4)
    assert(client.search("iprod", Array(0f, 0f), k = 20, nprobe = 64).count() == 20)
  }

  test("dangling alias: the error names both the alias and its resolved target") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dangle").toString
    val client = new GraftClient(spark, root)
    client.createCollection("dng", dim = 2)
    client.upsert("dng", Seq(("a", Seq(0f, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    assert(client.createAlias("dnga", "dng"))
    // simulate the torn state a drop racing alterAlias can leave: the
    // target's catalog entry gone while the alias file survives. The
    // data-path error must name BOTH names — a caller who only typed
    // 'dnga' cannot act on "no such collection: dng"
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$root/catalog/dng.json"))
    val err = intercept[IllegalArgumentException](client.describe("dnga"))
    assert(err.getMessage.contains("dnga") && err.getMessage.contains("'dng'"),
      s"message must name alias and target, was: ${err.getMessage}")
    assert(err.getMessage.toLowerCase.contains("dangling"),
      "message must say the alias is dangling")
  }

  test("pagination depth is capped at 16384 (Milvus offset+limit parity, overflow-safe)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pagecap").toString
    val client = new GraftClient(spark, root)
    client.createCollection("pc", dim = 2)
    client.upsert("pc", (0 until 5).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    // at the cap: accepted (offset+k == 16384)
    assert(client.search("pc", Array(0f, 0f), k = 4, offset = 16380).count() == 0)
    // past the cap: loud boundary error, not a wrapped-negative plan failure
    val err = intercept[IllegalArgumentException](
      client.search("pc", Array(0f, 0f), k = 10, offset = 16380))
    assert(err.getMessage.contains("16384"))
    // the old overflow trap: a huge offset must hit the cap check, never
    // reach (offset+k)*refine Int arithmetic
    intercept[IllegalArgumentException](
      client.search("pc", Array(0f, 0f), k = 10, offset = Int.MaxValue - 5))
  }
}
