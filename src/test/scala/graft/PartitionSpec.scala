package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient

/** Milvus partition surface (create/drop/list + `partition_names`
  * scoping + partition-key collections): each partition is its own
  * bucketed store + index, so a scoped read prunes at the DIRECTORY
  * level — asserted on the physical plan, not just on values. */
class PartitionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("partition-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newClient(): (GraftClient, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-part").toString
    (new GraftClient(spark, root), root)
  }

  private def row(key: String, x: Float, tag: String = "t") =
    (key, Seq(x, 0f), Map("tag" -> tag))

  test("lifecycle: create/list/has/drop, default irremovable, illegal names refused") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("pl", dim = 2)
    assert(client.listPartitions("pl") == Seq("_default"))
    assert(client.createPartition("pl", "hot"))
    assert(!client.createPartition("pl", "hot"), "idempotent create")
    assert(!client.createPartition("pl", "_default"), "default already exists")
    assert(client.createPartition("pl", "cold"))
    assert(client.listPartitions("pl") == Seq("_default", "cold", "hot"))
    assert(client.hasPartition("pl", "hot") && !client.hasPartition("pl", "warm"))
    intercept[IllegalArgumentException](client.createPartition("pl", "no/slash"))
    intercept[IllegalArgumentException](client.dropPartition("pl", "_default"))
    assert(client.dropPartition("pl", "cold"))
    assert(!client.dropPartition("pl", "cold"), "already gone")
    assert(client.listPartitions("pl") == Seq("_default", "hot"))
    // upsert into an uncreated partition fails loudly, not silently
    intercept[IllegalArgumentException](client.upsert("pl",
      Seq(row("x", 1f)).toDF("key", "vec", "meta"), partition = "warm"))
  }

  test("scoped writes and reads: search/count/fetch/queryWhere honor partition_names") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("ps", dim = 2)
    client.createPartition("ps", "p1")
    client.createPartition("ps", "p2")
    client.upsert("ps", Seq(row("d0", 0.1f)).toDF("key", "vec", "meta"))
    client.upsert("ps", Seq(row("a1", 1f), row("a2", 2f)).toDF("key", "vec", "meta"),
      partition = "p1")
    client.upsert("ps", Seq(row("b1", 3f), row("b2", 4f)).toDF("key", "vec", "meta"),
      partition = "p2")
    // unscoped = everything, scoped = only the named partitions' rows
    assert(client.count("ps") == 5)
    assert(client.count("ps", Seq("p1")) == 2)
    assert(client.count("ps", Seq("_default", "p2")) == 3)
    val all = client.search("ps", Array(0f, 0f), k = 10)
      .collect().map(_.getAs[String]("vector_key")).toSeq
    assert(all == Seq("d0", "a1", "a2", "b1", "b2"),
      "unscoped search ranks across every partition")
    val scoped = client.search("ps", Array(0f, 0f), k = 10, partitions = Seq("p2"))
    val splan = scoped.queryExecution.executedPlan.toString
    assert(splan.contains("-parts/p2/store"),
      "scoped search must read the named partition's store")
    assert(!splan.contains("-parts/p1/store"),
      "scoped search must NOT touch other partitions' directories — " +
        "partition scoping is a directory-level prune")
    assert(scoped.collect().map(_.getAs[String]("vector_key")).toSeq == Seq("b1", "b2"))
    intercept[IllegalArgumentException](
      client.search("ps", Array(0f, 0f), k = 2, partitions = Seq("nope")))
    // fetch: the same key can live in several partitions (Milvus PKs are
    // per-partition); scoping narrows which copies a get sees
    client.upsert("ps", Seq(row("dup", 5f, "inP1")).toDF("key", "vec", "meta"),
      partition = "p1")
    client.upsert("ps", Seq(row("dup", 6f, "inP2")).toDF("key", "vec", "meta"),
      partition = "p2")
    assert(client.fetch("ps", Seq("dup")).count() == 2)
    assert(client.fetch("ps", Seq("dup"), Seq("p1")).collect()
      .map(_.getAs[Map[String, String]]("meta")("tag")).toSeq == Seq("inP1"))
    // queryWhere scoping
    assert(client.queryWhere("ps", col("key").startsWith("b"),
      partitions = Seq("p2")).count() == 2)
    assert(client.queryWhere("ps", col("key").startsWith("b"),
      partitions = Seq("p1")).count() == 0)
    // scoped delete removes only that partition's copy; unscoped delete
    // sweeps every partition
    client.deleteByKeys("ps", Seq("dup"), Seq("p2"))
    assert(client.fetch("ps", Seq("dup")).count() == 1)
    client.deleteByKeys("ps", Seq("a1", "b1"))
    assert(client.count("ps") == 4) // d0, a2, b2, dup@p1
    // deleteWhere per-partition resolve
    client.deleteWhere("ps", element_at(col("meta"), "tag") === "inP1")
    assert(client.fetch("ps", Seq("dup")).count() == 0)
  }

  test("per-partition IVF: build all, scoped search rides that partition's prune") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("pi", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    client.createPartition("pi", "px")
    // two clusters per partition so nlist=2 separates them
    client.upsert("pi", (0 until 20).map(i =>
      (s"d$i", Seq(if (i < 10) 0f else 100f, i.toFloat), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    client.upsert("pi", (0 until 20).map(i =>
      (s"x$i", Seq(if (i < 10) 0f else 100f, i.toFloat), Map.empty[String, String]))
      .toDF("key", "vec", "meta"), partition = "px")
    client.buildIndex("pi", nlist = 2) // builds EVERY non-empty partition
    // scoped + pruned: only px's near cell feeds the result
    val hits = client.search("pi", Array(0f, 0f), k = 10, nprobe = 1,
      partitions = Seq("px")).collect().map(_.getAs[String]("vector_key"))
    assert(hits.toSeq == (0 until 10).map(i => s"x$i"),
      "scoped pruned search returns exactly px's near cluster")
    val plan = client.search("pi", Array(0f, 0f), k = 10, nprobe = 1,
      partitions = Seq("px")).queryExecution.executedPlan.toString
    assert(plan.contains("-parts/px/store-ivf"),
      "scoped search must ride the PARTITION'S index layout")
    // unscoped search unions both partitions' pruned scans
    assert(client.search("pi", Array(0f, 0f), k = 20, nprobe = 2)
      .count() == 20)
    // per-partition observability
    assert(client.indexStats("pi", partition = "px")
      .collect().map(_.getAs[Long]("n_rows")).sum == 20)
    assert(client.estimateRecall("pi", k = 5, nprobe = 2, sampleQueries = 8,
      partition = "px") == 1.0)
  }

  test("partition-key collection: hash routing, value-scoped search, manual partitions refused") {
    import spark.implicits._
    val (client, root) = newClient()
    client.createCollection("pk", dim = 2, partitionKey = "tenant",
      numPartitions = 4)
    assert(client.listPartitions("pk").toSet ==
      (Set("_default") ++ (0 until 4).map(i => s"_pk_$i")))
    intercept[IllegalArgumentException](client.createPartition("pk", "manual"))
    intercept[IllegalArgumentException](client.dropPartition("pk", "_pk_0"))
    intercept[IllegalArgumentException](client.upsert("pk",
      Seq(row("k", 1f)).toDF("key", "vec", "meta"), partition = "_pk_1"))
    val rows = (0 until 30).map { i =>
      (s"k$i", Seq(i.toFloat, 0f), Map("tenant" -> s"t${i % 3}"))
    }
    client.upsert("pk", rows.toDF("key", "vec", "meta"))
    assert(client.count("pk") == 30)
    // a row missing the partition key fails the whole batch loudly
    val err = intercept[Exception](client.upsert("pk",
      Seq(("bad", Seq(1f, 0f), Map.empty[String, String])).toDF("key", "vec", "meta")))
    assert(err.getMessage != null)
    assert(client.count("pk") == 30, "failed batch must commit nothing")
    // value scoping: exactly tenant t1's rows, from its hashed partition
    val t1 = client.search("pk", Array(0f, 0f), k = 30,
      partitionKeyValues = Seq("t1"))
    assert(t1.collect().map(_.getAs[String]("vector_key")).toSet ==
      (0 until 30).filter(_ % 3 == 1).map(i => s"k$i").toSet,
      "value-scoped search returns exactly that tenant's rows")
    val t1plan = t1.queryExecution.executedPlan.toString
    val touched = (0 until 4).count(i => t1plan.contains(s"_pk_$i/store"))
    assert(touched == 1,
      s"one value must hash to ONE physical partition (plan touched $touched)")
    // routing is consistent: delete by key finds the routed copies
    client.deleteByKeys("pk", Seq("k1", "k4"))
    assert(client.count("pk") == 28)
    intercept[IllegalArgumentException](client.search("pk", Array(0f, 0f),
      k = 2, partitions = Seq("_pk_0"), partitionKeyValues = Seq("t0")))
    // partitionKey survives the catalog round-trip
    val c2 = new GraftClient(spark, root)
    assert(c2.describe("pk").partitionKey == "tenant" &&
      c2.describe("pk").numPartitions == 4)
  }

  test("mixed per-partition index state: fresh-index arm unions with raw-scan arm") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("mx", dim = 2, indexType = "IVF_FLAT", nlist = 2)
    // index exists for _default only; 'late' is written AFTER the build,
    // so its arm serves the raw store scan while _default serves the
    // cells layout (which carries an extra centroidId column) — the
    // union across them must resolve, and results must cover both
    client.upsert("mx", (0 until 10).map(i =>
      (s"d$i", Seq(i.toFloat, 0f), Map("g" -> s"d$i")))
      .toDF("key", "vec", "meta"))
    client.buildIndex("mx", nlist = 2)
    client.createPartition("mx", "late")
    client.upsert("mx", (0 until 10).map(i =>
      (s"l$i", Seq(i.toFloat + 0.5f, 0f), Map("g" -> s"l$i")))
      .toDF("key", "vec", "meta"), partition = "late")
    assert(client.search("mx", Array(0f, 0f), k = 4, nprobe = 2).collect()
      .map(_.getAs[String]("vector_key")).toSeq == Seq("d0", "l0", "d1", "l1"))
    assert(client.searchRange("mx", Array(0f, 0f), radius = 1.6).collect()
      .map(_.getAs[String]("vector_key")).toSeq == Seq("d0", "l0", "d1", "l1"),
      "range search must union the indexed and unindexed partitions")
    assert(client.searchGrouped("mx", Array(0f, 0f), k = 3, groupByKey = "g")
      .collect().map(_.getAs[String]("vector_key")).toSeq == Seq("d0", "l0", "d1"),
      "grouped search must union the indexed and unindexed partitions")
    val qs = Seq((0L, Seq(0f, 0f))).toDF("qid", "qvec")
    assert(client.searchBatch("mx", qs, k = 3, nprobe = 2).collect()
      .map(_.getAs[String]("vector_key")).toSeq == Seq("d0", "l0", "d1"),
      "batched search must union mixed-state partitions")
  }

  test("aliases compose with partitions; drop destroys partition storage") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("pa", dim = 2)
    client.createPartition("pa", "live")
    client.upsert("pa", Seq(row("r1", 1f)).toDF("key", "vec", "meta"),
      partition = "live")
    client.createAlias("pa-alias", "pa")
    assert(client.listPartitions("pa-alias") == Seq("_default", "live"))
    assert(client.search("pa-alias", Array(0f, 0f), k = 5,
      partitions = Seq("live")).count() == 1)
    assert(client.upsert("pa-alias", Seq(row("r2", 2f)).toDF("key", "vec", "meta"),
      partition = "live") == 2)
    // rebucket refuses partitioned collections rather than stranding them
    intercept[IllegalArgumentException](client.rebucket("pa", 4))
    val partsPath = java.nio.file.Paths.get(
      client.describe("pa").dataPath + "-parts")
    assert(java.nio.file.Files.exists(partsPath))
    client.dropAlias("pa-alias")
    client.drop("pa")
    assert(!java.nio.file.Files.exists(partsPath),
      "drop must destroy partition storage — a re-created name must not resurrect it")
  }

  test("a re-upsert with a CHANGED partition-key value MOVES the row — batch and streaming") {
    import spark.implicits._
    val (client, root) = newClient()
    client.createCollection("mv", dim = 2, partitionKey = "tenant",
      numPartitions = 4)
    def home(tenant: String): Int = graft.core.CatalystHash.pmodXxhash64(
      tenant, org.apache.spark.sql.types.StringType, 4)
    // two tenants proven to hash to DIFFERENT physical partitions
    val Seq(tA, tB) = (0 until 32).map(i => s"t$i")
      .groupBy(home).values.take(2).map(_.head).toSeq
    assert(home(tA) != home(tB))
    client.upsert("mv", Seq(("k1", Seq(1f, 0f), Map("tenant" -> tA)))
      .toDF("key", "vec", "meta"))
    // batch move: Milvus upsert = delete-by-PK + insert — the old copy
    // must NOT stay live in tA's partition
    client.upsert("mv", Seq(("k1", Seq(2f, 0f), Map("tenant" -> tB)))
      .toDF("key", "vec", "meta"))
    assert(client.count("mv") == 1, "a moved key must never have two live copies")
    assert(client.search("mv", Array(0f, 0f), k = 5,
        partitionKeyValues = Seq(tA)).count() == 0,
      "the OLD partition must not serve the moved key")
    assert(client.search("mv", Array(0f, 0f), k = 5,
        partitionKeyValues = Seq(tB)).collect()
      .map(_.getString(0)).toSeq == Seq("k1"))
    // streaming move: a re-put event with a changed tenant tag
    val objects = Seq(("k1", "doc one")).toDF("key", "text")
    val notif =
      s"""{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3",""" +
        s""""eventName":"ObjectCreated:Put","s3":{"bucket":{"name":"b"},""" +
        s""""object":{"key":"k1","size":1,"tags":{"tenant":"$tA"}}}}]}"""
    val lp = java.nio.file.Paths.get(s"$root/landing", "f1.json")
    java.nio.file.Files.createDirectories(lp.getParent)
    java.nio.file.Files.write(lp, notif.getBytes)
    client.startIngest("mv", s"$root/landing", objects,
      embedder = graft.ingest.HashingEmbedder(2))
      .awaitTermination(120000)
    assert(client.count("mv") == 1, "streamed move must not duplicate either")
    assert(client.search("mv", Array(0f, 0f), k = 5,
        partitionKeyValues = Seq(tB)).count() == 0,
      "the streamed re-put moved k1 back to tA — tB must not serve it")
    assert(client.search("mv", Array(0f, 0f), k = 5,
        partitionKeyValues = Seq(tA)).collect()
      .map(_.getString(0)).toSeq == Seq("k1"))
  }

  test("one batch, one key, TWO pk values: the content-chosen winner survives in its partition") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("dup", dim = 2, partitionKey = "tenant",
      numPartitions = 4)
    def home(tenant: String): Int = graft.core.CatalystHash.pmodXxhash64(
      tenant, org.apache.spark.sql.types.StringType, 4)
    val Seq(tA, tB) = (0 until 32).map(i => s"t$i")
      .groupBy(home).values.take(2).map(_.head).toSeq
    assert(home(tA) != home(tB))
    // the batch router resolves within-batch duplicates to mergeCommit's
    // content-hash winner BEFORE fanning out; without that, each copy's
    // partition would see the other copy in its moved-away delete set and
    // the key would be put-then-deleted EVERYWHERE (the r11 review bug)
    val batch = Seq(
      ("k", Seq(1f, 0f), Map("tenant" -> tA)),
      ("k", Seq(2f, 0f), Map("tenant" -> tB))).toDF("key", "vec", "meta")
    client.upsert("dup", batch)
    assert(client.count("dup") == 1,
      "a duplicated key must survive as exactly one copy, not vanish")
    // which copy wins is mergeCommit's rule — max content hash — so pin
    // the survivor against that rule computed on the same batch
    val winner = batch
      .withColumn("__h", xxhash64(col("key"), col("vec"), to_json(col("meta"))))
      .orderBy(col("__h").desc).select("meta").head()
      .getMap[String, String](0)("tenant")
    val loser = if (winner == tA) tB else tA
    assert(client.search("dup", Array(0f, 0f), k = 5,
        partitionKeyValues = Seq(winner)).collect()
      .map(_.getString(0)).toSeq == Seq("k"),
      "the winner's partition serves the surviving copy")
    assert(client.search("dup", Array(0f, 0f), k = 5,
        partitionKeyValues = Seq(loser)).count() == 0,
      "the losing copy's partition holds nothing")
  }

  test("concurrent fan-out: one failing partition surfaces; healthy partitions keep serving") {
    import spark.implicits._
    val (client, _) = newClient()
    client.createCollection("ff", dim = 2, partitionKey = "tenant",
      numPartitions = 4)
    val seed = (0 until 16).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map("tenant" -> s"t$i")))
    client.upsert("ff", seed.toDF("key", "vec", "meta"))
    val before = client.count("ff")
    assert(before == 16)
    // corrupt ONE physical partition's CURRENT pointer — its commit (and
    // even its moved-away resolve) now throws inside the pooled fan-out
    val cur = java.nio.file.Paths.get(
      s"${client.describe("ff").dataPath}-parts/_pk_1/store/CURRENT")
    val saved = java.nio.file.Files.readAllBytes(cur)
    java.nio.file.Files.write(cur, "not-a-version".getBytes)
    // every future is awaited and the ORIGINAL failure rethrown — not a
    // timeout, not a swallowed null, not an abandoned in-flight commit
    val e = intercept[Throwable](
      client.upsert("ff", seed.take(8).toDF("key", "vec", "meta")))
    assert(e.isInstanceOf[NumberFormatException] ||
        e.getMessage != null && e.getMessage.nonEmpty,
      s"the partition failure must surface as the original exception: $e")
    // the poisoned store heals when its pointer is restored, and the
    // healthy partitions' data was never corrupted by the failed batch
    java.nio.file.Files.write(cur, saved)
    assert(client.count("ff") == before,
      "a failed fan-out batch must not lose pre-existing rows")
    client.upsert("ff", seed.toDF("key", "vec", "meta"))
    assert(client.count("ff") == before)
    assert(client.search("ff", Array(0f, 0f), k = 16).count() == 16)
  }

  test("streaming ingest routes micro-batches through the pk router; deletes fan out") {
    import spark.implicits._
    val (client, root) = newClient()
    val emb = graft.ingest.HashingEmbedder(8)
    client.createCollection("pkstream", dim = 8, partitionKey = "tenant",
      numPartitions = 4)
    val objects = (0 until 13).map(i => (s"doc$i.txt", s"document number $i"))
      .toDF("key", "text")
    def notifT(eventName: String, key: String, tenant: Option[String]): String = {
      val tags = tenant.fold("{}")(t => s"""{"tenant":"$t"}""")
      s"""{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3",""" +
        s""""eventName":"$eventName","s3":{"bucket":{"name":"bkt"},""" +
        s""""object":{"key":"$key","size":1,"tags":$tags}}}]}"""
    }
    def writeLanding(name: String, lines: Seq[String], mtimeMs: Long): Unit = {
      val p = java.nio.file.Paths.get(s"$root/landing", name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    val now = System.currentTimeMillis()
    writeLanding("f1.json", (0 until 12).map(i =>
      notifT("ObjectCreated:Put", s"doc$i.txt", Some(s"t${i % 3}"))), now - 10000)
    client.startIngest("pkstream", s"$root/landing", objects, embedder = emb)
      .awaitTermination(120000)
    assert(client.count("pkstream") == 12)
    // value-scoped search sees exactly the streamed tenant's rows, and
    // the plan touches ONE physical partition — the write router and the
    // read scoping share the hash
    val t1 = client.search("pkstream", Array.fill(8)(0f), k = 20,
      partitionKeyValues = Seq("t1"))
    assert(t1.collect().map(_.getAs[String]("vector_key")).toSet ==
      (0 until 12).filter(_ % 3 == 1).map(i => s"doc$i.txt").toSet)
    // match "_pk_N/" not "_pk_N/store": the plan renderer truncates the
    // location path list, which can cut mid-"store"
    val plan = t1.queryExecution.executedPlan.toString
    assert((0 until 4).count(i => plan.contains(s"_pk_$i/")) == 1,
      s"one tenant must hash to ONE physical partition\n${plan.take(4000)}")
    // physical placement: every doc sits in the partition its tenant
    // hashes to (the same Catalyst xxhash64 kernel, driver-side)
    def home(tenant: String): Int = graft.core.CatalystHash.pmodXxhash64(
      tenant, org.apache.spark.sql.types.StringType, 4)
    (0 until 4).foreach { p =>
      val inPart = client.search("pkstream", Array.fill(8)(0f), k = 20,
          partitions = Seq(s"_pk_$p"))
        .collect().map(_.getAs[String]("vector_key")).toSet
      val expect = (0 until 12).filter(i => home(s"t${i % 3}") == p)
        .map(i => s"doc$i.txt").toSet
      assert(inPart == expect, s"partition _pk_$p holds $inPart, expected $expect")
    }
    // second drain: a DELETE (keyed event, no tenant tag — it must fan
    // out and find the row's home), one new put, and a malformed put
    // with NO tenant tag (dropped like the 400 arm, not a poison pill)
    writeLanding("f2.json", Seq(
      notifT("ObjectRemoved:Delete", "doc1.txt", None),
      notifT("ObjectCreated:Put", "doc12.txt", Some("t0")),
      notifT("ObjectCreated:Put", "doc0.txt", None)), now)
    client.startIngest("pkstream", s"$root/landing", objects, embedder = emb)
      .awaitTermination(120000)
    val after = client.queryWhere("pkstream", lit(true)).collect()
      .map(_.getAs[String]("key")).toSet
    assert(!after.contains("doc1.txt"), "fanned-out delete must find the routed row")
    assert(after.contains("doc12.txt"), "new put must land in its hash partition")
    assert(after.contains("doc0.txt"),
      "the malformed re-put is dropped; the original row must survive")
    assert(client.count("pkstream") == 12) // 12 - 1 delete + 1 put
    assert(client.search("pkstream", Array.fill(8)(0f), k = 20,
        partitionKeyValues = Seq("t0")).collect()
      .map(_.getAs[String]("vector_key")).toSet.contains("doc12.txt"),
      "partition-scoped search must see streamed rows")
  }

  // ---- the routed commit plan: one plan over every partition store ----

  /** Spark job descriptions of the jobs started while `body` runs — the
    * listener bus is drained before and after, so every start event is
    * seen. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One tenant value per physical partition of an `n`-partition
    * collection, index = partition. */
  private def tenantPerPartition(n: Int): IndexedSeq[String] = {
    val byHome = (0 until 64 * n).map(i => s"t$i").groupBy(t =>
      graft.core.CatalystHash.pmodXxhash64(t, org.apache.spark.sql.types.StringType, n))
    (0 until n).map(p => byHome(p).head)
  }

  private def putNotif(key: String, tenant: String): String =
    s"""{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3",""" +
      s""""eventName":"ObjectCreated:Put","s3":{"bucket":{"name":"b"},""" +
      s""""object":{"key":"$key","size":1,"tags":{"tenant":"$tenant"}}}}]}"""

  test("one commit plan: routed batches run at most 2x a plain batch's jobs, one version per touched partition") {
    import spark.implicits._
    val (client, root) = newClient()
    client.createCollection("plainj", dim = 2, buckets = 8)
    client.createCollection("routedj", dim = 2, partitionKey = "tenant",
      numPartitions = 8)
    val tenants = tenantPerPartition(8)
    def batch(gen: Int) = (0 until 200).map(i =>
      (s"k$i", Seq(i.toFloat + gen, 0f), Map("tenant" -> tenants(i % 8))))
      .toDF("key", "vec", "meta")
    Seq("plainj", "routedj").foreach(c => client.upsert(c, batch(0)))
    def pkVersions = client.flush("routedj").filter(_._1.startsWith("_pk_"))
    val v0 = pkVersions
    val (_, plainJobs) = jobsDuring(client.upsert("plainj", batch(1)))
    val (_, routedJobs) = jobsDuring(client.upsert("routedj", batch(1)))
    assert(routedJobs.size <= 2 * plainJobs.size,
      s"routed upsert ran ${routedJobs.size} jobs, plain ${plainJobs.size}")
    assert(pkVersions == v0.map { case (p, v) => p -> (v + 1) },
      "every touched partition store gets exactly one new version")
    // the one staged write clusters by (partition, bucket): every bucket
    // directory the commit published holds one data file
    val parts = s"${client.describe("routedj").dataPath}-parts"
    pkVersions.foreach { case (p, v) =>
      val store = java.nio.file.Paths.get(parts, p, "store")
      val published = store.toFile.listFiles().filter(_.getName.endsWith(f"-v$v%08d"))
      assert(published.nonEmpty, s"$p published no bucket directory")
      published.foreach { d =>
        val files = d.listFiles().count(f => f.getName.startsWith("part-"))
        assert(files == 1, s"$p/${d.getName} holds $files data files")
      }
    }
    // a routed micro-batch of the same events as a plain one
    val objects = (0 until 200).map(i => (s"doc$i", s"document $i")).toDF("key", "text")
    def drain(coll: String): Seq[String] = {
      val land = java.nio.file.Paths.get(root, s"landing-$coll")
      java.nio.file.Files.createDirectories(land)
      java.nio.file.Files.write(land.resolve("f1.json"), (0 until 200)
        .map(i => putNotif(s"doc$i", tenants(i % 8))).mkString("\n").getBytes)
      jobsDuring(client.startIngest(coll, land.toString, objects,
        embedder = graft.ingest.HashingEmbedder(2)).awaitTermination(120000))._2
    }
    val v1 = pkVersions
    val plainBatch = drain("plainj")
    val routedBatch = drain("routedj")
    assert(routedBatch.size <= 2 * plainBatch.size,
      s"routed micro-batch ran ${routedBatch.size} jobs, plain ${plainBatch.size}")
    assert(pkVersions == v1.map { case (p, v) => p -> (v + 1) })
    assert(client.count("routedj") == client.count("plainj"))
  }

  test("every job a plain or routed commit launches carries a graft: label") {
    import spark.implicits._
    val (client, root) = newClient()
    client.createCollection("lp", dim = 2, buckets = 4)
    client.createCollection("lr", dim = 2, partitionKey = "tenant", numPartitions = 4)
    val tenants = tenantPerPartition(4)
    val rows = (0 until 40).map(i =>
      (s"k$i", Seq(i.toFloat, 0f), Map("tenant" -> tenants(i % 4))))
    val objects = (0 until 40).map(i => (s"doc$i", s"document $i")).toDF("key", "text")
    val (_, jobs) = jobsDuring {
      Seq("lp", "lr").foreach { c =>
        client.upsert(c, rows.toDF("key", "vec", "meta"))
        client.upsert(c, rows.take(10).toDF("key", "vec", "meta"))
        client.deleteByKeys(c, Seq("k1", "k2", "ghost"))
        val land = java.nio.file.Paths.get(root, s"landing-$c")
        java.nio.file.Files.createDirectories(land)
        java.nio.file.Files.write(land.resolve("f1.json"), (0 until 40)
          .map(i => putNotif(s"doc$i", tenants(i % 4))).mkString("\n").getBytes)
        client.startIngest(c, land.toString, objects,
          embedder = graft.ingest.HashingEmbedder(2)).awaitTermination(120000)
      }
    }
    assert(jobs.nonEmpty)
    val unlabeled = jobs.filterNot(_.startsWith("graft: "))
    assert(unlabeled.isEmpty,
      s"${unlabeled.size} of ${jobs.size} jobs carry no graft: label: ${unlabeled.distinct.take(5)}")
  }

  test("routed commit crash after k of N partition publishes: each partition old or new; the next commit sweeps staging") {
    import spark.implicits._
    @volatile var crashAfter = -1
    val root = java.nio.file.Files.createTempDirectory("graft-part").toString
    val client = new GraftClient(spark, root) {
      override protected def afterPartitionPublish(published: Int, of: Int): Unit =
        if (published == crashAfter)
          throw new IllegalStateException(s"injected crash after $published of $of publishes")
    }
    client.createCollection("cr", dim = 2, partitionKey = "tenant", numPartitions = 4)
    val tenants = tenantPerPartition(4)
    val old = (0 until 40).map(i => (s"k$i", i.toFloat, tenants(i % 4)))
    // every key stays in its partition; 8 new keys join
    val next = old.map { case (k, x, t) => (k, x + 100f, t) } ++
      (40 until 48).map(i => (s"k$i", i.toFloat, tenants(i % 4)))
    def df(rows: Seq[(String, Float, String)]) =
      rows.map { case (k, x, t) => (k, Seq(x, 0f), Map("tenant" -> t)) }.toDF("key", "vec", "meta")
    def byPartition(rows: Seq[(String, Float, String)]): Map[Int, Map[String, Float]] =
      (0 until 4).map(p => p -> rows.filter(_._3 == tenants(p))
        .map { case (k, x, _) => k -> x }.toMap).toMap
    def stored(p: Int): Map[String, Float] =
      client.queryWhere("cr", lit(true), partitions = Seq(s"_pk_$p")).collect()
        .map(r => r.getAs[String]("key") -> r.getAs[Seq[Float]]("vec").head).toMap
    client.upsert("cr", df(old))
    val (before, after) = (byPartition(old), byPartition(next))
    crashAfter = 2
    val e = intercept[IllegalStateException](client.upsert("cr", df(next)))
    assert(e.getMessage.contains("injected crash"))
    val staging = java.nio.file.Paths.get(s"${client.describe("cr").dataPath}-parts/.routed-stage")
    assert(java.nio.file.Files.exists(staging), "the crash leaves its staging dir behind")
    assert(client.listPartitions("cr") == "_default" +: (0 until 4).map(p => s"_pk_$p"),
      "the staging dir is never listed as a partition")
    val states = (0 until 4).map { p =>
      val now = stored(p)
      if (now == before(p)) "old"
      else if (now == after(p)) "new"
      else fail(s"partition _pk_$p is torn: $now")
    }
    assert(states.count(_ == "new") == 2, s"exactly the first 2 publishes landed: $states")
    val homes = (0 until 4).flatMap(p => stored(p).keys.map(_ -> p)).groupBy(_._1)
    assert(homes.values.forall(_.size == 1), "no key is live in two partitions")
    assert(old.forall { case (k, _, _) => homes.contains(k) }, "no pre-existing key was lost")
    crashAfter = -1
    client.upsert("cr", df(next))
    assert(!java.nio.file.Files.exists(staging), "the next commit sweeps the stale staging dir")
    assert((0 until 4).forall(p => stored(p) == after(p)))
    assert(client.count("cr") == 48)
  }

  test("routed commit CAS race: a write between base capture and publish makes the plan retry; neither write is lost") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-part").toString
    val tenants = tenantPerPartition(4)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var armed = false
    val intruder = Seq(("x", Seq(7f, 7f), Map("tenant" -> tenants(2)))).toDF("key", "vec", "meta")
    val client = new GraftClient(spark, root) {
      override protected def beforeRoutedPublish(): Unit = {
        calls.incrementAndGet()
        if (armed) { armed = false; upsert("race", intruder) }
      }
    }
    client.createCollection("race", dim = 2, partitionKey = "tenant", numPartitions = 4)
    def rows(x: Float) = (0 until 40).map(i =>
      (s"k$i", Seq(i.toFloat + x, 0f), Map("tenant" -> tenants(i % 4))))
      .toDF("key", "vec", "meta")
    client.upsert("race", rows(0f))
    val v0 = client.flush("race")
    calls.set(0)
    armed = true
    client.upsert("race", rows(100f))
    assert(calls.get() == 3, s"attempt, intruding commit, retried attempt: ${calls.get()} hook calls")
    val v1 = client.flush("race")
    assert(v1(s"_pk_2") == v0(s"_pk_2") + 2, "the intruder's partition holds both commits")
    (0 until 4).filter(_ != 2).foreach(p =>
      assert(v1(s"_pk_$p") == v0(s"_pk_$p") + 1, s"_pk_$p published once"))
    val live = client.queryWhere("race", lit(true)).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Seq[Float]]("vec").head).toMap
    assert(live("x") == 7f, "the intruding write survives the retry")
    assert((0 until 40).forall(i => live(s"k$i") == i + 100f), "the retried batch landed whole")
    assert(live.size == 41)
  }
}
