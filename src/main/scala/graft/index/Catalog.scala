package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One NAMED extra vector field of a multi-vector collection —
  * Milvus 2.4's multiple-vector-fields feature (a collection declaring
  * e.g. `text_vec` dim 384 + `image_vec` dim 512 on one row, the
  * consolidation of the reference's two single-field deployments:
  * `s3vectors-app/sample-deployment-text.yaml:63-64` vs
  * `sample-deployment-image.yaml`). The field's vector lives as its own
  * column IN THE SAME keyed store row as the primary `vec` — not a
  * shadow collection — so upsert/delete/consistency are one commit
  * covering every field, while each field's INDEX is its own layout
  * with its own VERSION stamp (independent staleness).
  *
  * `family` is the field's Milvus vector type — Milvus 2.4 admits all
  * three as named fields of one collection (the dense+SPLADE hybrid
  * schema): FLOAT_VECTOR (ARRAY&lt;FLOAT&gt; column, `dim` floats),
  * SPARSE_FLOAT_VECTOR (MAP&lt;BIGINT,DOUBLE&gt; column, dim = 0 — the
  * dimension space is occupied sparsely), or BINARY_VECTOR
  * (ARRAY&lt;BIGINT&gt; packed sign bits, `dim` counts BITS).
  *
  * `indexType` is the field's create-time index family, validated per
  * family exactly like a primary of that `vectorType` (FLAT = exact
  * scans; IVF_FLAT/IVF_SQ8/IVF_PQ/HNSW for dense with the family
  * defaults for frozen knobs — pqM auto, HNSW M/efC defaults;
  * SPARSE_INVERTED_INDEX for sparse; BIN_IVF_FLAT for binary).
  *
  * `nullable` is Milvus 2.6's `add_collection_field` contract: a field
  * added AFTER create must be nullable (rows written before it existed
  * read as null without a rewrite), and a nullable field's reads — the
  * field view every search/index path goes through — surface only the
  * rows that HAVE it. */
case class VecField(name: String, dim: Int, metric: String,
                    indexType: String,
                    family: String = "FLOAT_VECTOR",
                    nullable: Boolean = false)

/** Collection metadata — the engine's analog of the reference's collection/
  * vector-bucket descriptors: Milvus `create_collection` + IVF_FLAT index
  * params (`milvus-app/pythonvectordbceph_milvus.py:92-102`) and S3Vectors
  * `create_vector_bucket`/`create_index(float32, dim, euclidean)`
  * (`s3vectors-app/pythonvectordbceph.py:93-119`). */
case class CollectionMeta(
    name: String,
    dim: Int,
    metric: String,        // "l2" | "cosine" | "dot" (reference pins l2)
    indexType: String,     // "FLAT" | "IVF_FLAT" | "IVF_SQ8"
    nlist: Int,            // IVF coarse cells; reference pins 16384
    dataPath: String,
    buckets: Int = 16,     // hash buckets of the keyed store — immutable
                           // per collection (bucket assignment is
                           // pmod(xxhash64(key), buckets); changing it
                           // would strand rows in unread buckets)
    retain: Int = 2,       // snapshot versions kept for time-travel reads;
                           // older bucket dirs are vacuumed on commit
    partitionKey: String = "",  // Milvus partition-key collections: the
                                // metadata field whose HASH routes each
                                // row to one of numPartitions physical
                                // partitions ("" = plain collection)
    numPartitions: Int = 0,     // partition count for partition-key
                                // routing — immutable (the route is
                                // pmod(xxhash64(value), numPartitions))
    pqM: Int = 0,               // IVF_PQ subquantizer count (Milvus index
                                // param `m`); 0 on every other index type
    pqNbits: Int = 8,           // IVF_PQ bits per code (Milvus `nbits`):
                                // codebooks hold 2^nbits codewords.
                                // Capped at 8 — codes are one byte per
                                // subvector at rest by layout
    consistency: String = "Strong", // Milvus `consistency_level` default
                                // for reads of this collection: Strong |
                                // Session | Bounded | Eventually (see
                                // GraftClient.createCollection)
    hnswM: Int = 0,             // HNSW max degree (Milvus index param
                                // `M`); 0 on every other index type
    hnswEfC: Int = 0,           // HNSW efConstruction (Milvus param);
                                // 0 on every other index type
    vectorType: String = "FLOAT_VECTOR", // Milvus vector field family:
                                // FLOAT_VECTOR | BINARY_VECTOR (binary
                                // collections store packed sign bits —
                                // array<bigint>, 64 dims per word — and
                                // `dim` counts BITS, Milvus's convention)
    extraVecFields: Seq[VecField] = Nil, // Milvus 2.4 multi-vector
                                // collections: NAMED extra dense fields
                                // beyond the primary `vec`, each a
                                // second ARRAY<FLOAT> column in the same
                                // keyed store (see [[VecField]]).
                                // Declared at create, immutable (the
                                // at-rest row layout carries them)
    fieldView: String = "",     // DERIVED-ONLY marker, never serialized:
                                // nonempty on the internal metas that
                                // route search/index machinery at one
                                // extra vector field (reads surface that
                                // field AS `vec`; index dirs suffix by
                                // it) — the partMeta pattern, one level
                                // down. A cataloged meta always has ""
    ttlSeconds: Long = 0L,      // Milvus `collection.ttl.seconds`: rows
                                // whose ingest_ts is older than
                                // now − ttl are EXPIRED — invisible to
                                // every read surface (filtered at read
                                // time off insert timestamps, Milvus's
                                // own semantics) and physically purged
                                // by compact(). 0 = never expire.
                                // Alterable (alter_collection_properties)
    primaryFamily: String = "") // DERIVED-ONLY (like fieldView, never
                                // serialized): on a field-view meta,
                                // the PRIMARY collection's vectorType —
                                // what the shared at-rest row schema is
                                // based on (one store holds every
                                // field; the view's own vectorType is
                                // the FIELD's family, for dispatch).
                                // A cataloged meta always has ""

/** File-backed collection catalog (SURVEY A16/A17): idempotent create,
  * describe, list — `has_collection → create_collection` semantics
  * (`milvus-app/pythonvectordbceph_milvus.py:92`) over a JSON registry.
  *
  * One tiny JSON file per collection under `root/`; reads are lock-free, a
  * create is an atomic file move. At cluster scale this would live in a
  * real metastore — the API surface (create/describe/list/drop) is the
  * part the engine owns, mirrored on `milvus-app/describe.py:11-24`.
  */
class Catalog(root: String) {
  private val dir: Path = Paths.get(root)
  Files.createDirectories(dir)

  private def fileFor(name: String): Path = {
    require(name.matches("[A-Za-z0-9_\\-]+"), s"illegal collection name: $name")
    dir.resolve(s"$name.json")
  }

  // Minimal JSON (de)serialization for the flat record. Strings are
  // escaped on write and parsed up to the closing unescaped quote, so a
  // dataPath containing ',', '}' or '"' round-trips correctly.
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  // extraVecFields round-trip as one string field: field names are
  // validated identifier-shaped ([A-Za-z0-9_]+) and the other parts are
  // enum/int/bool, so ':'/';' separators can never appear in a value.
  private def renderVecFields(fs: Seq[VecField]): String =
    fs.map(f => s"${f.name}:${f.dim}:${f.metric}:${f.indexType}:" +
      s"${f.family}:${f.nullable}").mkString(";")

  private def parseVecFields(s: String): Seq[VecField] =
    if (s.isEmpty) Nil
    else s.split(";").toSeq.map { part =>
      part.split(":") match {
        case Array(n, d, met, it, fam, nl) =>
          VecField(n, d.toInt, met, it, fam, nl.toBoolean)
        case _ => sys.error(s"corrupt extraVecFields entry: $part")
      }
    }

  private def render(m: CollectionMeta): String = {
    require(m.fieldView.isEmpty,
      s"attempted to catalog a derived field-view meta: ${m.name}@${m.fieldView}")
    s"""{"name":"${esc(m.name)}","dim":${m.dim},"metric":"${esc(m.metric)}",""" +
      s""""indexType":"${esc(m.indexType)}","nlist":${m.nlist},""" +
      s""""buckets":${m.buckets},"retain":${m.retain},""" +
      s""""partitionKey":"${esc(m.partitionKey)}","numPartitions":${m.numPartitions},""" +
      s""""pqM":${m.pqM},"pqNbits":${m.pqNbits},""" +
      s""""consistency":"${esc(m.consistency)}",""" +
      s""""hnswM":${m.hnswM},"hnswEfC":${m.hnswEfC},""" +
      s""""vectorType":"${esc(m.vectorType)}",""" +
      s""""extraVecFields":"${esc(renderVecFields(m.extraVecFields))}",""" +
      s""""ttlSeconds":${m.ttlSeconds},""" +
      s""""dataPath":"${esc(m.dataPath)}"}"""
  }

  private def strField(json: String, key: String): String = {
    val m = (s""""$key":"((?:\\\\.|[^"\\\\])*)"""").r.findFirstMatchIn(json)
    unesc(m.map(_.group(1)).getOrElse(sys.error(s"catalog entry missing $key: $json")))
  }

  private def intField(json: String, key: String): Int = {
    val m = s""""$key":(-?\\d+)""".r.findFirstMatchIn(json)
    m.map(_.group(1).toInt).getOrElse(sys.error(s"catalog entry missing $key: $json"))
  }

  private def longField(json: String, key: String): Long = {
    val m = s""""$key":(-?\\d+)""".r.findFirstMatchIn(json)
    m.map(_.group(1).toLong).getOrElse(sys.error(s"catalog entry missing $key: $json"))
  }

  // every key render writes is required: an entry missing one was not
  // written by this catalog
  private def parse(json: String): CollectionMeta =
    CollectionMeta(strField(json, "name"), intField(json, "dim"),
      strField(json, "metric"), strField(json, "indexType"),
      intField(json, "nlist"), strField(json, "dataPath"),
      intField(json, "buckets"), intField(json, "retain"),
      strField(json, "partitionKey"),
      intField(json, "numPartitions"),
      intField(json, "pqM"),
      intField(json, "pqNbits"),
      strField(json, "consistency"),
      intField(json, "hnswM"),
      intField(json, "hnswEfC"),
      strField(json, "vectorType"),
      parseVecFields(strField(json, "extraVecFields")),
      // fieldView is derived-only — a cataloged meta always parses ""
      fieldView = "",
      ttlSeconds = longField(json, "ttlSeconds"))

  /** Idempotent create: returns false (and leaves metadata untouched) when
    * the collection already exists — `has_collection` gate semantics.
    *
    * Concurrency: the publish is a hard-link creation, which is atomic AND
    * exclusive on POSIX (fails with FileAlreadyExists if the name is
    * taken). An ATOMIC_MOVE here would be atomic but NOT exclusive —
    * rename(2) replaces existing files, so two racing creates could both
    * return true with the loser silently clobbering the winner's
    * metadata. Readers always see either no file or complete content. */
  def createCollection(meta: CollectionMeta): Boolean = {
    val f = fileFor(meta.name)
    if (Files.exists(f)) false
    else {
      val tmp = Files.createTempFile(dir, ".tmp-", ".json")
      try {
        Files.write(tmp, render(meta).getBytes(StandardCharsets.UTF_8))
        Files.createLink(f, tmp)
        // cross-namespace exclusivity cannot ride the hard link (aliases
        // live in different files), so it is enforced publish-then-check
        // on BOTH sides: whichever of a racing createAlias/createCollection
        // publishes second sees the other's file and rolls itself back —
        // at least one always aborts, so `name` can never be a collection
        // AND an alias at once (metaOrThrow would silently prefer the
        // collection and re-point every alias reader).
        if (Files.exists(dir.resolve(s"${meta.name}.alias"))) {
          Files.deleteIfExists(f)
          // a racing pair can BOTH roll back (each sees the other's
          // publish) — the message must not assert the alias still
          // exists, only why this create aborted
          throw new IllegalArgumentException(
            s"'${meta.name}' collided with an alias (existing, or a " +
              "concurrent create that may itself have rolled back) — " +
              "re-check with resolveAlias and retry or pick another name")
        }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        Files.deleteIfExists(tmp)
      }
    }
  }

  def hasCollection(name: String): Boolean = Files.exists(fileFor(name))

  /** Atomic in-place metadata update of an EXISTING collection — the
    * publish step of operations that swap a collection's storage (e.g.
    * `rebucket`). ATOMIC_MOVE with replace: readers see either the old or
    * the new record, never a partial one. Single administrative writer
    * assumed (unlike create, an update has no exclusivity to defend). */
  def updateCollection(meta: CollectionMeta): Boolean = {
    val f = fileFor(meta.name)
    if (!Files.exists(f)) false
    else {
      val tmp = Files.createTempFile(dir, ".tmp-", ".json")
      Files.write(tmp, render(meta).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      true
    }
  }

  /** `describe_collection` + `describe_index` in one shape
    * (`milvus-app/describe.py:11-24`). */
  def describeCollection(name: String): Option[CollectionMeta] = {
    val f = fileFor(name)
    if (!Files.exists(f)) None
    else Some(parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
  }

  def listCollections(): Seq[String] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith(".tmp-"))
      .map(_.stripSuffix(".json"))
      .toSeq.sorted
    finally stream.close()
  }

  def dropCollection(name: String): Boolean =
    Files.deleteIfExists(fileFor(name))

  // ---- Aliases (Milvus create_alias / alter_alias / drop_alias) ----
  //
  // An alias is a stable client-facing name over a re-pointable target —
  // the standard zero-downtime reindex/migration pattern: build the new
  // collection under a fresh name, then alter_alias atomically re-points
  // readers. Stored as one `<alias>.alias` file holding the target name
  // (the `.alias` extension keeps them out of listCollections); targets
  // must be real collections, so chains cannot form.

  private def aliasFile(alias: String): Path = {
    require(alias.matches("[A-Za-z0-9_\\-]+"), s"illegal alias name: $alias")
    dir.resolve(s"$alias.alias")
  }

  /** Exclusive create (hard-link publish, exactly like createCollection):
    * false if the alias already exists. The alias namespace is shared
    * with collections — a name can be one or the other, never both. */
  def createAlias(alias: String, target: String): Boolean = {
    require(hasCollection(target), s"alias target does not exist: $target")
    require(!hasCollection(alias),
      s"alias '$alias' collides with an existing collection name")
    val f = aliasFile(alias)
    if (Files.exists(f)) false
    else {
      val tmp = Files.createTempFile(dir, ".tmp-", ".alias")
      try {
        Files.write(tmp, target.getBytes(StandardCharsets.UTF_8))
        Files.createLink(f, tmp)
        // publish-then-check half of the cross-namespace exclusivity
        // contract (see createCollection): a collection named `alias`
        // that won a concurrent race makes this alias ambiguous — roll
        // back and fail loudly rather than leave both files standing.
        if (hasCollection(alias)) {
          Files.deleteIfExists(f)
          // symmetric to createCollection's post-check: don't assert the
          // collection still exists — a racing createCollection may have
          // rolled itself back on seeing our (now deleted) alias
          throw new IllegalArgumentException(
            s"alias '$alias' collided with a collection name (existing, " +
              "or a concurrent create that may itself have rolled back) — " +
              "re-check with hasCollection and retry or pick another name")
        }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        Files.deleteIfExists(tmp)
      }
    }
  }

  /** Atomically re-point an EXISTING alias — readers see the old target
    * or the new one, never a missing alias (the rename replaces). */
  def alterAlias(alias: String, target: String): Unit = {
    require(hasCollection(target), s"alias target does not exist: $target")
    require(Files.exists(aliasFile(alias)),
      s"no such alias: $alias (create_alias first)")
    val tmp = Files.createTempFile(dir, ".tmp-", ".alias")
    Files.write(tmp, target.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, aliasFile(alias), java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def dropAlias(alias: String): Boolean = Files.deleteIfExists(aliasFile(alias))

  /** The target collection name, if `name` is an alias. */
  def resolveAlias(name: String): Option[String] = {
    val f = aliasFile(name)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim)
  }

  def listAliases(): Seq[(String, String)] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".alias") && !n.startsWith(".tmp-"))
      .map(_.stripSuffix(".alias"))
      .toSeq.sorted
      .flatMap(a => resolveAlias(a).map(a -> _))
    finally stream.close()
  }

  /** Aliases currently pointing at `target` — drop-safety introspection. */
  def aliasesOf(target: String): Seq[String] =
    listAliases().collect { case (a, t) if t == target => a }
}
