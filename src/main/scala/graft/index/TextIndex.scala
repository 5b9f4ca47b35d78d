package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Text analyzer — the Milvus 2.5 `analyzer_params` surface
  * (tokenizer + filters), persisted in the index META so build, append,
  * and the query gate tokenize IDENTICALLY forever (an index whose
  * query-side analysis diverged from its build-side would silently
  * mis-match, the exact failure mode a migrating Milvus caller hits if
  * their collection declared an analyzer this engine ignored).
  *
  *   - `whitespace` (the default): the single-space split every
  *     C14 operator uses — terms must match tokens exactly, bit-for-bit
  *     the pre-analyzer behavior.
  *   - `standard`: Unicode-ish tokenization — lowercase, then split on
  *     non-letter/non-digit runs (`[^\p{L}\p{N}]+`, empty tokens
  *     dropped) — Milvus's `standard` tokenizer + lowercase filter.
  *
  * `stopWords` (Milvus's `stop` filter): stop tokens are dropped from
  * the POSTINGS (never indexed) but their POSITIONS are preserved as
  * gaps (Lucene's enablePositionIncrements — "machine the learning"
  * indexes machine@0, learning@2), so PHRASE_MATCH slop semantics
  * survive stop removal; `dlen` counts INDEXED tokens only (Lucene's
  * field length). Query terms pass through the SAME analyzer
  * driver-side — stop terms are dropped from the query (compacting a
  * phrase query; the one divergence from Lucene's gapped phrase
  * queries, chosen because Milvus's observable behavior analyzes the
  * query string the same way).
  *
  * Serialized as META line 4 (`tokenizer` or `tokenizer|stop1,stop2`). */
case class Analyzer(tokenizer: String = "whitespace",
                    stopWords: Seq[String] = Nil,
                    stemmer: String = "none",
                    maxTokenLen: Int = 0) {
  require(Seq("whitespace", "standard", "cjk").contains(tokenizer),
    s"analyzer tokenizer must be 'whitespace', 'standard' or 'cjk' " +
      s"(got '$tokenizer')")
  require(Seq("none", "porter").contains(stemmer),
    s"analyzer stemmer must be 'none' or 'porter' (got '$stemmer')")
  require(stemmer == "none" || tokenizer == "standard",
    "the porter stemmer requires the standard tokenizer (stemming " +
      "case-exact whitespace tokens would silently mis-stem, and CJK " +
      "bigrams have no stems)")
  require(stopWords.forall(w => w.nonEmpty && !w.exists(",|\n".contains(_))),
    "stop words must be non-empty and free of ',', '|', newline " +
      "(META serialization delimiters)")
  require(maxTokenLen >= 0,
    s"maxTokenLen must be >= 0 (0 = unlimited; got $maxTokenLen)")
  private val stopSet = stopWords.toSet

  def serialize: String = {
    val stops = stopWords.mkString(",")
    if (maxTokenLen > 0) s"$tokenizer|$stops|$stemmer|$maxTokenLen"
    else if (stemmer == "none")
      tokenizer + (if (stopWords.isEmpty) "" else "|" + stops)
    else s"$tokenizer|$stops|$stemmer"
  }

  /** Token-array column — the ONE executor-side tokenize build and
    * append share. Dropped tokens (stops, over-length) are NOT removed
    * here (position gaps need the pre-removal offsets);
    * [[Analyzer.isDropped]] masks them at the postings explode. The cjk
    * arm is a Scala UDF over [[Analyzer.cjkTokens]] — branchy codepoint
    * iteration, build/append-path only (the PorterStemmer trade):
    * queries tokenize their one string driver-side. */
  def tokensCol(text: Column): Column = tokenizer match {
    case "whitespace" => split(text, " ")
    case "cjk" => udf((s: String) =>
      if (s == null) Seq.empty[String] else Analyzer.cjkTokens(s)).apply(text)
    case _ => org.apache.spark.sql.functions.filter(
      split(lower(text), Analyzer.TokenSplitRe), t => t =!= lit(""))
  }

  def hasStops: Boolean = stopWords.nonEmpty

  /** Whether any token-DROP rule is configured (stop words, length cap)
    * — gates the postings-explode mask. */
  def hasDrops: Boolean = stopWords.nonEmpty || maxTokenLen > 0

  def isStop(term: Column): Column =
    if (stopWords.isEmpty) lit(false) else term.isInCollection(stopWords)

  /** The full drop mask (stop OR over-length — Milvus/Lucene's `length`
    * filter removes tokens past `max`), applied AFTER posexplode so
    * surviving tokens keep their pre-removal offsets (position gaps). */
  def isDropped(term: Column): Column = {
    val lenDrop =
      if (maxTokenLen == 0) lit(false) else length(term) > maxTokenLen
    isStop(term) || lenDrop
  }

  /** Field length = INDEXED tokens (drop rules applied) — Lucene's dlen. */
  def dlenCol(toks: Column): Column =
    (if (!hasDrops) size(toks)
     else size(org.apache.spark.sql.functions.filter(toks,
       t => !isDropped(t)))).cast("long")

  /** The per-term transformation applied to EXPLODED postings tokens
    * after the stop filter — the executor-side stemming hop (a Scala
    * UDF: Porter is a branchy string algorithm, the legitimate UDF
    * case, and it runs only on the build/append tokenize pass, never in
    * a query's hot path — queries stem their handful of terms
    * driver-side). Identity when no stemmer is configured, so
    * stemmer-less plans are untouched. Lucene order: stop filtering
    * happens on UNSTEMMED lowercase tokens, stemming on the
    * survivors. */
  def indexTerm(term: Column): Column =
    if (stemmer == "none") term
    else udf((t: String) => PorterStemmer.stem(t)).apply(term)

  /** Driver-side query-term analysis — MUST mirror [[tokensCol]] +
    * [[indexTerm]] (the standard arm lowercases via Locale.ROOT and
    * splits on the same regex; ASCII-identical to Spark's lower(),
    * documented as the contract; the stemmer is the same pure
    * [[PorterStemmer]] both sides call). A term analyzing to several
    * tokens expands in place (phrase order preserved); stop terms
    * drop BEFORE stemming, like Lucene's EnglishAnalyzer chain. */
  def analyzeTerms(terms: Seq[String]): Seq[String] = {
    val raw = tokenizer match {
      case "whitespace" => terms
      case "cjk" => terms.flatMap(Analyzer.cjkTokens)
      case _ => terms.flatMap(_.toLowerCase(java.util.Locale.ROOT)
        .split(Analyzer.TokenSplitRe)).filter(_.nonEmpty)
    }
    val toks = raw.filterNot(stopSet.contains)
      .filter(t => maxTokenLen == 0 || t.length <= maxTokenLen)
    if (stemmer == "none") toks else toks.map(PorterStemmer.stem)
  }
}

object Analyzer {
  private[index] val TokenSplitRe = "[^\\p{L}\\p{N}]+"
  val Whitespace = Analyzer()

  /** Lucene's classic English stop set (EnglishAnalyzer's default 33) —
    * what Milvus's built-in `english` analyzer filters. */
  val EnglishStopWords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** Milvus's built-in `english` analyzer: standard tokenize +
    * lowercase + English stop words + Porter stem. */
  val English = Analyzer("standard", EnglishStopWords, "porter")

  /** CJK bigram tokenization (Lucene's CJKAnalyzer approach — the
    * engine's dictionary-free CJK arm; jieba-style dictionary
    * segmentation needs shipped dictionaries this sandbox cannot hold,
    * and is refused loudly in [[fromMilvusParams]]): lowercase, then
    * contiguous runs of Han/Hiragana/Katakana/Hangul codepoints emit
    * OVERLAPPING BIGRAMS (a length-1 run emits its single char), and
    * non-CJK letter/digit runs emit one lowercased token each — so
    * mixed CJK/Latin corpora tokenize sensibly in one chain. Pure
    * function of the string: the build-path UDF and the driver-side
    * query analysis call the SAME code, the bit-identical-analysis
    * contract every analyzer here keeps. */
  def cjkTokens(s: String): Seq[String] = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def isCjkCp(cp: Int): Boolean = {
      val sc = Character.UnicodeScript.of(cp)
      sc == Character.UnicodeScript.HAN ||
        sc == Character.UnicodeScript.HIRAGANA ||
        sc == Character.UnicodeScript.KATAKANA ||
        sc == Character.UnicodeScript.HANGUL
    }
    val n = lower.length
    var i = 0
    while (i < n) {
      val cp = lower.codePointAt(i)
      if (!Character.isLetterOrDigit(cp)) i += Character.charCount(cp)
      else if (isCjkCp(cp)) {
        val run = scala.collection.mutable.ArrayBuffer.empty[Int]
        var j = i
        var cont = true
        while (cont && j < n) {
          val c = lower.codePointAt(j)
          if (Character.isLetterOrDigit(c) && isCjkCp(c)) {
            run += c; j += Character.charCount(c)
          } else cont = false
        }
        if (run.length == 1) out += new String(Character.toChars(run(0)))
        else {
          var k = 0
          while (k < run.length - 1) {
            out += (new String(Character.toChars(run(k))) +
              new String(Character.toChars(run(k + 1))))
            k += 1
          }
        }
        i = j
      } else {
        val sb = new java.lang.StringBuilder
        var j = i
        var cont = true
        while (cont && j < n) {
          val c = lower.codePointAt(j)
          if (Character.isLetterOrDigit(c) && !isCjkCp(c)) {
            sb.appendCodePoint(c); j += Character.charCount(c)
          } else cont = false
        }
        out += sb.toString
        i = j
      }
    }
    out.toSeq
  }

  def deserialize(s: String): Analyzer = {
    val parts = s.split("\\|", 4)
    Analyzer(parts(0),
      if (parts.length > 1) parts(1).split(",").filter(_.nonEmpty).toSeq
      else Nil,
      if (parts.length > 2 && parts(2).nonEmpty) parts(2) else "none",
      if (parts.length > 3) parts(3).toInt else 0)
  }

  /** The VERBATIM Milvus `analyzer_params` dict a migrating caller
    * holds, e.g. `{"tokenizer": "standard", "filter": ["lowercase",
    * {"type": "stop", "stop_words": ["the", "a"]}]}` — mapped onto
    * [[Analyzer]]. Supported subset, refused LOUDLY outside it (a
    * silently-ignored filter would make match semantics diverge from
    * the caller's Milvus collection — the exact failure analyzers exist
    * to prevent):
    *   - `tokenizer`: "standard" (requires the "lowercase" filter —
    *     this engine's standard arm folds case, matching Milvus's
    *     near-universal standard+lowercase pairing; a case-SENSITIVE
    *     standard tokenizer is not implemented) or "whitespace" (no
    *     lowercase support).
    *   - `filter`: "lowercase" and `{"type": "stop", "stop_words":
    *     [...]}` in any order.
    * An empty/absent dict is Milvus's default analyzer:
    * standard + lowercase, no stop words. */
  def fromMilvusParams(json: String): Analyzer = {
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"analyzer_params is not valid JSON: ${e.getMessage}") }
    require(node != null && node.isObject,
      s"analyzer_params must be a JSON object (got '$json')")
    // Milvus's built-in-analyzer shorthand: {"type": "english"} /
    // {"type": "standard"} name a whole preset. {"type": "chinese"}
    // is jieba DICTIONARY segmentation — the dictionaries cannot ship
    // in this offline engine, so the refusal names the supported CJK
    // arm instead of silently mis-tokenizing a migrating user's corpus.
    Option(node.get("type")).map(_.asText).foreach {
      case "english" => return English
      case "standard" => return Analyzer("standard", Nil)
      case "chinese" => throw new IllegalArgumentException(
        "built-in analyzer 'chinese' is jieba dictionary segmentation, " +
          "which this engine cannot ship offline — use {\"tokenizer\": " +
          "\"cjk\"} for Lucene-style CJK bigram tokenization (optionally " +
          "with a stop filter for CJK function words)")
      case other => throw new IllegalArgumentException(
        s"unsupported built-in analyzer '$other' — supported: " +
          "standard, english (cjk available as a tokenizer)")
    }
    val tokenizer = Option(node.get("tokenizer")).map(_.asText)
      .getOrElse("standard")
    var lowercase = false
    var stops = Seq.empty[String]
    var stem = "none"
    var maxLen = 0
    val f = node.get("filter")
    if (f != null) {
      require(f.isArray, "analyzer_params.filter must be an array")
      (0 until f.size).map(f.get).foreach { e =>
        if (e.isTextual && e.asText == "lowercase") lowercase = true
        else if (e.isObject &&
            Option(e.get("type")).exists(_.asText == "stop")) {
          val sw = e.get("stop_words")
          require(sw != null && sw.isArray,
            "stop filter needs a stop_words array")
          // Milvus/tantivy's "_english_" magic entry names the built-in
          // English list — expand it in place, keeping user entries
          stops = (0 until sw.size).map(sw.get(_).asText).flatMap {
            case "_english_" => EnglishStopWords
            case w => Seq(w)
          }.distinct
        } else if (e.isObject &&
            Option(e.get("type")).exists(_.asText == "stemmer")) {
          val lang = Option(e.get("language")).map(_.asText)
            .getOrElse("english")
          require(lang == "english",
            s"unsupported stemmer language '$lang' — supported: english " +
              "(Porter)")
          stem = "porter"
        } else if (e.isObject &&
            Option(e.get("type")).exists(_.asText == "length")) {
          // Milvus/Lucene length filter: drop tokens LONGER than max
          val mx = e.get("max")
          require(mx != null && mx.isInt && mx.asInt >= 1,
            "length filter needs an integer max >= 1")
          maxLen = mx.asInt
        } else throw new IllegalArgumentException(
          s"unsupported analyzer filter '$e' — supported: \"lowercase\", " +
            """{"type": "stop", "stop_words": [...]} ("_english_" """ +
            """expands the built-in list), {"type": "stemmer", """ +
            """"language": "english"}, {"type": "length", "max": N}""")
      }
    }
    tokenizer match {
      case "standard" =>
        // Milvus's default analyzer (and every documented standard
        // preset) pairs standard with lowercase; absent an explicit
        // filter list we apply the default pairing, but an explicit
        // filter list WITHOUT lowercase asks for case-sensitive
        // standard — unimplemented, refused loudly
        require(lowercase || f == null,
          "tokenizer 'standard' without the \"lowercase\" filter " +
            "(case-sensitive standard) is not supported — add " +
            "\"lowercase\" to the filter list")
        Analyzer("standard", stops, stem, maxLen)
      case "whitespace" =>
        require(!lowercase,
          "the \"lowercase\" filter with tokenizer 'whitespace' is not " +
            "supported — whitespace is the exact-token legacy analyzer")
        require(stem == "none",
          "the stemmer filter with tokenizer 'whitespace' is not " +
            "supported — stemming needs lowercased standard tokens")
        Analyzer("whitespace", stops, "none", maxLen)
      case "cjk" =>
        // the engine's CJK arm (see [[cjkTokens]]): bigrams over CJK
        // runs, lowercased tokens over non-CJK runs — lowercase is
        // inherent, so the filter is accepted as a no-op; stemming CJK
        // bigrams is meaningless and refused by the Analyzer require
        require(stem == "none",
          "the stemmer filter with tokenizer 'cjk' is not supported — " +
            "CJK bigrams have no stems")
        Analyzer("cjk", stops, "none", maxLen)
      case "jieba" => throw new IllegalArgumentException(
        "tokenizer 'jieba' is dictionary segmentation, which this " +
          "engine cannot ship offline — use \"cjk\" for Lucene-style " +
          "CJK bigram tokenization")
      case other => throw new IllegalArgumentException(
        s"unsupported tokenizer '$other' — supported: standard, " +
          "whitespace, cjk")
    }
  }
}

/** At-rest inverted-index (postings) layout for the BM25 lexical arm —
  * the text-side twin of [[IvfIndex]]'s at-rest treatment of the vector
  * arm. The reference ships lexical `search.py` next to vector
  * `search.py` (`s3vectors-app/search.py`); production retrieval over a
  * 100 TB corpus cannot re-derive postings from raw text per query, so
  * the tokenize→tf pass runs ONCE at build and queries touch only the
  * queried terms' postings.
  *
  * Layout under `path/` — a SEGMENT LIST (Lucene's design, re-expressed
  * as parquet + an atomic manifest), so incremental corpus changes
  * append a delta segment instead of re-tokenizing 100 TB:
  *   - `postings-<g>/bucket=N/` — parquet (id, term, tf, dlen)
  *     partitioned by `bucket = pmod(xxhash64(term), buckets)`. A query
  *     computes its terms' buckets driver-side, so each segment scan is
  *     a parquet PARTITION prune to ≤|terms| buckets plus a pushed
  *     `term IN (...)` filter within them — I/O scales with Σ df(term),
  *     not the corpus. Term dirs are hash buckets (bounded count),
  *     never raw-term dirs (an open vocabulary would create millions of
  *     directories).
  *   - `doclen-<g>/` — (id, dlen), one row per doc the segment wrote:
  *     the per-key length lookup appends need to tombstone superseded
  *     docs exactly (postings scatter a doc over every term bucket —
  *     useless for a by-key probe).
  *   - `tombstones-<g>/` — (id, dlen) of docs SUPERSEDED by this
  *     segment (re-upserted or deleted). A postings row in segment i is
  *     live iff its id is in no tombstone of a LATER segment j > i — an
  *     upsert tombstones every prior version of the key, so the latest
  *     writer's rows are the only live ones.
  *   - `stats-<g>/` — one row (n_docs, avgdl, sum_dlen) of the GLOBAL
  *     live corpus as of this segment; queries read only the newest.
  *     sum_dlen (exact integer) is what appends maintain — avgdl is
  *     derived by one division, so the maintained value matches what
  *     the raw path's avg() computes over the merged corpus (dlen sums
  *     sit far below 2^53, so double summation is exact).
  *   - `META` — bucket count + postings schema DDL + the live segment
  *     list in commit order, read driver-side so queries skip parquet
  *     footer inference (a pure-latency Spark job per interactive
  *     search otherwise). Swapped atomically; readers only ever see
  *     complete segments.
  *
  * Score parity: [[bm25]] and the raw-text path
  * (`TextQueries.bm25`) share [[scoreExpr]] verbatim — same tf/df/dlen
  * integers, same stats, same round(6) — so riding the index never
  * changes a result hash, segmented or not. Version stamping/staleness
  * is the CLIENT's concern (`GraftClient.buildTextIndex` stamps VERSION
  * last, exactly like the IVF build), keeping this module a pure
  * layout.
  */
object TextIndex {

  /** One shared BM25 per-(doc, term) score term — referenced by NAME
    * (`tf`, `df`, `dlen`, `n_docs`, `avgdl`), so both the raw-text plan
    * and the postings plan bind it to their own columns. Lucene-style
    * BM25 with the +1 idf floor. */
  private[graft] def scoreExpr(k1: Double, b: Double): Column =
    log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dlen") / col("avgdl")))

  /** The shared score aggregation tail: per-doc sum, round(6) (absorbs
    * engine summation-order ulps), deterministic top-k.
    *
    * `restrictTo` (a 1-column frame of ids) narrows the CANDIDATES via a
    * semi-join while df/n_docs/avgdl — already bound into `scored` —
    * stay whole-corpus: the Lucene/Elasticsearch filtered-query
    * semantic (a metadata filter gates which docs may rank; it never
    * shifts idf). Joining BEFORE the per-doc sum keeps the agg shuffle
    * at Σ df(term ∩ passing) rows, and because each doc's score is
    * independent of the others given corpus stats, restrict-then-sum
    * equals sum-then-restrict.
    *
    * Shape at scale: semi-join is dup-safe with no distinct pass. When
    * the id set is small it broadcasts; when it is a large filtered
    * slice of the corpus, the shuffle moves the TERM-PRUNED postings
    * (Σ df) plus the id keys — never corpus-sized postings. A filtered
    * query at volume already paid a metadata scan to produce the ids,
    * so the key shuffle is the same order as that scan's output. */
  private[graft] def scoreTail(scored: DataFrame, idCol: String, k: Int,
                               k1: Double, b: Double,
                               restrictTo: Option[DataFrame] = None): DataFrame =
    restrictTo.fold(scored)(ids => scored.join(
        ids.toDF(idCol), Seq(idCol), "left_semi"))
      .groupBy(col(idCol))
      .agg(round(sum(scoreExpr(k1, b)), 6).as("bm25"))
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)

  /** `pmod(xxhash64(term), buckets)` evaluated driver-side — MUST match
    * the executor-side partition expression in [[build]] bit-for-bit,
    * so it reuses Catalyst's own XxHash64 (seed 42, like the SQL
    * function) instead of reimplementing the hash. */
  private[graft] def termBucket(term: String, buckets: Int): Int =
    graft.core.CatalystHash.pmodXxhash64(term,
      org.apache.spark.sql.types.StringType, buckets)

  private def metaPath(path: String) = java.nio.file.Paths.get(path, "META")

  // META: line 1 buckets, line 2 postings schema DDL, line 3 the live
  // segment tokens in COMMIT ORDER (comma-separated; a full build is the
  // one-segment case), line 4 the serialized analyzer. publishMeta always
  // writes all four.
  private def readMeta(path: String): (Int, StructType, Seq[String], Analyzer) = {
    val lines = new String(java.nio.file.Files.readAllBytes(metaPath(path)),
      "UTF-8").split("\n", 4)
    if (lines.length < 4 || lines(3).trim.isEmpty)
      throw Artifact.missing(s"${metaPath(path)} analyzer line")
    (lines(0).trim.toInt, StructType.fromDDL(lines(1)),
      lines(2).trim.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      Analyzer.deserialize(lines(3).trim))
  }

  /** The analyzer the index was built with — what a caller must mirror
    * when scoring raw text for parity checks. */
  def analyzerOf(path: String): Analyzer = readMeta(path)._4

  /** Number of live segments — the client's auto-compaction trigger. */
  def segmentCount(path: String): Int = readMeta(path)._3.size

  /** Fraction of physically-stored doc rows that are DEAD — tombstoned
    * prior versions: Σ|tombstones-g| / Σ|doclen-g|. Parquet `count()`s
    * are satisfied from row-group footers, no data pages. The client's
    * SECOND auto-compaction trigger: a re-upsert/delete-heavy churn can
    * keep the segment COUNT small while the per-query tombstone
    * anti-join grows corpus-sized — segment count alone would never
    * fire, and every query would pay the dead weight forever. */
  def tombstoneRatio(spark: SparkSession, path: String): Double = {
    val (_, schema, gens, _) = readMeta(path)
    val ds = doclenSchema(schema)
    def rows(prefix: String): Long = gens.map { g =>
      val p = java.nio.file.Paths.get(path, s"$prefix-$g")
      if (java.nio.file.Files.exists(p))
        spark.read.schema(ds).parquet(p.toString).count()
      else 0L
    }.sum
    val total = rows("doclen")
    if (total == 0L) 0.0 else rows("tombstones").toDouble / total
  }

  private val statsSchema = "n_docs BIGINT, avgdl DOUBLE, sum_dlen BIGINT"

  // Atomically publish META naming `gens` as the live segment list, then
  // sweep everything the new list does not reference: superseded/
  // crash-stranded segment dirs and .meta- temps. Callers hold the
  // path's commit lock. A reader holding a LAZY frame over a superseded
  // segment loses it here — same reader-validity window as the keyed
  // store's vacuum; resolve-then-collect (what bm25's callers do) is
  // unaffected.
  private def publishMeta(path: String, buckets: Int, schemaDdl: String,
                          gens: Seq[String],
                          analyzer: Analyzer): Unit = {
    val dir = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Files.createTempFile(dir, ".meta-", "")
    java.nio.file.Files.write(tmp,
      s"$buckets\n$schemaDdl\n${gens.mkString(",")}\n${analyzer.serialize}"
        .getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, metaPath(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val live = gens.toSet
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString)
        .filter { n =>
          val seg = Seq("postings-", "stats-", "doclen-", "tombstones-")
            .find(n.startsWith).map(p => n.drop(p.length))
          seg.exists(!live.contains(_)) || n.startsWith(".meta-")
        }
        .toSeq
        .foreach(n => graft.streaming.BucketedKeyedCollection.deleteTree(
          dir.resolve(n)))
    } finally listing.close()
  }

  /** Build (or rebuild) the postings layout for `docs` at `path`.
    * Tokenization is the whitespace split every other C14 operator uses;
    * tf/dlen/n_docs/avgdl are computed EXACTLY as the raw-text BM25 plan
    * computes them, so the two paths score identically. One corpus-sized
    * explode→groupBy shuffle at build time buys Σ df(term) reads per
    * query forever after.
    *
    * Publish protocol: each build writes a fresh GENERATION
    * (`postings-<g>/`, `stats-<g>/`) and then swaps META — which names
    * the live generation — with a temp-file + ATOMIC_MOVE. A reader
    * resolves META first, so it only ever sees a COMPLETE generation;
    * rebuilding in place (mode=overwrite on a shared dir) would let a
    * concurrent query score from half-written postings while the
    * version stamp still reads fresh. A crash mid-build strands an
    * unreferenced generation dir (swept by the next successful build)
    * and leaves the old index serving. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            buckets: Int = 64,
            analyzer: Analyzer = Analyzer.Whitespace): Unit = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    // n_docs/avgdl clash at QUERY time (the stats crossJoin), __ws at
    // build time — all three would otherwise produce an expensively-built
    // index that throws AMBIGUOUS_REFERENCE on first use
    val reserved = Seq("term", "tf", "dlen", "bucket", "bm25", "df",
      "n_docs", "avgdl", "__ws")
    require(!reserved.contains(idCol),
      s"idCol '$idCol' collides with a postings/query column " +
        s"(${reserved.mkString(", ")})")
    // builds on one path serialize on the layout's lock (same mechanism
    // as the keyed store's commits): two concurrent builds would
    // otherwise each sweep the OTHER's in-flight generation — the loser
    // could swap META to a directory the winner just deleted, wedging
    // every read until a manual rebuild. Serialized, the last build's
    // generation wins and the sweep only ever removes superseded ones.
    graft.streaming.BucketedKeyedCollection.withCommitLock(
        java.nio.file.Paths.get(path)) {
    val gen = java.util.UUID.randomUUID.toString.take(8)
    // persisted: the stats aggregate and the postings write both consume
    // this frame — uncached, each would re-run the caller's full upstream
    // plan (possibly joins/embedding) plus the tokenize, making the
    // "one corpus-sized pass" promise two. (Stats can't derive from the
    // postings: a null-text doc has no postings row but DOES count in
    // n_docs, and the raw-scoring path counts it — parity requires the
    // same source.)
    val withLen = docs.select(col(idCol),
        analyzer.tokensCol(col(textCol)).as("__ws"))
      .select(col(idCol), analyzer.dlenCol(col("__ws")).as("dlen"), col("__ws"))
      .persist()
    try {
      // sum_dlen is the exact integer appends maintain; avgdl derives
      // from it by one division, matching the raw path's avg() (dlen
      // sums sit far below 2^53)
      val stats = withLen.agg(count(lit(1)).as("n_docs"),
        avg(col("dlen")).as("avgdl"),
        coalesce(sum(col("dlen")), lit(0L)).as("sum_dlen"))
      val postings = tokenPostings(withLen, idCol, buckets, analyzer)
      postings.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings-$gen")
      withLen.select(col(idCol), col("dlen")).write.mode("overwrite")
        .parquet(s"$path/doclen-$gen")
      stats.coalesce(1).write.mode("overwrite").parquet(s"$path/stats-$gen")
      publishMeta(path, buckets, postings.schema.toDDL, Seq(gen), analyzer)
    } finally withLen.unpersist()
    }
  }

  /** Append a DELTA segment: `docsDelta` are new or re-upserted docs
    * (unique ids — pass the post-merge batch, exactly what the keyed
    * store commits), `deletedIds` (1-column frame, disjoint from the
    * delta's ids) are removals. Cost scales with the DELTA plus one
    * by-key join against the per-segment doclen tables (Σ segment docs
    * keys, no text) — never a corpus re-tokenize; this is the lexical
    * twin of the IVF index's incremental cell maintenance.
    *
    * Mechanics: tokenizes only the delta; tombstones every prior
    * version of a delta/deleted id (found via the doclen tables, masked
    * so only the LIVE prior version counts); maintains the global
    * (n_docs, sum_dlen) exactly and derives avgdl — so a query after N
    * appends scores bit-identically to a full rebuild over the merged
    * corpus ([[scoreExpr]] parity plus exact stats). META swaps
    * atomically; a crash strands an unreferenced segment swept by the
    * next successful publish. */
  def append(docsDelta: DataFrame, idCol: String, textCol: String,
             path: String, deletedIds: Option[DataFrame] = None): Unit = {
    require(exists(path), s"no text index at $path — run build first")
    graft.streaming.BucketedKeyedCollection.withCommitLock(
        java.nio.file.Paths.get(path)) {
      val spark = docsDelta.sparkSession
      // the DELTA tokenizes through the INDEX's analyzer (META), never a
      // caller-supplied one — mixed-analyzer segments would corrupt
      // every df/phrase result over the merged corpus
      val (buckets, schema, gens, analyzer) = readMeta(path)
      require(schema.fields.head.name == idCol,
        s"idCol '$idCol' does not match the index's '${schema.fields.head.name}'")
      val gen = java.util.UUID.randomUUID.toString.take(8)
      val withLen = docsDelta
        .select(col(idCol), analyzer.tokensCol(col(textCol)).as("__ws"))
        .select(col(idCol), analyzer.dlenCol(col("__ws")).as("dlen"), col("__ws"))
        .persist()
      try {
        // Prior LIVE version of every id this delta touches: union the
        // doclen tables with their segment ordinal, drop rows already
        // tombstoned by a LATER segment, then semi-join the touched ids.
        // One narrow (id, dlen) join per append — no postings scan.
        val touched = deletedIds.foldLeft(withLen.select(col(idCol)))(
          (t, d) => t.union(d.toDF(idCol)))
        val prior = liveDoclen(spark, path, gens, schema)
          .join(touched, Seq(idCol), "left_semi")
          .persist()
        try {
          val nPrior = prior.count() // also materializes before the writes
          val delStats = deletedIds.map { d =>
            prior.join(d.toDF(idCol), Seq(idCol), "left_semi")
              .agg(count(lit(1)), coalesce(sum(col("dlen")), lit(0L))).head()
          }
          val supersededStats = prior
            .join(withLen.select(col(idCol)), Seq(idCol), "left_semi")
            .agg(count(lit(1)), coalesce(sum(col("dlen")), lit(0L))).head()
          val deltaStats = withLen
            .agg(count(lit(1)), coalesce(sum(col("dlen")), lit(0L))).head()
          val old = spark.read.schema(statsSchema)
            .parquet(s"$path/stats-${gens.last}").head()
          val nDocs = old.getLong(0) + deltaStats.getLong(0) -
            supersededStats.getLong(0) -
            delStats.map(_.getLong(0)).getOrElse(0L)
          val sumDlen = old.getLong(2) + deltaStats.getLong(1) -
            supersededStats.getLong(1) -
            delStats.map(_.getLong(1)).getOrElse(0L)

          val postings = tokenPostings(withLen, idCol, buckets, analyzer)
          postings.write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$path/postings-$gen")
          withLen.select(col(idCol), col("dlen")).write.mode("overwrite")
            .parquet(s"$path/doclen-$gen")
          // tombstones = the prior live versions of everything we touched
          prior.write.mode("overwrite").parquet(s"$path/tombstones-$gen")
          spark.range(1).select(lit(nDocs).as("n_docs"),
              (lit(sumDlen).cast("double") / lit(nDocs).cast("double")).as("avgdl"),
              lit(sumDlen).as("sum_dlen"))
            .coalesce(1).write.mode("overwrite").parquet(s"$path/stats-$gen")
          publishMeta(path, buckets, schema.toDDL, gens :+ gen, analyzer)
        } finally prior.unpersist()
      } finally withLen.unpersist()
    }
  }

  /** Merge all live segments into ONE — from the postings themselves
    * (mask + union + rewrite), so compaction never needs the raw text:
    * it reads index-sized parquet, not the corpus. Run it when the
    * segment list grows (each segment adds a pruned scan + anti-join to
    * every query); the client auto-triggers at its threshold. */
  def compact(spark: SparkSession, path: String): Unit = {
    require(exists(path), s"no text index at $path — run build first")
    graft.streaming.BucketedKeyedCollection.withCommitLock(
        java.nio.file.Paths.get(path)) {
      val (buckets, schema, gens, analyzer) = readMeta(path)
      if (gens.size > 1) {
        val gen = java.util.UUID.randomUUID.toString.take(8)
        livePostings(spark, path, gens, schema, None)
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/postings-$gen")
        liveDoclen(spark, path, gens, schema).write.mode("overwrite")
          .parquet(s"$path/doclen-$gen")
        // stats are already global-live in the newest segment — copy
        spark.read.schema(statsSchema).parquet(s"$path/stats-${gens.last}")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/stats-$gen")
        publishMeta(path, buckets, schema.toDDL, Seq(gen), analyzer)
      }
    }
  }

  // (id, dlen) schema with the index's actual id type — the fixture
  // corpora key by LONG doc_id, collections by STRING key, so nothing
  // here may hardcode the id type.
  private def doclenSchema(schema: StructType) =
    StructType(Seq(schema.fields.head,
      org.apache.spark.sql.types.StructField("dlen",
        org.apache.spark.sql.types.LongType)))

  // Union of the segments' doclen tables with later-segment tombstones
  // masked out — (id, dlen) of exactly the LIVE corpus.
  private def liveDoclen(spark: SparkSession, path: String,
                         gens: Seq[String], schema: StructType): DataFrame =
    maskedUnion(spark, path, gens, schema,
      g => spark.read.schema(doclenSchema(schema))
        .parquet(s"$path/doclen-$g"))

  // Union of per-segment postings (optionally bucket/term-pruned via
  // `prune`) with later-segment tombstones masked out.
  private def livePostings(spark: SparkSession, path: String,
                           gens: Seq[String], schema: StructType,
                           prune: Option[Column]): DataFrame =
    maskedUnion(spark, path, gens, schema, { g =>
      val seg = spark.read.schema(schema).parquet(s"$path/postings-$g")
      prune.fold(seg)(seg.filter)
    })

  // The segment-masking core: a row of segment i is live iff its id is
  // in no tombstone of a later segment. Each segment anti-joins ONE
  // union of its later tombstones; the build()-born single-segment list
  // (no tombstones) short-circuits to a plain read.
  private def maskedUnion(spark: SparkSession, path: String,
                          gens: Seq[String], schema: StructType,
                          read: String => DataFrame): DataFrame = {
    val idCol = schema.fields.head.name
    val tombs = gens.map(g =>
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(path, s"tombstones-$g")))
        Some(spark.read.schema(doclenSchema(schema))
          .parquet(s"$path/tombstones-$g").select(col(idCol)))
      else None)
    gens.indices.map { i =>
      val later = tombs.drop(i + 1).flatten
      val seg = read(gens(i))
      if (later.isEmpty) seg
      else seg.join(later.reduce(_ union _), Seq(idCol), "left_anti")
    }.reduce(_ unionByName _)
  }

  // The one tokenize→postings shape build and append share: per
  // (id, term) tf, dlen, and the POSITION LIST (0-based token offsets in
  // document order — what PHRASE_MATCH consumes; Lucene stores the same
  // per-posting positions). tf stays a materialized count, not
  // size(pos): BM25 reads tf without deserializing position arrays.
  // Stop tokens are masked AFTER posexplode, so surviving tokens keep
  // their pre-removal offsets — Lucene's position gaps.
  private def tokenPostings(withLen: DataFrame, idCol: String,
                            buckets: Int, analyzer: Analyzer): DataFrame = {
    val exploded = withLen
      .select(col(idCol), col("dlen"),
        posexplode(col("__ws")).as(Seq("pos", "term")))
    (if (analyzer.hasDrops) exploded.filter(!analyzer.isDropped(col("term")))
     else exploded)
      // stemming (if configured) AFTER the stop filter, Lucene's chain
      // order; tokens stemming to the same term merge their positions
      .withColumn("term", analyzer.indexTerm(col("term")))
      .groupBy(col(idCol), col("term"))
      // first(dlen) is deterministic: dlen is functionally dependent on id
      .agg(count(lit(1)).as("tf"), first(col("dlen")).as("dlen"),
        sort_array(collect_list(col("pos"))).as("pos"))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))
  }

  /** Whether a postings layout exists at `path`. */
  def exists(path: String): Boolean = java.nio.file.Files.exists(metaPath(path))

  /** Milvus `TEXT_MATCH(field, 'terms…')` / `PHRASE_MATCH(field,
    * 'phrase')`: the distinct LIVE doc ids matching the terms —
    *   - mode "any" = at least one term (Milvus TEXT_MATCH's OR
    *     semantics over the analyzed terms);
    *   - mode "all" = every term (Milvus spells AND as conjoined
    *     TEXT_MATCH filters; this is that conjunction in one call);
    *   - mode "phrase" = the terms ADJACENT and IN ORDER (Milvus
    *     PHRASE_MATCH at slop 0): doc matches iff some token offset p
    *     has terms(i) at p+i for every i — evaluated on the postings'
    *     per-(term, doc) position lists, duplicated phrase terms
    *     included ("a b a" needs the SAME term at p and p+2);
    *   - mode "phrase:N" = PHRASE_MATCH with slop N > 0: Lucene's
    *     sloppy-phrase semantics (which Milvus's slop argument mirrors —
    *     slop is "how far the terms may move"): a doc matches iff one
    *     doc position per phrase occurrence can be chosen (same-term
    *     occurrences at DISTINCT positions) whose ADJUSTED positions
    *     (doc position − phrase index) all fit in a window of width N;
    *     max(adjusted) − min(adjusted) is exactly Lucene's matchLength,
    *     so slop 2 accepts the classic transposition ("learning
    *     machine" for query "machine learning") and slop 0 degenerates
    *     to the adjacency check above.
    * All ride the same bucket partition prune + pushed `term IN`
    * as [[bm25]], with later-segment tombstones masked: I/O ∝
    * Σ df(term), never corpus — phrase adds one per-doc position
    * intersection over only the docs containing every term. Terms must
    * match the index's tokenizer (whitespace split) exactly — same
    * contract as bm25 query terms; phrase requires a position-bearing
    * index (builds since positional postings; rebuild is the recovery). */
  def matchingDocs(spark: SparkSession, path: String, terms: Seq[String],
                   mode: String = "any"): DataFrame = {
    require(terms.nonEmpty, "text match needs at least one term")
    val slop: Option[Int] = mode match {
      case "any" | "all" => None
      case "phrase" => Some(0)
      case s if s.startsWith("phrase:") =>
        val n = s.drop("phrase:".length)
        require(n.nonEmpty && n.forall(_.isDigit),
          s"phrase slop must be a non-negative integer (got '$mode')")
        Some(n.toInt)
      case other => throw new IllegalArgumentException(
        s"mode must be 'any', 'all', 'phrase' or 'phrase:<slop>' (got '$other')")
    }
    require(exists(path), s"no text index at $path — run build first")
    val (buckets, schema, gens, analyzer) = readMeta(path)
    val idCol = schema.fields.head.name
    // query terms pass through the INDEX's analyzer (META) — a
    // standard-analyzer index lowercases/splits the query exactly as it
    // tokenized the corpus, stop terms drop from the query. A query that
    // analyzes to NOTHING (all stop words) matches no docs — Lucene's
    // empty-query semantics, not an error.
    val analyzed = analyzer.analyzeTerms(terms)
    if (analyzed.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(schema.fields.head)))
    val distinctTerms = analyzed.distinct
    val bucketIds = distinctTerms.map(termBucket(_, buckets)).distinct
    val matching = livePostings(spark, path, gens, schema,
      Some(col("bucket").isin(bucketIds: _*) &&
        col("term").isin(distinctTerms: _*)))
    if (mode == "any") matching.select(col(idCol)).distinct()
    else if (mode == "all") matching.groupBy(col(idCol))
      // postings are unique per (id, term) within a live doc version, so
      // a plain count equals the distinct-term count — but count_distinct
      // keeps "all" correct even if that invariant ever loosens
      .agg(count_distinct(col("term")).as("__nt"))
      .filter(col("__nt") === distinctTerms.size)
      .select(col(idCol))
    else {
      // phrase: fold each candidate doc's (term → positions) rows into
      // one map (group sized |distinct terms| — bounded by the phrase,
      // not the doc), require every term present, then check the
      // position constraint. Pre-fold per (id, term) FIRST: live
      // postings are unique per (id, term), but the 'all' branch
      // deliberately tolerates that invariant loosening (count_distinct)
      // and map_from_entries would instead THROW DUPLICATED_MAP_KEY
      // under the default mapKeyDedupPolicy=EXCEPTION — merging the
      // position lists degrades the same graceful direction.
      val perTerm = matching
        .groupBy(col(idCol), col("term"))
        .agg(sort_array(flatten(collect_list(col("pos")))).as("pos"))
      val grouped = perTerm
        .groupBy(col(idCol))
        .agg(map_from_entries(collect_list(struct(col("term"), col("pos"))))
          .as("__pm"))
        .filter(size(col("__pm")) === distinctTerms.size)
      val pm = col("__pm")
      if (slop.contains(0))
        // slop 0 stays on the codegen expression path: ∃ p ∈
        // pos(terms(0)) with terms(i) ∋ p+i ∀ i — array_contains over
        // the SORTED position lists. (functions.exists qualified: the
        // object's own exists(path) member shadows the import by name.)
        grouped.filter(org.apache.spark.sql.functions.exists(
            element_at(pm, lit(analyzed.head)), p =>
              analyzed.zipWithIndex.drop(1)
                .map { case (t, i) => array_contains(element_at(pm, lit(t)), p + i) }
                .reduceOption(_ && _).getOrElse(lit(true))))
          .select(col(idCol))
      else {
        // slop > 0: the windowed selection check needs injectivity over
        // same-term occurrences — a Scala UDF over the per-doc map, but
        // only on candidate docs already known to contain EVERY term
        // (Σ df-bounded, position lists bounded by doc length), so the
        // non-codegen hop never touches the corpus-sized path.
        val s = slop.get
        val qTerms = analyzed
        val check = udf((m: Map[String, Seq[Int]]) =>
          sloppyPhraseMatch(qTerms, m, s))
        grouped.filter(check(pm)).select(col(idCol))
      }
    }
  }

  /** Exact sloppy-phrase decision (Lucene matchLength semantics, see
    * [[matchingDocs]]): ∃ one doc position per phrase occurrence —
    * same-term occurrences at DISTINCT positions — whose adjusted
    * positions (q − i) all lie within a width-`slop` window. Candidate
    * window starts are the adjusted positions themselves (the selection
    * minimum is one of them); per window, same-term occurrences greedily
    * take the smallest unused in-window position — the occurrence
    * windows [b+i, b+i+slop] are equal-length and ordered by phrase
    * index, so greedy assignment is exact (interval-scheduling
    * argument). Cost: O(|adjusted| · phrase² · positions) on docs
    * already containing every term — phrase-bounded, never doc-bounded
    * beyond the position lists. */
  private[graft] def sloppyPhraseMatch(terms: Seq[String],
      pm: Map[String, Seq[Int]], slop: Int): Boolean = {
    // defensively re-sorted ONCE per call (not per candidate window):
    // greedy-smallest needs ascending order and callers outside the
    // index path may pass unsorted lists
    val sortedPm = pm.map { case (t, ps) => t -> ps.sorted }
    val occs = terms.zipWithIndex
    val byTerm = occs.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap
    val bases = occs.flatMap { case (t, i) =>
      sortedPm.getOrElse(t, Nil).map(_ - i)
    }.distinct
    bases.exists { b =>
      byTerm.forall { case (t, idxs) =>
        val positions = sortedPm.getOrElse(t, Nil)
        val used = scala.collection.mutable.HashSet.empty[Int]
        idxs.forall { i =>
          positions.find(q => q >= b + i && q <= b + i + slop && !used(q))
            .exists { q => used += q; true }
        }
      }
    }
  }

  /** BM25 top-`k` for `terms`, riding the at-rest postings: partition
    * prune to the terms' hash buckets, pushed `term IN` filter, df as a
    * tiny second aggregate over the ALREADY-pruned postings (identical
    * to the global df for those terms), stats broadcast from the 1-row
    * table. Emits (id, bm25) exactly like the raw-text plan.
    *
    * `restrictTo` (1-column frame of ids) gates CANDIDATES only — df and
    * the stats row are resolved from the unrestricted postings first, so
    * a metadata-filtered query scores with corpus idf (see
    * [[scoreTail]]); the semi-join lands on the already term-pruned
    * Σ df(term) rows, never the corpus. */
  def bm25(spark: SparkSession, path: String, terms: Seq[String],
           k: Int = 15, k1: Double = 1.2, b: Double = 0.75,
           restrictTo: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(exists(path), s"no text index at $path — run build first")
    val (buckets, schema, gens, analyzer) = readMeta(path)
    val idCol = schema.fields.head.name
    // query terms through the index's analyzer, exactly like matchingDocs;
    // an all-stop query scores nothing (empty frame, not an error)
    val analyzed = analyzer.analyzeTerms(terms).distinct
    if (analyzed.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(schema.fields.head,
          org.apache.spark.sql.types.StructField("bm25",
            org.apache.spark.sql.types.DoubleType))))
    val bucketIds = analyzed.map(termBucket(_, buckets)).distinct
    // every segment scan gets the same prune (partition + pushed term
    // filter), THEN later-segment tombstones mask superseded rows —
    // the anti-join right sides are churn-sized, never corpus-sized
    val matching = livePostings(spark, path, gens, schema,
      Some(col("bucket").isin(bucketIds: _*) && col("term").isin(analyzed: _*)))
    // df over the masked union = live df for the queried terms
    val dfT = matching.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // newest segment's stats row is the live global corpus
    val stats = spark.read.schema("n_docs BIGINT, avgdl DOUBLE")
      .parquet(s"$path/stats-${gens.last}")
    scoreTail(
      matching.join(dfT, Seq("term")).crossJoin(broadcast(stats)),
      idCol, k, k1, b, restrictTo)
  }

  /** BM25 over the UNION live corpus of SEVERAL index layouts — the
    * multi-partition scoped full-text search (r15, VERDICT r14's #2).
    * The global-stats contract: scores equal a single index built over
    * the union corpus, because every input to [[scoreExpr]] merges
    * EXACTLY —
    *   - per-(doc, term) tf and dlen come from each layout's own live
    *     postings (term-bucket-pruned, tombstone-masked — the same
    *     per-layout scan [[bm25]] runs);
    *   - df(term) is counted over the unioned live postings (layout
    *     corpora are disjoint doc sets, so the union's distinct-doc
    *     count per term IS the row count, like the single-index path);
    *   - n_docs / avgdl derive from the Σ of each layout's EXACT
    *     integer stats (Σ n_docs, Σ sum_dlen, one division at the end —
    *     bit-identical to what one build over the union would compute).
    *
    * Every layout must share ONE analyzer (BM25 scores across different
    * tokenizations do not merge — refused loudly) and one id column.
    * A doc id living in MORE THAN ONE layout is REFUSED loudly (when it
    * contributes matching postings): named partitions are independent
    * stores, so nothing upstream enforces cross-partition key
    * uniqueness, and silently merging such a doc would inflate df and
    * double its per-term scores — neither one-doc nor two-doc
    * semantics. The check is one bounded aggregate over the already
    * term-pruned Σ df(term) rows, never the corpora. */
  def bm25Merged(spark: SparkSession, paths: Seq[String], terms: Seq[String],
                 k: Int = 15, k1: Double = 1.2, b: Double = 0.75,
                 restrictTo: Option[DataFrame] = None): DataFrame = {
    require(paths.nonEmpty, "bm25Merged needs at least one index path")
    if (paths.size == 1) return bm25(spark, paths.head, terms, k, k1, b, restrictTo)
    require(terms.nonEmpty, "bm25 needs at least one query term")
    paths.foreach(p => require(exists(p), s"no text index at $p — run build first"))
    val metas = paths.map(readMeta)
    val analyzerSers = metas.map(_._4.serialize).distinct
    require(analyzerSers.size == 1,
      "the scoped partitions' text indexes were built with DIFFERENT " +
        s"analyzers (${analyzerSers.mkString(" vs ")}) — BM25 scores " +
        "across tokenizations do not merge; rebuild them with one analyzer")
    val idCols = metas.map(_._2.fields.head.name).distinct
    require(idCols.size == 1,
      s"the scoped indexes disagree on the id column (${idCols.mkString(", ")})")
    val idCol = idCols.head
    val analyzer = metas.head._4
    val analyzed = analyzer.analyzeTerms(terms).distinct
    if (analyzed.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(metas.head._2.fields.head,
          org.apache.spark.sql.types.StructField("bm25",
            org.apache.spark.sql.types.DoubleType))))
    // per-layout pruned live postings, normalized to the four score
    // inputs so layouts with/without position lists union cleanly;
    // layout-tagged for the duplicate-id refusal below
    val tagged = paths.zip(metas).zipWithIndex.map {
      case ((p, (buckets, schema, gens, _)), li) =>
        val bucketIds = analyzed.map(termBucket(_, buckets)).distinct
        livePostings(spark, p, gens, schema,
            Some(col("bucket").isin(bucketIds: _*) && col("term").isin(analyzed: _*)))
          .select(col(idCol), col("term"), col("tf"), col("dlen"),
            lit(li).as("__layout"))
    }.reduce(_ unionByName _)
      // ONE materialization of the Σ df(term)-bounded pruned union
      // serves the duplicate-id check, the df aggregate AND the score
      // join — without it each is its own pruned parquet scan (the
      // single-path bm25 reads twice; the check would have made three)
      .localCheckpoint()
    // a doc id in >1 scoped layout would score as neither one doc nor
    // two (df counts it per layout; its per-term rows each add a score
    // term) — refuse loudly rather than assert a uniqueness contract
    // the independent partition stores do not enforce. Scope: the
    // matching rows — exactly the rows that could skew this query.
    val dup = tagged.groupBy(col(idCol))
      .agg(countDistinct(col("__layout")).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"doc id '${dup.headOption.map(_.get(0)).getOrElse("")}' has " +
        "postings in more than one scoped partition's text index — " +
        "BM25 over the merged corpus cannot score a duplicated id " +
        "(df and per-term scores would silently inflate); keep keys " +
        "unique across the scoped partitions or scope the search to one")
    val matching = tagged.drop("__layout")
    val dfT = matching.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // merged corpus stats: exact integer sums, ONE division — each
    // layout's newest stats row is a 1-row driver read
    val statRows = paths.zip(metas).map { case (p, (_, _, gens, _)) =>
      val r = spark.read.schema(statsSchema).parquet(s"$p/stats-${gens.last}").head()
      (r.getLong(0), r.getLong(2))
    }
    val nDocs = statRows.map(_._1).sum
    val sumDlen = statRows.map(_._2).sum
    require(nDocs > 0, "merged corpus is empty — nothing to score")
    val stats = spark.range(1).select(lit(nDocs).as("n_docs"),
      (lit(sumDlen).cast("double") / lit(nDocs).cast("double")).as("avgdl"))
    scoreTail(
      matching.join(dfT, Seq("term")).crossJoin(broadcast(stats)),
      idCol, k, k1, b, restrictTo)
  }
}
