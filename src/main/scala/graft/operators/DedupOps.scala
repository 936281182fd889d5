package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Corpus deduplication for a training-data pipeline (north-star EXT):
  * exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
  * bucket-join), SimHash, and n-gram Jaccard — the standard LLM-corpus
  * dedup ladder.
  *
  * The generalized form of reference O7 (`caught_docs` set-membership
  * dedup, index.py:162-163): the reference dedups URLs exactly; a 100 TB
  * corpus needs *near*-dup removal, which is the same operator family
  * with a locality-sensitive key instead of the natural key.
  *
  * Scale shape: signatures (minhash arrays, simhash words) are computed
  * row-local with higher-order expressions — a narrow projection over
  * the corpus, no shuffle. The only shuffles are the LSH bucket
  * self-join (keyed on band signature: each bucket holds only colliding
  * docs, so the join explodes only where candidates actually exist) and
  * the final verify join. This is exactly how petabyte dedup runs wide:
  * never all-pairs, always bucket-then-verify.
  *
  * All hashes are the portable polynomial family (TextOps.polyHash), so
  * every stage stays DuckDB-oracle-checkable.
  */
object DedupOps {

  /** Prime modulus for the minhash permutation family (< 1e15 so
    * a*h+b stays far from Long overflow). */
  val MinhashP = 999999999999989L

  /** Input reduction for the permutation family: shingle hashes fold to
    * 31 bits first so the large multipliers below stay inside int64 on
    * BOTH engines ((2³¹−1)·maxA ≈ 7e18 < 2⁶³−1). The 1-in-2e9
    * reduction collisions are immaterial to minima. */
  val MinhashRed = 2147483647L

  /** Fixed (a,b) parameters: 8 universal-hash permutations with LARGE
    * well-known mixing multipliers (Knuth/xxHash-family constants —
    * public). The original small multipliers (2..19) made a·h+b mod P
    * piecewise order-preserving over [0, P) with only a wrap segments,
    * so the 8 "independent" permutations usually shared one argmin —
    * the `dd_minhash_band_sweep` measurement exposed signature
    * agreement collapsing to all-or-nothing (every banding produced
    * identical candidates). With ~2³¹-scale multipliers each
    * permutation's argmin is effectively independent, which is the
    * property every b·r S-curve formula assumes. */
  val MinhashParams: Seq[(Long, Long)] = Seq(
    (2654435761L, 1L), (2246822519L, 7L), (3266489917L, 13L),
    (668265263L, 31L), (374761393L, 101L), (3141592653L, 1009L),
    (1597334677L, 10007L), (2869860233L, 100003L))

  /** Test corpus with known duplicates, synthesized deterministically on
    * both engines: the documents plus an exact copy of every 10th doc and
    * a prefix-perturbed near-copy of every (10k+5)th doc.
    *
    * Id-range caveat: the seeded-variant offsets (+100000 / +200000)
    * are sized for the harness scale factors and the DuckDB oracles are
    * committed against them; on synthetic corpora of >= 100k base docs
    * (the 100x soak's synth:500000) variant ids re-enter the base range,
    * so doc_id stops being unique there — in-plan consumers carry the
    * duplicated ids through, but anything KEYED by doc_id (the
    * one-file-per-id media landing zone) collapses collided rows
    * (BASELINE.md §r14 quantifies this on the 100x file-tier row). All
    * oracle-gated scales (sf0.001-0.1, synth <= 50k) are collision-free. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE scan: each row emits itself plus (conditionally) its seeded
    // copy via explode — the union-of-three-filtered-scans spelling
    // re-read and re-decoded the table once per branch, and every
    // consumer in the dedup family paid it (same rows either way, so
    // the oracles' UNION ALL spelling is unchanged)
    val d = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val self = struct(col("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 10
    d.select(explode(
        when(m === 0, array(self, struct((col("doc_id") + 100000).as("doc_id"),
          col("source"), col("text"))))
        .when(m === 5, array(self, struct((col("doc_id") + 200000).as("doc_id"),
          col("source"),
          concat(lit("extra words added "), col("text")).as("text"))))
        .otherwise(array(self))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.source").as("source"),
        col("e.text").as("text"))
  }

  /** Exact dedup: group by content hash, keep groups with >1 copy.
    * At scale this is one hash-shuffle on a 16-byte key; the
    * representative (min id) is what a keep-one pass would retain. */
  def exactDups(spark: SparkSession, sfDir: String): DataFrame =
    corpus(spark, sfDir)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_copies"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("ids"))
      .filter(col("n_copies") > 1)
      .orderBy("rep_id")

  /** Canonicalize a URL for identity comparison — the WARC/CDX-style
    * URL-key normalization every crawl-scale dedup runs BEFORE any
    * content hashing (a fetch-level tier: two spellings of one address
    * are duplicates without reading a byte of body): lowercase the
    * scheme+authority, drop the SCHEME'S OWN default port only
    * (https: :443, http: :80 — http://host:443 addresses a different
    * resource than http://host and must NOT merge), drop the
    * fragment, strip tracking parameters (utm_*, gclid, fbclid), sort
    * the surviving query parameters, and strip the trailing slash.
    * Entirely row-local string work — composes with [[exactDups]] as
    * the zero-content first dedup tier. The same regex/list pipeline
    * renders into the DuckDB oracle. */
  def canonicalUrl(u: Column): Column = {
    val head = regexp_extract(u, "^([^/]*//[^/]*)", 1)
    // lowercase ONLY scheme+authority — the path is case-significant
    val cased = concat(lower(head), u.substr(length(head) + 1, length(u)))
    val noFrag = regexp_replace(cased, "#.*$", "")
    val noPort = regexp_replace(
      regexp_replace(noFrag, "^(https://[^/:]*):443(/|$)", "$1$2"),
      "^(http://[^/:]*):80(/|$)", "$1$2")
    val base0 = regexp_extract(noPort, "^([^?]*)", 1)
    val base = regexp_replace(base0, "/$", "")
    val qs = regexp_extract(noPort, "\\?(.*)$", 1)
    val params = array_join(array_sort(filter(split(qs, "&"),
      p => length(p) > 0 && !p.rlike("^(utm_[^=]*|gclid|fbclid)="))), "&")
    when(params === "", base).otherwise(concat(base, lit("?"), params))
  }

  /** URL dedup by canonical form over a deterministic dirty-URL corpus:
    * each document gets one of four spellings of its group's address
    * (uppercased host + default port + fragment / tracking params /
    * unsorted params / tracking mixed into real params — doc_id % 4
    * picks the variant, doc_id DIV 4 the address group, so every group
    * collapses to two canonical targets with two spellings each), and
    * the report is the canonical groups that actually deduplicate.
    *
    * Scale shape: canonicalization is row-local; the group collapse is
    * ONE hash-shuffle on the canonical string (at crawl scale: the
    * SURT-keyed shuffle a CDX index build pays anyway) — the cheapest
    * tier of the dedup cascade, run before any content moves. */
  def urlCanonicalDups(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), floor(col("doc_id") / lit(4)).as("g"),
        (col("doc_id") % 4).as("v"))
    val url = when(col("v") === 0,
        concat(lit("HTTPS://WWW.EXAMPLE.COM:443/p"), col("g"), lit("/#sec")))
      .when(col("v") === 1,
        concat(lit("https://www.example.com/p"), col("g"),
          lit("/?utm_campaign=x&utm_source=y")))
      .when(col("v") === 2,
        concat(lit("https://www.example.com/p"), col("g"), lit("?b=2&a=1")))
      .otherwise(
        concat(lit("https://www.example.com/p"), col("g"),
          lit("/?a=1&gclid=zz&b=2")))
    d.withColumn("url", url)
      .groupBy(canonicalUrl(col("url")).as("canonical_url"))
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("url")).as("n_spellings"),
        min(col("doc_id")).as("rep_id"))
      .filter(col("n_variants") > 1)
      .orderBy("canonical_url")
  }

  /** Distinct hashed word-trigram shingle set per row of `df`.
    *
    * Shingle identity is the combined hash of the three WORD hashes
    * ((wh1*31 + wh2) mod M * 31 + wh3) mod M — never a materialized
    * "w1 w2 w3" string. Computed by the native codegen'd expressions
    * (graft.functions.TextHashExpressions): the equivalent higher-order
    * expressions are interpreted per element and profiled at ~10 ms per
    * document at sf0.1 — a 50 s signature build for a 1 s scan, and
    * CollapseProject multiplies it into every consumer. The native
    * chain is one tight loop per row. Same values, DuckDB oracle
    * unchanged (PropertySpec pins expression ≡ HOF ≡ JVM model). */
  private def withShingles(df: DataFrame): DataFrame =
    Tables.spread(df, col("doc_id")).withColumn("sh",
        sort_array(array_distinct(
          expr("shingle3_hashes(word_poly_hashes(lower(text)))"))))
      .filter(size(col("sh")) > 0)

  // ──────────────── session-scoped dedup signature catalog ────────────────

  /** Session-scoped DEDUP SIGNATURE CATALOG — the LM-catalog argument
    * ([[graft.operators.TextOps]]'s surprisal frame, the r12 headline)
    * applied verbatim to the dedup ladder: ~10 registered `dd_*`
    * consumers each rebuilt the shingle/signature frames per query
    * (within-plan persists only, released by the harness's
    * between-query clearCache), and the 100× soak paid that build
    * every time (dd_ngram_jaccard 79 s, dd_dup_clusters 99 s,
    * dd_lsh_quality 252 s cold — almost all of it the repeated
    * signature build). A production dedup run signatures the corpus
    * snapshot ONCE and every tier reads the signature table; these
    * frames are that materialization. The first consumer builds and
    * `localCheckpoint`s the frame; every later consumer reads the SAME
    * pinned rows (bit-identical by construction, spec-pinned against a
    * scratch build), which survive `spark.catalog.clearCache()`. Each
    * is a `dedup:<kind>` entry of [[graft.Tables.memo]] on the
    * documents snapshot.
    *
    * Frames, narrowest-dependency order:
    *  - `shingles`      — (doc_id, sh) over [[corpus]]: the dominant
    *    cost of every tier (text → distinct sorted trigram hashes).
    *  - `doc_shingles`  — (doc_id, source, sh) over the raw documents
    *    snapshot ([[incrementalDedup]]'s base side,
    *    [[sourceOverlapMatrix]]).
    *  - `sigs`          — (doc_id, sig[8], bands[2]) minhash
    *    signatures derived from `shingles` (row-local affine mins).
    *  - `ngram_pairs`   — the exact prefix-filtered Jaccard pairs
    *    ([[ngramJaccardPairs]]' verify output): [[dupClusters]],
    *    [[softDedupWeights]] and [[lshQuality]]'s truth arm all
    *    re-consume the identical pair set.
    *  - `lsh_pairs`     — the banded-candidate + exact-verify pair set
    *    ([[minhashLsh]]'s output; [[dedupSurvivors]]' edge list).
    * Pair frames are near-dup-sized (≪ corpus); the shingle frames are
    * corpus-row-count sized with one array per doc — the same bytes
    * the per-query persists held before, now held once. */
  private def cachedFrame(spark: SparkSession, sfDir: String, kind: String)
      (build: => DataFrame): DataFrame =
    Tables.memo(spark, Tables.snapshot(spark, sfDir, "documents"), s"dedup:$kind")(build)

  private[graft] def clearDedupCache(): Unit = Tables.clear("dedup")

  private[graft] def shingleFrame(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "shingles") {
      withShingles(corpus(spark, sfDir))
        .select("doc_id", "sh").localCheckpoint()
    }

  private[graft] def docShingleFrame(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "doc_shingles") {
      withShingles(Tables.documents(spark, sfDir)
          .select("doc_id", "source", "text"))
        .select("doc_id", "source", "sh").localCheckpoint()
    }

  private[graft] def signatureFrame(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "sigs") {
      minhashBandsFromShingles(shingleFrame(spark, sfDir))
        .select(col("doc_id"),
          array(MinhashParams.indices.map(i => col(s"mh$i")): _*).as("sig"),
          col("bands"))
        .localCheckpoint()
    }

  private[graft] def ngramPairsFrame(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "ngram_pairs") {
      ngramJaccardPairsFromShingles(shingleFrame(spark, sfDir), pinnedInput = true)
    }

  /** Pinned distinct EVAL-SUITE gram set (the decontamination probe
    * side shared by [[contamination]] and [[contaminationBloom]]).
    * The eval suite is tiny (≤ 3 8-grams per sampled doc) — the pin's
    * value is retiring the repeated distinct build, not bytes; its
    * Bloom-sizing count comes from manifest arithmetic
    * ([[evalGramCount]]), not a job. */
  private[graft] def evalGramFrame(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "eval_grams") {
      val whs = expr("word_poly_hashes(lower(text))")
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 50 === 0)
        .select(slice(whs, 6, 10).as("ew"))
        .filter(size(col("ew")) === 10)
        .select(explode(expr("shinglek_hashes(ew, 8)")).as("g"))
        .distinct()
        .localCheckpoint()
    }

  /** Publish the catalog's shingle frame as a BUCKETED TABLE — the
    * cluster-scale form of the localCheckpoint pin (SURVEY §8.1): a
    * 100 TB dedup run publishes the signature table alongside the
    * corpus snapshot, bucketed + sorted on doc_id, so every verify
    * join reads the signature side IN PLACE (bucketed scan satisfies
    * the join's required distribution — the only exchange left is the
    * candidate side's, which is near-dup-sized, not corpus-sized).
    * localCheckpoint blocks die with their executors; a published
    * bucketed table is the durable, cross-job, cross-cluster entry.
    * Spec-pinned: the verify-shaped join over the published table
    * plans exactly one exchange (candidates only) and returns the same
    * pairs as the in-session pinned frame. */
  def publishSignatures(spark: SparkSession, sfDir: String,
                        table: String = "dd_signatures",
                        buckets: Int = 8,
                        overwrite: Boolean = false,
                        path: Option[String] = None): String = {
    // ErrorIfExists unless the caller opts in: an accidental publish
    // must not clobber a pre-existing catalog table of the same name
    // (r13 advice); [[publishedSignatureTable]] namespaces its own.
    // With `path` the table is EXTERNAL: dropping the catalog entry
    // (a metastore that died with its JVM) leaves the bucketed files,
    // which a later session re-REGISTERS instead of rewriting.
    val w = shingleFrame(spark, sfDir).write
      .mode(if (overwrite) "overwrite" else "errorifexists")
    path.fold(w)(p => w.option("path", p))
      .bucketBy(buckets, "doc_id").sortBy("doc_id").saveAsTable(table)
    table
  }

  /** SHA-1-prefixed table name for the corpus — the
    * FrameStore.dirFor idiom (r14 verdict: String.hashCode's 32 bits
    * could alias two corpus paths and re-point one session's table at
    * the other's data; the location was already SHA-1-keyed, the NAME
    * now matches). */
  private def publishedTableName(sfDir: String): String =
    "dd_signatures_" +
      graft.plans.FrameStore.sha1Hex(Tables.rootOf(sfDir, "documents")).take(16)

  // the table name and its location key on the documents table's
  // qualified root: a bare path and a `file:` URI publish once
  private[graft] def publishedStoreKey(sfDir: String): String =
    s"dd-published#${Tables.rootOf(sfDir, "documents")}#v1"

  /** Cold-soak seam for the published table's DISK layer (the session
    * entry is the `dd_published` memo): drop the catalog entry and
    * delete the external location + manifest so a cold soak rep pays
    * the full publish, not the metadata-only re-register. */
  private[graft] def purgePublishedStore(spark: SparkSession,
                                         sfDir: String): Unit = {
    spark.sql("DROP TABLE IF EXISTS " + publishedTableName(sfDir))
    graft.plans.FrameStore.purge(publishedStoreKey(sfDir))
  }

  /** Durable publish for [[publishedPairs]] — publish ONCE PER CORPUS
    * SNAPSHOT, not once per session: the table name is NAMESPACED by
    * the corpus path's hash (a derived name an overwrite publish can
    * never collide with a user table under) and its data lives as an
    * EXTERNAL bucketed table in a [[graft.plans.FrameStore]] store,
    * committed like every other store (its `_manifest` beside the
    * bucketed files, under the store's lock). A changed corpus
    * republishes into the emptied location. A served store that the
    * session's metastore has never seen is RE-REGISTERED with the bucket
    * spec (`CREATE TABLE ... CLUSTERED BY ... LOCATION` — metadata
    * only, zero rewrite; spec-pinned to keep the one-exchange verify
    * plan). Exactly the production cadence: the signature table is
    * published beside the snapshot once, and every cluster/JVM after
    * that mounts it. */
  private[graft] def publishedSignatureTable(spark: SparkSession,
                                             sfDir: String): String = {
    publishedStore(spark, sfDir)
    publishedTableName(sfDir)
  }

  /** The store behind [[publishedSignatureTable]], as the call that
    * made this session's `dd_published` entry left it. */
  private[graft] def publishedStore(spark: SparkSession,
                                    sfDir: String): graft.plans.FrameStore.Refreshed = {
    val snap = Tables.snapshot(spark, sfDir, "documents")
    Tables.memo(spark, snap, "dd_published") {
      val tbl = publishedTableName(sfDir)
      val stored = graft.plans.FrameStore.serveOrBuild(spark,
          publishedStoreKey(sfDir), sfDir, "documents") { dir =>
        publishSignatures(spark, sfDir, tbl, overwrite = true, path = Some(dir))
      }
      if (stored.outcome == graft.plans.FrameStore.Served &&
          !spark.catalog.tableExists(tbl)) spark.sql(
        s"""CREATE TABLE $tbl (doc_id BIGINT, sh ARRAY<BIGINT>)
           |USING parquet CLUSTERED BY (doc_id) SORTED BY (doc_id)
           |INTO 8 BUCKETS LOCATION '${stored.dir}'""".stripMargin)
      stored
    }
  }

  /** LSH near-dup pairs served off the DURABLE published signature
    * table — the registered form of the cluster-scale story
    * [[publishSignatures]] documents (r13 left it spec-only): band
    * candidates come from the session catalog, but BOTH exact-verify
    * sides read the bucketed+sorted `dd_signatures_*` table, so each
    * verify join's signature side is satisfied by the bucketed scan IN
    * PLACE and only the near-dup-sized candidate side exchanges. The
    * published table is written once per (corpus, session)
    * ([[publishedSignatureTable]]); publication must not change
    * results — this query shares [[minhashLsh]]'s oracle verbatim, and
    * the SourceSinkSpec pins the one-exchange join shape. */
  def publishedPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = spark.table(publishedSignatureTable(spark, sfDir))
    // EVERYTHING derives from the published table — candidates included:
    // the minhash/band arithmetic is row-local array math over the
    // STORED shingles, so a fresh JVM that re-registers the table never
    // re-shingles the corpus text (the expensive half of the catalog
    // build); same shingles ⇒ same signatures ⇒ identical pairs
    val bands = minhashBandsFromShingles(sh)
      .select(col("doc_id"), explode(col("bands")).as("bkey"))
    val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Eval-gram ITEM BOUND for [[contaminationBloom]]'s filter sizing —
    * manifest arithmetic, zero jobs (the embCorpusCount pattern): the
    * probe samples every 50th doc_id and contributes ≤ 3 8-grams each,
    * so 3·(N/50 + 1) bounds the distinct gram count from above with N
    * read off the parquet footers ([[Tables.rowCount]]). A Bloom sized
    * on an upper bound only runs a lower FPR; membership results are
    * identical (no false negatives at any size), so this retires the
    * eager per-session count() job — the same eager-count shape
    * embCorpusCount retired for semanticDedup — without touching the
    * oracle. */
  private[graft] def evalGramCount(spark: SparkSession, sfDir: String): Long =
    3L * (Tables.rowCount(spark, sfDir, "documents") / 50L + 1L)

  /** One scratch LSH pair build over an arbitrary corpus (no catalog) —
    * the logic every [[lshPairsFrame]] miss runs, kept separately
    * callable so the reuse spec can pin catalog hits bit-identical to
    * a fresh build (the lmSurprisalBuild discipline). */
  private[graft] def lshPairsScratch(corpusDf: DataFrame): DataFrame = {
    val sigs = withMinhashBands(corpusDf)
      .select("doc_id", "sh", "bands")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col("doc_id"), explode(col("bands")).as("bkey"))
    val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private[graft] def lshPairsFrame(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "lsh_pairs") {
      val sh = shingleFrame(spark, sfDir)
      val bands = signatureFrame(spark, sfDir)
        .select(col("doc_id"), explode(col("bands")).as("bkey"))
      val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
        .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val sa = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
      val sb = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
      cands.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("sha"), col("shb")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .localCheckpoint()
    }

  /** Jaccard over the sorted distinct shingle sets. The intersect count
    * is the native merge-scan expression: array_intersect allocates a
    * hash set per pair, which dominated the 622k-pair verify stage at
    * sf0.1; sorting once per row buys an allocation-free per-pair scan.
    * Count of common distinct elements is order-independent, so the
    * DuckDB oracle (list_intersect) is unchanged. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = call_function("sorted_intersect_count", a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** EXACT n-gram Jaccard similarity join over the dup-seeded corpus
    * via prefix filtering (the SSJoin/PPJoin family — public-knowledge
    * exact-similarity-join machinery): provably 100% recall at the
    * threshold, no all-pairs anywhere.
    *
    * Principle: order the shingle universe by a global total order —
    * here (document frequency asc, hash asc), rarest first — and emit
    * from each doc only its first L = n - ceil(t·n) + 1 shingles
    * (t = 0.5 → L = n/2 + 1). Any pair with Jaccard ≥ t must share at
    * least ⌈t·n⌉ shingles, and by pigeonhole two sets sharing that many
    * elements must collide inside these prefixes — so the equi-join on
    * prefix shingles generates a candidate superset of every true pair,
    * and the exact Jaccard verify touches candidates only. Rarest-first
    * ordering is what keeps prefixes selective on this shared-vocabulary
    * corpus: hot shingles live in suffixes and never key the join.
    *
    * Shuffles: df aggregation on shingle, per-doc window for the prefix
    * (keyed on doc_id, fully parallel), candidate equi-join on shingle,
    * verify join on doc id — all key-partitioned; nothing is quadratic
    * in a block size. (Round 2's form joined all pairs within `source`,
    * O(n²) per block.) The df table is small relative to the corpus;
    * AQE broadcasts it at bench scale and shuffle-joins it beyond.
    * Served from the session catalog's pinned pair frame
    * ([[ngramPairsFrame]]); the build's internal persists are released
    * inside the build itself. */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    ngramPairsFrame(spark, sfDir).orderBy("doc_a", "doc_b")

  /** [[ngramJaccardPairs]] without the presentation sort — for consumers
    * like [[dupClusters]] that re-aggregate the pairs (the sort exchange
    * would be dead work between two shuffles). Both forms read the
    * session catalog's pinned pair frame. */
  def ngramJaccardPairsUnsorted(spark: SparkSession, sfDir: String): DataFrame =
    ngramPairsFrame(spark, sfDir)

  /** [[ngramJaccardPairs]] over an arbitrary (doc_id, text) corpus —
    * the injectable form the skew spec drives with a seeded hot prefix
    * shingle (df-asc ordering keeps naturally-hot shingles out of
    * prefixes, but a corpus of near-identical SHORT docs forces one in;
    * AQE skew-join is the backstop that splits that bucket). */
  def ngramJaccardPairsOf(corpusDf: DataFrame): DataFrame =
    ngramJaccardPairsRaw(corpusDf).orderBy("doc_a", "doc_b")

  private def ngramJaccardPairsRaw(corpusDf: DataFrame): DataFrame =
    ngramJaccardPairsFromShingles(
      withShingles(corpusDf).select(col("doc_id"), col("sh")))

  /** The exact-Jaccard join from an ALREADY-SHINGLED (doc_id, sh)
    * frame — the shared-signature-build seam ([[lshQualityOn]]).
    * `pinnedInput = true` is the catalog path ([[ngramPairsFrame]]):
    * the input is checkpointed rows (no persist needed — re-reads are
    * block scans), the result is `localCheckpoint`ed eagerly and the
    * within-build prefix persist is released before returning, so
    * nothing leaks past the build (the lmSurprisalBuild discipline). */
  private def ngramJaccardPairsFromShingles(shingled: DataFrame,
      pinnedInput: Boolean = false): DataFrame = {
    val sigs0 = shingled.withColumn("n", size(col("sh")))
    val sigs =
      if (pinnedInput) sigs0 else sigs0.persist(StorageLevel.MEMORY_AND_DISK)
    val ex = sigs.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val dfq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "s")
    val prefix = ex.join(dfq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= expr("n DIV 2 + 1"))
      .select("doc_id", "n", "s")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // length filter (the PPJoin size companion): jaccard >= 0.5 forces
    // 2*min(|A|,|B|) >= max(|A|,|B|), pruned before the distinct+verify
    val cands = prefix.select(col("doc_id").as("doc_a"), col("n").as("na"), col("s"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("na"), col("nb")) * 2 >= greatest(col("na"), col("nb")))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    val out = cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    if (pinnedInput) {
      val pinned = out.localCheckpoint() // eager: materializes first
      prefix.unpersist()
      pinned
    } else out
  }

  /** EXACT containment join — the ASYMMETRIC cousin of
    * [[ngramJaccardPairs]]: find (small, big) doc pairs where the
    * smaller shingle set is ≥80% covered by the larger
    * (|A∩B|/|A| ≥ t, |A| ≤ |B|). This is the "document subsumed by an
    * expanded copy" detector — quote-plus-commentary pages, boilerplate
    * wrappers — which Jaccard MISSES by construction: a short doc fully
    * contained in a 3×-longer one has Jaccard ≤ 1/3, below any sane
    * symmetric threshold. The seeded corpus's 'extra words added' docs
    * (reference behavior: crawl re-fetches page under a longer
    * template) are exactly this shape.
    *
    * Prefix filter, containment flavor: a qualifying pair shares
    * ≥ ⌈t·|A|⌉ shingles, so A's rarest-first prefix of length
    * |A| − ⌈t·|A|⌉ + 1 must contain a shared shingle (pigeonhole).
    * Unlike the Jaccard join there is NO size companion bound on B (B
    * may be arbitrarily large — that asymmetry is the point), so the
    * probe prefix joins the candidate side's FULL posting list: probe =
    * prefix(A), index = explode(B). The df-asc prefix ordering keeps
    * hot shingles out of probes, so posting-list fan-out stays bounded
    * by rare-shingle df; the verify pass touches candidates only. The
    * threshold test is exact-integer (5·inter ≥ 4·|A|) — the emitted
    * double is presentation only. Shuffles: df agg, per-doc prefix
    * window, candidate equi-join, two verify joins — all key-
    * partitioned, nothing quadratic in corpus size. */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairsFromShingles(shingleFrame(spark, sfDir), pinnedInput = true)

  /** [[containmentPairs]] over an arbitrary (doc_id, text) corpus — the
    * injectable form the lossless-recall spec drives. */
  def containmentPairsOf(corpusDf: DataFrame): DataFrame =
    containmentPairsFromShingles(
      withShingles(corpusDf).select(col("doc_id"), col("sh")))

  private def containmentPairsFromShingles(shingled: DataFrame,
      pinnedInput: Boolean = false): DataFrame = {
    val sigs0 = shingled.withColumn("n", size(col("sh")))
    val sigs =
      if (pinnedInput) sigs0 else sigs0.persist(StorageLevel.MEMORY_AND_DISK)
    val ex = sigs.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val dfq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "s")
    // L = n - ceil(0.8 n) + 1, in exact integers: ceil(4n/5) = (4n+4) DIV 5
    val prefix = ex.join(dfq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= expr("n - (4 * n + 4) DIV 5 + 1"))
      .select("doc_id", "n", "s")
    val cands = prefix.select(col("doc_id").as("doc_small"), col("n").as("ns"), col("s"))
      .join(ex.select(col("doc_id").as("doc_big"), col("n").as("nb"), col("s")), Seq("s"))
      .filter(col("ns") < col("nb") ||
        (col("ns") === col("nb") && col("doc_small") < col("doc_big")))
      .select("doc_small", "doc_big").distinct()
    val sa = sigs.select(col("doc_id").as("doc_small"), col("sh").as("sha"))
    val sb = sigs.select(col("doc_id").as("doc_big"), col("sh").as("shb"))
    val inter = call_function("sorted_intersect_count", col("sha"), col("shb"))
    cands.join(sa, "doc_small").join(sb, "doc_big")
      .withColumn("inter", inter)
      .filter(col("inter") * 5 >= size(col("sha")) * 4)
      .select(col("doc_small"), col("doc_big"),
        (col("inter").cast("double") / size(col("sha"))).as("containment"))
      .orderBy("doc_small", "doc_big")
  }

  /** SPEC-ONLY all-pairs containment model (never registered — the
    * O(n²) reference the lossless-recall spec compares against). */
  private[graft] def containmentPairsAllPairsOf(corpusDf: DataFrame): DataFrame = {
    val d = withShingles(corpusDf).select("doc_id", "sh")
    val a = d.select(col("doc_id").as("doc_small"), col("sh").as("sha"))
    val b = d.select(col("doc_id").as("doc_big"), col("sh").as("shb"))
    val inter = call_function("sorted_intersect_count", col("sha"), col("shb"))
    a.crossJoin(b)
      .filter(size(col("sha")) < size(col("shb")) ||
        (size(col("sha")) === size(col("shb")) && col("doc_small") < col("doc_big")))
      .withColumn("inter", inter)
      .filter(col("inter") * 5 >= size(col("sha")) * 4)
      .select(col("doc_small"), col("doc_big"),
        (col("inter").cast("double") / size(col("sha"))).as("containment"))
      .orderBy("doc_small", "doc_big")
  }

  /** Duplicate-cluster canonicalization — the pass a dedup pipeline runs
    * AFTER pair generation: near-dup similarity is not transitive
    * (a~b, b~c does not imply a~c), so keep-one-per-pair over-deletes;
    * the correct unit is the connected component of the pair graph, with
    * one canonical representative (min doc_id) retained per component.
    *
    * Connected components by min-label propagation: every node starts
    * labeled with its own id; each round every node takes the min of its
    * own and its neighbors' labels; fixpoint in O(component diameter)
    * rounds. Dup components are shallow (stars/short chains — docs
    * similar to a common ancestor; measured: 1 propagation round + 1
    * confirm on the synthetic corpus); `localCheckpoint` caps lineage
    * per round exactly like [[graft.operators.GraphOps.frontierBfs]].
    * Each round is one key-partitioned join + hash agg on (node) — no
    * all-pairs, scales with |edges|. The alternating large-star/
    * small-star optimization (Kiveris et al., "Connected Components in
    * MapReduce") drops in here if component diameters ever grow; for
    * dup graphs they don't (path-halving was tried and measured a net
    * loss: it doubles per-round work to cut rounds that are already 2). */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame =
    dupClustersOf(ngramJaccardPairsUnsorted(spark, sfDir))

  /** Injectable form of [[dupClusters]]: components of an arbitrary
    * (doc_a, doc_b) pair list. */
  def dupClustersOf(pairsDf: DataFrame): DataFrame = {
    // component size via a window over the label key — one exchange on
    // cluster_id; the earlier groupBy+re-join form paid an aggregate
    // exchange AND a join pass over the same data
    val wCl = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    ccLabels(pairsDf)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("csize", count(lit(1)).over(wCl))
      .select(col("doc_id"), col("cluster_id"), col("csize"),
        (col("doc_id") === col("cluster_id")).cast("long").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Min-label connected components of a (doc_a, doc_b) pair list:
    * (node, label) with label = the component's minimum doc_id. The
    * one connected-components engine, under [[dupClustersOf]] and
    * [[dedupSurvivors]]. */
  private[graft] def ccLabels(pairsDf: DataFrame): DataFrame = {
    val pairs = pairsDf.select("doc_a", "doc_b")
    // undirect the pair list in ONE pass (explode of both orientations)
    // — the union-of-two-selects form re-executed the whole upstream
    // pair-generation plan once per branch. Then hash-partition the
    // (static) edge list by the join key ONCE before checkpointing
    // (localCheckpoint preserves the physical partitioning in the
    // LogicalRDD), so every propagation round's equi-join reuses it and
    // only the label side — one narrow (node, label) row per vertex —
    // crosses an exchange
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .localCheckpoint()
    // SEED with the first propagation round fused into the edge pass:
    // label(n) = min(n, min of n's neighbors), ONE aggregate over the
    // already-dst-partitioned checkpointed edges (no exchange, and —
    // because edges carry both orientations — the node set IS the dst
    // key set, so this also replaces the old distinct() exchange). A
    // star component converges at seed time; a short chain needs one
    // round fewer than the identity seed did.
    var labels = edges.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("m"))
      .select(col("node"), least(col("node"), col("m")).as("label"))
    // fixpoint detection by the MONOTONE label sum: labels only ever
    // decrease, so sum(label) strictly decreases until the fixpoint —
    // one scalar aggregate instead of an old-vs-new compare join. The
    // sum accumulates in DECIMAL(38,0), which is exact up to ~1e19
    // nodes of Long.MaxValue labels — unlike Spark's non-ANSI Long
    // sum, which wraps silently and could in principle alias two
    // distinct label states into one value and end a round early. The
    // sums ride the checkpoint's own materialization job as `observe`
    // metrics (CollectMetrics accumulators).
    //
    // TWO propagation rounds per materialized job: the per-job cost on
    // local mode (and the per-action driver round-trip on a cluster) is
    // the floor for this query — the lineage between checkpoints is two
    // (join + agg) pairs, safely re-computable on executor loss. Each
    // round observes its own sum, so convergence detection keeps
    // round granularity: equal sums across the two sub-rounds of ONE
    // job mean the second sub-round changed nothing — fixpoint.
    def propagate(l: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame =
      // per-node min over {own label} ∪ {neighbors' labels}: the self
      // label rides the same hash aggregate as the neighbor labels, so
      // a round is ONE equi-join + ONE map-side-combined agg
      edges.join(l, edges("dst") === l("node"))
        .select(col("src").as("node"), col("label"))
        .unionAll(l)
        .groupBy("node").agg(min(col("label")).as("label"))
        .observe(obs, coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("lsum"))
    var converged = false
    var it = 0
    while (!converged) {
      it += 1
      val o1 = org.apache.spark.sql.Observation(s"cc_${it}a")
      val o2 = org.apache.spark.sql.Observation(s"cc_${it}b")
      val next = propagate(propagate(labels, o1), o2).localCheckpoint()
      val s1 = o1.get("lsum").asInstanceOf[java.math.BigDecimal]
      val s2 = o2.get("lsum").asInstanceOf[java.math.BigDecimal]
      converged = s1.compareTo(s2) == 0
      labels = next
    }
    labels
  }

  /** Spec-only reference model for [[ngramJaccardPairs]]: unblocked
    * all-pairs Jaccard over the same corpus and threshold. O(n²) by
    * definition — never registered as a query; exists so tests can
    * assert the prefix-filtered join is EXACTLY equal to it (prefix
    * filtering is lossless, unlike LSH). */
  def ngramJaccardPairsAllPairs(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPairsAllPairsOf(corpus(spark, sfDir))

  /** Injectable all-pairs model (see [[ngramJaccardPairsOf]]). */
  def ngramJaccardPairsAllPairsOf(corpusDf: DataFrame): DataFrame = {
    val d = withShingles(corpusDf).select("doc_id", "sh")
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark decontamination — the pre-training hygiene pass: flag
    * training docs sharing any word 8-gram with an evaluation set
    * (the standard n-gram-overlap contamination test). The eval set is
    * synthesized deterministically as a 10-token window (tokens 6–15)
    * of every 50th doc, so contamination exists by construction at
    * every scale factor and both engines build the identical set.
    *
    * Scale shape: both sides are narrow (doc_id, 8-gram-hash)
    * projections; the eval side is distinct grams — a small fraction of
    * the corpus (the benchmark suite), broadcast at bench scale, a
    * shuffle equi-join on the gram beyond — and the per-doc count is
    * one map-side-combined aggregate. Never all-pairs: docs only meet
    * through shared grams, exactly like the dedup ladder. Grams travel
    * as their codegen'd 8-fold polynomial hash (shinglek_hashes), not
    * as ~60-byte concatenated strings: the string-HOF form cost ~17 s
    * at sf0.1 in interpreted per-element lambdas and shuffled 8× wider
    * rows; both engines hash identically so the join is unchanged. */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val ev = evalGramFrame(spark, sfDir) // pinned distinct eval grams
    d.select(col("doc_id"),
        explode(expr("shinglek_hashes(word_poly_hashes(lower(text)), 8)")).as("g"))
      .join(ev, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** [[contamination]] with an EXPLICIT broadcast Bloom prefilter — the
    * 100 TB form of the membership probe: when the eval-set gram list
    * outgrows the broadcast-hash-join threshold, an m-bit Bloom filter
    * (built by one aggregate over the eval grams, ~1.2 bytes/key at 1%
    * FPR) still broadcasts, and the train-side scan drops ~99% of its
    * grams BEFORE the shuffle equi-join. The join then verifies the
    * survivors exactly — Bloom has no false negatives, so the result is
    * identical to [[contamination]] and shares its oracle; the filter
    * only moves work off the exchange. Uses Spark's own
    * BloomFilterAggregate/MightContain (surfaced via GraftExtensions —
    * the same machinery the optimizer's runtime-filter rewrite injects,
    * here placed deliberately).
    *
    * The filter is SIZED FROM THE MANIFEST, not a constant: the
    * sampled-doc gram bound ([[evalGramCount]] — parquet-footer
    * arithmetic, zero jobs) fixes the item estimate, and bits =
    * 10×items holds the FPR at or below ~0.8% no matter how the eval
    * suite grows — a hardcoded estimate the corpus outgrows would
    * silently degrade the prefilter to a pass-through (still correct,
    * no longer pruning), while an upper bound only oversizes the
    * filter and prunes harder. */
  def contaminationBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    // the eval side is read twice (bloom build, verify join) — both
    // off the catalog's pinned rows; the sizing bound costs no job
    val ev = evalGramFrame(spark, sfDir)
    val nEval = math.max(evalGramCount(spark, sfDir), 1024L)
    val nBits = 10L * nEval
    // might_contain demands its bloom input be a SCALAR SUBQUERY (the
    // shape InjectRuntimeFilter builds), not a join column — so the
    // one-row bloom aggregate plan is attached as ScalarSubquery and the
    // probe is a plain Filter over the train-side gram scan
    val bloomPlan = ev.agg(
      expr(s"graft_bloom_agg(g, CAST($nEval AS BIGINT), CAST($nBits AS BIGINT))").as("bf"))
      .queryExecution.analyzed
    val grams = d.select(col("doc_id"),
      explode(expr("shinglek_hashes(word_poly_hashes(lower(text)), 8)")).as("g"))
    val gramsPlan = grams.queryExecution.analyzed
    val gAttr = gramsPlan.output.find(_.name == "g").get
    val probe = org.apache.spark.sql.catalyst.plans.logical.Filter(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.ScalarSubquery(bloomPlan),
        gAttr),
      gramsPlan)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, probe)
      .join(ev, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Per-doc minhash signature (array of 8 mins over the permuted
    * shingle hashes) and the LSH band keys: 2 bands × 4 rows. Wide
    * bands matter on this corpus — the shared ~30-word vocabulary gives
    * random pairs Jaccard ≈ 0.1, and 2-row bands admit j² ≈ 1% of all
    * pairs as candidates (quadratic blowup at sf0.1); 4-row bands admit
    * j⁴ ≈ 0.01% while still catching the j ≥ 0.5 near-dups. */
  private def withMinhashBands(df: DataFrame): DataFrame =
    minhashBandsFromShingles(withShingles(df))

  /** The band build from an ALREADY-SHINGLED (doc_id, sh, ...) frame —
    * split out so consumers that need BOTH the exact-Jaccard and the
    * LSH arm ([[lshQuality]]) pay the shingle build once. */
  private def minhashBandsFromShingles(hashed: DataFrame): DataFrame = {
    val sigs = MinhashParams.zipWithIndex.foldLeft(hashed) {
      case (acc, ((a, b), i)) =>
        acc.withColumn(s"mh$i",
          array_min(transform(col("sh"),
            h => ((h % MinhashRed) * a + b) % MinhashP)))
    }
    sigs.withColumn("bands", array((0 until 2).map(i =>
      concat_ws("_", lit(i), col(s"mh${4 * i}"), col(s"mh${4 * i + 1}"),
        col(s"mh${4 * i + 2}"), col(s"mh${4 * i + 3}"))): _*))
  }

  /** (doc_id, band-key) rows for any (doc_id, text) frame — the LSH
    * banding surface shared by the batch pair pipeline and the
    * STREAMING near-dup admission filter
    * ([[graft.streaming.DocStreamOps.nearDupCandidates]]); works on
    * streaming frames too (every step is a narrow projection). */
  private[graft] def bandsOf(df: DataFrame): DataFrame =
    withMinhashBands(df)
      .select(col("doc_id"), explode(col("bands")).as("bkey"))

  /** MinHash+LSH near-dup detection over the dup-seeded corpus:
    * signature → band → bucket self-join → candidate pairs → exact
    * Jaccard verify (≥ 0.5). The candidate set is tiny relative to
    * all-pairs; the verify join only touches candidates. Signatures
    * come from the session catalog's pinned frames (the plan references
    * them three times — band explode and both verify sides — and
    * recomputing the hash pipeline per reference tripled the query's
    * cost at sf0.1 before they were pinned); the verified pair set is
    * itself the pinned [[lshPairsFrame]]. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshPairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** [[minhashLsh]] without the presentation sort — the composable form
    * ([[dedupSurvivors]] feeds it straight into the CC loop, where a
    * pre-sort would be a wasted range exchange). Both forms read the
    * session catalog's pinned pair frame ([[lshPairsFrame]]). */
  private[graft] def minhashLshPairs(spark: SparkSession, sfDir: String): DataFrame =
    lshPairsFrame(spark, sfDir)

  /** MinHash+LSH via ONE-PERMUTATION HASHING (Li/Owen/Zhang, NIPS 2012,
    * public) — the modern signature build: instead of k permutations
    * (k passes over every shingle — [[minhashLsh]] evaluates 8 affine
    * hashes per shingle), hash each shingle ONCE and split the hash
    * space into k BINS (h mod 8); slot i is the min hash landing in bin
    * i. On a 100 TB corpus the signature build is the dominant dedup
    * cost and OPH cuts its arithmetic k-fold. Empty bins (short docs)
    * are filled by ROTATION densification (borrow the nearest non-empty
    * slot to the cyclic right, offset by d·P so borrowed values can't
    * fake agreement at different distances — Shrivastava/Li's scheme).
    * Everything is row-local array math; downstream is the SAME band →
    * bucket-join → exact-Jaccard-verify pipeline, same output contract
    * as [[minhashLsh]]. The verify makes the weaker/cheaper signature
    * safe: candidates differ, surviving pairs are still exact-Jaccard
    * ≥ 0.5 (a SUBSET relationship with minhashLsh does NOT hold —
    * different signature families, different candidate sets — which is
    * exactly what the measurement shows). */
  def minhashOph(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    require(k > 0 && k % 4 == 0,
      s"k must be a positive multiple of 4 (4 slots per band), got $k")
    val sigs0 = shingleFrame(spark, sfDir) // pinned (doc_id, sh)
    val slots = transform(sequence(lit(0), lit(k - 1)),
      i => array_min(filter(col("sh"), h => pmod(h, lit(k.toLong)) === i)))
    val withSlots = sigs0.withColumn("slots", slots)
    // rotation densification: first non-null slot at cyclic distance d,
    // offset d·P — row-local, ≤ k² lookups per doc
    val dense = transform(sequence(lit(0), lit(k - 1)), i =>
      element_at(
        filter(
          transform(sequence(lit(0), lit(k - 1)), d =>
            when(element_at(col("slots"),
                (pmod(i + d, lit(k)) + 1).cast("int")).isNotNull,
              element_at(col("slots"),
                (pmod(i + d, lit(k)) + 1).cast("int")) + d * lit(MinhashP))),
          x => x.isNotNull), 1))
    val sigs = withSlots.withColumn("ds", dense)
      .select(col("doc_id"), col("sh"),
        array((0 until k / 4).map(b => concat_ws("_", lit(b),
          element_at(col("ds"), 4 * b + 1), element_at(col("ds"), 4 * b + 2),
          element_at(col("ds"), 4 * b + 3), element_at(col("ds"), 4 * b + 4))): _*)
          .as("bands"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col("doc_id"), explode(col("bands")).as("bkey"))
    val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** LSH PARAMETER SWEEP — the tuning measurement that picks (bands,
    * rows-per-band) before a 100 TB dedup run: the same 8-component
    * signature is banded four ways ((8×1), (4×2), (2×4), (1×8)) and
    * each configuration reports its candidate volume, verified-pair
    * count, and exact integer precision/recall in basis points.
    * Ground truth needs no all-pairs scan: every banding's candidates
    * are a SUBSET of (8×1)'s (a pair agreeing on an r-hash band agrees
    * on each single hash in it), so (8×1)'s verified pairs ARE the
    * recall denominator. Moving down the sweep trades recall for
    * precision/candidate volume — the empirical S-curve the b·r
    * formulas predict, measured on the actual corpus.
    *
    * Scale shape: the corpus side reads the catalog's pinned shingle
    * frame (only the sweep's own half-truncated variants shingle
    * fresh); the (sh, sig) union is persisted within-plan and shared
    * by all four configs, then ONE single-component bucket self-join
    * feeds a per-pair agreement bitmask that decides every config's
    * candidacy row-locally and each distinct pair is verified once
    * (r16 — the r15 form joined all 15 band keys and re-verified each
    * pair once per config; see the in-body comment for the
    * equivalence); stat outputs are 4 rows. Caller releases the
    * within-plan persist via clearCache(). */
  def minhashBandSweep(spark: SparkSession, sfDir: String): DataFrame = {
    // the dup-seeded corpus is BIMODAL (exact/prefixed copies at j ≈ 1,
    // everything else at j ≈ 0), where every banding agrees — add a
    // HALF-TRUNCATED variant (first half of the space-split words,
    // j ≈ 0.5 against its original: each minhash agrees w.p. ≈ 0.5) so
    // the configurations actually separate: P(candidate) runs from
    // ~1−0.5⁸ ≈ .996 (8×1) down to 0.5⁸ ≈ .004 (1×8) on these pairs —
    // the S-curve the sweep exists to measure
    val halves = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 300000).as("doc_id"), col("source"),
        expr("array_join(slice(split(text, ' '), 1, " +
          "CAST(size(split(text, ' ')) DIV 2 AS INT)), ' ')").as("text"))
    // corpus side reads the pinned shingle frame; only the sweep's own
    // half-truncated variants pay a fresh (and 10×-smaller) shingle
    // build. unionByName: both sides are (doc_id, sh).
    val sigs = minhashBandsFromShingles(
        shingleFrame(spark, sfDir).unionByName(
          withShingles(halves).select("doc_id", "sh")))
      .select(col("doc_id"), col("sh"),
        array((0 until 8).map(i => col(s"mh$i")): _*).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ALL FOUR configurations decided from ONE single-component
    // self-join (r16; the r15 form exploded all 15 band keys of the
    // four configs into one string-keyed join and DISTINCTed the
    // combined (cfg, a, b) multiset — JobProfile put that stage at
    // 1.8 s of the 5.9 s warm total). A pair is a candidate of config
    // (b, r) iff some aligned run of r consecutive signature
    // components all agree — band-key equality is exactly
    // componentwise equality — so the per-pair agreement BITMASK over
    // the 8 single components, computable from the (8×1) join alone,
    // decides every config's candidacy ROW-LOCALLY (guide §2.3
    // shuffle keys not payloads, §2.4 share exchanges):
    //   · the explode ships 8 (int, long) keys per doc, not 15 strings;
    //   · the shuffled multiset is only the single-component collision
    //     volume (the subset property: every config's candidates are a
    //     subset of (8×1)'s, so the other 7 band keys' collision rows
    //     were pure re-derivation);
    //   · each distinct pair is verified ONCE (one jaccard, one pair of
    //     signature-side joins) instead of once per config it appears
    //     in (Σ_cfg |C_cfg| rows carried the sh arrays before);
    //   · the four configs' counts fold in ONE map-side-combined
    //     global agg — which emits its row even over zero pairs, so
    //     the 0-candidate restore needs no left join.
    val cfgs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
    val comps = sigs.select(col("doc_id"),
      posexplode(col("sig")).as(Seq("ci", "v")))
    val pairMask = comps.select(col("doc_id").as("doc_a"), col("ci"), col("v"))
      .join(comps.select(col("doc_id").as("doc_b"), col("ci"), col("v")),
        Seq("ci", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(expr("bit_or(shiftleft(1, ci))").as("mask"))
    // mask bit i set ⟺ sig_a[i] = sig_b[i]; config (b, r) candidacy =
    // any of its b aligned r-bit windows fully set
    def isCand(b: Int, r: Int): Column =
      (0 until b).map { i =>
        val band = ((1 << r) - 1) << (r * i)
        col("mask").bitwiseAND(lit(band)) === lit(band)
      }.reduce(_ || _)
    val verifiedPairs = pairMask
      .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("mask"), jaccard(col("sha"), col("shb")).as("j"))
    val statAggs = cfgs.zipWithIndex.flatMap { case ((b, r), ci) => Seq(
      sum(when(isCand(b, r), 1L).otherwise(0L)).as(s"nc$ci"),
      sum(when(isCand(b, r) && col("j") >= 0.5, 1L).otherwise(0L))
        .as(s"nv$ci"))
    }
    val statRow = verifiedPairs.agg(statAggs.head, statAggs.tail: _*)
    // localCheckpoint the 4-row stat table BEFORE deriving the recall
    // denominator from it: `truth` re-reads the materialized rows
    // instead of re-executing the candidate-join subtree a second time
    val all = statRow
      .select(explode(array(cfgs.zipWithIndex.map { case ((b, r), ci) =>
        struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          // zero pairs: the global agg still emits its row, with NULL
          // sums — pin both stats to 0 so the stat row stays
          // well-typed on both engines
          coalesce(col(s"nc$ci"), lit(0L)).as("n_candidates"),
          coalesce(col(s"nv$ci"), lit(0L)).as("n_verified"))
      }: _*)).as("c"))
      .select(col("c.bands").as("bands"),
        col("c.rows_per_band").as("rows_per_band"),
        col("c.n_candidates").as("n_candidates"),
        col("c.n_verified").as("n_verified"))
      .localCheckpoint()
    val truth = all.filter(col("bands") === 8)
      .select(col("n_verified").as("n_true"))
    all
      .crossJoin(broadcast(truth))
      .select(col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_verified"),
        expr("CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_verified * 10000 DIV n_candidates END").as("precision_bp"),
        expr("CASE WHEN n_true = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_verified * 10000 DIV n_true END").as("recall_bp"))
      .orderBy(col("bands").desc)
  }

  /** MinHash ESTIMATOR accuracy — the measurement query for the dedup
    * family, playing the role [[graft.operators.SimilarityOps.annRecall]]
    * plays for ANN: every LSH candidate pair carries the
    * signature-agreement estimate (matching components out of 8 — the
    * unbiased MinHash estimate of Jaccard) NEXT TO the exact shingle
    * Jaccard it approximates. This is what a curation run re-checks
    * after re-tuning signature length or band width: if n_match/8
    * drifts from the exact values at the 0.5 threshold, the bands are
    * mis-sized. Same scale shape as [[minhashLsh]] (banded bucket
    * candidates, never all-pairs); the additions are eight integer
    * equality checks per candidate pair. */
  def minhashJaccardEst(spark: SparkSession, sfDir: String): DataFrame = {
    // signature components recomputed row-locally over the PINNED
    // shingle frame (the catalog's dominant-cost split: the text →
    // shingle build is cached; the 8 affine mins are cheap arithmetic
    // over pinned arrays); the within-plan persist still shares the
    // wide (sh, sig, bands) rows across the three plan references
    val sigs = minhashBandsFromShingles(shingleFrame(spark, sfDir))
      .select(col("doc_id"), col("sh"), col("bands"),
        array((0 until 8).map(i => col(s"mh$i")): _*).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col("doc_id"), explode(col("bands")).as("bkey"))
    val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
      col("sig").as("siga"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
      col("sig").as("sigb"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _)
          .as("n_match"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The production dedup pipeline END-TO-END, answering the question a
    * training-data curation run actually asks: which documents SURVIVE,
    * and which retained representative replaced each dropped one.
    * Composes the scale-safe pieces in sequence — MinHash-LSH banded
    * candidates (never all-pairs) → exact Jaccard verify (≥ 0.5) →
    * min-label connected components over the verified pair graph →
    * keep the minimum doc_id of each cluster, everything unclustered
    * survives untouched.
    *
    * 100 TB shape: the pair generation is the banded bucket equi-join
    * ([[minhashLsh]]); the CC loop is O(component diameter) rounds of
    * one equi-join + one map-side-combined agg over EDGES, not corpus
    * rows ([[dupClustersOf]]); and the final decision join brings one
    * narrow (doc_id, label) row per clustered doc back to the corpus —
    * dup-cluster membership is a small fraction of any real corpus, so
    * the label side broadcasts and the corpus is never re-shuffled. */
  def dedupSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = ccLabels(minhashLshPairs(spark, sfDir))
      .select(col("node").as("doc_id"), col("label"))
    corpus(spark, sfDir).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("keep_id"),
        (col("doc_id") === coalesce(col("label"), col("doc_id")))
          .cast("long").as("is_kept"))
      .orderBy("doc_id")
  }

  /** 48-bit SimHash over the word-hash multiset: bit j is set when at
    * least half the words have bit j set in their hash. Row-local,
    * shuffle-free, via the native simhash48 expression (one loop per
    * row; the interpreted HOF form cost 48 array passes per document).
    * Bits limited to 48 because polyHash values carry ~50 significant
    * bits. */
  def simhashValue: Column =
    expr("simhash48(word_poly_hashes(lower(text)))")

  /** Per-doc SimHash fingerprints over the dup-seeded corpus. */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    corpus(spark, sfDir)
      .select(col("doc_id"), simhashValue.as("simhash"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs at Hamming radius ≤ 1, by BIT-FLIP NEIGHBOR
    * ENUMERATION over DISTINCT signature values (the Manku/Jain/Sarma
    * WWW'07 simhash-dedup move, radius-1 form): a pair is within
    * hamming 1 iff sim_a == sim_b or sim_a == sim_b XOR 2^j for one j,
    * so the DISTINCT values joined against their own 48 one-bit flips
    * find every qualifying VALUE pair with one narrow equi-join — no
    * bucket self-join, no quadratic candidate multiset, no pair-level
    * distinct. Doc pairs then come from two output-sized expansions:
    * equal-value pairs (signature self-join on the value) and
    * cross-value pairs (value-pair table joined back to the signature
    * side per endpoint).
    *
    * Why this replaced the 2×24-bit chunk bucket join (r15, guide §2.3
    * /§2.4 — measured): the ~30-word synthetic vocabulary saturates the
    * high half of the signature (one 24-bit bucket held 4 667 of 6 000
    * docs at sf0.1), so the bucket join materialized and DISTINCTed
    * 11.6 M wide candidate rows to emit 269 k pairs — 17 s of task time.
    * Value-level enumeration touches |V| = 2 519 values × 49 keys and
    * only output-sized doc rows. At 100 TB the contrast sharpens: the
    * value table is the dedup-signature analogue of "shuffle keys, not
    * payloads" (guide §8), and radius-1 enumeration is exact — same
    * pairs, oracle unchanged.
    * The signature side is persisted: three consumers reference it.
    * Contract: the caller releases the persisted blocks via
    * spark.catalog.clearCache() after the consuming action. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.spread(corpus(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), simhashValue.as("simhash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vals = sh.select(col("simhash")).distinct()
    // every 1-bit flip of every distinct value; equality against the
    // value table yields exactly the hamming-1 value pairs (each found
    // from both endpoints; v < w keeps one canonical copy). The (v, v)
    // rows carry the hamming-0 groups through the SAME expansion
    // pipeline, so the signature side is exchanged once and reused by
    // both expansion joins (one fused pass instead of a union of two).
    val flips = vals.select(col("simhash").as("v"),
      explode(array((0 until 48).map(j =>
        col("simhash").bitwiseXOR(lit(1L << j))): _*)).as("w"))
    val vpairs = flips.join(vals.select(col("simhash").as("w")), Seq("w"))
      .filter(col("v") < col("w")).select(col("v"), col("w"))
      .unionAll(vals.select(col("simhash").as("v"), col("simhash").as("w")))
    // expand each value pair through the signature side per endpoint:
    // equal-value groups keep id_v < id_w (each unordered pair once),
    // cross-value pairs arrive exactly once and are doc-ordered by
    // least/greatest
    vpairs
      .join(sh.select(col("doc_id").as("id_v"), col("simhash").as("v")), Seq("v"))
      .join(sh.select(col("doc_id").as("id_w"), col("simhash").as("w")), Seq("w"))
      .filter(col("v") =!= col("w") || col("id_v") < col("id_w"))
      .select(least(col("id_v"), col("id_w")).as("doc_a"),
        greatest(col("id_v"), col("id_w")).as("doc_b"),
        when(col("v") === col("w"), lit(0L)).otherwise(lit(1L)).as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Synthetic "today's crawl" delta against the `documents` snapshot:
    * every 10th doc re-fetched verbatim (id+300000 — an exact re-crawl),
    * every (10k+3)rd with a 2-token prefix edit (id+400000 — a near
    * re-crawl), every (10k+7)th with its word order reversed (id+500000
    * — same vocabulary, different content: genuinely new). Deterministic
    * on both engines at every scale factor. */
  def incrementalDelta(spark: SparkSession, sfDir: String): DataFrame = {
    // one scan, one conditional projection — the branches are disjoint
    // (doc_id mod 10 ∈ {0, 3, 7}), so no explode is even needed
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val m = col("doc_id") % 10
    d.filter(m.isin(0, 3, 7))
      .select(
        (col("doc_id") + when(m === 0, 300000)
          .when(m === 3, 400000).otherwise(500000)).as("doc_id"),
        when(m === 0, col("text"))
          .when(m === 3, concat(lit("minor edit "), col("text")))
          .otherwise(array_join(reverse(split(col("text"), " ")), " "))
          .as("text"))
  }

  /** Incremental (snapshot ⟂ delta) dedup — the nightly shape of a crawl
    * pipeline and the generalization of reference O7's visited-set check
    * (index.py:162-163: "have I seen this URL") to content identity:
    * yesterday's corpus is an immutable snapshot; today's delta must be
    * verdicted exact-dup / near-dup / new against it WITHOUT re-shuffling
    * or re-signaturing the base.
    *
    * Verdicts, in precedence order, with the matched snapshot doc:
    *  - `exact`: content-hash (md5) collision with a base doc;
    *  - `near`: word-trigram Jaccard >= 0.5 with a base doc, found by the
    *    same prefix-filter join as [[ngramJaccardPairs]] but TWO-SIDED
    *    (delta prefixes x base prefixes — never delta x delta or
    *    base x base);
    *  - `new`: neither.
    *
    * Scale shape: the base contributes narrow projections only — an
    * (md5, id) lookup table and its shingle prefixes, both of which a
    * real deployment precomputes once at snapshot-publish time (the
    * shingle document frequencies here are likewise computed from the
    * BASE alone, exactly what a shipped snapshot's statistics would
    * hold; delta-only shingles take df 0 and sort first, and since both
    * sides rank by the same (df, s) total order the prefix pigeonhole
    * guarantee is unaffected). The delta side is the small one — its
    * prefix table broadcasts; every join is delta-vs-base, so daily cost
    * is O(|delta| + matching base rows), not O(|base|) re-processing. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val delta = incrementalDelta(spark, sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // exact: hash lookup against the snapshot — base is a narrow
    // (md5, id) projection, never the text
    val baseMd5 = base.select(md5(col("text").cast("binary")).as("h"),
      col("doc_id").as("base_id"))
    val exact = delta.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(baseMd5, "h")
      .groupBy("doc_id").agg(min(col("base_id")).as("exact_base"))
    // base side: the pinned snapshot shingle frame — exactly the
    // "shipped snapshot's precomputed signatures" the scaladoc
    // describes; a nightly run never re-signatures yesterday's corpus
    val bs = docShingleFrame(spark, sfDir)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    val ds = withShingles(delta).select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bex = bs.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val dex = ds.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    // snapshot-owned statistics: df over the base only
    val dfq = bex.groupBy("s").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "s")
    val bpr = bex.join(dfq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= expr("n DIV 2 + 1"))
      .select(col("doc_id").as("base_id"), col("n").as("nb"), col("s"))
    val dpr = dex.join(dfq, Seq("s"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= expr("n DIV 2 + 1"))
      .select(col("doc_id"), col("n").as("nd"), col("s"))
    // candidate generation: base prefixes stay in place, the delta
    // prefix table broadcasts (the delta is the small side by
    // construction of the workload)
    val cand = bpr.join(broadcast(dpr), "s")
      .filter(least(col("nb"), col("nd")) * 2 >= greatest(col("nb"), col("nd")))
      .select("doc_id", "base_id").distinct()
    val near = cand
      .join(ds.select(col("doc_id"), col("sh").as("shd")), "doc_id")
      .join(bs.select(col("doc_id").as("base_id"), col("sh").as("shb")), "base_id")
      .filter(jaccard(col("shd"), col("shb")) >= 0.5)
      .groupBy("doc_id").agg(min(col("base_id")).as("near_base"))
    delta.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_base"), col("near_base"), lit(-1L)).as("base_id"),
        when(col("exact_base").isNotNull, "exact")
          .when(col("near_base").isNotNull, "near")
          .otherwise("new").as("verdict"))
      .orderBy("doc_id")
  }

  /** ExactSubstr-style duplicated-span removal (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * public): any word-8-gram that occurs more than once in the corpus
    * keeps only its FIRST occurrence (minimum (doc_id, position));
    * every word covered by a non-canonical occurrence is cut, and the
    * surviving words are re-joined into the deduplicated text. This is
    * the span-level dedup that exact-doc and near-doc dedup both miss
    * (boilerplate shared between otherwise-distinct documents), run on
    * the seeded [[corpus]] so dd_exact's planted copies demonstrably
    * collapse to their canonical doc.
    *
    * Scale shape (the paper's suffix-array pass re-expressed as
    * dataflow): grams travel as 8-byte polynomial hashes
    * (shinglek_hashes — never the 8-word strings), so the ONE wide
    * exchange — the per-gram count/min window — carries
    * (doc_id, gpos, hash) rows. Removed positions come back as a
    * per-doc int set via one doc-keyed aggregation, and reassembly is
    * row-local array surgery on the original scan. First-occurrence
    * choice is the deterministic min over doc_id·1e9+pos — stable under
    * any partitioning or cluster size. (Production note: at 100 TB the
    * 60-bit hash space starts to see birthday collisions on ~1e12
    * grams; widen to 128-bit keys there — the plan shape is unchanged.) */
  def exactSubstrDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val n = 8
    val c = corpus(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
    val grams = c.select(col("doc_id"),
        posexplode(expr("shinglek_hashes(word_poly_hashes(lower(text)), 8)")))
      .select(col("doc_id"), (col("pos") + 1).as("gpos"), col("col").as("gh"))
    val wGram = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val rm = grams
      .withColumn("okey", col("doc_id") * lit(1000000000L) + col("gpos"))
      .withColumn("cnt", count(lit(1)).over(wGram))
      .withColumn("firstk", min(col("okey")).over(wGram))
      .filter(col("cnt") >= 2 && col("okey") =!= col("firstk"))
      .select(col("doc_id"),
        explode(sequence(col("gpos").cast("long"),
          (col("gpos") + (n - 1)).cast("long"))).as("wpos"))
      .groupBy("doc_id").agg(collect_set(col("wpos")).as("rm"))
    val ws = TextOps.words(col("text"))
    val kept = filter(
      transform(ws, (wd, i) => struct((i + 1).cast("long").as("p"), wd.as("wd"))),
      s => !array_contains(col("rmv"), s.getField("p")))
    c.join(rm, Seq("doc_id"), "left")
      .withColumn("rmv",
        coalesce(col("rm"), array().cast("array<long>")))
      // drop zero-token docs to match the oracle, whose final GROUP BY
      // runs over the token explode and so never sees a doc with no
      // words — without this filter such a doc would emit (0, 0, '')
      // here and nothing there (latent only: the synthetic corpus has
      // no empty texts, but the contract should not depend on that)
      .filter(size(ws) > 0)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", transform(kept, s => s.getField("wd"))).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** BLOCK-level corpus dedup — the CCNet/RefinedWeb line-dedup shape
    * (reference analogue: the set-membership dedup of index.py:151-153
    * applied below document granularity): the corpus is cut into
    * ALIGNED `block`-word units, every unit that repeats ANYWHERE in
    * the corpus is dropped except its globally-first occurrence
    * (smallest (doc_id, block_pos)), and each document's text is
    * reassembled from its surviving blocks. Boilerplate that recurs
    * across documents (headers, navigation, license banners) vanishes
    * from every copy but one while the containing documents survive.
    *
    * Contrast with [[exactSubstrDedup]]: that pass slides an
    * OVERLAPPING 8-gram window (any repeated run of >= 8 words,
    * regardless of alignment) and shuffles one hash per word; this
    * aligned pass shuffles one hash per BLOCK — `block`× fewer rows —
    * and is the cheap first-tier sweep a layered dedup runs before the
    * overlapping pass. The seeded corpus separates them: exact copies
    * lose every block, but the "extra words added " near-copies
    * (3-word prefix shift) share NO aligned block with their original
    * and pass through intact, exactly the misalignment blindness the
    * overlapping pass exists to close.
    *
    * Scale shape: block identity travels as a 16-byte md5 — never the
    * block text. One narrow (doc_id, bpos, bh) shuffle for the
    * first-occurrence window, one per-doc agg of removed positions,
    * then reassembly is ROW-LOCAL (the kept-index filter re-slices the
    * doc's own word array); the corpus itself crosses no exchange
    * beyond the final doc_id join. */
  def blockDedup(spark: SparkSession, sfDir: String,
                 block: Int = 8): DataFrame = {
    val c = corpus(spark, sfDir)
    val base = c.select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("n_blocks",
        expr(s"(size(ws) + ${block - 1}) DIV $block"))
    // per-row block fingerprints: (bpos, md5(block text)) — the text
    // itself never leaves the row
    val hashes = base.select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0L, n_blocks - 1), b -> struct(
             |  b AS bpos,
             |  md5(CAST(array_join(slice(ws, CAST(b * $block + 1 AS INT),
             |    $block), ' ') AS BINARY)) AS bh))""".stripMargin)).as("e"))
      .select(col("doc_id"), col("e.bpos").as("bpos"), col("e.bh").as("bh"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("bh")
    val rm = hashes
      .withColumn("okey", col("doc_id") * lit(1000000L) + col("bpos"))
      .withColumn("firstk", min(col("okey")).over(wB))
      .filter(col("okey") =!= col("firstk"))
      .groupBy("doc_id").agg(collect_set(col("bpos")).as("rm"))
    base.join(rm, Seq("doc_id"), "left")
      .withColumn("rmv", coalesce(col("rm"), array().cast("array<long>")))
      .select(col("doc_id"),
        col("n_blocks").cast("long").as("n_blocks"),
        (col("n_blocks") - size(col("rmv"))).cast("long").as("n_kept"),
        expr(s"""array_join(flatten(transform(
           |  filter(sequence(0L, n_blocks - 1),
           |    b -> NOT array_contains(rmv, b)),
           |  b -> slice(ws, CAST(b * $block + 1 AS INT), $block))), ' ')"""
          .stripMargin).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** Duplicated-span RUN-LENGTH AUDIT — the read-only advisor a corpus
    * owner runs BEFORE the destructive [[exactSubstrDedup]] pass: how
    * much text would the span dedup cut, and in runs of what length?
    * A removable position is a word-8-gram occurrence that is not the
    * global first occurrence of its gram (the exact set the dedup pass
    * cuts); consecutive removable positions within a document form a
    * RUN (gaps-and-islands), and a run of g grams covers g+7 words.
    * Output is the corpus-level run-length histogram: for each span
    * width, how many runs exist and how many documents carry one —
    * short-span mass is shared boilerplate, long-span mass is
    * wholesale copying (the memorization-risk signal of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models
    * Better" — public), and the two call for different pipeline
    * responses (span surgery vs document removal).
    *
    * Scale shape: identical to [[exactSubstrDedup]] up to the removable
    * set — grams travel as 8-byte polynomial hashes, ONE wide exchange
    * (the per-gram count/first window). The audit then adds one narrow
    * (doc_id, gpos) window for the island ids and two bounded
    * aggregates; the corpus text itself never crosses an exchange, and
    * the histogram output is O(max span width) rows at any corpus
    * size. Run on the seeded [[corpus]] so planted exact copies show
    * up as full-document-width runs at every scale factor. */
  def spanAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val n = 8
    val grams = corpus(spark, sfDir).select(col("doc_id"),
        posexplode(expr("shinglek_hashes(word_poly_hashes(lower(text)), 8)")))
      .select(col("doc_id"), (col("pos") + 1).as("gpos"), col("col").as("gh"))
    val wGram = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val removable = grams
      .withColumn("okey", col("doc_id") * lit(1000000000L) + col("gpos"))
      .withColumn("cnt", count(lit(1)).over(wGram))
      .withColumn("firstk", min(col("okey")).over(wGram))
      .filter(col("cnt") >= 2 && col("okey") =!= col("firstk"))
      .select("doc_id", "gpos")
    // gaps-and-islands: consecutive gpos share (gpos - row_number) —
    // the island window runs over removable rows only, a small
    // fraction of the gram volume
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("gpos")
    removable
      .withColumn("isl", col("gpos") - row_number().over(wDoc))
      .groupBy("doc_id", "isl").agg(count(lit(1)).as("run_grams"))
      .select(col("doc_id"), (col("run_grams") + (n - 1)).as("span_words"))
      .groupBy("span_words")
      .agg(count(lit(1)).as("n_runs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("span_words")
  }

  /** Blocked fuzzy RECORD LINKAGE (entity resolution, Newcombe 1959 /
    * Fellegi–Sunter tradition — public): match a "dirty" feed of
    * customer names back to the master table. The dirty feed is
    * synthesized DETERMINISTICALLY from the master itself (one of four
    * per-key corruptions: `#`→`-`, lowercase, dropped first char,
    * appended char), so the oracle replays byte-identical noise and the
    * true mapping is known — which is what lets the spec measure
    * linkage ACCURACY, not just shape.
    *
    * The dataflow is the canonical three-stage linkage at any scale:
    * (1) BLOCK — both sides key on the last 4 chars of the name's
    * digit run (noise-invariant here the way real blocking keys are
    * chosen to be: phonetic codes, zip prefixes); candidates come from
    * a block equi-join, never the |A|×|B| cross product. (2) VERIFY —
    * `levenshtein` edit distance ≤ 2 on case-folded names (identical
    * built-in both engines). (3) RESOLVE — best match per dirty record
    * = min (distance, custkey), one row_number window over candidate
    * rows only.
    *
    * Scale shape: block sizes are |table| / 10^4 here; at 100 TB the
    * block key widens with log N (more digit entropy, or a compound
    * key) to hold the per-block candidate volume constant — the knob
    * [[linkageBlockSweep]] MEASURES (dd_linkage_block_sweep: both key
    * widths on the same corpus, candidate volume + accuracy per
    * scheme), same role as LSH band width. A hot block (one
    * shared key) is the AQE skew-join case. The verify predicate runs
    * only inside blocks, and the resolve window partitions candidate
    * rows by dirty id — never the corpus. */
  def recordLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
    val variant = col("c_custkey") % 4
    val noisy = cust.select(
      col("c_custkey").as("n_id"),
      when(variant === 0, regexp_replace(col("c_name"), "#", "-"))
        .when(variant === 1, lower(col("c_name")))
        .when(variant === 2, expr("substr(c_name, 2)"))
        .otherwise(concat(col("c_name"), lit("X"))).as("n_name"))
    def blk(c: Column): Column =
      substring(regexp_replace(c, "[^0-9]", ""), -4, 4)
    val cand = noisy.withColumn("blk", blk(col("n_name")))
      .join(cust.select(col("c_custkey"), col("c_name"),
        blk(col("c_name")).as("blk")), Seq("blk"))
      .withColumn("dist",
        levenshtein(lower(col("n_name")), lower(col("c_name"))).cast("long"))
      .filter(col("dist") <= 2)
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("n_id")
      .orderBy(col("dist"), col("c_custkey"))
    cand.withColumn("rn", row_number().over(wN))
      .filter(col("rn") === 1)
      .select(col("n_id"), col("c_custkey").as("matched_custkey"), col("dist"))
      .orderBy("n_id")
  }

  /** Blocking-key SWEEP for [[recordLinkage]] — the measured form of
    * the scale knob that used to be documentation-only: the same
    * master/dirty corpus is blocked under BOTH the production last-4-
    * digit key (10^4 block space) and the widened last-6-digit key
    * (10^6 space), and each scheme reports its block-population bound
    * (n_blocks, max_block), its candidate volume BEFORE the verify
    * distance filter (n_cand — the cost the key exists to bound), and
    * its end-to-end linkage accuracy (n_linked, n_correct, acc_bp).
    * The [[minhashBandSweep]] pattern: what the per-block candidate
    * curve claims, a query measures. The readout a capacity planner
    * acts on: as N grows 100× the wide key holds max_block (and hence
    * per-block candidate volume, which grows as Σ|A_b|·|B_b|) near
    * constant while accuracy is UNCHANGED — the digit run is noise-
    * invariant under all four corruption variants, so widening the key
    * never splits a true match pair across blocks.
    *
    * Scale shape: per scheme, one block equi-join (never |A|×|B|), one
    * window over candidate rows partitioned by dirty id, and three
    * 1-row aggregates; the candidate frame is persisted so the volume
    * count and the resolve arm share one build (the lshQuality
    * discipline). Caller releases via clearCache(). */
  def linkageBlockSweep(spark: SparkSession, sfDir: String): DataFrame =
    linkageBlockSweepOn(Tables.load(spark, sfDir, "customer"))

  /** [[linkageBlockSweep]] with the master table injected — spec seam
    * for the boundedness contrast, which only materializes once N
    * exceeds the narrow key's 10^4 block space (the spec feeds a
    * synthetic master above that threshold; the sf0.01 oracle corpus
    * sits below it and blocks as singletons under both keys). */
  private[graft] def linkageBlockSweepOn(cust: DataFrame): DataFrame = {
    val variant = col("c_custkey") % 4
    val noisy = cust.select(
      col("c_custkey").as("n_id"),
      when(variant === 0, regexp_replace(col("c_name"), "#", "-"))
        .when(variant === 1, lower(col("c_name")))
        .when(variant === 2, expr("substr(c_name, 2)"))
        .otherwise(concat(col("c_name"), lit("X"))).as("n_name"))
    def blk(c: Column, w: Int): Column =
      substring(regexp_replace(c, "[^0-9]", ""), -w, w)
    val perScheme = Seq("digits4" -> 4, "digits6" -> 6).map { case (scheme, w) =>
      val nb = noisy.withColumn("blk", blk(col("n_name"), w))
      val cb = cust.select(col("c_custkey"), col("c_name"),
        blk(col("c_name"), w).as("blk"))
      val blocks = cb.groupBy("blk").agg(count(lit(1)).as("bn"))
        .agg(count(lit(1)).as("n_blocks"), max(col("bn")).as("max_block"))
      val cand = nb.join(cb, Seq("blk"))
        .withColumn("dist",
          levenshtein(lower(col("n_name")), lower(col("c_name"))).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val wN = org.apache.spark.sql.expressions.Window.partitionBy("n_id")
        .orderBy(col("dist"), col("c_custkey"))
      val acc = cand.filter(col("dist") <= 2)
        .withColumn("rn", row_number().over(wN)).filter(col("rn") === 1)
        .agg(count(lit(1)).as("n_linked"),
          count(when(col("n_id") === col("c_custkey"), 1)).as("n_correct"))
      blocks.crossJoin(nCand).crossJoin(acc) // three 1-row frames
        .select(lit(scheme).as("scheme"), col("n_blocks"), col("max_block"),
          col("n_cand"), col("n_linked"), col("n_correct"),
          when(col("n_linked") > 0,
            expr("n_correct * 10000 DIV n_linked")).as("acc_bp"))
    }
    perScheme.reduce(_ unionAll _).orderBy("scheme")
  }

  /** SOFT dedup — keep every duplicate but DOWNWEIGHT it by its cluster
    * size (SoftDeDup: w = 1/|cluster|, so each duplicate FAMILY
    * contributes one document's worth of training mass in expectation;
    * the sampling-weight alternative to [[dupClusters]]' keep-one
    * decision that recent pretraining-data work prefers, because hard
    * removal also deletes the natural up-weighting of genuinely popular
    * content). Weights are exact PARTS PER MILLION (1e6 div csize);
    * docs outside any dup cluster weigh 1e6. The per-document frame is
    * the output contract (a consumer folds Σw itself — it approximates
    * |unique families| ppm, the sanity check the weighting exists for).
    *
    * Scale shape: rides [[dupClustersOf]] (checkpointed min-label CC —
    * only docs that appear in a candidate PAIR enter the iteration);
    * the full corpus then LEFT-joins the cluster table once on doc_id
    * (cluster table ≤ dup docs, AQE broadcasts while it fits;
    * co-partitioned on doc_id at 100 TB). No new corpus shuffles. */
  def softDedupWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dupClustersOf(ngramJaccardPairsUnsorted(spark, sfDir))
      .select(col("doc_id"), col("cluster_id"), col("csize"))
    corpus(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("csize"), lit(1L)).as("csize"),
        expr("1000000 DIV coalesce(csize, 1)").as("weight_ppm"))
      .orderBy("doc_id")
  }

  /** Pairwise source-overlap (containment) matrix — the corpus-level
    * contamination diagnostic run BEFORE mixing sources into a
    * training set: for every ordered source pair (a, b), what share of
    * a's distinct word-trigram shingles also appears in b
    * (|Sₐ ∩ S_b| · 10000 div |Sₐ|, exact basis points)? High
    * containment means b republishes a (mirror sites, syndication) and
    * the mixture weights double-count; the asymmetric direction says
    * WHICH side is the subset. The per-document families
    * ([[ngramJaccardDedup]], [[containmentJoin]]) answer "which pairs
    * of documents"; this answers the curation-level "which pairs of
    * SOURCES", on the same shingle identity.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, shingle)
    * in one map-side-combined exchange — the same first move as every
    * dedup tier — then the self-join keys on the shingle hash with a
    * ≤|sources| fan-out per key and collapses immediately to the
    * |sources|²-sized matrix; document text never crosses a second
    * exchange. The complete matrix (zero-overlap pairs included) comes
    * from crossing the source-size table with itself: sources are a
    * bounded catalog (the mixture-weight contract), so that cross is
    * driver-scale. The distinct (source, shingle) frame is persisted
    * (sizes and both self-join sides read it); caller releases via
    * clearCache() after the consuming action. */
  def sourceOverlapMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    // per-shingle source SET instead of a shingle-keyed self-join (r15,
    // guide §2.3/§2.4): sources are a bounded catalog (≤|sources| per
    // shingle), so grouping the distinct (source, shingle) rows by
    // shingle and expanding the ordered source pairs ROW-LOCALLY emits
    // exactly the rows the self-join produced — Σ_gh |S_gh|·(|S_gh|−1)
    // — without exchanging the shingle frame twice through a join. The
    // grouped frame is persisted: sizes (explode → per-source count,
    // identical to counting g's rows per source) and the pair expansion
    // both read it. Caller releases via clearCache().
    val byGh = docShingleFrame(spark, sfDir) // pinned snapshot shingles
      .select(col("source"), explode(col("sh")).as("gh"))
      .distinct()
      .groupBy("gh").agg(collect_set(col("source")).as("ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = byGh.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_grams"))
    val shared = byGh
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
    sizes.select(col("source").as("src_a"), col("n_grams").as("n_a"))
      .crossJoin(broadcast(
        sizes.select(col("source").as("src_b"))))
      .filter(col("src_a") =!= col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"),
        coalesce(col("shared"), lit(0L)).as("n_shared"))
      .withColumn("containment_bp", expr("n_shared * 10000 DIV n_a"))
      .orderBy("src_a", "src_b")
  }

  /** Candidate-generation quality of the MinHash-LSH index — the
    * measurement a 100 TB dedup runs before TRUSTING its bands:
    * precision (what share of bucket-join candidates survive exact
    * verify) prices the wasted verify work; recall (what share of the
    * true J ≥ 0.5 pairs the bands surface at all) prices the silent
    * misses that no verify stage can recover. Ground truth is the
    * EXACT prefix-filtered Jaccard join ([[ngramJaccardPairs]] — never
    * all-pairs); candidates are the banded bucket pairs BEFORE their
    * verify tail. [[minhashBandSweep]] predicts these curves from the
    * signature model; this measures them against the real corpus.
    *
    * Scale shape: both arms read the session catalog's pinned frames
    * (truth IS [[ngramPairsFrame]]; bands come off [[signatureFrame]] —
    * the signature build is the dominant cost of any dedup tier and is
    * now paid once per corpus snapshot, not once per arm); the only
    * fresh work is the candidate bucket-join, persisted within-plan
    * because the volume count and the TP semi-join both read it, and
    * the three 1-row counts. Caller releases the candidate persist via
    * clearCache(). */
  def lshQuality(spark: SparkSession, sfDir: String): DataFrame = {
    // catalog path: truth is the PINNED exact-Jaccard pair frame and
    // bands come off the pinned signature frame — the only fresh work
    // is the candidate bucket-join + the three 1-row counts (the
    // measurement itself), not a third signature build
    val truth = ngramPairsFrame(spark, sfDir)
      .select("doc_a", "doc_b")
    val bands = signatureFrame(spark, sfDir)
      .select(col("doc_id"), explode(col("bands")).as("bkey"))
    val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    lshQualityTail(truth, cands)
  }

  /** [[lshQuality]] with the corpus injected — spec seam for the
    * no-candidate ANSI contract (0 candidates / 0 true pairs → NULL
    * rates, not DIVIDE_BY_ZERO). */
  private[graft] def lshQualityOn(corpusDf: DataFrame): DataFrame = {
    val shingled = withShingles(corpusDf)
      .select(col("doc_id"), col("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val truth = ngramJaccardPairsFromShingles(shingled)
      .select("doc_a", "doc_b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bands = minhashBandsFromShingles(shingled)
      .select(col("doc_id"), explode(col("bands")).as("bkey"))
    val cands = bands.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    lshQualityTail(truth, cands)
  }

  /** Shared count/rate tail of [[lshQuality]] and [[lshQualityOn]] —
    * one definition so the ANSI no-candidate contract can never drift
    * between the catalog path and the injected-corpus seam. */
  private def lshQualityTail(truth: DataFrame, cands: DataFrame): DataFrame = {
    val nT = truth.agg(count(lit(1)).as("n_true"))
    val nC = cands.agg(count(lit(1)).as("n_candidates"))
    // shuffled-hash hint (r16, guide §3.1): the planner's SortMergeJoin
    // sorted BOTH persisted pair frames; hashing the truth side per
    // partition drops both sorts while keeping the exchanges (the
    // per-partition build side is near-dup-bounded, so no OOM risk at
    // scale — unlike a broadcast, which would grow with the corpus)
    val nTp = cands.join(truth.hint("shuffle_hash"),
        Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_tp"))
    nC.crossJoin(nT).crossJoin(nTp) // three 1-row frames
      .select(col("n_candidates"), col("n_true"), col("n_tp"),
        // ANSI guard: a corpus too small to produce banded candidates
        // (or any true pairs) must yield NULL rates like the oracle's
        // `// 0`, not a DIVIDE_BY_ZERO throw.
        when(col("n_candidates") > 0,
          expr("n_tp * 10000 DIV n_candidates")).as("precision_bp"),
        when(col("n_true") > 0,
          expr("n_tp * 10000 DIV n_true")).as("recall_bp"))
  }
}
