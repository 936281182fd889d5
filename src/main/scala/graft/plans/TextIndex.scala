package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, collect_list, explode, length, lit, lower, posexplode, sort_array, split}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-side analogue of Mongo's `create_index([('text','text')])`
  * (reference api.py:22, SURVEY.md §4 "materialized view" seam): a
  * registry of materialized postings tables, plus an optimizer rule that
  * rewrites whole-token search filters over a registered table into a
  * semi-join against its postings — so every search becomes an
  * index-pruned parquet scan + key join instead of a full corpus scan,
  * transparently, for any query that plans the token-match pattern.
  *
  * Contract (what `register` asserts about the index): the postings
  * parquet at `indexPath` holds one row per DISTINCT (term, doc_id)
  * pair — with `tf`, the number of occurrences of `term` in that doc —
  * built from `explode(split(lower(text), ' '))` over exactly the docs
  * parquet at `docsPath`, whose `doc_id` uniquely keys its rows. Under
  * that contract, `array_contains(split(lower(text),' '), kw)` ⟺
  * `doc_id SEMI JOIN postings WHERE term = kw` for any space-free
  * non-empty literal keyword: token membership, the one predicate the
  * rule rewrites. Ranked, BM25, phrase and stemmed search read the
  * postings through explicit plans in [[graft.operators.ArticleOps]].
  */
object TextIndexCatalog {
  /** qualified docs-table root ([[graft.Tables.TableSnapshot.root]]) ->
    * postings directory. Keys are qualified on the way in and out, so
    * `x`, `/abs/x` and `file:/abs/x` name one entry. */
  private val indexes = TrieMap.empty[String, String]

  def register(docsPath: String, indexPath: String): Unit =
    indexes.put(graft.Tables.qualify(docsPath), indexPath)

  def clear(): Unit = indexes.clear()

  /** The ONE definition of a variant's on-disk index directory —
    * SHA-1(qualified docs root + variant + layout version) under
    * tmpdir/graft-text-index — shared by [[refresh]] and [[purgeDirs]]
    * (the cold-soak purge seam), so purge always deletes exactly the
    * directories refresh builds: a skew would turn "cold" soak timings
    * into silent warm index hits.
    *
    * The layout suffix versions the on-disk layout of each variant: a
    * schema change (the tf, then positions, column) would otherwise
    * serve an old narrower directory off its manifest, and a page-size
    * change ([[PageRows]], `#p2`/`#s2`) would keep serving the old
    * large pages. The stemmed layout is keyed separately so a
    * base-only bump does not invalidate (and orphan) stemmed
    * directories. */
  private def indexDirFor(docsRoot: String, stemmed: Boolean): String =
    FrameStore.dirFor(docsRoot + (if (stemmed) "#stemmed#s2" else "#p2"),
      "graft-text-index")

  /** Delete the ON-DISK index directories for `sfDir` (both variants,
    * current layouts) — the scale-soak seam: a cold index-build timing
    * must rebuild postings, not find a prior run's _SUCCESS in tmpdir. */
  private[graft] def purgeDirs(sfDir: String): Unit = {
    val root = graft.Tables.rootOf(sfDir, "documents")
    Seq(false, true).foreach(v =>
      FrameStore.deleteTree(new java.io.File(indexDirFor(root, v))))
  }

  def lookup(docsPath: String): Option[String] =
    indexes.get(graft.Tables.qualify(docsPath))

  /** Rows per parquet page of a postings file. Each file is sorted by
    * term, so the pushed `term =` filter skips every page whose
    * min/max term range misses the keyword (parquet column indexes):
    * a probe reads about one page per file, not the default 20,000-row
    * page — the term dictionary over posting lists of the ICDE 2022
    * compressed-index layout (PAPERS.md). */
  val PageRows = 2000

  /** The schemas [[postingsOf]] and [[stemmedPostingsOf]] write, as a
    * parquet read reports them (every field nullable). */
  private val StemmedSchema =
    new StructType().add("term", StringType).add("doc_id", LongType)
  private val PostingsSchema = StemmedSchema
    .add("tf", LongType).add("positions", ArrayType(IntegerType))

  /** The postings at index directory `dir`, resolved once per index
    * version: the `postings` entry of the session memo
    * ([[graft.Tables.memo]]) on the directory's snapshot, read with the
    * known schema, so neither a repeated probe nor a new delta
    * generation pays data-source resolution or a schema-inference job.
    * Every postings read goes through here; a plan that holds two
    * probes must give each its own attribute ids (the analyzer does so
    * for a self-join, [[TextIndexRewrite]] by
    * `LogicalRelation.newInstance`). */
  def postingsRelation(spark: SparkSession, dir: String,
                       stemmed: Boolean = false): DataFrame = {
    val snap = graft.Tables.snapshotAt(spark, dir)
    graft.Tables.memo(spark, snap, "postings") {
      spark.read.schema(if (stemmed) StemmedSchema else PostingsSchema)
        .parquet(snap.root)
    }
  }

  /** (term, doc_id, tf, positions) postings over an arbitrary docs
    * frame — one row per distinct (term, doc_id) with the term's
    * occurrence count AND its sorted occurrence positions (indices into
    * the empty-filtered token sequence, the same coordinates every
    * search uses), so ONE index answers membership probes (semi-join;
    * tf and positions never read), ranked-TF/BM25 scoring (sum(tf);
    * positions never read), and positional phrase merges — parquet
    * column pruning means each query class pays only for the columns it
    * projects. Per-file aggregation composes into a globally-correct
    * index because `doc_id` uniquely keys the docs TABLE (the register
    * contract): posting groups from disjoint doc_id ranges are
    * themselves disjoint, which is what makes the append-delta build
    * below sound (positions are WITHIN-doc, so they too are file-local
    * facts). */
  def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(org.apache.spark.sql.functions.filter(
        split(lower(col("text")), " "), t => length(t) > 0)))
      .toDF("doc_id", "pos", "term")
      .groupBy("term", "doc_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Stemmed postings: the same distinct (term, doc_id) contract with
    * every token passed through the S-stemmer at INDEX time — queries
    * then stem the keyword once and probe, Mongo `$text`'s storage
    * layout for stemmed search. Same append-delta soundness argument as
    * [[postingsOf]]. */
  def stemmedPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(org.apache.spark.sql.functions.transform(
        graft.operators.TextOps.words(col("text")),
        t => graft.operators.TextOps.stemToken(t))).as("term"), col("doc_id"))
      .filter(length(col("term")) > 0)
      .distinct()

  /** Materialize the text index for `sfDir`'s documents table (the
    * token variant is also registered for [[TextIndexRewrite]]), with
    * INCREMENTAL maintenance ([[FrameStore.refresh]]): the index
    * directory (under java.io.tmpdir, keyed by a hash of the qualified
    * docs root) carries a `_manifest` of the snapshot it
    * covers. An unchanged table is served as-is; appended files get
    * postings built for them alone and appended (sound because doc_id
    * uniquely keys the table, see [[postingsOf]]) — the append-only
    * path a 100 TB corpus takes daily; anything else rebuilds, so a
    * regenerated docs parquet is never served stale postings.
    *
    * Each build repartitions by term and sorts within partitions —
    * the build parallelizes across the cluster and every term's
    * postings land contiguously in one file per build (the
    * bucketed-by-term layout of SURVEY §8.1; delta builds add one
    * term-partitioned file generation each). Files are written in pages
    * of [[PageRows]] rows, so the probe's pushed term filter skips
    * every page whose term range misses the keyword. Hash partitioning
    * gives each file the whole term range, so row-group statistics
    * alone would prune nothing. Returns the index directory, the
    * snapshot the refresh compared (callers resolve the docs relation
    * against it, so a search lists the table once) and the outcome. */
  def refresh(spark: SparkSession, sfDir: String,
              stemmed: Boolean = false): FrameStore.Refreshed = {
    val dir = indexDirFor(graft.Tables.rootOf(sfDir, "documents"), stemmed)
    val r = FrameStore.refresh(spark, dir, sfDir, "documents",
        Map("parquet.page.row.count.limit" -> PageRows.toString)) { docs =>
      (if (stemmed) stemmedPostingsOf(docs) else postingsOf(docs))
        .repartition(col("term")).sortWithinPartitions("term")
    }
    if (!stemmed) indexes.put(r.snapshot.root, dir)
    r
  }

  /** [[refresh]] of the token index; returns its directory. */
  def ensureIndex(spark: SparkSession, sfDir: String): String =
    refresh(spark, sfDir).dir

  /** [[refresh]] of the stemmed postings: same incremental
    * manifest/delta machinery, separate directory, not registered (only
    * [[graft.operators.ArticleOps.searchStemmedIndexed]] reads it). */
  def ensureStemmedIndex(spark: SparkSession, sfDir: String): String =
    refresh(spark, sfDir, stemmed = true).dir
}

/** The rewrite rule: token membership, the one predicate the Mongo
  * `$text` contract needs (create the index once, then every keyword
  * search uses it; api.py:22,26). Matches the whole-token search
  * predicate over `lower(text)` in each spelling —
  *
  *   array_contains(split(lower(text), ' ', -1), 'kw')        (as planned)
  *   arrays_overlap(split(lower(text), ' ', -1), ['kw', ...])  (OR of terms)
  *   locate(' kw ', ' ' || lower(text) || ' ') > 0            (after TokenSearchRewrite)
  *
  * — when the filtered relation's file scan is a registered docs table
  * and `doc_id` is available, and replaces that conjunct with
  *
  *   child LEFT SEMI JOIN (postings WHERE term IN ('kw', ...)) ON doc_id
  *
  * leaving any remaining conjuncts as a residual Filter. The postings
  * probe's term filter reaches the parquet scan as a pushed filter, so
  * the search touches one term's pages instead of every document.
  */
class TextIndexRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private def plainToken(kw: String): Boolean =
    kw != null && kw.nonEmpty && !kw.contains(' ')

  /** (text attribute, keywords) from any predicate spelling: the
    * single-term array_contains form, the locate form TokenSearchRewrite
    * produces, and the multi-term OR form (arrays_overlap — Mongo $text
    * ORs its terms, api.py:26). */
  private object TokenMatch {
    private object TokenArrayLit {
      def unapply(e: Expression): Option[Seq[String]] = tokenArray(e)
    }
    private def tokenArray(e: Expression): Option[Seq[String]] = e match {
      case CreateArray(elems, _) =>
        val kws = elems.collect {
          case Literal(kw: UTF8String, StringType) if plainToken(kw.toString) =>
            kw.toString
        }
        if (kws.length == elems.length && kws.nonEmpty) Some(kws) else None
      // constant folding collapses CreateArray of literals into one
      // array literal before this rule's match
      case Literal(arr: org.apache.spark.sql.catalyst.util.ArrayData,
            org.apache.spark.sql.types.ArrayType(StringType, _)) =>
        val n = arr.numElements()
        val kws = (0 until n).flatMap { i =>
          Option(arr.getUTF8String(i)).map(_.toString)
        }
        if (kws.length == n && kws.nonEmpty && kws.forall(plainToken)) Some(kws)
        else None
      case _ => None
    }
    def unapply(e: Expression): Option[(Attribute, Seq[String])] = e match {
      case ArrayContains(
            StringSplit(Lower(a: Attribute), Literal(sep: UTF8String, StringType),
              Literal(-1, _)),
            Literal(kw: UTF8String, StringType))
          if sep.toString == " " && plainToken(kw.toString) =>
        Some((a, Seq(kw.toString)))
      case ArraysOverlap(
            StringSplit(Lower(a: Attribute), Literal(sep: UTF8String, StringType),
              Literal(-1, _)),
            TokenArrayLit(kws))
          if sep.toString == " " =>
        Some((a, kws))
      case GreaterThan(
            StringLocate(Literal(needle: UTF8String, StringType),
              Concat(Seq(Literal(s1: UTF8String, StringType),
                Lower(a: Attribute),
                Literal(s2: UTF8String, StringType))),
              Literal(1, IntegerType)),
            Literal(0, _))
          if s1.toString == " " && s2.toString == " " && {
            val n = needle.toString
            n.length > 2 && n.startsWith(" ") && n.endsWith(" ") &&
              plainToken(n.substring(1, n.length - 1))
          } =>
        // strip exactly the one framing space each side — String.trim
        // would also eat \t/\n/\r, which plainToken permits inside a
        // token, and the index would be probed for the WRONG term
        val n = needle.toString
        Some((a, Seq(n.substring(1, n.length - 1))))
      case _ => None
    }
  }

  /** The registered docs scan DIRECTLY under `plan` — only through
    * row-identity-preserving nodes (Project/Filter). Anything else
    * (union, join, generate, aggregate) changes or mixes row identity,
    * so rewriting a filter above it against the base table's postings
    * would be wrong (e.g. a dup-seeded union contains rows the postings
    * have never seen); those plans are conservatively refused.
    *
    * A Project may compute arbitrary OTHER columns (they ride the
    * semi-join untouched), but any projection item named `text` or
    * `doc_id` must be a bare pass-through attribute: an alias or
    * computation rebinding either name would make the rewrite probe the
    * indexed text of DIFFERENT rows (e.g. `withColumn("doc_id",
    * monotonically_increasing_id())` above the scan — the semi-join
    * would match synthetic ids against real posting ids). Returns the
    * registered postings directory. */
  private def registeredScan(plan: LogicalPlan): Option[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.iterator
        .flatMap(p => TextIndexCatalog.lookup(p.toString)).nextOption()
    case org.apache.spark.sql.catalyst.plans.logical.Project(pl, c)
        if pl.forall {
          case _: Attribute => true
          // case-INSENSITIVE compare: Spark resolution is
          // case-insensitive by default, so a computed column aliased
          // "DOC_ID"/"Text" rebinds the name just as surely as the
          // exact-case spelling — a != compare let it slip past and
          // the rewrite would semi-join postings against rebound rows
          case ne => !ne.name.equalsIgnoreCase("text") &&
            !ne.name.equalsIgnoreCase("doc_id")
        } =>
      registeredScan(c)
    case Filter(_, c) => registeredScan(c)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      registeredScan(child).flatMap { idxPath =>
        conjuncts.collectFirst {
          // postings are distinct per (term, doc_id); a doc matching
          // several OR terms yields several matches, which LeftSemi
          // collapses — no distinct needed
          case p @ TokenMatch(attr, kws)
              if attr.name == "text" && child.outputSet.contains(attr) &&
                child.output.exists(_.name == "doc_id") =>
            semiJoinOnPostings(child, conjuncts, p, idxPath, kws)
        }
      }.getOrElse(f)
  }

  /** Replace `pred` (one conjunct of the filter) with a LeftSemi join of
    * the intact child plan against the postings rows of `kws`. The
    * relation comes resolved from [[TextIndexCatalog.postingsRelation]],
    * so a rewrite lists the index directory and does no data-source
    * resolution; its attributes are re-instanced
    * (`LogicalRelation.newInstance`) at every insertion, so two searches
    * joined in one plan never share attribute ids. */
  private def semiJoinOnPostings(child: LogicalPlan,
      conjuncts: Seq[Expression], pred: Expression,
      idxPath: String, kws: Seq[String]): LogicalPlan = {
    val probe = TextIndexCatalog.postingsRelation(spark, idxPath)
      .filter(col("term").isin(kws: _*)).select("doc_id")
      .queryExecution.analyzed
      .transformUpWithNewOutput { case r: LogicalRelation =>
        val fresh = r.newInstance()
        (fresh, r.output.zip(fresh.output))
      }
    val docId = child.output.find(_.name == "doc_id").get
    val idxDocId = probe.output.find(_.name == "doc_id").get
    val rest = conjuncts.filterNot(_ eq pred)
    val base = if (rest.isEmpty) child else Filter(rest.reduce(And), child)
    Join(base, probe, LeftSemi,
      Some(EqualTo(docId, idxDocId)), JoinHint.NONE)
  }
}
