package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, collect_list, countDistinct, explode, length, lit, lower, posexplode, sort_array, split}
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
  * non-empty literal keyword, and a ranked-search TF aggregate over the
  * exploded tokens ⟺ `SUM(tf)` over the postings (the textScore
  * rewrite).
  */
object TextIndexCatalog {
  /** qualified docs-table root ([[graft.Tables.TableSnapshot.root]]) ->
    * postings directory. Keys are qualified on the way in and out, so
    * `x`, `/abs/x` and `file:/abs/x` name one entry. */
  private val indexes = TrieMap.empty[String, String]

  /** qualified docs root -> STEMMED postings directory (the plural-
    * insensitive index variant; separate registry because the two
    * indexes answer different predicates). */
  private val stemmedIndexes = TrieMap.empty[String, String]

  def register(docsPath: String, indexPath: String): Unit =
    indexes.put(graft.Tables.qualify(docsPath), indexPath)

  def registerStemmed(docsPath: String, indexPath: String): Unit =
    stemmedIndexes.put(graft.Tables.qualify(docsPath), indexPath)

  def clear(): Unit = { indexes.clear(); stemmedIndexes.clear() }

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

  def lookupStemmed(docsPath: String): Option[String] =
    stemmedIndexes.get(graft.Tables.qualify(docsPath))

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
    * probes must give each its own attribute ids
    * (`LogicalRelation.newInstance`, as [[TextIndexRewrite]] does). */
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

  /** Distinct (term, doc_id) postings for a docs table. */
  def postings(spark: SparkSession, docsPath: String): DataFrame =
    postingsOf(spark.read.parquet(docsPath))

  /** Materialize + register the text index for `sfDir`'s documents
    * table, with INCREMENTAL maintenance ([[FrameStore.refresh]]): the
    * index directory (under java.io.tmpdir, keyed by a hash of the
    * qualified docs root) carries a `_manifest` of the snapshot it
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
    (if (stemmed) stemmedIndexes else indexes).put(r.snapshot.root, dir)
    r
  }

  /** [[refresh]] of the token index; returns its directory. */
  def ensureIndex(spark: SparkSession, sfDir: String): String =
    refresh(spark, sfDir).dir

  /** [[refresh]] of the stemmed postings: same incremental
    * manifest/delta machinery, separate directory and registry. */
  def ensureStemmedIndex(spark: SparkSession, sfDir: String): String =
    refresh(spark, sfDir, stemmed = true).dir
}

/** The rewrite rule. Matches both spellings of the whole-token search
  * predicate over `lower(text)` —
  *
  *   array_contains(split(lower(text), ' ', -1), 'kw')        (as planned)
  *   locate(' kw ', ' ' || lower(text) || ' ') > 0            (after TokenSearchRewrite)
  *
  * — when the filtered relation's file scan is a registered docs table
  * and `doc_id` is available, and replaces that conjunct with
  *
  *   child LEFT SEMI JOIN (postings WHERE term = 'kw') ON doc_id
  *
  * leaving any remaining conjuncts as a residual Filter. The postings
  * probe's term filter reaches the parquet scan as a pushed filter, so
  * the search touches one term's row groups instead of every document.
  *
  * Multi-token locate needles (quoted phrases) take the PhraseMatch
  * path instead: the index supplies docs containing ALL phrase terms
  * and the original locate predicate survives above the semi-join as
  * the adjacency verify over candidates only.
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

  /** STEMMED search spelling, as [[graft.operators.ArticleOps.searchStemmed]]
    * plans it:
    *
    *   array_contains(transform(filter(split(lower(text),' ',-1),
    *     w -> length(w) > 0), t -> <S-stemmer case-when>), 'stemmedkw')
    *
    * (the keyword-side stem constant-folds to a literal before this rule
    * runs). The lambda is verified to BE the S-stemmer by building the
    * reference tree — TextOps.stemToken applied to the plan's own lambda
    * variable — and comparing canonicalized expressions; any other
    * lambda is conservatively left alone. A hit rewrites against the
    * STEMMED postings registry (terms are stemmed at index time, so the
    * folded literal probes directly). */
  private object StemmedTokenMatch {
    /** The ANALYZED S-stemmer lambda (body, variable), built once by
      * planning `transform(split('x', ' '), stemToken)` over a literal
      * and extracting the lambda from the analyzed plan. The reference
      * tree must come out of the same analyzer as the plan under
      * rewrite: a raw Column-API tree is still UnresolvedFunction nodes
      * (function resolution, implicit casts and collation typing all
      * happen in analysis), so comparing it canonicalized against an
      * analyzed lambda can never match. */
    private lazy val stemRef: (Expression, NamedLambdaVariable) = {
      import org.apache.spark.sql.functions.{lit, split, transform}
      val probe = spark.range(1)
        .select(transform(split(lit("x"), " "),
          t => graft.operators.TextOps.stemToken(t)).as("v"))
      probe.queryExecution.analyzed.expressions.flatMap(_.collect {
        case ArrayTransform(_, LambdaFunction(body, Seq(v: NamedLambdaVariable), _)) =>
          (body, v)
      }).head
    }
    private def isStemLambda(fn: Expression, lv: NamedLambdaVariable): Boolean = {
      val (refBody, refVar) = stemRef
      // substitute the plan's own lambda variable into the reference
      // body so the comparison is purely structural (no exprId noise)
      val expected = refBody.transformUp {
        case v: NamedLambdaVariable if v.exprId == refVar.exprId => lv
      }
      fn.canonicalized == expected.canonicalized
    }
    private def isNonEmptyLambda(fn: Expression): Boolean = fn match {
      case GreaterThan(Length(_: NamedLambdaVariable), Literal(0, _)) => true
      case _ => false
    }
    def unapply(e: Expression): Option[(Attribute, String)] = e match {
      case ArrayContains(
            ArrayTransform(
              ArrayFilter(
                StringSplit(Lower(a: Attribute),
                  Literal(sep: UTF8String, StringType), Literal(-1, _)),
                LambdaFunction(filterFn, _, _)),
              LambdaFunction(stemFn, Seq(lv: NamedLambdaVariable), _)),
            Literal(kw: UTF8String, StringType))
          if sep.toString == " " && plainToken(kw.toString) &&
            isNonEmptyLambda(filterFn) && isStemLambda(stemFn, lv) =>
        Some((a, kw.toString))
      case _ => None
    }
  }

  /** Phrase spelling: `locate(' p1 p2 ', ' ' || lower(text) || ' ') > 0`
    * with a MULTI-token needle (single tokens are TokenMatch's locate
    * case). The rewrite deliberately does NOT replace this predicate
    * with a positional-postings merge even though the index now carries
    * positions (ArticleOps.searchPhraseIndexed): the two spellings use
    * DIFFERENT coordinate systems. `locate` means adjacency in the RAW
    * space-split — a double space breaks the phrase — while the index
    * stores positions in the empty-FILTERED token sequence (the
    * whole-token semantics every other search and the phrase oracle
    * use), where a double space does not. Substituting one for the
    * other would silently change results on multi-space text, so the
    * rewrite only PRUNES: docs lacking ANY phrase term can never match,
    * candidates come from the index, and the original predicate
    * survives above the join as the adjacency verify, evaluated on
    * candidates only. Positional serving is the explicit
    * `art_search_phrase_idx` spelling, whose contract is the filtered
    * coordinates end to end. */
  private object PhraseMatch {
    def unapply(e: Expression): Option[(Attribute, Seq[String], Expression)] =
      e match {
        case GreaterThan(
              loc @ StringLocate(Literal(needle: UTF8String, StringType),
                Concat(Seq(Literal(s1: UTF8String, StringType),
                  Lower(a: Attribute),
                  Literal(s2: UTF8String, StringType))),
                Literal(1, IntegerType)),
              Literal(0, _))
            if s1.toString == " " && s2.toString == " " =>
          val n = needle.toString
          if (n.length > 2 && n.startsWith(" ") && n.endsWith(" ")) {
            // one framing space each side, not trim (see TokenMatch)
            val terms = n.substring(1, n.length - 1).split(" ").toSeq
            if (terms.length >= 2 && terms.forall(plainToken))
              Some((a, terms, loc))
            else None
          } else None
        case _ => None
      }
  }

  /** Pruning may interpose attribute-only Projects. */
  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Project(pl, c)
        if pl.forall(_.isInstanceOf[Attribute]) => stripProjects(c)
    case _ => p
  }

  /** The token-multiset Generate, as every scan-form search tokenizes:
    * explode(split(lower(text), ' ', -1)) over the docs scan. Returns
    * (term attribute, source under the Generate). */
  private object TokenGen {
    def unapply(p: LogicalPlan): Option[(Attribute, LogicalPlan)] = p match {
      case org.apache.spark.sql.catalyst.plans.logical.Generate(
            Explode(StringSplit(Lower(a: Attribute),
              Literal(sep: UTF8String, StringType), Literal(-1, _))),
            _, false, _, Seq(term: Attribute), src)
          if sep.toString == " " && a.name == "text" => Some((term, src))
      case _ => None
    }
  }

  /** A conjunct that is redundant over postings rows: `length(term) > 0`
    * (postings store non-empty terms only) or the optimizer-inferred
    * `isnotnull(term)`. */
  private def vacuousOnPostings(e: Expression, term: Attribute): Boolean =
    e match {
      case GreaterThan(Length(t: Attribute), Literal(0, IntegerType)) =>
        t.exprId == term.exprId
      case IsNotNull(t: Attribute) => t.exprId == term.exprId
      case _ => false
    }

  private def isCountLit(ae: org.apache.spark.sql.catalyst.expressions
      .aggregate.AggregateExpression): Boolean =
    !ae.isDistinct && (ae.aggregateFunction match {
      case org.apache.spark.sql.catalyst.expressions.aggregate
            .Count(Seq(Literal(_, _))) => true
      case _ => false
    })

  private def termLiterals(cond: Expression, term: Attribute): Option[Seq[String]] =
    cond match {
      case In(t: Attribute, lits) if t.exprId == term.exprId =>
        val kws = lits.collect {
          case Literal(kw: UTF8String, StringType) => kw.toString
        }
        if (kws.length == lits.length && kws.nonEmpty) Some(kws) else None
      case InSet(t: Attribute, vals) if t.exprId == term.exprId =>
        val kws = vals.toSeq.collect { case kw: UTF8String => kw.toString }
        if (kws.length == vals.size && kws.nonEmpty) Some(kws) else None
      case EqualTo(t: Attribute, Literal(kw: UTF8String, StringType))
          if t.exprId == term.exprId => Some(Seq(kw.toString))
      case _ => None
    }

  /** Ranked-TF search aggregation, as
    * [[graft.operators.ArticleOps.searchRanked]] plans it (modulo
    * pruning Projects):
    *
    *   Aggregate [doc_id], [doc_id, count(1) AS score]
    *     Filter term IN ('kw1', ...)
    *       Generate explode(split(lower(text), ' ', -1)) AS term
    *         <registered docs scan>
    *
    * The postings store tf per (term, doc_id), so the whole subtree is
    * equivalent to `postings WHERE term IN (kws) GROUP BY doc_id →
    * SUM(tf)` — the Mongo textScore contract (api.py:26) with the index
    * as storage: the corpus is never tokenized at query time, and the
    * term predicate is pushed to the term-bucketed postings scan.
    * Returns (docIdAttr, scoreAlias, keywords, docs scan). */
  private object RankedTfMatch {
    def unapply(agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate)
        : Option[(Attribute, Alias, Seq[String], LogicalPlan)] = agg match {
      case org.apache.spark.sql.catalyst.plans.logical.Aggregate(
            Seq(gid: Attribute),
            Seq(outId: Attribute, scoreAl @ Alias(ae:
              org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression, _)),
            aggChild, _)
          if outId.exprId == gid.exprId && isCountLit(ae) =>
        stripProjects(aggChild) match {
          case Filter(cond, TokenGen(term, src))
              if src.output.exists(d => d.name == "doc_id" && d.exprId == gid.exprId) =>
            termLiterals(cond, term).filter(_.forall(plainToken))
              .map(kws => (gid, scoreAl, kws, src))
          case _ => None
        }
      case _ => None
    }
  }

  /** Doc-length aggregate over the token multiset, as
    * [[graft.operators.ArticleOps.searchBm25]] plans `dl`:
    *
    *   Aggregate [doc_id], [doc_id, count(1) AS dl]
    *     Filter length(term) > 0   (± inferred isnotnull(term))
    *       Generate explode(split(lower(text), ' ', -1)) AS term
    *         <registered docs scan>
    *
    * The postings already aggregated exactly this multiset per (term,
    * doc), so the subtree is `postings GROUP BY doc_id → SUM(tf)` — the
    * document-length side of a BM25 evaluation served from the index.
    * Docs with zero tokens produce no group in either form. */
  /** Output shape shared by the BM25 aggregates after column pruning:
    * any subset of the grouping attributes plus at most one count(1)
    * alias (pruning drops doc_id from the stats-side dl aggregate and
    * the count entirely from the df-side distinct-pair aggregate). */
  private def groupedCountShape(aggExprs: Seq[NamedExpression],
      groupIds: Set[ExprId]): Boolean =
    aggExprs.nonEmpty && aggExprs.forall {
      case a: Attribute => groupIds.contains(a.exprId)
      case Alias(ae: org.apache.spark.sql.catalyst.expressions
            .aggregate.AggregateExpression, _) => isCountLit(ae)
      case _ => false
    } && aggExprs.count(_.isInstanceOf[Alias]) <= 1

  private object DocLenMatch {
    def unapply(agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate)
        : Option[(Attribute, Seq[NamedExpression], LogicalPlan)] = agg match {
      case org.apache.spark.sql.catalyst.plans.logical.Aggregate(
            Seq(gid: Attribute), aggExprs, aggChild, _)
          if groupedCountShape(aggExprs, Set(gid.exprId)) &&
            aggExprs.exists(_.isInstanceOf[Alias]) =>
        stripProjects(aggChild) match {
          case Filter(cond, TokenGen(term, src))
              if src.output.exists(d => d.name == "doc_id" && d.exprId == gid.exprId) => {
            val conjuncts = splitConjunctivePredicates(cond)
            if (conjuncts.nonEmpty &&
                conjuncts.forall(vacuousOnPostings(_, term)) &&
                conjuncts.exists {
                  case GreaterThan(Length(_), _) => true; case _ => false
                })
              Some((gid, aggExprs, src))
            else None
          }
          case _ => None
        }
      case _ => None
    }
  }

  /** Per-(doc, term) tf aggregate over the term-filtered token multiset,
    * as [[graft.operators.ArticleOps.searchBm25]] plans `tf`:
    *
    *   Aggregate [doc_id, term], [doc_id, term, count(1) AS tf]
    *     Filter length(term) > 0 AND term IN (kws)
    *       Generate explode(split(lower(text), ' ', -1)) AS term
    *         <registered docs scan>
    *
    * This IS the postings row set restricted to the keywords — the
    * aggregate disappears entirely: a projection of the term-pruned
    * postings scan with the original output attribute ids. */
  private object TermTfMatch {
    def unapply(agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate)
        : Option[(Attribute, Attribute, Seq[NamedExpression], Seq[String], LogicalPlan)] =
      agg match {
        case org.apache.spark.sql.catalyst.plans.logical.Aggregate(
              Seq(gd: Attribute, gt: Attribute), aggExprs, aggChild, _)
            if groupedCountShape(aggExprs, Set(gd.exprId, gt.exprId)) =>
          stripProjects(aggChild) match {
            case Filter(cond, TokenGen(term, src))
                if gt.exprId == term.exprId &&
                  src.output.exists(d => d.name == "doc_id" && d.exprId == gd.exprId) => {
              val conjuncts = splitConjunctivePredicates(cond)
              val (termConjs, rest) =
                conjuncts.partition(termLiterals(_, term).isDefined)
              termConjs match {
                case Seq(tc) if rest.forall(vacuousOnPostings(_, term)) =>
                  termLiterals(tc, term).filter(_.forall(plainToken))
                    .map(kws => (gd, gt, aggExprs, kws, src))
                case _ => None
              }
            }
            case _ => None
          }
        case _ => None
      }
  }

  /** The registered docs scan under a tokenize Generate, reachable ONLY
    * through attribute-only Projects and filters that cannot change the
    * token multiset (`isnotnull(text)`, which the optimizer infers from
    * the split and which is vacuous — a null text explodes to zero
    * rows). The AGGREGATE rewrites REPLACE their whole subtree with a
    * postings read, so a semantic Filter (`lang = 'en'`) or a computed
    * projection between the Generate and the scan would be silently
    * discarded if this walked through it the way [[registeredScan]]
    * does; anything else therefore refuses the rewrite. The
    * membership/stemmed/phrase rewrites keep their child plan intact
    * and stay on the laxer [[registeredScan]]. */
  private def bareRegisteredScan(plan: LogicalPlan): Option[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.collectFirst {
        case p if TextIndexCatalog.lookup(p.toString).isDefined => p.toString
      }
    case org.apache.spark.sql.catalyst.plans.logical.Project(pl, c)
        if pl.forall(_.isInstanceOf[Attribute]) => bareRegisteredScan(c)
    case Filter(cond, c)
        if splitConjunctivePredicates(cond).forall {
          case IsNotNull(a: Attribute) => a.name == "text"
          case _ => false
        } => bareRegisteredScan(c)
    case _ => None
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
    * would match synthetic ids against real posting ids). */
  private def registeredScan(plan: LogicalPlan,
      lookup: String => Option[String] = TextIndexCatalog.lookup): Option[String] =
    plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.collectFirst {
          case p if lookup(p.toString).isDefined => p.toString
        }
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
        registeredScan(c, lookup)
      case Filter(_, c) => registeredScan(c, lookup)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // each aggregate case evaluates the bareRegisteredScan walk ONCE
    // (match on the result, original node returned on None) — the
    // guard-and-body spelling ran the recursive plan walk twice per
    // firing. All three cases consult the same registry, so an
    // unregistered scan falls through every branch identically.
    case agg @ RankedTfMatch(gid, scoreAl, kws, src) =>
      bareRegisteredScan(src).flatMap(TextIndexCatalog.lookup) match {
        case None => agg
        case Some(idxPath) =>
      val probe = postingsProbe(idxPath)(_.filter(col("term").isin(kws: _*)))
      val pDoc = probe.output.find(_.name == "doc_id").get
      val pTf = probe.output.find(_.name == "tf").get
      // output attribute ids are preserved (doc_id and the score alias),
      // so references above the aggregate stay valid; coalesce keeps the
      // score non-nullable like the count it replaces (vacuously — every
      // group has >= 1 posting row)
      val sumTf = org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Sum(pTf),
          org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
          isDistinct = false)
      org.apache.spark.sql.catalyst.plans.logical.Aggregate(
        Seq(pDoc),
        Seq(Alias(pDoc, gid.name)(exprId = gid.exprId),
          Alias(Coalesce(Seq(sumTf, Literal(0L))), scoreAl.name)(
            exprId = scoreAl.exprId)),
        probe, None)
      }
    case agg @ DocLenMatch(gid, aggExprs, src) =>
      bareRegisteredScan(src).flatMap(TextIndexCatalog.lookup) match {
        case None => agg
        case Some(idxPath) =>
      // document length = SUM(tf) over the FULL postings — the narrow
      // (term, doc_id, tf) columns replace a corpus tokenize
      val probe = postingsProbe(idxPath)(identity)
      val pDoc = probe.output.find(_.name == "doc_id").get
      val pTf = probe.output.find(_.name == "tf").get
      val sumTf = org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Sum(pTf),
          org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
          isDistinct = false)
      org.apache.spark.sql.catalyst.plans.logical.Aggregate(
        Seq(pDoc),
        aggExprs.map {
          case a: Attribute => Alias(pDoc, a.name)(exprId = a.exprId)
          case al: Alias =>
            Alias(Coalesce(Seq(sumTf, Literal(0L))), al.name)(exprId = al.exprId)
        },
        probe, None)
      }
    case agg @ TermTfMatch(gd, gt, aggExprs, kws, src) =>
      bareRegisteredScan(src).flatMap(TextIndexCatalog.lookup) match {
        case None => agg
        case Some(idxPath) =>
      // the per-(doc, term) tf aggregate IS the postings row set for the
      // keywords (postings are distinct per pair, so the pruned
      // distinct-pair form maps to the same projection): the aggregate
      // disappears, the term set is pushed to the term-bucketed scan
      val probe = postingsProbe(idxPath)(_.filter(col("term").isin(kws: _*)))
      val pDoc = probe.output.find(_.name == "doc_id").get
      val pTerm = probe.output.find(_.name == "term").get
      val pTf = probe.output.find(_.name == "tf").get
      org.apache.spark.sql.catalyst.plans.logical.Project(
        aggExprs.map {
          case a: Attribute if a.exprId == gd.exprId =>
            Alias(pDoc, a.name)(exprId = a.exprId)
          case a: Attribute =>
            Alias(pTerm, a.name)(exprId = a.exprId)
          case al: Alias =>
            Alias(Coalesce(Seq(pTf, Literal(0L))), al.name)(exprId = al.exprId)
        },
        probe)
      }
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hit = registeredScan(child).flatMap { docsPath =>
        conjuncts.collectFirst {
          case p @ TokenMatch(attr, kws)
              if attr.name == "text" && child.outputSet.contains(attr) &&
                child.output.exists(_.name == "doc_id") =>
            (p, kws, docsPath)
        }
      }
      hit match {
        case Some((pred, kws, docsPath)) =>
          // postings are distinct per (term, doc_id); a doc matching
          // several OR terms yields several matches, which LeftSemi
          // collapses — no distinct needed
          semiJoinOnPostings(child, conjuncts, pred,
            TextIndexCatalog.lookup(docsPath).get, stemmed = false,
            col("term").isin(kws: _*))
        case None =>
          // stemmed scan form against the stemmed-postings registry:
          // terms were stemmed at index time and the keyword-side stem
          // constant-folded, so the probe is a direct term equality
          val stemmedHit = registeredScan(child, TextIndexCatalog.lookupStemmed)
            .flatMap { docsPath =>
              conjuncts.collectFirst {
                case p @ StemmedTokenMatch(attr, kw)
                    if attr.name == "text" && child.outputSet.contains(attr) &&
                      child.output.exists(_.name == "doc_id") =>
                  (p, kw, docsPath)
              }
            }
          stemmedHit match {
            case Some((pred, kw, docsPath)) =>
              semiJoinOnPostings(child, conjuncts, pred,
                TextIndexCatalog.lookupStemmed(docsPath).get, stemmed = true,
                col("term") === kw)
            case None => phraseRewrite(f, conjuncts, child)
          }
      }
  }

  /** `shape` over the postings at `idxPath`, analyzed, for insertion
    * into the plan under rewrite. The relation comes resolved from
    * [[TextIndexCatalog.postingsRelation]], so a rewrite lists the
    * index directory and does no data-source resolution; its
    * attributes are re-instanced (`LogicalRelation.newInstance`) at
    * every insertion, so two probes in one plan — BM25's dl and tf
    * folds, or two searches joined — never share attribute ids. */
  private def postingsProbe(idxPath: String, stemmed: Boolean = false)
      (shape: DataFrame => DataFrame): LogicalPlan =
    shape(TextIndexCatalog.postingsRelation(spark, idxPath, stemmed))
      .queryExecution.analyzed
      .transformUpWithNewOutput { case r: LogicalRelation =>
        val fresh = r.newInstance()
        (fresh, r.output.zip(fresh.output))
      }

  /** The shared tail of the token and stemmed Filter rewrites: replace
    * `pred` (one conjunct of the filter) with a LeftSemi join of the
    * intact child plan against the postings rows selected by
    * `termFilter`. One definition so the probe build, doc_id
    * resolution, and residual-predicate handling cannot drift between
    * the two branches. */
  private def semiJoinOnPostings(child: LogicalPlan,
      conjuncts: Seq[Expression], pred: Expression,
      idxPath: String, stemmed: Boolean,
      termFilter: org.apache.spark.sql.Column): LogicalPlan = {
    val probe = postingsProbe(idxPath, stemmed)(_.filter(termFilter).select("doc_id"))
    val docId = child.output.find(_.name == "doc_id").get
    val idxDocId = probe.output.find(_.name == "doc_id").get
    val rest = conjuncts.filterNot(_ eq pred)
    val base = if (rest.isEmpty) child else Filter(rest.reduce(And), child)
    Join(base, probe, LeftSemi,
      Some(EqualTo(docId, idxDocId)), JoinHint.NONE)
  }

  private def phraseRewrite(f: Filter, conjuncts: Seq[Expression],
      child: LogicalPlan): LogicalPlan = {
          // phrase form: index prunes to docs containing ALL terms, the
          // adjacency verify stays above the join — RE-SPELLED as
          // locate >= 1 (same semantics: locate is 0 or a 1-based
          // position). The GT-0 spelling must NOT survive: predicate
          // pushdown moves the verify back under the join each
          // fixed-point iteration, this rule would match it again, and
          // the optimizer stacks a fresh semi-join per iteration until
          // the batch cap (~200 duplicate probes, found empirically).
          // The GE-1 spelling is outside PhraseMatch, so the rewrite is
          // idempotent wherever pushdown parks the verify.
          val phraseHit = registeredScan(child).flatMap { docsPath =>
            conjuncts.collectFirst {
              case p @ PhraseMatch(attr, terms, loc)
                  if attr.name == "text" && child.outputSet.contains(attr) &&
                    child.output.exists(_.name == "doc_id") =>
                (p, terms, loc, docsPath)
            }
          }
          phraseHit match {
            case Some((pred, terms, loc, docsPath)) =>
              val idxPath = TextIndexCatalog.lookup(docsPath).get
              val distinctTerms = terms.distinct
              val probe = postingsProbe(idxPath)(
                _.filter(col("term").isin(distinctTerms: _*))
                  .groupBy("doc_id")
                  .agg(countDistinct(col("term")).as("nt"))
                  .filter(col("nt") === distinctTerms.length)
                  .select("doc_id"))
              val docId = child.output.find(_.name == "doc_id").get
              val idxDocId = probe.output.find(_.name == "doc_id").get
              val rest = conjuncts.filterNot(_ eq pred)
              val base = if (rest.isEmpty) child else Filter(rest.reduce(And), child)
              val verify = GreaterThanOrEqual(loc, Literal(1, IntegerType))
              Filter(verify, Join(base, probe, LeftSemi,
                Some(EqualTo(docId, idxDocId)), JoinHint.NONE))
            case None => f
          }
  }
}
