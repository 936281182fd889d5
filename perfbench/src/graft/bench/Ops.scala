package graft.bench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, md5}

import graft.Tables
import graft.operators.{ArticleOps, DedupOps, TextOps}
import graft.plans.TextIndexCatalog
import graft.streaming.DocStreamOps

/** One timed operation of the window: its kind, its clock, the number of
  * items it handled (hits, offered docs or corpus docs) and a check that
  * runs after the window and returns an error when the result was wrong. */
final case class Op(kind: String, traced: Boolean, startNs: Long, endNs: Long, items: Long,
    check: () => Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Op {
  /** Runs `body` on the clock; a throw becomes a failed operation. */
  def timed(kind: String, traced: Boolean)(body: => (Long, () => Option[String])): Op = {
    val t0 = System.nanoTime()
    try {
      val (items, check) = body
      Op(kind, traced, t0, System.nanoTime(), items, check)
    } catch {
      case e: Exception =>
        val err = Some(s"$kind threw ${e.getClass.getName}: ${e.getMessage}")
        Op(kind, traced, t0, System.nanoTime(), 0L, () => err)
    }
  }
}

/** Rows a search returned: doc ids in result order, plus the BM25 score
  * of each for a ranked request. */
final case class Page(ids: Array[Long], scores: Array[Long])

/** Calls into the program's search, ingest and curation layers, each
  * wrapped in the span of the layer it enters. */
final class Ops(spark: SparkSession, tracer: Tracer) {
  import Inputs._

  /** Traced membership and OR requests, and those whose optimized plan
    * reads the postings (ranked requests read the postings directly and
    * are left out). */
  val rewriteAttempts = new AtomicInteger
  val rewriteHits = new AtomicInteger

  private def searchFrame(dir: String, req: Request): DataFrame = req.kind match {
    case Single => ArticleOps.searchIndexed(spark, dir, req.kws.head)
    case AnyOf => ArticleOps.searchAnyKeyword(spark, dir, req.kws)
    case Ranked => ArticleOps.searchBm25Indexed(spark, dir, req.kws)
  }

  /** One search request, from the call to every matching row in hand.
    * The traced run also times a `Tables.documents` resolution ahead of
    * the call and forces optimization and physical planning on their own
    * spans before execution. */
  def search(dir: String, req: Request): Page = {
    if (tracer.active) tracer.span("Tables.resolve") { Tables.documents(spark, dir) }
    val df = tracer.span("ArticleOps.call") { searchFrame(dir, req) }
    if (tracer.active) {
      val plan = tracer.span("plan.optimize") { df.queryExecution.optimizedPlan }
      if (req.kind != Ranked) {
        rewriteAttempts.incrementAndGet()
        if (readsPostings(plan)) rewriteHits.incrementAndGet()
      }
      tracer.span("plan.physical") { df.queryExecution.executedPlan }
    }
    val rows = tracer.span("exec") { df.collect() }
    Page(rows.map(_.getAs[Long]("doc_id")),
      if (req.kind == Ranked) rows.map(_.getAs[Long]("score")) else Array.emptyLongArray)
  }

  private def readsPostings(plan: LogicalPlan): Boolean = plan.collectLeaves().exists {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.exists(_.toString.contains("graft-text-index"))
    case _ => false
  }

  /** Ingest steps 1-3 for one batch: admission against the stored
    * corpus's md5s, append of the admitted rows as a new file, and the
    * index refresh. Returns the admitted doc ids. */
  def admitAppendRefresh(dir: String, batch: Batch): Array[Long] = {
    val offered = Ops.frame(spark, batch.offered)
    val admitted = tracer.span("DocStreamOps.admit") {
      val snapshot = Tables.documents(spark, dir)
        .select(md5(col("text").cast("binary")).as("text_md5"))
      DocStreamOps.novelAgainstSnapshot(offered, snapshot).select("doc_id")
        .collect().map(_.getLong(0)).sorted
    }
    val keep = admitted.toSet
    tracer.span("store.append") {
      // write to a staging directory, then rename the data file into the
      // table: readers listing the table never see a half-committed write
      // (an in-place append leaves a `_temporary` tree in the table while
      // it commits, and the index's recursive listing fails on it)
      val staging = new Path(s"$dir/staging/batch-${batch.index}")
      Ops.frame(spark, batch.offered.filter(d => keep(d.id))).coalesce(1).write.parquet(staging.toString)
      val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-")).foreach { p =>
        fs.rename(p, new Path(Ops.docsPath(dir), s"batch-${batch.index}-${p.getName}"))
      }
      fs.delete(staging, true)
    }
    tracer.span("TextIndexCatalog.refresh") { Ops.ensureIndex(spark, dir) }
    admitted
  }

  /** One whole-corpus curation pass: MinHash-LSH survivors, then quality
    * curation. The dedup signature catalog is emptied first, so every
    * pass computes the signatures it would compute on a new snapshot. */
  def curate(dir: String): (Array[Row], Array[Row]) = {
    DedupOps.clearDedupCache()
    val survivors = tracer.span("DedupOps.survivors") {
      DedupOps.dedupSurvivors(spark, dir).collect()
    }
    val curated = tracer.span("TextOps.curate") { TextOps.curateCorpus(spark, dir).collect() }
    (survivors, curated)
  }
}

object Ops {
  def docsPath(dir: String): String = s"$dir/documents.parquet"

  /** The local path of a `file:` URI. */
  def local(uri: String): String = new Path(uri).toUri.getPath

  /** `TextIndexCatalog.ensureIndex` for a store given as a `file:` URI,
    * plus the registry entry the index rewrite looks the table up by.
    * The catalog compares the table's listed files, which Hadoop returns
    * as `file:` URIs, with the path it was given: given a bare path it
    * keeps each file's absolute path, counts a file as hidden when any
    * directory on that path starts with "." or "_", and then rebuilds the
    * index in full on every call wherever the run directory lies below
    * such a directory. Given the URI it lists the table correctly, but
    * registers the index under the URI while the rewrite looks it up by
    * the bare path, which is therefore registered here as well. */
  def ensureIndex(spark: SparkSession, store: String): String = {
    val idx = TextIndexCatalog.ensureIndex(spark, store)
    TextIndexCatalog.register(local(docsPath(store)), idx)
    idx
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
