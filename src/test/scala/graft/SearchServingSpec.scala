package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArticleOps
import graft.plans.TextIndexCatalog

/** Pins the search serving path: the postings relation resolved once per
  * index version, Spark jobs per keyword search, probes that keep their
  * own attribute ids, and postings pages small enough to skip. */
class SearchServingSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def writeDocs(docsDir: String, rows: Seq[(Long, String)], mode: String): Unit = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(mode).parquet(docsDir)
  }

  private def newStore(rows: Seq[(Long, String)]): String = {
    val sfDir = Files.createTempDirectory("graft-serve").toString
    writeDocs(s"$sfDir/documents.parquet", rows, "overwrite")
    sfDir
  }

  private def ids(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select("doc_id").as[Long].collect().toSeq
  }

  /** (result, Spark jobs started, input rows read) while `body` runs. */
  private def counted[T](body: => T): (T, Long, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicLong
    val rows = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rows.addAndGet(m.inputMetrics.recordsRead))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get, rows.get)
    } finally sc.removeSparkListener(l)
  }

  private def postingsLeaves(plan: LogicalPlan): Seq[LogicalRelation] =
    plan.collectLeaves().collect {
      case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.rootPaths.exists(_.toString.contains("graft-text-index")) => r
    }

  test("a warm searchIndexed plans with no Spark job and runs at most two; after an append it finds the new doc and plans with none") {
    val sfDir = newStore(Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "alpha gamma")))
    TextIndexCatalog.clear()
    assert(ids(ArticleOps.searchIndexed(spark, sfDir, "alpha")) == Seq(1L, 3L))
    val warm = ArticleOps.searchIndexed(spark, sfDir, "alpha")
    val (_, planJobs, _) = counted(warm.queryExecution.optimizedPlan)
    val (rows, runJobs, _) = counted(warm.collect())
    assert(planJobs == 0, "planning a warm search must resolve nothing")
    assert(runJobs <= 2, s"a warm search ran $runJobs jobs")
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))

    // in-place append of a doc with a new token, then the index delta
    writeDocs(s"$sfDir/documents.parquet", Seq((4L, "delta alpha")), "append")
    TextIndexCatalog.ensureIndex(spark, sfDir)
    val fresh = ArticleOps.searchIndexed(spark, sfDir, "delta")
    val (_, freshPlanJobs, _) = counted(fresh.queryExecution.optimizedPlan)
    assert(freshPlanJobs == 0, "a new index version must resolve with its known schema")
    assert(ids(fresh) == Seq(4L))
    val next = ArticleOps.searchIndexed(spark, sfDir, "alpha")
    val (_, nextPlanJobs, _) = counted(next.queryExecution.optimizedPlan)
    assert(nextPlanJobs == 0)
    assert(ids(next) == Seq(1L, 3L, 4L))
    TextIndexCatalog.clear()
  }

  test("two postings probes in one plan keep their own attribute ids") {
    val sfDir = newStore(Seq((1L, "alpha beta"), (2L, "beta gamma beta"),
      (3L, "alpha gamma"), (5L, "gamma beta alpha alpha")))
    TextIndexCatalog.clear()
    TextIndexCatalog.ensureIndex(spark, sfDir)
    writeDocs(s"$sfDir/documents.parquet", Seq((4L, "alpha beta beta delta")), "append")
    // expected answers from the scan forms, with no index registered
    TextIndexCatalog.clear()
    val both = ids(ArticleOps.searchKeyword(spark, sfDir, "alpha")).toSet
      .intersect(ids(ArticleOps.searchKeyword(spark, sfDir, "beta")).toSet)
    val bm25 = ArticleOps.searchBm25(spark, sfDir, Seq("alpha", "beta")).collect().toSeq
    assert(both == Set(1L, 4L, 5L))

    def disjointProbes(df: DataFrame): Unit = {
      val probes = postingsLeaves(df.queryExecution.optimizedPlan)
      assert(probes.size >= 2, s"expected two postings probes:\n${df.queryExecution.optimizedPlan}")
      val exprIds = probes.flatMap(_.output.map(_.exprId))
      assert(exprIds.distinct.size == exprIds.size, "two probes share attribute ids")
    }
    val joined = ArticleOps.searchIndexed(spark, sfDir, "alpha").select("doc_id")
      .join(ArticleOps.searchIndexed(spark, sfDir, "beta").select("doc_id"), "doc_id")
    disjointProbes(joined)
    assert(ids(joined).toSet == both)

    val auto = ArticleOps.searchBm25Auto(spark, sfDir, Seq("alpha", "beta"))
    disjointProbes(auto)
    assert(auto.collect().toSeq == bm25)
    TextIndexCatalog.clear()
  }

  test("after an in-place append, scan-form ranked, BM25 and stemmed search read the table, not the indexes built before it") {
    val sfDir = newStore(Seq((1L, "alpha beta"), (2L, "beta gamma")))
    TextIndexCatalog.clear()
    TextIndexCatalog.ensureIndex(spark, sfDir)
    TextIndexCatalog.ensureStemmedIndex(spark, sfDir)
    writeDocs(s"$sfDir/documents.parquet", Seq((3L, "zebras run")), "append")
    // both indexes still cover the two-doc table; every scan form is
    // planned and run before any index refresh
    val ranked = ArticleOps.searchRanked(spark, sfDir, Seq("zebras"))
    val stemmed = ArticleOps.searchStemmed(spark, sfDir, "zebra")
    val scans = Seq("searchRanked" -> ranked,
      "searchBm25" -> ArticleOps.searchBm25(spark, sfDir, Seq("zebras")),
      "searchStemmed" -> stemmed)
    val failures = scans.flatMap { case (name, df) =>
      val probes = postingsLeaves(df.queryExecution.optimizedPlan)
      val got = ids(df)
      (if (probes.isEmpty) Nil else Seq(s"$name reads ${probes.size} postings probe(s)")) ++
        (if (got == Seq(3L)) Nil else Seq(s"$name returned $got, not [3]"))
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    val (rankedRows, stemmedRows) = (ranked.collect().toSeq, stemmed.collect().toSeq)
    assert(ArticleOps.searchRankedAuto(spark, sfDir, Seq("zebras")).collect().toSeq == rankedRows)
    assert(ArticleOps.searchStemmedAuto(spark, sfDir, "zebra").collect().toSeq == stemmedRows)
    TextIndexCatalog.clear()
  }

  test("postingsRelation reads with the schema parquet infers and serves one relation per index version") {
    val sfDir = newStore(Seq((1L, "the merges ran"), (2L, "stories end")))
    TextIndexCatalog.clear()
    val dir = TextIndexCatalog.ensureIndex(spark, sfDir)
    val stemmedDir = TextIndexCatalog.ensureStemmedIndex(spark, sfDir)
    assert(TextIndexCatalog.postingsRelation(spark, dir).schema ==
      spark.read.parquet(dir).schema)
    assert(TextIndexCatalog.postingsRelation(spark, stemmedDir, stemmed = true).schema ==
      spark.read.parquet(stemmedDir).schema)
    val first = TextIndexCatalog.postingsRelation(spark, dir)
    assert(TextIndexCatalog.postingsRelation(spark, dir) eq first)
    writeDocs(s"$sfDir/documents.parquet", Seq((3L, "merge bodies")), "append")
    TextIndexCatalog.ensureIndex(spark, sfDir)
    val next = TextIndexCatalog.postingsRelation(spark, dir)
    assert(!(next eq first), "a delta generation is a new index version")
    assert(ids(next.filter(col("term") === "merge")) == Seq(3L))
    TextIndexCatalog.clear()
  }

  test("postings are written in pages of at most PageRows rows, and a term probe reads about a page per file") {
    // 600 docs of 40 distinct tokens each over a 6,000-word vocabulary:
    // 24,000 postings, several pages per term-sorted file
    val rows = (0 until 600).map { d =>
      d.toLong -> (0 until 40).map(j => s"w${(d * 37 + j * 151) % 6000}").mkString(" ")
    }
    val sfDir = newStore(rows)
    TextIndexCatalog.clear()
    val dir = TextIndexCatalog.ensureIndex(spark, sfDir)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val pageRows = files.toSeq.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.flatMap { block =>
          val idx = r.readOffsetIndex(block.getColumns.get(0))
          (0 until idx.getPageCount).map(i =>
            idx.getLastRowIndex(i, block.getRowCount) - idx.getFirstRowIndex(i) + 1)
        }
      } finally r.close()
    }
    assert(pageRows.sum == 24000L)
    assert(pageRows.forall(_ <= TextIndexCatalog.PageRows), s"page rows: $pageRows")
    assert(pageRows.size > files.length, "every file fit in one page: the limit was not exercised")

    val (hit, _, read) = counted(TextIndexCatalog.postingsRelation(spark, dir)
      .filter(col("term") === "w151").select("doc_id").collect())
    assert(hit.nonEmpty)
    // at most one page per file, plus one where the term straddles two
    assert(read <= (files.length + 1L) * TextIndexCatalog.PageRows,
      s"a term probe read $read of 24000 postings rows")
    TextIndexCatalog.clear()
  }
}
