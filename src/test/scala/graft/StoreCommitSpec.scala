package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ArticleOps, DedupOps, MultimodalOps}
import graft.plans.{FrameStore, TextIndexCatalog}
import graft.plans.FrameStore.{Delta, Outcome, Rebuilt}

/** The one store commit under failure: every writer of a durable
  * derived store is cut at each of its file-system steps in turn
  * ([[FaultInjectingFs]]), and the next call must repair the store and
  * leave it as a cold build does. One JVM only: two JVMs building one
  * store are not covered. */
class StoreCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** A session whose file system fails on demand. */
  private lazy val faulty: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[FaultInjectingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s
  }

  /** A documents table of one parquet file per group of docs, or with
    * those files appended. */
  private def writeTable(sfDir: String, files: Seq[Seq[(Long, String)]],
                         append: Boolean = false): Unit = {
    import spark.implicits._
    files.zipWithIndex.foreach { case (docs, i) =>
      docs.map { case (id, t) => (id, t, "en", s"src$id", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode(if (i == 0 && !append) "overwrite" else "append")
        .parquet(s"$sfDir/documents.parquet")
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private val first = Seq(1L -> "alpha beta beta", 2L -> "beta gamma")
  private val second = Seq(3L -> "beta delta alpha")

  test("a rebuild cut part-way through its manifest write is rebuilt by the next refresh, not given a delta") {
    val sfDir = Files.createTempDirectory("graft-cut-manifest").toString
    writeTable(sfDir, Seq(first, second))
    TextIndexCatalog.purgeDirs(sfDir)
    FaultInjectingFs.cutManifest(1)
    try intercept[java.io.IOException](TextIndexCatalog.refresh(faulty, sfDir))
    finally FaultInjectingFs.disarm()
    val next = TextIndexCatalog.refresh(faulty, sfDir)
    assert(next.outcome == Rebuilt(next.snapshot.files, "no manifest"),
      s"after a cut manifest the next refresh was ${next.outcome}")
    val kws = Seq("beta", "alpha")
    assert(rows(ArticleOps.searchRankedAuto(faulty, sfDir, kws)) ==
      rows(ArticleOps.searchRanked(faulty, sfDir, kws)))
    def sumTf(df: DataFrame): Long = df.agg(sum("tf")).head.getLong(0)
    assert(sumTf(TextIndexCatalog.postingsRelation(faulty, next.dir)) ==
      sumTf(TextIndexCatalog.postingsOf(Tables.documents(faulty, sfDir))))
    TextIndexCatalog.purgeDirs(sfDir)
    FrameStore.deleteTree(new java.io.File(sfDir))
  }

  /** Fail step n = 1, 2, … of `call` until a call runs every step.
    * After each failure the next call must name the repair (`no
    * manifest` or `interrupted delta`; a delta cut at its first step
    * wrote nothing, so the next call is that delta again) and `answer`
    * must equal `cold`. Returns the number of steps swept. */
  private def sweep(writer: String, setup: () => Unit, call: () => Outcome,
                    answer: () => Seq[String], cold: Seq[String]): Int = {
    var n = 0
    var failed = true
    while (failed) {
      n += 1
      setup()
      FaultInjectingFs.failAt(n)
      spark.sparkContext.setLogLevel("OFF") // the injected task failures
      val threw =
        try { call(); false }
        catch { case _: Exception => true }
        finally { FaultInjectingFs.disarm(); spark.sparkContext.setLogLevel("ERROR") }
      val at = FaultInjectingFs.fired
      failed = at.nonEmpty
      if (failed) {
        assert(threw, s"$writer: step $n ($at) failed, yet the call returned")
        val next = call()
        val repaired = next match {
          case Rebuilt(_, reason) => reason == "no manifest" || reason == "interrupted delta"
          case Delta(_) => n == 1
          case _ => false
        }
        assert(repaired, s"$writer: after a failure at step $n ($at) the next call was $next")
        assert(answer() == cold,
          s"$writer: after a failure at step $n ($at) the store differs from a cold build")
      } else assert(!threw, s"$writer: the call with no failure threw")
    }
    assert(n > 3, s"$writer: only ${n - 1} steps were swept; is the injector installed?")
    n - 1
  }

  test("crash sweep: every store writer is repaired by its next call") {
    val sfDir = Files.createTempDirectory("graft-crash-sweep").toString
    val docs = () => Tables.documents(faulty, sfDir)
    val postings = () => rows(faulty.read.parquet(TextIndexCatalog.ensureIndex(faulty, sfDir)))
    def coldPostings = rows(TextIndexCatalog.postingsOf(docs()))

    writeTable(sfDir, Seq(first, second))
    val indexRebuild = sweep("text index rebuild",
      () => TextIndexCatalog.purgeDirs(sfDir),
      () => TextIndexCatalog.refresh(faulty, sfDir).outcome, postings, coldPostings)

    val indexDelta = sweep("text index delta",
      () => {
        writeTable(sfDir, Seq(first))
        TextIndexCatalog.refresh(faulty, sfDir)
        writeTable(sfDir, Seq(second), append = true)
      },
      () => TextIndexCatalog.refresh(faulty, sfDir).outcome, postings, coldPostings)
    TextIndexCatalog.purgeDirs(sfDir)

    val key = s"store-commit-spec#${Tables.rootOf(sfDir, "documents")}"
    val frame = () => docs().select("doc_id", "text")
    val whole = sweep("serveOrBuild",
      () => FrameStore.purge(key),
      () => FrameStore.serveOrBuild(faulty, key, sfDir, "documents") { dir =>
        frame().write.parquet(dir)
      }.outcome,
      () => rows(faulty.read.parquet(FrameStore.dirFor(key))), rows(frame()))
    FrameStore.purge(key)

    val published = sweep("publishedSignatureTable",
      () => { DedupOps.purgePublishedStore(faulty, sfDir); Tables.clear("dd_published") },
      () => DedupOps.publishedStore(faulty, sfDir).outcome,
      () => rows(faulty.table(DedupOps.publishedSignatureTable(faulty, sfDir))),
      rows(DedupOps.shingleFrame(faulty, sfDir)))
    DedupOps.purgePublishedStore(faulty, sfDir)
    Tables.clear("dd_published")

    val zone = MultimodalOps.mediaFileDir(faulty, sfDir, "png")
    def zoneFiles(): Seq[String] =
      Option(new java.io.File(zone).listFiles()).toSeq.flatten
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => f.getName + ":" + java.util.Arrays.hashCode(Files.readAllBytes(f.toPath)))
        .sorted
    val coldZone = zoneFiles()
    assert(coldZone.nonEmpty)
    val media = sweep("mediaFileDir",
      () => FrameStore.deleteTree(new java.io.File(zone)),
      () => MultimodalOps.mediaZone(faulty, sfDir, "png").outcome, () => zoneFiles(), coldZone)
    FrameStore.deleteTree(new java.io.File(zone))
    FrameStore.deleteTree(new java.io.File(sfDir))

    info(s"steps swept: index rebuild $indexRebuild, index delta $indexDelta, " +
      s"serveOrBuild $whole, published $published, media $media")
  }
}
