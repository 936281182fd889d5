package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArticleOps
import graft.plans.{FrameStore, TextIndexCatalog}

/** Pins the table snapshot and the index refresh built on it: the
  * visibility rule, the qualified table identity, and searches that stay
  * correct while an ingest commits into the table. */
class TableSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def writeDocs(docsDir: String, rows: Seq[(Long, String)], mode: String): Unit = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(mode).parquet(docsDir)
  }

  private def indexDirs(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir"), "graft-text-index").list())
      .map(_.toSet).getOrElse(Set.empty)

  private def hits(df: org.apache.spark.sql.DataFrame): Set[Long] = {
    import spark.implicits._
    df.select("doc_id").as[Long].collect().toSet
  }

  test("ensureIndex on a bare path below a '.' directory serves on its second call") {
    val base = Files.createTempDirectory("graft-snap").resolve(".hidden-parent").resolve("store")
    Files.createDirectories(base)
    val sfDir = base.toString
    writeDocs(s"$sfDir/documents.parquet", Seq((1L, "alpha beta"), (2L, "beta gamma")), "overwrite")
    TextIndexCatalog.clear()
    TextIndexCatalog.purgeDirs(sfDir)
    val first = TextIndexCatalog.refresh(spark, sfDir)
    assert(first.outcome.isInstanceOf[FrameStore.Rebuilt] && first.snapshot.files.size == 1,
      s"first call must build over the one data file: ${first.outcome}")
    val second = TextIndexCatalog.refresh(spark, sfDir)
    assert(second.outcome == FrameStore.Served,
      s"names above the table root must not hide its files: ${second.outcome}")
    assert(second.dir == TextIndexCatalog.ensureIndex(spark, sfDir))
    TextIndexCatalog.clear()
  }

  test("a bare path and a file: URI name one table: one registry entry, one index dir") {
    val tmp = Files.createTempDirectory("graft-snap-uri").toString
    val docsDir = s"$tmp/documents.parquet"
    writeDocs(docsDir, Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "delta")), "overwrite")
    val uri = s"file://$tmp"
    def search(sfDir: String) = Tables.documents(spark, sfDir)
      .filter(array_contains(split(lower(col("text")), " "), "beta"))
      .select("doc_id")
    Seq((uri, tmp), (tmp, uri)).foreach { case (indexedAs, searchedAs) =>
      TextIndexCatalog.clear()
      TextIndexCatalog.purgeDirs(tmp)
      val before = indexDirs()
      val dir = TextIndexCatalog.ensureIndex(spark, indexedAs)
      assert(TextIndexCatalog.lookup(s"$searchedAs/documents.parquet").contains(dir),
        s"index registered via $indexedAs is not found via $searchedAs")
      assert(TextIndexCatalog.refresh(spark, searchedAs).outcome == FrameStore.Served)
      assert(TextIndexCatalog.ensureIndex(spark, searchedAs) == dir)
      assert(indexDirs() -- before == Set(new java.io.File(dir).getName),
        s"expected exactly one new index dir, got ${indexDirs() -- before}")
      val q = search(searchedAs)
      assert(q.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        s"indexed as $indexedAs, searched as $searchedAs: the postings semi-join did not fire")
      assert(hits(q) == Set(1L, 2L))
    }
    TextIndexCatalog.clear()
  }

  test("a _temporary tree holding a part file inside documents.parquet is not in the snapshot") {
    val tmp = Files.createTempDirectory("graft-snap-tmp").toString
    val docsDir = s"$tmp/documents.parquet"
    writeDocs(docsDir, Seq((1L, "alpha beta"), (2L, "beta gamma")), "overwrite")
    val part = new java.io.File(docsDir).listFiles().filter(_.getName.startsWith("part-")).head
    // a commit in progress: an uncommitted copy of a part file under the
    // writer's scratch tree, with doc ids the committed table never had
    val scratch = Paths.get(docsDir, "_temporary", "0", "_temporary", "attempt_0")
    Files.createDirectories(scratch)
    writeDocs(s"$tmp/pending", Seq((7L, "beta omega")), "overwrite")
    val pendingPart = new java.io.File(s"$tmp/pending").listFiles()
      .filter(_.getName.startsWith("part-")).head
    Files.copy(pendingPart.toPath, scratch.resolve(pendingPart.getName))
    val snap = Tables.snapshot(spark, tmp, "documents")
    assert(snap.files == Seq(part.getName), s"snapshot lists ${snap.files}")
    assert(snap.root == Tables.rootOf(tmp, "documents") && snap.root.startsWith("file:/"))
    TextIndexCatalog.clear()
    TextIndexCatalog.purgeDirs(tmp)
    assert(hits(ArticleOps.searchIndexed(spark, tmp, "beta")) == Set(1L, 2L))
    assert(Tables.rowCount(spark, tmp, "documents") == 2L)
    TextIndexCatalog.clear()
  }

  test("searches beside in-place Spark appends never throw and answer a before or after corpus") {
    val tmp = Files.createTempDirectory("graft-snap-append").toString
    val docsDir = s"$tmp/documents.parquet"
    // every third doc holds the keyword; each append adds one data file
    def batch(b: Int): Seq[(Long, String)] = (0 until 20).map { i =>
      val id = b * 1000L + i
      (id, if (i % 3 == 0) s"kw doc $id" else s"other doc $id")
    }
    val appends = 20
    writeDocs(docsDir, batch(0), "overwrite")
    // the answer after j appends, j = 0..appends
    val answers = (0 to appends).map(j =>
      (0 to j).flatMap(batch).collect { case (id, t) if t.startsWith("kw") => id }.toSet)
    TextIndexCatalog.clear()
    TextIndexCatalog.purgeDirs(tmp)
    // the cold index build runs before the appends start
    assert(hits(ArticleOps.searchIndexed(spark, tmp, "kw")) == answers.head)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val appender = new Thread(() => {
      try (1 to appends).foreach(b => writeDocs(docsDir, batch(b), "append"))
      catch { case e: Throwable => failures.add(s"append threw $e") }
      finally done = true
    })
    var runs = 0
    appender.start()
    while (!done) {
      runs += 1
      try {
        val got = hits(ArticleOps.searchIndexed(spark, tmp, "kw"))
        if (!answers.contains(got))
          failures.add(s"run $runs: ${got.size} hits match no before/after corpus")
      } catch { case e: Exception => failures.add(s"run $runs threw $e") }
    }
    appender.join()
    info(s"$runs searches beside $appends appends")
    assert(failures.isEmpty, s"${failures.size} of $runs runs failed: ${failures.toArray.take(3).mkString("; ")}")
    assert(hits(ArticleOps.searchIndexed(spark, tmp, "kw")) == answers.last)
    TextIndexCatalog.clear()
  }
}
