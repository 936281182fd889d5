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

  test("a bare path and a file: URI share one LM, kNN, published and media store") {
    import graft.operators.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
    val tmp = Files.createTempDirectory("graft-snap-stores").toString
    Seq("documents", "embeddings").foreach(n => Files.copy(
      Paths.get(SparkFixture.sf0001, s"$n.parquet"), Paths.get(tmp, s"$n.parquet")))
    val uri = s"file://$tmp"
    // each store is built through the bare path, then asked for through
    // the URI: the second call must find the first one's copy
    val lm = TextOps.ensureLmStats(spark, tmp)
    assert(lm.outcome.isInstanceOf[FrameStore.Rebuilt], s"first LM-stats call: ${lm.outcome}")
    val lmUri = TextOps.ensureLmStats(spark, uri)
    assert(lmUri.dir == lm.dir && lmUri.outcome == FrameStore.Served,
      s"LM stats: ${lm.dir} then ${lmUri.dir} (${lmUri.outcome})")
    SimilarityOps.clearKnnIndexCache()
    val knn = SimilarityOps.knnGraphIndex(spark, tmp).inputFiles.toSet
    SimilarityOps.clearKnnIndexCache()
    assert(SimilarityOps.knnGraphIndex(spark, uri).inputFiles.toSet == knn,
      "the kNN graph was stored twice")
    val tbl = DedupOps.publishedSignatureTable(spark, tmp)
    assert(DedupOps.publishedSignatureTable(spark, uri) == tbl,
      "the signature table was published twice")
    val zone = MultimodalOps.mediaFileDir(spark, tmp, "png")
    val marker = new java.io.File(zone, "_manifest")
    val t0 = marker.lastModified()
    assert(MultimodalOps.mediaFileDir(spark, uri, "png") == zone && marker.lastModified() == t0,
      "the media zone was written twice")
    // the session entries that have no store: one entry per table
    assert(DedupOps.shingleFrame(spark, tmp) eq DedupOps.shingleFrame(spark, uri),
      "the dedup shingle frame was built twice")
    assert(TextOps.bigramCounts(spark, tmp) eq TextOps.bigramCounts(spark, uri),
      "the bigram counts were built twice")
    assert(TextOps.bpeTrained(spark, tmp, 1) eq TextOps.bpeTrained(spark, uri, 1),
      "the BPE merges were trained twice")
    TextOps.purgeLmStore(tmp)
    SimilarityOps.purgeKnnStore(tmp)
    SimilarityOps.clearKnnIndexCache()
    DedupOps.purgePublishedStore(spark, tmp)
    Tables.clear("dd_published")
    FrameStore.deleteTree(new java.io.File(zone))
  }

  test("a table rewritten in place is served its new contents by every session cache") {
    import graft.operators.{DedupOps, SimilarityOps, TextOps}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // each derived value, as its consumer serves it
    val derived: Seq[(String, String => Seq[String])] = Seq(
      "ngramJaccardPairs" -> (d => rows(DedupOps.ngramJaccardPairs(spark, d))),
      "bigramLmCounts" -> (d => rows(TextOps.bigramLmCounts(spark, d))),
      "bpeMerges" -> (d => rows(TextOps.bpeMerges(spark, d, 2))),
      "lmSurprisalFrame" -> (d => rows(TextOps.lmSurprisalFrame(spark, d))),
      "knnGraphIndex" -> (d => rows(SimilarityOps.knnGraphIndex(spark, d))))
    val same = "xyxy xyxy xyxy xyxy xyxy"
    val before = Seq((1L, same), (2L, same))
    // doc 2 gets other text: no near-dup pair, new bigrams, a new top merge
    val after = Seq((1L, same), (2L, "qrqr qrqr qrqr qrqr qrqr qrqr stst"))
    val orig = Tables.embeddings(spark, SparkFixture.sf0001)
    val maxId = orig.agg(max("vec_id")).head().getLong(0)
    // the rewritten embeddings: the same vectors under mirrored ids
    def writeEmbeddings(sfDir: String, mirrored: Boolean): Unit =
      orig.withColumn("vec_id", if (mirrored) lit(maxId) - col("vec_id") else col("vec_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    val tmp = Files.createTempDirectory("graft-snap-rewrite").toString
    writeDocs(s"$tmp/documents.parquet", before, "overwrite")
    writeEmbeddings(tmp, mirrored = false)
    // a second table holding the rewritten contents from the start: the
    // answer every cache must give after the rewrite
    val fresh = Files.createTempDirectory("graft-snap-fresh").toString
    writeDocs(s"$fresh/documents.parquet", after, "overwrite")
    writeEmbeddings(fresh, mirrored = true)
    val old = derived.map { case (name, f) => name -> f(tmp) }.toMap
    writeDocs(s"$tmp/documents.parquet", after, "overwrite")
    writeEmbeddings(tmp, mirrored = true)
    val failures = derived.flatMap { case (name, f) =>
      val want = f(fresh)
      val got = f(tmp)
      if (want == old(name)) Some(s"$name: the rewrite does not change its answer")
      else if (got != want)
        Some(s"$name: ${if (got == old(name)) "still serves the old contents" else "wrong answer"}")
      else None
    }
    Seq(tmp, fresh).foreach { d =>
      TextOps.purgeLmStore(d)
      SimilarityOps.purgeKnnStore(d)
    }
    assert(failures.isEmpty, failures.mkString("; "))
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
