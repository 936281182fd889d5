package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.UrlFunctions

/** Source/sink coverage (SURVEY.md §2.2 scans/sources/sinks): the
  * reference's seed-file source (O1), per-format round-trips, the
  * file-byte sink naming rule (O16), and the HLL accuracy bound that
  * replaces count_distinct at 100 TB. */
class SourceSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("O1 seed scan: read a URL list file, trim, drop blanks") {
    import spark.implicits._
    val f = Files.createTempFile("seeds", ".lst")
    Files.writeString(f,
      "https://www.example.com/a\n  \nhttps://www.example.com/b  \n\n")
    val seeds = spark.read.text(f.toString)
      .select(trim(col("value")).as("url"))
      .filter(length(col("url")) > 0)
      .as[String].collect().toSeq
    assert(seeds == Seq("https://www.example.com/a", "https://www.example.com/b"))
  }

  test("synthdocs DSv2 source: deterministic rows, partition pruning, column pruning") {
    import spark.implicits._
    import graft.sources.{SynthDocs, SynthDocsRegistry}
    def read() = spark.read.format("synthdocs")
      .option("rows", 5000).option("partitions", 16).load()
    // full scan: every row, generated to the fixed formula
    val full = read().as[(Long, String, String)].collect()
    assert(full.length == 5000)
    assert(SynthDocsRegistry.lastPlannedPartitions == 16)
    val sample = full.find(_._1 == 1234L).get
    assert(sample._2 == SynthDocs.sourceOf(1234L))
    assert(sample._3 == SynthDocs.textOf(1234L))
    // filter pushdown prunes generator partitions at PLANNING time:
    // 5000 rows / 16 partitions = 313-row ranges; [1200, 3800) overlaps
    // exactly ranges 3..12 → 10 planned, and every returned row is
    // in-bounds (the pushed filters also re-evaluate as residuals)
    val sliced = read()
      .filter(col("doc_id") >= 1200 && col("doc_id") < 3800)
      .as[(Long, String, String)].collect()
    assert(sliced.length == 2600)
    assert(sliced.forall(r => r._1 >= 1200 && r._1 < 3800))
    assert(SynthDocsRegistry.lastPlannedPartitions == 10,
      s"expected 10 surviving ranges, planned ${SynthDocsRegistry.lastPlannedPartitions}")
    assert(SynthDocsRegistry.lastPushed.nonEmpty, "doc_id bounds must push down")
    // column pruning reaches the generator: a doc_id-only projection
    // never asks the reader for text
    assert(read().select("doc_id").as[Long].collect().sum ==
      (0L until 5000L).sum)
    assert(SynthDocsRegistry.lastReadColumns == Seq("doc_id"),
      s"text synthesized for a pruned scan: ${SynthDocsRegistry.lastReadColumns}")
  }

  test("synthdocs DSv2 micro-batch stream: admission-controlled triggers, checkpoint restart resumes the offset") {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = Files.createTempDirectory("graft_synthstream_ckpt").toFile
    // per-batch (rows, min_id, max_id) — ranges prove the offset walk
    def drain(rows: Int): Seq[(Long, Long, Long)] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val q = spark.readStream.format("synthdocs")
        .option("rows", rows).option("partitions", 4)
        .option("maxRowsPerTrigger", 100).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val r = batch.agg(count(lit(1)), min(col("doc_id")),
            max(col("doc_id"))).collect().head
          if (r.getLong(0) > 0)
            seen.synchronized { seen += ((r.getLong(0), r.getLong(1), r.getLong(2))) }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      q.awaitTermination()
      seen.toSeq.sortBy(_._2)
    }
    // 300-row backlog drains in three 100-row triggers, ranges disjoint
    // and contiguous — the admission-control contract (never one gulp)
    assert(drain(300) == Seq((100L, 0L, 99L), (100L, 100L, 199L),
      (100L, 200L, 299L)))
    // grow the corpus to 500 and RESTART from the same checkpoint: only
    // the 200 unread rows arrive — the replay-by-range exactly-once seam
    assert(drain(500) == Seq((100L, 300L, 399L), (100L, 400L, 499L)))
  }

  test("synthdocs DSv2 aggregate pushdown: COUNT/MIN/MAX from range arithmetic, one row per partition") {
    import spark.implicits._
    import graft.sources.{SynthDocs, SynthDocsRegistry}
    val df = SynthDocs.corpusSizing(spark, rows = 200000, partitions = 32)
    // collect df ITSELF (not a derived .as dataset — that would execute
    // a different QueryExecution and leave df's scan metrics at zero)
    val row = df.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((200000L, 0L, 199999L)))
    // the agg reached the source: the scan read the summary schema
    assert(SynthDocsRegistry.lastAggPushed ==
      Seq("count_star", "min_doc_id", "max_doc_id"),
      s"agg not pushed: ${SynthDocsRegistry.lastAggPushed}")
    // and only one summary row per partition crossed the scan boundary.
    // Under AQE the scan sits inside materialized QueryStageExec nodes,
    // which are LEAVES of the final plan's tree — recurse through each
    // stage's inner plan to reach the BatchScanExec metrics
    val fin = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
    val scanRows = scans(fin).headOption.map(_.metrics("numOutputRows").value)
    assert(scanRows.contains(32L),
      s"expected 32 partition-summary rows off the scan, got $scanRows")
    // an aggregate the source can't answer (min over a synthesized
    // column) must NOT push — and still be correct via the row path
    val fallback = spark.read.format("synthdocs")
      .option("rows", 5000).option("partitions", 8).load()
      .agg(min(col("source")).as("min_src"))
      .as[String].collect().head
    assert(SynthDocsRegistry.lastAggPushed.isEmpty,
      "min(source) must not push into the generator")
    assert(fallback == "synth0")
    // grouped aggregation likewise stays on the row path
    val grouped = spark.read.format("synthdocs")
      .option("rows", 5000).option("partitions", 8).load()
      .groupBy("source").agg(count(lit(1)).as("n"))
    assert(grouped.collect().length == 5)
    assert(SynthDocsRegistry.lastAggPushed.isEmpty,
      "grouped agg must not push into the generator")
  }

  test("graftmetrics DSv2 sink: commit-message accounting, exact rows and schema-driven bytes") {
    import spark.implicits._
    import graft.sources.MetricsSinkRegistry
    MetricsSinkRegistry.clear()
    val df = Seq((1L, "ab"), (2L, "cdef"), (3L, null: String))
      .toDF("id", "s").repartition(3)
    df.write.format("graftmetrics").option("name", "probe")
      .mode("append").save()
    val t = MetricsSinkRegistry.lookup("probe").get
    assert(t.rows == 3L && t.commits == 1L)
    // bytes = 3 longs (8 each) + string utf8 bytes (2 + 4; null skipped)
    assert(t.bytes == 3 * 8L + 2L + 4L, s"got $t")
    assert(t.tasks >= 1L && t.tasks <= 3L)
    // a second job onto the same name accumulates at COMMIT granularity
    df.limit(1).write.format("graftmetrics").option("name", "probe")
      .mode("append").save()
    val t2 = MetricsSinkRegistry.lookup("probe").get
    assert(t2.rows == 4L && t2.commits == 2L)
    // independent sink names never share totals
    df.write.format("graftmetrics").option("name", "other")
      .mode("append").save()
    assert(MetricsSinkRegistry.lookup("probe").get.rows == 4L)
    assert(MetricsSinkRegistry.lookup("other").get.rows == 3L)
    // overwrite mode plans truncate() + write: the advertised TRUNCATE
    // capability must be backed by SupportsTruncate (declaring it
    // without the trait fails at write planning) — truncation itself
    // is a no-op for a metrics-only sink, so totals keep accumulating
    df.write.format("graftmetrics").option("name", "other")
      .mode("overwrite").save()
    assert(MetricsSinkRegistry.lookup("other").get.rows == 6L)
  }

  test("Tables.spread is the identity when the scan already has >= cores splits") {
    // the split-starvation guard must never add an exchange at cluster
    // scale, where scans produce at least as many splits as cores. The
    // decision now comes from file metadata (no RDD materialization), so
    // the fixtures are real parquet layouts: one file per partition.
    val cores = spark.sparkContext.defaultParallelism
    val wideDir = tmpDir("spread-wide")
    spark.range(10000).toDF("doc_id")
      .repartition(cores + 4).write.mode("overwrite").parquet(wideDir)
    val wide = spark.read.parquet(wideDir)
    // each non-empty file estimates to >= 1 split, so the estimate is
    // >= cores + 4 and spread returns the SAME DataFrame (no exchange)
    assert(graft.Tables.spread(wide, col("doc_id")) eq wide)
    val narrowDir = tmpDir("spread-narrow")
    spark.range(1000).toDF("doc_id")
      .coalesce(1).write.mode("overwrite").parquet(narrowDir)
    val narrow = spark.read.parquet(narrowDir)
    assert(graft.Tables.estimatedScanSplits(narrow).exists(_ < cores))
    assert(graft.Tables.spread(narrow, col("doc_id")).rdd.getNumPartitions
      == cores)
    // no file-scan leaf (in-memory fixture): identity — the guard's
    // domain is file scans; adding exchanges to composed in-memory
    // plans is never load-bearing
    val mem = spark.range(100).toDF("doc_id").coalesce(1)
    assert(graft.Tables.spread(mem, col("doc_id")) eq mem)
  }

  test("range-sorted write lays out disjoint per-file key ranges (file-skipping layout)") {
    // The write-side layout discipline of SURVEY §8.1: a table written
    // with repartitionByRange + sortWithinPartitions on its lookup key
    // gives every parquet file a disjoint (min, max) key range, which is
    // exactly what row-group/file pruning needs — a point or range scan
    // at 100 TB touches one file instead of all of them. The same write
    // also proves the sink path plans NO extra exchange beyond the range
    // partitioner itself.
    val dir = tmpDir("layout")
    graft.Tables.documents(spark, SparkFixture.sf0001)
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length >= 2, s"expected multiple output files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"file ranges overlap: max $aMax >= next min $bMin")
      case _ =>
    }
    // and the layout actually prunes: a point lookup reads one file
    val probe = ranges.head._2 // last key of the first file
    val plan = spark.read.parquet(dir).filter(col("doc_id") === probe)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,"))
  }

  test("z-order write tiles two dimensions: either-column point filter prunes most files") {
    // Morton-curve layout vs the single-key range sort above: the
    // range sort prunes perfectly on its sort key and not at all on any
    // other column (every file spans the full b extent); the z-ordered
    // layout tiles the (a, b) plane into near-square blocks, so a point
    // predicate on EITHER column intersects only the tile row/column
    // that touches it. Verified from the same per-file min/max stats
    // file pruning itself uses.
    val dir = tmpDir("zorder")
    val dirA = tmpDir("asorted")
    val grid = spark.range(4096).selectExpr(
      "CAST(id % 64 AS INT) AS a", "CAST(id DIV 64 AS INT) AS b")
    graft.sources.ZOrderLayout.writeZOrdered(
      grid, col("a"), col("b"), bits = 6, numFiles = 16, dir = dir)
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(dirA)
    def boxes(d: String): Array[(Int, Int, Int, Int)] =
      new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min(col("a")), max(col("a")), min(col("b")), max(col("b"))).head
          (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
        }
    val zb = boxes(dir)
    val ab = boxes(dirA)
    assert(zb.length >= 8 && ab.length >= 8,
      s"expected >=8 files, got z=${zb.length} a=${ab.length}")
    def hitsA(bs: Array[(Int, Int, Int, Int)], v: Int) =
      bs.count(x => x._1 <= v && v <= x._2)
    def hitsB(bs: Array[(Int, Int, Int, Int)], v: Int) =
      bs.count(x => x._3 <= v && v <= x._4)
    // z-order: a point filter on EITHER dimension touches <= half the files
    assert(hitsA(zb, 17) * 2 <= zb.length, s"a-filter hits ${hitsA(zb, 17)}/${zb.length}")
    assert(hitsB(zb, 17) * 2 <= zb.length, s"b-filter hits ${hitsB(zb, 17)}/${zb.length}")
    // single-key layout: sharp on a, USELESS on b — every file spans all of b
    assert(hitsA(ab, 17) * 4 <= ab.length)
    assert(hitsB(ab, 17) == ab.length)
    // same rows either way
    assert(spark.read.parquet(dir).count() == 4096L)
  }

  test("compaction: 32 small files become 4, rows identical, per-file ranges stay disjoint") {
    val srcDir = tmpDir("compact_src")
    val dstDir = tmpDir("compact_dst")
    graft.Tables.documents(spark, SparkFixture.sf0001)
      .repartitionByRange(32, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(srcDir)
    def files(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files(srcDir).length > 8, "fixture must start fragmented")
    val n = graft.sources.Compaction.compactRangeSorted(
      spark, srcDir, "doc_id", targetFiles = 4, dstDir = dstDir)
    assert(n == spark.read.parquet(srcDir).count())
    assert(files(dstDir).length <= 4)
    // content identical (both directions of EXCEPT ALL empty)
    val a = spark.read.parquet(srcDir)
    val b = spark.read.parquet(dstDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the file-skipping property survived the rewrite
    val ranges = files(dstDir).map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("doc_id")), max(col("doc_id"))).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) => assert(aMax < bMin)
      case _ =>
    }
  }

  test("schema evolution: mergeSchema reads old and new parquet files as one table") {
    // the ingest-lifecycle reality of a long-lived 100 TB table: files
    // written before a column existed sit next to files written after;
    // mergeSchema unions the footers and back-fills nulls, so readers
    // never need a rewrite of the old data
    import spark.implicits._
    val dir = tmpDir("evolve")
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .write.mode("append").parquet(dir)
    Seq((3L, "gamma", 0.9), (4L, "delta", 0.1)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 4)
    // old files surface the new column as null, new files carry values
    assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("score"))))
    assert(rows.drop(2).forall(!_.isNullAt(rows.head.fieldIndex("score"))))
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact scan") {
    // The star-join mechanism a 100 TB fact table lives on: the fact is
    // written hive-partitioned on the join key; joining a FILTERED tiny
    // dimension must inject a runtime DynamicPruning subquery into the
    // fact scan's partition filters, so only the surviving partitions'
    // files are read — without the writer or the query naming them.
    val dir = tmpDir("dpp")
    graft.Tables.orders(spark, SparkFixture.sf0001)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("o_month").parquet(dir)
    val fact = spark.read.parquet(dir)
    val aMonth = fact.select("o_month").orderBy("o_month").limit(1)
      .collect().head.getString(0)
    import spark.implicits._
    // the dim must be a real scan: a filter over an in-memory Seq
    // constant-folds away and DPP sees no selective predicate
    val dimDir = tmpDir("dpp_dim")
    Seq((aMonth, "keep"), ("9999-12", "drop")).toDF("m", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("tag") === "keep"),
      fact("o_month") === dim("m"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruning in plan:\n${plan.take(2000)}")
    // semantics: only the kept month's rows flow
    val got = joined.select("o_month").distinct().collect().map(_.getString(0)).toSeq
    assert(got == Seq(aMonth))
  }

  test("CSV round-trip preserves schema and rows") {
    import spark.implicits._
    val dir = tmpDir("csv")
    val df = Seq((1L, "a,b", 1.5), (2L, "c\"d", -0.25)).toDF("id", "s", "v")
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema("id LONG, s STRING, v DOUBLE").csv(dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("JSON lines round-trip including null fields") {
    import spark.implicits._
    val dir = tmpDir("json")
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "s")
    df.write.mode("overwrite").json(dir)
    val back = spark.read.schema("id LONG, s STRING").json(dir)
    assert(back.orderBy("id").as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, Some("x")), (2L, None)))
  }

  test("ORC round-trip preserves schema and rows; predicate pushes to the ORC scan") {
    import spark.implicits._
    val dir = tmpDir("orc")
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, "c", 0.0))
      .toDF("id", "s", "v")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // ORC is the second columnar source a warehouse migration brings —
    // filters must reach the scan (min/max stripe skipping at scale)
    val plan = back.filter(col("id") > 1L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      s"filter not pushed to ORC scan:\n$plan")
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmpDir("part")
    Tables.documents(spark, SparkFixture.sf0001)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("lang") === "en")
    val planStr = one.queryExecution.executedPlan.toString
    assert(one.count() > 0)
    // the lang predicate must appear INSIDE the scan's PartitionFilters
    // list (the node prints 'PartitionFilters: []' even when empty, so
    // a bare contains check would be vacuous)
    assert(planStr.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang filter not pushed to partition pruning:\n$planStr")
    val full = spark.read.parquet(dir).count()
    assert(full == Tables.documents(spark, SparkFixture.sf0001).count())
  }

  test("column pruning reaches the parquet scan") {
    val df = Tables.lineitem(spark, SparkFixture.sf0001)
      .filter(col("l_quantity") > 25)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    // the scan must read exactly the two referenced columns
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan not pruned:\n$scan")
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)]"),
      s"filter not pushed:\n$scan")
  }

  test("O16 file sink naming: url basename column") {
    import spark.implicits._
    val got = Seq("https://www.example.com/files/report7.pdf",
      "https://www.example.com/x").toDF("url")
      .select(UrlFunctions.urlBasename(col("url"))).as[String].collect().toSeq
    assert(got == Seq("report7.pdf", "x"))
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, SparkFixture.sf0001)
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_bucketed")
      Tables.customer(spark, SparkFixture.sf0001)
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("customer_bucketed")
      val joined = spark.table("orders_bucketed")
        .join(spark.table("customer_bucketed"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // both sides pre-bucketed on the key: the join needs no shuffle
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS customer_bucketed")
    }
  }

  test("published signature table: verify join reads the signature side in place (one exchange, candidates only)") {
    // the cluster-scale form of the dedup catalog pin: the shingle
    // frame published bucketed+sorted on doc_id, then a verify-shaped
    // join (candidate pairs -> signatures) planned against it — the
    // published side's bucketed scan satisfies the join distribution,
    // so the ONLY exchange is the near-dup-sized candidate side
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // default publish mode is ErrorIfExists (r13 advice) — a leftover
      // table from an aborted run must be cleared, not clobbered silently
      spark.sql("DROP TABLE IF EXISTS dd_sig_pub")
      val table = graft.operators.DedupOps.publishSignatures(
        spark, SparkFixture.sf0001, "dd_sig_pub")
      val cands = graft.operators.DedupOps
        .lshPairsFrame(spark, SparkFixture.sf0001)
        .select("doc_a", "doc_b")
      val sig = spark.table(table)
        .select(col("doc_id").as("doc_a"), col("sh").as("sha"))
      val verify = cands.join(sig, "doc_a")
      val plan = verify.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"want exactly 1 exchange (candidate side); plan:\n$plan")
      // and the published rows serve the same verify results as the
      // in-session pinned frame
      val pinned = graft.operators.DedupOps
        .shingleFrame(spark, SparkFixture.sf0001)
        .select(col("doc_id").as("doc_a"), col("sh").as("sha"))
      val a = verify.select("doc_a", "doc_b", "sha").collect()
        .map(_.toString).sorted.toSeq
      val b = cands.join(pinned, "doc_a")
        .select("doc_a", "doc_b", "sha").collect()
        .map(_.toString).sorted.toSeq
      assert(a == b, "published table diverged from the pinned frame")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS dd_sig_pub")
    }
  }

  test("dd_published_pairs: both verify sides read the bucketed table in place; results identical to the catalog path") {
    // the REGISTERED durable-catalog consumer (r13 left the published
    // table spec-only): the signature sides of both exact-verify joins
    // must be served by bucketed scans with NO exchange above them —
    // only the near-dup-sized candidate side shuffles — and
    // publication must not change results (same pairs as minhashLsh)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.DedupOps.publishedPairs(spark, SparkFixture.sf0001)
      val plan = df.queryExecution.executedPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val pubLoc = graft.plans.FrameStore
        .dirFor(graft.operators.DedupOps.publishedStoreKey(SparkFixture.sf0001))
      def isPub(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(pubLoc))
        case _ => false
      }
      // EVERYTHING reads the published table now — bands, sa, sb (the
      // candidate side's banding is row-local math over stored
      // shingles, so a fresh JVM never re-shingles corpus text)
      val pubScans = plan.collect { case f: FileSourceScanExec if isPub(f) => f }
      assert(pubScans.size == 3, s"want 3 published-table scans:\n$plan")
      assert(pubScans.count(_.bucketedScan) >= 2,
        s"verify-side published scans not served bucketed:\n$plan")
      // the load-bearing pin: both VERIFY joins' signature sides reach
      // their join straight off the bucketed scan — published-only
      // subtrees containing no exchange. (The band self-join's bkey
      // exchange and the candidate distinct legitimately shuffle
      // narrow derived rows.)
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val inPlaceSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right).filter(c =>
          c.collectLeaves().nonEmpty && c.collectLeaves().forall(isPub) &&
            c.collect { case e: ShuffleExchangeExec => e }.isEmpty))
      assert(inPlaceSides.size >= 2,
        s"verify joins' published sides not served in place:\n$plan")
      val got = df.collect().map(_.toString).toSeq
      val want = graft.operators.DedupOps.minhashLsh(spark, SparkFixture.sf0001)
        .collect().map(_.toString).toSeq
      assert(got == want, "publication changed the verified pair set")
      // session-once publish: the second lookup reuses the same table
      val t1 = graft.operators.DedupOps
        .publishedSignatureTable(spark, SparkFixture.sf0001)
      assert(t1 == graft.operators.DedupOps
        .publishedSignatureTable(spark, SparkFixture.sf0001))
      // CROSS-SESSION durability: the table is EXTERNAL with a corpus
      // fingerprint manifest — drop the catalog entry (the metastore
      // that died with its JVM) and a "new session" must RE-REGISTER
      // the existing bucketed files (metadata-only DDL, zero rewrite:
      // data file mtimes unchanged), same rows, still bucket-served
      val locStr = graft.plans.FrameStore
        .dirFor(graft.operators.DedupOps.publishedStoreKey(SparkFixture.sf0001))
      def dataMtimes(): Map[String, Long] =
        new java.io.File(locStr).listFiles()
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .map(f => f.getName -> f.lastModified()).toMap
      val before = dataMtimes()
      assert(before.nonEmpty)
      val rowsBefore = spark.table(t1).collect().map(_.toString).sorted.toSeq
      spark.sql(s"DROP TABLE $t1") // external: files survive
      graft.operators.DedupOps.clearPublishedTables()
      val t2 = graft.operators.DedupOps
        .publishedSignatureTable(spark, SparkFixture.sf0001)
      assert(t2 == t1)
      assert(dataMtimes() == before,
        "re-registration must not rewrite the published files")
      assert(spark.table(t2).collect().map(_.toString).sorted.toSeq ==
        rowsBefore, "re-registered table diverged")
      val replan = graft.operators.DedupOps
        .publishedPairs(spark, SparkFixture.sf0001)
        .queryExecution.executedPlan
      val rescans = replan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(locStr)) => f
      }
      assert(rescans.size >= 2 && rescans.count(_.bucketedScan) >= 2,
        s"re-registered table not served bucketed:\n$replan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucket pruning: a bucket-key point filter reads 1 of N buckets") {
    // the read-side payoff of bucketBy beyond shuffle-free joins: a
    // point predicate on the bucket key hashes to ONE bucket, and the
    // scan skips the other N-1 entirely — visible as SelectedBucketsCount
    // in the scan node, the bucketed analogue of partition pruning
    Tables.orders(spark, SparkFixture.sf0001)
      .write.mode("overwrite").bucketBy(8, "o_custkey")
      .saveAsTable("orders_bucket_prune")
    // the planner DISABLES bucketed scans when no join/agg wants the
    // distribution (autoBucketedScan) — which also forfeits filter-time
    // bucket pruning; a lone point lookup must opt back in, exactly as a
    // production point-lookup service over a bucketed 100 TB table would
    val prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val aKey = spark.table("orders_bucket_prune")
        .select("o_custkey").head.getLong(0)
      val df = spark.table("orders_bucket_prune")
        .filter(col("o_custkey") === aKey)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning absent:\n${plan.take(1200)}")
      assert(df.count() > 0)
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
      spark.sql("DROP TABLE IF EXISTS orders_bucket_prune")
    }
  }

  test("AsOfMergeExec over bucketed tables: declared distribution satisfied, no exchange") {
    import org.apache.spark.sql.functions.unix_micros
    // the payoff of requiredChildDistribution being a planner contract:
    // inputs bucketed on the key already satisfy it, so the planner
    // inserts NO exchange (SURVEY.md §8.2) — the same query that plans
    // one exchange per side on unbucketed inputs
    val ev = Tables.events(spark, SparkFixture.sf0001)
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .repartition(8, col("user_id")) // one file per bucket
      .write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id", "tsMicros").saveAsTable("purchases_bucketed")
    ev.filter(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .repartition(8, col("user_id"))
      .write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id", "tsMicros").saveAsTable("signups_bucketed")
    try {
      val df = graft.operators.AsOfJoinOps.asofJoinExec(spark,
        spark.table("purchases_bucketed"), spark.table("signups_bucketed"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfMerge"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
      // same rows as the unbucketed path
      val expected = graft.operators.AsOfJoinOps.asofJoinExec(spark,
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros")),
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), unix_micros(col("ts")).as("tsMicros")))
        .collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS purchases_bucketed")
      spark.sql("DROP TABLE IF EXISTS signups_bucketed")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the 100 TB-relevant runtime optimization: a selective dim-side
    // filter injects a bloom filter onto the fact scan, so most fact
    // rows die before the shuffle (complements static pushdown, which
    // cannot see join selectivity)
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // the rule only fires when the pruned side is big (10GB default);
      // zero it so the sf0.001 fixture exercises the plan shape
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = Tables.orders(spark, SparkFixture.sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = Tables.lineitem(spark, SparkFixture.sf0001)
      val joined = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter") ||
        plan.contains("might_contain"), s"no runtime filter injected:\n$plan")
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val confs = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 50k rows of key 0 + 10k uniform over 100 keys: key 0's shuffle
      // partition dwarfs the rest
      val skewed = spark.range(60000)
        .select(when(col("id") < 50000, 0L).otherwise(col("id") % 100).as("k"),
          concat(lit("payload-padding-"), col("id")).as("v"))
      val dim = spark.range(100).select(col("id").as("k"), lit("d").as("d"))
      val joined = skewed.join(dim, "k")
      // collect() finalizes THIS Dataset's adaptive plan (count() would
      // plan its own execution and leave this one unfinalized)
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE skew split did not fire:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx_count_distinct tracks exact distinct within 5%") {
    import spark.implicits._
    val ev = Tables.events(spark, SparkFixture.sf0001)
    val (approx, exact) = ev.select(
      approx_count_distinct(col("user_id")),
      countDistinct(col("user_id"))).as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("corrupt-record tolerance (O24 at the source): PERMISSIVE keeps good rows and quarantines bad ones; FAILFAST throws") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toFile
    java.nio.file.Files.write(new java.io.File(dir, "a.json").toPath, Seq(
      """{"id": 1, "name": "ok-one"}""",
      """{"id": 2, "name": "ok-two"}""",
      """{"id": 3, "name": NOT VALID JSON""",
      """{"id": "not-a-number", "name": "type-clash"}""",
      """{"id": 5, "name": "ok-three"}""").mkString("\n").getBytes)
    val schema = "id LONG, name STRING, _corrupt_record STRING"
    // PERMISSIVE (default): malformed rows survive with the raw line in
    // the corrupt column — the batch keeps flowing, bad rows are
    // routable to a quarantine sink (the reference's per-row
    // try/except, applied at the SOURCE boundary)
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").json(dir.getAbsolutePath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val good = permissive.filter(col("_corrupt_record").isNull)
    val bad = permissive.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 3 && bad.count() == 2)
    assert(good.select("name").as[String].collect().toSet ==
      Set("ok-one", "ok-two", "ok-three"))
    // the quarantined rows carry their original bytes for replay
    assert(bad.select("_corrupt_record").as[String].collect()
      .forall(s => s.contains("NOT VALID") || s.contains("not-a-number")))
    // FAILFAST: the strict-pipeline mode surfaces the first bad row
    intercept[org.apache.spark.SparkException] {
      spark.read.schema("id LONG, name STRING")
        .option("mode", "FAILFAST").json(dir.getAbsolutePath).collect()
    }
    permissive.unpersist()
  }

  test("perceptual file tiers: binaryFile round-trip returns the in-plan pair sets; the landing zone writes once") {
    import graft.operators.MultimodalOps
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // byte-identical files on disk => identical decoded pairs (the
    // contract that lets the file twins share the in-plan oracles)
    assert(rows(MultimodalOps.dhashPxFilePairs(spark, SparkFixture.sf0001)) ==
      rows(MultimodalOps.dhashPxPairs(spark, SparkFixture.sf0001)),
      "file-tier PNG pairs diverged from the in-plan tier")
    assert(rows(MultimodalOps.wavFpFilePairs(spark, SparkFixture.sf0001)) ==
      rows(MultimodalOps.wavFpPairs(spark, SparkFixture.sf0001)),
      "file-tier WAV pairs diverged from the in-plan tier")
    // the full-codec tier end-to-end on real mixed-encoding files:
    // Huffman-compressed PNGs ON DISK, inflated + unfiltered in the
    // scan, cross-encoding planted copies still paired
    assert(rows(MultimodalOps.dhashInflateFilePairs(spark, SparkFixture.sf0001)) ==
      rows(MultimodalOps.dhashInflatePairs(spark, SparkFixture.sf0001)),
      "file-tier inflate pairs diverged from the in-plan tier")
    // write-once: a second invocation reuses the completed landing
    // zone (same marker mtime — no re-write of the corpus)
    val dir = MultimodalOps.mediaFileDir(spark, SparkFixture.sf0001, "png")
    val marker = new java.io.File(dir, "_COMPLETE")
    assert(marker.exists())
    val t0 = marker.lastModified()
    MultimodalOps.dhashPxFilePairs(spark, SparkFixture.sf0001).count()
    assert(marker.lastModified() == t0, "landing zone was rewritten")
    // and the files really are the payload bytes (one spot check)
    val one = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".png")).minBy(_.getName)
    val id = one.getName.stripSuffix(".png").toLong
    val fromPlan = MultimodalOps.pngDedupCorpus(spark, SparkFixture.sf0001)
      .filter(col("doc_id") === id).select("payload").head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(one.toPath), fromPlan),
      "on-disk file differs from the in-plan payload")
  }

  test("landing zone is manifest-validated: unchanged corpus serves as-is, an in-place rewrite with the same row count rebuilds") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    val tmp = tmpDir("graft-zone")
    val docsDir = s"$tmp/documents.parquet"
    Seq((1L, "src0", "alpha beta gamma"), (2L, "src1", "beta gamma delta"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(docsDir)
    val dir = MultimodalOps.mediaFileDir(spark, tmp, "png")
    val marker = new java.io.File(dir, "_COMPLETE")
    assert(marker.exists())
    val t0 = marker.lastModified()
    // unchanged corpus: served as-is, marker untouched
    assert(MultimodalOps.mediaFileDir(spark, tmp, "png") == dir)
    assert(marker.lastModified() == t0,
      "unchanged corpus must not rewrite the zone")
    // in-place rewrite, SAME row count (the r14-advice hazard: a
    // row-count key serves stale payloads): manifest mismatch → rebuild
    Thread.sleep(50)
    Seq((1L, "src0", "alpha beta gamma"), (2L, "src1", "epsilon zeta eta"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(docsDir)
    MultimodalOps.mediaFileDir(spark, tmp, "png")
    assert(marker.lastModified() != t0,
      "rewritten corpus must rebuild the zone")
    // and the rebuilt files carry the NEW payloads
    val fromPlan = MultimodalOps.pngDedupCorpus(spark, tmp)
      .filter(col("doc_id") === 2L).select("payload").head
      .getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "2.png").toPath), fromPlan),
      "rebuilt zone must carry the rewritten corpus's payloads")
  }

  test("binaryFile source: payload files ride in as (path, content) and the PNG header parse runs on them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_binsrc").toFile
    // write three real PNG-prefixed payloads through the synthesizer
    val blobs = graft.operators.MultimodalOps.pngTable(spark, SparkFixture.sf0001)
      .limit(3).select("doc_id", "payload")
      .as[(Long, Array[Byte])].collect()
    blobs.foreach { case (id, bytes) =>
      java.nio.file.Files.write(new java.io.File(dir, s"img_$id.png").toPath, bytes)
    }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir.getAbsolutePath)
    assert(files.count() == 3)
    // the ingestion seam: (path, modificationTime, length, content) —
    // decode geometry straight off the content column with the same
    // hex-space parse as mm_png_ihdr
    val h = hex(col("content"))
    val parsed = files.select(
      regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast("long").as("doc_id"),
      (substring(h, 1, 16) === "89504E470D0A1A0A").as("sig_ok"),
      expr("CAST(conv(substr(hex(content), 33, 8), 16, 10) AS BIGINT)").as("width"),
      length(col("content")).cast("long").as("n_bytes"))
      .collect()
    parsed.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("sig_ok"), s"doc $id signature")
      assert(r.getAs[Long]("width") == 16 + id % 2033, s"doc $id width")
      assert(r.getAs[Long]("n_bytes") == blobs.find(_._1 == id).get._2.length.toLong)
    }
  }

  test("to_json/from_json round-trip on event props") {
    import spark.implicits._
    val ev = Tables.events(spark, SparkFixture.sf0001).limit(100)
    val round = ev.select(col("props"),
      to_json(from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))).as("rt"))
      .filter(col("props").isNotNull)
    // parse -> serialize keeps every key/value pair (order may differ;
    // maps are not directly comparable, so compare sorted entry arrays)
    def entries(c: org.apache.spark.sql.Column) =
      sort_array(map_entries(from_json(c,
        org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))))
    val bad = round.filter(entries(col("props")) =!= entries(col("rt"))).count()
    assert(bad == 0)
  }
}
