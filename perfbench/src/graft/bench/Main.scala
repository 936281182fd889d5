package graft.bench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.Tables
import graft.plans.TextIndexCatalog

/** What one workload runs: corpus size, search client threads and which
  * of the ingest and curation loops run beside them. The workload's
  * latency is that of its user requests (searches, or curation passes when
  * there are no search clients); its throughput is the work of its batch
  * loop (docs ingested or curated per second). Warm-up runs rounds of
  * `warmRoundS` (at least one operation per loop) for at most `maxWarmS`. */
final case class Shape(nDocs: Int, searchClients: Int, ingest: Boolean, curate: Boolean,
    warmRoundS: Double, maxWarmS: Double) {
  def indexed: Boolean = !curate
  def latencyKind: String = if (searchClients > 0) "search" else "curate"
  def throughputKind: String = if (ingest) "ingest" else "curate"
}

/** Seeded benchmark of the program's search, ingest and curation layers.
  * One process runs one workload: it generates the inputs from the seed,
  * sets the program up once in the cold JVM and then several times more
  * (a new session and a cold index each time), warms up on the workload's
  * own operation mix until latency stops falling, measures a closed-loop
  * window on the last set-up, checks every result, and writes the
  * metrics.
  *
  * Usage: `graft.bench.Main <workload> <seed> <seconds> <trace 0|1> <run dir> <trace file>` */
object Main {
  import Inputs._

  val Cores = 4
  val VocabSize = 20000
  val ZipfS = 1.0
  val QueryS = 1.1
  /** Request kinds in dispatch order: 80% single keyword, 15% two-keyword
    * OR, 5% ranked. */
  val Mix: Seq[String] = Seq.tabulate(20)(i =>
    if (i == 19) Ranked else if (i % 6 == 3) AnyOf else Single)
  val BatchDocs = 500
  /** Search requests sent per ingest batch in `ingest_mix`. */
  val SearchesPerBatch = 5
  val RecrawlShare = 0.1
  /** Set-ups after the cold one; `setup_s` is their median. */
  val SetupReps = 3
  /** Warm-up is over when the median of the last `FlatRounds` rounds is
    * no more than `FlatTol` below the median of the `FlatRounds` rounds
    * before them; the first, cold round is never compared. */
  val FlatRounds = 3
  val FlatTol = 0.03
  /** Requests drawn per sequence; a loop wraps round when it runs out. */
  val RequestDraws = 4096

  val Shapes: Map[String, Shape] = Map(
    "ingest_mix" -> Shape(5000, searchClients = 1, ingest = true, curate = false,
      warmRoundS = 3.0, maxWarmS = 15.0),
    "curate_batch" -> Shape(2000, searchClients = 0, ingest = false, curate = true,
      warmRoundS = 0.0, maxWarmS = 28.0))

  def session(root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Main <workload> <seed> <seconds> <trace 0|1> <run dir> <trace file>")
    val shape = Shapes.getOrElse(args(0), sys.error(s"unknown workload ${args(0)}"))
    val run = new Run(shape, args(1).toLong, args(2).toInt, args(3) == "1",
      new File(args(4)).getCanonicalPath, Paths.get(args(5)))
    run.execute()
  }
}

final class Run(shape: Shape, seed: Long, seconds: Int, traced: Boolean,
    root: String, traceFile: Path) {
  import Inputs._
  import Main._

  private val born = System.nanoTime()
  private val report = ArrayBuffer.empty[String]
  private def note(line: String): Unit = {
    val stamped = f"[${(System.nanoTime() - born) / 1e9}%.1f s] $line"
    report += stamped
    Console.err.println(s"[perfbench] $stamped")
  }

  private val inputs = new Inputs(seed, shape.nDocs, VocabSize, ZipfS, QueryS)
  private val basePostings = new Postings(inputs.base)
  private val tracer = new Tracer(traced)
  private val counters = new ExecCounters
  /** Store 0 takes the cold set-up and the warm-up, stores 1 to
    * `SetupReps` one set-up each in the warmed JVM; the last serves the
    * window. The program is given each store as a `file:` URI (see
    * [[Ops.ensureIndex]]). */
  private val stores = (0 to SetupReps).map(r => s"file:$root/store$r")
  private def serving: String = stores.last

  def execute(): Unit = {
    val (timedReqs, warmReqs) =
      if (shape.searchClients == 0) (IndexedSeq.empty[Request], IndexedSeq.empty[Request])
      else (inputs.requests(RequestDraws, Mix), inputs.requests(RequestDraws, Mix))
    // the benchmark's own inputs, requests and reference postings, read
    // before the program starts and left out of `live_heap_mb`
    val benchMb = Jvm.liveHeapMb
    note(f"inputs: ${shape.nDocs} docs, vocabulary $VocabSize, word Zipf s=$ZipfS, " +
      f"${timedReqs.size} requests per sequence; benchmark's own live heap $benchMb%.1f MB")

    // the cold set-up: the first session start plus the index build (for
    // curation, the corpus resolution) on store 0, timed without writing
    // the inputs
    val t0 = System.nanoTime()
    var spark = session(root)
    val coldStartS = (System.nanoTime() - t0) / 1e9
    Ops.frame(spark, inputs.base).write.parquet(Ops.docsPath(stores.head))
    stores.tail.foreach(s => copyTree(Paths.get(Ops.local(stores.head)), Ops.local(s)))
    val coldSetupS = coldStartS + setUp(spark, stores.head)

    // set-ups in the JVM the cold set-up has warmed: a new session and a
    // cold index on each of stores 1 to SetupReps. The last session then
    // warms up and serves the window on the last store.
    val buildMs = ArrayBuffer.empty[Double]
    val setupS = stores.tail.map { store =>
      spark.stop()
      val t1 = System.nanoTime()
      spark = session(root)
      val startS = (System.nanoTime() - t1) / 1e9
      val buildS = setUp(spark, store)
      if (shape.indexed) buildMs += buildS * 1e3
      startS + buildS
    }

    // warm-up: rounds of the workload's own mix on store 0 until the round
    // medians stop falling, or until another round as long as the last
    // after the cold first one would end past the time cap
    val ops = new Ops(spark, tracer)
    val loops = new Loops(spark, ops)
    val tWarm = System.nanoTime()
    val rounds = ArrayBuffer.empty[Double]
    var batchCursor = 1000
    var lastRoundS = 0.0
    def warmSeconds = (System.nanoTime() - tWarm) / 1e9
    def flat = rounds.size > 2 * FlatRounds &&
      Stats.median(rounds.takeRight(FlatRounds).toSeq) >=
        (1 - FlatTol) * Stats.median(rounds.takeRight(2 * FlatRounds).take(FlatRounds).toSeq)
    while (!flat && warmSeconds + lastRoundS <= shape.maxWarmS) {
      val res = loops.drive(stores.head, shape.warmRoundS, warmReqs, batchCursor)
      batchCursor += res.batches
      if (rounds.nonEmpty) lastRoundS = res.seconds
      rounds += Stats.median(res.ops.filter(_.kind == shape.latencyKind).map(_.ms))
    }
    note(f"warm-up: ${rounds.size} rounds in $warmSeconds%.1f s, ${if (flat) "flat" else "stopped at the time cap"}; " +
      f"round medians ${rounds.map(r => f"$r%.0f").mkString(" ")} ms")

    TextIndexCatalog.clear() // the window re-registers its own store
    spark.sparkContext.addSparkListener(counters)
    tracer.clear()
    ops.rewriteAttempts.set(0)
    ops.rewriteHits.set(0)
    val c0 = counters.settle()
    val jvm0 = Jvm.meters
    val timed = loops.drive(serving, seconds, timedReqs, 0)
    val jvm = Jvm.meters.zip(jvm0).map { case (a, b) => a - b }
    val exec = counters.settle().map { case (k, v) => k -> (v - c0(k)) }
    val liveMb = Jvm.liveHeapMb - benchMb

    // checks, outside the window: one per operation, then the run-wide ones
    val checks = timed.ops.map(_.check()) ++ loops.scanFormCheck(serving, timed) ++
      loops.stateChecks(timed)
    val failures = checks.flatten
    failures.take(10).foreach(f => note(s"CHECK FAILED: $f"))

    val latMs = timed.ops.filter(_.kind == shape.latencyKind).map(_.ms)
    val q = math.max(1, latMs.size / 4)
    val e2e = Seq(
      ("latency_p50_ms", Stats.median(latMs), "ms"),
      ("throughput_per_s", throughput(timed, shape.throughputKind), "1/s"),
      ("setup_s", Stats.median(setupS), "s"),
      ("live_heap_mb", liveMb, "MB"))

    note(s"window: ${timed.ops.size} ops (${timed.ops.groupBy(_.kind).map { case (k, v) => s"$k ${v.size}" }.mkString(", ")}) in ${"%.2f".format(timed.seconds)} s; ${failures.size} failed checks")
    note(f"setup_s per warm-JVM repetition: ${setupS.map(s => f"$s%.3f").mkString(" ")}; cold-JVM set-up $coldSetupS%.3f s")
    note(s"warm-up evidence: jit ${jvm(0)} ms and ${jvm(3)} classes loaded inside the window; " +
      s"${shape.latencyKind} p50 by quarter of the window " +
      latMs.grouped(q).take(4).map(g => "%.1f".format(Stats.median(g))).mkString(" ") + " ms")
    noteInputs(timed)
    val named = ArrayBuffer.empty[(String, Double, String)]
    Seq("search", "ingest", "curate").foreach { kind =>
      val ms = timed.ops.filter(_.kind == kind).map(_.ms)
      if (ms.nonEmpty) {
        named += ((s"${kind}_p50_ms", Stats.median(ms), "ms"))
        if (ms.size >= 100) named += ((s"${kind}_p90_ms", Stats.quantile(ms, 0.9), "ms"))
        named += ((if (kind == "search") "search_per_s" else s"${kind}_docs_per_s", throughput(timed, kind), "1/s"))
      }
    }
    named += (("setup_s", Stats.median(setupS), "s"))
    named += (("live_heap_mb", liveMb, "MB"))
    if (shape.indexed) named += (("index_bytes_per_doc_byte", timed.indexBytes.toDouble / timed.storeTextBytes, "ratio"))
    named += (("fail_ratio", failures.size.toDouble / checks.size, "ratio"))
    named.foreach { case (k, v, u) => note(f"metric $k = $v%.4f $u") }

    val metrics: Seq[(String, Double, String)] = if (!traced) e2e else {
      val spans = tracer.all
      tracer.write(traceFile, spans)
      layerMetrics(spans, exec, timed, buildMs.toSeq, jvm, latMs, q, ops)
    }
    val json = new StringBuilder
    json ++= s"""{"correct": ${failures.isEmpty}, "attempted": ${checks.size}, "failed": ${failures.size}, "metrics": {"""
    json ++= metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    json ++= "}}"
    Files.write(Paths.get(root, "report.txt"), report.asJava)
    Files.writeString(Paths.get(root, "result.json"), json.toString)
    spark.stop()
  }

  /** Searches completed per second of window; for the ingest and curation
    * loops, docs handled per second the loop spent in operations (a window
    * holds only a few batches or passes, so their summed time is steadier
    * than a count of whole ones). */
  private def throughput(w: Window, kind: String): Double = {
    val ops = w.ops.filter(_.kind == kind)
    if (kind == "search") ops.size / w.seconds
    else ops.map(_.items).sum / (ops.map(_.ms).sum / 1e3)
  }

  /** The input properties the window actually saw. */
  private def noteInputs(w: Window): Unit = {
    val hits = w.ops.filter(_.kind == "search").map(_.items.toDouble)
    if (hits.nonEmpty) {
      val issued = w.requests
      val repeated = 1.0 - issued.map(r => (r.kind, r.kws)).distinct.size.toDouble / issued.size
      note(f"inputs seen: query Zipf s=$QueryS over ranks from ${inputs.querySkip}; hits per search " +
        f"min ${hits.min}%.0f p50 ${Stats.median(hits)}%.0f p90 ${Stats.quantile(hits, 0.9)}%.0f max ${hits.max}%.0f; " +
        f"repeated requests ${repeated * 100}%.1f%% of ${issued.size}")
    }
    if (w.offered > 0)
      note(f"inputs seen: ${w.batches} ingest batches of $BatchDocs docs, planted exact re-crawl share $RecrawlShare")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def layerMetrics(spans: Seq[Span], exec: Map[String, Long], timed: Window,
      buildMs: Seq[Double], jvm: Seq[Long], latMs: Seq[Double], q: Int,
      ops: Ops): Seq[(String, Double, String)] = {
    val self = tracer.selfMs(spans)
    def ms(name: String) = spans.filter(_.name == name).map(_.ms)
    def p50(name: String) = Stats.median(ms(name))
    val nOps = math.max(1, timed.ops.size).toDouble
    val hits = timed.ops.filter(_.kind == "search").map(_.items).sum
    def perOp(k: String) = exec(k) / nOps
    val roots = spans.filter(_.parent == 0)
    def rootSelf(name: String) = Stats.median(roots.filter(_.name == name).map(s => self(s.id)))
    val (tracedOps, untracedOps) = timed.ops.partition(_.traced)
    def p50Of(ops: Seq[Op]) = Stats.median(ops.filter(_.kind == shape.latencyKind).map(_.ms))
    def costOf(ops: Seq[Op]) = {
      val t = ops.filter(_.kind == shape.throughputKind)
      t.map(_.ms).sum / t.map(_.items).sum
    }
    def overheadPct(a: Double, b: Double) = if (b == 0) 0.0 else (a - b) / b * 100
    Seq(
      ("ArticleOps.call_ms", p50("ArticleOps.call"), "ms"),
      ("ArticleOps.call_p90_ms", Stats.quantile(ms("ArticleOps.call"), 0.9), "ms"),
      ("Tables.resolve_ms", p50("Tables.resolve"), "ms"),
      ("plan.optimize_ms", p50("plan.optimize"), "ms"),
      ("plan.physical_ms", p50("plan.physical"), "ms"),
      ("plan.index_rewrite_ratio",
        if (ops.rewriteAttempts.get == 0) 0.0 else ops.rewriteHits.get.toDouble / ops.rewriteAttempts.get, "ratio"),
      ("exec.ms", p50("exec"), "ms"),
      ("exec.jobs", perOp("jobs"), "count"),
      ("exec.tasks", perOp("tasks"), "count"),
      ("exec.task_busy_ms", perOp("task_busy_ms"), "ms"),
      ("exec.task_wait_ms", perOp("task_wait_ms"), "ms"),
      ("exec.input_rows", perOp("input_rows"), "count"),
      ("exec.input_bytes", perOp("input_bytes"), "bytes"),
      ("exec.rows_read_per_hit", if (hits == 0) 0.0 else exec("input_rows").toDouble / hits, "ratio"),
      ("exec.shuffle_write_bytes", perOp("shuffle_write_bytes"), "bytes"),
      ("exec.shuffle_read_bytes", perOp("shuffle_read_bytes"), "bytes"),
      ("exec.spill_bytes", perOp("spill_bytes"), "bytes"),
      ("exec.gc_ms", perOp("gc_ms"), "ms"),
      ("TextIndexCatalog.build_ms", Stats.median(buildMs), "ms"),
      ("TextIndexCatalog.refresh_ms", p50("TextIndexCatalog.refresh"), "ms"),
      ("TextIndexCatalog.full_rebuilds", timed.fullRebuilds.toDouble, "count"),
      ("TextIndexCatalog.index_files", timed.indexFiles.toDouble, "count"),
      ("TextIndexCatalog.bytes_written_per_ingested_byte",
        if (timed.ingestedTextBytes == 0) 0.0 else timed.indexBytesWritten.toDouble / timed.ingestedTextBytes, "ratio"),
      ("DocStreamOps.admit_ms", p50("DocStreamOps.admit"), "ms"),
      ("DocStreamOps.admit_ratio", if (timed.offered == 0) 0.0 else timed.admitted.toDouble / timed.offered, "ratio"),
      ("store.append_ms", p50("store.append"), "ms"),
      ("store.bytes_per_doc", if (timed.admitted == 0) 0.0 else timed.storeBytesWritten.toDouble / timed.admitted, "bytes"),
      ("DedupOps.survivors_ms", p50("DedupOps.survivors"), "ms"),
      ("DedupOps.kept_ratio", timed.dedupKeptRatio, "ratio"),
      ("TextOps.curate_ms", p50("TextOps.curate"), "ms"),
      ("TextOps.kept_ratio", timed.curateKeptRatio, "ratio"),
      ("search.self_ms", rootSelf("search"), "ms"),
      ("ingest.self_ms", rootSelf("ingest"), "ms"),
      ("curate.self_ms", rootSelf("curate"), "ms"),
      ("jvm.jit_ms", jvm(0).toDouble, "ms"),
      ("jvm.gc_ms", jvm(2).toDouble, "ms"),
      ("jvm.gc_count", jvm(1).toDouble, "count"),
      ("jvm.classes_loaded", jvm(3).toDouble, "count"),
      ("warm.first_quarter_p50_ms", Stats.median(latMs.take(q)), "ms"),
      ("warm.last_quarter_p50_ms", Stats.median(latMs.takeRight(q)), "ms"),
      ("trace.overhead_p50_pct", overheadPct(p50Of(tracedOps), p50Of(untracedOps)), "%"),
      ("trace.overhead_cost_pct", overheadPct(costOf(tracedOps), costOf(untracedOps)), "%"))
  }

  /** The program's set-up on `store` after the session start: the cold
    * index build, or for curation, which uses no index, the resolution of
    * the corpus and its row count. Returns seconds. */
  private def setUp(spark: SparkSession, store: String): Double = {
    TextIndexCatalog.clear()
    TextIndexCatalog.purgeDirs(store)
    val t0 = System.nanoTime()
    if (shape.indexed) Ops.ensureIndex(spark, store)
    else {
      Tables.documents(spark, store)
      Tables.rowCount(spark, store, "documents")
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def copyTree(src: Path, dst: String): Unit = {
    val d = Paths.get(dst)
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val t = d.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** The result of one measured stretch of the workload's loops. */
  final case class Window(ops: Seq[Op], seconds: Double, batches: Int, offered: Long, admitted: Long,
      ingestedTextBytes: Long, indexBytes: Long, storeTextBytes: Long, indexBytesWritten: Long,
      storeBytesWritten: Long, indexFiles: Int, fullRebuilds: Int, dedupKeptRatio: Double,
      curateKeptRatio: Double, requests: Seq[Request], reference: Reference)

  /** Runs the workload's closed loops: search clients, and the ingest or
    * curation loop, each sending its next operation when the last one
    * returns (an ingest batch also waits for its `SearchesPerBatch`
    * searches), until the deadline. Operations in flight at the deadline
    * finish and count. */
  final class Loops(spark: SparkSession, ops: Ops) {
    def drive(store: String, secs: Double, reqs: IndexedSeq[Request], firstBatch: Int): Window = {
      val reference = new Reference(basePostings)
      val completed = new AtomicInteger
      val started = new AtomicInteger
      val nextReq = new AtomicInteger
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Op]
      val offered, admitted, ingestedBytes = new AtomicLong
      @volatile var fullRebuilds = 0
      @volatile var dedupKept, curateKept = 0.0
      val idxDir = if (shape.indexed) Ops.ensureIndex(spark, store) else ""
      val idx0 = dirBytes(idxDir)
      val store0 = dirBytes(Ops.local(Ops.docsPath(store)))
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      def open = System.nanoTime() < deadline
      // every loop runs at least one operation, so a zero-length warm-up
      // round is one operation per loop
      def loop(body: => Unit): Unit = { body; while (open) body }

      val clients = (0 until shape.searchClients).map { _ => thread {
        loop {
          val i = nextReq.getAndIncrement()
          val req = reqs(i % reqs.size)
          val j0 = completed.get
          results.add(Op.timed("search", tracer.traces(i)) {
            val page = tracer.op("search", i) { ops.search(store, req) }
            val j1 = started.get
            (page.ids.length.toLong, () => reference.check(req, page, j0, j1))
          })
        }
      } }
      val ingest = if (!shape.ingest) Nil else Seq(thread {
        var b = firstBatch
        var files = indexFiles(idxDir)
        // the traffic mix: a batch starts once the search client has sent
        // `SearchesPerBatch` requests for every batch started before it
        def due = nextReq.get >= SearchesPerBatch * (b - firstBatch)
        loop {
          while (!due && open) Thread.sleep(1)
          if (due) {
            val batch = inputs.batch(b, BatchDocs, math.round(BatchDocs * RecrawlShare).toInt)
            val novel = batch.novel.map(_.id).sorted.toArray
            reference.add(new Postings(batch.novel))
            results.add(Op.timed("ingest", tracer.traces(b)) {
              tracer.op("ingest", b.toLong) {
                started.incrementAndGet()
                val got = ops.admitAppendRefresh(store, batch)
                completed.incrementAndGet()
                val page = ops.search(store, Request(Single, Seq(batch.term)))
                admitted.addAndGet(got.length)
                (batch.offered.size.toLong, () =>
                  if (!got.sameElements(novel)) Some(s"batch $b admitted ${got.length} of ${batch.offered.size}, expected ${novel.length}")
                  else if (!page.ids.sameElements(novel)) Some(s"batch $b freshness search returned ${page.ids.length} rows, expected ${novel.length}")
                  else None)
              }
            })
            offered.addAndGet(batch.offered.size)
            ingestedBytes.addAndGet(batch.novel.map(_.text.getBytes("UTF-8").length.toLong).sum)
            val now = indexFiles(idxDir)
            if (!files.subsetOf(now)) fullRebuilds += 1
            files = now
            b += 1
          }
        }
      })
      val curate = if (!shape.curate) Nil else Seq(thread {
        var k = 0L
        loop {
          results.add(Op.timed("curate", tracer.traces(k)) {
            val (surv, cur) = tracer.op("curate", k) { ops.curate(store) }
            dedupKept = surv.count(_.getLong(2) == 1L).toDouble / surv.length
            curateKept = cur.length.toDouble / (surv.length)
            (dupCorpus.size.toLong, () => checkCuration(surv, cur))
          })
          k += 1
        }
      })
      (clients ++ ingest ++ curate).foreach(_.join())
      val ops0 = results.asScala.toSeq.sortBy(_.startNs)
      val end = if (ops0.isEmpty) System.nanoTime() else ops0.map(_.endNs).max
      Window(ops0, (end - t0) / 1e9, ops0.count(_.kind == "ingest"), offered.get, admitted.get,
        ingestedBytes.get, dirBytes(idxDir), basePostings.textBytes + ingestedBytes.get,
        dirBytes(idxDir) - idx0, dirBytes(Ops.local(Ops.docsPath(store))) - store0, indexFiles(idxDir).size,
        fullRebuilds, dedupKept, curateKept,
        reqs.take(nextReq.get), reference)
    }

    /** Ranked pages are checked against the reference BM25; the reference
      * itself is checked here against the scan form
      * `ArticleOps.searchBm25`, with the index unregistered so no rewrite
      * serves it, over the store as the window left it. */
    def scanFormCheck(store: String, w: Window): Seq[Option[String]] =
      w.requests.find(_.kind == Ranked).toSeq.map { req =>
        TextIndexCatalog.clear()
        val rows = graft.operators.ArticleOps.searchBm25(spark, store, req.kws).collect()
        val got = Page(rows.map(_.getAs[Long]("doc_id")), rows.map(_.getAs[Long]("score")))
        val want = w.reference.ranked(req.kws, w.batches)
        if (want.ids.sameElements(got.ids) && want.scores.sameElements(got.scores)) None
        else Some(s"scan-form searchBm25 ${req.kws.mkString(",")} disagrees with the reference BM25")
      }

    /** Whole-window invariants of ingest: no full index rebuild after
      * set-up, and admission admitted exactly the offered docs that were
      * not re-crawls. */
    def stateChecks(w: Window): Seq[Option[String]] =
      if (!shape.ingest) Nil
      else Seq(
        if (w.fullRebuilds == 0) None else Some(s"${w.fullRebuilds} full index rebuilds inside the window"),
        if (w.offered > 0 && math.abs(w.admitted.toDouble / w.offered - (1 - RecrawlShare)) < 1e-9) None
        else Some(s"admit ratio ${w.admitted.toDouble / w.offered}, expected ${1 - RecrawlShare}"))
  }

  /** Curation of the dup-seeded corpus (DedupOps.corpus: every doc with
    * id % 10 == 0 has an exact copy at id + 100000): the survivors must
    * fold every planted copy into its original's component and keep the
    * original's label, and quality curation must equal the reference
    * keep-first-by-content + quality filter computed here. */
  private def checkCuration(surv: Array[Row], cur: Array[Row]): Option[String] = {
    val keep = surv.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val copies = inputs.base.map(_.id).filter(_ % 10 == 0)
    val badCopy = copies.find(id => !keep.get(id + 100000).contains(keep.getOrElse(id, -1L)) ||
      keep(id + 100000) == id + 100000)
    val want = expectedCuration
    val got = cur.map(r => (r.getLong(0), r.getLong(1)))
    if (surv.length != dupCorpus.size) Some(s"survivors has ${surv.length} rows, expected ${dupCorpus.size}")
    else badCopy.map(id => s"planted exact copy ${id + 100000} not folded into original $id")
      .orElse(if (got.sameElements(want)) None
        else Some(s"curateCorpus returned ${got.length} rows, expected ${want.length}"))
  }

  private lazy val dupCorpus: Seq[(Long, String)] = inputs.base.flatMap { d =>
    val self = Seq(d.id -> d.text)
    if (d.id % 10 == 0) self :+ (d.id + 100000 -> d.text)
    else if (d.id % 10 == 5) self :+ (d.id + 200000 -> ("extra words added " + d.text))
    else self
  }

  /** TextOps.curateCorpus over the dup-seeded corpus: first doc_id per
    * distinct text, then the token-count and quality gates, with the
    * quality score evaluated in the program's operation order. */
  private lazy val expectedCuration: Array[(Long, Long)] = {
    val stop = Set("the", "a", "of", "and", "to")
    val keepers = dupCorpus.groupMapReduce(_._2)(_._1)(math.min).values.toSet
    dupCorpus.filter { case (id, _) => keepers(id) }.flatMap { case (id, text) =>
      val ws = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val n = ws.length
      val quality = (ws.distinct.length.toDouble / n) * 0.5 + (ws.count(stop).toDouble / n) * 0.3 + 0.2
      if (quality >= 0.45 && n >= 20 && n <= 400) Some(id -> n.toLong) else None
    }.sortBy(_._1).toArray
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  private def indexFiles(idxDir: String): Set[String] =
    if (idxDir.isEmpty) Set.empty
    else Option(new File(idxDir).list()).toSet.flatten.filter(f => f.startsWith("part-") && f.endsWith(".parquet"))

  private def dirBytes(dir: String): Long =
    if (dir.isEmpty || !new File(dir).exists) 0L
    else {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally walk.close()
    }
}
