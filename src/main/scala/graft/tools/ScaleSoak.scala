package graft.tools

import org.apache.spark.sql.SparkSession

/** SCALE SOAK — measured scaling evidence for the heaviest query
  * families, replacing extrapolated 100 TB claims with numbers: every
  * family runs at 1× and 10× sf0.1 corpus volume on the scan-time
  * synthetic twin (`Tables`' `synth:<nDocs>` seam — no storage, any
  * registered query unmodified) and reports wall time, result rows,
  * and the scaling exponent log(t10/t1)/log(10) (1.0 = linear, 2.0 =
  * quadratic; the sub-quadratic claims in SURVEY §8 are the contract
  * under test). Wall times are the MIN over reps per the variance
  * discipline in BASELINE.md. The candidate-volume claims ride the
  * measurement queries in the set: dd_lsh_quality's n_candidates /
  * n_true and sim_recall's recall_bp ARE the observe metrics at both
  * scales, printed alongside.
  *
  * Usage: `runMain graft.tools.ScaleSoak [baseDocs] [mult] [reps] [only]`
  * (defaults 5000 = sf0.1 volume, 10, 2, all families; `only` is a
  * comma-separated subset of the family list for targeted re-measures).
  * Output: one JSON line per (query, scale) plus a closing markdown
  * table for BASELINE.md. */
object ScaleSoak {
  private val allFamilies = Seq(
    // dedup ladder (span audit rides the exact-substr gram window;
    // dhash is the multimodal perceptual tier — banded like minhash).
    // r13: cold pays the session dedup-signature-catalog build
    // (clearDedupCache below), warm is the overlay served off the
    // pinned shingle/signature/pair frames — the LM-catalog evidence
    // shape applied to the dd family
    "dd_ngram_jaccard", "dd_minhash_lsh", "dd_dup_clusters",
    "dd_lsh_quality", "dd_span_audit",
    // the durable-catalog serving path: publish-once (bucketed table,
    // cold includes the publish) + in-place verify joins
    "dd_published_pairs",
    // the snapshot-shingle catalog consumers (docShingleFrame):
    // incremental's base side and the source-overlap matrix
    "dd_incremental", "dd_source_overlap",
    "mm_dhash_pairs", "mm_dhash_px_pairs", "mm_wav_fp_pairs",
    // full-codec tier (Inflater + unfilter on every 3rd container) and
    // the binaryFile tiers over the on-disk landing zone (r12 #5: the
    // landing zone is SOURCE data — written once, never purged by the
    // cold seam; cold measures the real-file read + decode path)
    "mm_dhash_inflate_pairs", "mm_dhash_px_file", "mm_wav_fp_file",
    "mm_dhash_inflate_file",
    // ANN
    "sim_knn_graph", "sim_graph_search", "sim_ivf_pq", "sim_recall",
    // search-index build + the index-SERVED family: positional
    // (phrase) and stemmed postings have different growth constants
    // than the base postings, so each serves from its own soak row
    "art_inverted_index", "art_search_bm25_idx",
    "art_search_phrase_idx", "art_search_stemmed_idx",
    "art_search_snippet_idx",
    // the bigram-LM family: cold pays the session LM-catalog build
    // (clearLmCache above), warm is the overlay served off the pinned
    // per-doc surprisal frame — the r12 build-once evidence
    "txt_lm_surprisal", "txt_perplexity_buckets", "txt_doremi_step",
    // the durable-stats serving path (LSM generations merged at read)
    "txt_lm_from_stats",
    // the iterative graph family: n_jobs is the load-bearing column
    // here — rank/CC loops are O(rounds) jobs each with checkpoint +
    // observe-metric actions, and the claim under test is that the
    // JOB COUNT stays flat while per-job volume scales (pagerank's
    // early integer-fixpoint exit may even shrink it)
    "graph_pagerank", "graph_ppr", "graph_triangles")

  def main(args: Array[String]): Unit = {
    if (args.contains("--list")) { // tools/soak.sh asks for the family list
      println(allFamilies.mkString(","))
      return
    }
    val base = args.headOption.map(_.toLong).getOrElse(5000L)
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val families = args.drop(3).headOption match {
      case Some(only) =>
        val want = only.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- allFamilies.toSet
        require(unknown.isEmpty, s"unknown soak families: ${unknown.mkString(", ")}")
        allFamilies.filter(want)
      case None => allFamilies
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = graft.SparkEntry.queries
    // per-run JOB evidence rides a listener: n_jobs is the structural
    // claim for the iterative families (rounds × actions, not data
    // volume), and summed job wall time is the cluster-side cost with
    // driver-side planning gaps excluded — the stage-time companion to
    // wall time the r11 noise post-mortem asked for (a wall-time-only
    // row can't distinguish "executors were busy" from "the driver
    // paused between jobs under memory pressure").
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet()
        jobStarts.put(j.jobId, System.nanoTime()); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStarts.remove(j.jobId))
          .foreach(t0 => jobNanos.addAndGet(System.nanoTime() - t0)); ()
      }
    })
    // (query, scale) -> (coldSecs, warmSecs, rows, metricsString).
    // COLD = MIN over `reps` runs that each start with every session
    // cache dropped (knn index catalog, text-index registry AND its
    // on-disk directories, persisted frames) — the build-inclusive cost
    // a fresh consumer pays, under the same min-of-N discipline as the
    // bench (a single cold sample swung 21 → 38 s between identical
    // runs on this box). WARM = MIN over `reps` further runs with the
    // catalogs left hot from the last cold rep — the steady-state reuse
    // cost, under the same min-of-N discipline (r10 reported warm as a
    // single sample and two end-of-run outliers looked like
    // regressions; the r11 re-measure was asked for by name). A catalog
    // hit in the cold path would report the lookup, not the build (the
    // r10 lesson: sim_knn_graph "scaled" at 0.02 s).
    val results = scala.collection.mutable.LinkedHashMap
      .empty[(String, Int), (Double, Double, Long, String, Long, Double)]
    for (scale <- Seq(1, mult)) {
      val sfDir = s"synth:${base * scale}"
      // follow the repo's own §8 sizing advice INSIDE the soak: shuffle
      // partitions grow with the corpus so per-task state keeps fitting
      // (the 100× ANN build OOMed a 64 GB heap at the 1×-sized 32
      // partitions; AQE coalesces any oversizing back down)
      spark.conf.set("spark.sql.shuffle.partitions",
        math.min(256, cpus.toInt * math.max(1, scale / 4)).toString)
      for (q <- families) {
        var cold = Double.MaxValue
        var coldJobs = 0L
        var coldJobSecs = 0.0
        var rows = 0L
        var metrics = ""
        // job metrics ride the ASYNC SparkListener bus: sampling the
        // counters right after collect() can miss trailing onJobEnd
        // events (undercounted n_jobs/job_secs, events bleeding into
        // the next run). listenerBus.waitUntilEmpty is private[spark],
        // so settle instead: poll until (count, nanos, in-flight jobs)
        // hold still across two consecutive reads, bounded at 2 s.
        def drainListenerBus(): Unit = {
          var prev = (-1L, -1L, -1)
          var spins = 0
          while (spins < 80 && { // 80 × 25 ms = 2 s bound
            val cur = (jobCount.get(), jobNanos.get(), jobStarts.size())
            val stable = cur == prev && cur._3 == 0
            prev = cur
            !stable
          }) { Thread.sleep(25); spins += 1 }
        }
        // returns (wall secs, jobs run, summed job secs) for ONE run
        def run(): (Double, Long, Double) = {
          drainListenerBus()
          val j0 = jobCount.get(); val n0 = jobNanos.get()
          val t0 = System.nanoTime()
          val collected = qs(q)(spark, sfDir).collect() // full materialization
          val secs = (System.nanoTime() - t0) / 1e9
          rows = collected.length.toLong
          // 1-row measurement queries carry the candidate-volume /
          // recall evidence — surface them verbatim
          if (rows <= 4 && collected.nonEmpty)
            metrics = collected.map(_.toString).mkString(" ")
          spark.catalog.clearCache() // intra-query persists only
          drainListenerBus()
          (secs, jobCount.get() - j0, (jobNanos.get() - n0) / 1e9)
        }
        (1 to reps).foreach { _ =>
          graft.operators.SimilarityOps.clearKnnIndexCache()
          graft.operators.TextOps.clearLmCache()
          graft.operators.DedupOps.clearDedupCache()
          graft.operators.DedupOps.clearPublishedTables()
          // the DISK layer under the session catalogs: purged so cold
          // includes the durable build+write — except under
          // SOAK_KEEP_STORES=1, the durable-overlay measurement seam
          // (a FRESH JVM whose "cold" serves a prior invocation's
          // store: the fresh-JVM reuse number the r13 verdict asked
          // the disk-backed catalogs to prove)
          if (!sys.env.get("SOAK_KEEP_STORES").contains("1")) {
            graft.operators.SimilarityOps.purgeKnnStore(sfDir)
            graft.operators.TextOps.purgeLmStore(sfDir)
            graft.operators.DedupOps.purgePublishedStore(spark, sfDir)
          }
          graft.plans.TextIndexCatalog.clear()
          graft.plans.TextIndexCatalog.purgeDirs(sfDir)
          spark.catalog.clearCache()
          val (secs, jobs, jobSecs) = run()
          if (secs < cold) { cold = secs; coldJobs = jobs; coldJobSecs = jobSecs }
        }
        // catalogs hot from the last cold rep; min-of-N like cold
        val warm = (1 to reps).map(_ => run()._1).min
        results((q, scale)) = (cold, warm, rows, metrics, coldJobs, coldJobSecs)
        println(f"""{"query":"$q","n_docs":${base * scale},"cold_secs":$cold%.3f,"warm_secs":$warm%.3f,"rows":$rows,"n_jobs":$coldJobs,"job_secs":$coldJobSecs%.3f}""")
      }
    }
    println()
    println(s"| query | cold 1x s | cold ${mult}x s | exponent | warm 1x s | warm ${mult}x s | jobs 1x/${mult}x | job-secs 1x/${mult}x | rows 1x | rows ${mult}x |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    families.foreach { q =>
      val (c1, w1, r1, m1, j1, js1) = results((q, 1))
      val (cm, wm, rm, mm, jm, jsm) = results((q, mult))
      val expo = math.log(cm / c1) / math.log(mult.toDouble)
      println(f"| $q | $c1%.2f | $cm%.2f | $expo%.2f | $w1%.2f | $wm%.2f | $j1/$jm | $js1%.1f/$jsm%.1f | $r1 | $rm |")
      if (m1.nonEmpty || mm.nonEmpty)
        println(s"|   metrics | $m1 | $mm | | | | | | | |")
    }
    spark.stop()
  }
}
