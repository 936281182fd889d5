package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over the `embeddings` table (north-star EXT:
  * approximate-nearest-neighbour for training-data curation).
  *
  * Two paths, as a real pipeline would ship them:
  *  - brute-force cosine top-k: the exact baseline. One broadcast of the
  *    (tiny) query set against a full scan of the vectors — at 100 TB
  *    this is the "small query batch × huge corpus" shape: the corpus
  *    side stays partition-parallel, never shuffled, and the per-query
  *    top-k folds into a single TakeOrdered-style window per query.
  *  - random-hyperplane LSH buckets: the scale path. The bucket id is a
  *    row-local projection (8 sign bits), so candidate generation is an
  *    equi-join on bucket — only colliding vectors are compared.
  *
  * Determinism contract with the DuckDB oracle: all arithmetic is IEEE
  * double with an explicit sequential fold (Spark `aggregate`, DuckDB
  * `list_reduce`) — float inputs widen exactly to double, products and
  * ordered sums round identically, sqrt is correctly rounded in both
  * engines, so scores are bitwise-equal and the driver's hash matches.
  * Hyperplane weights are exact small integers derived from (plane,
  * dim) indices — no RNG, no libm transcendentals (sin/cos differ
  * across implementations; integer arithmetic doesn't).
  */
object SimilarityOps {

  /** Sequential dot product of two double arrays — the native codegen'd
    * expression (same fold order as the HOF form and the DuckDB
    * list_reduce oracle, so scores stay bitwise-equal; PropertySpec
    * pins the equivalence). */
  def dotd(a: Column, b: Column): Column =
    call_function("dot_double", a, b)

  /** Interpreted HOF reference implementation of [[dotd]] (kept as the
    * independent model for the equivalence test). */
  def dotdHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity (double, deterministic fold order). */
  def cosine(a: Column, b: Column): Column =
    dotd(a, b) / (sqrt(dotd(a, a)) * sqrt(dotd(b, b)))

  /** Random-hyperplane bucket for hash table `table` with `bits` sign
    * bits: bit b = sign of <emb, w_p> for global plane p = table*bits+b,
    * where w_p[j] = ((1 + p*73 + j*179) * 2654435761 mod 1024) - 512 — a
    * fixed integer-lattice "random" matrix both engines reproduce
    * exactly. Native codegen'd expression (one loop per row; the
    * interpreted HOF form below costs bits×dim boxed lambda calls). */
  def hyperplaneBucket(emb: Column, table: Int = 0, bits: Int = 8): Column =
    call_function("hyperplane_bucket", emb, lit(table), lit(bits))

  /** Interpreted HOF reference implementation of [[hyperplaneBucket]]
    * (kept as the independent model for the equivalence test). */
  def hyperplaneBucketHof(emb: Column, table: Int = 0, bits: Int = 8): Column =
    aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, b) => {
      val p = b + table * bits
      val w = transform(sequence(lit(0), size(emb) - 1),
        j => ((lit(1L) + p * 73 + j * 179) * lit(2654435761L) % 1024 - 512)
          .cast("double"))
      val dot = aggregate(zip_with(emb, w, (x, y) => x * y),
        lit(0.0), (a2, v) => a2 + v)
      acc + when(dot >= 0, floor(pow(lit(2.0), b)).cast("long")).otherwise(lit(0L))
    })

  /** Vectors with their norm precomputed once per row: the pair stage
    * then evaluates one dot product per pair instead of three (the
    * interpreted HOF fold is the per-pair cost driver at sf0.1). The
    * value of sqrt(<a,a>) is identical wherever it is computed, so the
    * oracle (which inlines the norms per pair) still matches exactly. */
  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dotd(col("emb"), col("emb"))))

  /** Cosine from a precomputed-norm pair. */
  private def cosinePre(a: Column, na: Column, b: Column, nb: Column): Column =
    dotd(a, b) / (na * nb)

  /** Exact cosine top-10 for query vectors (vec_id < 5) against the full
    * corpus. The query side is broadcast; the corpus scan is the only
    * pass over the data. Top-k via the bounded typed aggregator
    * (TopKPairs), not a rank window: partial aggregation folds each
    * partition to k candidates map-side, so the exchange carries
    * k·partitions rows per query instead of every scored candidate —
    * at 100 TB that is the difference between shuffling k rows and
    * shuffling the corpus. Ordering (score desc, vec_id asc) matches
    * the window formulation exactly, so the oracle is unchanged. */
  /** Shared broadcast-query × corpus-scan cosine top-10 pipeline of
    * [[bruteForceTopK]] and [[hardNegatives]]: one definition so the
    * tiebreak, top-k shaping, and aggregator bound can never drift
    * between the exact ranker and the ops measured against it. */
  private def cosineTopK(e: DataFrame, q: DataFrame,
                         pred: Column): DataFrame = {
    val top = graft.functions.TopKAggregator.topKPairs(10)
    e.join(broadcast(q), pred)
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
      .groupBy("q_id")
      .agg(top(col("vec_id"), col("score")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    cosineTopK(e, q, col("vec_id") =!= col("q_id"))
  }

  /** Hard-negative mining — the contrastive-training curation op: for
    * each query (anchor) vector, the top-k most-similar vectors whose
    * `label` DIFFERS from the anchor's. High-similarity different-label
    * examples are exactly the negatives a contrastive or reranker
    * training run needs; easy (dissimilar) negatives teach nothing.
    *
    * Same scale shape as [[bruteForceTopK]] — tiny anchor batch
    * broadcast against one corpus scan, label inequality fused into the
    * join predicate so mismatched rows are dropped BEFORE any scoring
    * or shuffle, top-k through the bounded aggregator (k rows per
    * partition cross the exchange, never the scored corpus). */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    cosineTopK(e, q,
      col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    * "The Use of MMR, Diversity-Based Reranking..." — public): the
    * diversity pass a retrieval pipeline runs AFTER top-k — greedily
    * pick results that are relevant to the query but NOT redundant with
    * what is already picked,
    *
    *   next = argmax_c  λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)
    *
    * with λ = 0.7 over a `pool`-sized candidate set (the standard
    * two-stage shape: a cheap wide retrieval, then an O(k·pool)
    * quadratic refinement that would be unaffordable corpus-wide and
    * is trivial over a bounded pool). Scores are floor(1e6·cosine)
    * BIGINTs and the objective is the ×10-scaled integer 7·rel −
    * 3·maxsim, so the greedy argmax (ties → min vec_id) is bit-exact
    * across engines.
    *
    * Scale shape: the corpus is touched ONCE — a broadcast-query
    * cosine scan into a global top-`pool` (TakeOrderedAndProject:
    * per-partition top-k, merge on the driver). Everything after is a
    * bounded MODEL, not data: ≤ pool relevance rows and ≤ pool² pair
    * sims (20 → 380) collect to the driver — the same codebook
    * contract as the Markov attribution matrix — and the greedy is
    * driver-local integer arithmetic emitting k rows. At 100 TB only
    * the first-stage scan grows; the refinement stays 400 tiny rows. */
  def mmrRerank(spark: SparkSession, sfDir: String,
                k: Int = 5, pool: Int = 20): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val p = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("emb"), col("nrm"),
        floor(lit(1000000.0) *
          cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")))
          .cast("long").as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(pool)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = p.select(col("vec_id").as("a"), col("emb").as("ea"),
      col("nrm").as("na"))
    val b = p.select(col("vec_id").as("b"), col("emb").as("eb"),
      col("nrm").as("nb"))
    val sims = a.join(broadcast(b), col("a") =!= col("b"))
      .select(col("a"), col("b"),
        floor(lit(1000000.0) *
          cosinePre(col("ea"), col("na"), col("eb"), col("nb")))
          .cast("long").as("s"))
    // bounded-model collects: ≤ pool rows + ≤ pool·(pool−1) sim rows
    val rel = p.select("vec_id", "rel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sim = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    p.unpersist()
    var selected = Vector.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var remaining = rel.keySet
    for (step <- 1 to math.min(k, rel.size)) {
      val (obj, c) = remaining.map { c =>
        val ms = if (selected.isEmpty) 0L
                 else selected.map(s => sim((c, s))).max
        (7L * rel(c) - 3L * ms, c)
      }.minBy { case (o, c) => (-o, c) }
      selected :+= c
      remaining -= c
      out += ((step.toLong, c, obj))
    }
    import spark.implicits._
    out.toSeq.toDF("rank", "vec_id", "mmr_obj").orderBy("rank")
  }

  /** Approximate top-10 via MULTI-TABLE hyperplane LSH (the standard
    * recall dial for top-k ANN): `tables` independent hash tables of
    * `bits` sign bits each; candidates are vectors sharing ANY table's
    * bucket with the query (union via explode + equi-join + distinct).
    * Tuned off the [[annRecall]] measurement, exactly the loop a real
    * pipeline runs: round 2's single 8-bit table measured recall@10 =
    * 0.02; the sweep at sf0.01 gave 4×6-bit → 0.18, 6×4-bit → 0.48,
    * 8×4-bit → 0.60 (candidates ≈ N/3 per query). This corpus is an
    * LSH worst case — the true top-10 average cosine is only 0.297,
    * barely above random, so neighbours share few sign bits; clustered
    * real-world embeddings reach the same recall with far fewer,
    * longer tables. Bucket ids are a row-local native projection; the
    * only shuffles are the candidate join and the per-query top-k. */
  /** (vec_id, table, bucket) rows for multi-table hyperplane LSH —
    * the one definition of the bucket layout shared by every
    * bucket-keyed candidate generator ([[lshAnnTopK]], [[knnGraph]]),
    * so bucketing changes cannot drift between them. `carry` rides
    * extra columns through the explode (the knn build carries emb/nrm
    * so scoring happens inside the bucket self-join's pipeline and no
    * pair-shaped frame ever needs a payload join). */
  private def lshBuckets(e: DataFrame, tables: Int, bits: Int,
                         carry: Seq[String] = Nil): DataFrame = {
    val keep = col("vec_id") +: carry.map(col)
    e.select(keep :+ explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), hyperplaneBucket(col("emb"), t, bits).as("bkt"))): _*)).as("tb"): _*)
      .select(keep ++ Seq(col("tb.t").as("t"), col("tb.bkt").as("bkt")): _*)
  }

  def lshAnnTopK(spark: SparkSession, sfDir: String,
                 tables: Int = 8, bits: Int = 4): DataFrame = {
    // persisted: the normed scan feeds the bucket explode (referenced
    // twice), the candidate join and the query broadcast — same contract
    // as the other similarity ops (caller clearCache()s after the action)
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lshAnnTopKOn(e, lshBuckets(e, tables, bits))
  }

  /** [[lshAnnTopK]] over an INJECTED corpus and bucket frame — the
    * shared-persist seam (the pattern of the other injected-corpus
    * seams): [[bitsSweep]] already holds `e` persisted and one bucket
    * explode per setting, so its recall arm must reuse both rather than
    * stack a second persisted vecs scan + a recomputed explode per
    * setting on the executor store until the caller's clearCache(). */
  private[graft] def lshAnnTopKOn(e: DataFrame, eb: DataFrame): DataFrame = {
    val qKeys = eb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("t"), col("bkt"))
    val cand = eb.join(broadcast(qKeys), Seq("t", "bkt"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    cand.join(e, "vec_id").join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy("q_id", "rn")
  }

  /** Corpus-wide approximate k-NN GRAPH — every vector gets its top-k
    * approximate neighbors, not just a query batch: the structure that
    * seeds graph-based ANN indexes (NN-Descent/HNSW construction starts
    * from exactly this), drives SemDeDup-style semantic clustering, and
    * feeds diversity-aware sampling. Candidates come from the same
    * multi-table hyperplane-LSH buckets as [[lshAnnTopK]] (a
    * bucket-keyed SELF-join — never all pairs), scored inside the
    * self-join's own pipeline, and ranked in two exact phases:
    * per-bucket top-k (a PARTIAL WindowGroupLimit in the join's own
    * stage — the full pair volume meets only a local sort, spec-pinned;
    * at most k rows per (bucket, anchor, partition) reach any
    * exchange), then a cross-table merge over the ≤ tables·k survivors
    * per anchor. See the in-body comment for the exactness argument.
    *
    * How it got this shape (r11, all measured — three generations in
    * one round): (1) the typed TopK aggregator was the 375 s/100×
    * bottleneck — ObjectHashAggregate falls back to SORT-BASED past
    * 128 groups per partition, an object sort of all 410 M mirrored
    * pairs; (2) the prescribed 1-bit Hamming prefilter measured 3×
    * SLOWER — codegen'd exact scoring is effectively free, so a
    * prefilter only adds a second full-volume selection pass; (3) a
    * pooled rank window with WindowGroupLimit(Partial) cut 375 → 136 s
    * but still paid a 205 M-row distinct, a 205 M-row persist, and
    * payload joins that stop broadcasting once the corpus outgrows
    * 10 MB; the two-phase form deletes all three (the only remaining
    * pair-volume operation is phase 1's local sort).
    *
    * Scale: candidate volume is Σ_buckets |b|² per table; `bits` is the
    * knob that keeps expected bucket size constant as the corpus grows,
    * AUTO-SIZED by [[autoBits]] (bits ≈ log₂(N / target bucket), floor
    * 4) — the r10 cold scale soak measured the fixed-width build
    * super-linear and the sized build ~linear. Hot buckets are the
    * usual AQE-skew story. At 100 TB the widened bucket explode is the
    * one corpus-proportional exchange (corpus × tables rows, one
    * embedding each — the same bytes a bucketed-table co-located join
    * would move), and every later exchange carries ≤ N·tables·k
    * survivor rows. */
  def knnGraph(spark: SparkSession, sfDir: String, k: Int = 4,
               tables: Int = 8, bits: Int = 0): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bits ≤ 0 = AUTO: the scaladoc's sizing rule applied instead of
    // documented — the r10 cold scale-soak measured the fixed-4-bits
    // build at exponent 1.3 (3.4 s → 68 s at 10×) because Σ|b|² grows
    // quadratically once buckets stop splitting; autoBits holds the
    // expected bucket near the target so candidate volume stays bounded
    // (same soak after: 3.8 s → 21.1 s, exponent 0.74 — the residual is
    // cluster-correlated hot buckets, BASELINE.md §soak). The count is
    // the MANIFEST's (parquet footers / synth arithmetic —
    // Tables.rowCount): sizing a parameter must not cost a full-scan
    // job, and vecs is 1:1 with the embeddings table. The oracle's
    // count(*) rendering is unchanged — footer totals are exact.
    val n = Tables.rowCount(spark, sfDir, "embeddings")
    val useBits = if (bits > 0) bits else autoBits(n)
    // BOUNDED BUCKETS — the hot-bucket remedy the soak forced: more
    // bits cannot split a cluster tighter than its own noise (all
    // members share the sign pattern), so a tight 2500-vector cluster
    // keeps a 2500²/2-pair bucket at ANY width and the build goes
    // quadratic in cluster size (measured: cold exponent 1.2 at 10× on
    // the 8-cluster synth corpus). Any bucket above `cap` is salt-split
    // into ⌈|b|/cap⌉ sub-buckets by hash(vec_id, t) — PER TABLE, so
    // vectors separated in one table reunite in others and each anchor
    // still meets ~tables·cap cluster-mates, far above k. Buckets ≤ cap
    // get nsub=1 and are BIT-IDENTICAL to the uncapped build — the
    // sf0.01 oracle corpus maxes at 68/bucket (sim_bits_sweep), so the
    // committed oracles hold exactly; the cap only engages at scale,
    // where exactness within a bucket was already approximate by
    // construction. Costs one narrow bucket-count agg + join on the
    // bucket-explode frame.
    val cap = 256L
    val eb0 = lshBuckets(e, tables, useBits, carry = Seq("emb", "nrm"))
    // bn reads only (t, bkt) — column pruning keeps the count narrow
    val bn = eb0.groupBy("t", "bkt").agg(count(lit(1)).as("bn"))
    val eb = eb0.join(broadcast(bn), Seq("t", "bkt"))
      .withColumn("sub", pmod(xxhash64(col("vec_id"), col("t")),
        expr(s"(bn + ${cap - 1}) DIV $cap")).cast("int"))
    // TWO-PHASE EXACT TOP-K: phase 1 ranks INSIDE each (table, bucket,
    // sub-bucket) — both orientations of every within-bucket pair are
    // scored in the self-join's own pipeline (the embedding payload
    // rides the bucket explode, so nothing pair-shaped is ever
    // payload-joined) and a rank window partitioned by
    // (t, bkt, sub, a_id) keeps each anchor's k best per bucket. The
    // scale-critical property is the PARTIAL WindowGroupLimit
    // (spec-pinned): the full pair volume meets only a LOCAL sort +
    // group limit in the join's own stage, so no more than k rows per
    // (bucket, anchor, partition) survive into ANY exchange — whether
    // the planner then needs one depends on the self-join strategy
    // (broadcast at oracle scales → a survivors-only exchange; SMJ at
    // soak scales → already clustered by a prefix of the window keys).
    // Phase 2 merges across tables: dedup the surviving (anchor,
    // neighbor) pairs (duplicate rows are bit-identical — same fold,
    // same score) and re-rank per anchor over ≤ tables·k rows each.
    //
    // EXACT, not approximate: under the total order (score desc,
    // b_id asc), a neighbor in an anchor's global top-k outranks all
    // but at most k-1 candidates globally, hence within every bucket
    // containing the pair — so it survives phase 1 in each of them,
    // and phase 2's merge sees every global winner. Results are
    // bit-identical to ranking over the pooled candidates (the
    // committed oracles pool; both SFs re-verified).
    //
    // Why this shape (r11, measured): the pooled form materialized the
    // global candidate set — a 205 M-row distinct, a 205 M-row persist,
    // and two 205 M-row payload joins that stop broadcasting once the
    // corpus outgrows the 10 MB threshold (104 MB at 200k vectors).
    // Here the only pair-volume operation left is phase 1's local sort;
    // everything that crosses an exchange is either the widened bucket
    // explode (corpus × tables rows) or ≤ N·tables·k survivors.
    val wb = Window.partitionBy("t", "bkt", "sub", "a_id")
      .orderBy(col("score").desc, col("b_id"))
    val local = eb
      .select(col("vec_id").as("a_id"), col("t"), col("bkt"), col("sub"),
        col("emb").as("a_emb"), col("nrm").as("a_nrm"))
      .join(eb.select(col("vec_id").as("b_id"), col("t"), col("bkt"),
        col("sub"), col("emb").as("b_emb"), col("nrm").as("b_nrm")),
        Seq("t", "bkt", "sub"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("t"), col("bkt"), col("sub"), col("a_id"), col("b_id"),
        cosinePre(col("a_emb"), col("a_nrm"), col("b_emb"), col("b_nrm"))
          .as("score"))
      .withColumn("rb", row_number().over(wb))
      .filter(col("rb") <= k)
    // phase 2: ties break (score desc, b_id asc) — the committed
    // oracle's exact ordering
    val w = Window.partitionBy("a_id").orderBy(col("score").desc, col("b_id"))
    val knn = local.select("a_id", "b_id", "score")
      .dropDuplicates("a_id", "b_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
    // keep ISOLATED vectors (no shared bucket with anyone): the graph's
    // anchor set must be the full corpus — a consumer iterating it would
    // otherwise silently lose nodes. They surface as one all-NULL
    // neighbor row, the outer-join convention used across the repo.
    e.select(col("vec_id").as("a_id"))
      .join(knn, Seq("a_id"), "left")
      .orderBy("a_id", "rn")
  }

  /** Session-scoped SERVING catalog of the [[knnGraph]] index, keyed on
    * (corpus path, k, tables, bits) — the graph-ANN twin of the BPE
    * trained-vocab cache and [[graft.plans.TextIndexCatalog]]: a real
    * pipeline builds the kNN graph ONCE and every consumer (the serving
    * walk, diversity sampling, SemDeDup clustering) loads it, so
    * [[graphSearchTopK]] must not re-pay the LSH self-join + pair
    * scoring per query. The cached frame is `localCheckpoint`ed, i.e.
    * pinned to materialized RDDs — reuse is a free lookup, results
    * bit-identical to a fresh build (same pinned rows) — and is dropped
    * when the owning SparkContext is gone (checkpointed RDDs don't
    * outlive their context; a fresh session rebuilds). The first
    * consumer pays the build exactly once; at 100 TB the catalog entry
    * is a table location (the graph is written bucketed on a_id), same
    * contract, durable instead of session-scoped. */
  private val knnIndexCache = scala.collection.concurrent.TrieMap.empty[
    (String, Int, Int, Int), (DataFrame, org.apache.spark.SparkContext)]

  /** Drop every catalog entry — the scale-soak seam: cold timings must
    * pay the graph build, not a catalog hit. */
  private[graft] def clearKnnIndexCache(): Unit = knnIndexCache.clear()

  /** [[knnGraph]]'s bucket-width sizing rule, bits ≈ log₂(N / target
    * bucket): expected bucket size stays near `target`, so the LSH
    * self-join's candidate volume Σ_b C(|b|,2) grows ~linearly with the
    * corpus instead of quadratically. ORACLE COUPLING: the committed
    * DuckDB oracles for sim_knn_graph/sim_graph_search render this SAME
    * formula in SQL (`GREATEST(4, CEIL(LOG2(count/32.0)))` — the `nb`
    * CTE in SparkEntry.oracleSql), so the two engines band identically
    * at ANY corpus size; change this formula and the oracle SQL must
    * change with it. The remaining cross-engine boundary is the
    * salt-split cap (256) in [[knnGraph]], which the oracle does not
    * replicate — it never engages at the harness scales (measured max
    * bucket: 68 at sf0.01/4 bits, 143 at sf0.1/6 bits), and where it
    * does engage results are approximate by construction. */
  private[graft] def autoBits(n: Long, target: Long = 32L): Int =
    if (n <= target) 4
    else math.max(4,
      math.ceil(math.log(n.toDouble / target) / math.log(2.0)).toInt)

  // the embeddings table's qualified root names the corpus in the store
  // key and the session cache: a bare path and a `file:` URI share both
  private[graft] def knnStoreKey(sfDir: String, k: Int, tables: Int, bits: Int) =
    s"knn-graph#${graft.Tables.rootOf(sfDir, "embeddings")}#k$k#t$tables#b$bits#v1"

  /** Cold-soak seam for the DISK layer (the session seam is
    * [[clearKnnIndexCache]]): purge the stored default-parameter graph
    * so a cold soak rep rebuilds it. */
  private[graft] def purgeKnnStore(sfDir: String): Unit =
    graft.plans.FrameStore.purge(knnStoreKey(sfDir, 4, 8, 0))

  /** [[knnGraph]] through the session index catalog, now fronting a
    * DURABLE store (r13 verdict #5 — the localCheckpoint'd graph died
    * with the SparkContext and every fresh JVM re-paid the build):
    * on a session miss, [[graft.plans.FrameStore]] serves the edge
    * list off disk when its manifest matches the embeddings snapshot
    * and rebuilds + writes otherwise. Parquet round-trips the exact
    * doubles, so served and rebuilt graphs are bit-identical
    * (spec-pinned). */
  def knnGraphIndex(spark: SparkSession, sfDir: String, k: Int = 4,
                    tables: Int = 8, bits: Int = 0): DataFrame =
    knnIndexCache.synchronized {
      knnIndexCache.filterInPlace { case (_, (_, sc)) => !sc.isStopped }
      val cacheKey = (graft.Tables.rootOf(sfDir, "embeddings"), k, tables, bits)
      knnIndexCache.get(cacheKey) match {
        case Some((df, sc)) if sc eq spark.sparkContext => df
        case _ =>
          val stored = graft.plans.FrameStore.serveOrBuild(spark,
            knnStoreKey(sfDir, k, tables, bits), sfDir, "embeddings") {
            knnGraph(spark, sfDir, k, tables, bits)
          }
          val df = spark.read.parquet(stored.dir)
          knnIndexCache.put(cacheKey, (df, spark.sparkContext))
          df
      }
    }

  /** Multi-probe LSH candidate recall — the measurement behind the
    * standard "probe neighboring buckets instead of adding tables"
    * trade (Lv et al., "Multi-Probe LSH", VLDB 2007, public): each
    * query probes its own bucket PLUS every 1-bit-flip of it in each
    * table (the nearest perturbations of a hyperplane code), and the
    * report compares candidate volume and brute-truth candidate recall
    * of single-probe vs multi-probe on the SAME tables/signatures —
    * the memory-free recall knob (more probes) priced against its
    * candidate-volume cost, next to [[DedupOps]]' band sweep which
    * prices the banding knob.
    *
    * Scale shape: probes are |queries|·tables·(bits+1) narrow rows
    * (broadcast); candidates come off the same bucket equi-join as
    * [[lshAnnTopK]] with min-probe-depth kept per pair so BOTH methods
    * read one candidate table; truth is the persisted brute top-10.
    * Nothing all-pairs, nothing corpus-wide beyond the bucket explode
    * the LSH family already pays. */
  def lshMultiprobeRecall(spark: SparkSession, sfDir: String,
                          tables: Int = 8, bits: Int = 4): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eb = lshBuckets(e, tables, bits)
    val qb = eb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("t"), col("bkt"))
    val probeArr = array(
      (struct(lit(0L).as("d"), col("bkt").as("pbkt")) +:
        (0 until bits).map(b => struct(lit(1L).as("d"),
          col("bkt").bitwiseXOR(lit(1L << b)).as("pbkt")))): _*)
    val probes = qb.select(col("q_id"), col("t"), explode(probeArr).as("p"))
      .select(col("q_id"), col("t"), col("p.d").as("d"), col("p.pbkt").as("bkt"))
    val cand = eb.join(broadcast(probes), Seq("t", "bkt"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(min(col("d")).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = bruteForceTopK(spark, sfDir).select("q_id", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val possible = brute.agg(count(lit(1)).as("possible"))
    def stats(c: DataFrame, name: String): DataFrame =
      c.agg(count(lit(1)).as("n_candidates"))
        // sides swapped + broadcast (r16, guide §3.1): both inputs are
        // distinct (q_id, vec_id) sets, so |c ∩ brute| counted from the
        // candidate side equals the old brute-side count; streaming the
        // candidate frame against the broadcast ≤|queries|·10-row truth
        // replaces a SortMergeJoin that sorted the candidate volume —
        // and stays safe at scale (the broadcast side is the bounded
        // one; candidates grow with the corpus)
        .crossJoin(c.join(broadcast(brute), Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits")))
        .crossJoin(possible)
        .select(lit(name).as("method"), col("n_candidates"), col("hits"),
          col("possible"),
          (col("hits").cast("double") / col("possible")).as("recall"))
    stats(cand.filter(col("d") === 0L), "probe1")
      .union(stats(cand, "multiprobe"))
      .orderBy("method")
  }

  /** Greedy beam search over the [[knnGraph]] — the serving walk of
    * graph-based ANN (the HNSW/NSW layer-0 search of Malkov & Yashunin
    * 2016, public): start every query at a fixed entry vector, and each
    * hop expand the current beam's graph neighbors, score them exactly
    * against the query, and keep the best `beam` candidates — after
    * `hops` rounds the beam's top-k (self excluded) is the answer. The
    * structural alternative to IVF probing: no partitions to probe,
    * quality scales with hops/beam, and the index is the kNN graph the
    * engine already builds.
    *
    * Determinism: beam selection ranks (score desc, vec_id) on exact
    * cosine doubles (same fold both engines), the entry point is the
    * multiplicative-hash minimum (the codebook sample's first element),
    * and the query's own row rides the beam (score 1.0 — harmless seed,
    * excluded only at the final ranking) so a query that IS the entry
    * point still searches. The oracle unrolls the same 3 hops.
    *
    * Scale shape: the graph comes off the session index catalog
    * ([[knnGraphIndex]] — built once, materialized reuse across every
    * consumer and every hop); per hop the per-query beam is ≤ |queries|·beam
    * narrow rows — TINY — so every hop join broadcasts the BEAM side and
    * streams the corpus-scale side map-only: the expansion is
    * `g.join(broadcast(beamDf))` (one pass over the a_id-keyed edges,
    * never a broadcast of the N·k edge table, which at 100 TB would OOM
    * the driver) and the scoring join likewise broadcasts the deduped
    * candidate set into the persisted vector table. The rank windows
    * sort ≤ 40 rows per query. At 100 TB the walk state stays
    * per-query-bounded regardless of corpus size; production raises
    * hops (graph diameter) and adds entry-point restarts, same plan. */
  def graphSearchTopK(spark: SparkSession, sfDir: String, hops: Int = 3,
                      beam: Int = 8, k: Int = 5): DataFrame = {
    require(hops >= 1, s"at least one hop scores the beam, got $hops")
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // off the index catalog: already checkpoint-materialized, so the
    // per-hop filter+select is a cheap map over pinned rows — no persist
    val g = knnGraphIndex(spark, sfDir).filter(col("b_id").isNotNull)
      .select(col("a_id"), col("b_id"))
    // localCheckpoint: the ≤5-row query table is re-broadcast every hop;
    // without the checkpoint each broadcast re-runs the corpus filter
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
      .localCheckpoint()
    val entry = e.withColumn("h", (col("vec_id") * lit(2654435761L)) % lit(1000000007L))
      .orderBy("h", "vec_id").limit(1).select(col("vec_id"))
    var beamDf = qs.select(col("q_id")).crossJoin(broadcast(entry))
    var scored: DataFrame = null
    val wb = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    // per hop everything beam-sided is ≤ |queries|·beam·(k+1) rows:
    // ALWAYS broadcast that tiny side — the beam into the corpus-scale
    // edge table (map-only pass over g; broadcasting g itself would ship
    // N·k edges to every executor and OOM at scale) and the deduped
    // candidate set into the corpus-side scoring join (map-only over the
    // persisted e) — the only exchanges per hop are the tiny candidate
    // dedup and the per-query rank window
    for (_ <- 1 to hops) {
      // localCheckpoint the SCORED frame (≤ |queries|·beam·(k+1) rows):
      // every broadcast in the NEXT hop re-executes its subplan from the
      // leaves — without cutting lineage here hop h re-runs all h-1
      // previous hops once per broadcast materialization. Checkpointing
      // scored (rather than the beam) also makes the FINAL ranking free:
      // it reads the last hop's materialized rows instead of re-running
      // the hop's g-pass and e-pass one more time.
      scored = hopScored(g, e, qs, beamDf).localCheckpoint()
      beamDf = scored.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= beam).select("q_id", "vec_id")
    }
    scored.filter(col("vec_id") =!= col("q_id"))
      .withColumn("rn", row_number().over(wb).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("q_id", "rn")
  }

  /** ONE beam-search hop: expand the beam through the edge table, then
    * score the deduped candidates exactly. Both joins broadcast the
    * TINY side — the beam into the corpus-scale edges (broadcasting the
    * N·k edge table itself would OOM at scale; VERDICT r8 #1) and the
    * bounded candidate/query sets into the vector table. Split out so
    * the broadcast DIRECTION is plan-spec-testable in isolation
    * ([[graphSearchTopK]] checkpoints each hop's result, so the final
    * frame no longer carries the hop joins in its lineage). */
  private[graft] def hopScored(g: DataFrame, e: DataFrame, qs: DataFrame,
                               beamDf: DataFrame): DataFrame = {
    val expanded = g.join(broadcast(beamDf), beamDf("vec_id") === g("a_id"))
      .select(col("q_id"), col("b_id").as("vec_id"))
      .union(beamDf.select(col("q_id"), col("vec_id")))
      .distinct()
    e.join(broadcast(expanded), "vec_id")
      .join(broadcast(qs), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("emb"), col("nrm"), col("q_emb"), col("q_nrm"))
          .as("score"))
  }

  /** Fixed-size IVF codebook: the `k` vectors with the smallest
    * multiplicative hash of vec_id (ties by vec_id) — a deterministic
    * unbiased sample whose SIZE is independent of the corpus, so
    * centroid assignment is O(N·k), never O(N²). (Round 2 sampled
    * every 97th vector, which made the codebook — and the assignment
    * cross-product — grow linearly with the corpus.) Production sizes
    * k as a fixed config constant (~√N at the design scale); the
    * structure is identical. */
  def ivfCentroids(e: DataFrame, k: Int): DataFrame =
    e.withColumn("h", (col("vec_id") * lit(2654435761L)) % lit(1000000007L))
      .orderBy("h", "vec_id").limit(k)
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"),
        col("nrm").as("cnrm"))

  /** MAP-ONLY nearest-centroid assignment: the ≤k-row codebook folds to
    * ONE array-of-structs row (a bounded aggregate), broadcasts, and the
    * per-vector argmax is a row-local `aggregate` fold over it — the
    * corpus is never exploded to N·k rows, the argmax needs NO exchange,
    * and the 64-double payload never moves (the groupBy-argmax
    * formulation this replaces shuffled N narrow score rows AND re-joined
    * the payload through a second exchange; at 100 TB those are two full
    * corpus barriers that simply disappear). Tie order is identical to
    * the old `max(struct(cscore, -cent_id))`: `greatest` on a
    * (s, nc) struct is the same lexicographic comparison over the same
    * IEEE-exact scores, so assignments — and every oracle hash
    * downstream — are unchanged.
    *
    * Precondition (every call site satisfies it by construction): the
    * codebook is non-empty and `emb`/`nrm` are non-null — a null score
    * or an empty array would leave the -∞ seed in place and the negated
    * Long.MinValue sentinel is not a meaningful cent_id. */
  private[graft] def withNearestCentroid(e: DataFrame, cents: DataFrame): DataFrame = {
    val carr = cents.agg(
      collect_list(struct(col("cent_id"), col("cemb"), col("cnrm"))).as("carr"))
    e.crossJoin(broadcast(carr))
      .withColumn("m", aggregate(col("carr"),
        struct(lit(Double.NegativeInfinity).as("s"), lit(Long.MinValue).as("nc")),
        (acc, c) => greatest(acc, struct(
          cosinePre(col("emb"), col("nrm"),
            c.getField("cemb"), c.getField("cnrm")).as("s"),
          (-c.getField("cent_id")).as("nc")))))
      .withColumn("cent_id", -col("m.nc"))
      .drop("m", "carr")
  }

  /** Per-query `nprobe` nearest centroids (score desc, cent_id asc) —
    * the probe side of the IVF paths. The query set is tiny (vec_id <
    * 5), so this is a 5·k-row rank window, never a scale term. */
  private def queryProbes(e: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("cent_id"))
    e.filter(col("vec_id") < 5)
      .join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cent_id"),
        cosinePre(col("emb"), col("nrm"), col("cemb"), col("cnrm")).as("cscore"))
      .withColumn("arn", row_number().over(wProbe))
      .filter(col("arn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id"))
  }

  /** IVF-style ANN: the second scale path besides LSH. A fixed-k
    * deterministic codebook ([[ivfCentroids]]), each vector assigned to
    * its nearest centroid (one broadcast of the k-row centroid set
    * against a single corpus scan — O(N·k) dot products); queries probe
    * their `nprobe` nearest centroids' inverted lists (the standard IVF
    * recall dial, tuned off [[annRecall]]: nprobe=1 measured recall@10
    * = 0.36 at sf0.01, nprobe=2 measures 0.48 at ~2× candidate cost —
    * candidates stay ~nprobe·N/k per query, lists are disjoint so no
    * dedup is needed).
    *
    * Shuffle discipline: only NARROW (vec_id, cent_id, cscore) rows ever
    * cross the assignment exchange. The N·k centroid scores are reduced
    * to the per-vector argmax by a hash aggregate — max of a
    * (cscore, -cent_id) struct, identical (score desc, cent_id asc)
    * order to the window formulation — with map-side partial combine, so
    * the exchange carries ≤ one 24-byte row per vector. The 64-double
    * payload is joined back by vec_id afterwards: exactly one payload
    * pass through an exchange, instead of k× through the old
    * Window.partitionBy(vec_id) (which shuffled emb+nrm on all N·k
    * rows — k× write amplification of the whole corpus at 100 TB).
    * The probe-side top-k join stays broadcast, so the inverted lists
    * are never shuffled again. Caller releases the persisted corpus
    * scan via spark.catalog.clearCache() (Verify/Bench/specs do). */
  def ivfAnnTopK(spark: SparkSession, sfDir: String,
                 k: Int = 16, nprobe: Int = 2): DataFrame = {
    // persisted: the normed corpus feeds the codebook TakeOrdered, the
    // O(N·k) assignment scan, the payload rejoin and the query vectors
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfAnnTopKOn(e, k, nprobe)
  }

  /** [[ivfAnnTopK]] over an INJECTED (already persisted) corpus — the
    * shared-persist seam [[annRecall]] uses so its three arms read ONE
    * materialized corpus scan instead of stacking three (r15; the
    * lshAnnTopKOn pattern). */
  private[graft] def ivfAnnTopKOn(e: DataFrame,
                                  k: Int = 16, nprobe: Int = 2): DataFrame = {
    val cents = ivfCentroids(e, k)
    // map-only assignment: the argmax folds row-locally over the
    // broadcast codebook array — no N·k explosion, no argmax exchange,
    // no payload re-join (see withNearestCentroid)
    val assigned = withNearestCentroid(e, cents)
      .select("vec_id", "emb", "nrm", "cent_id")
    // query probe set: 5 query rows × k centroids before the rank
    // window, so this side is trivially cheap
    val qprobe = queryProbes(e, cents, nprobe)
      .join(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm")),
        "q_id")
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("cent_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(qprobe), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy("q_id", "rn")
  }

  /** Dup-seeded embedding corpus, the vector analogue of
    * DedupOps.corpus: the embeddings plus a ×2-scaled copy of every
    * 10th vector and a ×0.5-scaled copy of every (10k+5)th. Scaling by
    * a power of two is EXACT in IEEE double and preserves direction, so
    * every seeded copy has cosine ≈ 1 (±ulp) with its original AND
    * provably identical hyperplane sign bits (sign(2x) = sign(x)
    * bit-for-bit) — LSH recall on the seeded dups is exact by
    * construction, not probabilistically. */
  def embCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE scan: each row emits itself plus (conditionally) its scaled
    // copy via explode, instead of a union re-reading the table per
    // seeded branch (same rows, oracles' UNION ALL spelling unchanged)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val self = struct(col("vec_id"), col("label"), col("emb"))
    val m = col("vec_id") % 10
    e.select(explode(
        when(m === 0, array(self, struct((col("vec_id") + 100000).as("vec_id"),
          col("label"), transform(col("emb"), x => x * lit(2.0)).as("emb"))))
        .when(m === 5, array(self, struct((col("vec_id") + 200000).as("vec_id"),
          col("label"), transform(col("emb"), x => x * lit(0.5)).as("emb"))))
        .otherwise(array(self))).as("e"))
      .select(col("e.vec_id").as("vec_id"), col("e.label").as("label"),
        col("e.emb").as("emb"))
  }

  /** Embedding near-dup pairs over the dup-seeded corpus via
    * hyperplane-LSH buckets: candidates are an equi-join on the 8-bit
    * bucket (row-local projection — only colliding vectors are ever
    * compared), verified by exact cosine ≥ 0.999. Replaces round 2's
    * all-pairs join blocked on `label`, whose fixed block count made
    * pair volume quadratic in the corpus; bucket width grows with
    * log N in production, keeping per-bucket volume bounded. Recall on
    * the seeded dups is exact (see [[embCorpus]]: identical sign bits).
    * Caller releases the persisted signatures via clearCache(). */
  def embeddingNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embCorpus(spark, sfDir)
      .withColumn("nrm", sqrt(dotd(col("emb"), col("emb"))))
      .withColumn("bucket", hyperplaneBucket(col("emb"), 0, 8))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = e.select(col("bucket"), col("vec_id").as("vec_a"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vec_id").as("vec_b"),
      col("emb").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("bucket"),
        cosinePre(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
      .filter(col("cos") >= 0.999)
      .orderBy("vec_a", "vec_b")
  }

  /** MARGIN-BASED BITEXT-STYLE MINING (the Artetxe & Schwenk 2018 /
    * CCMatrix margin criterion, public): treat the even-id vectors as
    * the QUERY corpus and the odd-id vectors as the CANDIDATE pool
    * (standing in for two languages' encoder outputs), and for each
    * query emit its best pool match with the MARGIN over the
    * runner-up — absolute cosine alone over-accepts hubs (vectors
    * similar to everything); the margin is what separates a true
    * translation pair from a crowd of near-ties, and it is the
    * acceptance score a parallel-corpus miner thresholds.
    *
    * Scale shape: candidates come from the SAME hyperplane-LSH bucket
    * equi-join as [[embeddingNearDups]] (only colliding vectors are
    * ever compared — never the |A|×|B| cross product; production grows
    * bucket bits with log N and adds multi-probe for recall, exactly
    * the [[lshMultiProbe]] knob); per-query ranking runs inside
    * bucket-bounded groups, then one row per query survives. Queries
    * with no bucket collision simply emit nothing — the miner's
    * "no candidate" outcome, recovered by multi-probe, not by a scan.
    *
    * `confident` (margin ≥ 0.05) is emitted as a column rather than a
    * filter so the oracle also checks the acceptance rule itself. */
  def bitextMine(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dotd(col("emb"), col("emb"))))
      .withColumn("bucket", hyperplaneBucket(col("emb"), 0, 8))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") % 2 === 0)
      .select(col("bucket"), col("vec_id").as("vec_a"),
        col("emb").as("ea"), col("nrm").as("na"))
    val pool = e.filter(col("vec_id") % 2 === 1)
      .select(col("bucket"), col("vec_id").as("vec_b"),
        col("emb").as("eb"), col("nrm").as("nb"))
    val wq = Window.partitionBy("vec_a")
      .orderBy(col("cos").desc, col("vec_b"))
    q.join(pool, Seq("bucket"))
      .select(col("vec_a"), col("vec_b"),
        cosinePre(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 2)
      .groupBy("vec_a")
      .agg(max(when(col("rn") === 1, col("vec_b"))).as("match_id"),
        max(when(col("rn") === 1, col("cos"))).as("best_cos"),
        max(when(col("rn") === 2, col("cos"))).as("runner_cos"))
      .withColumn("margin",
        col("best_cos") - coalesce(col("runner_cos"), lit(0.0)))
      .withColumn("confident", col("margin") >= 0.05)
      .orderBy("vec_a")
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023 — public-knowledge pipeline pattern): cluster the corpus with
    * the deterministic k-centroid coarse quantizer, then compare pairs
    * ONLY within a cluster; a vector is dropped when a lower-id
    * cluster-mate sits above the cosine threshold (greedy keep-lowest
    * representative). Emits the full corpus with (cluster_id, is_kept)
    * — the curation decision a training pipeline joins back onto the
    * document table.
    *
    * Scale shape, BY CONSTRUCTION (not configuration):
    *
    *  - k is derived from the corpus count as max(16, ⌈√N⌉)
    *    ([[deriveK]]) — the codebook grows with the corpus, so the
    *    expected cluster size is √N, never N/constant; passing k > 0
    *    pins it (tests).
    *  - clusters larger than `cap` rows are hash-split into
    *    ⌈|cluster|/cap⌉ sub-buckets on a vec_id hash ([[subAssign]]),
    *    so within-bucket pair volume is ≤ cap·|cluster| per cluster and
    *    ≤ cap·N = O(N) in total even when one hot cluster swallows the
    *    corpus — the bounded-work SemDeDup trade: a dup pair split
    *    across sub-buckets of an OVERSIZED cluster is missed; clusters
    *    at or under `cap` (all of them at the test scales) are exact.
    *
    * Assignment stays the narrow argmax aggregate (one 24-byte row per
    * vector through the exchange, see [[ivfAnnTopK]]); the pair stage
    * is an equi-join on (cluster_id, sub). The kept flag is a
    * left-anti-shaped join on vec_id. Caller releases the persisted
    * corpus scan via spark.catalog.clearCache(). */
  def semanticDedup(spark: SparkSession, sfDir: String,
                    k: Int = 0, tau: Double = 0.999, cap: Int = 256): DataFrame = {
    val e = embCorpus(spark, sfDir)
      .withColumn("nrm", sqrt(dotd(col("emb"), col("emb"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kEff = if (k > 0) k else deriveK(embCorpusCount(spark, sfDir))
    // persisted: the assigned corpus (which embeds the O(N·k) argmax
    // assignment) is referenced three times — both pair sides and the
    // kept-flag projection — so the assignment pipeline runs ONCE
    // instead of 3× (at 100 TB that is two saved full-corpus scoring
    // passes; locally it measures within the ±15% noise band, 1.56 s vs
    // 1.39–1.60 s at sf0.1). A narrow (vec_id, cluster_id, sub)-only
    // persist with payload re-joins measured strictly worse (1.79 s) —
    // the two extra joins cost more than the payload cache round-trip.
    // Same clearCache contract as the corpus persist above.
    val withC = subAssign(e, kEff, cap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = withC.select(col("cluster_id"), col("sub"), col("vec_id").as("va"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = withC.select(col("cluster_id"), col("sub"), col("vec_id").as("vb"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cluster_id", "sub"))
      .filter(col("va") < col("vb") &&
        cosinePre(col("ea"), col("na"), col("eb"), col("nb")) >= tau)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    withC.select("vec_id", "cluster_id")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        col("hit").isNull.cast("long").as("is_kept"))
      .orderBy("vec_id")
  }

  /** √N codebook-size discipline for [[semanticDedup]]: expected
    * cluster size and cluster count grow together, so neither the
    * broadcast codebook nor the per-cluster pair blocks dominate. */
  def deriveK(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).min(65536L).toInt

  /** [[embCorpus]] row count from the MANIFEST — the same no-full-scan
    * sizing discipline as [[knnGraph]]'s autoBits (Tables.rowCount):
    * the corpus is the embeddings table plus its two seeded-copy
    * arithmetic progressions over the 0-based contiguous `vec_id`
    * range key (both the parquet testdata and the `synth:` generator
    * are spark.range-keyed; spec-pinned against a real corpus count),
    * so [[deriveK]] costs zero Spark jobs. The oracle's count(*)
    * rendering is unchanged — the formula equals the scan count. */
  private[graft] def embCorpusCount(spark: SparkSession, sfDir: String): Long = {
    val n = Tables.rowCount(spark, sfDir, "embeddings")
    val copies0 = (n + 9) / 10                    // #{vec_id % 10 == 0}
    val copies5 = if (n > 5) (n + 4) / 10 else 0L // #{vec_id % 10 == 5}
    n + copies0 + copies5
  }

  /** Cluster assignment + sub-bucket split for [[semanticDedup]],
    * exposed for the pair-volume bound spec. Returns the corpus with
    * (cluster_id, sub): `sub` is a vec_id-hash bucket in
    * [0, ⌈|cluster|/cap⌉) — 0 for every cluster at or under `cap`.
    * Integer-lattice hash and a divide-by-power-of-two size, so the
    * same expression is bit-exact in any ANSI engine (the oracle
    * replicates it verbatim); `cap` MUST be a power of two for the
    * double division to stay IEEE-exact. Cluster sizes are a ≤k-row
    * aggregate, broadcast back — no wide shuffle is added. */
  private[graft] def subAssign(e: DataFrame, k: Int, cap: Int): DataFrame = {
    require(cap > 0 && (cap & (cap - 1)) == 0, s"cap must be a power of two: $cap")
    val cents = ivfCentroids(e, k)
    // map-only assignment (see withNearestCentroid): no N·k explosion,
    // no argmax exchange, no payload re-join — the only shuffle this
    // stage adds is the ≤k-row cluster-size aggregate below
    val assign = withNearestCentroid(e, cents)
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("cent_id").as("cluster_id"))
    val csz = assign.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    assign
      .join(broadcast(csz), "cluster_id")
      .withColumn("nsub",
        floor((col("csz") + lit((cap - 1).toDouble)) / lit(cap.toDouble)).cast("long"))
      .withColumn("sub",
        col("vec_id") * lit(2654435761L) % lit(1000000007L) % col("nsub"))
      .drop("csz", "nsub")
  }

  /** Spec-only reference model for [[embeddingNearDups]]: unblocked
    * all-pairs cosine over the dup-seeded corpus. O(n²) by definition —
    * never registered as a query; exists so tests can assert the
    * LSH-bucketed form has no false positives and exact recall on the
    * seeded dups. */
  def embeddingNearDupsAllPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embCorpus(spark, sfDir)
      .withColumn("nrm", sqrt(dotd(col("emb"), col("emb"))))
    val a = e.select(col("vec_id").as("vec_a"), col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("emb").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosinePre(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
      .filter(col("cos") >= 0.999)
      .orderBy("vec_a", "vec_b")
  }

  /** Symmetric int8 quantization of the embedding column — the
    * compression step an ANN index build runs before serving (4× smaller
    * vectors, SIMD-friendly dot products). Per vector: scale = max |x|,
    * q_i = floor(x_i·127/scale + 0.5) ∈ [−127, 127] (floor(x+0.5) is
    * round-half-up — identical in both engines, unlike round()'s
    * half-even vs half-away ambiguity). Row-local, zero shuffles; the
    * quantized vector is serialized to CSV because array columns can't
    * cross the driver's comparator. */
  /** One Lloyd refinement step of the IVF codebook in integer-exact
    * arithmetic — the periodic index-maintenance job of an ANN serving
    * stack (re-estimate every centroid from its assigned vectors so the
    * coarse quantizer tracks corpus drift). Assignment is the same
    * map-only broadcast-codebook argmax as [[ivfAnnTopK]]; the update
    * sums int8-quantized components ([[quantizeInt8]]'s grid) per
    * (centroid, dimension): BIGINT sums of exact small integers are
    * order-independent, so the refreshed estimate (qsum/cnt — one IEEE
    * division of exact operands) hash-matches the oracle bitwise,
    * where an all-double mean would depend on partition fold order.
    *
    * Scale shape: ONE corpus scan; quantization and the per-vector
    * argmax are row-local; the only exchange carries (cent_id, dim)
    * partial sums — map-side combine caps it at k·dims rows per
    * partition regardless of N. */
  def kmeansStep(spark: SparkSession, sfDir: String, k: Int = 16): DataFrame = {
    val e = vecs(spark, sfDir)
    val cents = ivfCentroids(e, k)
    val quant = withNearestCentroid(e, cents)
      .withColumn("scale", array_max(transform(col("emb"), x => abs(x))))
      .filter(col("scale") > 0)
      .select(col("cent_id"),
        posexplode(transform(col("emb"),
          x => floor(x * lit(127.0) / col("scale") + lit(0.5)))))
      .toDF("cent_id", "dim", "qc")
    quant.groupBy("cent_id", "dim")
      .agg(count(lit(1)).as("cnt"), sum(col("qc")).as("qsum"))
      .select(col("cent_id"), col("dim").cast("long").as("dim"),
        col("cnt"), col("qsum"),
        (col("qsum").cast("double") / col("cnt")).as("qmean"))
      .orderBy("cent_id", "dim")
  }

  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("scale", array_max(transform(col("emb"), x => abs(x))))
      .filter(col("scale") > 0)
    e.select(col("vec_id"), col("scale"),
      concat_ws(",", transform(col("emb"),
        x => floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("long")
          .cast("string"))).as("q_csv"))
      .orderBy("vec_id")
  }

  /** Serving top-k on the int8-quantized vectors — what an ANN index
    * actually ranks with after [[quantizeInt8]] compresses the corpus.
    * The quantized values are small integers carried as doubles, so the
    * dot product is EXACT (every product and partial sum is an integer
    * ≤ 127²·64 ≪ 2⁵³ — no rounding anywhere, determinism by
    * construction rather than by fold-order discipline). Same broadcast
    * query batch × one corpus scan shape as [[bruteForceTopK]]; emitted
    * next to each pair's rank under exact float cosine is the recall
    * question answered per query in [[pqRecall]] style by the spec. */
  def int8TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val q8 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("scale", array_max(transform(col("emb"), x => abs(x))))
      .filter(col("scale") > 0)
      .select(col("vec_id"), col("scale"),
        // Spark floor returns LONG; the quantized values are exact small
        // integers either way, carried as doubles for dot_double
        transform(col("emb"),
          x => floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("double"))
          .as("q"))
    val qs = q8.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("scale").as("q_scale"),
        col("q").as("qq"))
    // dequantized inner product: exact integer dot, then the two scale
    // factors in a FIXED multiplication order (both engines evaluate
    // the identical expression tree, so the float result is bitwise-equal);
    // top-k via the bounded aggregator — k rows per partition cross the
    // exchange, not every scored candidate (see bruteForceTopK)
    val top = graft.functions.TopKAggregator.topKPairs(10)
    q8.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotd(col("qq"), col("q")) * col("q_scale") * col("scale") /
          lit(16129.0)).as("score"))
      .groupBy("q_id")
      .agg(top(col("vec_id"), col("score")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  /** Residual quantizer encode (two-stage additive quantization — the
    * RQ/AQ family of Chen et al., "Approximate Nearest Neighbor Search
    * by Residual Vector Quantization", Sensors 2010; stage-1 codebook ≈
    * IVF coarse quantizer, stage-2 codebook trained on the RESIDUALS,
    * so the pair (c1, c2) reconstructs cb1[c1] + cb2[c2] — finer than
    * either alone at the same code budget, the alternative to PQ's
    * subspace split). Codebooks are the repo's deterministic
    * multiplicative-hash samples (two different multipliers), so both
    * engines derive identical codebooks with no RNG and no training
    * loop; stage 2's entries are the stage-1 residuals of its sample.
    *
    * Per stage the corpus pays a MAP-ONLY pass (the
    * [[withNearestCentroid]] discipline): the 16-entry codebook folds
    * to one broadcast array row and the argmax/argmin is a row-local
    * fold — no N·k explode, no exchange; the only corpus shuffle is the
    * presentation sort. Emitted quantization errors e1 = ‖r‖² (after
    * stage 1) and e2 = ‖r − cb2[c2]‖² (after stage 2) are same-order
    * FP folds on both engines, hence bit-identical. Per ROW e2 may
    * exceed e1 (‖r − q‖² can beat ‖r‖² for no entry q); the pinned
    * guarantees are aggregate — Σe2 < Σe1 — plus e2 = 0 exactly for the
    * 16 docs whose residuals ARE the stage-2 codebook (spec). */
  def rqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val u = vecs(spark, sfDir)
      .select(col("vec_id"), transform(col("emb"), x => x / col("nrm")).as("u"))
    val w1 = Window.orderBy("h", "vec_id")
    // 16-row codebook sample: the global window is a 16-row sort
    val cb1 = u.withColumn("h", (col("vec_id") * lit(2654435761L)) % lit(1000000007L))
      .orderBy("h", "vec_id").limit(16)
      .withColumn("c1", (row_number().over(w1) - 1).cast("long"))
      .select(col("c1"), col("u").as("cu"))
    val carr1 = cb1.agg(collect_list(struct(col("c1"), col("cu"))).as("ca"))
    // stage 1: row-local argmax dot over the broadcast codebook (unit
    // vectors, so dot = cosine); ties to the lowest code via -c1
    val a1 = u.crossJoin(broadcast(carr1))
      .withColumn("m", aggregate(col("ca"),
        struct(lit(Double.NegativeInfinity).as("s"), lit(Long.MinValue).as("nc")),
        (acc, c) => greatest(acc, struct(
          dotd(col("u"), c.getField("cu")).as("s"),
          (-c.getField("c1")).as("nc")))))
      .withColumn("c1", -col("m.nc"))
      .drop("m", "ca")
      // broadcast-join the winning centroid back (map-side) and subtract
      .join(broadcast(cb1), "c1")
      .withColumn("r", zip_with(col("u"), col("cu"), (x, y) => x - y))
      .select(col("vec_id"), col("c1"), col("r"))
      // persisted: the stage-2 codebook (broadcast of cb2) AND the final
      // projection both read a1 — without it the whole-corpus stage-1
      // argmax pass re-executes per consumer (caller clearCache()s, the
      // similarity-ops contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w2 = Window.orderBy("h2", "vec_id")
    val cb2 = a1.withColumn("h2", (col("vec_id") * lit(2246822519L)) % lit(1000000007L))
      .orderBy("h2", "vec_id").limit(16)
      .withColumn("c2", (row_number().over(w2) - 1).cast("long"))
      .select(col("c2"), col("r").as("q"))
    val carr2 = cb2.agg(collect_list(struct(col("c2"), col("q"))).as("ca"))
    // stage 2: row-local argmin of the squared residual distance
    a1.crossJoin(broadcast(carr2))
      .withColumn("m", aggregate(col("ca"),
        struct(lit(Double.PositiveInfinity).as("d"), lit(Long.MaxValue).as("c")),
        (acc, c) => least(acc, struct(
          aggregate(zip_with(col("r"), c.getField("q"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v).as("d"),
          c.getField("c2").as("c")))))
      .select(col("vec_id"), col("c1"), col("m.c").as("c2"),
        dotd(col("r"), col("r")).as("e1"), col("m.d").as("e2"))
      .orderBy("vec_id")
  }

  /** Normalized vectors and their per-subspace slices for product
    * quantization: unit vectors (so subspace inner products sum to the
    * full cosine), exploded into `m` contiguous subvectors. Narrow by
    * construction — each exploded row carries dim/m doubles. */
  private def pqSubvectors(spark: SparkSession, sfDir: String,
                           m: Int, subDim: Int): DataFrame =
    vecs(spark, sfDir)
      .select(col("vec_id"),
        transform(col("emb"), x => x / col("nrm")).as("u"))
      .select(col("vec_id"), col("u"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("vec_id"), col("s"),
        slice(col("u"), (col("s") * subDim + 1).cast("int"), lit(subDim)).as("sub"))

  /** Per-(vector, subspace, centroid) inner products — the shared table
    * both PQ stages read: codes take the per-(vec, s) argmax, and the
    * query distance table is the vec_id < 5 slice of the very same rows
    * (queries are corpus vectors, so their subspace dots are already
    * here — no second scoring pass). The codebook is the [[ivfCentroids]]
    * deterministic multiplicative-hash sample, re-indexed 0..k-1, sliced
    * per subspace and broadcast; scored rows are (vec_id, s, c, d) —
    * nothing wide ever reaches a shuffle. */
  private def pqScored(spark: SparkSession, sfDir: String,
                       m: Int = 8, k: Int = 16): DataFrame = {
    val subDim = 64 / m
    val sub = pqSubvectors(spark, sfDir, m, subDim)
    val sampleW = Window.orderBy("h", "vec_id")
    val cents = vecs(spark, sfDir)
      .select(col("vec_id"),
        transform(col("emb"), x => x / col("nrm")).as("u"))
      .withColumn("h", (col("vec_id") * lit(2654435761L)) % lit(1000000007L))
      .orderBy("h", "vec_id").limit(k)
      // k rows: the global window is a 16-row sort, not a scale concern
      .withColumn("c", row_number().over(sampleW) - 1)
      .select(col("c"), col("u"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("c"), col("s"),
        slice(col("u"), (col("s") * subDim + 1).cast("int"), lit(subDim)).as("csub"))
    sub.join(broadcast(cents), "s")
      .select(col("vec_id"), col("s"), col("c"),
        dotd(col("sub"), col("csub")).as("d"))
  }

  /** PQ code assignment: per (vector, subspace) the argmax-inner-product
    * centroid (ties to the lowest code — max of a (d, -c) struct, the
    * same trick as the IVF assignment). */
  private def pqCodeTable(spark: SparkSession, sfDir: String): DataFrame =
    pqCodeTableOf(pqScored(spark, sfDir))

  private def pqCodeTableOf(scored: DataFrame): DataFrame =
    scored
      .groupBy("vec_id", "s")
      .agg(max(struct(col("d").as("d"), (-col("c")).as("nc"))).as("m"))
      .select(col("vec_id"), col("s"), (-col("m.nc")).as("c"))

  /** Product-quantization encode — the 8×16 codebook compresses each
    * 64-dim double vector to 8 nibble codes (128× smaller than the raw
    * doubles; the serving form an ANN index ships to disk). Codes are
    * emitted in subspace order as CSV (array columns can't cross the
    * driver's comparator). */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    pqCodeTable(spark, sfDir)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("s"), col("c")))).as("sc"))
      .select(col("vec_id"),
        concat_ws(",", transform(col("sc"),
          p => p.getField("c").cast("string"))).as("codes_csv"))
      .orderBy("vec_id")

  /** PQ-ADC recall@10 vs the exact brute-force top-10 — asymmetric
    * distance computation: the query keeps its exact subvectors, corpus
    * vectors contribute only their codes, and the approximate cosine is
    * the subspace-ordered sum of the query's precomputed inner products
    * with each coded centroid. The distance table (5 queries × 8
    * subspaces × 16 centroids) broadcasts; the scan side is the N×m
    * codes table — rows of four scalars, the narrow shape a PQ serving
    * scan has at 100 TB. The per-pair sum folds in subspace order on
    * both engines (array_sort + sequential fold ≡ DuckDB's ordered list
    * + list_reduce), so scores stay bitwise-equal. The brute baseline is
    * persisted (hits and possible both read it); caller releases via
    * spark.catalog.clearCache() — Verify/Bench/specs do. */
  def pqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // deliberately NOT persisted: the distance-table branch re-derives
    // pqScored, but its vec_id < 5 filter pushes below the explode, so
    // the "second pass" scores 5 vectors, not N — measured faster than
    // materializing the N·m·k scored table for one extra read
    //
    // each vector's m codes fold to ONE narrow row (vec_id, codes[m]) —
    // one map-side-combined agg of N·m scalar rows — and each query's
    // distance table folds to a 128-slot array indexed by s·16+c,
    // broadcast. The approximate score is then an ordered 8-term fold of
    // array lookups per (vector, query) pair: N·|q| scoring rows total,
    // instead of joining all N·m code rows against the distance table
    // and re-shuffling N·|q| groups of m through a collect_list. Same
    // parts summed in the same subspace order ⇒ bitwise-equal scores,
    // oracle unchanged.
    val codesW = pqCodeTable(spark, sfDir)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("s"), col("c")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), p => p.getField("c")).as("codes"))
    val dt = pqScored(spark, sfDir).filter(col("vec_id") < 5)
      .groupBy(col("vec_id").as("q_id"))
      .agg(array_sort(collect_list(struct(
        (col("s") * 16 + col("c")).as("k"), col("d").as("part")))).as("kp"))
      .select(col("q_id"),
        transform(col("kp"), p => p.getField("part")).as("parts"))
    // rank via the bounded aggregator (k rows per partition cross the
    // exchange, see bruteForceTopK) instead of a window over all N·5
    // approximate scores
    val top = graft.functions.TopKAggregator.topKPairs(10)
    val pqTop = codesW.join(broadcast(dt), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        aggregate(sequence(lit(0), lit(7)), lit(0.0), (a, s) =>
          a + element_at(col("parts"),
            (s * 16 + element_at(col("codes"), s + 1) + 1).cast("int")))
          .as("score"))
      .groupBy("q_id")
      .agg(top(col("vec_id"), col("score")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"))
    val brute = bruteForceTopK(spark, sfDir).select("q_id", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bTot = brute.agg(count(lit(1)).as("possible"))
    brute.join(broadcast(pqTop), Seq("q_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(bTot) // 1-row × 1-row
      .select(lit("pq").as("method"), col("hits"), col("possible"),
        (col("hits").cast("double") / col("possible")).as("recall"))
  }

  /** IVF+PQ serving top-k (the IVFADC layout of Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 — the
    * standard billion-scale ANN shape): the coarse IVF quantizer picks
    * each query's `nprobe` nearest centroid lists, and candidates inside
    * those lists are scored by PQ asymmetric distance — the query keeps
    * its exact subvectors, corpus vectors contribute ONLY their m nibble
    * codes. At 100 TB this is the layout that serves from compressed
    * storage: the per-query scan touches the (vec_id, cent_id) assignment
    * and the m-byte code rows, never the raw vector payload (128× the
    * code footprint); the only full-width pass is the one-off index
    * build.
    *
    * Plan shape: coarse assignment is the narrow argmax aggregate of
    * [[ivfAnnTopK]] (≤ one 24-byte row per vector through the exchange);
    * codes fold to one (vec_id, codes[m]) row each; each query's
    * 128-entry distance table broadcasts; candidate selection is a
    * broadcast equi-join on cent_id; ADC scores are an ordered 8-term
    * array-lookup fold (bitwise-reproducible, see [[pqRecall]]); the
    * top-k folds through the bounded aggregator. Caller releases the
    * persisted corpus scan via spark.catalog.clearCache(). */
  def ivfPqTopK(spark: SparkSession, sfDir: String,
                k: Int = 16, nprobe: Int = 2): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = ivfCentroids(e, k)
    // map-only coarse assignment (see withNearestCentroid): the argmax
    // folds row-locally over the broadcast codebook array, so the coarse
    // stage contributes ZERO exchanges — only the narrow (vec_id,
    // cent_id) projection continues into the candidate join
    val assignCent = withNearestCentroid(e, cents)
      .select("vec_id", "cent_id")
    val qprobe = queryProbes(e, cents, nprobe)
    // PQ side: one narrow (vec_id, codes[8]) row per vector; per-query
    // 128-slot distance-table array, broadcast (see pqRecall).
    // pqScored appears in BOTH branches but is deliberately NOT
    // persisted/shared: the dt branch's vec_id < 5 filter pushes below
    // the subvector explode, so its "recompute" scores 5 vectors, not
    // N, while materializing the full N·m·k scored table for one extra
    // narrow read measured SLOWER both here (2.10 s vs 1.75 s at sf0.1)
    // and in pqRecall (3.37 s vs 2.69 s) — the broadcast codebook join
    // is cheaper than the cache round-trip. The underlying vecs scan IS
    // shared: `e` above is persisted and Spark's cache manager
    // substitutes it into every identical sub-plan.
    val top = graft.functions.TopKAggregator.topKPairs(10)
    ivfPqAdcScored(assignCent, qprobe,
      pqCodesWide(spark, sfDir), pqDistanceTables(spark, sfDir))
      .groupBy("q_id")
      .agg(top(col("vec_id"), col("score")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  /** Wide nibble-code table: one (vec_id, codes[8]) row per vector —
    * shared feeder of [[ivfPqTopK]] and [[ivfPqRerank]] so the PQ
    * layout can never diverge between the ADC stage and the rerank. */
  private def pqCodesWide(spark: SparkSession, sfDir: String): DataFrame =
    pqCodeTableOf(pqScored(spark, sfDir))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("s"), col("c")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), p => p.getField("c")).as("codes"))

  /** Per-query 128-slot ADC distance tables keyed s·16+c, broadcast at
    * the consumer — the other shared feeder (see [[pqCodesWide]]). */
  private def pqDistanceTables(spark: SparkSession, sfDir: String): DataFrame =
    pqScored(spark, sfDir).filter(col("vec_id") < 5)
      .groupBy(col("vec_id").as("q_id"))
      .agg(array_sort(collect_list(struct(
        (col("s") * 16 + col("c")).as("k"), col("d").as("part")))).as("kp"))
      .select(col("q_id"),
        transform(col("kp"), p => p.getField("part")).as("parts"))

  /** The shared IVFADC candidate-scoring tail of [[ivfPqTopK]] and
    * [[ivfPqRerank]]: probe-cell candidates × nibble codes × broadcast
    * per-query distance tables → (q_id, vec_id, score). */
  private def ivfPqAdcScored(assignCent: DataFrame, qprobe: DataFrame,
                             codesW: DataFrame, dt: DataFrame): DataFrame =
    assignCent.join(broadcast(qprobe), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(codesW, "vec_id")
      .join(broadcast(dt), "q_id")
      .select(col("q_id"), col("vec_id"),
        aggregate(sequence(lit(0), lit(7)), lit(0.0), (a, s) =>
          a + element_at(col("parts"),
            (s * 16 + element_at(col("codes"), s + 1) + 1).cast("int")))
          .as("score"))

  /** The PRODUCTION two-stage PQ serving path: ADC shortlist → EXACT
    * rerank — what [[ivfPqTopK]]'s approximate ranking feeds in a real
    * deployment (Jégou et al.'s IVFADC + reranking, public). Stage 1
    * is [[ivfPqTopK]]'s scoring with a bounded top-32 aggregator
    * instead of top-10; stage 2 gathers ONLY those ≤32·|queries|
    * shortlisted vectors (broadcast shortlist, point-lookups into the
    * full-precision table) and reranks by exact cosine — the rank
    * window runs over the bounded shortlist, never data. The PQ codes
    * answer "which 32", the raw vectors answer "in what order": full
    * recall cost is paid on 32 rows per query instead of the corpus. */
  /** The ADC top-`n` shortlist of [[ivfPqRerank]] — exposed so the
    * spec can assert rerank containment against the REAL shortlist. */
  private[graft] def ivfPqShortlist(spark: SparkSession, sfDir: String,
                                    k: Int = 16, nprobe: Int = 2,
                                    n: Int = 32): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = ivfCentroids(e, k)
    val assignCent = withNearestCentroid(e, cents).select("vec_id", "cent_id")
    val qprobe = queryProbes(e, cents, nprobe)
    val short = graft.functions.TopKAggregator.topKPairs(n)
    ivfPqAdcScored(assignCent, qprobe,
      pqCodesWide(spark, sfDir), pqDistanceTables(spark, sfDir))
      .groupBy("q_id")
      .agg(short(col("vec_id"), col("score")).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("vec_id"),
        col("c.score").as("adc_score"))
  }

  def ivfPqRerank(spark: SparkSession, sfDir: String,
                  k: Int = 16, nprobe: Int = 2): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shortlist = ivfPqShortlist(spark, sfDir, k, nprobe)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("adc_score"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select("q_id", "vec_id", "adc_score", "score", "rn")
      .orderBy("q_id", "rn")
  }

  /** ANN quality measurement: recall@10 of the LSH and IVF paths
    * against the exact brute-force top-10 on the same query set — the
    * number a real pipeline tunes banding/nprobe against. hits/possible
    * are exact integers; recall is their division, so the oracle
    * hash-matches bitwise. Caller releases persisted intermediates via
    * clearCache(). */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE persisted corpus scan shared by all three arms (r15, guide
    // §5 cache what is reused): the exact truth, the IVF arm, and the
    // LSH arm each persisted their own vecs scan — three
    // materializations of the same normed corpus per run. The ...On
    // seams inject the shared frame; per-arm math is unchanged, so
    // every count and recall is identical.
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val brute = cosineTopK(e, q, col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bTot = brute.agg(count(lit(1)).as("possible"))
    // broadcast the ≤|queries|·10-row ANN result into the hit count:
    // the planner saw only the persisted frames' unknown-size estimates
    // and planned SortMergeJoin — four sort+exchange rounds per arm for
    // two 50-row inputs (r16, guide §3.1 pick the strategy deliberately)
    def one(m: DataFrame, name: String): DataFrame =
      brute.join(broadcast(m.select("q_id", "vec_id")),
          Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(bTot) // 1-row × 1-row
        .select(lit(name).as("method"), col("hits"), col("possible"),
          (col("hits").cast("double") / col("possible")).as("recall"))
    one(ivfAnnTopKOn(e), "ivf")
      .unionAll(one(lshAnnTopKOn(e, lshBuckets(e, 8, 4)), "lsh"))
      .orderBy("method")
  }

  /** LSH `bits` SWEEP — the measured form of the [[knnGraph]] scale
    * knob (bits ≈ log₂(N / target bucket)): the SAME corpus and table
    * count bucketed under 4 and 6 sign bits, each setting reporting its
    * bucket-population bound (n_buckets, max_bucket), the cross-table-
    * deduped candidate-pair volume Σ_b C(|b|,2) actually materialized
    * (the knn-graph build cost the knob exists to bound), and the
    * end-to-end LSH recall@10 against the exact brute top-10 — the
    * accuracy price of the volume cut, measured not asserted. The
    * [[DedupOps.minhashBandSweep]] / linkageBlockSweep pattern applied
    * to the last documented-only knob.
    *
    * Scale shape: bucket stats and candidate counts are equi-join +
    * 1-row aggregates per setting off one persisted bucket explode;
    * the recall arm is [[lshAnnTopK]] at that bits against one shared
    * persisted brute truth. Caller releases via clearCache(). */
  /** Bucket-occupancy readout for a bit width WITHOUT materializing
    * candidate pairs — Σ_b C(|b|,2) computed analytically from bucket
    * counts, so the formula's choice can be priced at corpus sizes
    * where the raw (uncapped) pair join is deliberately unrunnable
    * (tight clusters keep Σ|b|² quadratic at any width — the reason
    * [[knnGraph]] salt-splits). One narrow agg over the bucket explode;
    * reports the occupancy distribution the autoBits validation reads
    * (max / p50 / p99 bucket and the pair volume both raw and under
    * the knnGraph cap). */
  private[graft] def bucketOccupancy(spark: SparkSession, sfDir: String,
      tables: Int, bits: Int, cap: Long = 256L): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lshBuckets(e, tables, bits)
      .groupBy("t", "bkt").agg(count(lit(1)).as("bn"))
      .agg(count(lit(1)).as("n_buckets"), max(col("bn")).as("max_bucket"),
        expr("percentile(bn, 0.5)").as("p50_bucket"),
        expr("percentile(bn, 0.99)").as("p99_bucket"),
        sum(expr("bn * (bn - 1) DIV 2")).as("raw_pairs"),
        // the volume the capped knnGraph build actually materializes:
        // each bucket salt-splits into ⌈bn/cap⌉ sub-buckets
        sum(expr(s"CASE WHEN bn <= $cap THEN bn * (bn - 1) DIV 2 " +
          s"ELSE ((bn DIV ((bn + ${cap - 1}) DIV $cap)) + 1) * (bn DIV ((bn + ${cap - 1}) DIV $cap)) DIV 2 * ((bn + ${cap - 1}) DIV $cap) END"))
          .as("capped_pairs"))
      .select(lit(bits.toLong).as("bits"), col("n_buckets"),
        col("max_bucket"), col("p50_bucket"), col("p99_bucket"),
        col("raw_pairs"), col("capped_pairs"))
  }

  def bitsSweep(spark: SparkSession, sfDir: String,
                tables: Int = 8,
                settings: Seq[Int] = Seq(4, 6)): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = bruteForceTopK(spark, sfDir).select("q_id", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bTot = brute.agg(count(lit(1)).as("possible"))
    // ALL settings in ONE plan (r15, guide §2.4 — the
    // dd_minhash_band_sweep fusion applied here): the per-setting loop
    // stacked a persisted bucket explode plus the stats/candidate/
    // recall pipelines per width — 83 Exchange nodes (each an AQE stage
    // barrier) for two report rows. One bucket frame now carries every
    // width with `bits` as a key column; every downstream group/join
    // keys on (bits, t, bkt) so per-width results never mix, and each
    // per-width group computes exactly what its solo pipeline did —
    // same counts, same recall, oracle unchanged.
    val eb = settings.map(bits => lshBuckets(e, tables, bits)
        .withColumn("bits", lit(bits.toLong)))
      .reduce(_ unionAll _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bstats = eb.groupBy("bits", "t", "bkt").agg(count(lit(1)).as("bn"))
      .groupBy("bits")
      .agg(count(lit(1)).as("n_buckets"), max(col("bn")).as("max_bucket"))
    val nCand = eb.select(col("bits"), col("vec_id").as("a_id"), col("t"), col("bkt"))
      .join(eb.select(col("bits"), col("vec_id").as("b_id"), col("t"), col("bkt")),
        Seq("bits", "t", "bkt"))
      .filter(col("a_id") < col("b_id"))
      .select("bits", "a_id", "b_id").distinct()
      .groupBy("bits").agg(count(lit(1)).as("cand_pairs"))
    // recall arm — lshAnnTopKOn's exact dataflow with `bits` riding
    // every key (candidate join, distinct, rank-window partition), so
    // each width's top-10 is bit-identical to its solo run
    val qKeys = eb.filter(col("vec_id") < 5)
      .select(col("bits"), col("vec_id").as("q_id"), col("t"), col("bkt"))
    val cand = eb.join(broadcast(qKeys), Seq("bits", "t", "bkt"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("bits", "q_id", "vec_id").distinct()
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("bits"), col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val hits = cand.join(e, "vec_id").join(broadcast(qv), "q_id")
      .select(col("bits"), col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .join(broadcast(brute), Seq("q_id", "vec_id"), "left_semi")
      .groupBy("bits").agg(count(lit(1)).as("h"))
    // left joins from bstats (every width has buckets): a 0-candidate or
    // 0-hit width still reports, as the per-setting loop's 1-row counts
    // did. nCand/hits are ≤|settings|-row aggregates — broadcast them
    // (r16, guide §3.1: the planner's estimates planned SortMergeJoin)
    bstats
      .join(broadcast(nCand), Seq("bits"), "left")
      .join(broadcast(hits), Seq("bits"), "left")
      .crossJoin(bTot) // ≤|settings|-row × 1-row
      .select(col("bits"), col("n_buckets"), col("max_bucket"),
        coalesce(col("cand_pairs"), lit(0L)).as("cand_pairs"),
        coalesce(col("h"), lit(0L)).as("hits"), col("possible"),
        (coalesce(col("h"), lit(0L)).cast("double") / col("possible"))
          .as("recall"))
      .orderBy("bits")
  }

  /** Contrastive-training triplet materialization — the dataset a
    * contrastive or reranker fine-tune actually trains on: for each
    * anchor, its most-similar SAME-label vector as the positive (the
    * hardest positive still consistent with the label) and the top-k
    * most-similar DIFFERENT-label vectors as hard negatives
    * ([[hardNegatives]]'s selection). One row per (anchor, negative),
    * carrying the positive — the flat layout a training loader reads.
    *
    * Scale shape: both rankings are the [[bruteForceTopK]] pipeline —
    * tiny anchor batch broadcast against a corpus scan, label
    * (in)equality fused into the join predicate, bounded top-k
    * aggregation — then one anchor-keyed join between two ≤|anchors|·k
    * frames. Nothing data-volume-wide beyond the two bounded top-k
    * exchanges. */
  def trainingTriplets(spark: SparkSession, sfDir: String,
                       negK: Int = 3): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val pos = cosineTopK(e, q,
        col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id").as("pos_id"),
        col("score").as("pos_score"))
    val negs = cosineTopK(e, q,
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .filter(col("rn") <= negK)
      .select(col("q_id"), col("rn").as("neg_rank"),
        col("vec_id").as("neg_id"), col("score").as("neg_score"))
    pos.join(negs, "q_id")
      .select(col("q_id"), col("pos_id"), col("pos_score"),
        col("neg_rank"), col("neg_id"), col("neg_score"))
      .orderBy("q_id", "neg_rank")
  }

  /** Matryoshka-truncation retrieval quality (Kusupati et al. 2022,
    * "Matryoshka Representation Learning" — public): recall@10 of
    * exact retrieval run on PREFIX-TRUNCATED embeddings (first 8/16/32
    * of 64 dims, renormalized) against the full-dim exact top-10 on the
    * same query set. This is the measurement a pipeline runs before
    * committing to a truncated index tier — how much retrieval quality
    * do the first m dimensions carry, and where is the knee?
    *
    * Scale shape: truncation is a row-local slice() feeding the SAME
    * broadcast-query corpus-scan bounded-top-k ranking as
    * [[bruteForceTopK]] (k rows per partition cross the exchange); each
    * tier's comparison is one semi-join + count against the persisted
    * full-dim baseline. hits/possible are exact integers; recall is
    * their single division — bitwise-stable for the oracle. Caller
    * releases the persisted baseline via clearCache(). */
  def matryoshkaRecall(spark: SparkSession, sfDir: String,
                       tiers: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    import spark.implicits._
    val full = bruteForceTopK(spark, sfDir).select("q_id", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bTot = full.agg(count(lit(1)).as("possible"))
    // ALL tiers in ONE plan (r15, guide §2.4 share exchanges / §2.2
    // fewer stage rounds): the per-tier loop ran the slice + broadcast
    // + TopK + semi-join + 1-row-agg pipeline once per tier — 63
    // Exchange nodes, each an AQE stage barrier, for three 1-row
    // answers. One corpus scan now carries every tier through a
    // (tier, sliced-emb) explode; ranking partitions by (d, q_id); the
    // hit counts group by tier. Per-tier rows, scores, and tiebreaks
    // are IDENTICAL (same TopKPairs ordering per (d, q_id) group), so
    // |tier_topk ∩ full| is unchanged and the oracle matches verbatim.
    val t = vecs(spark, sfDir).select(col("vec_id"),
        explode(array(tiers.map(d => struct(lit(d).cast("long").as("d"),
          slice(col("emb"), 1, d).as("emb"))): _*)).as("te"))
      .select(col("vec_id"), col("te.d").as("d"), col("te.emb").as("emb"))
      .withColumn("nrm", sqrt(dotd(col("emb"), col("emb"))))
    val q = t.filter(col("vec_id") < 5)
      .select(col("d").as("qd"), col("vec_id").as("q_id"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val top = graft.functions.TopKAggregator.topKPairs(10)
    val ranked = t.join(broadcast(q),
        col("d") === col("qd") && col("vec_id") =!= col("q_id"))
      .select(col("d"), col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm"))
          .as("score"))
      .groupBy("d", "q_id")
      .agg(top(col("vec_id"), col("score")).as("top"))
      .select(col("d"), col("q_id"), explode(col("top.id")).as("vec_id"))
    // per-tier intersection with the full-dim baseline; a left join from
    // the tier list keeps a 0-hit tier in the report (the per-tier loop
    // emitted hits=0 rows too)
    val hits = ranked.join(broadcast(full), Seq("q_id", "vec_id"), "left_semi")
      .groupBy("d").agg(count(lit(1)).as("h"))
    tiers.map(_.toLong).toDF("d")
      .join(broadcast(hits), Seq("d"), "left")
      .crossJoin(bTot) // ≤|tiers|-row × 1-row
      .select(col("d").as("dims_kept"),
        coalesce(col("h"), lit(0L)).as("hits"), col("possible"),
        (coalesce(col("h"), lit(0L)).cast("double") / col("possible"))
          .as("recall"))
      .orderBy("dims_kept")
  }

  /** ANN ranking-quality measurement in EXACT integer arithmetic — MRR
    * (mean reciprocal rank) is the standard "did the index put the true
    * neighbor near the top" companion to recall@k ([[annRecall]]).
    * Reciprocal ranks are fractions and a double Σ 1/rank depends on
    * partition fold order, so each query's contribution is scaled by
    * 2520 = lcm(1..10): `2520 DIV ann_rank` is an exact integer for
    * every rank in the k=10 window, sums are order-independent, and
    * MRR = Σcontrib / (2520·|Q|) is one exact division left to the
    * consumer. Per-query rows keep the measurement debuggable (WHICH
    * anchor the index failed is the actionable part). */
  def annMrr(spark: SparkSession, sfDir: String): DataFrame = {
    val trueNn = bruteForceTopK(spark, sfDir).filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id").as("true_nn"))
    val ann = lshAnnTopK(spark, sfDir)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"), col("rn"))
    trueNn.join(broadcast(ann),
        col("q_id") === col("a_qid") && col("true_nn") === col("a_vid"), "left")
      .select(col("q_id"), col("true_nn"),
        coalesce(col("rn"), lit(-1L)).as("ann_rank"),
        coalesce(expr("2520 DIV rn"), lit(0L)).as("contrib_scaled"))
      .orderBy("q_id")
  }

  /** Sign bits i..i+31 of `emb` packed into one non-negative BIGINT
    * (bit b set iff emb[lo+b] > 0). Two 32-bit halves instead of one
    * 64-bit word so no engine ever touches the sign bit — DuckDB's
    * checked arithmetic and Spark's long agree exactly on every value.
    * Weights via floor(pow(2,b)) — exact for b ≤ 52 (same idiom as the
    * LSH bucket packer above). */
  private def signCodeHalf(emb: Column, lo: Int): Column =
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, b) =>
      acc + when(element_at(emb, b + lit(lo + 1)) > 0,
        floor(pow(lit(2.0), b)).cast("long")).otherwise(lit(0L)))

  /** Binary (1-bit) sign quantization + Hamming search with exact
    * rerank — the cheapest quantized-retrieval tier (64 dims → 8
    * BYTES per vector: a 100 TB float corpus's codes fit in ~0.2% of
    * its footprint, often entirely in memory). Stage 1 scans only the
    * (vec_id, code_lo, code_hi) projection and ranks by Hamming
    * distance `bit_count(xor)` — two codegen'd integer ops per
    * candidate; the bounded TopK aggregator keeps 16 candidates per
    * query per partition across the exchange. Stage 2 gathers JUST the
    * ≤16·|queries| candidate vectors (broadcast semi-side, corpus
    * probed once more by vec_id — at scale a point-lookup join against
    * the bucketed vector table) and reranks by exact float cosine.
    * Hamming ties break on vec_id; rerank ties on vec_id — both pinned
    * so the oracle matches bit-for-bit. */
  def binaryHammingTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = e.select(col("vec_id"),
      signCodeHalf(col("emb"), 0).as("code_lo"),
      signCodeHalf(col("emb"), 32).as("code_hi"))
    val qCodes = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
    val top16 = graft.functions.TopKAggregator.topKPairs(16)
    // Hamming scan: negated distance through the (score desc, id asc)
    // aggregator == (hamming asc, vec_id asc); the distance rides the
    // score slot, so it survives the aggregation for free
    val cand = codes.join(broadcast(qCodes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("code_lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("code_hi").bitwiseXOR(col("q_hi")))).cast("long")
          .as("hamming"))
      .groupBy("q_id")
      .agg(top16(col("vec_id"), (-col("hamming")).cast("double")).as("top"))
      .select(col("q_id"), explode(col("top")).as("c"))
      .select(col("q_id"), col("c.id").as("vec_id"),
        (-col("c.score")).cast("long").as("hamming"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    // rerank: the window's input is the candidate table — bounded at
    // 16·|queries| rows by the aggregator above, so the per-query
    // partition is ≤16 rows at ANY corpus scale (never a data window)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("hamming"),
        cosinePre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select("q_id", "vec_id", "hamming", "score", "rn")
      .orderBy("q_id", "rn")
  }

  /** FULL Lloyd iteration with CONVERGENCE termination — the training
    * loop whose single step [[kmeansStep]] benchmarks: assign → update
    * means → re-assign, stopping when a round moves ZERO vectors (the
    * discrete-assignment fixpoint; once assignments stop changing the
    * means, and therefore every later round, are identical).
    * Termination uses the same one-action-per-round shape as the
    * PageRank/BFS/CC loops: the assignment-change count rides the
    * round's own checkpoint job as an Observation metric, so no extra
    * count() action is ever scheduled. `maxIters` stays the hard cap
    * (k-means can 2-cycle in degenerate ties). Per round: the codebook
    * update is one posexplode agg (k·dims partial rows cross the
    * exchange — the kmeansStep budget) + a bounded collect_list
    * rebuild; the re-assignment is the MAP-ONLY broadcast-codebook
    * argmax (zero exchanges for the corpus); localCheckpoint caps
    * lineage exactly as in the other iterative operators.
    * Spec-gated (no oracle: a data-dependent round count cannot be a
    * fixed SQL unroll — same adjudication as the streaming surface). */
  def kmeansConverged(spark: SparkSession, sfDir: String,
                      k: Int = 8, maxIters: Int = 10): (DataFrame, Int) = {
    val e = vecs(spark, sfDir)
      .select("vec_id", "emb", "nrm")
      .repartition(col("vec_id")).localCheckpoint()
    var assign = withNearestCentroid(e, ivfCentroids(e, k))
      .select("vec_id", "cent_id").localCheckpoint()
    var rounds = 0
    var converged = false
    while (rounds < maxIters && !converged) {
      rounds += 1
      // member means per (centroid, dim), rebuilt into ordered arrays;
      // the agg output is <= k*dims rows, the rebuild <= k rows
      val means = e.join(assign, "vec_id")
        .select(col("cent_id"), posexplode(col("emb")))
        .toDF("cent_id", "dim", "x")
        .groupBy("cent_id", "dim").agg(avg(col("x")).as("m"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cent_id"),
          transform(col("dm"), p => p.getField("m")).as("cemb"))
        .withColumn("cnrm", sqrt(dotd(col("cemb"), col("cemb"))))
      val obs = org.apache.spark.sql.Observation(s"kmeans_round_$rounds")
      val next = withNearestCentroid(e, means)
        .select(col("vec_id"), col("cent_id").as("c_new"))
        .join(assign.select(col("vec_id"), col("cent_id").as("c_old")), "vec_id")
        .observe(obs, sum(when(col("c_new") =!= col("c_old"), 1L)
          .otherwise(0L)).as("changes"))
        .select(col("vec_id"), col("c_new").as("cent_id"))
        .localCheckpoint()
      converged = obs.get("changes").asInstanceOf[Long] == 0L
      assign = next
    }
    (assign.orderBy("vec_id"), rounds)
  }

  /** HYBRID retrieval with Reciprocal Rank Fusion (Cormack/Clarke/
    * Büttcher 2009, public) — the production RAG serving pattern the
    * reference's keyword search (api.py:26) grows into: a LEXICAL
    * ranking (the exact BM25 of `art_search_bm25`, same keywords, same
    * score tree) and a SEMANTIC ranking (exact cosine of document 0's
    * embedding against every vector that embeds a document) each
    * produce a top-10, and the lists fuse by RRF:
    * score(d) = Σ_arms 1000000 DIV (60 + rank_arm(d)), absent arm
    * contributes 0. Integer contributions make the fusion
    * hash-gateable (float 1/(k+r) sums are fold-order-dependent);
    * 1000000 DIV (60+r) is strictly decreasing over r ∈ [1, 10], so
    * the integer scaling preserves exactly the float RRF order.
    *
    * Scale shape: each arm already ends in a BOUNDED top-k (the BM25
    * arm folds through the TopK aggregator — k rows per partition
    * cross its exchange; the cosine arm is the broadcast-query corpus
    * scan of [[bruteForceTopK]]), so the fusion input is ≤ 2k rows at
    * ANY corpus scale. The full-outer fuse join and the final rank
    * window run on that ≤ 2k-row table — never on data rows. At 100 TB
    * the arms are served from their indexes (postings / IVF) with this
    * same fusion tail. */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val topA = graft.functions.TopKAggregator.topKPairs(10)
    // lexical arm: the art_search_bm25 scores (integer, exact), folded
    // to a global top-10 through the bounded aggregator — ordering
    // (score desc, doc_id asc) is the aggregator's contract
    val lex = ArticleOps.searchBm25(spark, sfDir)
      .agg(topA(col("doc_id"), col("score").cast("double")).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    // semantic arm: query = vector 0, corpus = vectors that embed an
    // actual document (vec_id joins the documents id space)
    val e = vecs(spark, sfDir)
    val corp = e.join(
      Tables.documents(spark, sfDir).select(col("doc_id")),
      col("vec_id") === col("doc_id"), "left_semi")
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sem = cosineTopK(corp, q, col("vec_id") =!= col("q_id"))
      .select(col("vec_id").as("doc_id"), col("rn").as("sem_rank"))
    // fuse: contributions computed from the NULLABLE ranks (missing arm
    // -> NULL DIV -> 0), ranks surfaced as -1 for the absent arm
    val wF = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000 DIV (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + sem_rank)"), lit(0L)))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"),
        col("rrf_score"))
      .withColumn("rn", row_number().over(wF).cast("long"))
      .orderBy("rn")
  }

  /** Per-cluster silhouette (Rousseeuw 1987, public) over the IVF
    * assignment — the clustering-quality readout that tells a corpus
    * curator whether the [[ivfAnn]]/[[kmeansStep]] partition is real
    * structure or noise before anything expensive (semantic dedup,
    * stratified sampling) trusts it. Simplified (centroid-based)
    * silhouette per vector: a = squared distance to the OWN cluster
    * center, b = min squared distance to any OTHER center, s =
    * (b−a)/max(a,b) ∈ [−1, 1], reported per cluster in MILLI units
    * with the mean over members.
    *
    * Exactness: distances are computed on the int8-QUANTIZED codes
    * ([[quantizeInt8]]'s exact floor map) against MILLI-scaled integer
    * centroids (qsum·1000 DIV cnt — exact BIGINT), so every distance
    * is an exact integer and s_milli is one integral division. s can
    * be NEGATIVE (a misassigned vector), and both engines truncate
    * integral division toward zero (Spark `DIV`, DuckDB `//` —
    * verified, e.g. −7/2 → −3 in both), so the signed milli values
    * hash-gate bitwise — the first place the repo's integer discipline
    * needed the negative-operand case.
    *
    * Scale shape: assignment and scoring are both MAP-ONLY broadcast-
    * codebook passes ([[withNearestCentroid]]'s contract); the only
    * exchanges are the k·dims centroid partial sums and the final
    * k-row cluster rollup. The corpus is scanned twice (assign+quantize,
    * then score) and shuffled never. */
  def silhouette(spark: SparkSession, sfDir: String, k: Int = 16): DataFrame = {
    val e = vecs(spark, sfDir)
    val cents = ivfCentroids(e, k)
    val assigned = withNearestCentroid(e, cents)
      .withColumn("scale", array_max(transform(col("emb"), x => abs(x))))
      .filter(col("scale") > 0)
      .select(col("vec_id"), col("cent_id"),
        transform(col("emb"),
          x => floor(x * lit(127.0) / col("scale") + lit(0.5))).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // milli-scaled integer centroid codes: k·dims partials cross the
    // one exchange, then fold to ONE broadcastable array-of-structs row
    val cm = assigned
      .select(col("cent_id"), posexplode(col("q")).as(Seq("dim", "qc")))
      .groupBy("cent_id", "dim")
      .agg(expr("SUM(qc) * 1000 DIV COUNT(1)").as("cmilli"))
      .groupBy("cent_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("cmilli"))))
        .as("dims"))
      .select(col("cent_id").as("c_id"),
        transform(col("dims"), d => d.getField("cmilli")).as("cm"))
      .agg(collect_list(struct(col("c_id"), col("cm"))).as("carr"))
    val scored = assigned.crossJoin(broadcast(cm))
      .withColumn("d2arr", transform(col("carr"), c => struct(
        c.getField("c_id").as("cid"),
        aggregate(zip_with(col("q"), c.getField("cm"),
            (x, y) => (x * lit(1000L) - y) * (x * lit(1000L) - y)),
          lit(0L), (acc, v) => acc + v).as("d2"))))
      .select(col("vec_id"), col("cent_id"),
        element_at(filter(col("d2arr"),
          c => c.getField("cid") === col("cent_id")), 1)
          .getField("d2").as("a"),
        array_min(transform(filter(col("d2arr"),
          c => c.getField("cid") =!= col("cent_id")),
          c => c.getField("d2"))).as("b"))
      .withColumn("s_milli",
        expr("(b - a) * 1000 DIV greatest(a, b, CAST(1 AS BIGINT))"))
    scored.groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("b") > col("a"), 1L).otherwise(0L)).as("n_well"),
        expr("SUM(s_milli) DIV COUNT(1)").as("mean_sil_milli"))
      .orderBy("cent_id")
  }

  /** Cluster purity against the LABEL column — the supervised twin of
    * [[silhouette]]'s geometric readout: per IVF cluster, the majority
    * label's share in floored basis points plus the label spread. The
    * "do my clusters mean anything" check when ground truth exists
    * (labels here; at production scale, a labeled eval slice), and the
    * standard external cluster-quality metric next to the internal one.
    * Ties on the majority count break to the SMALLEST label — the LPA
    * min-label convention, engine-portable by construction.
    *
    * Scale shape: map-only broadcast-codebook assignment, then the only
    * exchange carries (cent_id, label) pairs — k·|labels| rows. The
    * argmax is `max(struct(c, -label))`, no window. */
  def clusterPurity(spark: SparkSession, sfDir: String, k: Int = 16): DataFrame = {
    val e = vecs(spark, sfDir)
    val lc = withNearestCentroid(e, ivfCentroids(e, k))
      .groupBy("cent_id", "label").agg(count(lit(1)).as("c"))
    lc.groupBy("cent_id")
      .agg(sum(col("c")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        max(struct(col("c").as("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("cent_id"), col("n_vecs"), col("n_labels"),
        col("m.c").as("top_n"), (-col("m.nl")).as("top_label"),
        expr("m.c * 10000 DIV n_vecs").as("purity_bp"))
      .orderBy("cent_id")
  }

  /** NDCG@10 of the LSH index against the exact top-10 (Järvelin &
    * Kekäläinen 2002, public) — the position-weighted companion to
    * recall@k ([[annRecall]] — did we find them) and MRR ([[annMrr]] —
    * where is the best one): NDCG credits EVERY relevant item the
    * index surfaces, discounted by how far down it ranks. Relevance is
    * binary membership in the exact top-10; discounts 1/log2(rank+1)
    * are PRECOMPUTED integer constants (⌊1e6/log2(i+1)⌋, i = 1..10 —
    * the Benford-expectation idiom: no runtime float log on either
    * engine), so DCG sums are order-independent BIGINTs and
    * NDCG = DCG·10000 div IDCG is one exact division. IDCG is the
    * cumulative weight of a perfect head — all |gold| items ranked
    * first. Per-query rows keep the readout debuggable; the mean is
    * one trivial fold away.
    *
    * Scale shape: both arms end in bounded top-10 tables (|queries|·10
    * rows); the hit join, weight lookup (broadcast literal map) and
    * per-query sum never see the corpus. */
  def annNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    // ⌊1e6 / log2(i+1)⌋ and its running sum, i = 1..10
    val w = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
    val wMap = typedLit((1 to 10).map(i => i -> w(i - 1)).toMap)
    val cumMap = typedLit((1 to 10).map(i => i -> w.take(i).sum).toMap)
    val gold = bruteForceTopK(spark, sfDir).select("q_id", "vec_id")
    val goldN = gold.groupBy("q_id").agg(count(lit(1)).as("n_gold"))
    val dcg = lshAnnTopK(spark, sfDir)
      .join(broadcast(gold), Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id")
      .agg(sum(element_at(wMap, col("rn").cast("int"))).as("dcg_scaled"),
        count(lit(1)).as("n_hits"))
    goldN.join(broadcast(dcg), Seq("q_id"), "left")
      .select(col("q_id"), col("n_gold"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        element_at(cumMap, least(col("n_gold"), lit(10L)).cast("int"))
          .as("idcg_scaled"))
      .withColumn("ndcg_bp", expr("dcg_scaled * 10000 DIV idcg_scaled"))
      .orderBy("q_id")
  }
}
