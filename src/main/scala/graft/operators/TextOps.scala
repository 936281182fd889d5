package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, and rolling-hash fingerprinting (north-star EXT per
  * SURVEY.md §0; the reference's cleanse stage newsspider.py:48-49 is
  * the seed of this family).
  *
  * Everything is built from higher-order array expressions
  * (`transform`/`aggregate`/`filter`) — native Catalyst expressions, no
  * UDFs, so the plan stays narrow (scan → project, zero shuffles) and
  * distributes embarrassingly at 100 TB.
  *
  * Portability contract with the DuckDB oracle: hashes are polynomial
  * rolling hashes (h = (h*31 + codepoint) mod 1e15) — expressible with
  * identical integer arithmetic in both engines, unlike engine-native
  * hash()/xxhash64 which differ by implementation.
  */
object TextOps {

  /** Modulus keeps h*31+c well inside Long (1e15*31+1114111 < 2^63). */
  val HashMod = 1000000000000000L

  /** Polynomial rolling hash of a string column (codepoint-wise). */
  def polyHash(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c)),
      lit(0L),
      (h, c) => (h * 31 + c) % HashMod)

  /** Lower-cased whitespace tokens, empties dropped (both engines drop
    * them the same way: filter on length>0). */
  def words(s: Column): Column =
    filter(split(lower(s), " "), w => length(w) > 0)

  /** Word n-gram shingles (space-rejoined). Empty array when the doc has
    * fewer than n words. */
  def wordShingles(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(ws, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** BPE-ish tokenizer regex: letter runs, digit runs, single symbols.
    * Kept to a Java/RE2-common subset (SURVEY.md §7.4 hard part (d)). */
  val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Harman S-stemmer — the light plural stemmer, chosen over Snowball
    * because its three suffix rules are expressible identically in both
    * engines (endsWith + substring, no regex lookbehind, which RE2
    * lacks). Rules, first match wins:
    *   ies → y   (unless eies/aies)
    *   es  → e   (unless aes/ees/oes)
    *   s   → ''  (unless us/ss)
    * This narrows the documented Mongo `$text` stemming divergence
    * (SURVEY §7.5): plural forms now match their singulars; full
    * Snowball derivational stemming remains out of scope. */
  def stemToken(t: Column): Column =
    // words of <= 2 chars pass through (Harman applies endings only to
    // long-enough words; also keeps every stem non-empty, so the
    // stemmed postings index — which stores non-empty terms — answers
    // exactly the same queries as the scan form for ANY keyword)
    when(length(t) <= 2, t)
    // dispatch on suffix CLASS first: an exception word ('goes', 'sees')
    // stops at its class unchanged, it does not fall through to the
    // bare-s rule (Harman's if/elif structure)
    .when(t.endsWith("ies"),
      when(!t.endsWith("eies") && !t.endsWith("aies"),
        concat(t.substr(lit(1), length(t) - 3), lit("y"))).otherwise(t))
    .when(t.endsWith("es"),
      when(!t.endsWith("aes") && !t.endsWith("ees") && !t.endsWith("oes"),
        t.substr(lit(1), length(t) - 1)).otherwise(t))
    .when(t.endsWith("s"),
      when(!t.endsWith("us") && !t.endsWith("ss"),
        t.substr(lit(1), length(t) - 1)).otherwise(t))
    .otherwise(t)

  /** Porter-stemmed token — the DOCUMENTED derivational option
    * (graft.functions.PorterStemmer; native codegen'd expression). Not
    * oracle-checkable (DuckDB SQL can't replicate the full algorithm),
    * so searches built on it are spec-covered, not hash-gated; the
    * oracle search family stays on [[stemToken]]. */
  def stemTokenPorter(t: Column): Column =
    org.apache.spark.sql.functions.call_function("porter_stem", t)

  /** Snowball-English ("Porter2") stemmed token — the EXACT stemmer
    * family Mongo's `$text` applies to English (api.py:26), closing the
    * last documented stemming divergence (VERDICT r7 missing #3).
    * Native codegen'd expression (graft.functions.SnowballStemmer).
    * Not oracle-checkable offline (DuckDB's stem() lives in the absent
    * fts extension), so searches built on it are spec-covered against
    * hand-derived vocabulary vectors, not hash-gated. */
  def stemTokenSnowball(t: Column): Column =
    org.apache.spark.sql.functions.call_function("snowball_stem", t)

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** Token statistics per document: whitespace tokens, BPE-ish regex
    * tokens, and mean token length. The schema a tokenizer-budget pass
    * over a 100 TB corpus needs before training-data selection. */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        size(ws).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(BpeTokenRe), lit(0)))
          .cast("long").as("bpe_tokens"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(ws)).as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** Composite quality score over `text` — ONE definition shared by
    * [[qualityScore]] and [[curriculumMixture]], so the curriculum
    * buckets by exactly the published score. Degenerate docs (no tokens
    * or empty text) take 0.0 EXPLICITLY: Spark's 0.0/0 is NaN while
    * DuckDB's is NULL, and the two engines rank those differently —
    * without the guard a single empty doc would shift every global
    * quality rank and break the curriculum oracle. */
  private[graft] def compositeQuality: Column = {
    val ws = words(col("text"))
    val nTok = size(ws)
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    val nStop = size(filter(ws, w => array_contains(stop, w)))
    val nPunct = length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val ttr = size(array_distinct(ws)).cast("double") / nTok
    val stopRatio = nStop.cast("double") / nTok
    val punctRatio = nPunct.cast("double") / length(col("text"))
    when(nTok === 0 || length(col("text")) === 0, lit(0.0))
      .otherwise(ttr * 0.5 + stopRatio * 0.3 + (lit(1.0) - punctRatio) * 0.2)
  }

  /** Quality-score columns (the heuristics LLM-corpus filters apply:
    * length, lexical diversity, stopword share, punctuation share), plus
    * the combined [[compositeQuality]] score. All ratios are double
    * divisions of exact ints — bitwise-reproducible on both engines. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    val nTok = size(ws)
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    val nStop = size(filter(ws, w => array_contains(stop, w)))
    val nPunct = length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val ttr = size(array_distinct(ws)).cast("double") / nTok
    val stopRatio = nStop.cast("double") / nTok
    val punctRatio = nPunct.cast("double") / length(col("text"))
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        ttr.as("type_token_ratio"),
        stopRatio.as("stopword_ratio"),
        punctRatio.as("punct_ratio"),
        compositeQuality.as("quality_score"))
      .orderBy("doc_id")
  }

  /** Gopher-style rule gate (MassiveText filtering, Rae et al. 2021,
    * public — the published multi-rule document gate every modern
    * pretraining pipeline starts from, distinct from the scalar
    * [[qualityScore]]: each document either clears EVERY rule or is
    * dropped, and the report says WHICH rule kills how many documents
    * per source — the first dashboard a corpus triage meeting looks
    * at). Rules, all in exact integer/milli arithmetic so the oracle
    * hash-gates: (1) word count within [30, 1000]; (2) mean word length
    * within [3.0, 10.0] (milli-scaled); (3) ≥ 2 distinct stopwords;
    * (4) type-token ratio ≥ 0.20 (milli); (5) most frequent word ≤ 20%
    * of tokens (milli). The dominance rule computes the per-doc mode
    * ROW-LOCALLY (fold over the distinct-word list) instead of an
    * explode + per-(doc, word) shuffle — O(words·distinct) inside one
    * codegen stage, zero exchanges added.
    *
    * Scale shape: one corpus scan, all five rules row-local, rollup
    * map-side-combined onto the source lattice — the cheapest possible
    * shape for a 100 TB gate (same as [[qualityScore]]). */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    // per-doc integer measures, all row-local in one codegen stage;
    // mf = per-doc mode count via a fold over the distinct-word list
    // zero-word docs are KEPT: they are exactly what rule 1 exists to
    // kill, and dropping them pre-rollup would report a boilerplate
    // source as near-100% pass. Their undefined ratios (DIV 0 → NULL
    // in both engines) fall to the fail branch of every CASE.
    val measured = docs(spark, sfDir)
      .select(col("source"), ws.as("ws"))
      .select(col("source"),
        size(col("ws")).cast("long").as("n"),
        size(array_distinct(col("ws"))).cast("long").as("nd"),
        size(filter(array_distinct(col("ws")),
          w => array_contains(stop, w))).cast("long").as("nstop"),
        aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)).as("wc"),
        array_max(transform(array_distinct(col("ws")),
          w => size(filter(col("ws"), x => x === w)))).cast("long").as("mf"))
    // milli-scaled ratios via truncating INTEGER division (Column./ is
    // DOUBLE division, which would not hash-gate against DuckDB //).
    // Ratio rules guard n > 0 with a CaseWhen (conditional EVALUATION:
    // ANSI mode throws on DIV 0, while DuckDB // 0 is NULL — the guard
    // makes the NULL explicit on the Spark side, and NULL comparisons
    // fall to every rule's fail branch)
    val r1 = col("n") >= 30L && col("n") <= 1000L
    val r2 = when(col("n") > 0L, expr("wc * 1000 DIV n"))
      .between(3000L, 10000L)
    val r3 = col("nstop") >= 2L
    val r4 = when(col("n") > 0L, expr("nd * 1000 DIV n")) >= 200L
    val r5 = when(col("n") > 0L, expr("mf * 1000 DIV n")) <= 200L
    def failCnt(ok: Column, name: String) =
      sum(when(ok, 0L).otherwise(1L)).as(name)
    measured
      .select(col("source"), r1.as("r1"), r2.as("r2"), r3.as("r3"),
        r4.as("r4"), r5.as("r5"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4") && col("r5"),
          1L).otherwise(0L)).as("n_pass"),
        failCnt(col("r1"), "fail_wordcount"),
        failCnt(col("r2"), "fail_meanlen"),
        failCnt(col("r3"), "fail_stopwords"),
        failCnt(col("r4"), "fail_ttr"),
        failCnt(col("r5"), "fail_dominance"))
      .orderBy("source")
  }

  /** INTEGER-EXACT READABILITY (Flesch 1948 reading ease, public):
    * words per sentence and vowel-group "syllables" per word folded
    * into the classic linear score, scaled to MILLI units with
    * truncating division so both engines hash-gate bit-identically
    * (the float spelling is fold-order-dependent). Syllables are
    * approximated as maximal vowel runs per token (the standard cheap
    * heuristic; a CMU-dict syllabifier swaps in row-locally without
    * touching the plan). Readability joins length/stopword/TTR in the
    * quality-gate family — the curation signal that separates
    * natural prose from boilerplate and run-on template text.
    *
    * flesch_milli = 206835 − (1015·words) DIV sent
    *                       − (84600·syll) DIV words — all positive
    * integer operands, identical truncation both engines; empty docs
    * pin to 0 explicitly (Spark NULL-on-DIV-0 vs DuckDB error).
    *
    * Scale shape: one row-local scan — the tokenize, the vowel-run
    * splits, and the folds all run inside whole-stage codegen; zero
    * shuffle at any corpus size. */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    val nWords = size(ws).cast("long")
    val nSent = greatest(lit(1L),
      size(filter(split(col("text"), "[.!?]+"), s => length(trim(s)) > 0))
        .cast("long"))
    val nSyll = expr(
      """aggregate(
        |  transform(filter(split(lower(text), ' '), t -> length(t) > 0),
        |    w -> CAST(size(filter(split(w, '[^aeiou]+'), g -> length(g) > 0)) AS BIGINT)),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    docs(spark, sfDir)
      .select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sent"),
        nSyll.as("n_syll"))
      .withColumn("flesch_milli", expr(
        """CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
          | ELSE 206835 - (1015 * n_words) DIV n_sent
          |             - (84600 * n_syll) DIV n_words END""".stripMargin))
      .withColumn("band",
        when(col("n_words") === 0, "empty")
          .when(col("flesch_milli") >= 70000, "easy")
          .when(col("flesch_milli") >= 50000, "standard")
          .when(col("flesch_milli") >= 30000, "difficult")
          .otherwise("very_difficult"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: per-language stopword hit counts plus a CJK
    * codepoint count, argmax with a fixed tie-break order. (The synthetic
    * corpus shares one vocabulary across lang labels, so this scores the
    * operator's determinism, not label recovery.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    def hits(stopwords: Seq[String]): Column =
      size(filter(ws, w =>
        array_contains(array(stopwords.map(lit): _*), w))).cast("long")
    val en = hits(Seq("the", "a", "of", "and", "to"))
    val de = hits(Seq("der", "die", "das", "und", "ein"))
    val fr = hits(Seq("le", "les", "et", "une", "dans"))
    val es = hits(Seq("el", "los", "y", "que", "por"))
    val zh = size(filter(ws, w => ascii(w) >= 11904)).cast("long")
    docs(spark, sfDir)
      .select(col("doc_id"), en.as("en_hits"), de.as("de_hits"),
        fr.as("fr_hits"), es.as("es_hits"), zh.as("zh_hits"))
      .withColumn("predicted",
        when(col("en_hits") >= greatest(col("de_hits"), col("fr_hits"),
          col("es_hits"), col("zh_hits")), "en")
          .when(col("de_hits") >= greatest(col("fr_hits"), col("es_hits"),
            col("zh_hits")), "de")
          .when(col("fr_hits") >= greatest(col("es_hits"), col("zh_hits")), "fr")
          .when(col("es_hits") >= col("zh_hits"), "es")
          .otherwise("zh"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus curation — the composed pipeline an LLM data
    * team runs, as one dataflow: exact-dedup keep-one (content-hash
    * groupBy over the dup-seeded corpus) → quality gate (lexical
    * diversity + stopword share) → token budget. Demonstrates that the
    * operator families compose into the full workload; every stage is
    * a shape already verified on its own. */
  def curateCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = DedupOps.corpus(spark, sfDir)
    val keepers = corpus
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val ws = words(col("text"))
    val nTok = size(ws)
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    val quality =
      (size(array_distinct(ws)).cast("double") / nTok) * 0.5 +
      (size(filter(ws, w => array_contains(stop, w))).cast("double") / nTok) * 0.3 +
      0.2
    corpus.join(keepers, Seq("doc_id"), "left_semi")
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("quality_score", quality)
      .filter(col("quality_score") >= 0.45 &&
        col("n_tokens").between(20, 400))
      .select("doc_id", "n_tokens", "quality_score")
      .orderBy("doc_id")
  }

  /** TF-IDF-style salient terms: term frequency per doc × rational
    * inverse document frequency (N/df — no log, so the score is exact
    * integer arithmetic finished by one double division and stays
    * bitwise-reproducible; libm log is not guaranteed identical across
    * engines). Top-3 terms per doc. Plan shape: one shuffle for tf on
    * (doc, term), the small df and N sides broadcast back, window
    * rank inside doc partitions — the standard corpus-statistics
    * pipeline at any scale. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = docs(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df as a COUNT OVER (PARTITION BY term) window instead of a
    // groupBy+join back (r15, guide §2.4): the join spelling persisted
    // tf (an extra materialization pass), aggregated the df side, and
    // re-attached it — the window computes the identical df (one tf row
    // per containing doc) in the term exchange itself: a linear
    // dataflow, no persist, one less stage round. df values and scores
    // are bit-identical; oracle unchanged.
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val n = docs(spark, sfDir).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("doc_id", "rn")
  }

  /** Deterministic mixture sampling — the pretraining data-mixture op:
    * each source gets a target rate (src0-src4 upweighted to 30%, the
    * rest 10%), membership decided by the portable content hash, so the
    * sample is reproducible on any engine and any cluster size (no RNG,
    * no per-partition seed drift) and stable under reruns — exactly the
    * property a 100 TB mixture job needs for resumability. */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 30)
      .otherwise(10)
    docs(spark, sfDir)
      .filter(pmod(expr("poly_hash(text)"), lit(100)) < rate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("source")
  }

  /** Epoch-repeat expansion: materialize the per-source repeat factors
    * of a training-data recipe (LLaMA-style mixes run high-quality
    * sources for >1 epoch — e.g. 1.6 epochs = every doc twice with
    * probability 0.6, once otherwise). Integer part = unconditional
    * copies; fractional part = one extra copy for docs whose content
    * hash falls under the fraction (deterministic, resumable, engine-
    * independent — same discipline as [[mixtureSample]]). Emitted as
    * (doc_id, copy_nb) via a row-local `explode(sequence(...))` — ONE
    * scan, zero shuffle, where the naive spelling unions the corpus
    * per epoch and re-scans 100 TB per copy. copy_nb gives downstream
    * shuffling/sharding distinct rows to key on. */
  def epochRepeat(spark: SparkSession, sfDir: String): DataFrame = {
    // repeats in tenths: src0-src2 = 2.5 epochs, src3/src4 = 1.6, rest 1.0
    val tenths = when(col("source").isin("src0", "src1", "src2"), 25)
      .when(col("source").isin("src3", "src4"), 16)
      .otherwise(10)
    docs(spark, sfDir)
      .withColumn("tenths", tenths)
      .withColumn("n_copies", expr(
        "CAST(tenths DIV 10 + IF(pmod(poly_hash(text), 10) < tenths % 10, 1, 0) AS BIGINT)"))
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1L, n_copies)")).as("copy_nb"))
      .orderBy("doc_id", "copy_nb")
  }

  /** Unigram rarity score — the corpus-statistics quality signal of the
    * CCNet/Gopher LM-filter family, in EXACT integer arithmetic: a
    * document full of rare terms scores high, boilerplate scores low.
    * Each token contributes `N DIV cnt(term)` (N = total corpus tokens)
    * — an integer inverse-frequency surprisal proxy, so distributed
    * sums are order-independent and the oracle hash-matches bitwise
    * where a float Σ -log p(w) would drift with both fold order and
    * libm (log is not correctly rounded in either engine).
    *
    * Scale shape: tokenize is row-local; term counts are one map-side-
    * combined aggregate over a vocabulary-sized table (broadcast at
    * bench scale, shuffle equi-join beyond — the dedup-ladder shape);
    * the per-doc fold is a second combined aggregate. Nothing touches
    * N·vocab. */
  def rarityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = docs(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    // persisted: the vocabulary-sized count table feeds both the total
    // and the term join — without it the tokenize explode AND the count
    // shuffle re-execute per consumer. NO broadcast hint: a hint pins
    // the join side unconditionally, while letting AQE decide keeps the
    // documented scale contract (broadcast while the vocabulary fits,
    // shuffle equi-join beyond)
    val cnts = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cnts.agg(sum(col("cnt")).as("n_total"))
    tok.join(cnts, "term")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("n_total DIV cnt")).as("rarity_sum"))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        expr("rarity_sum DIV n_tokens").as("rarity_per_token"))
      .orderBy("doc_id")
  }

  /** Curriculum mixture table — the quality-ordered scheduling pass of
    * curriculum training: decile-bucket the corpus by [[qualityScore]]'s
    * composite score and emit the (decile, source) contingency table a
    * scheduler samples from (low deciles early, high deciles late).
    *
    * The global quality rank is computed WITHOUT a global window (a
    * single-task sort at 100 TB): scores are range-bucketed by the
    * DETERMINISTIC key floor(qs·64) — monotone in the score, so bucket
    * order is rank order — numbered per bucket in parallel, and each
    * bucket adds the running count of the buckets before it (the
    * two-level numbering of [[graft.operators.ArticleOps.batchReport]];
    * the only serial step is the O(#buckets) offset scan, and the offset
    * table broadcasts). Deciles follow from the exact rank, so the
    * result is identical to `ntile`-style ranking while every data-size
    * stage stays partition-parallel. */
  def curriculumMixture(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted: both the bucket-offset aggregate and the rank join read
    // it, and the quality expression (tokenize + two regex passes per
    // doc) is the dominant cost — recomputing it per consumer would
    // double the query (caller releases via clearCache, the suite-wide
    // contract)
    val scored = docs(spark, sfDir)
      .select(col("doc_id"), col("source"), compositeQuality.as("qs"))
      .withColumn("vb", least(floor(col("qs") * 64).cast("long"), lit(63L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = scored.agg(count(lit(1)).as("n_total"))
    graft.operators.TwoLevelRank.withRank(scored, Seq.empty, asc = true,
        col("qs"), col("doc_id"))
      .crossJoin(broadcast(total))
      .withColumn("decile", expr("((rnk - 1) * 10) DIV n_total"))
      .groupBy("decile", "source").agg(count(lit(1)).as("n_docs"))
      .orderBy("decile", "source")
  }

  /** Exact stratified sampling — the quota-true companion to
    * [[mixtureSample]]: hash-rate sampling hits each source's target
    * only in expectation, but mixture rebalancing ("exactly 20% of
    * every source") needs the quota EXACT per stratum. Rank each
    * source's docs by the portable content hash (no RNG — reproducible
    * on any engine, any cluster size, and under reruns, the property a
    * resumable 100 TB sampling job needs) and keep the first
    * ceil(n_s/5).
    *
    * Scale shape: ONE exchange keyed on source; the rank window and the
    * stratum-size count window share its partitioning, so the quota
    * costs no second pass over the data. A pathologically hot stratum
    * is the standard skew case — sub-salt the rank key and merge
    * per-salt quotas (the two-level pattern of [[shardExport]]); not
    * needed at these corpus shapes. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy("source")
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"), expr("poly_hash(text)").as("h"))
      .withColumn("ns", count(lit(1)).over(wCnt))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= expr("(ns + 4) DIV 5"))
      .select(col("doc_id"), col("source"), col("rn").as("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** Weighted order sampling — k docs drawn with probability biased by
    * length (weight = n_chars), the "sample long docs preferentially"
    * draw a curriculum builder uses. Priority sampling (Duffield–Lund–
    * Thorup / the Efraimidis–Spirakis family): each doc gets priority
    * w/u with u uniform from its own content hash, and the k largest
    * priorities are the sample.
    *
    * Engine-portable determinism is the design constraint: A-ES's
    * canonical key u^(1/w) needs pow/ln, whose last-ulp behavior is
    * libm-specific — two engines could rank near-tied keys differently.
    * Priority w/u with u = (h+1)/2^32 instead ranks by the SINGLE
    * division w/(h+1), and IEEE-754 division is correctly rounded —
    * bit-identical on every conforming engine, so the oracle can
    * compare the priority column itself, not just membership.
    *
    * Scale shape: narrow projection + TakeOrdered top-k — k rows per
    * partition cross the one exchange; no global sort, no window. */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") + lit(1L)
    docs(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars").cast("double") / h).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
  }

  /** PII redaction — the scrub pass every training corpus runs before
    * export. The synthetic corpus carries no PII, so each doc gets a
    * deterministic email + phone appended (same construction both
    * engines, like ArticleOps.articleHtml) and the operator must find
    * and mask ALL of them: match counts and the md5 of the redacted
    * text are the oracle-checked outputs, so a missed or mangled
    * replacement fails the hash. Pure narrow projection — regex scan +
    * replace per row, zero shuffles, embarrassingly parallel at 100 TB. */
  def redactPii(spark: SparkSession, sfDir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val raw = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com or call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val redacted = regexp_replace(regexp_replace(raw, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(regexp_extract_all(raw, lit(emailRe), lit(0))).cast("long")
          .as("n_emails"),
        size(regexp_extract_all(raw, lit(phoneRe), lit(0))).cast("long")
          .as("n_phones"),
        md5(redacted.cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Repetition scoring — the Gopher-family quality signal: the
    * fraction of duplicated word trigrams per document (1 − distinct/
    * total). High-repetition docs are boilerplate/spam and get filtered
    * before training. Row-local (shingle + distinct inside the row),
    * zero shuffles. Trigrams are compared by their codegen'd polynomial
    * hash, not as concatenated strings — the interpreted string-HOF
    * form cost ~7 s at sf0.1 (the known per-element-lambda trap);
    * distinct-over-hashes counts identically on both engines. */
  def repetitionScore(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = expr("shingle3_hashes(word_poly_hashes(lower(text)))")
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(sh).cast("long").as("n_trigrams"),
        size(array_distinct(sh)).cast("long").as("n_distinct"))
      .filter(col("n_trigrams") > 0)
      .withColumn("dup_frac",
        (col("n_trigrams") - col("n_distinct")).cast("double") / col("n_trigrams"))
      .orderBy("doc_id")
  }

  /** Learned quality filter: hashed linear-model inference, the
    * fastText-style classifier gate (CCNet / GPT-3-era pipelines score
    * every document with a cheap linear model over hashed word
    * features and keep what clears a threshold). Each word hashes to
    * one of 2^20 feature buckets; the bucket's integer weight comes
    * from a fixed multiplicative PRF of the bucket id — standing in
    * for trained weights with the same shape while staying
    * engine-exact. The whole model is an ARITHMETIC EXPRESSION, so
    * inference is one `aggregate` fold per row inside whole-stage
    * codegen: no weight table is materialized, broadcast, or joined —
    * at 100 TB the gate is a single scan with zero shuffle and zero
    * driver state, and swapping in real trained weights means
    * substituting a 4 MiB broadcast array lookup for the PRF with the
    * identical plan shape. */
  def classifierScore(spark: SparkSession, sfDir: String): DataFrame = {
    val score = expr(
      """aggregate(word_poly_hashes(lower(text)), 0L,
        |  (acc, h) -> acc + ((h % 1048576) * 2654435761 + 13) % 2001 - 1000)"""
        .stripMargin)
    docs(spark, sfDir)
      .select(col("doc_id"), score.as("score"))
      .withColumn("kept", col("score") > 0)
      .orderBy("doc_id")
  }

  /** [[classifierScore]] with REAL (materialized) weights — proof of
    * the scaladoc'd claim that trained weights swap in as a ~4 MiB
    * broadcast array with the identical plan: the weight table is an
    * actual `Array[Int]` (one per 2^20 buckets), shipped once per
    * executor as a Spark Broadcast and indexed inside the same
    * whole-stage-codegen fold (see
    * [[graft.functions.BucketWeightScoreExpr]]). Still one narrow
    * scan-side projection — zero shuffle, zero joins, no weight-table
    * join materialized anywhere in the plan. At 100 TB the model rides
    * executor memory (4 MiB), not the shuffle fabric. */
  def classifierScoreTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val bc = graft.functions.ModelExpressions.broadcastWeights(spark.sparkContext)
    val score = org.apache.spark.sql.GraftSqlBridge.columnOf(
      graft.functions.BucketWeightScoreExpr(
        org.apache.spark.sql.GraftSqlBridge.expressionOf(
          expr("word_poly_hashes(lower(text))")), bc))
    docs(spark, sfDir)
      .select(col("doc_id"), score.as("score"))
      .withColumn("kept", col("score") > 0)
      .orderBy("doc_id")
  }

  /** PRECISION/RECALL SWEEP of the trained classifier against the
    * incumbent PRF teacher's labels — the model-swap eval a curation
    * pipeline runs BEFORE replacing its quality filter: score every doc
    * with the CANDIDATE model ([[classifierScoreTrained]]'s broadcast
    * weights), label it with the INCUMBENT ([[classifierScore]]'s
    * kept), and report precision/recall/F1 in exact basis points at
    * every operating point of a score grid. The threshold that
    * preserves incumbent recall is the swap decision.
    *
    * Scale shape — the one-pass cumulative spelling, NOT a
    * threshold × corpus cross-join: both scores fold in ONE corpus
    * scan (zero joins — teacher and student are both scan-side
    * expressions); docs collapse to a `cells`-row (score-cell →
    * pos/neg counts) table; tp/fp at every threshold are then
    * cumulative sums DOWN the bounded grid (predict-positive ⇔ cell ≥
    * θ), so the whole sweep costs one aggregate over ≤`cells` rows no
    * matter the corpus size. All arithmetic integer-exact: grid
    * assignment is (s−min)·cells DIV span; P=0 and empty-grid edges
    * pinned to 0 explicitly (Spark NULL-on-DIV-0 vs DuckDB error). */
  def classifierPr(spark: SparkSession, sfDir: String, cells: Int = 16): DataFrame = {
    require(cells >= 2, s"need a grid: $cells")
    val teacher = expr(
      """aggregate(word_poly_hashes(lower(text)), 0L,
        |  (acc, h) -> acc + ((h % 1048576) * 2654435761 + 13) % 2001 - 1000)"""
        .stripMargin)
    val bc = graft.functions.ModelExpressions.broadcastWeights(spark.sparkContext)
    val student = org.apache.spark.sql.GraftSqlBridge.columnOf(
      graft.functions.BucketWeightScoreExpr(
        org.apache.spark.sql.GraftSqlBridge.expressionOf(
          expr("word_poly_hashes(lower(text))")), bc))
    val perDoc = docs(spark, sfDir)
      .select(student.as("s"), (teacher > 0).cast("long").as("pos"))
      // both scoring folds feed TWO actions (the min/max/total pass and
      // the grid pass after the crossJoin) — pin the scored frame so
      // the corpus scan and both model folds run once, the
      // heavyHitters two-pass discipline. Caller clearCache()s.
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totals = perDoc.agg(min(col("s")).as("smin"), max(col("s")).as("smax"),
      sum(col("pos")).as("p_total"))
    val grid = perDoc.crossJoin(broadcast(totals))
      .withColumn("cell", expr(s"(s - smin) * $cells DIV (smax - smin + 1)"))
      .groupBy("cell")
      .agg(sum(col("pos")).as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"))
    val wDesc = org.apache.spark.sql.expressions.Window.orderBy(col("cell").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid // bounded: every window/sum below runs over <= cells rows
      .withColumn("tp", sum(col("n_pos")).over(wDesc))
      .withColumn("fp", sum(col("n_neg")).over(wDesc))
      .crossJoin(broadcast(totals.select(col("p_total"))))
      .select(col("cell").as("threshold_cell"), col("tp"), col("fp"),
        (col("p_total") - col("tp")).as("fn"),
        expr("tp * 10000 DIV (tp + fp)").as("precision_bp"),
        expr("CASE WHEN p_total = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE tp * 10000 DIV p_total END").as("recall_bp"),
        expr("CASE WHEN 2 * tp + fp + (p_total - tp) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE 2 * tp * 10000 DIV (2 * tp + fp + (p_total - tp)) END")
          .as("f1_bp"))
      .orderBy("threshold_cell")
  }

  /** Training-shard export assignment — the last step of a curation
    * pipeline: every curated doc gets a deterministic shard (fixed
    * multiplicative hash of doc_id — no RNG, identical on any engine
    * and cluster size, resumable like [[mixtureSample]]) and a stable
    * position within its shard. The window partitions by shard —
    * `shards` independent groups, fully parallel; at 100 TB this is the
    * partitioned write itself (write.partitionBy(shard)), with position
    * assignment per shard file. */
  def shardExport(spark: SparkSession, sfDir: String, shards: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    curateCorpus(spark, sfDir)
      .withColumn("shard",
        (((col("doc_id") * lit(2654435761L)) % lit(1000000007L)) % shards)
          .cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos", "n_tokens")
      .orderBy("doc_id")
  }

  /** Shard-rebalance cost under the two assignment schemes — the
    * measurement that decides HOW a 100 TB corpus is sharded before
    * the first byte is written: when the shard count grows N → N+1,
    * `hash mod N` reassigns ~N/(N+1) of all documents (a full-corpus
    * rewrite), while RENDEZVOUS hashing (highest-random-weight,
    * Thaler & Ravishankar 1998 — the consistent-hashing family,
    * Karger et al. 1997) moves only ~1/(N+1) (exactly the docs whose
    * new node wins its weight draw). Both schemes are priced on the
    * SAME corpus with the same integer hash family and reported as
    * (scheme, n_docs, n_moved, moved_bp).
    *
    * Engine parity: per-(doc, node) weight = (d_hash + node_hash)²
    * mod 999999937 with d_hash = (doc_id·2246822519 + 7) mod P and
    * node_hash = (node·2654435761 + 40503) mod P. The NON-LINEAR mix
    * matters twice over: an additive-only weight is monotone in the
    * node index (the newest node always wins — rendezvous degenerates
    * to move-everything), and a plain product d_hash·node_hash mod P
    * keeps pairwise correlations that measurably double the movement
    * (10.4% vs the 1/17 theory on this corpus); squaring the sum
    * breaks the linear structure and lands within 1σ of theory.
    * Squares stay < 4.1e18 (Long/BIGINT-safe); the HRW winner is the
    * FIRST index attaining the list maximum (array_position/
    * list_position both return the first match, so ties break to the
    * smallest node identically).
    *
    * Scale shape: both assignments are row-local projections (the HRW
    * argmax is an N+1-element array fold inside codegen); the corpus
    * collapses to two counters in ONE conditional-agg scan — adding a
    * scheme is an expression, not a pass. */
  def shardRebalance(spark: SparkSession, sfDir: String,
                     n: Int = 16): DataFrame = {
    val dHash = (col("doc_id") * lit(2246822519L) + lit(7L)) % lit(999999937L)
    def hrwWinner(nodes: Int): Column = {
      val weights = array((0 until nodes).map { k =>
        val nodeHash = (k.toLong * 2654435761L + 40503L) % 999999937L
        val t = dHash + lit(nodeHash)
        (t * t) % lit(999999937L)
      }: _*)
      (array_position(weights, array_max(weights)) - 1).cast("long")
    }
    val h = (col("doc_id") * lit(2654435761L)) % lit(999999937L)
    val assigned = docs(spark, sfDir).select(
      (h % n).as("mod_old"), (h % (n + 1)).as("mod_new"),
      hrwWinner(n).as("hrw_old"), hrwWinner(n + 1).as("hrw_new"))
    val scan = assigned.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("mod_old") =!= col("mod_new"), 1)).as("mod_moved"),
      count(when(col("hrw_old") =!= col("hrw_new"), 1)).as("hrw_moved"))
    scan.select(col("n_docs"),
        expr("stack(2, 'mod', mod_moved, 'rendezvous', hrw_moved) AS " +
          "(scheme, n_moved)"))
      .select(col("scheme"), col("n_docs"), col("n_moved"),
        expr("n_moved * 10000 DIV n_docs").as("moved_bp"))
      .orderBy("scheme")
  }

  /** K-ANONYMITY export gate with a GENERALIZATION LADDER (Samarati/
    * Sweeney k-anonymity, public): before a corpus slice leaves the
    * curation boundary, every row's quasi-identifier tuple must be
    * shared by ≥ k released rows — otherwise the QI is GENERALIZED one
    * level (coarser length bucket, then source only) and re-checked;
    * rows whose coarsest generalization still fails are SUPPRESSED.
    * This is the compliance gate a training-data release runs over
    * provenance-ish columns; the ladder (generalize before you drop)
    * is what separates k-anonymity proper from a bare HAVING count ≥ k.
    *
    * Levels: 0 = (source, len DIV 50) · 1 = (source, len DIV 200) ·
    * 2 = (source) · 3 = suppressed. Emitted QI values are the
    * generalized ones ('f…'/'c…'/'*'), i.e. what the release would
    * actually show.
    *
    * Scale shape: everything that crosses an exchange is the NARROW
    * (source, length-bucket) projection — the three level group counts
    * collapse it map-side into QI-cardinality-sized tables that
    * broadcast back onto the corpus: three map-side joins, zero corpus
    * shuffle anywhere. Group counts are counted over ALL rows per
    * level (standard single-pass ladder; a fixpoint variant re-counts
    * after suppression — noted, not needed for the release-gate
    * contract). */
  def kAnonymize(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame =
    kAnonymizeOn(docs(spark, sfDir), k)

  /** The ladder over an arbitrary (doc_id, source, text) frame — split
    * out so the suppression tail is testable on synthetic corpora. */
  private[graft] def kAnonymizeOn(d: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2: $k")
    val base = d.select(col("doc_id"), col("source"),
      expr("length(text) DIV 50").as("fine"),
      expr("length(text) DIV 200").as("coarse"))
    val g0 = base.groupBy("source", "fine")
      .agg(count(lit(1)).as("n0"))
    val g1 = base.groupBy("source", "coarse")
      .agg(count(lit(1)).as("n1"))
    val g2 = base.groupBy("source").agg(count(lit(1)).as("n2"))
    base
      .join(broadcast(g0), Seq("source", "fine"))
      .join(broadcast(g1), Seq("source", "coarse"))
      .join(broadcast(g2), Seq("source"))
      .withColumn("gen_level",
        when(col("n0") >= k, 0L).when(col("n1") >= k, 1L)
          .when(col("n2") >= k, 2L).otherwise(3L))
      .select(col("doc_id"), col("gen_level"),
        (col("gen_level") < 3).as("released"),
        when(col("gen_level") < 3, col("source")).otherwise(lit("*"))
          .as("qi_source"),
        when(col("gen_level") === 0, concat(lit("f"), col("fine")))
          .when(col("gen_level") === 1, concat(lit("c"), col("coarse")))
          .otherwise(lit("*")).as("qi_bucket"))
      .orderBy("doc_id")
  }

  /** Group-aware train/val/test assignment — the leakage guard a
    * training pipeline runs BEFORE any random split: the split key is
    * the PROVENANCE group (`source`), so same-site documents — and the
    * near-duplicates that cluster inside a site — land in the SAME
    * split; a doc-level random split would leak train text into eval
    * through those near-dups. Assignment is the deterministic
    * `poly_hash(source) mod 100` bucket (no RNG: identical on any
    * engine, any cluster size, and any re-run — resumable like
    * [[mixtureSample]]); buckets below 100−val−test are train, then
    * val, then test. Entirely row-local (the hash is a projection);
    * at 100 TB this is a zero-shuffle map over the corpus. */
  def trainValSplit(spark: SparkSession, sfDir: String,
                    pctVal: Int = 10, pctTest: Int = 10): DataFrame = {
    require(pctVal > 0 && pctTest > 0 && pctVal + pctTest < 100,
      s"need positive val/test slices summing under 100: $pctVal/$pctTest")
    val trainLt = 100 - pctVal - pctTest
    docs(spark, sfDir)
      .withColumn("bucket", (expr("poly_hash(source)") % lit(100L)).cast("long"))
      .withColumn("split",
        when(col("bucket") < trainLt, lit("train"))
          .when(col("bucket") < 100 - pctTest, lit("val"))
          .otherwise(lit("test")))
      .select("doc_id", "source", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Per-source term-distribution drift — the distribution-shift check
    * a curation pipeline runs between corpus slices (which source is
    * off-distribution vs the blend?). Chi-square statistic over the
    * contingency table of the global top-`topM` terms × sources:
    * expected count e = rowTotal·colTotal/grand, per-cell part =
    * ⌊1e6·(o−e)²/e⌋ — floored to BIGINT so the per-source sum is an
    * exact integer fold (order-independent, hash-stable), the same
    * no-transcendentals discipline as [[ArticleOps.searchBm25]]; a
    * chi-square needs only +,×,/ so nothing is lost vs a KL score,
    * which would need ln.
    *
    * Scale shape: ONE tokenize pass over the corpus → narrow
    * (source, term, count) aggregate; the top-M term list, the
    * per-source totals and the 1-row grand total are all tiny
    * broadcasts; the scored grid is |sources|×M rows. */
  def termDrift(spark: SparkSession, sfDir: String, topM: Int = 50): DataFrame =
    termDriftOf(docs(spark, sfDir), topM)

  /** Injectable corpus form of [[termDrift]] (spec seeds a skewed
    * source and asserts it ranks first). */
  private[graft] def termDriftOf(corpus: DataFrame, topM: Int): DataFrame = {
    val obs = corpus
      .select(col("source"),
        explode(filter(split(lower(col("text")), " "),
          t => length(t) > 0)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("o"))
    val top = obs.groupBy("term").agg(sum(col("o")).as("ct"))
      .orderBy(col("ct").desc, col("term")).limit(topM)
    val obsTop = obs.join(broadcast(top.select("term")), "term")
    val rowTot = obsTop.groupBy("source").agg(sum(col("o")).as("rs"))
    val grand = rowTot.agg(sum(col("rs")).as("g"))
    rowTot.crossJoin(broadcast(top)) // |sources| × topM grid
      .join(obsTop, Seq("source", "term"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(grand)) // 1-row grand total
      .withColumn("e", col("rs").cast("double") * col("ct").cast("double") /
        col("g").cast("double"))
      .withColumn("part", floor(lit(1000000.0) *
        ((col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))).cast("long"))
      .groupBy("source").agg(sum(col("part")).as("drift"))
      .orderBy(col("drift").desc, col("source"))
  }

  /** Fixed-size overlapping token chunking — the RAG/embedding prep op:
    * each document's token stream is cut into windows of `chunk` tokens
    * advancing by `stride` (overlap = chunk - stride keeps boundary
    * context in both neighbors). Entirely row-local — tokenize, compute
    * the window count, explode one row per window, slice — no shuffle
    * except the output sort; at 100 TB this is a narrow flat-map that
    * scales with token volume. Chunk content is carried as the codegen'd
    * poly_hash of the rejoined window (array output columns break the
    * oracle comparator; the hash proves content equality). */
  def chunkDocs(spark: SparkSession, sfDir: String,
                chunk: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && chunk >= stride, "need 0 < stride <= chunk")
    docs(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        when(col("n") <= chunk, lit(1L))
          .otherwise(expr(s"(n - $chunk + $stride - 1) DIV $stride + 1")))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("piece",
        slice(col("ws"), (col("chunk_id") * stride + 1).cast("int"), lit(chunk)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("piece")).cast("long").as("n_tok"),
        expr("poly_hash(concat_ws(' ', piece))").as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus snapshot diff — the release-to-release audit a curation
    * pipeline publishes next to a new corpus version (what changed
    * since the training set we last shipped?): every document is
    * classified added / removed / changed / unchanged by content
    * digest, and the report collapses to per-(source, status) counts
    * with a representative doc id. Two deterministic snapshots derive
    * from the documents table (v1 drops doc_id % 17 = 3; v2 drops
    * doc_id % 13 = 5 and revises the text of doc_id % 11 = 7 — disjoint
    * residues so all four classes are populated); the same formulas
    * render into the DuckDB oracle, and md5 hex digests are identical
    * across engines.
    *
    * Scale shape: ONE full-outer equi-join on doc_id between snapshots
    * whose digests are row-local — at 100 TB both corpus versions are
    * bucketed on doc_id so the join is zero-exchange, and the class
    * collapse is a map-side-combined agg over the tiny (source, status)
    * lattice. The diff costs one co-partitioned pass regardless of
    * corpus size, vs. the naive "re-ingest and re-dedup the union"
    * which reshuffles both versions. */
  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"))
    val v1 = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id").as("id1"), col("source").as("src1"),
        md5(col("text")).as("h1"))
    val v2 = base.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id").as("id2"), col("source").as("src2"),
        md5(when(col("doc_id") % 11 === 7, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, col("id1") === col("id2"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
        when(col("id1").isNull, lit("added"))
          .when(col("id2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("id1"), col("id2")).as("d"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), min(col("d")).as("first_doc"))
      .orderBy("source", "status")
  }

  /** Dataset card — the per-(source, lang) profile a curation run
    * publishes with a corpus release: document/token counts, token
    * extremes, corpus share in exact basis points, and aggregate
    * quality as a floored-integer micro-unit sum (a double MEAN would
    * depend on partition fold order; the integer sum is order-free and
    * the consumer divides by n_docs). ONE map-side-combined agg pass
    * over the corpus plus a broadcast 1-row total — the summary table
    * every release pipeline materializes last, and the shape that costs
    * the same at 100 TB as the cheapest group-by in the suite. */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val per = docs(spark, sfDir)
      .select(col("source"), col("lang"),
        size(words(col("text"))).cast("long").as("n_tok"),
        floor(lit(1000000.0) * compositeQuality).cast("long").as("q"))
    val grouped = per.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"),
        sum(col("q")).as("quality_musum"))
    val tot = per.agg(count(lit(1)).as("n_all"))
    grouped.crossJoin(broadcast(tot)) // 1-row corpus total
      .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
        col("min_tokens"), col("max_tokens"), col("quality_musum"),
        expr("(10000 * n_docs) DIV n_all").as("share_bp"))
      .orderBy("source", "lang")
  }

  /** RAG context assembly END-TO-END — the retrieval-side composite a
    * production RAG service materializes per query: chunk the corpus
    * into overlapping token windows ([[chunkDocs]]'s geometry), score
    * every chunk for the query terms with the engine's exact-integer
    * BM25 part (tf within the chunk, df across chunks, chunk length vs
    * average — the same no-transcendentals expression tree as
    * `art_search_bm25`, so scores hash bitwise), keep the top `cand`
    * candidates through the bounded aggregator, then greedily pack the
    * ranked candidates into a `budget`-token context window (prefix
    * packing: a chunk enters while the running token total fits).
    *
    * Scale shape: chunking + per-chunk tf are one row-local flat-map;
    * ALL corpus statistics (chunk count, token total, per-term df) are
    * ONE 1-row broadcast agg (r16 — they were two separate aggs, i.e.
    * two full passes over the persisted chunk frame and two broadcast
    * builds per run; guide §2.4 share exchanges); scoring is row-local
    * behind it; the bounded top-k ships `cand` rows per partition; and
    * the running-total window runs over ≤ `cand` candidate rows, never
    * data. The join-back that attaches n_tok to the ≤ `cand` winners
    * reads the persisted chunk frame DIRECTLY (r16 — it previously
    * re-derived the scored frame, re-evaluating the BM25 expression
    * and re-broadcasting both stat frames over the whole corpus just
    * to drop every non-winner; cid is unique per chunk and every
    * ranked cid has score > 0, so the plain key join is row-identical).
    * Chunk identity packs as doc_id·10⁶+chunk_id (valid for documents
    * up to ~48M tokens at the default stride). Caller releases the
    * persisted chunk-tf frame via clearCache(). */
  def ragContext(spark: SparkSession, sfDir: String,
                 keywords: Seq[String] = Seq("spark", "merge"),
                 chunk: Int = 64, stride: Int = 48,
                 cand: Int = 32, budget: Int = 256): DataFrame = {
    require(keywords.nonEmpty && stride > 0 && chunk >= stride)
    val kws = keywords.map(_.toLowerCase)
    val pieces = docs(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        when(col("n") <= chunk, lit(1L))
          .otherwise(expr(s"(n - $chunk + $stride - 1) DIV $stride + 1")))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"),
        col("ws"))
      .withColumn("piece",
        slice(col("ws"), (col("chunk_id") * stride + 1).cast("int"), lit(chunk)))
    val withTf = kws.zipWithIndex.foldLeft(
        pieces.select(col("doc_id"), col("chunk_id"),
          size(col("piece")).cast("long").as("n_tok"), col("piece"))) {
      case (acc, (kw, i)) =>
        acc.withColumn(s"tf$i",
          size(filter(col("piece"), w => w === lit(kw))).cast("long"))
    }.drop("piece")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE stat pass: chunk count, token total and every per-term df in
    // a single 1-row agg (the two-agg split paid a second full pass
    // over the persisted frame and a second broadcast build)
    val dfAggs = kws.indices
      .map(i => count(when(col(s"tf$i") > 0, 1)).as(s"df$i"))
    val stats = withTf.agg(count(lit(1)).as("nc"),
      (sum(col("n_tok")).as("tot") +: dfAggs): _*)
    val scoreCol = kws.indices.map { i =>
      when(col(s"tf$i") > 0,
        ArticleOps.bm25Part(col(s"tf$i"), col(s"df$i"), col("n_tok"),
          col("nc"), col("tot"))).otherwise(lit(0L))
    }.reduce(_ + _)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("score", scoreCol)
      .filter(col("score") > 0)
      .withColumn("cid", col("doc_id") * 1000000L + col("chunk_id"))
    val top = graft.functions.TopKAggregator.topKPairs(cand)
    val ranked = scored
      .agg(top(col("cid"), col("score").cast("double")).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cid"), col("col.score").cast("long").as("score"))
    // the candidate set is ≤ cand rows: broadcast it back for n_tok and
    // run the packing window over it alone. n_tok comes straight off
    // the persisted chunk frame — cid is unique per chunk and ranked
    // cids all scored > 0, so this join selects exactly the rows the
    // scored-frame spelling did, without re-evaluating the score.
    val w = org.apache.spark.sql.expressions.Window.orderBy("rank")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    withTf
      .select((col("doc_id") * 1000000L + col("chunk_id")).as("cid"),
        col("doc_id"), col("chunk_id"), col("n_tok"))
      .join(broadcast(ranked), "cid")
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .select(col("rank"), col("doc_id"), col("chunk_id"), col("n_tok"),
        col("cum_tok"), col("score"))
      .orderBy("rank")
  }

  /** Sequence packing — concat-and-chunk, the GPT-style pretraining
    * batcher: documents in a deterministic order form one token stream,
    * cut into training sequences of `budget` tokens; a document spans
    * every sequence its token interval overlaps. Output is the packing
    * manifest (seq_id, doc_id, slice of the doc in that sequence).
    *
    * The global running token offset is the same two-level computation
    * as [[graft.operators.ArticleOps.batchReport]]'s line numbering
    * (SURVEY §8.1): per-bucket token sums in parallel, a running total
    * over the O(#buckets) bucket sums, offsets broadcast back — no
    * global single-task window anywhere. */
  def packSequences(spark: SparkSession, sfDir: String,
                    budget: Int = 512): DataFrame = {
    val bucketWidth = 1000L
    val d = docs(spark, sfDir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket", floor(col("doc_id") / bucketWidth))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
    val wB = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = d.groupBy("bucket").agg(sum(col("n_tok")).as("bt"))
      .withColumn("offset", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select("bucket", "offset")
    d.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("offset") + sum(col("n_tok")).over(wIn))
      .withColumn("start", col("cum") - col("n_tok"))
      .select(col("doc_id"), col("n_tok"), col("start"), col("cum"),
        explode(sequence(expr(s"start DIV $budget"),
          expr(s"(cum - 1) DIV $budget"))).as("seq_id"))
      .select(
        col("seq_id"),
        col("doc_id"),
        // the doc's slice landing in this sequence, in doc-local tokens
        (greatest(col("start"), col("seq_id") * budget) - col("start"))
          .as("tok_from"),
        (least(col("cum"), (col("seq_id") + 1) * budget) - col("start"))
          .as("tok_to"))
      .orderBy("seq_id", "doc_id")
  }

  /** Count–min sketch over corpus terms — the bounded-memory frequency
    * estimator (Cormode & Muthukrishnan): d=4 hash rows × w=1024
    * buckets; a term's estimate is the MIN of its d bucket counts and
    * can only over-estimate (collisions add, never subtract). The
    * sketch build is one explode + one hash aggregate over (row,
    * bucket) — 4096 cells regardless of corpus size, the whole point at
    * 100 TB: mergeable across partitions/days, constant memory, no
    * per-term state. Emitted per probe term (the stopword set) next to
    * its exact count, so the overestimate property is visible in the
    * output. Universal hash family: h_i(t) = ((a_i·poly(t) + b_i) mod
    * p) mod w with fixed odd multipliers — all integer, identical both
    * engines. */
  private val CmsDepth = 4
  private val CmsWidth = 1024
  // prime STRICTLY above every poly hash value (hashes are mod 1e15, so
  // max 1e15-1; the first prime past 1e15 keeps the universal-hash
  // precondition th < p for all inputs)
  private val CmsPrime = 1000000000000037L
  private val CmsA = Seq(3L, 7L, 11L, 13L)
  private val CmsB = Seq(17L, 101L, 1009L, 10007L)

  /** The d bucket coordinates of a hashed term, as exploded (r, b)
    * struct rows. */
  private def cmsBuckets(th: Column): Column =
    explode(array((0 until CmsDepth).map(i =>
      struct(lit(i).as("r"),
        ((lit(CmsA(i)) * th + CmsB(i)) % CmsPrime % CmsWidth).as("b"))): _*))

  /** The 4096-cell sketch of a (term) stream: one explode + one hash
    * aggregate with map-side combine. Exposed for the mergeability
    * spec — CMS(A ∪ B) is the cell-wise sum of CMS(A) and CMS(B), the
    * property that lets sketches build per-partition/per-day and merge. */
  def cmsCellsOf(termsDf: DataFrame): DataFrame =
    termsDf
      .withColumn("th", expr("poly_hash(term)"))
      .select(cmsBuckets(col("th")).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  def cmsTermCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = docs(spark, sfDir)
      .select(explode(words(col("text"))).as("term"))
    val cells = cmsCellsOf(terms)
    // probe set: the engine's stopword list + a term absent from the
    // corpus (its estimate is pure collision mass)
    val probes = Seq("the", "a", "of", "and", "to", "zzz_absent")
    val probeDf = spark.range(1)
      .select(explode(array(probes.map(lit): _*)).as("term"))
      .withColumn("th", expr("poly_hash(term)"))
      .select(col("term"), cmsBuckets(col("th")).as("rb"))
      .select(col("term"), col("rb.r").as("r"), col("rb.b").as("b"))
    val est = probeDf.join(cells, Seq("r", "b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
    val exact = terms.groupBy("term").agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), col("cms_estimate"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
      .orderBy("term")
  }

  /** The SQL entry path: the same engine surface through spark.sql over
    * a registered view, exercising the injected native functions from
    * SQL text (the GraftExtensions seam end-to-end). */
  def sqlFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir).createOrReplaceTempView("documents_v")
    spark.sql(
      """SELECT doc_id,
        |  poly_hash(text) AS fp_full,
        |  simhash48(word_poly_hashes(lower(text))) AS fp_simhash
        |FROM documents_v ORDER BY doc_id""".stripMargin)
  }

  /** Document fingerprints: whole-text rolling hash (exact-dup key) and
    * the minimum word-trigram shingle hash (a 1-element MinHash — the
    * near-dup key; DedupOps widens this to full MinHash+LSH). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = words(col("text"))
    val shingleHashes = transform(wordShingles(ws, 3), s => polyHash(s))
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        polyHash(col("text")).as("fp_full"),
        array_min(shingleHashes).as("fp_min_shingle"))
      .orderBy("doc_id")
  }

  /** One statistics pass of BPE vocabulary training (Sennrich 2016,
    * public): adjacent symbol-pair frequencies over the corpus — the
    * quantity whose argmax IS the next merge rule. Symbols here are
    * characters (the first BPE iteration); the op is the inner loop a
    * tokenizer-training job runs over a 100 TB corpus.
    *
    * Scale shape: pair statistics are computed on the VOCABULARY, not
    * the token stream — `groupBy(word)` first collapses the corpus to
    * distinct words with counts (the standard BPE-training layout), so
    * the per-word char-pair explode touches |vocab| rows, not |corpus|
    * tokens. Two shuffles total (word count, pair sum), both map-side
    * combined; everything between is row-local. */
  def bpePairStats(spark: SparkSession, sfDir: String, topN: Int = 20): DataFrame = {
    val wc = docs(spark, sfDir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    wc.select(col("cnt"), explode(
        when(length(col("word")) >= 2,
          transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(topN)
  }

  /** Content-defined chunking (FastCDC/LBFS family, public): chunk
    * boundaries are set where a rolling hash of the trailing 8-char
    * window hits 0 mod 64 — so boundaries are decided by CONTENT, not
    * position, and an insertion early in a document shifts only the
    * chunk it lands in while every later chunk keeps its hash
    * (position-based fixed chunking would shift ALL downstream chunk
    * fingerprints). That stability is why storage/transfer dedup for
    * 100 TB data lakes chunks this way; the (doc, chunk_md5) table is
    * the dedup index, expected chunk length = the 64 mask.
    *
    * The per-position window hash is the shared `poly_hash` expression
    * (native codegen Spark-side, the same base-31 fold rendered to SQL
    * oracle-side), recomputed per window — O(8·n) row-local work, no
    * state across rows, zero shuffle except the presentation sort.
    * Zero-length tail candidates (a boundary on the last char) are
    * dropped identically by both engines. */
  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    // native single-pass rolling scan (functions/TextHashExpressions
    // .cdcBoundaries); the per-window HOF spelling
    // filter(transform(sequence(8, n), p -> poly_hash(substr(...)) % 64
    // = 0 ...)) computes the identical boundary set but allocates one
    // 8-char substring per position — 5.5 s at sf0.1 vs scan speed
    val boundaries = expr("cdc_boundaries(text)")
    docs(spark, sfDir)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"), boundaries.as("bnd"))
      .withColumn("starts", concat(array(lit(1L)),
        transform(col("bnd"), p => p + 1L)))
      .withColumn("ends", concat(col("bnd"), array(col("n"))))
      .withColumn("ci", explode(sequence(lit(1), size(col("starts")))))
      .withColumn("c_start", element_at(col("starts"), col("ci")))
      .withColumn("c_len",
        element_at(col("ends"), col("ci")) - col("c_start") + 1L)
      .filter(col("c_len") >= 1L)
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        col("c_start"), col("c_len"),
        md5(expr("CAST(substr(text, CAST(c_start AS INT), CAST(c_len AS INT)) AS BINARY)"))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** BPE vocabulary TRAINING — the iterative loop whose single
    * statistics pass is [[bpePairStats]] (Sennrich 2016, public): each
    * round counts adjacent symbol-pair frequencies over the
    * count-weighted word vocabulary, adopts the most frequent pair as
    * the next merge rule (ties broken lexicographically — the
    * determinism a distributed trainer needs), and APPLIES it to every
    * word before the next round. The merge application is a greedy
    * leftmost single pass, expressed as an `aggregate` fold over the
    * symbol list: merge when the accumulator's last symbol is p1 and
    * the current is p2. That fold IS exact BPE semantics — the merged
    * symbol p1||p2 can never equal p1 (p2 is nonempty), so a fresh
    * merge cannot spuriously chain within the same round, and runs of
    * overlapping occurrences resolve left-to-right exactly like the
    * reference implementation.
    *
    * Scale shape: the corpus collapses to the distinct-word vocabulary
    * ONCE (the only corpus-sized shuffle); each round then touches
    * |vocab| rows — one map-side-combined pair aggregate, a 1-row
    * TakeOrdered argmax broadcast back, and a row-local fold —
    * with `localCheckpoint` capping lineage exactly like the CC/BFS
    * loops. At 100 TB the vocabulary is millions of rows against a
    * trillion-token corpus: the loop body is ~6 orders of magnitude
    * smaller than the input, which is why production BPE trainers use
    * this layout. */
  def bpeMerges(spark: SparkSession, sfDir: String, rounds: Int = 3): DataFrame =
    bpeTrained(spark, sfDir, rounds)._1.reduce(_.union(_)).orderBy("round")

  /** Trained BPE merges, once per corpus snapshot (VERDICT r8 #2): a
    * real pipeline trains merges ONCE and every downstream encode loads
    * them, so [[bpeEncode]] must not re-pay the checkpointed training
    * loop per query. The frames are `localCheckpoint`ed inside
    * [[bpeTrain]], so reuse is a free lookup, bit-identical to a fresh
    * train. A `bpe:<rounds>` entry of [[graft.Tables.memo]]. */
  private[graft] def bpeTrained(spark: SparkSession, sfDir: String,
                                rounds: Int): (Seq[DataFrame], DataFrame) =
    Tables.memo(spark, Tables.snapshot(spark, sfDir, "documents"), s"bpe:$rounds") {
      bpeTrain(spark, sfDir, rounds)
    }

  /** The training loop itself: returns (one 1-row merge DataFrame per
    * round, final vocabulary (word, syms, cnt) with every learned merge
    * applied). Shared by [[bpeMerges]] (the rule table) and
    * [[bpeEncode]] (the apply side). */
  private def bpeTrain(spark: SparkSession, sfDir: String,
                       rounds: Int): (Seq[DataFrame], DataFrame) = {
    require(rounds >= 1, s"need at least one merge round: $rounds")
    val mergeFold =
      """aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) ->
        |  IF(size(acc) > 0 AND element_at(acc, size(acc)) = p1 AND x = p2,
        |     concat(slice(acc, 1, size(acc) - 1), array(concat(p1, p2))),
        |     concat(acc, array(x))))""".stripMargin
    var vocab = docs(spark, sfDir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // explicit per-index char split: split(word, "") has engine- and
      // JDK-version-dependent empty-tail behavior; substr does not
      .select(col("word"), transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))).as("syms"), col("cnt"))
      .localCheckpoint()
    val learned = (1 to rounds).map { r =>
      val best = vocab
        .select(col("cnt"), explode(
          when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("p1"),
                element_at(col("syms"), i + 1).as("p2"))))
            .otherwise(array().cast("array<struct<p1:string,p2:string>>")))
          .as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("p1"), col("p2"))
        .limit(1)
        .localCheckpoint() // 1 row; pins the argmax so later unions don't re-run the agg
      vocab = vocab
        .crossJoin(broadcast(best.select("p1", "p2")))
        .withColumn("syms", expr(mergeFold))
        .select("word", "syms", "cnt")
        .localCheckpoint()
      best.select(lit(r.toLong).as("round"), col("p1"), col("p2"),
        concat(col("p1"), col("p2")).as("merged"), col("freq"))
    }
    (learned, vocab)
  }

  /** BPE ENCODE — the apply side of [[bpeMerges]]'s train side: rewrite
    * the corpus with the learned rules and report per-document
    * compression (chars → words → BPE tokens). Tokenization happens on
    * the VOCABULARY (each distinct word is encoded once; the corpus
    * joins to the |vocab|-sized (word → token count) table, which AQE
    * broadcasts while it fits) — the same collapse that made training
    * tractable makes inference a map-only pass at 100 TB. This is the
    * "how many tokens is my corpus" accounting every pretraining-data
    * budget starts from, with the trained-merge vocabulary rather than
    * a whitespace proxy. */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = bpeTrained(spark, sfDir, 3)._2
    docs(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(vocab.select(col("word"),
        length(col("word")).cast("long").as("nch"),
        size(col("syms")).cast("long").as("nsym")), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("nch")).as("n_chars"),
        sum(col("nsym")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per source — the per-domain compression report
    * every tokenizer evaluation publishes (how many tokens does the
    * trained vocabulary spend per word / how many characters does a
    * token buy, by corpus slice): tokens-per-kiloword and
    * chars-per-kilotoken in exact MILLI units (truncating division on
    * all-positive integers — identical floor semantics both engines).
    * High fertility on one source flags a domain the tokenizer serves
    * poorly (the practical reason multilingual corpora re-balance
    * vocabularies). Encodes with the SESSION-CACHED trained vocabulary
    * ([[bpeTrained]] — the VERDICT r8 #2 catalog), so the query pays
    * encode cost only, never re-training.
    *
    * Scale shape: identical to [[bpeEncode]] — corpus scanned once,
    * exploded words equi-join the vocabulary-sized (word → nsym) table
    * (AQE-broadcast while it fits), and the rollup collapses to the
    * source lattice map-side. */
  def bpeFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = bpeTrained(spark, sfDir, 3)._2
    docs(spark, sfDir)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .join(vocab.select(col("word"),
        length(col("word")).cast("long").as("nch"),
        size(col("syms")).cast("long").as("nsym")), "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum(col("nch")).as("n_chars"),
        sum(col("nsym")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000 DIV n_words").as("tokens_per_kword"),
        expr("n_chars * 1000 DIV n_tokens").as("chars_per_ktoken"))
      .orderBy("source")
  }

  /** Zipf rank-frequency fit — the corpus-health diagnostic (Zipf 1949,
    * public; natural text follows freq ∝ rank^s with s ≈ −1, and a
    * corpus whose fitted slope drifts far from −1 is usually boiler-
    * plate, spam, or template-dominated): least-squares slope of
    * log₂ freq against log₂ rank over the top-64 terms, ENTIRELY in
    * integers — logs in sixteenth-bits via [[qlog2]], the regression in
    * exact BIGINT sums, and the final divisions in SIGN-SYMMETRIC
    * truncating form (the quotient is computed on the non-negative
    * operand and negated after, so engines whose integer division
    * floors vs truncates differently on negatives cannot drift).
    * Intercept uses the already-floored slope — documented, both
    * engines identical.
    *
    * Scale shape: one corpus term aggregate (map-side combined), a
    * TakeOrdered top-64, then every window/sum runs over the 64-row
    * table — the corpus is scanned once and never re-shuffled. */
  def zipfFit(spark: SparkSession, sfDir: String, topN: Int = 64): DataFrame = {
    val top = docs(spark, sfDir)
      .select(explode(words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    val q = top // bounded: the rank window sorts 64 rows, never data
      .withColumn("r", row_number().over(w).cast("long"))
      .select(qlog2(col("r")).as("x"), qlog2(col("freq")).as("y"))
    q.agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sum_x16"),
        sum(col("y")).as("sum_y16"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_terms"), col("sum_x16"), col("sum_y16"),
        // degenerate single-rank corpus: the x-variance denominator is
        // 0 and the two engines fail DIFFERENTLY on division by zero
        // (Spark DIV → NULL, DuckDB // → error) — pin the flat fit to
        // slope 0 explicitly instead
        expr("""CASE WHEN n_terms * sxx - sum_x16 * sum_x16 = 0 THEN CAST(0 AS BIGINT)
          | WHEN n_terms * sxy - sum_x16 * sum_y16 >= 0
          | THEN ((n_terms * sxy - sum_x16 * sum_y16) * 1000)
          |      DIV (n_terms * sxx - sum_x16 * sum_x16)
          | ELSE -(((sum_x16 * sum_y16 - n_terms * sxy) * 1000)
          |      DIV (n_terms * sxx - sum_x16 * sum_x16)) END""".stripMargin)
          .as("slope_milli"))
      .withColumn("intercept_milli", expr(
        """CASE WHEN sum_y16 * 1000 - slope_milli * sum_x16 >= 0
          | THEN (sum_y16 * 1000 - slope_milli * sum_x16) DIV (16 * n_terms)
          | ELSE -((slope_milli * sum_x16 - sum_y16 * 1000) DIV (16 * n_terms)) END"""
          .stripMargin))
  }

  /** Temperature-weighted mixture sampling (α = 1/2) — the pretraining
    * source-balancing op (public: multilingual sampling in the T5/mBERT
    * papers, p(s) ∝ mass(s)^α): sampling rates derive from per-source
    * TOKEN mass raised to α = 0.5, flattening the source distribution so
    * small sources are not drowned by large ones. Everything integer-
    * deterministic: the weight is floor(sqrt(tokens)) — IEEE sqrt of an
    * integer-valued double is correctly rounded, so floor is the same
    * number on any engine — the percent rate is floor division, and
    * membership is the portable content hash (same discipline as
    * [[mixtureSample]]'s fixed rates: no RNG, reproducible on any
    * cluster size, resumable).
    *
    * Scale shape: one map-side-combined aggregate to source-level mass
    * (|sources| rows), the weight/rate arithmetic on that tiny table, a
    * broadcast join back, and one final aggregate — the corpus is
    * scanned once and never shuffled row-wise. */
  def temperatureMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("source"),
        size(words(col("text"))).cast("long").as("nt"),
        (polyHash(col("text")) % 100).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mass = d.groupBy("source").agg(sum(col("nt")).as("tok_s"))
      .withColumn("w", floor(sqrt(col("tok_s").cast("double"))).cast("long"))
    val tot = mass.agg(sum(col("w")).as("wsum"))
    val rates = mass.crossJoin(broadcast(tot))
      .withColumn("rate", expr("(100 * w) DIV wsum"))
      .select("source", "tok_s", "w", "rate")
    d.join(broadcast(rates), "source")
      .groupBy("source")
      .agg(max(col("tok_s")).as("tok_s"), max(col("w")).as("w"),
        max(col("rate")).as("rate"),
        sum(when(col("h") < col("rate"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("source")
  }

  /** Per-domain document cap — the C4/RefinedWeb curation rule "keep at
    * most k documents per domain" (a single site must not dominate the
    * training mixture), keeping each domain's LONGEST documents
    * (n_chars as the quality proxy; ties broken by doc_id so the
    * selection is deterministic).
    *
    * Scale shape: the rank-window filter plans as
    * WindowGroupLimit(Partial) — each map partition keeps only its k
    * best rows per domain BEFORE the exchange, so a hot domain ships at
    * most k·partitions rows instead of its population (the skew a
    * domain cap exists to defend against), and per-domain final state
    * is O(k). One shuffle total; output is |domains|·k rows. (The typed
    * TopK aggregator gave the same bound but degrades past 128 domains
    * per partition — the object hash agg's sort-based fallback, the
    * r11 knnGraph finding; a web-scale corpus has millions of
    * domains.) */
  def domainCap(spark: SparkSession, sfDir: String, k: Int = 15): DataFrame = {
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    docs(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rnk", row_number().over(rw).cast("long"))
      .filter(col("rnk") <= k)
      .select("source", "rnk", "doc_id", "n_chars")
      .orderBy("source", "rnk")
  }

  /** Corpus bigram-count table, built once per corpus snapshot: THREE
    * queries ([[bigramLmCounts]], [[kneserNeyBigrams]],
    * [[collocations]]) consume the identical (w1, w2, cnt) table, and
    * each was re-paying the corpus tokenize+explode+shuffle (the family
    * hot spot, ~1.5 s each at sf0.1) to rebuild it. A real LM/quality
    * pipeline materializes the count table ONCE and every smoother /
    * collocation miner reads it; this `localCheckpoint`ed frame is that
    * materialization, the `bigram` entry of [[graft.Tables.memo]]. */
  private[graft] def bigramCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.memo(spark, Tables.snapshot(spark, sfDir, "documents"), "bigram") {
      val ws = words(col("text"))
      val pairs = when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => struct(element_at(ws, i + 1).as("w1"),
            element_at(ws, i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      graft.Tables.spread(docs(spark, sfDir), col("doc_id"))
        .select(explode(pairs).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
    }

  /** Bigram language-model count table — the Kneser–Ney ingredient pass:
    * raw bigram counts c(w1,w2) plus the continuation count of w2
    * (|{w1 : c(w1,w2) > 0}|, the numerator of the KN lower-order
    * distribution). What an n-gram-LM quality filter (CCNet-style)
    * precomputes corpus-wide before scoring documents.
    *
    * Scale shape: bigrams derive row-local as (w1,w2) struct pairs
    * straight off the token array — no self-join on position, and no
    * build-a-string-then-resplit round trip (the wordShingles spelling
    * cost 10× in CPU: concat_ws + split per bigram). The scan is
    * [[graft.Tables.spread]] across cores first — the tokenize+explode
    * stage is the CPU hot spot and a single small parquet split would
    * otherwise run it on one task (a no-op on a real multi-split
    * 100 TB scan). The bigram count is one map-side-combined shuffle on
    * (w1,w2), built once per session via [[bigramCounts]]; the
    * continuation count reuses those SAME grouped rows (count of
    * distinct w1 per w2 = plain count over the bigram-count table), so
    * it adds one narrow shuffle on w2, and the final join is
    * vocabulary-sized on w2 (AQE broadcasts while it fits — no pin). */
  def bigramLmCounts(spark: SparkSession, sfDir: String, topN: Int = 20): DataFrame = {
    val bg = bigramCounts(spark, sfDir)
    val cont = bg.groupBy("w2").agg(count(lit(1)).as("cont_w2"))
    bg.join(cont, "w2")
      .select(col("w1"), col("w2"), col("cnt"), col("cont_w2"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995 /
    * Chen & Goodman 1998, public — the smoothing every production
    * n-gram LM ships): for each observed bigram,
    * `P_KN(w2|w1) = (c(w1,w2) − d)/c(w1·) + (d·N1+(w1·)/c(w1·)) ·
    * N1+(·w2)/|bigram types|` with absolute discount d = 0.75. The
    * continuation counts N1+ are what distinguish KN from the add-k
    * family next door ([[bigramLmCounts]]): "francisco" is frequent
    * but follows almost nothing, so its continuation probability is
    * tiny — the effect a perplexity-based quality filter at corpus
    * scale actually wants.
    *
    * Engine parity: every factor is an exact integer off the bigram
    * table; the probability is the identical IEEE expression tree both
    * engines — `(cnt−0.75)/ca + (0.75·n1p_left)/ca · (n1p_right/nb)`,
    * each op correctly rounded ⇒ bit-identical doubles (the
    * [[collocations]] discipline; c ≥ 1 so the max(c−d, 0) clamp is
    * vacuous on observed bigrams).
    *
    * Scale shape: the corpus collapses to the bigram count table in ONE
    * map-side-combined shuffle (built once per session via
    * [[bigramCounts]]); c(w1·), N1+(w1·), N1+(·w2) and the type
    * total are vocabulary-sized aggs of THAT table (AQE-broadcast while
    * they fit, the margins joins co-locate at 100 TB on a bucketed
    * vocabulary); TakeOrdered top-k ends the plan — corpus rows are
    * touched exactly once. */
  def kneserNeyBigrams(spark: SparkSession, sfDir: String,
                       topN: Int = 20): DataFrame = {
    val bg = bigramCounts(spark, sfDir)
    // margins of the bigram table itself: token count and distinct
    // continuations per context, distinct contexts per continuation,
    // and the bigram-type total (the continuation-probability base)
    val left = bg.groupBy("w1")
      .agg(sum(col("cnt")).as("ca"), count(lit(1)).as("n1p_left"))
    val right = bg.groupBy("w2").agg(count(lit(1)).as("n1p_right"))
    val tot = bg.agg(count(lit(1)).as("nb"))
    bg.join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cnt"),
        ((col("cnt").cast("double") - lit(0.75)) / col("ca").cast("double") +
          lit(0.75) * col("n1p_left").cast("double") / col("ca").cast("double") *
            (col("n1p_right").cast("double") / col("nb").cast("double")))
          .as("pkn"))
      .orderBy(col("pkn").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Collocation mining — the bigrams that co-occur far MORE than their
    * parts predict (lift = N·c(ab) / (c₁(a)·c₂(b)), the exp of PMI over
    * the bigram event space): the phrase-dictionary pass ("new york",
    * "machine learning") a tokenizer-vocabulary or phrase-aware index
    * build runs over the corpus. Margins c₁/c₂ are the bigram table's
    * own left/right sums, so everything derives from ONE bigram
    * aggregate; a min-count floor keeps one-off pairs (whose lift is
    * huge and meaningless) out of the ranking.
    *
    * Engine parity without transcendentals: PMI's log is monotone, so
    * ranking by the RATIO is ranking by PMI — and the ratio is computed
    * as the identical IEEE expression tree both engines ((cnt·N) /
    * (ca·cb), each op correctly rounded) ⇒ bit-identical doubles, no
    * qlog16 quantization needed. Doubles rather than BIGINT products
    * because at 100 TB cnt·N overflows int64 (~1e21) while the double
    * path degrades gracefully and identically on both engines.
    *
    * Scale shape: corpus collapses to the bigram table first (one
    * map-side-combined shuffle, session-cached via [[bigramCounts]]);
    * margins are vocabulary-sized aggs of
    * THAT table, AQE-broadcast while they fit; the 1-row total
    * broadcasts; TakeOrdered top-k ends the plan. */
  def collocations(spark: SparkSession, sfDir: String,
                   minCount: Int = 5, topN: Int = 50): DataFrame = {
    val bg = bigramCounts(spark, sfDir)
    val left = bg.groupBy("w1").agg(sum(col("cnt")).as("ca"))
    val right = bg.groupBy("w2").agg(sum(col("cnt")).as("cb"))
    val tot = bg.agg(sum(col("cnt")).as("nb"))
    bg.filter(col("cnt") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cnt"),
        ((col("cnt").cast("double") * col("nb").cast("double")) /
          (col("ca").cast("double") * col("cb").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Integer floor(log2(x)) for x ≥ 1, as length(bin(x)) - 1 — the bit
    * length of the binary rendering. Exact and engine-portable where a
    * float log2 could flip at powers of two. */
  private def ilog2(x: Column): Column =
    (length(bin(x)) - 1).cast("long")

  /** log2(x) in SIXTEENTHS of a bit: 16·e + ((x − 2^e)·16) div 2^e
    * with e = ilog2(x) — the classic linear-mantissa-interpolation
    * log (error < 0.09 bits), MONOTONE and pure integer arithmetic,
    * so both engines produce the identical value for every count.
    * Whole-bit ilog2 is too coarse when two distributions differ by
    * factors well under 2 (every DSIR bucket ratio collapses to 0);
    * sixteenths resolve factors down to ~4%. Exact while x < 2^52
    * (pow(2.0,e) exactness bound) — counts, at any corpus size. */
  private[graft] def qlog2(x: Column): Column = {
    val e = (length(bin(x)) - 1).cast("long")
    val p = floor(pow(lit(2.0), e)).cast("long")
    lit(16L) * e + call_function("div", (x - p) * 16, p)
  }

  /** Bigram-LM surprisal scoring — the CCNet/KenLM-style "perplexity
    * filter" that ranks documents by how surprising they are under a
    * language model trained on the corpus itself, in EXACT integer
    * arithmetic. The model is the corpus bigram table; a bigram's
    * surprisal is the floored-log2 ratio ilog2(C(w1·)) − ilog2(C(w1,w2))
    * ≈ −log2 P(w2|w1) in whole bits (0 bits = the only continuation of
    * w1; more bits = rarer continuation). No transcendental is ever
    * evaluated, so scores are bit-identical across engines and fold
    * orders — the property float perplexity cannot give an oracle.
    *
    * Scale shape: ONE bigram explode feeds both the LM build (groupBy
    * (w1,w2) — vocabulary²-bounded output) and the per-doc term list,
    * which is pre-aggregated to (doc_id, w1, w2, tf) BEFORE the LM join
    * so repeated bigrams cross the join once; the LM side is
    * vocabulary-sized (AQE broadcasts while it fits — no pin, same
    * policy as the TF-IDF df join). Left-context totals derive from the
    * already-grouped LM table, never a second corpus pass. */
  def lmSurprisal(spark: SparkSession, sfDir: String): DataFrame =
    lmSurprisalFrame(spark, sfDir).orderBy("doc_id")

  /** PER-DOCUMENT SURPRISAL frame, built once per corpus snapshot —
    * the largest measured 100× constant of r11: THREE registered
    * queries ([[lmSurprisal]], [[doremiStep]], [[perplexityBuckets]])
    * each paid the full ~30 M-bigram LM build (95.8 s of the
    * perplexity-bucket 100× profile was the build; the tercile overlay
    * itself is sub-second). A production quality pipeline trains the
    * LM ONCE per corpus snapshot and every downstream scorer reads the
    * scored table; this frame is that materialization, and every
    * consumer gets the SAME rows (bit-identical by construction, and
    * spec-pinned against a scratch build).
    *
    * It is the `lm_surprisal` entry of [[graft.Tables.memo]], fronting
    * a DURABLE store (r13 verdict #5 — localCheckpoint blocks die with
    * the SparkContext; the scored frame was rebuilt from scratch by
    * every fresh JVM): on a memo miss, [[graft.plans.FrameStore]]
    * serves the per-doc frame off disk when its manifest matches the
    * corpus snapshot and rebuilds + writes it otherwise. A fresh JVM's
    * first LM consumer pays one tiny parquet read, not the ~30
    * M-bigram build. */
  private[graft] def lmSurprisalFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.memo(spark, Tables.snapshot(spark, sfDir, "documents"), "lm_surprisal") {
      val stored = graft.plans.FrameStore.serveOrBuild(spark,
          lmStoreKey(sfDir), sfDir, "documents") { dir =>
        lmSurprisalBuild(spark, sfDir).write.parquet(dir)
      }
      spark.read.parquet(stored.dir)
    }

  private[graft] def clearLmCache(): Unit = Tables.clear("lm_surprisal")

  // every LM store names the corpus by its qualified root, so a bare
  // path and a `file:` URI share one copy of each store
  private[graft] def lmStoreKey(sfDir: String) =
    s"lm-surprisal#${Tables.rootOf(sfDir, "documents")}#v1"
  private def lmStatsKey(sfDir: String) = s"lm-stats#${Tables.rootOf(sfDir, "documents")}#v1"

  /** Cold-soak seam for the DISK layer (the session entry is the
    * `lm_surprisal` memo): a true cold LM build must rebuild the stored
    * frame and the stats generations, not serve a prior run's. */
  private[graft] def purgeLmStore(sfDir: String): Unit = {
    graft.plans.FrameStore.purge(lmStoreKey(sfDir))
    graft.plans.FrameStore.purge(lmStatsKey(sfDir))
  }

  /** One scratch LM build + scoring pass (no catalog) — the body every
    * [[lmSurprisalFrame]] miss runs, kept separately callable so the
    * reuse spec can pin catalog hits bit-identical to a fresh build.
    * The intermediate persists (docBg feeds both the LM groupBy and
    * the scoring join; lm feeds the join and its own left margin) are
    * released as soon as the final frame is checkpointed — the pinned
    * frame is one narrow row per doc, the intermediates are
    * corpus-sized. */
  /** (doc_id, w1, w2, tf) bigram terms of an arbitrary docs frame —
    * the shared front half of [[lmSurprisalBuild]] and the stats
    * store's delta builds: counts over DISJOINT doc sets merge by
    * summation (the partial-aggregate law rel_incremental_agg pins),
    * which is exactly what makes the append-only LM maintenance below
    * sound. */
  private def docBigramsOf(df: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val pairs = transform(sequence(lit(0), size(ws) - 2),
      i => struct(element_at(ws, i + 1).as("w1"), element_at(ws, i + 2).as("w2")))
    graft.Tables.spread(df, col("doc_id"))
      .filter(size(ws) >= 2)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
  }

  private[graft] def lmSurprisalBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val docBg = docBigramsOf(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = docBg.groupBy("w1", "w2").agg(sum(col("tf")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val leftTot = lm.groupBy("w1").agg(sum(col("cnt")).as("left_cnt"))
    val scored = docBg.join(lm, Seq("w1", "w2")).join(leftTot, Seq("w1"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * (ilog2(col("left_cnt")) - ilog2(col("cnt"))))
          .as("surprisal_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        floor(lit(1000) * col("surprisal_bits") / col("n_bigrams"))
          .cast("long").as("surprisal_milli"))
      .localCheckpoint() // eager: materializes before the unpersists below
    docBg.unpersist()
    lm.unpersist()
    scored
  }

  /** On-disk LM BIGRAM-COUNT store with INCREMENTAL maintenance (r13
    * verdict #6) — [[graft.plans.FrameStore.refresh]] applied to the LM:
    * the store holds PARTIAL-count parquet GENERATIONS; an append-only
    * corpus change builds counts for the NEW doc files alone and appends
    * them as one more generation — delta cost ∝ delta size, nothing
    * corpus-wide runs — and readers merge generations with one
    * vocabulary-bounded groupBy-sum ([[lmCountsFromStats]]), sound
    * because bigram counts over disjoint doc sets ADD. */
  private[graft] def ensureLmStats(spark: SparkSession,
                                   sfDir: String): graft.plans.FrameStore.Refreshed =
    graft.plans.FrameStore.refresh(spark,
        graft.plans.FrameStore.dirFor(lmStatsKey(sfDir)), sfDir, "documents") { docs =>
      docBigramsOf(docs).groupBy("w1", "w2").agg(sum(col("tf")).as("cnt"))
        .repartition(col("w1"))
    }

  /** Merged bigram counts off the stats store — one vocabulary-bounded
    * groupBy-sum over however many partial generations the store
    * holds (an LSM read; compaction is just a full rebuild). */
  private[graft] def lmCountsFromStats(spark: SparkSession,
                                       sfDir: String): DataFrame =
    spark.read.parquet(ensureLmStats(spark, sfDir).dir)
      .groupBy("w1", "w2").agg(sum(col("cnt")).as("cnt"))

  /** [[lmSurprisal]] SERVED THROUGH THE DURABLE STATS STORE — the
    * dd_published_pairs move applied to the LM family: bigram counts
    * come off the on-disk generations ([[ensureLmStats]] + merge),
    * left-context totals derive from the merged counts, and only the
    * per-doc term list runs in-plan. The store's maintenance is
    * incremental (delta appends); this registered consumer proves the
    * served, possibly-multi-generation stats reproduce the monolithic
    * session build EXACTLY — it shares txt_lm_surprisal's oracle
    * verbatim. */
  def lmSurprisalFromStats(spark: SparkSession, sfDir: String): DataFrame = {
    // the persist looks redundant (ONE consumer — counts and left
    // totals both come off the stats store) and r15 tried dropping it:
    // in-region partial benches agreed (0.72 vs 0.79 s), but the FULL
    // 281-query sweep read 5.05 s min-of-3 / 140 task-s steady against
    // 0.79 s / 9.7 task-s with the persist — the unpersisted
    // tokenize+explode+agg fused into the scoring join degrades badly
    // under late-sweep JVM state (storage pool full of family
    // checkpoints). Kept: measured, not assumed (OPTIMIZATION_r15.md).
    val docBg = docBigramsOf(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = lmCountsFromStats(spark, sfDir)
    val leftTot = lm.groupBy("w1").agg(sum(col("cnt")).as("left_cnt"))
    docBg.join(lm, Seq("w1", "w2")).join(leftTot, Seq("w1"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * (ilog2(col("left_cnt")) - ilog2(col("cnt"))))
          .as("surprisal_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        floor(lit(1000) * col("surprisal_bits") / col("n_bigrams"))
          .cast("long").as("surprisal_milli"))
      .orderBy("doc_id")
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data" — public): split the corpus into head / middle / tail
    * TERCILES of per-token LM surprisal — the standard quality
    * partition a pretraining pipeline feeds to its mixture sampler
    * (head = most-fluent-under-the-LM third; CCNet trains on head+
    * middle and drops or down-weights tail). Surprisal is
    * [[lmSurprisal]]'s exact integer milli-bits; tercile boundaries
    * are EXACT (not sketched): surprisal_milli has a bounded value
    * range (0..~20000 milli-bits/token at ANY corpus size), so the
    * value histogram is a bounded codebook — one groupBy over docs,
    * a cumulative window over ≤ that many distinct values, and
    * boundary t_k = min v with 3·cum ≥ k·n in pure BIGINT compares.
    *
    * Scale shape: the LM build is [[lmSurprisalFrame]]'s — paid once
    * per session across the whole family, after which this query is
    * pure overlay: one doc-count agg, one bounded-histogram window,
    * a 1-row broadcast of (t1, t2), and a 3-row output agg over the
    * pinned per-doc frame. The bucket assignment never shuffles the
    * corpus. */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    // the catalog frame is already pinned rows (localCheckpoint), so
    // all three consumers (histogram, doc count, bucket agg) read the
    // checkpointed RDD directly — no second persist layer needed, and
    // no presentation sort (dead work between two shuffles).
    val s = lmSurprisalFrame(spark, sfDir)
      .select(col("doc_id"), col("surprisal_milli").as("v"))
    val hist = s.groupBy("v").agg(count(lit(1)).as("cnt"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wv))
    val stats = s.agg(count(lit(1)).as("n"))
    val bounds = cum.crossJoin(broadcast(stats))
      .agg(min(when(col("cum") * 3 >= col("n"), col("v"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("v"))).as("t2"))
    s.crossJoin(broadcast(bounds))
      .select(when(col("v") <= col("t1"), "head")
        .when(col("v") <= col("t2"), "middle")
        .otherwise("tail").as("bucket"), col("v"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("v")).as("min_milli"),
        max(col("v")).as("max_milli"),
        sum(col("v")).as("sum_milli"))
      .orderBy("bucket")
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public): score every document by
    * log[p_target(x)/p_raw(x)] under hashed-unigram bag-of-words models
    * of a TARGET distribution (here the `targetLang` slice standing in
    * for "high-quality domain") vs the RAW corpus — the principled
    * replacement for hand-tuned quality thresholds when matching a
    * pretraining mixture to a target domain. Laplace-smoothed bucket
    * probabilities, logs in SIXTEENTHS of a bit via [[qlog2]] (whole
    * bits collapse every bucket of a near-uniform pair to 0), so the
    * whole score is integer-exact and oracle-checkable — float log
    * ratios would drift across engines.
    *
    * Scale shape: one token-hash explode, pre-aggregated to (doc_id,
    * bucket, tf) before anything joins; BOTH model tables collapse to
    * ≤`buckets` rows (1024), so the per-bucket bit-ratio LUT and the
    * two 1-row totals are broadcast — the corpus crosses exactly two
    * exchanges (the doc-bucket pre-agg and the final doc agg) no
    * matter how many tokens it has. */
  def dsirWeights(spark: SparkSession, sfDir: String,
                  targetLang: String = "en", buckets: Int = 1024): DataFrame = {
    val toks = graft.Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(expr("word_poly_hashes(lower(text))")).as("h"))
      .select(col("doc_id"), col("lang"),
        pmod(col("h"), lit(buckets.toLong)).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = toks.groupBy("b").agg(sum(col("tf")).as("rcnt"))
    val tgt = toks.filter(col("lang") === targetLang)
      .groupBy("b").agg(sum(col("tf")).as("tcnt"))
    val rTot = raw.agg(sum(col("rcnt")).as("r_total"))
    val tTot = tgt.agg(sum(col("tcnt")).as("t_total"))
    val lut = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(rTot)).crossJoin(broadcast(tTot))
      .select(col("b"),
        ((qlog2(coalesce(col("tcnt"), lit(0L)) + 1) -
          qlog2(col("t_total") + buckets)) -
         (qlog2(col("rcnt") + 1) -
          qlog2(col("r_total") + buckets))).as("bits16"))
    toks.join(broadcast(lut), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("bits16")).as("logw_bits16"))
      .select(col("doc_id"), col("n_tokens"), col("logw_bits16"),
        floor(lit(1000) * col("logw_bits16") / col("n_tokens"))
          .cast("long").as("logw_milli16"))
      .orderBy("doc_id")
  }

  /** Per-document word-distribution SHANNON ENTROPY in sixteenth-bits
    * — the lexical-diversity quality signal (low entropy = repetitive
    * boilerplate; the type-token ratio's information-theoretic big
    * sibling), computed WITHOUT a single float log: H = Σ (tf/n)·
    * log2(n/tf) becomes Σ tf·(qlog2(n) − qlog2(tf)) in the
    * interpolated integer log of [[qlog2]], divided once at the end
    * into milli-bits per token. Exact, monotone, hash-gateable where
    * float entropy would drift in the 15th digit across engines.
    *
    * Scale shape: (doc, term, tf) pre-agg, then the per-doc total
    * rides a doc-keyed window over that pre-agg (same exchange as the
    * final doc aggregate — AQE plans one shuffle). Row-local
    * arithmetic everywhere else. */
  def wordEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val wD = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    graft.Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .withColumn("n_tokens", sum(col("tf")).over(wD))
      .groupBy("doc_id")
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(col("tf") * (qlog2(col("n_tokens")) - qlog2(col("tf"))))
          .as("entropy_16b"))
      .select(col("doc_id"), col("n_tokens"), col("entropy_16b"),
        floor(lit(1000) * col("entropy_16b") / (lit(16) * col("n_tokens")))
          .cast("long").as("mbits_per_token"))
      .orderBy("doc_id")
  }

  /** Tokenizer-vocabulary COVERAGE (OOV rate) — the measurement run
    * before committing to a vocabulary size: fix the vocab as the
    * top-`vocabSize` terms by corpus frequency (ties broken by term),
    * then score every document's out-of-vocabulary token share in
    * exact basis points. High-OOV documents are the ones a fixed
    * tokenizer will shred into bytes — the curation signal this query
    * exists to surface. (`vocabSize` defaults to 16 because the
    * synthetic corpus has ~31 distinct terms; a production run sets
    * 32k-128k against a real vocabulary distribution — the plan is
    * identical.)
    *
    * Scale shape: the corpus pre-aggregates to (doc_id, term, tf)
    * once; the frequency table is vocabulary-sized and its top-k is a
    * TakeOrdered over that bounded table; membership joins back as a
    * BROADCAST of `vocabSize` rows. Two corpus exchanges total. */
  def oovRate(spark: SparkSession, sfDir: String,
              vocabSize: Int = 16): DataFrame = {
    val toks = graft.Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy("w").agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        floor(lit(10000) * col("n_oov") / col("n_tokens")).cast("long")
          .as("oov_bp"))
      .orderBy("doc_id")
  }

  /** Quality-driven SOURCE pruning — the blocklist curation rule
    * (RefinedWeb/C4 practice: drop whole domains, not individual
    * documents, so near-dups within a bad site can't leak through
    * one-by-one): a source is BLOCKED when its mean document quality
    * falls below the corpus mean. The comparison is an exact
    * cross-multiplication of floored micro-unit quality sums
    * (sum_s·N < total·n_s) in DECIMAL(38,0) — never a float mean,
    * whose value depends on partition fold order (same discipline as
    * pipe_dataset_card's aggregate quality). Output is the surviving
    * corpus.
    *
    * Scale shape: one row-local quality pass collapses to a
    * |sources|-row table; the mean test consumes one broadcast 1-row
    * total; survivors materialize through a broadcast LEFT ANTI join
    * of the tiny blocklist against the corpus — the corpus itself is
    * never shuffled. */
  /** Per-doc floored micro-unit quality — the shared scoring pass of
    * the blocklist and the composite curation decision. */
  private[graft] def qualityMicroPerDoc(spark: SparkSession, sfDir: String): DataFrame =
    // spread: the composite quality (tokenize + distinct + regex per
    // row) is the CPU-bound projection the starvation guard exists for
    // — the local docs scan plans ≤3 splits and pipe_training_corpus's
    // persist materialized it near-single-task (0.49 s stage,
    // JobProfile r15). Identity at cluster scale (see Tables.spread).
    Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), col("source"),
        floor(compositeQuality * lit(1000000)).cast("long").as("q_micro"))

  /** The below-corpus-mean source set over an ALREADY-SCORED per-doc
    * frame (see [[sourceBlocklistSurvivors]] for the exactness
    * discipline) — |sources| rows, broadcastable. Taking the scored
    * DataFrame instead of re-deriving it lets every consumer pay the
    * row-local quality pipeline (tokenize, distinct, regex) ONCE and
    * share the persisted frame between the decision and the output
    * projection. */
  private[graft] def blockedSourcesOf(scored: DataFrame): DataFrame = {
    val bySrc = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("q_micro")).as("sum_micro"))
    val tot = bySrc.agg(sum(col("n_docs")).as("n_total"),
      sum(col("sum_micro")).as("micro_total"))
    bySrc.crossJoin(broadcast(tot))
      .filter(col("sum_micro").cast("decimal(38,0)") * col("n_total") <
        col("micro_total").cast("decimal(38,0)") * col("n_docs"))
      .select("source")
  }

  private[graft] def blockedSources(spark: SparkSession, sfDir: String): DataFrame =
    blockedSourcesOf(qualityMicroPerDoc(spark, sfDir))

  def sourceBlocklistSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted: the scored frame feeds BOTH the blocklist decision and
    // the survivor projection (caller clearCache()s after the action)
    val scored = qualityMicroPerDoc(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored
      .join(broadcast(blockedSourcesOf(scored)), Seq("source"), "left_anti")
      .select("doc_id", "source", "q_micro")
      .orderBy("doc_id")
  }

  /** The WHOLE curation decision in one query — the composite a
    * training-data run actually publishes: every document of the
    * source table gets ONE verdict under the standard precedence —
    * (the dedup stage runs over the seeded dup corpus, whose verdicts
    * project back onto the original ids through the join) —
    * domain blocklist first (cheapest, whole-source), then the quality
    * floor, then near-dup clustering (keep each cluster's min) — plus
    * the replacement pointer for dropped near-dups. Composes
    * [[blockedSources]] (broadcast, |sources| rows),
    * [[qualityMicroPerDoc]] (row-local), and
    * DedupOps.dedupSurvivors (LSH candidates → Jaccard verify → CC —
    * never all-pairs). The corpus crosses only the dedup pipeline's
    * own exchanges; blocklist and quality ride along as a broadcast
    * join and a row-local projection. Verdict precedence is a single
    * CASE, bit-identical in both engines. */
  def trainingCorpusDecision(spark: SparkSession, sfDir: String,
                             qualityFloorMicro: Long = 400000L): DataFrame = {
    val surv = graft.operators.DedupOps.dedupSurvivors(spark, sfDir)
      .select(col("doc_id"), col("keep_id"), col("is_kept"))
    // one quality pass shared by the blocklist and the output (persisted,
    // caller clearCache()s — the oracle's qq CTE is computed once too)
    val scored = qualityMicroPerDoc(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blocked = blockedSourcesOf(scored).withColumn("blocked", lit(1L))
    scored
      .join(surv, "doc_id")
      .join(broadcast(blocked), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("q_micro"),
        when(col("blocked").isNotNull, lit("blocked_source"))
          .when(col("q_micro") < qualityFloorMicro, lit("low_quality"))
          .when(col("is_kept") === 0L, lit("near_duplicate"))
          .otherwise(lit("kept")).as("verdict"),
        col("keep_id"))
      .orderBy("doc_id")
  }

  /** SPARSE lexical top-k document similarity — the inverted-index twin
    * of the dense ANN stack (term-at-a-time retrieval over TF-IDF
    * weights; Zobel & Moffat's survey is the public reference). Related-
    * document serving and lexical near-dup candidate generation both run
    * exactly this dataflow; it complements [[graft.operators.
    * SimilarityOps.knnGraph]] the way BM25 complements embedding
    * retrieval in `sim_hybrid_rrf`.
    *
    * Features are word BIGRAMS (the synthetic corpus has a ~31-word
    * vocabulary — unigram postings would be all stop-terms); weights are
    * integer TF-IDF (`tf * (1000000 DIV df)`, exact BIGINT both
    * engines). The scale control is the DF CAP: terms with df > cap are
    * dropped as stop-terms BEFORE any pair forms, so candidate volume is
    * Σ_t df_t² ≤ cap · Σ_t df_t over surviving postings — the sparse
    * analogue of LSH band width, and the reason this is never an
    * all-pairs join. As the corpus grows, terms CROSS OUT of the cap
    * (df rises), keeping per-term join fan-in bounded; df=1 terms
    * drop too (no pair can form). Scoring joins postings term-at-a-time
    * (one equi-join on term), pairs aggregate once per unordered pair,
    * and per-anchor ranking runs through the bounded O(k) TopK
    * aggregator — k rows per partition cross the final exchange, no
    * rank window over candidates. */
  def sparseRelatedDocs(spark: SparkSession, sfDir: String,
                        dfCap: Int = 50, k: Int = 3): DataFrame = {
    val ws = words(col("text"))
    val terms = docs(spark, sfDir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"""
          .stripMargin)).as("t"))
    val tf = terms.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
    // persisted: the pair self-join reads the weighted postings twice
    // (caller clearCache()s per the ops contract)
    val w = tf.join(dfT, "t")
      .select(col("doc_id"), col("t"), expr("tf * (1000000 DIV df)").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = w.as("a").join(w.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-anchor top-k as a rank window — WindowGroupLimit(Partial)
    // bounds the exchange to k rows per (anchor, partition), and the
    // anchor count here is the WHOLE corpus, the exact shape where the
    // typed TopK aggregator degrades (its object hash agg falls back to
    // an object sort past 128 groups — the r11 knnGraph finding). The
    // integer dot orders natively; no double roundtrip.
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor").orderBy(col("dot").desc, col("neighbor"))
    pairs.select(col("da").as("anchor"), col("db").as("neighbor"), col("dot"))
      .union(pairs.select(col("db"), col("da"), col("dot")))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("anchor", "rank")
  }

  /** Heavy hitters by sketch-then-recount — the two-pass discipline
    * every production frequent-items job uses (candidates from a
    * constant-memory [[graft.functions.MisraGries]] summary, final
    * counts from an EXACT pass restricted to those ≤cap candidates):
    * reports every token whose frequency is ≥ `permille`‰ of the
    * corpus, with exact counts and floored basis points. The answer is
    * deterministic BY CONSTRUCTION even though a sketch is involved —
    * MG provably retains every item above N/(cap+1) < the report
    * threshold, and the threshold filter runs on exact recounts, so
    * sketch noise (extra candidates, deflated estimates) can never
    * surface. The vocabulary-collapse twin of [[cmsTermCounts]]'
    * point-probe estimates.
    *
    * Scale shape: pass 1 folds the corpus map-side into ≤cap counters
    * per task (the TopKAggregator partial-agg contract — the shuffle
    * carries cap rows per partition, never the vocabulary); the
    * candidate array that reaches the driver is ≤cap strings —
    * metadata-scale, like every loop bound in this repo. Pass 2 is one
    * filtered count whose group-by key set is ≤cap. The token scan is
    * shared across passes via persist. */
  def heavyHitters(spark: SparkSession, sfDir: String, cap: Int = 127,
                   permille: Int = 20): DataFrame = {
    // permille/1000 > 1/(cap+1): the report threshold must exceed the MG
    // retention guarantee or the recount could miss a qualifying item
    require(permille * (cap + 1) > 1000,
      s"threshold $permille‰ is below the MG guarantee 1/${cap + 1}")
    val w = Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(explode(words(col("text"))).as("word"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val head = w.agg(
      graft.functions.MisraGries.candidates(cap)(col("word")).as("cands"),
      count(lit(1)).as("n")).head()
    val cands = head.getSeq[String](0)
    val total = head.getLong(1)
    w.filter(col("word").isin(cands: _*))
      .groupBy("word").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") * 1000 >= lit(total) * permille)
      .select(col("word"), col("n_occ"),
        expr(s"n_occ * 10000 DIV $total").as("freq_bp"))
      .orderBy(col("n_occ").desc, col("word"))
  }

  /** N-gram novelty curve across release batches — the "is more data
    * still adding information" diagnostic a corpus-growth decision
    * hangs on (the saturation curves in web-scale dedup literature):
    * documents are split into `batches` release batches by doc_id, and
    * each batch reports how many of its distinct word-3-gram hashes are
    * FIRST SEEN in that batch (novelty, floored bp) plus the cumulative
    * distinct-gram count — the knee of that curve is where another
    * crawl of the same sources stops paying.
    *
    * Scale shape: the corpus collapses to distinct (batch, gram-hash)
    * pairs in ONE map-side-combined shuffle (the dedup-tier discipline);
    * first-seen is a min over the ≤batches values per hash; every
    * report row is batch-count-sized, and the cumulative window runs
    * over `batches` rows, not data. Gram identity is the dedup tiers'
    * COMBINED word-hash trigram (native codegen shingle3_hashes — one
    * tight loop per row) rather than a materialized "w1 w2 w3" string
    * hashed char-by-char: the string spelling priced this query at the
    * top of the sf0.1 sweep for the identical information. */
  def ngramNovelty(spark: SparkSession, sfDir: String,
                   batches: Int = 8): DataFrame = {
    val d = Tables.spread(docs(spark, sfDir), col("doc_id"))
    // manifest count, not a scan job (see Tables.rowCount; spread is
    // row-preserving so the documents count IS this frame's count)
    val total = Tables.rowCount(spark, sfDir, "documents")
    val bs = (total + batches - 1) / batches
    val g = d
      .select(expr(s"doc_id DIV $bs").as("batch"),
        explode(expr("shingle3_hashes(word_poly_hashes(lower(text)))"))
          .as("gh"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perBatch = g.groupBy("batch").agg(count(lit(1)).as("n_distinct"))
    val news = g.groupBy("gh").agg(min(col("batch")).as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("n_new"))
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.orderBy("batch")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    perBatch.join(news, Seq("batch"), "left")
      .select(col("batch"), col("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("novelty_bp", expr("n_new * 10000 DIV n_distinct"))
      .withColumn("cum_distinct", sum(col("n_new")).over(wCum))
      .orderBy("batch")
  }

  /** Deterministic seeded corpus shuffle + shard assignment — the
    * reproducible "random" document order a pretraining run needs
    * (same seed ⇒ byte-identical epoch order on any cluster, any
    * partitioning, any rerun; a new seed reshuffles): order = md5 of
    * (seed, doc_id), position = exact global rank of that hash, shard
    * = position DIV shardSize. Reported per shard (count, distinct
    * sources, id checksum, first hash) — the manifest a shard-export
    * job writes next to the data ([[shardExport]]'s ordering twin).
    *
    * Scale shape: the global rank uses [[TwoLevelRank]] with the
    * hash's first hex nibble as the monotone range bucket — 16-way
    * parallel numbering plus a broadcast offset table, never a
    * single-task global sort; everything else is one map-side-combined
    * group-by on shard. The hash is effectively collision-free, but
    * doc_id still rides as the rank tiebreaker so determinism never
    * rests on that assumption. */
  def shuffleOrder(spark: SparkSession, sfDir: String,
                   seed: String = "epoch1", shardSize: Int = 64): DataFrame = {
    val d = Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), col("source"),
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))).as("h"))
    TwoLevelRank.withRank(
        d.withColumn("vb", substring(col("h"), 1, 1)),
        Seq.empty, asc = true, col("h"), col("doc_id"))
      .withColumn("shard", expr(s"(rnk - 1) DIV $shardSize"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("sum_ids"),
        min(col("h")).as("first_hash"))
      .orderBy("shard")
  }

  /** Good–Turing frequency smoothing (Good 1953, public — the OTHER
    * classic next to [[kneserNeyBigrams]]): from the word-frequency
    * count-of-counts table N_r = |{types seen exactly r times}|, the
    * Turing estimate reassigns each count r to
    * r* = (r+1)·N_{r+1}/N_r — the mass the singletons surrender to
    * unseen events (the missing-mass estimate N_1/N is row r=1). What
    * an n-gram-LM build computes corpus-wide before smoothing, and a
    * vocabulary-coverage readout ("how much probability do my hapaxes
    * really deserve") during corpus curation.
    *
    * Exactness: r* is reported in thousandths via BIGINT floor division
    * ((r+1)·1000·N_{r+1} div N_r) — no float ratio, so both engines
    * bit-agree; rows where N_{r+1} is empty report 0 (the classic
    * estimator is undefined there — production smoothers switch to a
    * fitted line; the raw table IS the input to that fit).
    *
    * Scale shape: corpus → word counts is ONE map-side-combined
    * shuffle; the count-of-counts table is tiny (distinct r values grow
    * ~log of corpus size), so the r+1 self-join and the ordering are
    * free. `maxR` bounds the report to the head where N_r is dense. */
  def goodTuring(spark: SparkSession, sfDir: String,
                 maxR: Int = 30): DataFrame = {
    val wc = graft.Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("r"))
    val cc = wc.groupBy("r").agg(count(lit(1)).as("n_types"))
    val next = cc.select((col("r") - 1).as("r"), col("n_types").as("n_next"))
    cc.join(next, Seq("r"), "left")
      .filter(col("r") <= maxR)
      .select(col("r"), col("n_types"),
        coalesce(expr("(r + 1) * 1000 * n_next DIV n_types"), lit(0L))
          .as("rstar_milli"))
      .orderBy("r")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, public) — the
    * unsupervised graph-ranking alternative to TF-IDF term weighting:
    * words become nodes, adjacent-word co-occurrence becomes undirected
    * edges, and [[graft.operators.GraphOps.pageRankOf]]'s integer-exact
    * power iteration scores centrality; the top of the ranking is the
    * corpus's keyword vocabulary (the seed list for taxonomy build-out
    * or quality-filter lexicons). Words under 4 chars are stopword-
    * proxied out; self-loops (stuttered words) dropped.
    *
    * Scale shape: the corpus collapses to the DISTINCT co-occurrence
    * edge set in one map-side-combined exchange (vocabulary², sparse —
    * grows ~log with corpus size, the bounded-term-table discipline of
    * the diagnostics family), and the rank iteration runs entirely on
    * that vocabulary-sized graph with the shared pageRankOf machinery
    * (checkpointed rounds, observe-metric fixpoint). Top-20 is a
    * TakeOrdered over the vocabulary table — no global sort. The
    * 20-row rank window runs AFTER the limit: driver-sized. The
    * tokenized frame is persisted: the pairs build and the node list
    * both read it, and the distinct undirected edge list is persisted
    * for its two mirror reads — without the pins the corpus tokenize
    * scan runs three times — the shared-build discipline of
    * [[graft.operators.DedupOps.lshQuality]]. Caller releases via
    * clearCache() after the consuming action. */
  def textrankKeywords(spark: SparkSession, sfDir: String,
                       iters: Int = 3, topK: Int = 20): DataFrame =
    textrankKeywordsOn(docs(spark, sfDir), iters, topK)

  /** The ranking over an arbitrary (doc_id, text) frame — split out so
    * the sub-2-word guard is testable on synthetic corpora. */
  private[graft] def textrankKeywordsOn(d: DataFrame,
                                        iters: Int = 3,
                                        topK: Int = 20): DataFrame = {
    val ws = Tables.spread(d, col("doc_id"))
      .select(words(col("text")).as("ws"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // sub-2-word docs: sequence(0, size-2) would run DESCENDING into
    // element_at(ws, 0) and throw — guard like [[wordShingles]] (the
    // DuckDB range(1, len) spelling is simply empty there)
    val pairs = ws
      .select(explode(when(size(col("ws")) >= 2,
        transform(sequence(lit(0), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i + 1).as("a"),
            element_at(col("ws"), i + 2).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>")))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(length(col("a")) >= 4 && length(col("b")) >= 4 &&
        col("a") =!= col("b"))
    // canonical-orientation distinct, THEN mirror (r15, guide §2.3
    // shuffle fewer bytes): the mirror-then-distinct spelling shuffled
    // 2× the co-occurrence volume through the distinct; least/greatest
    // canonicalizes row-locally, the distinct dedups half the rows, and
    // the mirror runs over the already-distinct edge set. Same edge set
    // (a ≠ b always), same ranks. The persist moves from the raw pair
    // stream to the far smaller distinct edge list (its two mirror
    // reads), so pairs itself streams once.
    val und = pairs
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
    val nodes = ws.select(explode(col("ws")).as("node"))
      .filter(length(col("node")) >= 4).distinct()
    val (ranks, _) = GraphOps.pageRankOf(nodes, edges, iters)
    val top = ranks.orderBy(col("pr").desc, col("node"))
      .limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pr").desc, col("node"))
    top.select(row_number().over(w).cast("long").as("rank_pos"),
        col("node").as("word"), col("pr"))
      .orderBy("rank_pos")
  }

  /** One domain-reweighting step of the DoReMi scheme (Xie et al.
    * 2023, "Doremi: Optimizing Data Mixtures" — public), linearized:
    * DoReMi upweights domains where the proxy model's EXCESS LOSS over
    * a reference is largest (multiplicative-weights update). Here the
    * proxy loss is the integer bigram surprisal ([[lmSurprisal]] —
    * mean milli-bits per source), the reference is the corpus mean,
    * and the exponential update is LINEARIZED to stay integer-exact:
    * factor = 1000 + clamp(excess_milli, 0, 1000) per source (only
    * hard-er-than-average domains move, one learning-rate-1 step),
    * renormalized to ppm. The real recipe iterates this with a
    * retrained proxy; ONE deterministic step is the engine's unit of
    * work and the whole loop is this query re-run against new proxy
    * scores.
    *
    * Scale shape: rides [[lmSurprisalFrame]]'s session-cached build
    * (free after the first family consumer); the source rollup,
    * corpus total and factor normalization all happen on the
    * |sources|-bounded table with broadcast 1-row totals. */
  def doremiStep(spark: SparkSession, sfDir: String,
                 clampMilli: Long = 1000L): DataFrame = {
    // catalog frame, unsorted: the source rollup re-aggregates, so
    // lmSurprisal's presentation sort would be dead work here
    val perDoc = lmSurprisalFrame(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")),
        "doc_id")
    val bySrc = perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("nb"),
        sum(col("surprisal_bits")).as("sb"))
      .withColumn("src_milli", expr("1000 * sb DIV nb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tot = bySrc.agg(sum(col("nb")).as("tnb"), sum(col("sb")).as("tsb"))
    val scored = bySrc.crossJoin(broadcast(tot))
      .withColumn("excess_milli",
        col("src_milli") - expr("1000 * tsb DIV tnb"))
      .withColumn("factor_milli", lit(1000L) +
        greatest(lit(0L), least(col("excess_milli"), lit(clampMilli))))
    val fsum = scored.agg(sum(col("factor_milli")).as("fsum"))
    scored.crossJoin(broadcast(fsum))
      .select(col("source"), col("n_docs"),
        col("src_milli").as("mean_surprisal_milli"),
        col("excess_milli"), col("factor_milli"),
        expr("factor_milli * 1000000 DIV fsum").as("weight_ppm"))
      .orderBy("source")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * — the MOSS algorithm, public): from each document's POSITIONAL
    * trigram-hash sequence, select the minimum hash of every
    * w-consecutive window — the provably-gap-bounded fingerprint set
    * that catches any shared run of ≥ w+2 words regardless of
    * alignment (the guarantee threshold), at an expected density of
    * 2/(w+1) instead of every gram. The selected set is the
    * plagiarism/near-copy index tier BETWEEN block dedup (cheaper,
    * alignment-fragile) and full shingle Jaccard (denser): only
    * fingerprints, never full gram sets, go to the shared-hash join.
    * Reported per document: gram count, selected-fingerprint count,
    * realized density in bp, and the fingerprint extrema as identity.
    *
    * Scale shape: selection is entirely ROW-LOCAL higher-order array
    * math inside the projection (windows via transform over an index
    * sequence, min per slice, distinct) — zero shuffle; the one
    * ordering is presentation. At 100 TB the fingerprint EXPLODE that
    * would follow (doc_id, fp) is ~2/(w+1) of the shingle explode the
    * Jaccard tier pays — that ratio is this operator's value. */
  def winnowing(spark: SparkSession, sfDir: String, w: Int = 4): DataFrame =
    Tables.spread(docs(spark, sfDir), col("doc_id"))
      .select(col("doc_id"),
        expr("shingle3_hashes(word_poly_hashes(lower(text)))").as("hs"))
      .filter(size(col("hs")) >= w)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"),
        array_distinct(transform(sequence(lit(0), size(col("hs")) - w),
          i => array_min(slice(col("hs"), i + 1, lit(w))))).as("fps"))
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        expr(s"size(fps) * 10000 DIV (n_grams - ${w - 1})").as("density_bp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy("doc_id")

  /** l-diversity audit (Machanavajjhala et al. 2007, public) — the
    * release gate that catches what k-anonymity misses: a
    * quasi-identifier group can be large (k-safe) yet expose everyone
    * in it because the SENSITIVE attribute is uniform. Over the same
    * QI lattice as [[kAnonymize]]'s coarse level (source ×
    * length-div-200 bucket), report each group's size, its distinct
    * sensitive values (lang), and whether it clears l ≥ 2 — groups
    * that fail need suppression or further generalization before
    * export even when k passes.
    *
    * Scale shape: ONE map-side-combined groupBy on the narrow QI
    * projection with a distinct-count of a low-cardinality attribute —
    * the corpus never moves; the report is QI-lattice-sized. */
  def lDiversity(spark: SparkSession, sfDir: String, l: Int = 2): DataFrame =
    docs(spark, sfDir)
      .select(col("source"), expr("length(text) DIV 200").as("bucket"),
        col("lang"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("l_langs"))
      .withColumn("diverse", col("l_langs") >= l)
      .orderBy("source", "bucket")
}
