package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline:
  * token statistics, language ID, quality scoring, fingerprinting.
  * All pure column expressions (whole-stage codegen, no UDFs) — they
  * run as a single scan projection at 100 TB with zero shuffles.
  */
object TextOps {

  /** Whitespace tokens (the corpus is space-separated lowercase text). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count without materializing the array. */
  def tokenCount(text: Column): Column = regexp_count(text, lit("[^ ]+"))

  /** BPE-ish subword count: alphanumeric runs + punctuation singles
    * (approximates tokenizer granularity for budget estimation). */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z0-9]{1,4}|[^a-zA-Z0-9 ]"))

  /** Mean token length, computed without a lambda so the oracle can
    * mirror it exactly: chars-without-spaces / tokens. */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      tokenCount(text).cast("double")

  /** Ratio of distinct tokens (repetition detector). */
  def uniqueTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      tokenCount(text).cast("double")

  /** Stopword hit ratio against a tiny English marker list. */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")
  def stopwordRatio(text: Column): Column = {
    val dict = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(dict, t))).cast("double") /
      tokenCount(text).cast("double")
  }

  /** n-gram-marker language ID heuristic: first marker list with >= 2
    * hits wins, checked in a deterministic order. The engine analog of
    * fastText-style langid for pipelines without model deps. */
  def langId(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of"),
      "da" -> Seq("og", "det", "en"),
      "de" -> Seq("der", "und", "die"))
    val padded = concat(lit(" "), text, lit(" "))
    def score(ws: Seq[String]): Column =
      ws.map(w => when(padded.contains(s" $w "), 1).otherwise(0))
        .reduce(_ + _)
    markers.foldRight(lit("und"): Column) { case ((lang, ws), els) =>
      when(score(ws) >= 2, lit(lang)).otherwise(els)
    }
  }

  /** Composite quality score in [0,1]: length, lexical diversity,
    * stopword naturalness — the usual pre-training quality gate. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    lit(0.4) * lenScore +
      lit(0.3) * uniqueTokenRatio(text) +
      lit(0.3) * least(stopwordRatio(text) * lit(5.0), lit(1.0))
  }

  /** 64-bit content fingerprint (xxhash64 of normalized text) — the
    * cheap exact-dup key; rolling/shingled variants live in Dedup. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(trim(text), "\\s+", " "))

  // ----------------------------------------------------------- queries

  /** Per-document statistics (oracle-checked). */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"),
      avgTokenLen(col("text")).as("avg_token_len"),
      uniqueTokenRatio(col("text")).as("unique_ratio"))

  /** Corpus profile per language label (oracle-checked). */
  def langProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        Relational.dsum(col("n_chars").cast("double")).as("total_chars"),
        sum(tokenCount(col("text"))).as("total_tokens"))

  /** Heuristic language ID vs the labeled lang (oracle-checked). */
  def langIdQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      langId(col("text")).as("detected_lang"))

  /** Quality gate: score each doc, keep the passing set (oracle-checked). */
  def qualityQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        round(qualityScore(col("text")), 6).as("quality"))
      .filter(col("quality") >= 0.5)

  /** Corpus token budget per source: whitespace tokens + BPE-ish
    * subwords (oracle-checked) — the sizing query a training-data
    * pipeline runs before a tokenization pass. */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).cast("long").as("total_tokens"),
        sum(subwordCount(col("text"))).cast("long").as("total_subwords"))

  /** Exact token-count quantiles per source (R-7 linear interpolation,
    * the formula `percentile`/quantile_cont evaluate), computed on the
    * per-source token-count HISTOGRAM instead of Percentile's
    * collect-the-group buffer. Percentile materializes every group
    * value in one aggregation task — group-row-sized state, the
    * grouped cousin of the q119 single-task class — while the
    * histogram is bounded by the token VALUE RANGE (max tokens per
    * document), so per-task state at 100 TB is value-range-sized
    * regardless of how many documents a source holds: the q136
    * rank-at-ceil device generalized to interpolated ranks. The
    * oracle mirrors the identical histogram + interpolation
    * expression, so the hash stays exact by construction. */
  def tokenQuantiles(s: SparkSession, d: String): DataFrame = {
    val t = tokenCount(col("text")).cast("double")
    // null token-counts (null text) must not enter n: Percentile
    // ignored nulls, and Spark's nulls-first ascending sort vs
    // DuckDB's nulls-last window order would shift every rank —
    // null-equivalence by construction, not by generator contract
    val hist = Tables.documents(s, d)
      .filter(t.isNotNull)
      .groupBy(col("source"), t.as("t"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    val r = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    // 0-based interpolated position h = (n-1)*q; the value at 0-based
    // rank k is the first histogram row whose cumulative count
    // reaches k+1
    def pos(q: Double): Column = (col("n") - 1).cast("double") * lit(q)
    def vAt(rank0: Column): Column =
      min(when(col("cum") >= rank0 + 1, col("t")))
    val aggs = max(col("n")).as("n") +: Seq(
      (0.5, "50"), (0.9, "90"), (0.99, "99")).flatMap { case (q, tag) =>
      Seq(vAt(floor(pos(q))).as(s"lo$tag"),
        vAt(ceil(pos(q))).as(s"hi$tag"))
    }
    def interp(q: Double, tag: String): Column = {
      val p = pos(q)
      val loR = floor(p)
      val hiR = ceil(p)
      round(when(loR === hiR, col(s"lo$tag"))
        .otherwise((hiR.cast("double") - p) * col(s"lo$tag")
          + (p - loR.cast("double")) * col(s"hi$tag")), 6).as(s"p$tag")
    }
    r.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      .select(col("source"),
        interp(0.5, "50"), interp(0.9, "90"), interp(0.99, "99"))
  }

  /** Corpus heavy hitters: the top-k most frequent tokens. Exact
    * (map-side partial counts -> one shuffle on the token -> top-k via
    * TakeOrderedAndProject); at 100 TB the same query shape runs over
    * a count-min-sketch pre-pass to cap the shuffle at the candidate
    * set. */
  def heavyHitters(s: SparkSession, d: String, k: Int = 20): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Oracle-checkable fingerprint: the SAME normalization as
    * [[fingerprint]] (trim + collapse whitespace runs) keyed by the
    * first 15 hex nibbles of md5(normalized text) decoded to a 60-bit
    * integer — the nibble arithmetic of [[Curation.simhashMd5]], so a
    * DuckDB oracle reproduces the key bit-for-bit. `seed` domain-
    * separates the key (md5(seed || normalized)) so several
    * fingerprint families coexist without collisions: q41 runs the
    * seeded variant, q91 the bare one — both hash-matched, pinning
    * the normalize-then-hash shape end to end. */
  def fingerprintMd5Query(s: SparkSession, d: String,
      seed: String = ""): DataFrame = {
    val h = md5(concat(lit(seed),
      regexp_replace(trim(col("text")), "\\s+", " ")))
    val fp = conv(substring(h, 1, 15), 16, 10).cast("long")
    Tables.documents(s, d).select(col("doc_id"), fp.as("fp60"))
  }

  /** Fixed-window document chunking with stride overlap — the
    * sequence-packing prep step of a pre-training pipeline: chunk i
    * covers tokens [i*stride, i*stride + size), the final chunk may
    * run short, and consecutive chunks overlap by (size - stride)
    * tokens so no span is lost at a boundary.
    *
    * Shape: tokens explode once with their position; each token fans
    * out to the <= ceil(size/stride) chunks containing it (a
    * codegen'd sequence bound, not a membership join); chunk text
    * reassembles under one (doc, chunk) aggregation with an explicit
    * in-chunk sort — order never depends on shuffle arrival. One
    * shuffle total, memory bounded by chunk size, never whole-doc
    * arrays at the aggregation. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    // i_min = max(0, floor((p - (size - stride)) / stride)): a negative
    // numerator (chunk 0 still covers p) floors below zero and clips
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("p", "t")))
      .select(col("doc_id"), col("p"), col("t"),
        explode(sequence(
          greatest(floor((col("p") - (size - stride)) / lit(stride)),
            lit(0L)),
          floor(col("p") / lit(stride)))).as("chunk_id"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("t")))),
          x => x.getField("t")), " ").as("chunk_text"),
        count(lit(1)).cast("long").as("n_tok"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"), col("n_tok"))
  }

  def chunkQuery(s: SparkSession, d: String): DataFrame =
    chunkDocuments(Tables.documents(s, d), "doc_id", "text",
      size = 32, stride = 24)

  /** Gopher-style repetition signal: the fraction of a document's word
    * 2-grams accounted for by its single most frequent 2-gram (boilerplate
    * and template spam score close to 1; natural text stays low). Computed
    * entirely inside the row — build the gram array, sort it, fold for the
    * longest equal-run — so it is a pure scan projection with zero
    * shuffles: the same one-pass cost as the other quality gates at 100 TB,
    * and composable into `qualityScore`-style filters for free. */
  def topGramFraction(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val grams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    val best = aggregate(
      array_sort(grams),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    round(best.cast("double") / (n - 1).cast("double"), 6)
  }

  /** Per-doc top-2-gram fraction over docs with at least one 2-gram
    * (oracle-checked against a DuckDB unnest+group mirror). */
  /** Corpus-unigram LM score per document (the CCNet-style perplexity
    * filter, with the trained LM replaced by the corpus's own unigram
    * model): mean negative log-likelihood
    *   nll(doc) = -(1/dl) * SUM_pos ln(count(tok) / total_tokens)
    * Low = boilerplate-like (all common tokens), high = rare-token
    * soup; pipelines keep the middle band.
    *
    * Determinism: the per-doc sum runs in TOKEN-POSITION order — each
    * doc's (pos, ln p) pairs are collected, sorted, and folded
    * left-to-right with `aggregate`, exactly the ordered list_sum the
    * DuckDB mirror computes — because a groupBy float sum has
    * data-dependent order and would wobble past round-6 on 99-term
    * docs. Scale shape: one exploded count agg for the vocabulary
    * (map-side combined), a shuffle join of tokens to their counts on
    * the term key, and one per-doc aggregation; vocabulary stays
    * distributed (never broadcast — at 100 TB it is large), docs fold
    * in-row. */
  def unigramNll(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "t")))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    // N from the vocab table (sum of counts), not a second corpus scan
    val total = vocab.agg(sum(col("cnt")).as("total"))
    // score the VOCAB first, then attach (r19, same device as the
    // bigram build): -ln(cnt/total) is a function of the term, so
    // computing it once per vocab entry instead of once per token
    // position attaches the identical double with the same one join
    // and drops a log+divide per corpus position
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("t"),
        (-log(col("cnt").cast("double") / col("total").cast("double")))
          .as("nlp"))
    toks.join(scored, "t")
      .select(col("doc_id"), col("pos"), col("nlp"))
      .groupBy(col("doc_id"))
      .agg(round(
        aggregate(
          transform(
            sort_array(collect_list(struct(col("pos"), col("nlp")))),
            st => st.getField("nlp")),
          lit(0.0), (acc, x) => acc + x) / count(lit(1)), 6)
        .as("mean_nll"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge-candidate mining: the top adjacent-token pairs by
    * corpus frequency — the statistic the first byte-pair-encoding
    * merge round is chosen from (and each later round re-runs on the
    * merged stream). One exploded scan, a lead-window pair within each
    * doc, one count aggregation, and a bounded top-k with a total
    * (cnt DESC, a, b) order so the selected set is deterministic in
    * both engines. Scale shape: the pair key space is vocabulary², not
    * corpus-sized; counting is map-side combined; selection is
    * TakeOrderedAndProject, never a global sort. */
  def bpePairMining(s: SparkSession, d: String, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "t")))
      .select(col("doc_id"), col("t").as("a"),
        lead(col("t"), 1).over(w).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Interpolated bigram-LM perplexity score — the CCNet-style quality
    * signal: per-document mean negative log-likelihood under a corpus
    * bigram model backed off to unigrams,
    * p(w2|w1) = 0.7*c2(w1,w2)/c1(w1) + 0.3*c1(w2)/N.
    * Extends [[unigramNll]] (q106) with bigram context; low scores are
    * fluent-under-the-corpus, high scores are outliers.
    *
    * Oracle-able by the same devices: every count is exact BIGINT, the
    * per-position probability is a fixed parenthesization of IEEE ops
    * (both lambda literals are explicit doubles — DuckDB would
    * otherwise parse 0.7 as DECIMAL and round differently), and the
    * per-document fold runs in position order; round-6 absorbs ln ulp.
    * Scale shape: counting is map-side combined on term keys; the
    * per-doc fold reuses the lead-window's doc_id partitioning.
    *
    * The docs-sized score table is build-once: both consumers (q116's
    * direct read, q119's bucket labeling — which reads it TWICE, once
    * for cutoffs and once for labels) reuse one memoized persisted
    * copy. The memo key is the PRE-cut token plan — deterministic per
    * (session, dataset) — because the eager `cut` inside produces a
    * fresh LogicalRDD each call, which can never key a memo (the r12
    * q119 regression: keying on the post-cut plan made every call a
    * miss, re-tokenizing the corpus per invocation). Cut + persist +
    * materialize all run inside the build block, so the token-stream
    * bill lands in `memo_build_s`, not on whichever query calls first.
    */
  def bigramNll(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // ONE tokenize + ONE lead-window sort, cut so the three derived
    // tables (unigram counts, bigram counts, per-position pairs) read
    // the materialized result instead of re-scanning + re-sorting the
    // corpus three times. Rows with b IS NULL (each doc's last token)
    // stay in: every token appears exactly once as `a`, so unigram
    // counts fall out of the same table.
    // re-grain by the window's own partition key before the token
    // explode (r17): the exchange moves doc rows, not the token
    // stream, and a 1-split scan no longer serializes the explode
    val tokenPlan = graft.GraftSession.fanoutRegrain(
      Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"), col("t").as("a"),
        lead(col("t"), 1).over(w).as("b"))
    val scored =
      IndexMemo.getOrBuild[DataFrame]("pplScores", "", Seq(tokenPlan)) {
        val paired = graft.GraftSession.cut(tokenPlan)
        val uni = paired.groupBy(col("a").as("t"))
          .agg(count(lit(1)).as("c1"))
          .select(col("t"), col("c1"))
        // N from the vocab table, not a second corpus scan
        val total = uni.agg(sum(col("c1")).as("n"))
        val bi = paired.filter(col("b").isNotNull)
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
        val pairs = paired.filter(col("b").isNotNull)
        val p =
          lit(0.7) *
            (col("c2").cast("double") / col("c1a").cast("double")) +
            lit(0.3) *
              (col("c1b").cast("double") / col("n").cast("double"))
        // Score DISTINCT BIGRAMS first, then attach (r19, guide §2.3
        // "shuffle keys and metadata instead of payloads" / §8): the
        // former shape joined the #tokens-row pair stream against bi,
        // uni(a) and uni(b) in turn — three full shuffles of the token
        // stream at vocabulary-keyed grain. The model is a function of
        // the BIGRAM, not the token position, so the three joins only
        // need the distinct-bigram table (= bi's own grain, orders of
        // magnitude smaller); the position stream then attaches the
        // finished per-bigram score with ONE join, which AQE broadcasts
        // whenever the scored bigram table fits. The per-position nlp
        // is the identical double — same expression tree over the same
        // (c2, c1a, c1b, n) values, evaluated once per bigram instead
        // of once per position — so the position-ordered IEEE fold
        // below is bit-identical to the oracle's.
        val bigramScore = bi
          .join(uni.select(col("t").as("a"), col("c1").as("c1a")),
            Seq("a"))
          .join(uni.select(col("t").as("b"), col("c1").as("c1b")),
            Seq("b"))
          .crossJoin(broadcast(total))
          .select(col("a"), col("b"), (-log(p)).as("nlp"))
        val built = pairs
          .join(bigramScore, Seq("a", "b"))
          .select(col("doc_id"), col("pos"), col("nlp"))
          .groupBy(col("doc_id"))
          .agg(round(
            aggregate(
              transform(
                sort_array(collect_list(struct(col("pos"), col("nlp")))),
                st => st.getField("nlp")),
              lit(0.0), (acc, x) => acc + x) / count(lit(1)), 6)
            .as("mean_nll"))
          .persist()
        val n = built.count() // materialize inside the build block
        // Right-size the cache: the aggregate leaves shuffle-partition
        // granularity (32 local / thousands on a cluster), but the
        // score table is docs-sized — far smaller than the token
        // stream — so at small corpora every later read pays 32 tasks
        // of scheduling for a few thousand rows. Re-cache at ~64k
        // rows/partition, capped at the session's shuffle partitions,
        // so at 100 TB the cached layout never drops below the
        // session's parallelism; locally it collapses to one task per
        // read. (Coalesce reports UnknownPartitioning, so consumers
        // joining on doc_id re-shuffle either way — the cap is about
        // bounded task counts, not join co-location.) The re-cache
        // pass reads the just-persisted copy, not the token stream,
        // and an evicted compact partition recomputes from the
        // lineage-cut token table, not from the raw corpus.
        val parts = math.max(1L, math.min(
          s.conf.get("spark.sql.shuffle.partitions").toInt.toLong,
          (n + 65535L) / 65536L)).toInt
        if (parts < built.rdd.getNumPartitions) {
          val compact = built.coalesce(parts).persist()
          compact.count()
          built.unpersist()
          (compact, Seq(compact))
        } else (built, Seq(built))
      }
    // order OUTSIDE the memo: consumers that don't need it (q119's
    // aggregations) read the unordered cache; the sort never caches
    scored.orderBy(col("doc_id"))
  }

  /** Zipf rank-frequency fit: OLS slope/intercept of ln(freq) against
    * ln(rank) over the top-K vocabulary terms — the corpus-health
    * diagnostic (natural text slopes near -1; boilerplate floods and
    * truncated crawls bend the curve). Ranking is total-ordered
    * (cnt DESC, term) so the selected set and every x value are
    * deterministic; all four OLS sums fold in rank order over the
    * bounded K-row list, so the float result is identical in both
    * engines modulo ln ulp, absorbed by round-6. Scale shape:
    * counting is map-side combined; selection is
    * TakeOrderedAndProject; the fold touches K rows, never the
    * corpus. */
  def zipfFit(s: SparkSession, d: String, topK: Int = 500): DataFrame = {
    val ranked = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t"))
      .limit(topK)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("t"))))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"), col("rk"))
    def foldOrdered(v: Column): Column =
      aggregate(
        transform(sort_array(collect_list(struct(col("rk"), v.as("v")))),
          st => st.getField("v")),
        lit(0.0), (acc, x) => acc + x)
    ranked.agg(
        count(lit(1)).cast("double").as("k"),
        foldOrdered(col("x")).as("sx"),
        foldOrdered(col("y")).as("sy"),
        foldOrdered(col("x") * col("y")).as("sxy"),
        foldOrdered(col("x") * col("x")).as("sxx"))
      .select(col("k").cast("long").as("n_terms"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope"),
        round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("k"), 6).as("intercept"))
  }

  /** PMI collocation mining: the top word pairs by pointwise mutual
    * information, min-count filtered — the classic collocation
    * extractor ("New York" scores high; "of the" does not). The
    * RANKING key is the raw probability ratio
    * (c2/c1a)*(N/c1b), computed as the same two divisions and one
    * multiply in both engines (identical IEEE ops → identical doubles
    * → identical order; ties broken by (a, b)); ln enters only in the
    * displayed round-6 pmi, never the order. The paired-division form
    * also keeps every intermediate near the ratio's magnitude — the
    * naive c2*N BIGINT product would overflow at corpus scale. Scale
    * shape: pair counting is map-side combined over the vocabulary²
    * key space; selection is TakeOrderedAndProject. */
  def pmiCollocations(s: SparkSession, d: String,
      topK: Int = 20, minCount: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "t")))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("c1"))
    // N from the vocab table (sum of counts), not a second corpus scan
    val total = uni.agg(sum(col("c1")).as("n"))
    val ratio =
      (col("c2").cast("double") / col("c1a").cast("double")) *
        (col("n").cast("double") / col("c1b").cast("double"))
    toks
      .select(col("doc_id"), col("t").as("a"),
        lead(col("t"), 1).over(w).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
      .join(uni.select(col("t").as("a"), col("c1").as("c1a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("c1").as("c1b")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c2").as("cnt"),
        ratio.as("ratio"))
      .orderBy(col("ratio").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("cnt"),
        round(log(col("ratio")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
  }

  def repetitionQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // split semantics, not regexp tokenCount: the gram array is built
      // from split(text, " "), so the filter must count the same way or
      // the kept-doc set diverges from the oracle on non-canonical
      // spacing (trailing/double spaces)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"),
        topGramFraction(col("text")).as("dup2_frac"))

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    * MOSS sketch): hash every k-token shingle, slide a w-gram window,
    * and keep each window's minimum hash (rightmost on ties). The
    * guarantee: any shared run of w+k-1 tokens between two documents
    * yields at least one shared selected fingerprint, at a ~2/(w+1)
    * selection density — the robust local sketch the q41 rolling
    * fingerprint family lacks. Gram hashes are the oracle-mirrorable
    * md5-nibble 32-bit decode; the per-window argmin is
    * min(struct(hash, -pos)) — Spark's lexicographic struct-min IS
    * "ORDER BY gh, pos DESC LIMIT 1". Everything is windows over
    * doc-partitioned gram streams: one shuffle, no self-join. Emits
    * (doc_id, n_grams, n_selected, fp_checksum) with the checksum an
    * order-independent exact BIGINT sum of selected hashes. */
  def winnowingFingerprints(s: SparkSession, d: String,
      k: Int = 3, w: Int = 4): DataFrame =
    winnowingOf(Tables.documents(s, d), k, w)

  /** The k-gram hash stream feeding winnowing: (doc_id, p, gh). */
  private def winnowingGrams(docs: DataFrame, k: Int): DataFrame = {
    val md5Long32: Column => Column = c =>
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("p", "t")))
      .withColumn("gram", concat_ws(" ",
        (0 until k).map(i => lead(col("t"), i).over(byPos)): _*))
      .withColumn("cnt_k", count(lit(1)).over(
        byPos.rowsBetween(0, k - 1)))
      .filter(col("cnt_k") === k) // full k-gram exists at this position
      .select(col("doc_id"), col("p"), md5Long32(col("gram")).as("gh"))
  }

  /** Selected fingerprints (doc_id, gh, p): each full w-window's
    * minimum gram hash, rightmost on ties, deduplicated. Memoized and
    * pinned per (corpus plan, k, w) — the sketch query (q138) and the
    * near-dup pair join (q139) both consume it, and the gram hashing
    * plus double window is the expensive part. */
  private[graft] def winnowingSelections(docs: DataFrame,
      k: Int, w: Int): DataFrame =
    IndexMemo.getOrBuild[DataFrame]("winnowSel", s"$k,$w", Seq(docs)) {
      val winW = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(0, w - 1)
      // persistCompactBy(gh) (r18): the near-dup pair chain (q139,
      // and q212 riding it) reads this pin as
      // distinct(doc,gh) → bucket-cap window(gh) → self-join(gh) —
      // every one of those is clustered on gh (the subset-key hash
      // satisfies the finer distinct clustering), so the gh pin lets
      // the WHOLE chain plan exchange-free down to the final pair
      // agg; the doc-keyed sketch consumer (q138) pays its doc_id
      // exchange exactly as it did over the unkeyed pin
      val built = graft.GraftSession.persistCompactBy(winnowingGrams(docs, k)
        .withColumn("cnt_w", count(lit(1)).over(winW))
        .withColumn("m", min(struct(col("gh"), (-col("p")).as("np")))
          .over(winW))
        .filter(col("cnt_w") === w) // full windows only
        .select(col("doc_id"), col("m.gh").as("gh"),
          (-col("m.np")).as("p"))
        .distinct(), col("gh"))
      (built, Seq(built))
    }

  private[graft] def winnowingOf(docs: DataFrame,
      k: Int, w: Int): DataFrame = {
    val nGrams = winnowingGrams(docs, k).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    winnowingSelections(docs, k, w).groupBy(col("doc_id"))
      // checksum over the LOW 32 BITS of each fingerprint: summing raw
      // 60-bit values crosses BIGINT max at ~16 selections per doc
      // (Spark would wrap silently, an ANSI engine aborts); the masked
      // sum stays exact to millions of selections and remains a
      // content-sensitive check value on both engines
      .agg(count(lit(1)).as("n_selected"),
        sum(col("gh").bitwiseAND(lit(0xFFFFFFFFL))).as("fp_checksum"))
      .join(nGrams, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_selected"),
        col("fp_checksum"))
  }

  /** Winnowing-based near-dup candidates: documents sharing at least
    * `minShared` selected fingerprints. The fingerprint buckets are
    * capped at `maxBucketSize` and self-joined on the 8-byte hash with
    * canonical a < b orientation ([[Dedup.cappedBucketPairs]]: a
    * fingerprint shared by half the corpus is a stop-gram, not a dup
    * signal).
    * Shared-run guarantee inherited from winnowing: near-dups with a
    * common w+k-1 token run always collide on >= 1 fingerprint. */
  def winnowingNearDupPairs(s: SparkSession, d: String, k: Int = 3,
      w: Int = 4, minShared: Int = 2,
      maxBucketSize: Int = 64): DataFrame = {
    // distinct (doc, gh): the same hash can be selected at several
    // positions of one doc, but it is ONE fingerprint for matching
    val sel = winnowingSelections(Tables.documents(s, d), k, w)
      .select(col("doc_id"), col("gh")).distinct()
    Dedup.cappedBucketPairs(sel, Seq("gh"), "doc_id", maxBucketSize,
        "winnowing")
      .groupBy(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DuckDB oracle for [[winnowingNearDupPairs]]: shares the q138 CTE
    * chain through `sel`, then caps buckets and joins identically. */
  def winnowingNearDupPairsSql(minShared: Int = 2,
      maxBucketSize: Int = 64): String = {
    val nibbleSum = Curation.md5NibbleSumSql
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS t,
       |    unnest(range(0, len(string_split(text, ' ')))) AS p
       |  FROM documents),
       |g0 AS (SELECT t0.doc_id, t0.p,
       |         md5(t0.t || ' ' || t1.t || ' ' || t2.t) AS h
       |       FROM tok t0
       |       JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.p = t0.p + 1
       |       JOIN tok t2 ON t2.doc_id = t0.doc_id AND t2.p = t0.p + 2),
       |grams AS (SELECT doc_id, p, ($nibbleSum) AS gh FROM g0),
       |mx AS (SELECT doc_id, MAX(p) AS mp FROM grams GROUP BY 1),
       |wins AS (SELECT g.doc_id, g.p AS start FROM grams g
       |         JOIN mx USING (doc_id) WHERE g.p <= mp - 3),
       |cand AS (SELECT w.doc_id, w.start, g.p, g.gh,
       |           row_number() OVER (PARTITION BY w.doc_id, w.start
       |             ORDER BY g.gh, g.p DESC) AS rn
       |         FROM wins w JOIN grams g ON g.doc_id = w.doc_id
       |           AND g.p BETWEEN w.start AND w.start + 3),
       |sel AS (SELECT DISTINCT doc_id, gh
       |        FROM (SELECT DISTINCT doc_id, p, gh FROM cand
       |              WHERE rn = 1)),
       |capped AS (SELECT doc_id, gh FROM (
       |    SELECT doc_id, gh,
       |      COUNT(*) OVER (PARTITION BY gh) AS bsz FROM sel)
       |  WHERE bsz <= $maxBucketSize)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_shared
       |FROM capped a JOIN capped b
       |  ON a.gh = b.gh AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Gopher-style rule-table quality filter: unlike the composite
    * [[qualityScore]] (q36), every rule is its own column so a curation
    * run can report WHICH rule rejected each document — the
    * repetition-rules table from Rae et al. 2021 ("Scaling Language
    * Models", table A1) re-expressed as one codegen'd projection.
    * Zero shuffles: scan -> project; the rule columns are 0/1 BIGINTs
    * (not booleans) so the oracle hash is representation-stable. */
  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val stops = Seq("the", "and", "of", "to", "in", "a")
    val tk = tokens(col("text"))
    val nTok = size(tk).cast("long")
    // total non-space chars / token count == mean token length
    val meanWlen = length(regexp_replace(col("text"), " ", ""))
      .cast("double") / nTok.cast("double")
    val alphaFrac = size(filter(tk, t => t.rlike("[a-zA-Z]")))
      .cast("double") / nTok.cast("double")
    val nStopKinds = size(array_intersect(array_distinct(tk),
      array(stops.map(lit): _*))).cast("long")
    def b(c: Column): Column = when(c, 1L).otherwise(0L)
    Tables.documents(s, d)
      .filter(nTok >= 1)
      .select(col("doc_id"), nTok.as("n_tokens"),
        round(meanWlen, 6).as("mean_wlen"),
        b(nTok.between(10, 100000)).as("r_len"),
        b(meanWlen.between(3.0, 10.0)).as("r_wlen"),
        b(alphaFrac >= 0.8).as("r_alpha"),
        b(nStopKinds >= 2).as("r_stop"))
      .withColumn("keep",
        b(col("r_len") + col("r_wlen") + col("r_alpha") + col("r_stop")
          === 4L))
  }

  /** Per-document NOVELTY over word trigrams: the fraction of the
    * doc's distinct grams whose FIRST corpus appearance (minimum
    * doc_id) is this document — the "how much new content does this
    * doc add" curation score that complements removal-style dedup
    * (q102/q105): instead of deleting repeated spans it grades each
    * doc's marginal contribution, the statistic incremental-corpus
    * builders rank ingest batches by.
    *
    * Scale shape: one distinct over the corpus gram table, a map-side
    * combined MIN per gram (gram-keyed, never collected), and one join
    * of grams back to their first-doc on the gram key — the same
    * corpus-scan-plus-keyed-join shape as the ExactSubstr span scan.
    * Output: (doc_id, n_grams, n_novel, novelty). */
  def noveltyScore(s: SparkSession, d: String): DataFrame = {
    val grams = Curation.tokenTrigramGrams(s, d)
      .select(col("doc_id"), col("g")).distinct()
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"),
          6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[noveltyScore]] (the q38/q138 word-trigram
    * CTE, distinct per doc, MIN-first-doc join). */
  def noveltyScoreSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS t,
      |    unnest(range(0, len(string_split(text, ' ')))) AS p
      |  FROM documents),
      |grams AS (SELECT DISTINCT t0.doc_id,
      |            t0.t || ' ' || t1.t || ' ' || t2.t AS g
      |          FROM tok t0
      |          JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.p = t0.p + 1
      |          JOIN tok t2 ON t2.doc_id = t0.doc_id AND t2.p = t0.p + 2),
      |fst AS (SELECT g, MIN(doc_id) AS fd FROM grams GROUP BY g)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
      |FROM grams JOIN fst USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-document Shannon entropy (nats) of the CHARACTER
    * distribution — the classic low-entropy detector for boilerplate,
    * repeated-character runs, and encoding garbage (high entropy ~
    * natural text, near-zero ~ "aaaa..."). Emits (doc_id, n_chars,
    * distinct_chars, entropy_nats).
    *
    * Determinism: per-doc terms fold in CHARACTER order (sort_array
    * over the alphabet-bounded (ch, cnt) list, then an ordered
    * `aggregate` — the q106 device), mirroring the oracle's
    * list(... ORDER BY ch) + left fold; counts are exact and the
    * alphabet bounds per-doc state at O(|charset|), independent of
    * document or corpus size. */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("distinct_chars"),
        sort_array(collect_list(struct(col("ch"), col("cnt")))).as("cs"))
      .select(col("doc_id"), col("n").as("n_chars"), col("distinct_chars"),
        round(
          aggregate(col("cs"), lit(0.0), (acc, st) => {
            val p = st.getField("cnt").cast("double") /
              col("n").cast("double")
            acc - p * log(p)
          }), 6).as("entropy_nats"))
      .orderBy(col("doc_id"))
  }

  /** HEAPS' LAW fit over the corpus in document order: vocabulary
    * growth V(n) ≈ K·n^β, estimated as the OLS line of ln(cumulative
    * distinct token types) vs ln(cumulative tokens) at every 10th
    * document — the statistic that says how fast a corpus keeps
    * yielding new vocabulary (β ≈ 0.4-0.6 for natural text; β near 0
    * = saturated/templated, near 1 = id-like soup). Emits one row
    * (n_points, beta, ln_k).
    *
    * Machinery: per-doc token counts come from one projection
    * (size(split)), new-type counts from the distinct-type MIN-doc
    * table ([[noveltyScore]]'s device on unigrams); the two cumulative
    * series are one [[Profiling.prefixSum]] over doc_id subsplits (no
    * global sort), and the four OLS sums fold
    * in checkpoint order (the q106 device) before one closed-form
    * division — every float op identical on both engines. */
  def heapsFit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val perdoc = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ntok"))
    val newt = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .distinct()
      .groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("nnew"))
      .withColumnRenamed("fd", "doc_id")
    val base = perdoc.join(newt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ntok"),
        coalesce(col("nnew"), lit(0L)).as("nnew"))
      .withColumn("sub", expr("doc_id DIV 100"))
    val pts = Profiling.prefixSum(base, "sub", Seq(col("doc_id")),
        Seq(col("ntok") -> "cumt", col("nnew") -> "cumv"),
        inclusive = true)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), log(col("cumt").cast("double")).as("x"),
        log(col("cumv").cast("double")).as("y"))
    // two-level deterministic fold (r14): pts is corpus/10 rows, so a
    // whole-table ungrouped sorted collect is the q119 single-task
    // class (tens of GB of structs at 10^9 documents). The regression
    // sums instead fold within doc_id%4096 residue classes (each
    // n/4096, a partitioned grouped collect) in doc_id order, then the
    // <=4096 class partials fold in class order — a different but
    // equally deterministic association the oracle mirrors term for
    // term, so both engines still agree bit-for-bit. Single-task state
    // is O(4096), never O(corpus).
    def fold1(v: Column): Column =
      aggregate(
        transform(
          sort_array(collect_list(struct(col("doc_id"), v.as("v")))),
          st => st.getField("v")),
        lit(0.0), (acc, x) => acc + x)
    val psub = pts.withColumn("fs", expr("doc_id % 4096"))
      .groupBy(col("fs"))
      .agg(count(lit(1)).as("c"),
        fold1(col("x")).as("px"), fold1(col("y")).as("py"),
        fold1(col("x") * col("y")).as("pxy"),
        fold1(col("x") * col("x")).as("pxx"))
    def fold2(v: Column): Column =
      aggregate(
        transform(sort_array(collect_list(struct(col("fs"), v.as("v")))),
          st => st.getField("v")),
        lit(0.0), (acc, x) => acc + x)
    psub.agg(sum(col("c")).as("n"),
        fold2(col("px")).as("sx"), fold2(col("py")).as("sy"),
        fold2(col("pxy")).as("sxy"), fold2(col("pxx")).as("sxx"))
      .select(col("n"), col("n").cast("double").as("nd"),
        col("sx"), col("sy"), col("sxy"), col("sxx"))
      .select(col("n").as("n_points"),
        round((col("nd") * col("sxy") - col("sx") * col("sy"))
          / (col("nd") * col("sxx") - col("sx") * col("sx")), 6)
          .as("beta"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          / (col("nd") * col("sxx") - col("sx") * col("sx")), 6)
          .as("ln_k"))
  }

  /** DuckDB oracle for [[heapsFit]]. */
  def heapsFitSql: String =
    """WITH perdoc AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |tok AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(text, ' ')) AS t FROM documents),
      |newt AS (SELECT fd AS doc_id, COUNT(*) AS nnew FROM (
      |    SELECT t, MIN(doc_id) AS fd FROM tok GROUP BY t) f
      |  GROUP BY fd),
      |cum AS (SELECT p.doc_id,
      |    SUM(p.ntok) OVER (ORDER BY p.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
      |    SUM(COALESCE(n.nnew, 0)) OVER (ORDER BY p.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
      |  FROM perdoc p LEFT JOIN newt n ON n.doc_id = p.doc_id),
      |pts AS (SELECT doc_id, ln(CAST(ct AS DOUBLE)) AS x,
      |          ln(CAST(cv AS DOUBLE)) AS y
      |        FROM cum WHERE doc_id % 10 = 0),
      |psub AS (SELECT doc_id % 4096 AS fs, COUNT(*) AS c,
      |    list_sum(list(x ORDER BY doc_id)) AS px,
      |    list_sum(list(y ORDER BY doc_id)) AS py,
      |    list_sum(list(x * y ORDER BY doc_id)) AS pxy,
      |    list_sum(list(x * x ORDER BY doc_id)) AS pxx
      |  FROM pts GROUP BY 1),
      |st AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c) AS DOUBLE) AS nd,
      |    list_sum(list(px ORDER BY fs)) AS sx,
      |    list_sum(list(py ORDER BY fs)) AS sy,
      |    list_sum(list(pxy ORDER BY fs)) AS sxy,
      |    list_sum(list(pxx ORDER BY fs)) AS sxx
      |  FROM psub)
      |SELECT n AS n_points,
      |  round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6) AS beta,
      |  round((sy * sxx - sx * sxy) / (nd * sxx - sx * sx), 6) AS ln_k
      |FROM st""".stripMargin

  /** DuckDB oracle for [[charEntropy]]. */
  def charEntropySql: String =
    """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE len(text) >= 1),
      |cnts AS (SELECT doc_id, ch, COUNT(*) AS cnt
      |         FROM ch GROUP BY doc_id, ch),
      |tot AS (SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS dc
      |        FROM cnts GROUP BY doc_id)
      |SELECT c.doc_id, CAST(t.n AS BIGINT) AS n_chars,
      |  CAST(t.dc AS BIGINT) AS distinct_chars,
      |  round(list_sum(list(
      |    -(CAST(cnt AS DOUBLE) / CAST(t.n AS DOUBLE))
      |      * ln(CAST(cnt AS DOUBLE) / CAST(t.n AS DOUBLE))
      |    ORDER BY c.ch)), 6) AS entropy_nats
      |FROM cnts c JOIN tot t ON t.doc_id = c.doc_id
      |GROUP BY c.doc_id, t.n, t.dc
      |ORDER BY c.doc_id""".stripMargin

  /** Classifier evaluation of the q35 language-ID heuristic against
    * the labeled lang column: per-class TP/FP/FN with exact-ratio
    * precision / recall / F1 — the model-eval report card every
    * quality-filter pipeline needs before trusting a heuristic gate.
    * One scan to the confusion cells (classes² rows, cut), then two
    * class-sized rollups full-outer-joined so classes that are only
    * ever predicted (or only ever labeled) still appear. F1 uses the
    * single-division 2TP/(2TP+FP+FN) form — one exact integer ratio,
    * no P·R float chain. */
  def langIdEval(s: SparkSession, d: String): DataFrame = {
    val cells = graft.GraftSession.cut(Tables.documents(s, d)
      .select(col("lang").as("actual"),
        langId(col("text")).as("pred"))
      .groupBy(col("actual"), col("pred"))
      .agg(count(lit(1)).as("n")))
    val byPred = cells.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("p_total"),
        sum(when(col("actual") === col("pred"), col("n"))
          .otherwise(0L)).as("tp_p"))
    val byActual = cells.groupBy(col("actual").as("cls"))
      .agg(sum(col("n")).as("a_total"),
        sum(when(col("actual") === col("pred"), col("n"))
          .otherwise(0L)).as("tp_a"))
    byPred.join(byActual, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("tp_p"), col("tp_a"), lit(0L)).as("tp"),
        (coalesce(col("p_total"), lit(0L))
          - coalesce(col("tp_p"), lit(0L))).as("fp"),
        (coalesce(col("a_total"), lit(0L))
          - coalesce(col("tp_a"), lit(0L))).as("fn"))
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double")
          / nullif(col("tp") + col("fp"), lit(0L)).cast("double"), 6)
          .as("precision"),
        round(col("tp").cast("double")
          / nullif(col("tp") + col("fn"), lit(0L)).cast("double"), 6)
          .as("recall"),
        round((lit(2L) * col("tp")).cast("double")
          / nullif(lit(2L) * col("tp") + col("fp") + col("fn"),
            lit(0L)).cast("double"), 6).as("f1"))
      .orderBy(col("cls"))
  }

  /** DuckDB oracle for [[langIdEval]] — the q35 predicted-language
    * CASE, rolled into per-class counts. */
  def langIdEvalSql: String =
    """WITH t AS (SELECT doc_id, lang,
      |    ' ' || text || ' ' AS p FROM documents),
      |pred AS (SELECT lang AS actual,
      |  CASE
      |    WHEN (CASE WHEN p LIKE '% the %' THEN 1 ELSE 0 END
      |        + CASE WHEN p LIKE '% and %' THEN 1 ELSE 0 END
      |        + CASE WHEN p LIKE '% of %' THEN 1 ELSE 0 END) >= 2
      |      THEN 'en'
      |    WHEN (CASE WHEN p LIKE '% og %' THEN 1 ELSE 0 END
      |        + CASE WHEN p LIKE '% det %' THEN 1 ELSE 0 END
      |        + CASE WHEN p LIKE '% en %' THEN 1 ELSE 0 END) >= 2
      |      THEN 'da'
      |    WHEN (CASE WHEN p LIKE '% der %' THEN 1 ELSE 0 END
      |        + CASE WHEN p LIKE '% und %' THEN 1 ELSE 0 END
      |        + CASE WHEN p LIKE '% die %' THEN 1 ELSE 0 END) >= 2
      |      THEN 'de'
      |    ELSE 'und' END AS pred
      |  FROM t),
      |cells AS (SELECT actual, pred, COUNT(*) AS n
      |          FROM pred GROUP BY 1, 2),
      |bp AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS p_total,
      |    CAST(SUM(CASE WHEN actual = pred THEN n ELSE 0 END)
      |      AS BIGINT) AS tp_p
      |  FROM cells GROUP BY 1),
      |ba AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS a_total,
      |    CAST(SUM(CASE WHEN actual = pred THEN n ELSE 0 END)
      |      AS BIGINT) AS tp_a
      |  FROM cells GROUP BY 1),
      |j AS (SELECT COALESCE(bp.cls, ba.cls) AS cls,
      |    COALESCE(tp_p, tp_a, 0) AS tp,
      |    COALESCE(p_total, 0) - COALESCE(tp_p, 0) AS fp,
      |    COALESCE(a_total, 0) - COALESCE(tp_a, 0) AS fn
      |  FROM bp FULL OUTER JOIN ba ON ba.cls = bp.cls)
      |SELECT cls, tp, fp, fn,
      |  round(CAST(tp AS DOUBLE)
      |    / CAST(nullif(tp + fp, 0) AS DOUBLE), 6) AS precision,
      |  round(CAST(tp AS DOUBLE)
      |    / CAST(nullif(tp + fn, 0) AS DOUBLE), 6) AS recall,
      |  round(CAST(2 * tp AS DOUBLE)
      |    / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE), 6) AS f1
      |FROM j ORDER BY cls""".stripMargin

  /** The corpus datasheet: one row with the headline numbers a
    * dataset card leads with — documents, tokens, distinct texts,
    * exact-duplicate count, and mean quality. Quality averages over
    * exact micro-unit integers (the q179 discipline — no float sum
    * crosses a partition boundary); everything else is counts. One
    * scan plus one md5 distinct. */
  def corpusCard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        tokenCount(col("text")).cast("long").as("toks"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long")
          .as("qmicro"),
        md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("h"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        count_distinct(col("h")).as("distinct_texts"),
        sum(col("qmicro")).as("qsum"))
      .select(col("n_docs"), col("total_tokens"),
        col("distinct_texts"),
        (col("n_docs") - col("distinct_texts")).as("dup_docs"),
        round(col("qsum").cast("double")
          / (col("n_docs").cast("double") * 1e6), 6)
          .as("mean_quality"))

  /** DuckDB oracle for [[corpusCard]]. */
  def corpusCardSql: String =
    s"""WITH $qualityStatsCte,
       |k AS (SELECT t.doc_id, n_tokens,
       |    CAST(round(
       |      (0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |       + 0.3 * (CAST(n_uniq AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE))
       |       + 0.3 * least(CAST(n_stop AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)) * 1e6)
       |      AS BIGINT) AS qmicro,
       |    md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS h
       |  FROM t JOIN documents USING (doc_id))
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  COUNT(DISTINCT h) AS distinct_texts,
       |  COUNT(*) - COUNT(DISTINCT h) AS dup_docs,
       |  round(CAST(SUM(qmicro) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS mean_quality
       |FROM k""".stripMargin

  /** Exact-duplicate cluster-size histogram: how many text-hash
    * groups have 1, 2, 3… members — the shape that decides whether
    * dedup should keep-first (long tail of pairs) or keep-best
    * (a few giant clusters). One md5 groupBy then a map-side-combined
    * count over sizes (bounded by the largest cluster). */
  def dupClusterSizes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(regexp_replace(trim(col("text")), "\\s+", " "))
        .as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** DuckDB oracle for [[dupClusterSizes]]. */
  def dupClusterSizesSql: String =
    """WITH g AS (
      |  SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS h,
      |    COUNT(*) AS sz
      |  FROM documents GROUP BY 1)
      |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs
      |FROM g GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** Tokenizer fertility per language: subword pieces per whitespace
    * word (the BPE-ish q? piece counter over the word counter) — THE
    * tokenizer-equity metric: a language with fertility 2x pays twice
    * the context budget for the same text. Exact integer piece/word
    * sums per language, one ratio at the end. Single scan, map-side
    * combined over #languages keys. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("words"),
        sum(subwordCount(col("text")).cast("long")).as("pieces"))
      .select(col("lang"), col("n_docs"), col("words"), col("pieces"),
        round(col("pieces").cast("double")
          / col("words").cast("double"), 6).as("fertility"))
      .orderBy(col("lang"))

  /** DuckDB oracle for [[tokenizerFertility]]. */
  def tokenizerFertilitySql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(text, '[^ ]+'))) AS BIGINT)
      |    AS words,
      |  CAST(SUM(len(regexp_extract_all(text,
      |    '[a-zA-Z0-9]{1,4}|[^a-zA-Z0-9 ]'))) AS BIGINT) AS pieces,
      |  round(CAST(SUM(len(regexp_extract_all(text,
      |      '[a-zA-Z0-9]{1,4}|[^a-zA-Z0-9 ]'))) AS DOUBLE)
      |    / CAST(SUM(len(regexp_extract_all(text, '[^ ]+')))
      |      AS DOUBLE), 6) AS fertility
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Label-consistency check: byte-identical normalized texts filed
    * under MORE THAN ONE language — the mislabeled-duplicate smell an
    * exact-dedup pass surfaces for free and a lang-conditioned
    * sampler must not trust. One md5 groupBy into an ALWAYS-one-row
    * summary (the q161 constraint-suite discipline: an asserted zero
    * is evidence, an empty result proves nothing): groups checked,
    * conflicted hash groups, docs inside them, worst fan-out. */
  def langConflicts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("nd"),
        count_distinct(col("lang")).as("nl"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("nl") > 1, 1L).otherwise(0L))
          .as("n_conflict_groups"),
        sum(when(col("nl") > 1, col("nd")).otherwise(0L))
          .as("n_conflict_docs"),
        max(col("nl")).as("max_langs_per_text"))

  /** DuckDB oracle for [[langConflicts]]. */
  def langConflictsSql: String =
    """WITH g AS (
      |  SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS h,
      |    COUNT(*) AS nd, COUNT(DISTINCT lang) AS nl
      |  FROM documents GROUP BY 1)
      |SELECT COUNT(*) AS n_groups,
      |  CAST(SUM(CASE WHEN nl > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_conflict_groups,
      |  CAST(SUM(CASE WHEN nl > 1 THEN nd ELSE 0 END) AS BIGINT)
      |    AS n_conflict_docs,
      |  CAST(MAX(nl) AS BIGINT) AS max_langs_per_text
      |FROM g""".stripMargin

  /** Vocabulary profile per source: vocabulary size, hapax-legomenon
    * fraction (terms seen once — the long-tail mass that dominates
    * raw web text), and type-token ratio. All from one (source, term)
    * count table; vocabulary-sized state. */
  def vocabProfile(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("tokens"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab").cast("double"),
          6).as("hapax_frac"),
        round(col("vocab").cast("double")
          / col("tokens").cast("double"), 6).as("ttr"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[vocabProfile]]. */
  def vocabProfileSql: String =
    """WITH cnt AS (
      |  SELECT source, t, COUNT(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS t
      |    FROM documents) s
      |  WHERE len(t) > 0 GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS vocab,
      |  CAST(SUM(c) AS BIGINT) AS tokens,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hapax,
      |  round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_frac,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
      |    AS ttr
      |FROM cnt GROUP BY source ORDER BY source""".stripMargin

  /** Curation planning curve: documents ranked by quality score into
    * deciles, with per-decile and cumulative token counts — "if the
    * budget takes the top X% by quality, how many tokens is that".
    * The score quantizes to exact micro-units (round(q·1e6)) so the
    * ranking key is an INTEGER — no float ordering crosses the
    * engines — and the rank is a [[Profiling.scalableRank]] on the
    * descending-shifted key (1e6 − micro), tied on doc_id, so a
    * narrow score distribution still sorts in bounded tasks.
    * Cumulative window folds over the TEN decile rows. */
  def qualityTokenCurve(s: SparkSession, d: String): DataFrame = {
    val base = graft.GraftSession.cut(Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(1000000L) - round(qualityScore(col("text")) * 1e6, 0)
          .cast("long")).as("negq"),
        tokenCount(col("text")).cast("long").as("n_tokens")))
    val n = base.agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Profiling.scalableRank(base, "negq", "doc_id", 65536L, "rk")
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("((rk - 1) * 10) DIV n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"))
      .withColumn("cum_tokens", sum(col("tokens")).over(wCum))
      .orderBy(col("decile"))
  }

  /** Quality × length decile grid: the 2-D histogram that shows
    * whether a "quality" score is secretly a length score (a diagonal
    * grid means the two signals are confounded and a length-balanced
    * sample must stratify on both). Both keys are exact integers
    * (micro-unit quality, token count), each ranked by
    * [[Profiling.scalableRank]] tied on doc_id; the two decile tables
    * are independent and join back on doc_id. Output is the 10×10
    * cell-count grid. */
  def qualityLengthGrid(s: SparkSession, d: String): DataFrame = {
    val base = graft.GraftSession.cut(Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(1000000L) - round(qualityScore(col("text")) * 1e6, 0)
          .cast("long")).as("negq"),
        tokenCount(col("text")).cast("long").as("toks")))
    val n = base.agg(count(lit(1)).as("__n"))
    def decileBy(v: String, step: Long, out: String): DataFrame =
      Profiling.scalableRank(base.select(col("doc_id"), col(v)), v,
          "doc_id", step, "__rk")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), expr("((__rk - 1) * 10) DIV __n").as(out))
    decileBy("negq", 65536L, "q_dec")
      .join(decileBy("toks", 16L, "len_dec"), "doc_id")
      .groupBy(col("q_dec"), col("len_dec"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("q_dec"), col("len_dec"))
  }

  /** DuckDB oracle for [[qualityLengthGrid]]. */
  def qualityLengthGridSql: String =
    s"""WITH $qualityStatsCte,
       |k AS (SELECT doc_id, n_tokens AS toks,
       |    1000000 - CAST(round(
       |      (0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |       + 0.3 * (CAST(n_uniq AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE))
       |       + 0.3 * least(CAST(n_stop AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)) * 1e6)
       |      AS BIGINT) AS negq
       |  FROM t),
       |r AS (SELECT toks,
       |    ((row_number() OVER (ORDER BY negq, doc_id) - 1) * 10)
       |      // (COUNT(*) OVER ()) AS q_dec,
       |    doc_id
       |  FROM k),
       |r2 AS (SELECT q_dec,
       |    ((row_number() OVER (ORDER BY toks, doc_id) - 1) * 10)
       |      // (COUNT(*) OVER ()) AS len_dec
       |  FROM r)
       |SELECT CAST(q_dec AS BIGINT) AS q_dec,
       |  CAST(len_dec AS BIGINT) AS len_dec, COUNT(*) AS n_docs
       |FROM r2 GROUP BY 1, 2 ORDER BY q_dec, len_dec""".stripMargin

  /** The per-doc token stats CTE shared by the quality oracles. */
  private def qualityStatsCte: String =
    """t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS n_uniq,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> list_contains(['the','a','and','of','to','in'], x)))
      |      AS BIGINT) AS n_stop
      |  FROM documents)""".stripMargin

  /** DuckDB oracle for [[qualityTokenCurve]]. */
  def qualityTokenCurveSql: String =
    s"""WITH $qualityStatsCte,
       |k AS (SELECT doc_id, n_tokens,
       |    1000000 - CAST(round(
       |      (0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |       + 0.3 * (CAST(n_uniq AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE))
       |       + 0.3 * least(CAST(n_stop AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)) * 1e6)
       |      AS BIGINT) AS negq
       |  FROM t),
       |r AS (SELECT n_tokens,
       |    row_number() OVER (ORDER BY negq, doc_id) AS rk,
       |    COUNT(*) OVER () AS n
       |  FROM k),
       |dec AS (SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS decile,
       |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
       |  FROM r GROUP BY 1)
       |SELECT decile, n_docs, tokens,
       |  CAST(SUM(tokens) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_tokens
       |FROM dec ORDER BY decile""".stripMargin

  /** Dedup telemetry over arrival order: exact-duplicate rate per
    * arrival bucket (doc_id stands in for ingest order) — the curve
    * an operator watches to see duplication pressure grow as a crawl
    * matures. A doc is a duplicate when an EARLIER doc (smaller id)
    * has byte-identical normalized text: one md5-groupBy for
    * first-seen ids, broadcast-free anti logic via min-id join. */
  def dupRateOverTime(s: SparkSession, d: String,
      bucket: Long = 50L): DataFrame = {
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("h"))
    val first = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_id"))
    hashed.join(first, "h")
      .select(col("doc_id"),
        (col("doc_id") =!= col("first_id")).as("is_dup"),
        expr(s"doc_id DIV $bucket").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("bucket"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double")
          / col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[dupRateOverTime]]. */
  def dupRateOverTimeSql(bucket: Long = 50L): String =
    s"""WITH h AS (SELECT doc_id,
       |    md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS h
       |  FROM documents),
       |f AS (SELECT h, MIN(doc_id) AS first_id FROM h GROUP BY 1)
       |SELECT doc_id // $bucket AS bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN doc_id <> first_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dups,
       |  round(CAST(SUM(CASE WHEN doc_id <> first_id THEN 1 ELSE 0
       |    END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
       |FROM h JOIN f USING (h)
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Distinctive terms per source by log-odds with an informative
    * Dirichlet prior (Monroe et al. 2008, "Fightin' Words") — the
    * principled "what words characterize this slice" report that a
    * raw tf-idf ranking botches on rare terms. For source s and term
    * w with count c, source size n_s, corpus term count ct and
    * corpus size N, the prior mass is a_w = alpha·ct (proportional
    * to corpus frequency, a0 = alpha·N), and
    *   delta = ln((c+a_w)/(n_s+a0-c-a_w))
    *         - ln((ct-c+a_w)/(N-n_s+a0-(ct-c)-a_w))
    *   z = delta / sqrt(1/(c+a_w) + 1/(ct-c+a_w))
    * Top-k per source by (z DESC, term). Every input is an exact
    * integer count so the float pipeline is engine-identical. Scale
    * shape: one vocabulary-sized count table (cut), marginals
    * broadcast, and a source-partitioned rank window over the vocab —
    * at web scale swap the window for the bounded top-k Aggregator
    * ([[Sketches]] pattern), noted here. */
  def logOddsTerms(s: SparkSession, d: String, topK: Int = 5,
      alpha: Double = 0.01): DataFrame = {
    val counts = graft.GraftSession.cut(Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c")))
    val termTot = counts.groupBy(col("t")).agg(sum(col("c")).as("ct"))
    val srcTot = counts.groupBy(col("source"))
      .agg(sum(col("c")).as("ns"))
    val corpus = counts.agg(sum(col("c")).as("nn"))
    val aw = lit(alpha) * col("ct").cast("double")
    val a0 = lit(alpha) * col("nn").cast("double")
    val cD = col("c").cast("double")
    val rest = col("ct").cast("double") - cD
    val delta =
      log((cD + aw) / (col("ns").cast("double") + a0 - cD - aw)) -
        log((rest + aw) / (col("nn").cast("double")
          - col("ns").cast("double") + a0 - rest - aw))
    val z = delta / sqrt(lit(1.0) / (cD + aw) + lit(1.0) / (rest + aw))
    val scored = counts
      // termTot is VOCABULARY-sized (one row per term) — forcing a
      // broadcast would OOM at corpus scale; the shuffle join on t
      // moves only (t, ct) pairs and AQE still broadcasts when small
      .join(termTot, "t")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpus))
      .withColumn("z", z)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("z").desc, col("t"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("source"), col("rn").cast("long").as("rank"),
        col("t").as("term"), col("c").as("cnt"),
        round(col("z"), 6).as("z_score"))
      .orderBy(col("source"), col("rank"))
  }

  /** DuckDB oracle for [[logOddsTerms]]. */
  def logOddsTermsSql(topK: Int = 5, alpha: Double = 0.01): String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |cnt AS (SELECT source, t, COUNT(*) AS c
       |  FROM toks WHERE len(t) > 0 GROUP BY 1, 2),
       |tt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct
       |       FROM cnt GROUP BY 1),
       |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
       |       FROM cnt GROUP BY 1),
       |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt),
       |z AS (SELECT source, t, c,
       |    (ln((CAST(c AS DOUBLE) + $alpha * CAST(ct AS DOUBLE))
       |       / (CAST(ns AS DOUBLE) + $alpha * CAST(nn AS DOUBLE)
       |          - CAST(c AS DOUBLE) - $alpha * CAST(ct AS DOUBLE)))
       |     - ln((CAST(ct AS DOUBLE) - CAST(c AS DOUBLE)
       |          + $alpha * CAST(ct AS DOUBLE))
       |       / (CAST(nn AS DOUBLE) - CAST(ns AS DOUBLE)
       |          + $alpha * CAST(nn AS DOUBLE)
       |          - (CAST(ct AS DOUBLE) - CAST(c AS DOUBLE))
       |          - $alpha * CAST(ct AS DOUBLE))))
       |    / sqrt(1.0 / (CAST(c AS DOUBLE)
       |        + $alpha * CAST(ct AS DOUBLE))
       |      + 1.0 / (CAST(ct AS DOUBLE) - CAST(c AS DOUBLE)
       |        + $alpha * CAST(ct AS DOUBLE))) AS z
       |  FROM cnt JOIN tt USING (t) JOIN st USING (source)
       |  CROSS JOIN nn),
       |r AS (SELECT source, t, c, z,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY z DESC, t) AS rn
       |  FROM z)
       |SELECT source, CAST(rn AS BIGINT) AS rank, t AS term,
       |  c AS cnt, round(z, 6) AS z_score
       |FROM r WHERE rn <= $topK
       |ORDER BY source, rank""".stripMargin

  /** Jensen-Shannon divergence between two sources' unigram
    * distributions — the bounded, symmetric corpus-drift metric (PSI's
    * q150 sibling for vocabulary shift; 0 = identical, ln 2 = disjoint
    * support). Distributions are add-one smoothed over the JOINT
    * vocabulary, each term contributes
    * ½·(p·ln(p/m) + q·ln(q/m)), m = (p+q)/2, and the contributions
    * fold in term order (the q106/chi2 device) so the oracle's ordered
    * list_reduce reproduces the IEEE fold. State is vocabulary-sized
    * (one map-side-combined term count), totals broadcast. */
  def jsDivergence(s: SparkSession, d: String,
      srcA: String = "src0", srcB: String = "src1"): DataFrame = {
    // cut: the vocabulary-sized counts feed the totals and the fold —
    // one corpus scan + token explode, not two
    val counts = graft.GraftSession.cut(Tables.documents(s, d)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("t"))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb")))
    val tot = counts.agg(sum(col("ca")).as("na"),
      sum(col("cb")).as("nb"), count(lit(1)).as("vocab"))
    // two-level deterministic fold (r14): the joint vocabulary is
    // unbounded at corpus scale (raw web vocab grows into the
    // billions — the same reason tfidf never broadcasts df), so a
    // whole-vocabulary ungrouped sorted collect is the q119
    // single-task class. Term contributions instead fold within
    // fixed md5-prefix buckets (4096, each vocab/4096, a partitioned
    // grouped collect) in term order, then the <=4096 bucket partials
    // fold in bucket order — both engines compute md5 of the same
    // UTF-8 bytes (the hashKeep equivalence), so the association is
    // reproduced exactly. Single-task state is O(4096), not O(vocab).
    val psub = counts.crossJoin(broadcast(tot))
      .withColumn("p", (col("ca") + 1L).cast("double")
        / (col("na") + col("vocab")).cast("double"))
      .withColumn("q", (col("cb") + 1L).cast("double")
        / (col("nb") + col("vocab")).cast("double"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .withColumn("term",
        (col("p") * log(col("p") / col("m"))
          + col("q") * log(col("q") / col("m"))) * 0.5)
      .withColumn("fs", substring(md5(col("t")), 1, 3))
      .groupBy(col("fs"))
      .agg(expr("aggregate(sort_array(collect_list(" +
        "struct(t, term))), CAST(0.0 AS DOUBLE), " +
        "(acc, x) -> acc + x.term)").as("s"))
    val folded = psub.agg(
      round(expr("aggregate(sort_array(collect_list(struct(fs, s))), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)"), 6).as("jsd_nats"))
    tot.crossJoin(folded)
      .select(col("vocab"), col("na").as("n_a"), col("nb").as("n_b"),
        col("jsd_nats"))
  }

  /** DuckDB oracle for [[jsDivergence]]. */
  def jsDivergenceSql(srcA: String = "src0",
      srcB: String = "src1"): String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS t
       |  FROM documents WHERE source IN ('$srcA', '$srcB')),
       |cnt AS (SELECT t,
       |    CAST(SUM(CASE WHEN source = '$srcA' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN source = '$srcB' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM toks WHERE len(t) > 0 GROUP BY 1),
       |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
       |    CAST(SUM(cb) AS BIGINT) AS nb,
       |    COUNT(*) AS vocab FROM cnt),
       |terms AS (SELECT t,
       |    CAST(ca + 1 AS DOUBLE) / CAST(na + vocab AS DOUBLE) AS p,
       |    CAST(cb + 1 AS DOUBLE) / CAST(nb + vocab AS DOUBLE) AS q
       |  FROM cnt CROSS JOIN tot),
       |psub AS (SELECT substr(md5(t), 1, 3) AS fs,
       |    list_reduce(list(
       |      (p * ln(p / ((p + q) / 2.0))
       |       + q * ln(q / ((p + q) / 2.0))) * 0.5 ORDER BY t),
       |      (acc, x) -> acc + x) AS s
       |  FROM terms GROUP BY 1),
       |folded AS (SELECT round(list_reduce(list(s ORDER BY fs),
       |    (acc, x) -> acc + x), 6) AS jsd_nats FROM psub)
       |SELECT vocab, na AS n_a, nb AS n_b, jsd_nats
       |FROM tot CROSS JOIN folded""".stripMargin

  /** Readability-band census: a Flesch-style reading-ease score per
    * document from three regexp counts — words (`[^ ]+`), sentence
    * marks (`[.!?]`, floored at 1) and a vowel-group syllable proxy
    * (`[aeiouyAEIOUY]+`, floored at 1) — bucketed into decade bands.
    * The per-row score is one fixed-shape double expression over
    * three exact INTs (identical IEEE evaluation in both engines, the
    * q33/q145 device), so the floor'd band is exact; the census is a
    * map-side-combined groupBy over band ids only. Quality screens
    * use the band histogram to spot boilerplate (very high ease) and
    * OCR noise (very low) without reading a single document. */
  def readabilityBands(s: SparkSession, d: String): DataFrame = {
    val words = regexp_count(col("text"), lit("[^ ]+"))
    val w = words.cast("double")
    val sent = greatest(regexp_count(col("text"), lit("[.!?]")), lit(1))
      .cast("double")
    val syl = greatest(
      regexp_count(col("text"), lit("[aeiouyAEIOUY]+")), lit(1))
      .cast("double")
    val score =
      lit(206.835) - lit(1.015) * (w / sent) - lit(84.6) * (syl / w)
    graft.Tables.documents(s, d)
      .filter(words > 0)
      .select(least(greatest(floor(score / 10.0), lit(-30.0)),
        lit(20.0)).cast("long").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("band"))
  }

  /** DuckDB oracle for [[readabilityBands]]. */
  def readabilityBandsSql: String =
    """WITH t AS (SELECT
      |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) AS w,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
      |      AS DOUBLE) AS s,
      |    CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')),
      |      1) AS DOUBLE) AS sy
      |  FROM documents
      |  WHERE len(regexp_extract_all(text, '[^ ]+')) > 0)
      |SELECT CAST(least(greatest(floor(
      |    (206.835 - 1.015 * (w / s) - 84.6 * (sy / w)) / 10.0),
      |    -30.0), 20.0) AS BIGINT) AS band,
      |  COUNT(*) AS n_docs
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Tokenizer vocabulary coverage curve: for each candidate
    * vocabulary size N, the fraction of all token OCCURRENCES covered
    * by the N most frequent types — the "how big must the vocab be"
    * design curve for tokenizer budgeting (the complement of the OOV
    * rate under a top-N vocab). Reordering equal-count types never
    * moves a top-N sum, so no type is ranked: a [[Profiling.prefixSum]]
    * over the (count -> number of types) histogram, descending, gives
    * each count's types their rank interval, and each top-N sum takes
    * the interval's intersection with [1, N] (the [[Profiling]]
    * equi-depth arithmetic). Per-task rows are bounded by distinct
    * counts per sub-range (16), not types. Counts are exact BIGINTs;
    * the coverage division is the only float, round-6. */
  def vocabCoverage(s: SparkSession, d: String,
      vocabSizes: Seq[Int] = Seq(100, 300, 1000, 3000)): DataFrame = {
    // (-cnt) DIV 16 rises as cnt falls
    val hist = graft.GraftSession.cut(
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("cnt")).agg(count(lit(1)).as("n_t"))
        .withColumn("__sub", expr("(-cnt) DIV 16")))
    val total = hist.agg(sum(col("cnt") * col("n_t")).as("total_tokens"),
      sum(col("n_t")).as("n_types"))
    Profiling.prefixSum(hist, "__sub", Seq(col("cnt").desc),
        Seq(col("n_t") -> "before"), inclusive = false)
      .select(col("cnt"), col("n_t"), col("before"),
        explode(array(vocabSizes.map(lit(_)): _*)).as("vocab_size"))
      .filter(col("before") < col("vocab_size"))
      .groupBy(col("vocab_size").cast("long").as("vocab_size"))
      .agg(sum(col("cnt") * (least(col("before") + col("n_t"),
        col("vocab_size")) - col("before"))).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("covered_tokens"),
        col("total_tokens"), col("n_types"),
        round(col("covered_tokens").cast("double")
          / col("total_tokens").cast("double"), 6).as("coverage"))
      .orderBy(col("vocab_size"))
  }

  /** DuckDB oracle for [[vocabCoverage]]. */
  def vocabCoverageSql(
      vocabSizes: Seq[Int] = Seq(100, 300, 1000, 3000)): String = {
    val vals = vocabSizes.map(n => s"($n)").mkString(", ")
    s"""WITH vocab AS (SELECT t, COUNT(*) AS cnt FROM
       |    (SELECT unnest(string_split(text, ' ')) AS t
       |     FROM documents) GROUP BY t),
       |ranked AS (SELECT cnt, row_number() OVER (
       |    ORDER BY cnt DESC, t) AS rk FROM vocab),
       |tot AS (SELECT SUM(cnt) AS total_tokens, COUNT(*) AS n_types
       |        FROM vocab),
       |ns(n) AS (VALUES $vals)
       |SELECT CAST(n AS BIGINT) AS vocab_size,
       |  CAST(SUM(cnt) AS BIGINT) AS covered_tokens,
       |  CAST(total_tokens AS BIGINT) AS total_tokens,
       |  CAST(n_types AS BIGINT) AS n_types,
       |  round(CAST(SUM(cnt) AS DOUBLE)
       |    / CAST(total_tokens AS DOUBLE), 6) AS coverage
       |FROM ranked JOIN ns ON rk <= n, tot
       |GROUP BY n, total_tokens, n_types
       |ORDER BY vocab_size""".stripMargin
  }

  /** Kneser-Ney smoothed bigram probabilities for the corpus's
    * top-`topK` bigrams — the LM-quality counterpart of the
    * interpolated [[bigramNll]]: instead of raw-count backoff, the
    * continuation distribution (how many DISTINCT contexts a word
    * follows — the "San Francisco" device: "Francisco" is frequent
    * but only ever continues "San", so its unigram backoff weight
    * should be tiny). Absolute discount D = 0.75:
    * {{{
    * P_KN(b|a) = max(c(a,b) − D, 0)/c(a·)
    *           + (D · N1+(a,·)/c(a·)) · (N1+(·,b)/n_bigram_types)
    * }}}
    * Every count is an exact BIGINT from one bigram table; the float
    * combination is one fixed parenthesization both engines share,
    * round-6 absorbing division ulp. Scale shape: ONE tokenize + ONE
    * lead window (the q116 device), map-side-combined counts on term
    * keys, the probability join runs on the bounded top-K rows. */
  def kneserNeyBigrams(s: SparkSession, d: String,
      topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = graft.GraftSession.cut(
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos", "t")))
        .select(col("doc_id"), col("t").as("a"),
          lead(col("t"), 1).over(w).as("b"))
        .filter(col("b").isNotNull)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2")))
    val ctx = bi.groupBy(col("a"))
      .agg(sum(col("c2")).as("c1a"), count(lit(1)).as("n1fwd"))
    val cont = bi.groupBy(col("b")).agg(count(lit(1)).as("n1back"))
    val types = bi.agg(count(lit(1)).as("nt"))
    val pKn =
      (greatest(col("c2").cast("double") - lit(0.75), lit(0.0)) /
        col("c1a").cast("double")) +
        ((lit(0.75) * col("n1fwd").cast("double") /
          col("c1a").cast("double")) *
          (col("n1back").cast("double") / col("nt").cast("double")))
    bi.orderBy(col("c2").desc, col("a"), col("b")).limit(topK)
      .join(ctx, "a")
      .join(cont, "b")
      .crossJoin(broadcast(types))
      .select(col("a"), col("b"), col("c2"),
        round(pKn, 6).as("p_kn"))
      .orderBy(col("c2").desc, col("a"), col("b"))
  }

  /** DuckDB oracle for [[kneserNeyBigrams]]: identical counts and the
    * same float parenthesization. */
  def kneserNeyBigramsSql(topK: Int = 20): String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS t,
       |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
       |  FROM documents),
       |pr AS (SELECT t1.t AS a, t2.t AS b
       |       FROM tok t1 JOIN tok t2
       |         ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
       |bi AS (SELECT a, b, COUNT(*) AS c2 FROM pr GROUP BY a, b),
       |ctx AS (SELECT a, SUM(c2) AS c1a, COUNT(*) AS n1fwd
       |        FROM bi GROUP BY a),
       |cont AS (SELECT b, COUNT(*) AS n1back FROM bi GROUP BY b),
       |types AS (SELECT COUNT(*) AS nt FROM bi),
       |top AS (SELECT a, b, c2 FROM bi
       |        ORDER BY c2 DESC, a, b LIMIT $topK)
       |SELECT t.a, t.b, t.c2,
       |  round(
       |    greatest(CAST(t.c2 AS DOUBLE) - 0.75, 0.0)
       |      / CAST(ctx.c1a AS DOUBLE) +
       |    (0.75 * CAST(ctx.n1fwd AS DOUBLE) / CAST(ctx.c1a AS DOUBLE))
       |      * (CAST(cont.n1back AS DOUBLE) / CAST(types.nt AS DOUBLE)),
       |    6) AS p_kn
       |FROM top t
       |JOIN ctx ON ctx.a = t.a
       |JOIN cont ON cont.b = t.b
       |CROSS JOIN types
       |ORDER BY t.c2 DESC, t.a, t.b""".stripMargin

  // -------------------- hashed linear quality classifier (q262)

  /** 60-bit value of md5 hex nibbles 1..15 — the oracle-shared hash
    * decode (the q38/q86/q44 family's device, local twin of
    * Similarity.md5Nibs15Col). */
  private def nibs15(src: Column): Column =
    conv(substring(md5(src), 1, 15), 16, 10).cast("long")
  /** Decode of md5 hex nibbles 1..15 over a column named `hh`. */
  private def nibs15Sql: String = (0 until 15).map { i =>
    val nib = s"substr(hh, ${1 + i}, 1)"
    s"CAST(ascii($nib) - CASE WHEN $nib <= '9' THEN 48 ELSE 87 END" +
      s" AS BIGINT) * ${1L << (4 * (14 - i))}"
  }.mkString(" + ")

  /** Hashed-feature linear classifier score histogram — the
    * fastText-style quality scorer every corpus-curation funnel runs
    * (score each document with a linear model over hashed token
    * features, then threshold): per-token weights are integers in
    * [-2^19, 2^19) derived from md5("qw|" ‖ token) — a FIXED public
    * model both engines share bit-for-bit, standing in for trained
    * weights (the plumbing, not the training, is the operator). A
    * document's score is the mean token weight; docs bucket by
    * floor(score / bucketWidth). All sums are exact BIGINTs — one
    * token explode, one per-doc aggregate, one small histogram
    * aggregate; at 100 TB this is two map-side-combinable passes
    * with fixed-width keys, no joins.
    *
    * The mean→bucket step is the only float op and both engines
    * compute the identical expression tree (one cast, two divides,
    * one floor). */
  def classifierScoreHistogram(s: SparkSession, d: String,
      bucketWidth: Long = 10000L): DataFrame = {
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        (nibs15(concat(lit("qw|"), col("t"))) % 1048576L - 524288L)
          .as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("sw"), count(lit(1)).as("n"))
    perDoc
      .select(floor(col("sw").cast("double") / col("n").cast("double")
          / lit(bucketWidth.toDouble)).cast("long").as("bucket"),
        col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[classifierScoreHistogram]]. */
  def classifierScoreHistogramSql(bucketWidth: Long = 10000L): String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id, md5('qw|' || t) AS hh FROM tok),
       |w AS (SELECT doc_id,
       |    ($nibs15Sql) % 1048576 - 524288 AS w
       |  FROM h),
       |perdoc AS (SELECT doc_id, SUM(w) AS sw, COUNT(*) AS n
       |  FROM w GROUP BY doc_id)
       |SELECT CAST(floor(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)
       |    / $bucketWidth.0) AS BIGINT) AS bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
       |FROM perdoc GROUP BY bucket ORDER BY bucket""".stripMargin

  // ----------------------- train/val split KL divergence (q263)

  /** KL divergence between the train and val splits' unigram
    * distributions — the drift check a pipeline runs before trusting
    * a held-out split (a high KL means the split is not exchangeable
    * and val loss won't track train loss). Splits follow the
    * [[graft.ops.Curation.splitManifest]] md5-first-nibble rule
    * (0-d train, e val; f/test excluded here); distributions are
    * add-1 smoothed over the union vocabulary V:
    * {{{
    * KL(P‖Q) = Σ_t P(t) · ln(P(t)/Q(t)),
    *   P(t) = (c_train(t)+1)/(N_train+V),  Q(t) likewise for val
    * }}}
    * Counts, totals and V are exact BIGINTs from ONE token pass
    * (both split counts are conditional aggregates of the same
    * groupBy — never two scans); each per-type ln term is
    * nano-quantized to BIGINT before the final sum, so the result is
    * partition-order invariant. At 100 TB: one explode + one
    * vocab-keyed aggregate + one broadcast scalar row. */
  def splitKlDivergence(s: SparkSession, d: String): DataFrame = {
    val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
    val counts = Tables.documents(s, d)
      .filter(nib =!= "f")
      .select(when(nib === "e", lit("val")).otherwise(lit("train"))
          .as("split"),
        explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t"))
      .agg(coalesce(sum(when(col("split") === "train", 1L)), lit(0L))
          .as("ctr"),
        coalesce(sum(when(col("split") === "val", 1L)), lit(0L))
          .as("cv"))
    val tot = counts.agg(sum(col("ctr")).as("ntr"),
      sum(col("cv")).as("nv"), count(lit(1)).as("v"))
    val p = (col("ctr") + lit(1L)).cast("double") /
      (col("ntr") + col("v")).cast("double")
    val q = (col("cv") + lit(1L)).cast("double") /
      (col("nv") + col("v")).cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("ntr"), col("nv"), col("v"),
        round(p * log(p / q) * lit(1e9), 0).cast("long").as("term"))
      .groupBy(col("ntr"), col("nv"), col("v"))
      .agg(sum(col("term")).as("st"))
      .select(col("ntr").as("n_train_tokens"),
        col("nv").as("n_val_tokens"), col("v").as("vocab_size"),
        round(col("st").cast("double") / 1e9, 6).as("kl_nats"))
  }

  /** DuckDB oracle for [[splitKlDivergence]]: identical counts and
    * the same float expression tree per vocabulary type. */
  def splitKlDivergenceSql: String =
    """WITH tok AS (SELECT
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e'
      |      THEN 'val' ELSE 'train' END AS split,
      |    unnest(string_split(text, ' ')) AS t
      |  FROM documents
      |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f'),
      |counts AS (SELECT t,
      |    coalesce(SUM(CASE WHEN split = 'train' THEN 1 END), 0)
      |      AS ctr,
      |    coalesce(SUM(CASE WHEN split = 'val' THEN 1 END), 0) AS cv
      |  FROM tok GROUP BY t),
      |tot AS (SELECT SUM(ctr) AS ntr, SUM(cv) AS nv, COUNT(*) AS v
      |  FROM counts),
      |terms AS (SELECT ntr, nv, v,
      |    CAST(round(
      |      (CAST(ctr + 1 AS DOUBLE) / CAST(ntr + v AS DOUBLE))
      |      * ln((CAST(ctr + 1 AS DOUBLE) / CAST(ntr + v AS DOUBLE))
      |          / (CAST(cv + 1 AS DOUBLE) / CAST(nv + v AS DOUBLE)))
      |      * 1e9) AS BIGINT) AS term
      |  FROM counts, tot)
      |SELECT CAST(ntr AS BIGINT) AS n_train_tokens,
      |  CAST(nv AS BIGINT) AS n_val_tokens,
      |  CAST(v AS BIGINT) AS vocab_size,
      |  round(CAST(SUM(term) AS DOUBLE) / 1e9, 6) AS kl_nats
      |FROM terms GROUP BY ntr, nv, v""".stripMargin
}
