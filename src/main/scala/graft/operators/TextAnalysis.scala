package graft.operators

import graft.GraftCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.{CharClassCountsExpr, CountInSetExpr, GF}

/** Text analysis for training-data pipelines (north-star ops): language
  * identification, quality scoring, token counting, fingerprinting.
  * Pure per-row expressions (plus one window for winnowing) — fully
  * parallel, no shuffle except where stated.
  */
object TextAnalysis {

  /** Small per-language stopword marker lists for the n-gram/stopword
    * language-ID heuristic. Deliberately tiny and deterministic. */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "los", "y", "en", "que", "un"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "nicht"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you"))

  /** Occurrences of `words` members in the token array — the
    * `size(filter(toks, isin(...)))` semantics as one codegen'd
    * hash-probe loop ([[graft.functions.CountInSetExpr]]; the HOF
    * form is CodegenFallback and pays an isin literal chain per
    * token). */
  private def tokenMatches(toks: Column, words: Seq[String]): Column =
    ColumnBridge.column(CountInSetExpr(
      ColumnBridge.expression(toks), words))

  /** Language-ID: per-language stopword hit count over whitespace tokens;
    * winner = max count, ties broken by language code ascending, docs
    * with zero hits → "und" (undetermined). */
  def langId(textCol: Column): Column = {
    val toks = GF.wsTokens(lower(textCol))
    // array_max over struct(score, -alphabetical_rank, lang): struct
    // comparison is field-by-field, so the winner is the max score with
    // ties resolved to the alphabetically-first language code.
    val scored = StopwordsByLang.sortBy(_._1).zipWithIndex.map {
      case ((lang, words), i) =>
        struct(tokenMatches(toks, words).as("score"),
          lit(-i).as("tiebreak"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Adds one `score_<lang>` column per language, tokenizing once. */
  def withLangScores(df: DataFrame, textCol: String): DataFrame = {
    val scored = StopwordsByLang.foldLeft(
      df.withColumn("__ltoks", GF.wsTokens(lower(col(textCol))))) {
      case (acc, (lang, words)) =>
        acc.withColumn(s"score_$lang",
          tokenMatches(col("__ltoks"), words).cast("long"))
    }
    scored.drop("__ltoks")
  }

  /** Quality signals: character/token counts, mean token length,
    * punctuation / digit / stopword ratios, uppercase ratio.
    * Token arrays are materialized once in their own projection —
    * repeated tokenization per signal column would re-run the regexes
    * (Catalyst does not CSE across lambda boundaries). The three
    * char-class counts come from ONE byte-walk of the text
    * ([[graft.functions.CharClassCountsExpr]]) instead of three full
    * `regexp_replace` scans, and the stopword count from a codegen'd
    * hash-probe loop instead of an interpreted HOF filter — same
    * numbers (the regex classes' exact semantics, see TextStats),
    * ~6× less per-row work on the pass every corpus document takes. */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = col("__toks")
    val cc = col("__cc")
    val nChars = cc.getItem(0).cast("double")
    val allStop = StopwordsByLang.flatMap(_._2).distinct
    df.withColumn("__toks", GF.wsTokens(t))
      .withColumn("__ltoks", GF.wsTokens(lower(t)))
      .withColumn("__cc", ColumnBridge.column(
        CharClassCountsExpr(ColumnBridge.expression(t))))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_token_len",
        round(length(concat_ws("", toks)).cast("double") /
          nullif(size(toks), lit(0)).cast("double"), 6))
      .withColumn("punct_ratio",
        round(cc.getItem(1).cast("double") / nullif(nChars, lit(0.0)), 6))
      .withColumn("digit_ratio",
        round(cc.getItem(2).cast("double") / nullif(nChars, lit(0.0)), 6))
      .withColumn("upper_ratio",
        round(cc.getItem(3).cast("double") / nullif(nChars, lit(0.0)), 6))
      .withColumn("stopword_ratio",
        round(tokenMatches(col("__ltoks"), allStop).cast("double") /
          nullif(size(toks), lit(0)).cast("double"), 6))
      .drop("__toks", "__ltoks", "__cc")
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with a
    * sane stopword ratio, penalizes punctuation/digit noise. Fixed
    * weights; deterministic; rounded for cross-engine comparison. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualitySignals(df, textCol).withColumn("quality_score",
      round(
        greatest(lit(0.0), least(lit(1.0),
          lit(0.4) * least(col("n_tokens").cast("double") / 50.0, lit(1.0)) +
            lit(0.4) * least(col("stopword_ratio") * 5.0, lit(1.0)) +
            lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 4.0, lit(1.0))))),
        6))

  /** Repetition signals (Gopher-rule style): fraction of duplicated
    * word 3-grams and the share of the single most frequent token —
    * high values flag boilerplate / degenerate generations. One explode
    * + two grouped aggregations keyed by doc: two narrow shuffles. */
  def repetitionSignals(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val sh = Dedup.shingleRows(docs, textCol, idCol, 3)
    val gramStats = sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("shingle")).as("n_distinct_grams"))
      .withColumn("dup_gram_ratio",
        round(lit(1.0) - col("n_distinct_grams").cast("double") /
          col("n_grams"), 6))
    val toks = docs.select(col(idCol),
        Dedup.normTokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(col("toks")).as("tok"))
    val topWord = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_word_count"), sum(col("c")).as("n_words"))
      .withColumn("top_word_ratio",
        round(col("top_word_count").cast("double") / col("n_words"), 6))
    gramStats.join(topWord, Seq(idCol))
      .select(col(idCol), col("n_grams"), col("dup_gram_ratio"),
        col("top_word_count"), col("n_words"), col("top_word_ratio"))
  }

  /** Token counts: whitespace tokens and BPE-ish subword segments
    * (letter runs / digit runs / single punctuation marks). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(GF.wsTokens(col(textCol))).cast("long"))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(col(textCol), lit(GF.BpeTokenRegex), lit(0)))
          .cast("long"))

  /** Whole-document fingerprint: 32-bit portable hash of the normalized
    * text (rolling-hash analogue; content-defined identity). */
  def docFingerprint(textCol: Column): Column =
    GF.hash32(md5(Dedup.normalizeText(textCol)))

  /** PII patterns: deliberately simple expressions valid in BOTH Java
    * regex and RE2 so engines agree byte-for-byte. URL first (may
    * contain '@'), then email, then IPv4. */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing for published corpora: URLs, e-mail addresses and
    * IPv4 literals replaced with typed markers. Pure per-row regex —
    * zero shuffle, codegen'd. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Benchmark decontamination: per-document ratio of its n-gram
    * shingles that appear in the benchmark set (test-set leakage
    * check). The benchmark shingle set is DISTINCT and tiny relative to
    * the corpus — the join broadcasts; the corpus side is one shingle
    * explode + one doc-keyed count, never a cross product. */
  def decontaminationRatios(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val docSh = Dedup.shingleRows(docs, textCol, idCol, n).distinct()
    val benchSh = Dedup.shingleRows(benchmark, textCol, idCol, n)
      .select(col("shingle")).distinct()
    val sizes = docSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val hits = docSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    sizes.join(hits, Seq(idCol), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("overlap_ratio",
        round(col("n_hit").cast("double") / col("n_sh"), 6))
      .withColumn("contaminated", col("overlap_ratio") >= threshold)
  }

  /** Item-side benchmark leakage: for each BENCHMARK document, how
    * many corpus documents contain at least `threshold` of its
    * distinct shingles, and the worst containment seen — the report an
    * eval owner reads (q48's decontaminationRatios answers "which
    * corpus docs are dirty"; this answers "which benchmark items are
    * compromised", the decision that invalidates an eval).
    *
    * Scale shape: both sides collapse to distinct shingles; corpus
    * shingles above `maxDocFreq` document-frequency are dropped FIRST —
    * boilerplate shingles shared by thousands of documents carry no
    * contamination signal but would dominate the pair-grain join, so
    * the filter is both the statistical and the 100 TB safety valve.
    * The remaining join is shingle-grain with pair-grain output
    * bounded by Σ_shingle (bench docs × rare corpus docs). */
  def benchmarkLeakage(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      threshold: Double = 0.5, maxDocFreq: Long = 1000): DataFrame = {
    val docSh = Dedup.shingleRows(docs, textCol, idCol, n).distinct()
    val rare = docSh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select(col("shingle"))
    val corpusSh = docSh.join(rare, Seq("shingle"))
      .withColumnRenamed(idCol, "corpus_id")
    val benchSh = Dedup.shingleRows(benchmark, textCol, idCol, n)
      .distinct().withColumnRenamed(idCol, "bench_id")
    val sizes = benchSh.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_sh"))
    val per = benchSh.join(corpusSh, Seq("shingle"))
      .groupBy(col("bench_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_int"))
      .join(broadcast(sizes), Seq("bench_id"))
      .withColumn("containment",
        round(col("n_int").cast("double") / col("n_sh"), 6))
    val agg = per.groupBy(col("bench_id"))
      .agg(sum(when(col("containment") >= threshold, 1L).otherwise(0L))
          .as("n_leaky_docs"),
        max(col("containment")).as("max_containment"))
    sizes.join(agg, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_sh"),
        coalesce(col("n_leaky_docs"), lit(0L)).as("n_leaky_docs"),
        coalesce(col("max_containment"), lit(0.0)).as("max_containment"))
  }

  /** Corpus TF-IDF: top-k terms per language scored tf·ln(N/df).
    * One explode, two partial-aggregatable groupBys keyed by
    * (lang, token), then a top-k window over the (tiny) per-language
    * term frame — never over documents. Ranking uses the ROUNDED score
    * with the token as tie-break so results are engine-stable. */
  def tfidfTopTerms(docs: DataFrame, textCol: String, langCol: String,
      idCol: String, k: Int = 5): DataFrame = {
    val toks = docs.select(col(langCol).as("lang"), col(idCol).as("_id"),
      explode(Dedup.normTokens(col(textCol))).as("tok"))
    val nDocs = docs.groupBy(col(langCol).as("lang"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    // tf and df in ONE pass over the exploded tokens (count-distinct
    // plans as a two-phase partial aggregate) — no double lineage
    val scored = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("_id")).as("df"))
      .join(broadcast(nDocs), Seq("lang"))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("tok"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** Corpus-trained unigram language-model scoring — the classic
    * perplexity-style quality signal (CCNet/Gopher-style filtering uses
    * an LM score per document; this is its dependency-free unigram
    * form, trained on the corpus itself). Each document's score is the
    * mean token log-probability
    * `(Σ ln cnt_tok − n·ln total) / n` — low scores mark documents full
    * of corpus-rare tokens, the usual boilerplate/noise signature.
    *
    * Scale shape: the LM is one partial-agg count per token (vocab is
    * Heaps-law small relative to the corpus), the token→count join is
    * the only data-sized shuffle, and the per-document fold runs over
    * the position-sorted count array so the FP sum has ONE order — any
    * IEEE-754 engine reproduces it (rounded to 6 dp). No OOV handling
    * is needed: the model is trained on the same corpus it scores, so
    * every count is >= 1. Returns (id, n_tokens, logprob). */
  def unigramLogProb(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("_id"),
      posexplode(Dedup.normTokens(col(textCol)))
        .as(Seq("pos", "tok")))
    val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = lm.agg(sum(col("cnt")).as("total"))
    val n = size(col("arr")).cast("double")
    toks.join(lm, Seq("tok"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cnt"))))
        .as("arr"))
      .crossJoin(broadcast(total))
      .select(col("_id").as(idCol), size(col("arr")).as("n_tokens"),
        round((aggregate(col("arr"), lit(0.0d),
            (acc, x) => acc + log(x.getField("cnt").cast("double")))
          - n * log(col("total").cast("double"))) / n, 6).as("logprob"))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash each
    * w-token shingle, slide a window of `windowSize` hashes, keep each
    * window's minimum — the classic local fingerprint set for near-dup /
    * plagiarism detection. Returns (id, fingerprint) distinct rows.
    * One explode + one window over (doc, position) + distinct. */
  def winnowingFingerprints(docs: DataFrame, textCol: String, idCol: String,
      shingleW: Int = 4, windowSize: Int = 4): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(Dedup.normTokens(col(textCol)))
        .as(Seq("pos", "tok")))
    val sh = toks
      .withColumn("shingle",
        concat_ws(" ", (0 until shingleW).map(o =>
          lead(col("tok"), o).over(
            Window.partitionBy(col(idCol)).orderBy(col("pos")))): _*))
      .withColumn("n_toks",
        count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("pos") <= col("n_toks") - shingleW)
      .withColumn("h", GF.hash32(col("shingle")))
    val winMin = sh.withColumn("fingerprint",
      min(col("h")).over(Window.partitionBy(col(idCol)).orderBy(col("pos"))
        .rowsBetween(0, windowSize - 1)))
      .filter(col("pos") <= col("n_toks") - shingleW - windowSize + 1)
    winMin.select(col(idCol), col("fingerprint")).distinct()
  }

  /** Corpus composition stats per stratum: document count, mean length,
    * and length percentiles — the mixture report a training-data
    * pipeline reads before setting sampling rates.
    *
    * `exact = true` uses `percentile` (linear interpolation — the same
    * definition as SQL `quantile_cont`, engine-portable, but the
    * aggregate buffers each group's values: right for per-stratum
    * reports where strata are few and this oracle check). At 100 TB
    * with high-cardinality strata, pass `exact = false` for
    * `approx_percentile` (t-digest-style sketch, fixed memory,
    * partial-aggregatable). */
  def corpusStats(docs: DataFrame, strataCol: String, lenCol: String,
      exact: Boolean = true): DataFrame = {
    def pct(p: Double): Column =
      if (exact) percentile(col(lenCol), lit(p))
      else approx_percentile(col(lenCol), lit(p), lit(10000)).cast("double")
    docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col(lenCol)), 4).as("mean_len"),
        round(pct(0.5), 4).as("p50"),
        round(pct(0.9), 4).as("p90"),
        round(pct(0.99), 4).as("p99"))
  }

  /** Quantile-based quality gating (FineWeb-style): each stratum keeps
    * only rows whose score clears that stratum's q-th percentile — a
    * RELATIVE bar, so a weak language's best docs survive while a
    * strong language's mediocre docs don't. Thresholds are one
    * per-stratum percentile aggregation (rows = #strata, metadata
    * scale) broadcast back onto the corpus — the big side never
    * shuffles. Threshold rounds to 6 dp BEFORE the comparison so the
    * keep decision is engine-portable.
    *
    * The threshold is computed DISTRIBUTED, not via the builtin
    * `percentile` aggregate: `Percentile` is a TypedImperativeAggregate
    * (ObjectHashAggregate, no codegen) that ships one value→count map
    * per stratum to a single reducer and sorts the whole distinct-value
    * domain there — at 100 TB a stratum's score map is executor-OOM
    * scale. Here the corpus collapses to (stratum, value, count) rows
    * through an ordinary codegen'd partial-agg shuffle (parallel), and
    * only the value-grain cumulative scan runs per-stratum. The
    * interpolation replays Spark's Percentile.getPercentile arithmetic
    * step for step — position = q·(n−1) on doubles, lower/higher keys
    * selected by cumulative count, `(higher − pos)·lowerKey +
    * (pos − lower)·higherKey` — so the threshold is BIT-EQUAL to the
    * builtin's (OperatorsSpec pins it on ties/nulls/single-value
    * strata; the sf0.01 oracle gate covers q68/q155 end-to-end). */
  def qualityQuantileGate(scored: DataFrame, strataCol: String,
      scoreCol: String, q: Double): DataFrame = {
    // lazy-checkpointed: the threshold agg AND the gate join both
    // consume `scored`, whose lineage is typically the expensive part
    // (the full scoring battery) — without this it evaluates twice,
    // which the ×100 scaling run measured as ~2× the whole query
    val s = scored.graftCp(false)
    // value-grain counts (nulls excluded, as the builtin skips them)
    val counts = s.filter(col(scoreCol).isNotNull)
      .groupBy(col(strataCol), col(scoreCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_cnt"))
    val cumW = Window.partitionBy(col(strataCol)).orderBy(col("_v"))
    val totW = Window.partitionBy(col(strataCol))
    // Percentile.getPercentile replayed in column arithmetic: every
    // double op appears in the same order as the builtin's Scala code,
    // so the result is IEEE-bit-equal, not just close.
    val pos = lit(q) * (col("_n") - lit(1L)).cast("double")
    val lower = floor(pos) // bigint, like position.floor.toLong
    val higher = ceil(pos)
    val thresholds = counts
      .withColumn("_cum", sum(col("_cnt")).over(cumW))
      .withColumn("_n", sum(col("_cnt")).over(totW))
      .groupBy(col(strataCol))
      .agg(
        min(when(col("_cum") > lower, col("_v"))).as("_lo"),
        min(when(col("_cum") > higher, col("_v"))).as("_hi"),
        first(pos).as("_pos"), first(lower).as("_lower"),
        first(higher).as("_higher"))
      .select(col(strataCol),
        round(
          when(col("_higher") === col("_lower") ||
              col("_lo") === col("_hi"), col("_lo"))
            .otherwise(
              (col("_higher") - col("_pos")) * col("_lo") +
                (col("_pos") - col("_lower")) * col("_hi")), 6)
          .as("threshold"))
    // LEFT join: a stratum whose scores are all null has no counts row;
    // the builtin form gave it a null threshold (kept = null), not a
    // dropped row — preserve that.
    s.join(broadcast(thresholds), Seq(strataCol), "left")
      .withColumn("kept", col(scoreCol) >= col("threshold"))
  }

  /** Character-distribution Shannon entropy (nats) via the native
    * codegen'd CharEntropyExpr — the gibberish/boilerplate detector
    * (near-0 = one repeated char, ~ln(alphabet) = uniform noise). A
    * per-row scalar: no explode, no shuffle, stays inside
    * WholeStageCodegen. */
  def charEntropy(c: Column): Column = {
    graft.GraftExtensions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_char_entropy", c)
  }

  /** Exact top-k tokens per stratum (vocabulary heavy hitters): the
    * corpus-health report behind tokenizer-vocab and boilerplate
    * audits. Tokens are the normalized whitespace tokens
    * (Dedup.normalizeText — same token function the dedup shingles
    * use). Rank ties break on token ascending so the result is total.
    *
    * Scale: explode → ONE partially-aggregated groupBy (token counts
    * combine map-side, so the shuffle carries one row per distinct
    * (stratum, token), not per occurrence) → per-stratum window that
    * plans as WindowGroupLimit: each map task pre-prunes to its local
    * top-k before the tiny final rank. No collect, no cross join;
    * 1000 executors each stream their own token partitions. */
  def topTokens(docs: DataFrame, textCol: String, strataCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(strataCol).as("stratum"),
      explode(Dedup.normTokens(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("stratum"), col("tok"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("n").desc, col("tok"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("stratum"), col("tok"), col("n"), col("rank"))
  }

  /** Per-document n-gram novelty against a reference corpus: the
    * fraction of a document's distinct word shingles never seen in the
    * reference — high novelty flags genuinely new content worth
    * ingesting, low novelty flags near-boilerplate of the served
    * corpus (the aggregate cousin of containment dedup: one score per
    * doc, no pairs).
    *
    * Scale shape: both sides collapse to distinct shingles first (the
    * reference to a bare vocabulary column), then ONE shuffle joins at
    * shingle grain — never doc × doc. At 100 TB the reference
    * vocabulary is served from a persisted/bloom-fronted index rather
    * than recomputed (the q81 signature-index pattern); semantics are
    * identical. */
  /** Corpus collocations by pointwise mutual information: the top-k
    * adjacent token pairs whose co-occurrence beats chance,
    * PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) over bigram positions
    * and p(a) over token positions — the tokenizer-vocabulary /
    * multi-word-expression miner (a BPE merge step is exactly "take
    * the top pair"). `minCount` suppresses the unstable low-count tail
    * before the joins.
    *
    * Scale shape: unigram and bigram counts are partially-aggregated
    * groupBys (shuffles carry vocab-grain rows, not token positions);
    * the PMI joins run at filtered-candidate × vocabulary grain; the
    * two totals ride one-row broadcasts; top-k plans as
    * TakeOrderedAndProject — the distributed k-heap, never a
    * single-partition window. */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 50): DataFrame = {
    val toks = docs.select(
      Dedup.normTokens(col(textCol)).as("arr"))
    val uc = toks.select(explode(col("arr")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
    val bc = toks.select(explode(
        when(size(col("arr")) >= 2,
          transform(sequence(lit(1), size(col("arr")) - 1),
            i => concat(element_at(col("arr"), i), lit(" "),
              element_at(col("arr"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val nUni = uc.agg(sum(col("c_tok")).as("n_uni"))
    val nBi = bc.agg(sum(col("c_ab")).as("n_bi"))
    bc.filter(col("c_ab") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(uc.select(col("tok").as("w1"), col("c_tok").as("c_a")), Seq("w1"))
      .join(uc.select(col("tok").as("w2"), col("c_tok").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        round(log((col("c_ab") / col("n_bi")) /
          ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Corpus-trained BPE tokenizer (Sennrich et al. 2016, public
  // algorithm): learn merge ranks from the corpus itself so token
  // budgets (packing, length buckets) are priced in units an actual
  // trainer would see — the learned upgrade of [[tokenCounts]]'
  // regex "BPE-ish" estimate.
  //
  // Representation: a word's segmentation is a string of
  // delimiter-wrapped symbols, e.g. "hello" -> "<h> <e> <l> <l> <o>".
  // Applying merge (a, b) is then ONE literal string replace of
  // "<a> <b>" with "<ab>" — and because `replace` substitutes
  // left-to-right non-overlapping in both Spark and DuckDB, that IS
  // greedy BPE merge semantics ("<a> <a> <a>" -> "<aa> <a>").
  // Wrappers make misaligned matches impossible: symbols are [a-z0-9]+
  // so '<', '>' and ' ' never occur inside one.
  //
  // Scale shape: the training state is the DISTINCT-word table (word,
  // freq, seg) — vocabulary grain, not corpus grain. Each round runs
  // exactly one shuffle (pair-count partial aggregation at pair grain)
  // plus a metadata-plane top-1 collect (count desc, pair asc — the
  // deterministic tie-break), then a map-only `replace` over the word
  // table; the kmeansCells discipline (bounded rounds, deterministic
  // tie-breaks, one shuffle per round). Applying the tokenizer to the
  // corpus is one vocabulary-grain equi-join.
  // ------------------------------------------------------------------

  /** Merge rounds used by the oracle-checked BPE query — the oracle SQL
    * replays exactly this many iterations. */
  val BpeMerges = 12

  /** BPE pre-tokenization: lowercase [a-z0-9]+ runs (one row per word
    * occurrence). */
  private def bpeWords(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z0-9]+"), lit(0))).as("word"))

  /** Train `nMerges` merges on the corpus. Returns the merge pairs in
    * rank order (each as the "<a> <b>" search string) and the final
    * word table (word, freq, seg, n_tokens). */
  def bpeLearn(df: DataFrame, textCol: String, idCol: String,
      nMerges: Int = BpeMerges): (Seq[String], DataFrame) = {
    val base = bpeWords(df, textCol, idCol)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg", array_join(
        transform(regexp_extract_all(col("word"), lit("."), lit(0)),
          c => concat(lit("<"), c, lit(">"))), " "))
      .persist()
    base.count() // materialize once; every round re-reads this table
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = base
    var done = false
    // The per-round job is a top-1 over a VOCABULARY-grain aggregate
    // of the persisted word table — a few thousand rows. Under AQE
    // each round costs materialize-shuffle-stage → replan → final
    // stage (two scheduler round-trips); with nMerges rounds the wall
    // is driver latency, not compute (r17 ProfileQuery: 35–50 % of the
    // BPE queries' wall was driver gap, 33 jobs/query). AQE is
    // disabled for exactly these in-loop actions — the count sum is a
    // long (partitioning-insensitive), and the in-loop state stays
    // vocabulary-grain at any corpus scale, so the fixed
    // `spark.sql.shuffle.partitions` fallback is bounded the same
    // way. The corpus-grain stages before (base) and after (the
    // returned table's consumers) run outside the scope and keep AQE.
    Rounds.withoutAqe(df.sparkSession) {
      for (_ <- 1 to nMerges if !done) {
        val arr = split(col("seg"), " ")
        val top = cur.select(col("freq"),
            explode(zip_with(
              slice(arr, lit(1), size(arr) - 1),
              slice(arr, lit(2), size(arr) - 1),
              (l, r) => concat(l, lit(" "), r))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("pair"))
          .limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val pair = top.head.getString(0)
          merges += pair
          // NOT checkpointed per round (A/B-measured as a wash-to-loss,
          // r18: q176 min 1.95 → 2.12 s): round k replays k replaces
          // over the persisted vocab table, but those are cheap 32-way
          // string passes, while a per-round checkpoint adds a
          // materialization barrier + block writes to every round.
          cur = cur.withColumn("seg",
            replace(col("seg"), lit(pair), lit(pair.replace("> <", ""))))
        }
      }
    }
    (merges.toSeq,
      cur.withColumn("n_tokens", size(split(col("seg"), " ")).cast("long")))
  }

  /** Per-document REAL token counts under the corpus-trained tokenizer:
    * one vocabulary-grain join of the word stream against the learned
    * segmentation table. Docs with no [a-z0-9] word are absent (no
    * tokens). */
  def bpeTokenCounts(df: DataFrame, textCol: String, idCol: String,
      nMerges: Int = BpeMerges): DataFrame = {
    val (_, table) = bpeLearn(df, textCol, idCol, nMerges)
    bpeWords(df, textCol, idCol)
      .join(table.select(col("word"), col("n_tokens")), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens")).as("n_bpe_tokens"))
  }

  /** Apply trained BPE merges to a word stream — the SERVING path: no
    * vocabulary join, no shuffle, any [a-z0-9] word (out-of-vocabulary
    * included) encodes. The merge list is driver-side metadata (tens of
    * strings) folded into ONE projection of chained replaces, in rank
    * order — leftmost-first non-overlapping replacement per rank is
    * exactly the greedy merge order training used, so in-vocab words
    * reproduce their training segmentation bit-for-bit.
    *
    * Returns (word, seg, n_tokens). */
  def bpeEncode(words: DataFrame, wordCol: String,
      merges: Seq[String]): DataFrame = {
    val seg0 = array_join(
      transform(regexp_extract_all(col(wordCol), lit("."), lit(0)),
        c => concat(lit("<"), c, lit(">"))), " ")
    val seg = merges.foldLeft(seg0)((s, pair) =>
      replace(s, lit(pair), lit(pair.replace("> <", ""))))
    words.select(col(wordCol).as("word"), seg.as("seg"))
      .withColumn("n_tokens", size(split(col("seg"), " ")).cast("long"))
  }

  /** Unigram-LM (SentencePiece-style, Kudo 2018) subword tokenizer
    * training — the OTHER mainstream subword family next to BPE
    * ([[bpeLearn]]): piece probabilities estimated by full soft EM
    * over every segmentation of every word, via the forward-backward
    * recursions. BPE greedily merges; the unigram model scores — the
    * two families cover the tokenizer-training surface an LLM data
    * pipeline needs.
    *
    * Model core (deterministic, oracle-replayable):
    *  - Seed vocabulary: every substring of length 1..`maxPieceLen`
    *    with corpus frequency >= `minFreq` (single chars always kept,
    *    so every word segments); p₀ ∝ frequency.
    *  - Each EM round, per word w: forward α[j] = Σ_l p(w[j-l..j])·
    *    α[j-l] and backward β mirror; expected count of an occurrence
    *    (i, l) is freq(w)·α[i]·p·β[i+l]/α[len] (posterior over ALL
    *    segmentations — no Viterbi argmax, no backtracking); M-step
    *    renormalizes. The vocabulary stays fixed across rounds
    *    (SentencePiece's loss-ranked pruning is a selection on the
    *    output table; callers take top-k).
    *
    * Determinism discipline (floating EM across two engines): every
    * double sum has ONE pinned order — the α/β recursions sum their
    * ≤ maxPieceLen terms in fixed l-ascending chains, expected counts
    * fold per piece over (word, i, l)-sorted contribution arrays, and
    * the normalizer folds over piece-sorted arrays — so the DuckDB
    * oracle replays every bit, not just every rounded digit.
    *
    * Scale shape: ALL state is distinct-word / vocabulary grain, never
    * corpus grain — words aggregate once (one corpus-grain shuffle),
    * then occurrences, the per-word (i,l)→p maps, the α/β arrays (one
    * `aggregate` HOF projection each — no per-position shuffle) and
    * the expected-count folds are vocabulary-sized frames with the
    * piece table broadcast each round (the bpeLearn round discipline).
    * The two driver scalars per round (seed total, nothing else) are
    * metadata-plane by contract.
    *
    * Returns the final piece table (piece, p) — full vocabulary,
    * unrounded. */
  def unigramLmTrain(df: DataFrame, textCol: String, idCol: String,
      maxPieceLen: Int = 4, emIters: Int = 2, minFreq: Long = 2L)
      : DataFrame = {
    require(maxPieceLen >= 2 && maxPieceLen <= 8,
      s"maxPieceLen must be in [2,8], got $maxPieceLen")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    val m = maxPieceLen
    val words = bpeWords(df, textCol, idCol)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("word")).cast("int"))
      .graftCp(false)
    // every occurrence (word, i 0-based, l, piece) — one projection
    val occ = words
      .select(col("word"), col("freq"), col("len"),
        explode(flatten(transform(sequence(lit(0), col("len") - 1), i =>
          transform(sequence(lit(1), least(lit(m), col("len") - i)), l =>
            struct(i.as("i"), l.as("l"),
              col("word").substr(i + 1, l).as("piece")))))).as("o"))
      .select(col("word"), col("freq"), col("len"),
        col("o.i").as("i"), col("o.l").as("l"), col("o.piece").as("piece"))
      .graftCp(false)
    val pieceFreq = occ.groupBy(col("piece"))
      .agg(sum(col("freq")).as("pfreq"))
      .filter(col("pfreq") >= minFreq || length(col("piece")) === 1)
    // integer total over the seed vocabulary: order-free, driver scalar
    val totalSeed = pieceFreq.agg(sum(col("pfreq"))).head().getLong(0)
    var probs = pieceFreq.select(col("piece"),
        (col("pfreq").cast("double") / totalSeed).as("p"))
      .graftCp(false)
    // the fixed l-ascending term chain both recursions share:
    // term_l = p(piece keyed (start, l)) * acc[prev], summed
    // ((t1+t2)+t3)+... so the IEEE total has exactly one order
    def chain(acc: Column, pm: Column, j: Column,
        key: Int => Column, accIdx: Int => Column): Column =
      (1 to m).map { l =>
        when(j >= l,
          coalesce(element_at(pm, key(l)), lit(0.0)) *
            element_at(acc, accIdx(l)))
          .otherwise(lit(0.0))
      }.reduce(_ + _)
    for (_ <- 1 to emIters) {
      val cand = occ.join(broadcast(probs), Seq("piece"))
      val wmap = cand.groupBy(col("word"), col("freq"), col("len"))
        .agg(map_from_entries(collect_list(struct(
          (col("i") * (m + 1) + col("l")).as("k"),
          col("p").as("v")))).as("pm"))
      // α[0..len] and the REVERSED β (γ[t] = β[len−t]) as arrays —
      // pure per-word expression work, no shuffle per position
      val ab = wmap
        .withColumn("alpha",
          aggregate(sequence(lit(1), col("len")), array(lit(1.0)),
            (acc, j) => concat(acc, array(chain(acc, col("pm"), j,
              l => (j - l) * (m + 1) + l,
              l => j - l + 1)))))
        .withColumn("brev",
          aggregate(sequence(lit(1), col("len")), array(lit(1.0)),
            (acc, t) => concat(acc, array(chain(acc, col("pm"), t,
              l => (col("len") - t) * (m + 1) + l,
              l => t - l + 1)))))
        .select(col("word"), col("alpha"), col("brev"))
      // posterior expected count of each occurrence, then the pinned
      // per-piece fold over (word, i, l)-sorted contributions
      val ev = cand.join(ab, Seq("word"))
        .select(col("piece"), col("word"), col("i"), col("l"),
          (col("freq") * element_at(col("alpha"), col("i") + 1) *
            col("p") *
            element_at(col("brev"),
              col("len") - (col("i") + col("l")) + 1) /
            element_at(col("alpha"), col("len") + 1)).as("contrib"))
      val ec = ev.groupBy(col("piece"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("word"), col("i"),
            col("l"), col("contrib")))),
          lit(0.0), (a, x) => a + x.getField("contrib")).as("ec"))
      val tot = ec.agg(aggregate(
        array_sort(collect_list(struct(col("piece"), col("ec")))),
        lit(0.0), (a, x) => a + x.getField("ec")).as("t"))
      probs = ec.crossJoin(broadcast(tot))
        .select(col("piece"), (col("ec") / col("t")).as("p"))
        .graftCp(false)
    }
    probs
  }

  def ngramNovelty(cur: DataFrame, ref: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    val curSh = Dedup.shingleRows(cur, textCol, idCol, n).distinct()
    val vocab = Dedup.shingleRows(ref, textCol, idCol, n)
      .select(col("shingle")).distinct()
      .withColumn("seen", lit(1))
    curSh.join(vocab, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") / col("n_shingles"), 6))
  }

  /** BM25 retrieval (Robertson–Spärck Jones; the Lucene-sanitized idf
    * `ln(1 + (N − df + ½)/(df + ½))`, always positive) — score every
    * document against a bag of query terms and keep the top k. The
    * retrieval primitive a curation pipeline uses to pull topical
    * slices ("find the docs about X") out of a web-scale corpus.
    *
    * Scale shape: tokens are filtered to the (tiny, broadcast) query
    * term set BEFORE any shuffle, so tf is a partial aggregate at
    * (doc, term) grain over a stream that's already orders of magnitude
    * smaller than the corpus; df and the corpus stats (N, Σdl) are
    * metadata-plane scalars. The per-document sum folds in term-sorted
    * order so the IEEE-754 total has exactly one order (oracle-exact at
    * 6 dp), and the final top-k plans as TakeOrderedAndProject — no
    * global sort materializes.
    *
    * Output: (id, bm25, n_terms_hit), ordered score desc / id asc,
    * limited to `k`. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = docs.select(col(idCol).as("_id"),
      explode(Dedup.normTokens(col(textCol))).as("tok"))
    val dl = toks.groupBy(col("_id")).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qToks = toks.filter(col("tok").isin(queryTerms: _*))
    val dfreq = qToks.groupBy(col("tok"))
      .agg(countDistinct(col("_id")).as("df"))
    val tf = qToks.groupBy(col("_id"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("_id"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      // dl/avgdl as dl·N/Σdl: one double expression, one rounding path
      .withColumn("tfn", col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") * col("n_docs") / col("sum_dl"))))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(
        struct(col("tok"), (col("idf") * col("tfn")).as("s")))).as("arr"))
      .select(col("_id").as(idCol),
        round(aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + x.getField("s")), 6).as("bm25"),
        size(col("arr")).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Persist the corpus as a BM25 inverted index: postings (term, doc,
    * tf) hash-bucketed into `nBuckets` hive partitions and term-sorted
    * within each, document lengths at doc grain, and the corpus
    * scalars (N, Σdl) as a one-row stats table. The
    * [[writeSignatureIndex]] pattern applied to retrieval: build once
    * per corpus epoch, serve every query from partition-pruned
    * posting reads instead of re-tokenizing 100 TB per query.
    * Deliberately NO per-term df table: df is derivable inside the
    * probe from the pruned postings at query-term cost, which removes
    * a whole consistency surface from [[upsertBm25Index]]. */
  def writeBm25Index(docs: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.normTokens(col(textCol))).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    dl.write.mode("overwrite").parquet(s"$path/doclen")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$path/stats")
    toks.groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(GF.hash32(col("tok")), lit(nBuckets)))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("tok"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
  }

  /** Incrementally extend a persisted BM25 index with an arriving
    * batch. Postings and doclen rows for genuinely-new docs APPEND
    * (bucket-partitioned / doc-grain — no existing file is touched);
    * the one-row stats table is re-derived from doclen and swapped
    * crash-safely last. `skipExisting` drops batch docs already in
    * doclen (broadcast semi-join of ids, materialized before any
    * write), so re-crawled feeds stay idempotent; a crash between the
    * appends re-runs safely because the probe dedups postings/doclen
    * at (tok, doc)/(doc) grain with max() — replayed rows are
    * byte-identical so max() is exact. Returns docs actually added. */
  def upsertBm25Index(batch: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = 64,
      skipExisting: Boolean = true): Long = {
    val spark = batch.sparkSession
    healBm25Stats(spark, path)
    val fresh0 = if (!skipExisting) batch else {
      val ids = batch.select(col(idCol).as("doc_id")).distinct()
      // semi-join first, distinct after — see upsertSignatureIndex
      val existing = spark.read.parquet(s"$path/doclen")
        .select(col("doc_id"))
        .join(broadcast(ids), Seq("doc_id"))
        .distinct()
        .graftCp(true) // materialize BEFORE touching the index
      batch.join(existing.withColumnRenamed("doc_id", idCol),
        Seq(idCol), "left_anti")
    }
    val fresh = fresh0.graftCp(false)
    val toks = fresh.select(col(idCol).as("doc_id"),
      explode(Dedup.normTokens(col(textCol))).as("tok"))
      .graftCp(false)
    // a BM25 corpus is docs with >= 1 token: zero-token docs can never
    // match a query and are SKIPPED (not counted) so re-crawling a feed
    // that contains them still converges to nAdded == 0
    val nAdded = toks.select(col("doc_id")).distinct().count()
    if (nAdded > 0) {
      toks.groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(GF.hash32(col("tok")), lit(nBuckets)))
        .repartition(col("bucket"))
        .sortWithinPartitions(col("tok"))
        .write.mode("append").partitionBy("bucket")
        .parquet(s"$path/postings")
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        .write.mode("append").parquet(s"$path/doclen")
    }
    // Stats rewrite runs UNCONDITIONALLY, not only when nAdded > 0: a
    // crash after the appends but before the swap leaves doclen ahead
    // of stats, and the re-run finds every batch doc already present
    // (nAdded == 0) — gating the rewrite on nAdded would freeze that
    // staleness forever. Re-deriving from doclen costs the same doc-
    // grain scan a staleness CHECK would, so always roll forward.
    rewriteBm25Stats(spark, path)
    nAdded
  }

  /** Re-derive the one-row stats table from doclen (deduped at doc
    * grain, so replayed crashed appends don't double-count) and swap it
    * in crash-safely via tmp + rename. */
  private def rewriteBm25Stats(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val stats = new HPath(s"$path/stats")
    val fs = FileSystem.get(stats.toUri,
      spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(s"$path/.stats.tmp")
    fs.delete(tmp, true)
    spark.read.parquet(s"$path/doclen")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(stats, true)
    require(fs.rename(tmp, stats), s"failed to land $tmp as $stats")
  }

  /** Heal a BM25 index whose stats swap crashed between the delete and
    * the rename (stats gone, `.stats.tmp` holding the sole copy): land
    * the tmp as stats. Called on entry by every reader/writer — the
    * same roll-forward-first discipline as CorpusLake.recoverShard. */
  private def healBm25Stats(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val stats = new HPath(s"$path/stats")
    val fs = FileSystem.get(stats.toUri,
      spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(s"$path/.stats.tmp")
    if (!fs.exists(stats) && fs.exists(tmp))
      require(fs.rename(tmp, stats),
        s"healBm25Stats: failed to restore $stats from $tmp")
  }

  /** BM25 top-k against a persisted index: hash the (few) query terms
    * to their buckets, read ONLY those posting partitions (hive
    * partition pruning) and within them only the term's row groups
    * (term-sorted files → min/max pruning), then score exactly as
    * [[bm25TopK]] — identical idf/tf-norm arithmetic and fold order,
    * so the served path returns the same rows as the direct scan. The
    * corpus never re-tokenizes; per-query work scales with posting
    * sizes of the query terms, not corpus size. df is derived from the
    * pruned postings (countDistinct at query-term grain); postings and
    * doclen dedup through max() so a replayed crashed upsert cannot
    * change scores. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, nBuckets: Int = 64): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    healBm25Stats(spark, path)
    val buckets = queryTerms
      .map(t => Math.floorMod(GF.hash32Jvm(t), nBuckets)).distinct
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("tok"), col("doc_id")).agg(max(col("tf")).as("tf"))
      .graftCp(false) // df + scoring both read the pruned set
    val dfreq = postings.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val dl = spark.read.parquet(s"$path/doclen")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    val corpus = spark.read.parquet(s"$path/stats")
    postings.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfn", col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") * col("n_docs") / col("sum_dl"))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("tok"), (col("idf") * col("tfn")).as("s")))).as("arr"))
      .select(col("doc_id"),
        round(aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + x.getField("s")), 6).as("bm25"),
        size(col("arr")).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Reciprocal Rank Fusion (Cormack et al. 2009) — the standard
    * hybrid-retrieval combiner: fuse any number of (name, ranking)
    * lists into one by `Σ 1/(c + rank)`, rank-based so wildly different
    * score scales (BM25 vs cosine) need no calibration. Per-id fold
    * runs (ranker, rank)-sorted so the IEEE sum has one order; ids
    * absent from a ranker simply contribute nothing. Top-k plans as
    * TakeOrderedAndProject. */
  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val tagged = rankings.map { case (name, df) =>
      df.select(col(idCol).as("_id"), lit(name).as("_ranker"),
        col(rankCol).cast("long").as("_rank"))
    }.reduce(_ unionByName _)
    tagged.groupBy(col("_id"))
      .agg(sort_array(collect_list(
        struct(col("_ranker"), col("_rank")))).as("arr"))
      .select(col("_id").as(idCol),
        size(col("arr")).as("n_rankers"),
        round(aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + lit(1.0) /
            (lit(c.toDouble) + x.getField("_rank"))), 6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Interpolated bigram language model — the next step up from
    * [[unigramLogProb]]'s quality signal: score each document by the
    * mean log of `λ·P(w₂|w₁) + (1−λ)·P(w₂)` over its bigrams, with
    * both models trained on the scored corpus itself (so every count
    * ≥ 1 and no OOV mass is needed). Fluent text scores high; bag-of-
    * rare-transitions boilerplate scores low even when its unigrams
    * look normal — the signal the unigram model structurally misses.
    *
    * Scale shape: the LM is two partial-agg count tables (bigram grain
    * and token grain — Heaps-law small next to the corpus); scoring is
    * one bigram-grain equi-join plus one token-grain equi-join; the
    * per-document fold runs position-sorted so the FP sum has one
    * order. Documents with < 2 tokens surface with n_bigrams = 0 and a
    * NULL score rather than vanishing. */
  def bigramLogProb(docs: DataFrame, textCol: String, idCol: String,
      lambda: Double = 0.7): DataFrame = {
    val w = Window.partitionBy(col("_id")).orderBy(col("pos"))
    // tokenize ONCE; the unigram table and the bigram stream both read
    // the same materialized token frame. (r17 note: an array-side
    // bigram build via transform/element_at structs was tried and
    // measured 3-6× the CPU — higher-order functions are interpreted,
    // not codegen'd; the explode + lag window stays.)
    val toks = docs.select(col(idCol).as("_id"),
        posexplode(Dedup.normTokens(col(textCol)))
          .as(Seq("pos", "tok")))
      .graftCp(false)
    val bi = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
    val c1 = toks.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum(col("c1")).as("total"))
    val c2 = bi.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
    val scored = bi.join(c2, Seq("prev", "tok"))
      .join(c1.withColumnRenamed("tok", "prev").withColumnRenamed("c1", "c1_prev"),
        Seq("prev"))
      .join(c1, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("lp", log(lit(lambda) * col("c2") / col("c1_prev") +
        lit(1.0 - lambda) * col("c1") / col("total")))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"))
      .select(col("_id"), size(col("arr")).cast("long").as("n_bigrams"),
        round(aggregate(col("arr"), lit(0.0d),
            (acc, x) => acc + x.getField("lp")) / size(col("arr")), 6)
          .as("logprob"))
    docs.select(col(idCol).as("_id")).distinct()
      .join(scored, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("logprob"))
  }

  /** Importance weights for targeted data selection (the DSIR recipe,
    * Xie et al. 2023, in its dependency-free unigram form): score every
    * document by the mean per-token log-likelihood RATIO between a
    * target-domain LM and the general-corpus LM, both trained here with
    * add-half smoothing over the corpus vocabulary. High scores mark
    * documents that look like the target domain — feed the weights to
    * the A-ES weighted sampler to assemble a domain-matched training
    * mix without a classifier.
    *
    * Scale shape: two token-grain count tables + three scalars (target
    * total, corpus total, vocab size); scoring is one token-grain
    * equi-join; the per-document fold runs position-sorted so the sum
    * has one IEEE order. Smoothing keeps target-OOV tokens finite, and
    * the corpus LM contains every scored token by construction. */
  def importanceWeights(docs: DataFrame, textCol: String, idCol: String,
      targetCol: Column): DataFrame = {
    val toks = docs.withColumn("__target", targetCol)
      .select(col(idCol).as("_id"), col("__target"),
        posexplode(Dedup.normTokens(col(textCol)))
          .as(Seq("pos", "tok")))
    val cCorpus = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_c"))
    val cTarget = toks.filter(col("__target"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_t"))
    val totals = cCorpus.agg(sum(col("c_c")).as("t_c"),
      count(lit(1)).as("vocab"))
    val tTarget = cTarget.agg(sum(col("c_t")).as("t_t"))
    toks
      .join(cCorpus, Seq("tok"))
      .join(cTarget, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(tTarget))
      .withColumn("lp",
        log((coalesce(col("c_t"), lit(0L)) + lit(0.5)) /
            (col("t_t") + lit(0.5) * col("vocab")))
          - log((col("c_c") + lit(0.5)) /
            (col("t_c") + lit(0.5) * col("vocab"))))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"))
      .select(col("_id").as(idCol), size(col("arr")).as("n_tokens"),
        round(aggregate(col("arr"), lit(0.0d),
            (acc, x) => acc + x.getField("lp")) / size(col("arr")), 6)
          .as("log_ratio"))
  }

  /** Boilerplate span detection (the C4/RefinedWeb "repeated n-gram"
    * heuristic re-expressed at corpus scale): an n-token shingle that
    * occurs in ≥ `minDf` DISTINCT documents is boilerplate; every token
    * position covered by such a shingle is a boilerplate position.
    * Returns per document (n_tokens, n_boiler, boiler_ratio) — the
    * removal decision (drop the spans, or the whole doc above a ratio
    * gate) composes downstream.
    *
    * Scale shape: shingle df is one partial aggregate at shingle grain;
    * the boilerplate set joins back at the same grain (no broadcast
    * assumed — at 100 TB the boilerplate table itself can be large);
    * covered positions expand each flagged start by n via sequence()
    * and dedup at (doc, position) grain — bounded by corpus token
    * count, never by pair products. */
  def boilerplateSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDf: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol).as("_id"),
      posexplode(Dedup.normTokens(col(textCol)))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("_id")).orderBy(col("pos"))
    val starts = toks
      .withColumn("shingle", concat_ws(" ",
        (0 until n).map(o => lead(col("tok"), o).over(w)): _*))
      .withColumn("n_toks", count(lit(1)).over(Window.partitionBy(col("_id"))))
      .filter(col("pos") <= col("n_toks") - n)
    val boiler = starts.groupBy(col("shingle"))
      .agg(countDistinct(col("_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("shingle"))
    val covered = starts.join(boiler, Seq("shingle"))
      .select(col("_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .distinct()
      .groupBy(col("_id")).agg(count(lit(1)).as("n_boiler"))
    toks.groupBy(col("_id")).agg(count(lit(1)).as("n_tokens"))
      .join(covered, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_tokens"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(coalesce(col("n_boiler"), lit(0L)) / col("n_tokens"), 6)
          .as("boiler_ratio"))
  }

  /** Encoding-quality scoring: the crawl-hygiene filter that catches
    * transcoding damage BEFORE a corpus trains on it. Per document:
    *  - `n_replacement` — U+FFFD replacement characters (a decoder
    *    already gave up on those bytes);
    *  - `n_ctrl` — C0/C1-adjacent control characters other than
    *    tab/LF/CR (binary junk inside "text");
    *  - `n_mojibake` — signature pairs of UTF-8 read as
    *    Latin-1/cp1252: 'Ã' (lead byte 0xC3 mis-decoded) but ONLY when
    *    followed by a mis-decoded continuation byte (U+0080–U+00BF, or
    *    one of cp1252's remaps of 0x80–0x9F such as €™œ), and the
    *    'â€' pair (0xE2 0x80 — curly quotes/dashes mangled). A bare
    *    'Ã' before an ASCII letter is natural language ("SÃO PAULO",
    *    "NÃO") and does NOT count;
    *  - `ascii_ratio` — share of 7-bit chars, 6 dp (a *legitimately*
    *    non-Latin document scores low here but clean on the damage
    *    counters — the columns separate "not English" from "broken");
    *  - `enc_clean` — no replacement, control or mojibake hits.
    *
    * All counters are length-difference folds over literal
    * replacements — pure codegen'd per-row expressions, zero shuffle,
    * and exactly replayable by any engine with `replace`/
    * `regexp_replace`. */
  def encodingQuality(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val t = col(textCol)
    val len = length(t)
    val nRepl = len - length(regexp_replace(t, "�", ""))
    val nCtrl = len - length(regexp_replace(t,
      "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""))
    // 'Ã' alone is legitimate text (Portuguese "SÃO", "NÃO"); real
    // UTF-8-as-Latin-1 damage pairs the 0xC3 lead with a mis-decoded
    // continuation byte — raw U+0080–U+00BF, or the character cp1252
    // remaps that byte to (0x80–0x9F → €‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ)
    val contClass = "\\x{0080}-\\x{00bf}" +
      "\\u20ac\\u201a\\u0192\\u201e\\u2026\\u2020\\u2021\\u02c6" +
      "\\u2030\\u0160\\u2039\\u0152\\u017d\\u2018\\u2019\\u201c" +
      "\\u201d\\u2022\\u2013\\u2014\\u02dc\\u2122\\u0161\\u203a" +
      "\\u0153\\u017e\\u0178"
    val nMoji = regexp_count(t, lit(s"Ã[$contClass]")) +
      regexp_count(t, lit("â€"))
    val nNonAscii = len - length(regexp_replace(t, "[^\\x00-\\x7f]", ""))
    df.select(col(idCol),
      nRepl.cast("long").as("n_replacement"),
      nCtrl.cast("long").as("n_ctrl"),
      nMoji.cast("long").as("n_mojibake"),
      when(len > 0, round((len - nNonAscii).cast("double") / len, 6))
        .otherwise(lit(1.0)).as("ascii_ratio"),
      (nRepl === 0 && nCtrl === 0 && nMoji === 0).as("enc_clean"))
  }

  /** C4/Gopher-style rule-based quality filtering — the classic
    * pretraining heuristics (Raffel et al. 2020 C4; Rae et al. 2021
    * Gopher) as one codegen'd per-row expression battery over a
    * line-structured text column:
    *
    *  - `n_words`, `mean_word_len` — word-count and mean-length bounds;
    *  - `frac_lines_end_punct` — share of non-empty lines ending in
    *    terminal punctuation (`. ! ? "`), the C4 "real sentences" rule;
    *  - `frac_bullet_lines` — share of non-empty lines starting with a
    *    bullet marker (`- * •`), Gopher's ≤ 0.9 rule;
    *  - `n_stop_hits` — distinct English stopwords present, Gopher's
    *    ≥ 2 rule;
    *  - `has_lorem` — boilerplate placeholder text;
    *  - `keep` — the conjunction with the standard thresholds
    *    (minWords ≤ n_words ≤ maxWords, 3 ≤ mean_word_len ≤ 10,
    *    end-punct ≥ endPunctMin, bullets ≤ 0.9, stop hits ≥ 2,
    *    no lorem).
    *
    * Pure per-row array/string expressions — zero shuffle, scan-speed
    * over 100 TB, and every counter replays in any engine with
    * split/list_filter/regexp. */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minWords: Long = 10L, maxWords: Long = 100000L,
      endPunctMin: Double = 0.3): DataFrame = {
    val toks = GF.wsTokens(col(textCol))
    val nWords = size(toks).cast("long")
    val meanLen = when(nWords > 0,
      round(aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (a, x) => a + x).cast("double") / nWords, 6))
    val lines = filter(transform(split(col(textCol), "\n"),
      l => trim(l)), l => length(l) > 0)
    val nLines = size(lines)
    val fracPunct = when(nLines > 0,
      round(size(filter(lines, l => l.rlike("[.!?\"]$")))
        .cast("double") / nLines, 6))
    val fracBullet = when(nLines > 0,
      round(size(filter(lines, l => l.rlike("^[-*•]")))
        .cast("double") / nLines, 6))
    val enStops = StopwordsByLang.toMap.apply("en")
    val lowToks = GF.wsTokens(lower(col(textCol)))
    val stopHits = size(filter(array_distinct(lowToks),
      t => t.isin(enStops.map(lit): _*))).cast("long")
    val hasLorem = lower(col(textCol)).contains("lorem ipsum")
    df.select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
        fracPunct.as("frac_lines_end_punct"),
        fracBullet.as("frac_bullet_lines"),
        stopHits.as("n_stop_hits"), hasLorem.as("has_lorem"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("frac_lines_end_punct") >= endPunctMin &&
        col("frac_bullet_lines") <= 0.9 &&
        col("n_stop_hits") >= 2L && !col("has_lorem"))
  }

  /** Code-vs-prose detection — the routing signal a pretraining
    * pipeline needs before language-specific filters apply (code is
    * GOOD data routed to a code mixture, not noise to delete; prose
    * rules like [[gopherRules]] would wrongly kill it). Per document:
    *
    *  - `frac_code_lines` — share of non-empty lines that look like
    *    code: indented 4+ spaces or a tab, ending in `; { }`, or
    *    starting with a programming keyword
    *    (def/class/import/function/return/var/let/const/if/for/while);
    *  - `symbol_ratio` — share of `[]{}();=<>` characters;
    *  - `is_code` — frac_code_lines ≥ 0.3 or symbol_ratio ≥ 0.05.
    *
    * Pure per-row expressions, zero shuffle, engine-replayable. */
  def codeDetect(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // lines keep their leading whitespace (indentation IS the signal);
    // only all-whitespace lines drop
    val lines = filter(split(col(textCol), "\n"),
      l => length(trim(l)) > 0)
    val nLines = size(lines)
    val codeLine = (l: Column) =>
      l.rlike("^(    |\\t)") || trim(l).rlike("[;{}]$") ||
        trim(l).rlike(
          "^(def|class|import|function|return|var|let|const|if|for|while)\\b")
    val fracCode = when(nLines > 0,
      round(size(filter(lines, codeLine)).cast("double") / nLines, 6))
    val len = length(col(textCol))
    val symRatio = when(len > 0,
      round((len - length(regexp_replace(col(textCol),
        "[\\[\\]{}();=<>]", ""))).cast("double") / len, 6))
    df.select(col(idCol), nLines.cast("long").as("n_lines"),
        fracCode.as("frac_code_lines"), symRatio.as("symbol_ratio"))
      .withColumn("is_code",
        col("frac_code_lines") >= 0.3 || col("symbol_ratio") >= 0.05)
  }

  /** Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
    * ln(rank) across the top `topN` tokens (rank 1 = most frequent;
    * ties broken by token so the ranking is total). A natural corpus
    * slopes ≈ −1; templated/machine-generated text bends the curve —
    * this is the one-row "does my corpus look like language" check.
    *
    * Scale shape: token frequencies are one partial-agg shuffle at
    * vocab grain; the top-N cut plans as TakeOrderedAndProject (no
    * global sort); the regression runs over topN rows — metadata
    * scale. Sums round at 6 dp like every other FP aggregate here.
    * Returns one row: (n_ranks, slope, intercept, r2). */
  def zipfFit(docs: DataFrame, textCol: String,
      topN: Int = 100): DataFrame = {
    require(topN >= 2, "need at least two ranks to fit")
    val freq = docs
      .select(explode(Dedup.normTokens(col(textCol)))
        .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(topN)
    val ranked = freq
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("tok"))))
      .select(log(col("rank")).as("x"),
        log(col("freq")).as("y"))
    ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_ranks"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 6).as("intercept"),
        round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** DEFLATE compression ratio per document — the standard "how much
    * of this text is actually information" signal (Gopher-family
    * pipelines gate on it: near-0 ratios are generated/templated
    * boilerplate, near-1 ratios are encrypted/binary junk; natural
    * prose sits in between). Unlike the n-gram repetition battery this
    * sees EVERY exploitable redundancy at once — long-range repeats,
    * structural templating, skewed symbol distributions — at memcpy
    * speed.
    *
    * Runs as mapPartitions over (id, text) with ONE reused
    * java.util.zip.Deflater per partition (native zlib; allocating per
    * row is the classic perf bug). Level and strategy are pinned so the
    * byte counts are deterministic for a given zlib. No SQL oracle can
    * express DEFLATE — correctness rides the unit suite (closed-form
    * fixtures + an independent per-row java.util.zip recompute), and
    * the gate query (q156) compares oracle-expressible DERIVED columns
    * instead of raw byte counts (see `verifyRoundtrip`). Per-row
    * scalar work, zero shuffle, linear in corpus bytes.
    *
    * `verifyRoundtrip = true` adds a `roundtrip_ok` boolean: the
    * compressed stream is inflated back (one reused Inflater per
    * partition) and byte-compared to the input — a REAL end-to-end
    * self-check of the codec plumbing whose correct value is the
    * constant TRUE, i.e. exactly what a SQL oracle can express. */
  def compressionRatio(docs: DataFrame, textCol: String,
      idCol: String, verifyRoundtrip: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
    if (!verifyRoundtrip) base.mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          (id, raw.length.toLong, compressed,
            if (raw.length == 0) null
            else java.lang.Double.valueOf(math.rint(
              compressed.toDouble / raw.length * 1e6) / 1e6))
        }
      }.toDF(idCol, "n_bytes", "n_deflate", "deflate_ratio")
    else base.mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        val inflater = new java.util.zip.Inflater(true)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          val out = new java.io.ByteArrayOutputStream(
            math.max(64, raw.length / 2))
          while (!deflater.finished()) {
            val n = deflater.deflate(buf)
            out.write(buf, 0, n)
          }
          val comp = out.toByteArray
          inflater.reset()
          // a nowrap Inflater requires one dummy byte appended to the
          // compressed input (java.util.zip.Inflater javadoc)
          inflater.setInput(comp :+ 0.toByte)
          val back = new java.io.ByteArrayOutputStream(raw.length)
          while (!inflater.finished()) {
            val n = inflater.inflate(buf)
            if (n == 0 && inflater.needsInput()) // truncated stream
              throw new java.util.zip.DataFormatException("truncated")
            back.write(buf, 0, n)
          }
          (id, raw.length.toLong, comp.length.toLong,
            if (raw.length == 0) null
            else java.lang.Double.valueOf(math.rint(
              comp.length.toDouble / raw.length * 1e6) / 1e6),
            java.util.Arrays.equals(back.toByteArray, raw))
        }
      }.toDF(idCol, "n_bytes", "n_deflate", "deflate_ratio",
        "roundtrip_ok")
  }
}
