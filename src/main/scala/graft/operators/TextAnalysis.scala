package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Text analysis for large-scale training-data pipelines: token counting,
 * n-gram language ID, quality scoring, document fingerprinting. All hot-path
 * operations are either Catalyst built-ins (codegen'd, pushdown-friendly) or
 * narrow custom expressions — no shuffles beyond the caller's aggregations.
 */
object TextAnalysis {

  /** Whitespace tokens of trimmed text (empty text → zero tokens). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count approximation: whitespace tokens plus extra splits
    * on digit/letter boundaries and punctuation (a cheap, deterministic
    * stand-in for a real tokenizer's token count). */
  def subwordCount(text: Column): Column =
    size(filter(split(trim(text), "[\\s]+|(?<=[a-z])(?=[A-Z0-9])|(?=[^\\w\\s])"),
      t => length(t) > 0))

  /** Tiny per-language stopword profiles for n-gram language ID. The
    * classifier extends by DATA: add a profile here and to [[langOrder]]
    * and every consumer — the argmax CASE, the `text_stats` kernel's
    * per-profile counts, the SQL oracles — picks it up from the shared
    * order. Words are chosen to be distinctive (high-frequency function
    * words that do NOT collide with an earlier profile's list), because
    * ties resolve to the earlier profile. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有"),
    "pt" -> Seq("não", "uma", "os", "das", "em", "para", "com"),
    "it" -> Seq("il", "che", "di", "per", "con", "sono", "anche"),
    "nl" -> Seq("het", "een", "van", "niet", "dat", "zijn", "voor"),
    "ru" -> Seq("и", "в", "не", "на", "что", "это", "как"))

  /** Priority order of the language profiles: earlier wins ties, and the
    * `stops` array of [[TextStatsKernel]] is indexed in this order. The
    * original five keep their historic positions (their pairwise tie
    * behavior is pinned by stored oracles); new profiles append. */
  val langOrder: Seq[String] =
    Seq("en", "es", "de", "fr", "zh", "pt", "it", "nl", "ru")

  /** Count of tokens that appear in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /**
   * Stopword-profile language ID: argmax of per-language stopword hit counts,
   * first-in-priority-order wins ties ("und" when no profile matches).
   *
   * The CASE is flat (each hit count appears a bounded number of times) — a
   * naive fold of when(h > best, ...) nests the previous best expression
   * inside each level, doubling the tree per language; higher-order
   * functions run interpreted (no codegen/CSE), so that shape re-tokenizes
   * each row exponentially many times. Pass a *materialized* token column
   * (two-phase select) to keep tokenization to once per row.
   */
  def langIdFromTokens(toks: Column): Column =
    langIdFromCounts(langOrder.map(l => stopwordHits(toks, stopwords(l))))

  /** The argmax CASE over per-language hit counts — shared by
    * [[langIdFromTokens]] (counts from token-array filters) and [[quality]]
    * (counts from the [[TextStatsKernel]] scan), so the two cannot drift.
    * Checked from the LAST profile down: profile i wins only on a strict
    * majority over every earlier profile (ties → the earlier one), so the
    * chain is a flat CASE with each count referenced a bounded number of
    * times (pass staged/materialized count columns, see callers). */
  private[graft] def langIdFromCounts(h: Seq[Column]): Column = {
    require(h.length == langOrder.length,
      s"langIdFromCounts: expected ${langOrder.length} counts, got ${h.length}")
    val n = h.length
    val fromLast = ((n - 1) to 1 by -1).foldLeft(None: Option[Column]) {
      (acc, i) =>
        val wins = h(i) > greatest((lit(0) +: h.take(i)): _*)
        Some(acc.fold(when(wins, lit(langOrder(i))))(
          _.when(wins, lit(langOrder(i)))))
    }.get
    fromLast.when(h(0) > lit(0), lit(langOrder(0))).otherwise(lit("und"))
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Per-language stopword hit counts (en, es, de, fr, zh order) from ONE
    * [[TextStatsKernel]] scan — the kernel-backed feed for
    * [[langIdFromCounts]], replacing a tokenize + five interpreted
    * higher-order filters per row. STAGE the result in its own projection
    * (`.select(stopHitsFast(text).as("__h")).select(langIdFromCounts(...))`)
    * — the CASE references the counts ~15 times, and a staged non-cheap
    * alias is what keeps the kernel at one run per row. Requires
    * [[register]] on the session. */
  def stopHitsFast(text: Column): Column =
    call_function("text_stats", text).getField("stops")

  /**
   * Quality signals in the Gopher/C4 style, as a staged DataFrame transform:
   * the expensive pieces (tokenize, regex strips, stopword filter) are
   * materialized exactly once per row, then ratios and the composite score
   * are cheap arithmetic over those columns. The language prediction rides
   * along for free (it reads the same materialized token column), so curation
   * pipelines get lang + quality in ONE tokenization pass.
   */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    register(df.sparkSession)
    val text = col(textCol)
    // ONE kernel scan per row ([[TextStatsKernel]]) replaces the tokenize +
    // five regex strips + six interpreted stopword array filters the staged
    // Column form paid — same counts by construction ([[qualitySpec]] is
    // the kept specification; the spec fuzzes full output rows). The
    // struct alias is non-cheap and multi-referenced, so CollapseProject
    // leaves it materialized — the kernel runs once per row, and the field
    // reads below are plain struct gets.
    val raw = df.select(col(idCol), text,
      call_function("text_stats", text).as("__st"))
    val h = langOrder.indices.map(i => col("__st").getField("stops").getItem(i))
    val parts = raw.select(col(idCol),
      langIdFromCounts(h).as("lang"),
      col("__st").getField("n_tok").cast(DoubleType).as("__n_tok"),
      col("__st").getField("n_char").cast(DoubleType).as("__n_char"),
      col("__st").getField("strip").cast(DoubleType).as("__strip"),
      col("__st").getField("alpha").cast(DoubleType).as("__alpha"),
      col("__st").getField("digit").cast(DoubleType).as("__digit"),
      col("__st").getField("punct").cast(DoubleType).as("__punct"),
      col("__st").getField("stops").getItem(0).cast(DoubleType).as("__stop"))
    val nTok = col("__n_tok"); val nChar = col("__n_char")
    val ratios = parts.select(col(idCol),
      col("lang"),
      nTok.cast("long").as("n_tokens"),
      when(nTok > 0, col("__strip") / nTok).otherwise(0.0).as("avg_token_len"),
      when(nChar > 0, col("__alpha") / nChar).otherwise(0.0).as("alpha_ratio"),
      when(nChar > 0, col("__digit") / nChar).otherwise(0.0).as("digit_ratio"),
      when(nChar > 0, col("__punct") / nChar).otherwise(0.0).as("punct_ratio"),
      when(nTok > 0, col("__stop") / nTok).otherwise(0.0).as("stopword_ratio"))
    ratios.withColumn("quality_score",
      combineQuality(col("alpha_ratio"), col("stopword_ratio"),
        col("avg_token_len"), col("digit_ratio")))
  }

  /** [[quality]]'s original staged-Column implementation, kept as the
    * SPECIFICATION of the [[TextStatsKernel]]-backed form (the spec
    * fuzzes full output rows of the two against each other). */
  private[graft] def qualitySpec(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val text = col(textCol)
    val raw = df.select(col(idCol), text,
      tokens(text).as("__toks"))
    val parts = raw.select(col(idCol),
      langIdFromTokens(col("__toks")).as("lang"),
      size(col("__toks")).cast(DoubleType).as("__n_tok"),
      length(text).cast(DoubleType).as("__n_char"),
      length(regexp_replace(text, "\\s", "")).cast(DoubleType).as("__strip"),
      length(regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType).as("__alpha"),
      length(regexp_replace(text, "[^0-9]", "")).cast(DoubleType).as("__digit"),
      length(regexp_replace(text, "[^.,;:!?]", "")).cast(DoubleType).as("__punct"),
      stopwordHits(col("__toks"), stopwords("en")).cast(DoubleType).as("__stop"))
    val nTok = col("__n_tok"); val nChar = col("__n_char")
    val ratios = parts.select(col(idCol),
      col("lang"),
      nTok.cast("long").as("n_tokens"),
      when(nTok > 0, col("__strip") / nTok).otherwise(0.0).as("avg_token_len"),
      when(nChar > 0, col("__alpha") / nChar).otherwise(0.0).as("alpha_ratio"),
      when(nChar > 0, col("__digit") / nChar).otherwise(0.0).as("digit_ratio"),
      when(nChar > 0, col("__punct") / nChar).otherwise(0.0).as("punct_ratio"),
      when(nTok > 0, col("__stop") / nTok).otherwise(0.0).as("stopword_ratio"))
    ratios.withColumn("quality_score",
      combineQuality(col("alpha_ratio"), col("stopword_ratio"),
        col("avg_token_len"), col("digit_ratio")))
  }

  /** The quality-score combiner shared by [[quality]] and [[qualityScore]]
    * — one definition so the batch (oracle-locked) and streaming forms
    * cannot drift apart. */
  private def combineQuality(alphaRatio: Column, stopRatio: Column,
      avgTokenLen: Column, digitRatio: Column): Column =
    (alphaRatio * 0.4) +
      (least(stopRatio * lit(5.0), lit(1.0)) * 0.3) +
      (when(avgTokenLen >= 3 && avgTokenLen <= 10, 1.0).otherwise(0.0) * 0.2) +
      ((lit(1.0) - least(digitRatio * 5.0, lit(1.0))) * 0.1)

  /** [[qualityScore]]'s single-pass native twin — one char scan instead of
    * a tokenize + four regex strips + a stopword filter (the gate runs per
    * document on the crawl-ingest hot path). Value-identical BY
    * CONSTRUCTION ([[QualityScoreKernel]] replicates count-for-count and
    * in the same double-arithmetic order; the spec fuzzes the two).
    * Requires [[register]] (or `VectorFunctions.register`) on the session —
    * use [[qualityScore]] where registration isn't guaranteed. */
  def qualityScoreFast(text: Column): Column =
    call_function("quality_score", text)

  /** [[quality]]'s score as ONE stateless column expression — for pipelines
    * that must keep their other columns (e.g. the streaming curation gate,
    * where a select-only transform would drop ts/text). Identical formula
    * via [[combineQuality]]. Also the SPECIFICATION of
    * [[qualityScoreFast]]'s native kernel. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast(DoubleType)
    val nChar = length(text).cast(DoubleType)
    val strip = length(regexp_replace(text, "\\s", "")).cast(DoubleType)
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType)
    val digit = length(regexp_replace(text, "[^0-9]", "")).cast(DoubleType)
    val stop = stopwordHits(toks, stopwords("en")).cast(DoubleType)
    combineQuality(
      when(nChar > 0, alpha / nChar).otherwise(0.0),
      when(nTok > 0, stop / nTok).otherwise(0.0),
      when(nTok > 0, strip / nTok).otherwise(0.0),
      when(nChar > 0, digit / nChar).otherwise(0.0))
  }

  /** Buffer for [[TopKeywordsAggregator]]: parallel (token, score) arrays
    * kept sorted best-first (score DESC, token ASC). */
  case class TopKwState(toks: Seq[String], scores: Seq[Double])

  /**
   * Bounded MERGEABLE per-group top-k (token, score) aggregator — the
   * keyword-extraction twin of [[graft.operators.Similarity.TopKAggregator]]:
   * map-side combine caps every task's contribution at k pairs per group
   * BEFORE the shuffle, and no sort ever runs over the full (doc, token)
   * table — the window-row_number alternative shuffles and sorts every
   * scored pair. Order: score DESC, token ASC (deterministic, replayable).
   */
  class TopKeywordsAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(String, Double),
        TopKwState, Seq[(String, Double)]] {
    import org.apache.spark.sql.{Encoder, Encoders}
    private def better(t1: String, s1: Double, t2: String, s2: Double): Boolean =
      s1 > s2 || (s1 == s2 && t1 < t2)
    private def insert(st: TopKwState, tok: String, sc: Double): TopKwState = {
      val n = st.toks.length
      if (n >= k && !better(tok, sc, st.toks(n - 1), st.scores(n - 1))) return st
      var pos = 0
      while (pos < n && better(st.toks(pos), st.scores(pos), tok, sc)) pos += 1
      val toks = (st.toks.take(pos) :+ tok) ++ st.toks.drop(pos)
      val scs = (st.scores.take(pos) :+ sc) ++ st.scores.drop(pos)
      TopKwState(toks.take(k), scs.take(k))
    }
    override def zero: TopKwState = TopKwState(Nil, Nil)
    override def reduce(b: TopKwState, a: (String, Double)): TopKwState =
      insert(b, a._1, a._2)
    override def merge(x: TopKwState, y: TopKwState): TopKwState = {
      var acc = x
      var i = 0
      while (i < y.toks.length) { acc = insert(acc, y.toks(i), y.scores(i)); i += 1 }
      acc
    }
    override def finish(s: TopKwState): Seq[(String, Double)] =
      s.toks.zip(s.scores)
    override def bufferEncoder: Encoder[TopKwState] = Encoders.product[TopKwState]
    override def outputEncoder: Encoder[Seq[(String, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /**
   * Fasttext-style LINEAR quality classifier: a logistic model over the
   * one-pass feature vector, emitting a calibrated keep-probability instead
   * of [[quality]]'s heuristic composite or [[gopherQuality]]'s hard rules.
   * The weights here are fixed and interpretable (long documents with
   * stopword structure and alphabetic tokens score high; digit-heavy,
   * fragmentary text scores low); a production pipeline swaps them for
   * trained coefficients — the PLAN is what matters and it is unchanged:
   * entirely map-side, one tokenization pass, composes with the parquet
   * scan at 100 TB with no shuffle.
   */
  def qualityClassifier(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val text = col(textCol)
    val raw = df.select(col(idCol), text, tokens(text).as("__toks"))
      .withColumn("__toks_lc", transform(col("__toks"), t => lower(t)))
    val stopList = stopwords("en")
    val parts = raw.select(col(idCol),
      size(col("__toks")).cast(DoubleType).as("__n_tok"),
      length(text).cast(DoubleType).as("__n_char"),
      length(regexp_replace(text, "\\s", "")).cast(DoubleType).as("__strip"),
      length(regexp_replace(text, "[^0-9]", "")).cast(DoubleType).as("__digit"),
      size(filter(col("__toks"), t => t.rlike("[A-Za-z]")))
        .cast(DoubleType).as("__alpha_words"),
      stopList.map(sw =>
        when(array_contains(col("__toks_lc"), sw), 1).otherwise(0))
        .reduce(_ + _).cast(DoubleType).as("__stop_distinct"))
    val nTok = col("__n_tok"); val nChar = col("__n_char")
    // feature vector (all bounded, so no scaling stage needed)
    val feats = parts.select(col(idCol),
      log(lit(1.0) + nTok).as("f_len"),
      col("__stop_distinct").as("f_stop"),
      when(nTok > 0, col("__alpha_words") / nTok).otherwise(0.0).as("f_alpha"),
      when(nChar > 0, col("__digit") / nChar).otherwise(0.0).as("f_digit"),
      when(nTok > 0, col("__strip") / nTok).otherwise(0.0).as("f_mean_len"))
    val z = lit(-4.0) + col("f_len") * 0.35 + col("f_stop") * 0.45 +
      col("f_alpha") * 2.0 - col("f_digit") * 3.0 + col("f_mean_len") * 0.15
    feats.select(col(idCol),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality_prob"))
      .withColumn("keep", col("quality_prob") >= threshold)
  }

  /**
   * Pointwise-mutual-information bigram collocations — the corpus-statistics
   * view a tokenizer/vocab pipeline reads before merging multi-word units:
   * pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over adjacent bigram
   * positions and p(·) over unigram positions; `minCount` suppresses the
   * noise floor (rare co-occurrences have unstable PMI).
   *
   * Shape at 100 TB: tokenization once; unigram and bigram counts are two
   * map-side-combined aggregations of exploded positions; the PMI join
   * attaches unigram counts to the (minCount-pruned, therefore much
   * smaller) bigram table — plain AQE joins, NO broadcast hint: vocabulary
   * grows with corpus size (Heaps' law), the same reasoning as
   * [[lmScore]]. Totals are one tiny 1-row aggregate cross-joined in, the
   * [[bm25]] corpus-stats shape.
   */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long = 5,
      topK: Int = 30): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("__w"))
      .transform(graft.CacheScope.persist)
    val uni = toks.select(explode(col("__w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .transform(graft.CacheScope.persist)
    val totals = uni.agg(sum(col("c")).cast(DoubleType).as("__nt"))
      .crossJoin(toks.agg(sum(greatest(size(col("__w")) - 1, lit(0)))
        .cast(DoubleType).as("__nb")))
    val bi = toks.filter(size(col("__w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__w) - 1)," +
          " i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
    bi
      .join(uni.select(col("tok").as("__w1"), col("c").as("__ca")), Seq("__w1"))
      .join(uni.select(col("tok").as("__w2"), col("c").as("__cb")), Seq("__w2"))
      .crossJoin(broadcast(totals))
      // identical operand order to the oracle SQL: double arithmetic is
      // left-associative in both engines, so the pre-round value is
      // bit-identical and ties order the same way
      .select(col("bigram"), col("n"),
        round(log(col("n").cast(DoubleType) * col("__nt") * col("__nt") /
          (col("__nb") * col("__ca") * col("__cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /**
   * Count-min-sketch heavy-hitter AUDIT over word n-grams: builds the
   * d×w sketch (md5-derived rows, so deterministic), then reports, for the
   * exact top-`topK` n-grams, the true count next to the sketch estimate —
   * the validation view you run before trusting the sketch alone.
   *
   * Why a sketch when exact token counts are Heaps-bounded: n-gram (and
   * URL/key) cardinality is NOT — at 100 TB the exact 5-gram groupBy key
   * space explodes, while the sketch is d·w counters REGARDLESS of corpus
   * size, built in ONE aggregation with map-side combine (the partial
   * sketches merging by + is exactly CMS's linearity). Estimates are
   * biased high, never low (min over d rows), and this audit quantifies
   * that error on the heaviest keys. In production the exact side is
   * replaced by a candidate stream; the sketch side is unchanged.
   */
  def cmsNgramEstimates(df: DataFrame, textCol: String, n: Int = 5,
      width: Int = 1 << 14, depth: Int = 4, topK: Int = 20): DataFrame = {
    require(width > 0 && depth > 0 && n > 0, "width, depth, n must be positive")
    // aggregate FIRST, hash per DISTINCT gram: a CMS cell's count is the sum
    // of its grams' occurrence counts (linearity), so feeding the sketch
    // (gram, count) rows instead of raw occurrences is exactly equivalent —
    // and the 4 md5s per row now run once per distinct gram, not once per
    // occurrence (the md5-determinism tax shrinks with corpus repetition,
    // which is precisely what grows at 100 TB). One gram shuffle total: the
    // count aggregation; the persisted frame is the (distinct-gram)-sized
    // count table, not the exploded occurrence stream.
    val counts = df.select(tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(__w) - ${n - 1})," +
          s" i -> array_join(slice(__w, i, $n), ' '))")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_true"))
      .transform(graft.CacheScope.persist)
    def pos(j: Int, g: Column): Column =
      conv(substring(md5(concat(lit(s"$j:"), g)), 18, 15), 16, 10)
        .cast(LongType) % width
    val sketch = counts
      .select(col("n_true"),
        posexplode(array((0 until depth).map(j => pos(j, col("g"))): _*)))
      .select(col("pos").as("j"), col("col").as("p"), col("n_true"))
      .groupBy(col("j"), col("p")).agg(sum(col("n_true")).as("c"))
    val top = counts.orderBy(col("n_true").desc, col("g")).limit(topK)
    top
      .select(col("g"), col("n_true"),
        posexplode(array((0 until depth).map(j => pos(j, col("g"))): _*)))
      .select(col("g"), col("n_true"), col("pos").as("j"), col("col").as("p"))
      .join(sketch, Seq("j", "p"))
      .groupBy(col("g"), col("n_true")).agg(min(col("c")).as("n_cms"))
      .select(col("g").as("ngram"), col("n_true"), col("n_cms"))
      .orderBy(col("n_true").desc, col("ngram"))
  }

  /**
   * Gopher-style document quality gate (the rule family of Rae et al. 2021,
   * appendix A1.1, adapted to single-line corpora): per-rule boolean flags
   * plus their conjunction, from ONE tokenization pass.
   *
   * Rules: token count within [minTokens, maxTokens]; mean token length
   * within [3, 10] chars; at least `minStopwords` DISTINCT stopwords present
   * (the "contains 2 of a small stop list" rule); at least
   * `minAlphaWordRatio` of tokens containing an alphabetic character.
   *
   * Entirely map-side — at 100 TB this composes with the parquet scan, and a
   * pipeline filters on `passes` (or re-weights on individual flags) with no
   * shuffle introduced.
   */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minStopwords: Int = 2, minAlphaWordRatio: Double = 0.8,
      keep: Seq[String] = Nil): DataFrame = {
    val text = col(textCol)
    // distinct stopword hits: filter the (tiny, literal) stop list against
    // the lowercased token array — case-insensitive per the Gopher rule's
    // intent ("The dog" contains stopword "the"), and "distinct count"
    // semantics unambiguous on any engine, unlike intersect builtins whose
    // dedup behavior differs across engines
    val stopList = stopwords("en")
    val keepCols = keep.map(col)
    val raw = df.select(col(idCol) +: text +: tokens(text).as("__toks") +:
      keepCols: _*)
      // lowered copy as its own projection: the distinct-stopword count
      // below references it once per stop word, and multiple references to
      // a non-cheap expression stop CollapseProject from re-inlining the
      // transform into each probe (HOFs are interpreted, no CSE)
      .withColumn("__toks_lc", transform(col("__toks"), t => lower(t)))
    val m = raw.select(col(idCol) +: keepCols ++: Seq(
      size(col("__toks")).cast(LongType).as("n_tokens"),
      length(regexp_replace(text, "\\s", "")).cast(DoubleType).as("__strip"),
      // distinct stopwords present = sum of per-stopword membership — plain
      // codegen'd array_contains scans, no HOF over the stop list
      stopList.map(sw =>
        when(array_contains(col("__toks_lc"), sw), 1).otherwise(0))
        .reduce(_ + _).as("__stop_distinct"),
      size(filter(col("__toks"), t => t.rlike("[A-Za-z]")))
        .cast(DoubleType).as("__alpha_words")): _*)
    val nTok = col("n_tokens")
    val meanLen = when(nTok > 0, col("__strip") / nTok.cast(DoubleType))
      .otherwise(lit(0.0))
    m.select(col(idCol) +: keepCols ++: Seq(nTok,
      (nTok >= minTokens && nTok <= maxTokens).as("word_count_ok"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("mean_len_ok"),
      (col("__stop_distinct") >= minStopwords).as("stop_ok"),
      (nTok > 0 && col("__alpha_words") / nTok.cast(DoubleType) >= minAlphaWordRatio)
        .as("alpha_ok")): _*)
      .withColumn("passes",
        col("word_count_ok") && col("mean_len_ok") && col("stop_ok") && col("alpha_ok"))
  }

  /**
   * TF-IDF scores for every (document, token) pair: tf = in-document count,
   * idf = ln(1 + N/df). The shape at 100 TB: the explode is map-side, the
   * (doc, token) tf aggregation gets a map-side combine, the document
   * frequency table is vocabulary-sized (aggregated from tf partials, never
   * from the raw token stream) and joins back by token — AQE broadcasts it
   * while it fits — and the corpus size N is ONE broadcast row. The tf table
   * is persisted across its two consumers (df-counts + final join) via
   * [[graft.CacheScope]] so tokenization runs once.
   */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tf"))
      .transform(graft.CacheScope.persist)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col(idCol), col("token"),
        (col("__tf").cast(DoubleType) *
          log(lit(1.0) + col("__n").cast(DoubleType) / col("__df").cast(DoubleType)))
          .as("tfidf"))
  }

  /**
   * Winnowing-fingerprint PLAGIARISM pairs (Schleimer et al. 2003, the
   * MOSS scheme): per doc, the distinct block-minimum fingerprints of its
   * md5 char-8-gram hashes (the same normalize→gram→hash→window-min chain
   * as `doc_fingerprint_md5`, kept as the SET instead of xor-folded), then
   * pairs ranked by how many fingerprints they share. The top pairs are
   * the copy/quote suspects Jaccard washes out.
   *
   * Shape at 100 TB: fingerprints are map-side per doc; the pair stage is
   * a posting-list self-join on the fingerprint value — same cost law as
   * LSH bucket joins, quadratic in posting width, so `maxPosting` drops
   * fingerprints shared by more than that many docs (boilerplate minima —
   * the standard MOSS "too common to mean anything" rule; measured here:
   * one hot fingerprint reached width 3846 at sf0.1 = 7M pairs on its
   * own). One count shuffle for widths + one join on the fingerprint.
   */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      maxPosting: Long = 100, topN: Int = 20): DataFrame = {
    // STAGED, not a nested-HOF chain: a transform(slice(transform(...)))
    // pipeline inlines under CollapseProject and recomputes the md5 gram
    // array once per outer lambda element (~63x the hashing, measured 18s
    // at sf0.1). Explode the gram array once and take block minima as a
    // grouped aggregation — map-side partial min, one (id, blk) shuffle,
    // which is also the shape that scales (no per-row giant arrays).
    val staged = df.select(col(idCol).as("id"),
      trim(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("__s"))
    val grams = staged
      .select(col("id"),
        when(length(col("__s")) < 8, array(col("__s")))
          .otherwise(expr(
            "transform(sequence(1, length(__s) - 7), i -> substring(__s, i, 8))"))
          .as("__grams"))
      .select(col("id"), posexplode_outer(col("__grams")).as(Seq("pos", "gram")))
      .filter(col("gram").isNotNull)
    // persisted: mins feeds the width count AND the capped join input —
    // unpersisted, the whole gram/md5/min subtree would run twice
    val mins = graft.CacheScope.persist(grams
      .select(col("id"), (col("pos") / 16).cast("int").as("__blk"),
        Curation.md5Low60(col("gram")).as("__h"))
      .groupBy(col("id"), col("__blk")).agg(min(col("__h")).as("fp"))
      .select(col("id"), col("fp")).distinct())
    val widths = mins.groupBy(col("fp")).agg(count(lit(1)).as("__w"))
    val capped = graft.CacheScope.persist(
      mins.join(widths.filter(col("__w") <= maxPosting), "fp")
        .select(col("id"), col("fp")))
    capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id"), col("b.id"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("n_shared"))
      .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /**
   * Bigram language-model quality score — the CCNet/KenLM-style LM filter:
   * each document is scored by its mean add-one-smoothed bigram log
   * probability, ln((c(w1 w2) + 1) / (c(w1) + V)), under a model counted
   * from the corpus itself (production pipelines count the model on a
   * trusted reference corpus once and broadcast it; the shape is the same).
   * Low scores mark out-of-distribution/garbled text, anomalously high
   * scores mark boilerplate.
   *
   * Shape at 100 TB: the count tables are type-frequency aggregates of
   * exploded-bigram partials (map-side combine, c1 derived from c2 — the
   * token stream is aggregated once). Type counts grow with the corpus
   * (Heaps' law), so the scoring joins carry no broadcast hint — AQE
   * broadcasts the tables while they fit and shuffle-joins beyond that.
   * Per-document terms are summed as FIXED-POINT longs (1e-9 grain), so the
   * one per-doc shuffle is order-free exact — the mean survives shuffle
   * nondeterminism and hash-matches an external SQL replay even though
   * float addition is non-associative.
   */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val emptyPairs = array().cast(ArrayType(StructType(Seq(
      StructField("w1", StringType), StructField("w2", StringType)))))
    val big = df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol),
        when(size(col("__w")) >= 2,
          transform(sequence(lit(1), size(col("__w")) - 1), i =>
            struct(element_at(col("__w"), i).as("w1"),
              element_at(col("__w"), i + 1).as("w2"))))
          .otherwise(emptyPairs).as("__bg"))
      .transform(graft.CacheScope.persist)
    val docBg = big
      .select(col(idCol), explode_outer(col("__bg")).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(graft.CacheScope.persist)
    val c2 = docBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c2"))
      .transform(graft.CacheScope.persist)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("__c2")).as("__c1"))
    // vocabulary = distinct tokens participating in bigrams, carried as ONE
    // lazy broadcast row (no eager driver count at construction time)
    val vDf = c2.select(col("w1").as("w")).union(c2.select(col("w2").as("w")))
      .distinct().agg(count(lit(1)).as("__v"))
    val term = log(
      (col("__c2").cast(DoubleType) + 1.0) /
        (col("__c1").cast(DoubleType) + col("__v").cast(DoubleType)))
    // the count tables are TYPE-frequency tables and type counts grow with
    // the corpus (Heaps' law — bigrams especially), so neither join gets a
    // broadcast hint: AQE broadcasts them while they fit and shuffle-joins
    // beyond that. Only the scalar V is unconditionally broadcast-safe.
    val perDoc = docBg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vDf))
      .select(col(idCol),
        floor(term * 1e9 + 0.5).cast(LongType).as("__fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__fp")).as("__s"))
    big.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("__s").cast(DoubleType) / 1e9 / col("n_bigrams"), 6),
          lit(0.0)).as("avg_logp"))
  }

  /**
   * Cross-source bigram-LM matrix — the domain-shift measurement: each
   * source's token stream scored under every OTHER source's add-one
   * bigram model (the [[lmScore]] smoothing, per source). Off-diagonal
   * cross-entropy minus the diagonal is the classic "how far is source t
   * from source s" signal that drives mixture weighting and transfer
   * decisions (the CCNet / DSIR framing at source granularity).
   *
   * Shape at 100 TB: the count tables are per-source TYPE-frequency
   * aggregates (map-side-combined — the corpus token stream is read
   * once); the matrix stage joins the eval-side type table against each
   * model's type table, so cost is Σ_s types(s) × |sources| — bounded by
   * type counts (Heaps' law), never by corpus tokens. Per-type log terms
   * are quantized to 1e-9-grain longs and weighted by occurrence count,
   * so the per-(model, eval) sums commute and replay exactly.
   */
  def crossSourceLmMatrix(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val bg = df.select(col(sourceCol).as("src"), tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col("src"), explode(
        transform(sequence(lit(1), size(col("__w")) - 1), i =>
          struct(element_at(col("__w"), i).as("w1"),
            element_at(col("__w"), i + 1).as("w2")))).as("bg"))
      .select(col("src"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = graft.CacheScope.persist(
      bg.groupBy(col("src"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt")))
    val c1 = c2.groupBy(col("src"), col("w1")).agg(sum(col("cnt")).as("c1"))
    val vv = c2.select(col("src"), col("w1").as("w"))
      .union(c2.select(col("src"), col("w2").as("w"))).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("v"))
    val sources = c2.select(col("src").as("model_source")).distinct()
    val term = log(
      (coalesce(col("__cm"), lit(0L)).cast(DoubleType) + 1.0) /
        (coalesce(col("__c1m"), lit(0L)).cast(DoubleType) +
          col("__vm").cast(DoubleType)))
    c2.select(col("src").as("eval_source"), col("w1"), col("w2"),
        col("cnt").as("__ce"))
      .crossJoin(broadcast(sources))
      .join(c2.select(col("src").as("model_source"), col("w1"), col("w2"),
        col("cnt").as("__cm")), Seq("model_source", "w1", "w2"), "left")
      .join(c1.select(col("src").as("model_source"), col("w1"),
        col("c1").as("__c1m")), Seq("model_source", "w1"), "left")
      .join(broadcast(vv.select(col("src").as("model_source"),
        col("v").as("__vm"))), Seq("model_source"))
      .select(col("model_source"), col("eval_source"), col("__ce"),
        // DECIMAL(38,0) accumulator (the corpus_entropy precedent): the
        // per-pair sum is weighted by the eval source's total bigram
        // OCCURRENCES. BOTH the multiply and the sum must be decimal — the
        // quantized term is ~1e10, so a Long×Long product wraps once a
        // single bigram type has ~5e8+ occurrences in one source (real at
        // design scale); casting each factor to DECIMAL(38,0) first keeps
        // the product exact, mirroring the oracle's HUGEINT multiply
        (floor(term * 1e9 + 0.5).cast(DecimalType(38, 0)) *
          col("__ce").cast(DecimalType(38, 0))).as("__fp"))
      .groupBy(col("model_source"), col("eval_source"))
      .agg(sum(col("__ce")).as("n_bigrams"),
        round((-(sum(col("__fp")).cast(DoubleType) / 1e9)) /
          sum(col("__ce")), 6).as("cross_entropy"))
      .orderBy(col("model_source"), col("eval_source"))
  }

  /**
   * BM25 relevance of every document against a fixed bag of query terms —
   * the standard retrieval score a curation pipeline uses to pull
   * topic-relevant training data out of a crawl.
   *
   * Shape chosen for 100 TB: per-term tf is a map-side `filter(tokens)`
   * per row (no explode, no shuffle), the corpus statistics (N, Σdl, per-term
   * df) are ONE tiny partial-aggregated row broadcast back with a
   * `crossJoin(broadcast(...))`, and the score itself is plain arithmetic —
   * the whole plan is two scans with a single O(1)-row exchange between
   * them. An exploded (doc, term) join would shuffle the full token stream
   * for a handful of query terms.
   *
   * Arithmetic is written in a fixed operation order (per-term scores summed
   * left-to-right) so an external SQL oracle can reproduce the doubles
   * bit-for-bit.
   */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol) +:
        size(col("__w")).cast(LongType).as("__dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__w"), x => x === lit(t))).cast(LongType).as(s"__tf$i")
        }: _*)
    val stats = base.agg(
      count(lit(1)).as("__n"),
      sum(col("__dl")).as("__sumdl") +:
        terms.indices.map(i =>
          sum((col(s"__tf$i") > 0).cast(LongType)).as(s"__df$i")): _*)
    val scored = base.crossJoin(broadcast(stats))
    val avgdl = col("__sumdl").cast(DoubleType) / col("__n")
    val lenNorm = lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl)
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      val tf = col(s"__tf$i").cast(DoubleType)
      idf * tf * lit(k1 + 1.0) / (tf + lenNorm)
    }.reduce(_ + _)
    scored.select(col(idCol), score.as("bm25"))
  }

  /** [[bm25]] top-n as a ranked candidate list `(id, bscore, rb)` for
    * [[Similarity.rrfFuse]]: scores rounded before ranking (the
    * engine-determinism discipline), candidates via TakeOrderedAndProject,
    * so the rank window only ever sees n rows. */
  def bm25TopRanked(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], n: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25(df, idCol, textCol, terms)
      .select(col(idCol).as("id"), round(col("bm25"), 6).as("bscore"))
      .filter(col("bscore") > 0)
      .orderBy(col("bscore").desc, col("id")).limit(n)
      // global window is BOUNDED: runs over the post-limit(n) rows only
      .withColumn("rb",
        row_number().over(Window.orderBy(col("bscore").desc, col("id"))))
  }

  /**
   * Heaps'-law vocabulary-growth audit: cumulative distinct vocabulary vs
   * cumulative token count at corpus-order checkpoints (every `bucketDocs`
   * docs by id). V(T) ≈ k·T^β is the vocab/tokenizer-sizing signal — a
   * corpus whose curve keeps climbing steeply still adds new surface forms
   * (more morphology/noise), one that flattens is saturating. Cost: token
   * counts are map-side; the vocabulary side is a first-occurrence election
   * (min doc id per token — ONE shuffle, exact-dedup cost class, never a
   * distinct-per-prefix recount); the cumulative window runs over
   * CHECKPOINTS (corpus/bucketDocs rows), not docs — pick bucketDocs so that
   * stays in the thousands at full scale.
   */
  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
      bucketDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docToks = df
      .select(floor(col(idCol) / bucketDocs).cast("long").as("bucket"),
        tokenCount(col(textCol)).cast("long").as("__n"))
      .groupBy(col("bucket")).agg(sum(col("__n")).as("new_tokens"))
    val newVocab = df
      .select(col(idCol).as("__id"), explode_outer(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(min(col("__id")).as("first_id"))
      .select(floor(col("first_id") / bucketDocs).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_vocab"))
    // global window is BOUNDED: one row per CHECKPOINT (corpus/bucketDocs),
    // thousands at full scale by bucketDocs choice — never per doc/token
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docToks.join(newVocab, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("new_tokens", "new_vocab"))
      .select(col("bucket"), sum(col("new_tokens")).over(w).as("cum_tokens"),
        sum(col("new_vocab")).over(w).as("cum_vocab"))
      .orderBy(col("bucket"))
  }

  /**
   * BPE merge training in the shape real tokenizer trainers use (HF
   * tokenizers, SentencePiece): the CORPUS-scale work is one wordcount —
   * map-side-combined shuffle to the bounded word-frequency table — and the
   * merge loop then iterates on that table alone. Heaps' law keeps the table
   * vocabulary-sized (millions at 100 TB, vs the corpus's trillions of
   * tokens), and `maxVocab` bounds the driver collect explicitly; training
   * never re-touches the corpus. Words are char symbols + a `</w>`
   * end-marker; each round merges the most frequent adjacent pair
   * (ties: lexicographic on (left, right)) into one symbol. Returns
   * `(rank, left, right, pair_count)` — the merges file a tokenizer ships.
   */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
      maxVocab: Int = 100000): Seq[(Int, String, String, Long)] = {
    val wordFreq = df
      .select(explode_outer(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] = wordFreq.map { case (w, c) =>
      (w.map(_.toString).toArray :+ "</w>", c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    while (round <= nMerges) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) return merges.toSeq
      val ((l, r), cnt) = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }
      merges += ((round, l, r, cnt))
      val merged = l + r
      words = words.map { case (syms, c) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += merged; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toArray, c)
      }
      round += 1
    }
    merges.toSeq
  }

  /** Apply learned [[bpeTrain]] merges to one word: ONE greedy
    * leftmost-non-overlap pass per merge, in merge-rank order — exactly the
    * transformation training applied, so a trained word's segmentation
    * replays its final training state byte-for-byte (what the recursive-CTE
    * oracle checks). Note this is the training-trace rule, not the
    * iterate-until-fixpoint variant some tokenizers use at inference: on a
    * word OUTSIDE the training vocabulary, a later merge can recreate an
    * earlier merge's pattern, which a fixpoint segmenter would re-collapse
    * and this one (like the trainer) does not. */
  def bpeSegment(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.map(_.toString).toVector :+ "</w>"
    merges.foreach { case (l, r) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toVector
    }
    syms
  }

  /**
   * Per-language BPE fertility (subwords emitted per word) measured with an
   * already-[[bpeTrain]]ed merge list — the measure leg of the
   * train→apply→measure loop. The trained model (nMerges rules) is the ONLY
   * driver-side state, shipped to executors inside the UDF closure;
   * segmentation runs executor-side per token occurrence, so NO vocabulary
   * is ever collected or materialized — the corpus-scale plan is explode +
   * one map-side-combined aggregation at any corpus size. (A per-type
   * pre-aggregation would cut segmenter invocations to the Heaps-law type
   * count, but costs an extra token-keyed shuffle; per-occurrence
   * segmentation of short words is cheaper than that shuffle.)
   */
  def bpeFertility(df: DataFrame, textCol: String, langCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val nSub = udf((w: String) => bpeSegment(w, merges).length.toLong)
    df.select(col(langCol).as("lang"),
        explode_outer(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .select(col("lang"), nSub(col("tok")).as("n_sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"),
        round(sum(col("n_sub")).cast("double") / count(lit(1)), 6)
          .as("fertility"))
      .orderBy(col("lang"))
  }

  private val builders: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "quality_score" -> (es => QualityScore(es.head)),
    "text_stats" -> (es => TextStats(es.head)),
    "doc_fingerprint" -> (es => DocFingerprint(es.head)),
    "doc_fingerprint_md5" -> (es => DocFingerprintMd5(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "simhash_md5" -> (es => SimHashMd5(es.head)),
    "minhash_sig" -> (es => MinhashSig(es.head,
      es.lift(1).map(_.eval(null).asInstanceOf[Int]).getOrElse(64))),
    "shingle_set" -> (es => ShingleSet(es.head,
      es.lift(1).map(_.eval(null).asInstanceOf[Int]).getOrElse(3))),
    "ngram_rep_stats" -> (es => NgramRepStats(es.head,
      es.lift(1).map(_.eval(null).asInstanceOf[Int]).getOrElse(2))),
  )

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  private[graft] def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name), b))
    }

  def doc_fingerprint(spark: SparkSession, text: Column): Column = {
    register(spark); call_function("doc_fingerprint", text)
  }
  def simhash64(spark: SparkSession, toks: Column): Column = {
    register(spark); call_function("simhash64", toks)
  }

  /**
   * Sliding-window character chunking — the RAG / retrieval-ingestion
   * splitter: fixed-size windows every `stride` characters (overlap =
   * chunkSize - stride). Output one row per chunk with offsets and content
   * hash; callers feed the chunks to embedding/BM25 indexing or dedup.
   *
   * Plan shape: `sequence` + `posexplode` are codegen'd generators over each
   * row — entirely map-side, no shuffle, composes with parquet pushdown. At
   * 100 TB the chunk count is (docBytes/stride)× rows, produced streaming
   * per input partition, never materialized per-doc on the driver.
   *
   * Empty text yields one empty chunk (start 0), so every document survives
   * into the chunk table — a left-join-safe invariant for provenance.
   */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 200, stride: Int = 150): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be > 0")
    df.select(col(idCol).as("id"), col(textCol).as("__text"),
        posexplode(sequence(lit(0L),
          greatest(length(col(textCol)).cast(LongType), lit(1L)) - 1L,
          lit(stride.toLong))).as(Seq("chunk_ix", "chunk_start")))
      .select(col("id"), col("chunk_ix"),
        col("chunk_start"),
        col("__text").substr(col("chunk_start").cast(IntegerType) + 1,
          lit(chunkSize)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")))
      .withColumn("chunk_md5", md5(col("chunk_text")))
  }

  /**
   * Gopher repetition filters (Rae et al. 2021 §A1.1) over word n-grams:
   * per document, the fraction of characters covered by the single most
   * frequent `topN`-gram (occurrences × gram chars / total chars) and the
   * fraction covered by duplicated `dupN`-grams (each duplicated gram's
   * chars counted once per occurrence — can exceed 1 on degenerate text,
   * which is exactly the signal a threshold gate wants). The document text
   * here has no line structure (the corpus is single-line), so the
   * line/paragraph variants of the Gopher suite reduce to these n-gram
   * forms.
   *
   * Both stats come from one map-side [[NgramRepStats]] call per n — no
   * explode, no shuffle; the plan is scan → project, the same cost class as
   * the other per-doc quality signals at 100 TB.
   */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 2, dupN: Int = 5): DataFrame = {
    val frac = (num: Column, tot: Column) =>
      when(tot > 0, round(num.cast(DoubleType) / tot.cast(DoubleType), 6))
        .otherwise(lit(0.0))
    register(df.sparkSession)
    df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol),
        call_function("ngram_rep_stats", col("__w"), lit(topN)).as("__t"),
        call_function("ngram_rep_stats", col("__w"), lit(dupN)).as("__d"))
      .select(col(idCol),
        frac(col("__t.top_cnt") * col("__t.top_chars"), col("__t.total_chars"))
          .as(s"top${topN}gram_char_frac"),
        frac(col("__d.dup_chars"), col("__d.total_chars"))
          .as(s"dup${dupN}gram_char_frac"))
  }
}

/**
 * Per-document word n-gram repetition statistics — the Gopher repetition
 * signals (Rae et al. 2021, "Scaling Language Models" §A1.1) re-expressed
 * over the whitespace token stream: the occurrence count and character
 * length of the most frequent n-gram (ties broken to the lexicographically
 * smallest gram so every engine elects the same one), the characters covered
 * by n-grams occurring at least twice (counted once per occurrence — a
 * deliberate, documented simplification of Gopher's overlap-deduplicated
 * span accounting), and the total character length of the space-joined
 * tokens.
 *
 * Runs map-side per row: the per-document n-gram count map lives only for
 * the row being evaluated, so — unlike explode + groupBy(doc, gram) — no
 * shuffle, no per-gram rows on the wire, and document-length skew stays
 * inside one task. At 100 TB this composes with the parquet scan exactly
 * like the other per-doc quality signals.
 *
 * Output struct: (top_cnt, top_chars, dup_chars, total_chars), all LONG.
 * Fewer than n tokens ⇒ zero grams ⇒ (0, 0, 0, total_chars).
 */
case class NgramRepStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "ngram_rep_stats needs n >= 1")
  override def prettyName: String = "ngram_rep_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("top_cnt", LongType, nullable = false),
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val t = arr.numElements()
    // total chars of the space-joined token stream (the normalization both
    // engines share); numChars so multi-byte text agrees with SQL length()
    var total = 0L
    var i = 0
    while (i < t) {
      if (!arr.isNullAt(i)) total += arr.getUTF8String(i).numChars()
      i += 1
    }
    if (t > 1) total += t - 1
    var topCnt = 0L
    var topGram: UTF8String = null
    var dupChars = 0L
    if (t >= n) {
      val counts = new java.util.HashMap[UTF8String, Long]()
      i = 0
      while (i <= t - n) {
        val parts = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
        var j = i
        while (j < i + n) {
          if (!arr.isNullAt(j)) parts += arr.getUTF8String(j)
          j += 1
        }
        val g = UTF8String.concatWs(space, parts.toSeq: _*)
        counts.merge(g, 1L, (a, b) => a + b)
        i += 1
      }
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cnt = e.getValue
        if (cnt > topCnt || (cnt == topCnt && (topGram == null ||
            e.getKey.compareTo(topGram) < 0))) {
          topCnt = cnt; topGram = e.getKey
        }
        if (cnt >= 2) dupChars += cnt * e.getKey.numChars()
      }
    }
    val topChars = if (topGram == null) 0L else topGram.numChars().toLong
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](topCnt, topChars, dupChars, total))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Distinct word n-gram shingles in one pass: the native twin of
 * [[Dedup.shinglesFromTokens]] (identical output — first-occurrence order,
 * space-joined n-grams, whole-document fallback below n tokens). The HOF
 * formulation (`transform(sequence(...), concat_ws(slice(...)))` +
 * `array_distinct`) runs interpreted with per-element expression-tree eval —
 * ~30x slower per document and quadratic when an optimizer rule re-inlines it
 * (no CSE). This is the map-side inner loop of every text-dedup operator, so
 * it gets the MinhashSig treatment: plain Scala over UTF8String slices.
 */
case class ShingleSet(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "shingle_set"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }

  private val space = UTF8String.fromString(" ")

  // concat_ws(" ", ...) semantics: null elements are skipped, not rendered
  private def join(arr: ArrayData, from: Int, until: Int): UTF8String = {
    val parts = new scala.collection.mutable.ArrayBuffer[UTF8String](until - from)
    var i = from
    while (i < until) {
      if (!arr.isNullAt(i)) parts += arr.getUTF8String(i)
      i += 1
    }
    UTF8String.concatWs(space, parts.toSeq: _*)
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val t = arr.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (t >= n) {
      var i = 0
      while (i <= t - n) { out.add(join(arr, i, i + n)); i += 1 }
    } else out.add(join(arr, 0, t))
    val res = new Array[AnyRef](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { res(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit FNV-1a with a final avalanche — deterministic, dependency-free. */
private[operators] object Hash64 {
  final def bytes(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    avalanche(h)
  }
  final def avalanche(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }
}

/**
 * Winnowing document fingerprint (Karp-Rabin style): lowercase + collapse
 * whitespace, hash every k-char gram, take the minimum gram hash per sliding
 * window of w grams, and combine the selected hashes order-independently.
 * Near-identical documents produce identical fingerprints with high
 * probability; any single-character edit changes at most w window minima.
 */
case class DocFingerprint(child: Expression, k: Int = 8, w: Int = 16)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "doc_fingerprint"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING")

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
      .toLowerCase.replaceAll("\\s+", " ").trim
    val b = s.getBytes("UTF-8")
    if (b.length < k) Hash64.bytes(b, 0, b.length)
    else {
      val nGrams = b.length - k + 1
      val gramHash = new Array[Long](nGrams)
      var i = 0
      while (i < nGrams) { gramHash(i) = Hash64.bytes(b, i, i + k); i += 1 }
      var acc = 0L
      var start = 0
      while (start < nGrams) {
        val end = math.min(start + w, nGrams)
        var mn = Long.MaxValue
        var j = start
        while (j < end) { if (gramHash(j) < mn) mn = gramHash(j); j += 1 }
        acc ^= Hash64.avalanche(mn) // order-independent combine of window minima
        start += w
      }
      acc
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Winnowing fingerprint variant whose gram hash is the low 60 bits of md5 and
 * whose combine is a plain XOR of window minima — every step is expressible
 * in ordinary SQL (md5/substr/min/xor), so the fingerprint column can be
 * hash-verified by an external engine. Grams are CHARACTER k-grams of the
 * normalized text (lowercase, collapse whitespace, trim); windows of w grams
 * step by w (non-overlapping minima, same window rule as [[DocFingerprint]]).
 */
case class DocFingerprintMd5(child: Expression, k: Int = 8, w: Int = 16)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "doc_fingerprint_md5"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING")

  private def md5low60(s: String): Long = {
    val md = SimHashMd5.digest.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 8
    while (i < 16) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h & 0x0fffffffffffffffL
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
      .toLowerCase.replaceAll("\\s+", " ").trim
    if (s.length < k) md5low60(s)
    else {
      val nGrams = s.length - k + 1
      val gramHash = new Array[Long](nGrams)
      var i = 0
      while (i < nGrams) { gramHash(i) = md5low60(s.substring(i, i + k)); i += 1 }
      var acc = 0L
      var start = 0
      while (start < nGrams) {
        val end = math.min(start + w, nGrams)
        var mn = Long.MaxValue
        var j = start
        while (j < end) { if (gramHash(j) < mn) mn = gramHash(j); j += 1 }
        acc ^= mn
        start += w
      }
      acc
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * MinHash signature over a shingle set: each shingle is hashed once
 * (FNV-1a 64), then the `numHashes` permutations are derived with a cheap
 * avalanche mix of (hash + i·φ) — one string pass per shingle instead of
 * `numHashes` (the interpreted `transform`+`xxhash64` formulation re-hashed
 * every string 64 times). Output: ARRAY<LONG> of per-permutation minima;
 * an empty/all-null input yields Long.MaxValue minima (never bucket-matches).
 */
case class MinhashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val b = arr.getUTF8String(i).getBytes
        val h = Hash64.bytes(b, 0, b.length)
        var j = 0
        var x = h
        while (j < numHashes) {
          val g = Hash64.avalanche(x)
          if (g < mins(j)) mins(j) = g
          x += 0x9e3779b97f4a7c15L // golden-ratio step per permutation
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * 64-bit SimHash over a token array: each token votes ±1 per bit position of
 * its 64-bit hash; the sign of each bit-sum forms the signature. Documents
 * with small Hamming distance between signatures share most tokens.
 */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val b = arr.getUTF8String(i).getBytes
        val h = Hash64.bytes(b, 0, b.length)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) sig |= 1L << bit; bit += 1 }
    sig
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * 60-bit SimHash whose per-token hash is the LOW 60 BITS OF MD5 — chosen
 * because any engine with an md5() function can recompute the signature
 * independently (the low 60 bits are hex chars 18..32 of the digest, e.g.
 * Spark `conv(substring(md5(t), 18, 15), 16, 10)`, DuckDB
 * `('0x' || substr(md5(t), 18, 15))::UBIGINT`), making simhash-based dedup
 * verifiable against an external SQL oracle rather than engine-defined.
 * Same majority-vote semantics as [[SimHash64]]: bit set iff votes > 0.
 */
case class SimHashMd5(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "simhash_md5"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val md = SimHashMd5.digest.get()
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](SimHashMd5.Bits)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // big-endian long from digest bytes 8..15, masked to the low 60 bits
        var h = 0L
        var bi = 8
        while (bi < 16) { h = (h << 8) | (d(bi) & 0xffL); bi += 1 }
        h &= 0x0fffffffffffffffL
        var bit = 0
        while (bit < SimHashMd5.Bits) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < SimHashMd5.Bits) { if (votes(bit) > 0) sig |= 1L << bit; bit += 1 }
    sig
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHashMd5 {
  val Bits = 60
  private[operators] val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/**
 * Runtime kernel for [[QualityScore]]: [[TextAnalysis.qualityScore]]'s
 * whole formula in ONE codepoint scan — the Column form costs a tokenize
 * (split + higher-order filter) plus four full regex strips plus a
 * stopword array filter per document, all on the ingest hot path.
 * Count-for-count equivalence with the Column form:
 *
 *  - `nChar` = Spark `length` = Unicode CODEPOINTS (not UTF-16 units);
 *  - `strip` = codepoints that are not ASCII whitespace (`\s` = space, \t,
 *    \n, \x0B, \f, \r — Java regex `\s` is ASCII-only);
 *  - `alpha` / `digit` = [A-Za-z] / [0-9] codepoints;
 *  - tokens = maximal runs of non-ASCII-whitespace (what
 *    `filter(split(trim(text), "\\s+"), length > 0)` produces);
 *  - `stop` = tokens exactly equal (case-sensitive) to the "en" stopword
 *    profile;
 *  - the combine runs in [[TextAnalysis.combineQuality]]'s exact
 *    double-arithmetic order, so scores are BIT-identical.
 */
object QualityScoreKernel {
  private val stopEn: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextAnalysis.stopwords("en").foreach(s.add)
    s
  }

  def score(in: UTF8String): Double = {
    val s = in.toString
    val len = s.length
    var nChar = 0L; var strip = 0L; var alpha = 0L; var digit = 0L
    var nTok = 0L; var stop = 0L
    var tokenStart = -1
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      val cw = Character.charCount(cp)
      nChar += 1
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!ws) strip += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) alpha += 1
      if (cp >= '0' && cp <= '9') digit += 1
      if (!ws && tokenStart < 0) tokenStart = i
      if (ws && tokenStart >= 0) {
        nTok += 1
        if (stopEn.contains(s.substring(tokenStart, i))) stop += 1
        tokenStart = -1
      }
      i += cw
    }
    if (tokenStart >= 0) {
      nTok += 1
      if (stopEn.contains(s.substring(tokenStart, len))) stop += 1
    }
    val alphaRatio = if (nChar > 0) alpha.toDouble / nChar.toDouble else 0.0
    val stopRatio = if (nTok > 0) stop.toDouble / nTok.toDouble else 0.0
    val avgTokenLen = if (nTok > 0) strip.toDouble / nTok.toDouble else 0.0
    val digitRatio = if (nChar > 0) digit.toDouble / nChar.toDouble else 0.0
    // combineQuality's exact shape and association order
    alphaRatio * 0.4 +
      math.min(stopRatio * 5.0, 1.0) * 0.3 +
      (if (avgTokenLen >= 3 && avgTokenLen <= 10) 1.0 else 0.0) * 0.2 +
      (1.0 - math.min(digitRatio * 5.0, 1.0)) * 0.1
  }
}

/** `quality_score(text STRING) → DOUBLE` — see [[QualityScoreKernel]];
  * bit-identical to [[TextAnalysis.qualityScore]] (spec-fuzzed). Null in →
  * null out. */
case class QualityScore(child: Expression) extends UnaryExpression
    with Serializable {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def prettyName: String = "quality_score"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    QualityScoreKernel.score(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.operators.QualityScoreKernel.score($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/**
 * Runtime kernel for [[TextStats]]: every count [[TextAnalysis.quality]]
 * derives its ratios/lang from, in ONE codepoint scan — the staged Column
 * form paid a tokenize (split + interpreted higher-order filter), five
 * full regex strips, and SIX more interpreted stopword array filters (one
 * per language profile + the en ratio) per document. Count semantics match
 * the Column form exactly (see [[QualityScoreKernel]] for the
 * codepoint/ASCII-whitespace/token rules; `punct` counts the [.,;:!?]
 * class; `stops` holds exact-match token hits per profile in en, es, de,
 * fr, zh order).
 */
object TextStatsKernel {
  private val langs = TextAnalysis.langOrder.toArray
  private val profiles: Array[java.util.HashSet[String]] = langs.map { l =>
    val s = new java.util.HashSet[String]()
    TextAnalysis.stopwords(l).foreach(s.add)
    s
  }

  def stats(in: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = in.toString
    val len = s.length
    var nChar = 0L; var strip = 0L; var alpha = 0L; var digit = 0L
    var punct = 0L; var nTok = 0L
    val stops = new Array[Long](profiles.length)
    var tokenStart = -1
    def closeToken(end: Int): Unit = {
      nTok += 1
      val t = s.substring(tokenStart, end)
      var p = 0
      while (p < profiles.length) {
        if (profiles(p).contains(t)) stops(p) += 1
        p += 1
      }
      tokenStart = -1
    }
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      val cw = Character.charCount(cp)
      nChar += 1
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!ws) strip += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) alpha += 1
      if (cp >= '0' && cp <= '9') digit += 1
      if (cp == '.' || cp == ',' || cp == ';' || cp == ':' || cp == '!' ||
        cp == '?') punct += 1
      if (!ws && tokenStart < 0) tokenStart = i
      if (ws && tokenStart >= 0) closeToken(i)
      i += cw
    }
    if (tokenStart >= 0) closeToken(len)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, nChar, strip, alpha, digit, punct,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(stops)))
  }
}

/** `text_stats(text STRING) → STRUCT` — see [[TextStatsKernel]]. Null in →
  * null out. */
case class TextStats(child: Expression) extends UnaryExpression
    with Serializable {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def prettyName: String = "text_stats"
  override def dataType: DataType = TextStats.schema
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    TextStatsKernel.stats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.operators.TextStatsKernel.stats($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_char", LongType, nullable = false),
    StructField("strip", LongType, nullable = false),
    StructField("alpha", LongType, nullable = false),
    StructField("digit", LongType, nullable = false),
    StructField("punct", LongType, nullable = false),
    StructField("stops", ArrayType(LongType, containsNull = false),
      nullable = false)))
}
