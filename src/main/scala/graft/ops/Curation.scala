package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation filters: repetition metrics (the Gopher family) and
 * benchmark decontamination — the filter steps between raw web-scale text
 * and a training mix.
 *
 * Repetition metrics follow Rae et al. 2021 ("Scaling Language Models:
 * ... Gopher", appendix A1.1, public) in spirit, as exactly-computable
 * token/line-coverage variants: every metric is a deterministic function
 * of the text alone, built from array builtins (`split` / `array_distinct`
 * / `array_sort` / `aggregate`) inside ONE shuffle-free projection, and
 * restated verbatim by the DuckDB oracle. High values mark
 * boilerplate/spam documents a quality gate should drop. NULL text scores
 * 0.0 on every metric (a missing doc is not "repetitive"; a NULL metric
 * would silently pass `metric > threshold` gates — the failure mode a
 * curation pass exists to prevent).
 *
 * Every multiply-referenced array is LAMBDA-BOUND via the
 * single-element-transform trick ([[Dedup.shingles]]): a non-trivial
 * expression referenced inside HOF lambdas is otherwise re-evaluated per
 * reference, which turns these metrics quadratic in document length (the
 * round-1 ~50x lesson).
 *
 * Decontamination flags training documents whose shingle sets overlap a
 * benchmark/test set — one corpus scan: explode distinct shingles
 * carrying the per-doc count, broadcast-join the benchmark side, count
 * hits with one partial-aggregated groupBy. That is the shape that
 * survives a 10^9-doc corpus against a dimension-sized benchmark.
 */
object Curation {

  /** Evaluate `c` once and hand it to `f` as a lambda-bound variable —
   * the array-of-one binding trick (see [[Dedup.shingles]]). */
  private def bind1(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Word n-grams as strings (space-joined); empty array when the doc has
   * fewer than n tokens or the text is NULL/blank. String n-grams (not
   * hashes) so the DuckDB oracle comparison is exact by construction, no
   * collision caveat. Tokens bind once; the split never re-runs per slot. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "ngram width must be >= 1")
    when(text.isNull || trim(text) === "", array().cast("array<string>"))
      .otherwise(flatten(transform(array(TextAnalysis.tokensLower(text)), ts =>
        when(size(ts) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(ts) - n),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(ts, i + j + 1)): _*))))))
  }

  private def ratio(num: Column, den: Column): Column =
    when(den <= 0, lit(0.0)).otherwise(round(num.cast("double") / den, 6))

  // --- metric formulas over an already-bound array --------------------------

  private def dupLineFracOf(l: Column): Column =
    when(size(l) <= 1, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(l)).cast("double") / size(l), 6))

  /** Fraction of CHARACTERS sitting in repeated lines: 1 - chars of the
   * distinct line set / total chars across lines. */
  private def dupCharFracOf(l: Column): Column = {
    val total = aggregate(l, lit(0L), (acc, x) => acc + length(x))
    val dist = aggregate(array_distinct(l), lit(0L), (acc, x) => acc + length(x))
    when(total <= 0, lit(0.0))
      .otherwise(round(lit(1.0) - dist.cast("double") / total, 6))
  }

  /** Fraction of n-gram slots taken by the single most frequent n-gram
   * (the "top n-gram coverage" boilerplate signal): sort + one linear
   * run-length pass. */
  private def modalNgramFracOf(ng: Column): Column = {
    val best = aggregate(
      array_sort(ng),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (s, x) => {
        val run = when(x === s("prev"), s("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"), greatest(s("best"), run).as("best"))
      },
      s => s("best"))
    ratio(best, size(ng))
  }

  private def dupNgramFracOf(ng: Column): Column =
    when(size(ng) <= 0, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(ng)).cast("double") / size(ng), 6))

  // --- public per-metric Columns (standalone use; arrays bound once) --------

  /** Fraction of lines that repeat an earlier line: 1 - distinct/total
   * (0 for single-line or NULL docs). */
  def dupLineFrac(text: Column): Column =
    when(text.isNull, lit(0.0))
      .otherwise(bind1(split(text, "\n"))(dupLineFracOf))

  /** Fraction of word-n-gram occurrences that are repeats of an earlier
   * one: 1 - distinct/total. */
  def dupNgramFrac(text: Column, n: Int): Column =
    bind1(wordNgrams(text, n))(dupNgramFracOf)

  /** The curated repetition profile, one shuffle-free pass:
   * (id, n_lines, dup_line_frac, dup_line_char_frac, top_bigram_frac,
   * dup_5gram_frac). The line and n-gram arrays materialize once each in
   * a projection boundary (CollapseProject keeps multiply-referenced
   * non-cheap aliases), so the text is tokenized once per n-gram width —
   * not once per metric reference. */
  def repetitionMetrics(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      split(t, "\n").as("__lines"),
      wordNgrams(t, 2).as("__bg"),
      wordNgrams(t, 5).as("__g5"))
      .select(col(idCol),
        coalesce(size(col("__lines")), lit(0)).as("n_lines"),
        coalesce(dupLineFracOf(col("__lines")), lit(0.0)).as("dup_line_frac"),
        coalesce(dupCharFracOf(col("__lines")), lit(0.0)).as("dup_line_char_frac"),
        modalNgramFracOf(col("__bg")).as("top_bigram_frac"),
        dupNgramFracOf(col("__g5")).as("dup_5gram_frac"))
  }

  /**
   * Benchmark decontamination: for each document, the fraction of its
   * DISTINCT word k-grams that appear in `bench` (one string column of
   * benchmark k-grams). ONE corpus scan: the exploded shingles carry the
   * per-doc shingle count, the benchmark side broadcasts, and hit counts
   * partial-aggregate map-side; a doc scoring near 1.0 IS the benchmark
   * (or quotes it) and must leave the training mix.
   * Returns (idCol, n_shingles, n_hits, contam_frac).
   */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, k: Int = 3): DataFrame = {
    require(bench.columns.length == 1,
      "bench must be a single-column frame of benchmark k-gram strings")
    val benchSh = bench.select(col(bench.columns.head).as("__sh")).distinct()
      .withColumn("__hit", lit(1))
    df.select(col(idCol),
      array_distinct(wordNgrams(col(textCol), k)).as("__shs"))
      .select(col(idCol), size(col("__shs")).as("n_shingles"),
        explode_outer(col("__shs")).as("__sh"))
      .join(broadcast(benchSh), Seq("__sh"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(col("__hit")).as("n_hits"))
      .select(col(idCol), col("n_shingles"), col("n_hits"),
        ratio(col("n_hits"), col("n_shingles")).as("contam_frac"))
  }

  /** The benchmark k-gram set of a document frame — the `bench` input to
   * [[contamination]], built once and broadcast. */
  def benchmarkShingles(bench: DataFrame, textCol: String,
      k: Int = 3): DataFrame =
    bench.select(explode(array_distinct(
      wordNgrams(col(textCol), k))).as("sh")).distinct()

  /**
   * Corpus-wide line-level exact dedup (the CCNet/RefinedWeb paragraph
   * step, Wenzek et al. 2019 §3.1): every line keeps only its FIRST
   * occurrence across the whole corpus — first by (doc id, line index) —
   * and each document is reassembled from its surviving lines. Returns
   * (idCol, n_lines, n_kept, text_dedup); a document whose every line
   * appeared earlier elsewhere dedups to the empty string. Documents with
   * NULL text have no lines and are absent from the output.
   *
   * Scale shape: one logical explode, one partial-aggregated min per
   * distinct line (hot lines — blank lines, boilerplate headers —
   * collapse map-side on the WINNER side), one equi-join of the exploded
   * lines against the winner table on the line key, one per-document
   * re-aggregation. Nothing is ever quadratic. Honest skew note: the
   * PROBE side of the join still shuffles every copy of a hot line to
   * one partition — that funnel is smaller than a row_number window's
   * (the window also sorts and carries (doc,idx) state) but it is not
   * zero; AQE's skew-join split handles it at runtime, and at extreme
   * scale the join key can additionally be salted by (line, doc-hash
   * band) with the winner table replicated per band. The explode also
   * evaluates on both join sides (two scans of `df`) — callers composing
   * this after expensive lineage should checkpoint first, as
   * [[curateCorpus]] does.
   */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__p", "__line")))
      .select(col(idCol), (col("__p") + 1).as("__idx"), col("__line"))
    val winners = lines.groupBy("__line")
      .agg(min(struct(col(idCol), col("__idx"))).as("__w"))
    lines.join(winners, "__line")
      .withColumn("__keep", struct(col(idCol), col("__idx")) === col("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        count(when(col("__keep"), 1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__idx"), col("__line"))))),
          s => s.getField("__line")), "\n").as("text_dedup"))
  }

  /** PII patterns shared verbatim (same source-of-truth string) between the
   * Spark expressions and the DuckDB oracles. Deliberately lookaround-free
   * and `\p`-free so Java regex and RE2 match identically; `\d`/`\b` are
   * ASCII in both. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"

  /**
   * PII scrub (the BigCode/StarCoder-style redaction step): counts of
   * email / IPv4 / phone matches — each counted INDEPENDENTLY on the raw
   * text — plus the text with all three replaced by
   * `<EMAIL>`/`<IP>`/`<PHONE>`, applied sequentially in that fixed order.
   * Contract notes: a string matching two patterns at once (an
   * IPv4-shaped email domain like `bob@1.2.3.4.ab`) counts under BOTH
   * counters, and the sequential redaction can expose a match the raw
   * counts never saw (email replacement may create a word boundary) —
   * both behaviors are deterministic and engine-symmetric with the
   * oracle, which restates the same counts-on-raw / sequential-replace
   * semantics. One shuffle-free projection; the regexes are
   * deterministic pattern machines, not a learned NER pass — the shape a
   * 100 TB pre-tokenization scrub takes.
   */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("int").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("int").as("n_ipv4"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("int").as("n_phones"),
      piiRedact(t).as("redacted"))
  }

  /** The redaction expression [[redactPii]] projects — exposed as a Column
   * so pipeline compositions can scrub in-place inside a wider projection. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  /** URL regex: scheme + maximal non-whitespace run. Java `\s` includes
   * \x0B where RE2's does not — the oracle restates the class as
   * `[^\s\x0b]` (the round-2 tokenizer lesson, [[TextAnalysis.tokensLower]]). */
  val UrlRe = "https?://[^\\s]+"

  /**
   * URL audit + domain blocklist filter: per document, how many URLs it
   * contains, how many of their domains are blocklisted, the first domain
   * (NULL when URL-free) and the keep verdict (no blocklisted domain).
   * The blocklist is a literal IN-set (broadcast-as-constant, like the
   * Enum validator); domains bind once at a projection boundary so the
   * extract-all runs once per row, not once per output column.
   */
  /** Domains of every URL in `text` — THE extraction expression; both
   * [[urlAudit]] and [[urlKeep]] must stay on this single definition so
   * the audit columns and the standalone keep predicate can't drift. */
  private def urlDomains(text: Column): Column =
    transform(regexp_extract_all(text, lit(UrlRe), lit(0)),
      u => regexp_extract(u, "https?://([^/]+)", 1))

  def urlAudit(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "urlAudit needs a non-empty blocklist")
    df.select(col(idCol), urlDomains(col(textCol)).as("__d"))
      .select(col(idCol),
        size(col("__d")).cast("int").as("n_urls"),
        size(filter(col("__d"), d => d.isin(blocklist: _*)))
          .cast("int").as("n_blocked"),
        get(col("__d"), lit(0)).as("first_domain"))
      .withColumn("keep", col("n_blocked") === 0)
  }

  /** True when `text` contains no URL whose domain is in `blocklist` —
   * the [[urlAudit]] keep verdict as a standalone predicate Column. */
  def urlKeep(text: Column, blocklist: Seq[String]): Column =
    size(filter(urlDomains(text), d => d.isin(blocklist: _*))) === 0

  /**
   * Blocked-term gate ([[graft.functions.AcMultiLiteralStats]]): one
   * Aho–Corasick pass counts every dictionary literal in `lower(text)` —
   * distinct terms present, total non-overlapping hits, and the C4-style
   * keep verdict (`n_terms <= maxTerms`, default: any hit drops the doc).
   * O(|text| + hits) per row whatever the dictionary size, where |dict|
   * stacked `contains` filters would be O(|dict|·|text|) — the reason
   * C4-scale pipelines precompile their bad-word lists.
   */
  def termGate(df: DataFrame, idCol: String, textCol: String,
      dict: Seq[String], maxTerms: Int = 0): DataFrame =
    df.select(col(idCol),
      graft.functions.AcMultiLiteralStats.stats(lower(col(textCol)),
        dict.map(_.toLowerCase)).as("__s"))
      .select(col(idCol),
        col("__s.n_terms").as("n_terms"),
        col("__s.n_hits").as("n_hits"),
        (col("__s.n_terms") <= maxTerms).as("keep"))

  /**
   * Domain-frequency boilerplate removal — the RefinedWeb/CCNet "line-wise
   * correction": a line occurring in more than `maxDocFrac` of a DOMAIN's
   * documents (and in at least `minDocs` of them — the small-domain guard)
   * is boilerplate (cookie banners, nav bars, footers) and every copy of
   * it is stripped; document text is reassembled from the surviving lines
   * in original order. Distinct from [[dedupLines]], which keeps a line's
   * FIRST corpus occurrence: boilerplate removal drops ALL occurrences,
   * and only of lines frequent WITHIN their domain.
   *
   * Scale shape: two aggregations (domain doc counts — a broadcast-sized
   * dim — and per-(domain,line) doc frequency with map-side partials over
   * a distinct'd explode), then ONE broadcast join back onto the lines.
   * The boilerplate table is provably broadcast-safe by pigeonhole: each
   * boilerplate line consumes > maxDocFrac·n_docs of a domain's
   * n_docs·avgLines line-doc incidences, so a domain can have at most
   * avgLines/maxDocFrac such lines — dimension-scale whatever the corpus
   * size, which is why the probe side never shuffles and hot lines never
   * funnel. NULL-text rows are dropped ([[dedupLines]]'s contract).
   */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, maxDocFrac: Double = 0.3,
      minDocs: Int = 3): DataFrame = {
    val lines = df
      .select(col(idCol), col(domainCol).as("__dom"),
        posexplode(split(col(textCol), "\n")).as(Seq("__p", "__line")))
      .select(col(idCol), col("__dom"), (col("__p") + 1).as("__idx"),
        col("__line"))
    val domDocs = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n_docs"))
    val lineDf = lines.select(col(idCol), col("__dom"), col("__line"))
      .distinct()
      .groupBy("__dom", "__line").agg(count(lit(1)).as("__df"))
    val boiler = lineDf.join(broadcast(domDocs), "__dom")
      .filter(col("__df") >= minDocs &&
        col("__df") > lit(maxDocFrac) * col("__n_docs"))
      .select(col("__dom"), col("__line"), lit(true).as("__b"))
    lines.join(broadcast(boiler), Seq("__dom", "__line"), "left")
      .withColumn("__keep", col("__b").isNull)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        count(when(col("__keep"), 1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__idx"), col("__line"))))),
          s => s.getField("__line")), "\n").as("text_clean"))
  }

  /**
   * The one-call curation pipeline — the corpus-hygiene counterpart of
   * [[Dedup.dedupCorpus]], composing this module's gates in the order a
   * 100 TB pass wants them:
   *
   *  1. shuffle-free row gates FIRST (quality floor, repetition ceilings,
   *     URL blocklist) — one codegen'd filter over the scan, shrinking the
   *     corpus before anything that shuffles;
   *  2. PII scrub (in-place projection on the survivors);
   *  3. benchmark decontamination (broadcast-join gate) when a benchmark
   *     shingle set is supplied;
   *  4. corpus-wide line-level dedup LAST (the only big shuffle), with the
   *     surviving text replacing `textCol`.
   *
   * All other columns of `df` pass through. Each stage's semantics (and
   * its oracle) live with the underlying operator; this is deliberately
   * just the composition.
   */
  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.3,
      maxDupLineFrac: Double = 0.3,
      maxDup5gramFrac: Double = 0.3,
      blocklist: Seq[String] = Nil,
      bench: Option[DataFrame] = None,
      maxContam: Double = 0.8,
      lineDedup: Boolean = true): DataFrame = {
    val t = col(textCol)
    var cur = df.filter(
      TextAnalysis.qualityScore(t) >= minQuality &&
        dupLineFrac(t) <= maxDupLineFrac &&
        dupNgramFrac(t, 5) <= maxDup5gramFrac)
    if (blocklist.nonEmpty) cur = cur.filter(urlKeep(t, blocklist))
    cur = cur.withColumn(textCol, piiRedact(t))
    bench.foreach { b =>
      val dirty = contamination(cur, idCol, textCol, b)
        .filter(col("contam_frac") > maxContam).select(col(idCol))
      cur = cur.join(dirty, Seq(idCol), "left_anti")
    }
    if (lineDedup) {
      // Cut the gate/scrub/decontam lineage before the dedup stage: its
      // result feeds THREE subplans (the exploded probe side, the winner
      // aggregate, and the final join's left side) whose exchanges differ,
      // so exchange reuse cannot dedupe them — without this checkpoint the
      // regex-heavy gates would execute three times over the corpus. Lazy
      // (eager=false): materializes on first action, reused thereafter.
      cur = cur.localCheckpoint(false)
      val survivors = dedupLines(cur, idCol, textCol)
        .select(col(idCol), col("text_dedup"))
      cur = cur.drop(textCol).join(survivors, Seq(idCol))
        .withColumnRenamed("text_dedup", textCol)
    }
    cur
  }
}
