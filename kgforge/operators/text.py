"""Text analysis operators: quality scoring, token counting, language ID,
document fingerprinting.  All pure JVM expressions (whole-stage codegen) —
no Python in any of these paths."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kgforge.frames import local_frame

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
_PUNCT = "[.,;:!?'\"()]"
# BPE-ish token regex: words, numbers, or single non-space symbols
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "una", "y"),
    "de": ("der", "und", "die", "das", "nicht"),
    "zh": ("的", "是", "了", "我", "不"),
}


def _words(col: str = "text") -> F.Column:
    # null text behaves as empty: every downstream rule/score/flag then
    # evaluates to a deterministic value instead of a silent null verdict
    return F.split(F.trim(F.coalesce(F.col(col), F.lit(""))), r"\s+")


def quality_features(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features plus the BPE-ish
    regex token count, all expressible in ANSI SQL (DuckDB-oracle-checkable)."""
    words = _words()
    n_tokens = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS_EN)))
    n_punct = F.length("text") - F.length(F.regexp_replace("text", _PUNCT, ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("re_tokens"),
        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            (F.length("text") - n_punct) / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("mean_token_len"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens (SURVEY-adjacent training-
    data op; both countable in DuckDB for the oracle)."""
    return docs.select(
        "doc_id",
        F.size(_words()).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("re_tokens"),
    )


def _langid_best() -> F.Column:
    """The argmax (score, lang) struct of the marker-word scores — a pure
    narrow expression, shared by ``langid`` and ``audit_signals``."""
    words = _words()
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(words, lambda w: w.isin(*marks))).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, marks in LANG_MARKERS.items()
        ]
    )
    return F.array_max(scored)


def langid(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: score = marker hits per language, argmax via
    array_max over (score, lang) structs; deterministic tiebreak by lang desc
    then alphabetic via struct ordering."""
    best = _langid_best()
    return docs.select(
        "doc_id",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        best["score"].alias("marker_hits"),
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    val_permille: int = 100,
    salt: str = "split1",
) -> DataFrame:
    """Deterministic, leakage-proof train/validation assignment: bucket =
    first 8 hex digits of md5(salt || key) mod 1000; a row is validation iff
    bucket < val_permille.  Content-keyed hashing (vs .randomSplit) gives
    splits that survive re-runs, repartitioning, engine changes, and joins
    across derived tables — the property a training pipeline needs so a
    document can never drift between train and val between runs.  Pure JVM
    expressions; the exact same arithmetic is ANSI-SQL-expressible, so the
    assignment is oracle-checked against DuckDB (registry `hash_split`).
    Change ``salt`` to draw an independent split."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1000
    )
    return df.withColumn("split_bucket", bucket).withColumn(
        "is_val", F.col("split_bucket") < val_permille
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", head_size: int = 10_000
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's OWN
    unigram language model — the cheap perplexity-style quality signal a
    training-data pipeline uses to rank/filter documents (out-of-vocabulary
    junk and boilerplate both score low).  Pure JVM expressions, two passes:

      pass 1: vocabulary count table (map-side-combined hash agg over the
              exploded word relation — vocab-sized shuffle, not corpus);
      pass 2: words equi-join the vocab table on word; the corpus-total
              token count joins in as a broadcast single row (1-row cross
              join, never a global window over data rows); avg(ln(c/t))
              per document.

    SKEW: ``word`` is a Zipf-distributed join key — a plain shuffle join
    sends every occurrence of 'the' to one reducer.  The join therefore
    splits on the vocabulary HEAD (top ``head_size`` words by count —
    dict-sized by construction, broadcast): head-word rows take a broadcast
    hash join and never shuffle; the residual tail join is skew-free
    because every hot key is in the head.  Same explicit-defuse discipline
    as the hot-predicate salting (SURVEY.md 4.3.1); AQE skew-join remains
    a second net under it.

    The word explode is evaluated in both passes — at corpus scale a
    second scan is preferred over materializing the exploded relation
    (same reasoning as the MinHash guard note in dedup.py).  Rounded to 5
    decimals so double-summation order cannot flip the oracle hash."""
    w = docs.select(F.col(id_col), F.explode(_words()).alias("word")).filter(
        F.length("word") > 0
    )
    vf = w.groupBy("word").agg(F.count("*").alias("c"))
    tot = vf.agg(F.sum("c").alias("t"))
    head = F.broadcast(vf.orderBy(F.desc("c"), "word").limit(head_size))
    w_head = w.join(head, "word")
    w_tail = w.join(F.broadcast(head.select("word")), "word", "left_anti").join(
        vf, "word"
    )
    return (
        w_head.unionByName(w_tail)
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.round(F.avg(F.log(F.col("c") / F.col("t"))), 5).alias("avg_logprob"),
            F.count("*").alias("n_words"),
        )
    )


def quality_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_words: int = 3,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.3,
    stopwords: tuple = STOPWORDS_EN,
) -> DataFrame:
    """Gopher-style hard quality rules (public heuristics: word-count
    bounds, mean-word-length bounds, symbol-to-character ratio, stopword
    presence), each as its own boolean column plus the conjunction — the
    filter shape a pretraining corpus pass ships.  Whole-stage codegen
    only; every rule is ANSI-SQL-expressible for the DuckDB oracle.

    The stopword-presence rule is ENGLISH-specific in Gopher's original
    formulation (the default list); for a multilingual corpus pass a
    per-language or union list (jobs/filter_corpus.py unions the langid
    marker words) or route by language first."""
    out = docs.select(
        F.col(id_col),
        *_rule_cols(
            min_words, max_words, min_mean_word_len, max_mean_word_len,
            max_symbol_ratio, stopwords,
        ),
    )
    return out.withColumn(
        "keep",
        F.col("ok_word_count")
        & F.col("ok_word_len")
        & F.col("ok_symbols")
        & F.col("ok_stopword"),
    )


def _rule_cols(
    min_words: int = 3,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.3,
    stopwords: tuple = STOPWORDS_EN,
) -> list:
    """The aliased rule columns ``quality_rules`` selects (minus the id and
    the keep conjunction) — pure narrow expressions, shared with
    ``audit_signals`` so the filter CLI can fuse them with langid into one
    projection."""
    words = _words()
    n_words = F.size(F.filter(words, lambda w: F.length(w) > 0))
    total_word_chars = F.aggregate(
        F.filter(words, lambda w: F.length(w) > 0),
        F.lit(0),
        lambda acc, w: acc + F.length(w),
    )
    mean_word_len = total_word_chars / F.greatest(n_words, F.lit(1))
    # symbols = non-alphanumeric, non-whitespace chars; null text == empty
    txt = F.coalesce(F.col("text"), F.lit(""))
    symbol_ratio = (
        F.length(F.regexp_replace(txt, r"[A-Za-z0-9\s]", ""))
        / F.greatest(F.length(txt), F.lit(1))
    )
    has_stopword = F.size(F.filter(words, lambda w: w.isin(*stopwords))) > 0
    return [
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        ((n_words >= min_words) & (n_words <= max_words)).alias("ok_word_count"),
        (
            (mean_word_len >= min_mean_word_len)
            & (mean_word_len <= max_mean_word_len)
        ).alias("ok_word_len"),
        (symbol_ratio <= max_symbol_ratio).alias("ok_symbols"),
        has_stopword.alias("ok_stopword"),
    ]


def audit_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    stopwords: tuple = STOPWORDS_EN,
    include_lang: bool = False,
) -> DataFrame:
    """Every PER-ROW narrow filter signal in ONE projection over the corpus
    (round 6, VERDICT r5 item 5): the Gopher rule booleans, their ``ok_rules``
    conjunction, and — only when ``include_lang`` — the langid prediction.
    No joins, no aggregation: a rules-only filter run is genuinely a single
    corpus scan with ZERO exchanges (plan-gated by
    test_audit_signals_rules_only_has_no_exchange).  ``pred_lang`` is null
    when langid is not requested (schema stays stable; the five per-language
    marker scans are real per-row CPU, paid only when a language filter or
    audit asks for them).  The aggregating signals (unigram LM, repetition)
    need corpus passes of their own and stay separate doc_id joins in the
    CLI, paid only when enabled."""
    if include_lang:
        best = _langid_best()
        lang = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    else:
        lang = F.lit(None).cast("string")
    out = docs.select(
        F.col(id_col), *_rule_cols(stopwords=stopwords), lang.alias("pred_lang")
    )
    return out.withColumn(
        "ok_rules",
        F.col("ok_word_count")
        & F.col("ok_word_len")
        & F.col("ok_symbols")
        & F.col("ok_stopword"),
    )


def repetition_scores(
    docs: DataFrame,
    max_dup_line_frac: float = 0.3,
    max_dup_2gram_char_frac: float = 0.2,
) -> DataFrame:
    """WITHIN-document repetition signals (round 5) — the Gopher-style
    repetition filters (Rae et al. 2021, public) that complement the
    cross-document dedup operators: a crawl page that repeats its own
    boilerplate hundreds of times passes every corpus-level dedup yet is
    low-value training data.

    Per document:
      n_lines                 non-empty lines
      dup_line_frac           lines beyond the first occurrence / lines
      dup_2gram_char_frac     char mass (len(gram) x count) of word 2-grams
                              occurring >= 2 times / total 2-gram char mass
      top_2gram_char_frac     char mass of the single heaviest 2-gram /
                              total 2-gram char mass
      rep_ok                  both fractions under their thresholds

    Plan shape: two explode+agg lanes (lines; strict word 2-grams), both
    map-side combined and keyed on (doc, line|gram) then doc — the same
    shuffle profile as shingling, no Python anywhere.  Documents with no
    lines/grams score 0.0 (repetition filters only ever DROP on positive
    evidence; emptiness is the word-count rule's job)."""
    lines = docs.select(
        "doc_id",
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n")).alias("line"),
    ).filter(F.length(F.trim("line")) > 0)
    line_stats = lines.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count_distinct("line").alias("n_distinct_lines"),
    )
    words = _words()
    grams_arr = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams_arr).alias("gram")).filter(
        F.length("gram") > 0
    )
    per_gram = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    mass = F.length("gram") * F.col("c")
    gram_stats = per_gram.groupBy("doc_id").agg(
        F.sum(mass).alias("gram_chars"),
        F.sum(F.when(F.col("c") >= 2, mass).otherwise(F.lit(0))).alias("dup_gram_chars"),
        F.max(mass).alias("top_gram_chars"),
    )
    dup_line_frac = F.round(
        (F.col("n_lines") - F.col("n_distinct_lines"))
        / F.greatest(F.col("n_lines"), F.lit(1)),
        6,
    )
    dup_2g = F.round(F.col("dup_gram_chars") / F.greatest(F.col("gram_chars"), F.lit(1)), 6)
    top_2g = F.round(F.col("top_gram_chars") / F.greatest(F.col("gram_chars"), F.lit(1)), 6)
    return (
        docs.select("doc_id")
        .join(line_stats, "doc_id", "left")
        .join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce(dup_line_frac, F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce(dup_2g, F.lit(0.0)).alias("dup_2gram_char_frac"),
            F.coalesce(top_2g, F.lit(0.0)).alias("top_2gram_char_frac"),
        )
        .withColumn(
            "rep_ok",
            (F.col("dup_line_frac") <= max_dup_line_frac)
            & (F.col("dup_2gram_char_frac") <= max_dup_2gram_char_frac),
        )
    )


def _norm_words(text_col: str) -> F.Column:
    """Lowercased whitespace token array — the normalization the
    decontamination literature uses so near-identical whitespace/casing
    variants of a benchmark sentence still collide."""
    return F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")


def _ngrams_of(words: F.Column, n: int) -> F.Column:
    """Word n-grams of a token array — empty array (not a descending
    sequence) when the doc has fewer than n words.  Pure narrow codegen."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_ngrams(text_col: str, n: int) -> F.Column:
    return _ngrams_of(_norm_words(text_col), n)


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least one word n-gram with the evaluation set (the GPT-3/PaLM-style
    n-gram-overlap test; n=8..13 in the published pipelines, parameterized
    here).  Scale shape: the eval set is benchmark-sized (MBs), so its
    distinct gram hashes BROADCAST; the corpus side is a narrow explode
    probed against that broadcast — no corpus shuffle at all except the
    groupBy over the (rare) matched rows.  Gram keys travel as 8-byte
    xxhash64 longs, never the gram strings.

    Returns (doc_id, eval_gram_hits, is_contaminated) for every input doc.
    """
    ev = (
        eval_docs.select(F.explode(_word_ngrams(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams(text_col, n)).alias("g")
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    hits = (
        grams.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("hits", F.lit(0)).alias("eval_gram_hits"),
        (F.coalesce("hits", F.lit(0)) > 0).alias("is_contaminated"),
    )


def merge_word_spans(matched: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Merge overlapping 1-based word spans (id, s, e) per document into
    islands and collect them: returns one row per AFFECTED doc as
    (id, spans array<struct<s,e>>, n_stripped total covered width).

    Gaps-and-islands: a span opens a new island iff it starts past the
    running max end of everything before it (strict overlap merge;
    adjacent-but-disjoint spans stay separate — kept words identical).
    Shuffles only the MATCHED spans, never the corpus; collect_list is
    bounded by words/doc.  Shared by decontaminate_strip (eval-set spans)
    and dedup.substring_dedup (corpus-duplicate spans)."""
    w_ord = Window.partitionBy(id_col).orderBy("s")
    prev_end = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        matched.withColumn(
            "ni", F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0)
        )
        .withColumn("isl", F.sum("ni").over(w_ord))
        .groupBy(id_col, "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    return islands.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_stripped"),
    )


def strip_word_spans(
    words: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_spans: bool = False,
) -> DataFrame:
    """Rebuild text from the word positions no merged span covers.  `words`
    is (id, w token array); `spans` is merge_word_spans' output.  The
    rebuild is a pure higher-order-function projection (filter-with-index +
    exists).  Pass broadcast_spans=True only when the span side is bounded
    by something corpus-independent (a benchmark eval set); corpus-driven
    spans (substring dedup of boilerplate-heavy corpora) can cover most
    docs, so that path leaves the join strategy to AQE.

    Returns every input doc as (id, text, n_stripped) where `text` is the
    NORMALIZED rendition (lower/trim/single-space — the same normalization
    the span positions were computed over, so the output is reproducible
    from the match semantics)."""
    in_span = lambda i: F.exists(  # noqa: E731 — 1-based word position i
        F.col("spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
    )
    sp = F.broadcast(spans) if broadcast_spans else spans
    return words.join(sp, id_col, "left").select(
        id_col,
        F.when(F.col("spans").isNull(), F.array_join(F.col("w"), " "))
        .otherwise(
            F.array_join(
                F.filter(F.col("w"), lambda wd, p: ~in_span(p + F.lit(1))), " "
            )
        )
        .alias(text_col),
        F.coalesce(F.col("n_stripped"), F.lit(0)).cast("long").alias("n_stripped"),
    )


def decontaminate_strip(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination: instead of dropping a contaminated doc
    (see `decontaminate`), remove ONLY the word spans covered by an
    eval-set n-gram match and keep the clean remainder — the strategy the
    published pipelines actually apply at scale, where dropping a whole
    web page for one quoted benchmark sentence wastes good tokens.

    Pipeline shape (all corpus-side work is narrow or broadcast):
      1. eval grams -> distinct xxhash64 longs, BROADCAST (benchmark-sized);
      2. corpus grams exploded WITH their start position, probed against the
         broadcast — only matched (doc_id, start) rows survive;
      3. matched spans [s, s+n-1] merged per doc via gaps-and-islands
         (window ordered by s, running max end, island = running count of
         gap starts) — this shuffles MATCHED spans only, which are
         benchmark-sized, never the corpus;
      4. merged spans collect per doc (collect_list is bounded by
         words/doc / 1, in practice a handful) and join back to the corpus
         on doc_id — the span side is small, so AQE broadcasts it and the
         corpus never shuffles;
      5. text is rebuilt from the word positions no span covers — a pure
         higher-order-function projection (filter-with-index + exists).

    Returns every input doc as (doc_id, text, n_stripped) where `text` is
    the NORMALIZED rendition (lower/trim/single-space — the same
    normalization the match itself uses, so the output is reproducible
    from the match semantics) and n_stripped counts removed words.
    """
    ev = (
        eval_docs.select(F.explode(_word_ngrams(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    words = docs.select("doc_id", _norm_words(text_col).alias("w"))
    # posexplode's 0-based array index p => the gram starts at 1-based
    # word position p+1 and covers [s, s + n - 1]
    grams = words.select(
        "doc_id", F.posexplode(_ngrams_of(F.col("w"), n)).alias("p", "g")
    ).select("doc_id", (F.col("p") + 1).alias("s"), F.xxhash64("g").alias("gh"))
    matched = grams.join(F.broadcast(ev), "gh").select(
        "doc_id", "s", (F.col("s") + F.lit(n - 1)).alias("e")
    )
    spans = merge_word_spans(matched)
    # spans hold one row per CONTAMINATED doc — bounded by the eval set's
    # reach, i.e. benchmark-sized, so the join back is an explicit
    # broadcast: the corpus (and its word arrays) never shuffles
    return strip_word_spans(words, spans, text_col=text_col, broadcast_spans=True)


# (name, RE2-and-Java-compatible pattern, replacement) — no lookaround or
# backreferences so the exact same pattern runs in Spark (java.util.regex)
# and the DuckDB oracle (RE2).  Order matters: emails first (their local
# part may contain digit runs), then IPs, then phones.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
)


def pii_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII match counts (email / IPv4 / simple international
    phone).  Pure whole-stage codegen — one narrow projection, no shuffle,
    no Python.  The phone pattern is deliberately conservative (explicit
    +CC and separators): a training-data scrub prefers precision; widen the
    tuple in PII_PATTERNS for a recall-oriented pass."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    cols = [
        F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return docs.select("doc_id", *cols).withColumn(
        "has_pii",
        sum(F.col(f"n_{name}") for name, _, _ in PII_PATTERNS) > 0,
    )


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII in place: each PII_PATTERNS class replaced by its typed
    placeholder, applied in declaration order (emails before IPs so an IP
    inside an already-redacted email can't double-fire).  Keeps every other
    column; adds n_pii (total replacements) — still one narrow codegen
    projection."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_pii = sum(
        F.size(F.regexp_extract_all(t, F.lit(pat), 0)) for _, pat, _ in PII_PATTERNS
    )
    red = t
    for _, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return docs.withColumn("n_pii", n_pii).withColumn(text_col, red)


def fingerprints(docs: DataFrame, n: int = 4, k: int = 5) -> DataFrame:
    """Rolling-hash document fingerprint: the k smallest xxhash64 values over
    word n-grams (a k-min sketch — stable under small edits)."""
    words = _words()
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    hashes = F.array_sort(F.transform(grams, lambda g: F.xxhash64(g)))
    return docs.select(
        "doc_id",
        F.slice(hashes, 1, k).alias("kmin_sketch"),
        F.xxhash64(F.concat_ws(",", F.transform(F.slice(hashes, 1, k), lambda h: h.cast("string")))).alias(
            "fingerprint"
        ),
    )


def _md5_bucket(col: F.Column, buckets: int) -> F.Column:
    """First 8 hex digits of md5 mod ``buckets`` — the same engine-portable
    bucket arithmetic hash_split uses (ANSI-SQL-replayable, so operators
    built on it stay value-oracle-checkable)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % buckets
    )


def importance_weights(
    docs: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 4099,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): each document gets the
    log importance ratio of a hashed word-n-gram feature model fit on a
    TARGET corpus (the domain you want more of) against one fit on the
    source corpus itself.  Rank/resample by this score to tilt a 100 TB
    web crawl toward a quality domain without training a classifier.

    Scale shape: grams hash into ``buckets`` Laplace-smoothed counts, so
    both feature models are <= ``buckets`` rows — each is one map-side-
    combined aggregation, the per-bucket log-ratio table BROADCASTS, and
    the corpus side is a narrow explode -> broadcast probe -> one
    doc-keyed sum.  Nothing corpus-sized shuffles except the final
    (doc_id, partial-sum) aggregation.  The two distribution totals are
    scalars (dict-sized driver state).  Bucket arithmetic is md5-based
    (``_md5_bucket``), so DuckDB replays the whole computation — the
    registry entry `dsir_weights` is a full value oracle.

    Returns every input doc: (doc_id, n_grams, dsir_logratio); docs with
    fewer than ``n`` words score 0 on 0 grams (no evidence, no tilt).
    """
    def gram_buckets(df: DataFrame, with_id: bool) -> DataFrame:
        g = F.explode(_word_ngrams(text_col, n)).alias("g")
        cols = [F.col(id_col), g] if with_id else [g]
        return df.select(*cols).select(
            *([id_col] if with_id else []), _md5_bucket(F.col("g"), buckets).alias("b")
        )

    src = gram_buckets(docs, True)
    # both feature models are <= `buckets` rows — dict-sized by design — so
    # they COLLECT and the finished log-ratio table ships back as one small
    # broadcast relation.  Deriving the totals from the collected rows
    # (instead of two scalar `.head()` actions over separate plans) keeps
    # the whole operator at exactly two corpus-gram passes: one for the
    # source distribution, one for the scoring probe.
    tgt_counts = dict(
        gram_buckets(target, False).groupBy("b").agg(F.count("*").alias("ct")).collect()
    )
    src_counts = dict(src.groupBy("b").agg(F.count("*").alias("cs")).collect())
    n_t = sum(tgt_counts.values())
    n_s = sum(src_counts.values())
    import math as _math

    spark = docs.sparkSession
    ratio = local_frame(
        spark,
        [
            (
                b,
                _math.log((tgt_counts.get(b, 0) + alpha) / (n_t + alpha * buckets))
                - _math.log((cs + alpha) / (n_s + alpha * buckets)),
            )
            for b, cs in src_counts.items()
        ],
        "b long, lr double",
    )
    scores = (
        src.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_grams"), F.sum("lr").alias("lrsum"))
    )
    return docs.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("lrsum", F.lit(0.0)).alias("dsir_logratio"),
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    lam: float = 0.7,
    head_size: int = 10_000,
) -> DataFrame:
    """Per-document average INTERPOLATED bigram log-probability under the
    corpus's own LM: p(w2|w1) = lam * c(w1,w2)/c(w1) + (1-lam) * c(w2)/T —
    the next quality rung above `unigram_logprob` (word-salad junk has
    plausible unigrams but implausible transitions; boilerplate has
    suspiciously high ones).  Jelinek-Mercer interpolation keeps every
    bigram scorable (the unigram back-off term is never zero for observed
    words).

    Scale shape, three relations, none corpus-shaped in the shuffle:
      1. unigram + bigram count tables (map-side-combined hash aggs —
         vocab- / bigram-table-sized shuffles);
      2. the per-bigram log-prob folds INTO the bigram table first
         (table-keyed joins against the unigram counts — each DISTINCT
         bigram once, so no corpus-mass skew; corpus total broadcasts as
         one row);
      3. the corpus bigram stream joins that finished table with the same
         Zipf-head defuse as unigram_logprob: the ``head_size`` hottest
         bigrams broadcast (dict-sized), the residual tail join is
         skew-free because every hot key is in the head.
    Docs with fewer than 2 words have no bigrams and no output row (same
    contract as unigram_logprob's words).  Rounded to 5 decimals so
    double-summation order cannot flip the oracle hash (registry
    `text_bigram_lm`)."""
    w = docs.select(F.col(id_col), _words().alias("w"))
    pairs = w.select(
        id_col,
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 1),
                    lambda i: F.struct(
                        F.element_at("w", i).alias("w1"),
                        F.element_at("w", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p"),
    ).select(id_col, "p.w1", "p.w2").filter(
        (F.length("w1") > 0) & (F.length("w2") > 0)
    )
    uni = (
        docs.select(F.explode(_words()).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("t"))
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    table = (
        big.join(uni.select(F.col("word").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.log(
                F.lit(lam) * F.col("c12") / F.col("c1")
                + F.lit(1.0 - lam) * F.col("c2") / F.col("t")
            ).alias("lp"),
            "c12",
        )
    )
    head = F.broadcast(table.orderBy(F.desc("c12"), "w1", "w2").limit(head_size))
    p_head = pairs.join(head, ["w1", "w2"])
    p_tail = pairs.join(
        F.broadcast(head.select("w1", "w2")), ["w1", "w2"], "left_anti"
    ).join(table, ["w1", "w2"])
    return (
        p_head.unionByName(p_tail)
        .groupBy(id_col)
        .agg(
            F.round(F.avg("lp"), 5).alias("avg_bigram_logprob"),
            F.count("*").alias("n_bigrams"),
        )
    )


def vocab_stats(docs: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary head: the k most frequent normalized words with
    term frequency and document frequency — the sanity dashboard every
    tokenizer-training and quality-filter run reads first (a vocab head
    full of markup or one domain's boilerplate is the earliest corpus-bug
    signal).  Deterministic: ties break on the token string.

    Scale shape: narrow explode -> ONE aggregation keyed on the token
    (term counts partial-aggregate map-side; doc frequency is a distinct
    (token, doc) count that expands but also partial-aggregates), then a
    TakeOrdered top-k — no global sort."""
    toks = docs.select(
        F.col("doc_id"), F.explode(_norm_words(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(k)
    )


def length_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact corpus length distribution: word-count percentiles
    (p25/p50/p75/p95/p99, linear interpolation), mean and max — the
    length profile that calibrates chunking budgets, packing bin sizes
    and the Gopher length rules.  One narrow projection plus one global
    aggregate; percentile is Spark's exact implementation (a single-pass
    sort-based aggregate), acceptable because the aggregate input is one
    long per document, not the text."""
    wc = docs.select(
        F.size(F.filter(_norm_words(text_col), lambda w: w != F.lit(""))).alias("n")
    )
    pct = F.percentile("n", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95, 0.99)]))
    return wc.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n"), 4).alias("mean_words"),
        F.max("n").cast("long").alias("max_words"),
        pct.alias("_p"),
    ).select(
        "n_docs",
        "mean_words",
        "max_words",
        F.round(F.col("_p")[0], 4).alias("p25"),
        F.round(F.col("_p")[1], 4).alias("p50"),
        F.round(F.col("_p")[2], 4).alias("p75"),
        F.round(F.col("_p")[3], 4).alias("p95"),
        F.round(F.col("_p")[4], 4).alias("p99"),
    )


def postings(
    docs: DataFrame,
    k: int = 10,
    n_salt: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Inverted-index posting heads: for every normalized word, its document
    frequency and the k SMALLEST doc_ids containing it — the index-build
    primitive (retrieval, deduplication lookups, corpus search) expressed
    as pure aggregation.

    Scale shape — the hot-token problem is the whole design: a naive
    ``collect_list`` per token buffers EVERY occurrence of 'the' in one
    aggregation buffer (collect_list merges partials by concatenation, so
    partial aggregation does not bound it).  Instead the min-k is computed
    in two capped levels, the same salting discipline as the hot-predicate
    aggregation in operators/triples.py:

      1. (tok, doc) pairs dedupe once (composite-key shuffle — a hot token
         still spreads across reducers because doc_id is in the key);
      2. level 1 groups by (tok, salt=hash(doc) % n_salt) and keeps only
         the k smallest doc_ids per bucket — buffers are bounded by bucket
         multiplicity and the OUTPUT is <= k longs per bucket;
      3. level 2 merges the <= n_salt partial heads per token and re-caps:
         min-k of bucket-wise min-k equals the global min-k, and the level-2
         buffer is bounded by n_salt * k longs regardless of token heat.

    Returns (tok, df, top_docs array<long> ascending).
    """
    toks = (
        docs.select(F.col("doc_id"), F.explode(_norm_words(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    salted = toks.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)))
    part = salted.groupBy("tok", "salt").agg(
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, k).alias("d"),
        F.count("*").alias("c"),
    )
    return part.groupBy("tok").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("d"))), 1, k).alias("top_docs"),
        F.sum("c").alias("df"),
    ).select("tok", "df", "top_docs")


def keywords_tfidf(
    docs: DataFrame,
    top: int = 3,
    text_col: str = "text",
    head_size: int = 10_000,
) -> DataFrame:
    """Per-document keyword extraction by smoothed TF-IDF: the classic
    corpus-relative salience score —

        tfidf(t, d) = tf * ln((N + 1) / (df + 1))

    with tf the in-document term count.  Ships as (doc_id, keywords CSV,
    top score) so downstream joins carry three narrow columns, not maps.
    Deterministic: ties break on (score desc, token asc).

    Scale shape:
      * document frequency is one map-side-combining aggregation over
        distinct (token, doc) pairs — vocabulary-sized output;
      * N joins in as a broadcast 1-row aggregate (crossJoin), never a
        global window;
      * the tf relation joins df on the token — a Zipf-hot key, and at web
        scale the full vocabulary is NOT broadcastable, so the join splits
        on the df HEAD (top ``head_size`` tokens by df — dict-sized by
        construction, broadcast; every hot key lives there) and the
        residual tail join is skew-free — the same explicit-defuse
        discipline as unigram_logprob above;
      * per-document top-k is a window partitioned by doc_id — bounded by
        words/doc, no cross-document skew.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(_norm_words(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_t = toks.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count("*").alias("df")
    )
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    head = F.broadcast(df_t.orderBy(F.desc("df"), "tok").limit(head_size))
    tf_head = tf.join(head, "tok")
    tf_tail = tf.join(F.broadcast(head.select("tok")), "tok", "left_anti").join(
        df_t, "tok"
    )
    scored = (
        tf_head.unionByName(tf_tail)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log((F.col("n") + 1) / (F.col("df") + 1))).alias("s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("tok"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= top
    )
    # collect under (rn, tok) and sort: collect_list order is not a contract
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "tok"))),
                lambda x: x["tok"],
            ),
            ",",
        ).alias("keywords"),
        F.round(F.max("s"), 5).alias("top_score"),
    )
