"""Text-analysis operators for training-data pipelines (BASELINE.json
north star): language ID, quality scoring, token counting, document
fingerprinting. All pure column expressions — JVM-side, codegen'd, no
Python in the hot path; at 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import normalize_text, tokens

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Real pipelines plug a model here; the operator contract (deterministic
# per-language score → argmax) is what the engine certifies.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "de", "que", "por"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"),
}


def word_count(text: Column) -> Column:
    """Whitespace tokenization count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish upper-bound token estimate: runs of letters, runs of
    digits, and single non-space symbols each count as one token
    (regexp-extract-all, JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


_CJK_CLASS = r"[぀-ヿ㐀-䶿一-鿿豈-﫿]"


def cjk_aware_token_count(text: Column) -> Column:
    """Token count for mixed-script corpora: CJK scripts do not use
    whitespace, so a whitespace tokenizer counts a 40-character Chinese
    sentence as ONE token and every length/budget/packing stat built on
    it is wrong for that slice of the corpus. Standard fix (the
    tokenizer-independent approximation used in corpus accounting):
    count each Han/Kana character as one token and whitespace-tokenize
    the rest —

        tokens = #CJK_chars + #whitespace_tokens(text_without_CJK).

    Two JVM regex passes (one char-class deletion, one split), no
    Python, scan-speed at any scale."""
    n_cjk = F.char_length(text) - F.char_length(
        F.regexp_replace(text, _CJK_CLASS, F.lit(""))
    )
    rest = F.regexp_replace(text, _CJK_CLASS, F.lit(" "))
    # a pure-CJK (or empty) remainder splits to [""] — drop empties
    n_rest = F.size(F.filter(tokens(rest), lambda t: t != F.lit("")))
    return (n_cjk + n_rest).cast("long")


def char_count(text: Column) -> Column:
    return F.char_length(text)


def _count_matches(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def _count_char_class(text: Column, pattern: str) -> Column:
    """Count chars of a single-char regex class as a length difference —
    one regex pass, no per-match array materialization (counts == matches
    only because the class matches exactly one char)."""
    return F.char_length(text) - F.char_length(F.regexp_replace(text, pattern, F.lit("")))


def _count_chars_in(text: Column, chars: str) -> Column:
    """Count occurrences of an explicit char set via translate-deletion —
    a pure char-table pass, no regex engine at all."""
    return F.char_length(text) - F.char_length(F.translate(text, chars, ""))


def punct_ratio(text: Column) -> Column:
    return F.round(_count_char_class(text, r"[^\w\s]") / F.greatest(F.char_length(text), F.lit(1)), 6)


def digit_ratio(text: Column) -> Column:
    return F.round(_count_chars_in(text, "0123456789") / F.greatest(F.char_length(text), F.lit(1)), 6)


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Count of tokens that are stopwords of `lang`."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return F.round(stopword_hits(text, lang) / F.greatest(word_count(text), F.lit(1)), 6)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punct/digit
    noise + stopword presence. Deterministic, monotone in each signal."""
    n_words = word_count(text)
    len_ok = F.when((n_words >= 5) & (n_words <= 100000), 1.0).otherwise(0.3)
    noise = punct_ratio(text) + digit_ratio(text)
    noise_ok = F.when(noise < 0.2, 1.0).otherwise(F.greatest(F.lit(0.0), 1.0 - noise))
    sw_ok = F.least(stopword_ratio(text, "en") * 5, F.lit(1.0))
    return F.round((len_ok * 0.4 + noise_ok * 0.4 + sw_ok * 0.2), 6)


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, lang) for lang in STOPWORDS}


def predict_lang(text: Column) -> Column:
    """Argmax of per-language stopword hits; ties broken by language-code
    order; 'und' (undetermined) when no stopword hits at all."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        out = F.when(scores[lang] == best, lang).otherwise(out)
    return F.when(best == 0, "und").otherwise(out)


# PII patterns — written in the regex subset common to Java (Spark) and
# RE2 (DuckDB oracle): no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
# scrub order matters: emails contain dot-runs an aggressive ipv4 pattern
# could clip, so emails are replaced first
_PII_ORDER = ("email", "phone", "ipv4")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (email / phone / IPv4) — scan-speed
    column expressions; the detection half of a training-data PII pass."""
    return {kind: _count_matches(text, pat) for kind, pat in PII_PATTERNS.items()}


def pii_scrub(text: Column) -> Column:
    """Redact PII in place: each match replaced with a <KIND> tag. Chained
    JVM-side regexp_replace (Spark replaces all occurrences); at 100 TB
    this is a pure map over the scan — no shuffle, no Python."""
    out = text
    for kind in _PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def clean_text(text: Column, lowercase: bool = True) -> Column:
    """Web-corpus text cleaning (the C4 preprocessing family — Raffel et
    al., "Exploring the Limits of Transfer Learning with a Unified
    Text-to-Text Transformer", JMLR 2020, §2.2): strip control and
    zero-width characters (C0 controls minus \\t\\n\\r, DEL, ZWSP/ZWNJ/
    ZWJ/BOM), collapse whitespace runs to single spaces, trim, and
    optionally casefold. Pure column expressions — at 100 TB this runs
    at scan speed inside whole-stage codegen, no Python."""
    c = F.regexp_replace(
        text,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\u200B\\u200C\\u200D\\uFEFF]",
        "",
    )
    c = F.trim(F.regexp_replace(c, "\\s+", " "))
    return F.lower(c) if lowercase else c


def line_dedup(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    min_count: int = 2,
):
    """CCNet-style corpus-level line deduplication (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data", LREC 2020, §3: per-shard line-hash dedup removes boilerplate
    — headers, nav bars, cookie banners — that exact doc-dedup misses).
    Drops every line whose content occurs >= min_count times ACROSS THE
    CORPUS, then reassembles each document preserving line order.

    Scale shape: posexplode is shuffle-free; line counting shuffles the
    64-bit xxhash of each line (fixed-width keys, never the line text —
    same hashes-not-strings discipline as dedup.py) with map-side
    combine; the count join keys on the same hash; reassembly is one
    groupBy on the document id. Everything is O(lines) with bounded-size
    shuffle rows; no driver-side state.

    Returns (id_col, n_lines_total, n_lines_kept, text_deduped) — one
    row per input document; a document whose every line was boilerplate
    keeps a row with n_lines_kept = 0 and empty text_deduped.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim)).alias("_ln", "_line"),
    ).withColumn("_h", F.xxhash64("_line"))
    counts = lines.groupBy("_h").agg(F.count("*").alias("_n"))
    kept = (
        lines.join(counts, "_h")
        .filter(F.col("_n") < min_count)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_ln", "_line"))),
                    lambda s: s.getField("_line"),
                ),
                delim,
            ).alias("text_deduped"),
        )
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines_total"))
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            "n_lines_total",
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit document fingerprint: md5 of the normalized
    text (lowercase, collapsed whitespace). Exact-dedup key."""
    return F.md5(normalize_text(text))


def char_trigrams(text: Column) -> Column:
    """Distinct character 3-grams of the normalized text (array<string>).

    The overlapping windows come from ONE native-regex pass
    (`(?=(.{3}))` — a zero-width lookahead whose capture is the 3-char
    window at every position) instead of a `transform(sequence(...),
    i -> substring(n, i, 3))`: higher-order functions are CodegenFallback
    (interpreted per element), and this expression runs once per
    CHARACTER of the corpus — measured at sf0.1: 14.6 s → 0.5 s for
    the trigram pass, byte-identical arrays on the whole corpus and on
    the <3-char edge cases (the `when` branch reproduces the old
    sequence(1,1)→substring(n,1,3) behavior: one possibly-short gram,
    [''] for empty, [NULL] for NULL). Safe because normalize_text
    collapses all whitespace to single spaces, so `.` (no-DOTALL) never
    meets a line terminator."""
    n = normalize_text(text)
    grams = F.when(
        F.length(n) >= 3, F.regexp_extract_all(n, F.lit(r"(?=(.{3}))"), 1)
    ).otherwise(F.array(F.substring(n, 1, 3)))
    return F.array_distinct(grams)


def lang_trigram_profiles(docs: DataFrame, lang_col: str, text_col: str, top_n: int = 200) -> DataFrame:
    """Cavnar-Trenkle rank profiles: per language, the ``top_n`` char
    trigrams by document frequency, weighted ``top_n + 1 - rank`` (ties
    broken lexicographically → fully deterministic). Distributed build:
    one explode + (lang, trigram) shuffle; the result is tiny
    (langs × top_n rows) — broadcast it at scoring time."""
    from pyspark.sql import Window as W

    tri = docs.select(
        F.col(lang_col).alias("plang"), F.explode(char_trigrams(F.col(text_col))).alias("tri")
    )
    counts = tri.groupBy("plang", "tri").agg(F.count("*").alias("c"))
    w = W.partitionBy("plang").orderBy(F.col("c").desc(), F.col("tri"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("plang", "tri", (F.lit(top_n + 1) - F.col("rk")).cast("long").alias("w"))
    )


def langid_trigram(
    docs: DataFrame, id_col: str, lang_col: str, text_col: str, top_n: int = 200
) -> DataFrame:
    """Char-n-gram language ID: score = sum of profile weights over the
    document's distinct trigrams; argmax with alphabetical tie-break;
    'und' when no profile trigram hits. Scoring is one explode + a
    broadcast join against the profiles + per-doc argmax — no shuffle of
    the corpus beyond the doc-id aggregation."""
    from pyspark.sql import Window as W

    prof = lang_trigram_profiles(docs, lang_col, text_col, top_n)
    tri = docs.select(
        F.col(id_col).alias("_id"), F.explode(char_trigrams(F.col(text_col))).alias("tri")
    )
    scores = (
        tri.join(F.broadcast(prof), "tri")
        .groupBy("_id", "plang")
        .agg(F.sum("w").alias("score"))
    )
    w = W.partitionBy("_id").orderBy(F.col("score").desc(), F.col("plang"))
    best = scores.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        docs.select(F.col(id_col).alias("_id"), F.col(lang_col).alias("lang"))
        .join(best, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "lang",
            F.coalesce(F.col("plang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("best_score"),
        )
    )


# Gopher-style document filter (Rae et al. 2021 §A1.1): the canonical
# heuristic gate a pretraining corpus passes before dedup. Repetition
# gates live in pipeline.repetition_metrics.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_report(df, id_col: str, text_col: str):
    """Per-document Gopher quality signals and pass/fail flags:

    - f_word_count:  50 <= word count <= 100000
    - f_mean_len:    3 <= mean word length <= 10
    - f_alpha:       >= 80% of words contain an alphabetic character
    - f_symbol:      symbol-to-word ratio ('#' or '...') <= 0.1
    - f_stopwords:   >= 2 distinct required stopwords present
    - f_bullet:      <= 90% of lines start with a bullet marker
    - f_ellipsis:    <= 30% of lines end with an ellipsis
    - keep:          all of the above

    Pure column expressions over ONE materialized token array (Catalyst
    does not CSE a repeated split across expressions, so the array is
    written through a select first) — scan-speed, zero shuffle at any
    scale. Ratios are rounded to 6dp so the flag thresholds compare
    identically in Spark and the DuckDB oracle."""
    base = df.select(
        F.col(id_col).alias(id_col),
        F.col(text_col).alias("_txt"),
        tokens(F.col(text_col)).alias("_t"),
    )
    t = F.col("_t")
    n = F.size(t)
    nz = F.greatest(n, F.lit(1))
    mean_len = F.round(
        F.aggregate(t, F.lit(0), lambda acc, x: acc + F.char_length(x)) / nz, 6
    )
    alpha_frac = F.round(
        F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))) / nz, 6
    )
    sym_ratio = F.round(
        F.size(F.regexp_extract_all(F.col("_txt"), F.lit(r"#|\.\.\."), 0)) / nz, 6
    )
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
    sw_hits = F.size(F.filter(F.array_distinct(t), lambda x: F.array_contains(req, x)))
    lines = F.split(F.col("_txt"), "\n")
    nl = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))) / nl, 6
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))) / nl, 6
    )
    out = base.select(
        id_col,
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        sym_ratio.alias("symbol_word_ratio"),
        sw_hits.cast("long").alias("req_stopword_hits"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
    )
    f_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    f_ml = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    f_al = F.col("alpha_word_frac") >= 0.8
    f_sy = F.col("symbol_word_ratio") <= 0.1
    f_sw = F.col("req_stopword_hits") >= 2
    f_bu = F.col("bullet_line_frac") <= 0.9
    f_el = F.col("ellipsis_line_frac") <= 0.3
    return out.select(
        "*",
        f_wc.alias("f_word_count"),
        f_ml.alias("f_mean_len"),
        f_al.alias("f_alpha"),
        f_sy.alias("f_symbol"),
        f_sw.alias("f_stopwords"),
        f_bu.alias("f_bullet"),
        f_el.alias("f_ellipsis"),
        (f_wc & f_ml & f_al & f_sy & f_sw & f_bu & f_el).alias("keep"),
    )


def bigram_cross_entropy(df, id_col: str, text_col: str):
    """Per-document cross-entropy under the corpus's own bigram LM — the
    perplexity-style quality filter (CCNet/KenLM role): documents whose
    token transitions are improbable under the corpus statistics score
    high and get flagged.

    H(doc) = mean over bigrams of −log2 P(w2|w1), with
    P(w2|w1) = c(w1,w2)/c(w1) counted over the corpus (denominator =
    tokens that HAVE a successor, so probabilities sum to 1 per w1).
    Trained and scored on the same corpus, every observed bigram has
    P > 0 — no smoothing term to drift between engines.

    Scale shape: bigram pairs come from the token ARRAY (adjacent
    elements — no per-doc window shuffle); the two count tables are
    map-side-combined groupBys; scoring joins on the (w1, w2) /
    w1 keys — corpus-scale keyed shuffles, never a broadcast of an
    unbounded vocabulary. Output: (id, n_bigrams, cross_entropy, ppl).
    """
    from pyspark.sql import DataFrame  # noqa: F401

    t = tokens(F.col(text_col))
    pairs = (
        df.select(F.col(id_col).alias("_id"), t.alias("_t"))
        .where(F.size("_t") >= 2)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.get("_t", i - 1).alias("w1"), F.get("_t", i).alias("w2")
                    ),
                )
            ).alias("_b"),
        )
        .select("_id", F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("_c12"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("_c1"))
    scored = (
        pairs.join(c12, ["w1", "w2"]).join(c1, "w1")
        .select("_id", (-F.log2(F.col("_c12") / F.col("_c1"))).alias("_nll"))
    )
    per_doc = scored.groupBy("_id").agg(
        F.count("*").alias("n_bigrams"), F.avg("_nll").alias("_ce")
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.round("_ce", 6).alias("cross_entropy"),
        F.round(F.pow(F.lit(2.0), F.col("_ce")), 4).alias("ppl"),
    )


def dsir_logweights(
    df,
    id_col: str,
    text_col: str,
    is_target: Column,
    vocab_size: int = 256,
    alpha: float = 1.0,
):
    """DSIR importance log-weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every document by how much more likely its tokens are under a
    TARGET unigram distribution than under the RAW corpus distribution,

        log w(doc) = Σ_tokens  log p̂_target(tok) − log p̂_raw(tok),

    with add-α smoothing p̂(b) = (c(b)+α)/(N+α·V) over a shared bucket
    space. Resampling then keeps documents with (Gumbel-perturbed)
    top-k weights; this operator emits the deterministic weights — the
    sampling policy (threshold, Gumbel top-k, score-proportional via
    pipeline.importance_sample) is the caller's.

    Bucket space: the paper hashes n-grams into a fixed number of
    buckets so the two distributions stay O(1)-sized at any corpus
    scale. A salted hash is engine-specific, so the certified variant
    buckets by the top-`vocab_size` raw-corpus tokens with a single
    `<oov>` catch-all — same fixed-size distributions, exactly
    reproducible in ANSI SQL. Swap `mapping` for
    `xxhash64(token) % buckets` to match the paper byte-for-byte when
    cross-engine parity is not needed.

    Scale shape: one token explode feeds a map-side-combined groupBy
    (corpus-scale shuffle #1, keyed on token); vocab selection is an
    orderBy(desc(count)).limit(vocab_size) — TakeOrderedAndProject,
    per-partition top-k heaps, NEVER a global row_number window (which
    would single-partition the 10⁸–10⁹-token distinct vocabulary of a
    web corpus) — followed by a membership join of the vocab_size-row
    winner set back onto the count table; bucket counts,
    totals, and log-ratios are ≤ vocab_size+1 rows and broadcast into
    the token→ratio lookup; scoring joins that lookup on the token key
    (shuffle #2 — an unbounded vocabulary is never broadcast) and the
    per-doc sum is shuffle #3, keyed on the doc id. No Python in any
    per-row path.

    Output: (id_col, n_tokens, log_w) — log_w rounded to 6 decimals
    (sum order across partitions is nondeterministic at ~1e-12).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        is_target.alias("_tgt"),
        F.explode(tokens(F.col(text_col))).alias("_w"),
    )
    counts = toks.groupBy("_w").agg(
        F.count("*").alias("_c_raw"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("_c_tgt"),
    )
    vocab = (
        counts.orderBy(F.desc("_c_raw"), "_w")
        .limit(vocab_size)
        .select("_w", F.lit(True).alias("_in_v"))
    )
    mapping = counts.join(F.broadcast(vocab), "_w", "left").select(
        "_w",
        F.when(F.col("_in_v"), F.col("_w"))
        .otherwise(F.lit("<oov>"))
        .alias("_b"),
        "_c_raw",
        "_c_tgt",
    )
    buckets = mapping.groupBy("_b").agg(
        F.sum("_c_raw").alias("_c_raw"), F.sum("_c_tgt").alias("_c_tgt")
    )
    totals = buckets.agg(
        F.sum("_c_raw").alias("_n_raw"),
        F.sum("_c_tgt").alias("_n_tgt"),
        F.count("*").alias("_v"),
    )
    a = F.lit(float(alpha))
    ratio = buckets.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log((F.col("_c_tgt") + a) / (F.col("_n_tgt") + a * F.col("_v")))
            - F.log((F.col("_c_raw") + a) / (F.col("_n_raw") + a * F.col("_v")))
        ).alias("_lr"),
    )
    # token→log-ratio lookup: the vocabulary-sized mapping gains the
    # bucket's ratio via a broadcast of the ≤V+1-row ratio table; the
    # corpus-scale scoring join is then keyed on the token (an unbounded
    # vocabulary is never broadcast — AQE picks the strategy).
    token_lr = mapping.select("_w", "_b").join(F.broadcast(ratio), "_b")
    scored = toks.join(token_lr, "_w")
    return scored.groupBy("_id").agg(
        F.count("*").alias("n_tokens"), F.round(F.sum("_lr"), 6).alias("log_w")
    ).select(F.col("_id").alias(id_col), "n_tokens", "log_w")


def bm25_topk(
    docs,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 top-k for a fixed query-term set, as one declarative
    plan (the batch half of a hybrid-retrieval stack; fused with the
    vector leg in queries/extensions.sim_hybrid_rrf).

    Scale shape: doc length rides THROUGH the explode so tf never joins
    back to the corpus; the post-explode filter keeps only query-term
    rows, so the (doc, term) shuffle is bounded by documents containing
    a query term — the inverted-index access pattern, not a corpus
    scan+shuffle. df/N/avgdl are tiny aggregates broadcast into the
    scoring map. Ranking uses the house determinism trick: order by the
    ROUNDED score (6 dp) with id tiebreak, so the DuckDB oracle ranks
    identically. Output: (id_col, bm25, rank), rank 1..k.
    """
    from pyspark.sql import Window as W

    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term")
    )
    tf = (
        base.filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    stats = docs.select(F.size(tokens(F.col(text_col))).alias("dl")).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    w_term = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(w_term), 6).alias("bm25"))
    )
    topk = scored.orderBy(F.col("bm25").desc(), id_col).limit(k)
    w = W.orderBy(F.col("bm25").desc(), id_col)  # k rows — single partition fine
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


def phrase_search(
    docs: DataFrame, id_col: str, text_col: str, phrase: str
) -> DataFrame:
    """Positional inverted-index phrase search: per-document count of
    exact k-token phrase occurrences (token positions, so overlapping
    occurrences count — the retrieval-grade contract, not substring
    matching).

    Shape: one posexplode builds (doc, pos, term) postings, immediately
    filtered to the QUERY's terms — the shuffle carries only the
    postings of k terms (Σ df(term) rows), never the corpus, exactly an
    inverted-index probe. The phrase constraint is k−1 equi-joins on
    (doc, pos+i): AQE broadcasts the rarer term's postings. At 100 TB
    the same plan runs against a pre-materialized (term, doc, pos)
    postings table bucketed by term (the bm25_topk index one level up);
    building it on the fly here certifies the identical join logic."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                " ",
            )
        ).alias("pos", "term"),
    ).filter(F.col("term").isin(terms))
    base = toks.filter(F.col("term") == terms[0]).select(
        id_col, F.col("pos").alias("p0")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = toks.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("p0")
        )
        base = base.join(nxt, [id_col, "p0"])
    return base.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches")
    )


def bpe_merges(
    df,
    id_col: str,
    text_col: str,
    num_merges: int = 8,
    max_word_len: int = 20,
):
    """First-k BPE merge discovery (Sennrich, Haddow & Birch, "Neural
    Machine Translation of Rare Words with Subword Units", ACL 2016 —
    the tokenizer-induction algorithm behind GPT/LLaMA-family vocabs):
    start from characters, repeatedly merge the most frequent adjacent
    symbol pair, frequency-weighted by word counts.

    Scale shape — the part that matters at 100 TB: exactly ONE
    corpus-wide shuffle builds the word-frequency table (the classic BPE
    trick — training runs on the VOCABULARY, whose size is
    corpus-independent, not on the corpus). Each merge round is then an
    explode + map-side-combined groupBy over that vocabulary-sized
    table, a 1-row driver collect of the argmax pair (bounded metadata,
    same class as the PQ codebooks), and a codegen'd regexp merge;
    lineage is cut per round with localCheckpoint so round N never
    replays rounds 1..N-1. No Python in any per-row path.

    Determinism: ties break by (freq DESC, pair ASC) — exact integer
    counts, so the merge sequence is reproducible on any engine.
    Symbols stay in [a-z] (words are lowercased letter runs), so the
    merge regexp needs no quoting and `\\b` token boundaries are exact.

    Returns (merge_rank int, pair string, freq bigint) — the ordered
    merge table a tokenizer build would persist.
    """
    spark = df.sparkSession
    words = (
        df.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " "), " "
                )
            ).alias("w")
        )
        .filter((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    state = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("s"), "c"
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, int]] = []
    for rank in range(1, num_merges + 1):
        top = (
            state.select(F.split("s", " ").alias("t"), "c")
            # guard: sequence(0, -1) DESCENDS in Spark — a 1-symbol word
            # would emit null pairs without this filter
            .filter(F.expr("size(t) >= 2"))
            .select(
                F.explode(
                    F.expr("transform(sequence(0, size(t) - 2), i -> t[i] || ' ' || t[i + 1])")
                ).alias("pair"),
                "c",
            )
            .groupBy("pair")
            .agg(F.sum("c").alias("freq"))
            .orderBy(F.col("freq").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, freq = top[0]["pair"], int(top[0]["freq"])
        merges.append((rank, pair, freq))
        state = state.select(
            F.regexp_replace(
                "s", r"\b" + pair + r"\b", pair.replace(" ", "")
            ).alias("s"),
            "c",
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "merge_rank int, pair string, freq bigint"
    )


def bpe_encode(
    df,
    id_col: str,
    text_col: str,
    merges: list[str],
    max_word_len: int = 20,
):
    """BPE encoding — apply an ordered merge table to tokenize the
    corpus (the inference-side complement of :func:`bpe_merges`; same
    greedy rank-order application as Sennrich et al. 2016 and the
    GPT-2 encoder's merge loop). THIS is the tokenizer's 100 TB hot
    path: vocab induction runs once, encoding runs on every byte of
    every corpus forever after.

    Scale shape: encoding is applied to the DISTINCT-WORD table, not
    the corpus — the chained merge expressions run O(vocab) times (a
    natural-language vocab is corpus-independent, ~1e6-1e7 words), and
    the encoded vocab flows back to the corpus through a broadcast
    hash join on the word (no shuffle of the corpus beyond the one
    distinct-word groupBy, which is map-side combined). The k merges
    compile to k chained ``regexp_replace`` column expressions inside
    one whole-stage-codegen projection over the vocab — no Python, no
    per-round pass over the data, no driver loop over rows.

    ``merges`` is an ordered list of space-separated symbol pairs
    (``["t h", "th e", ...]``) as produced by :func:`bpe_merges`.
    Symbols must match ``[a-z]+`` (the ``bpe_merges`` alphabet), so the
    merge regexps need no quoting and ``\\b`` boundaries are exact.

    Returns the corpus-level token frequency table ``(token string,
    freq bigint, n_words bigint)``: total corpus occurrences of each
    BPE token (word counts carried through the vocab, so no second
    corpus pass) and how many vocab-word token slots it fills (a word
    containing the token twice counts twice).
    Per-doc token ids, when a caller needs them, are the encoded vocab
    broadcast-joined back to the corpus words — same plan minus the
    final groupBy.
    """
    for m in merges:
        a, _, b = m.partition(" ")
        if not (a.isascii() and a.isalpha() and b.isascii() and b.isalpha()):
            raise ValueError(f"merge pair must be two [a-z]+ symbols: {m!r}")
    words = (
        df.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " "), " "
                )
            ).alias("w")
        )
        .filter((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    # Encode each distinct word once: char-split then the merge chain,
    # rank order = application order (greedy BPE).
    s = F.trim(F.regexp_replace("w", "(.)", "$1 "))
    for pair in merges:
        s = F.regexp_replace(s, r"\b" + pair + r"\b", pair.replace(" ", ""))
    vocab = words.select("w", F.split(s, " ").alias("toks"), "c")
    return (
        vocab.select(F.explode("toks").alias("token"), "c")
        .groupBy("token")
        .agg(
            F.sum("c").alias("freq"),
            F.count("*").alias("n_words"),
        )
    )
