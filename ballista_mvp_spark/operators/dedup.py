"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has only DistinctNode, reference:
ballista/core/proto/datafusion.proto:267-269) — these are the BASELINE.json
north-star extension operators, designed shuffle-first for 100 TB:

- exact_dedup        — hash-groupBy on a normalization key; one shuffle.
- minhash_lsh_pairs  — shingle → minhash signature (all JVM-side column
                       expressions, zero Python) → banded LSH → candidate
                       pairs within buckets → exact Jaccard verify.
                       Shuffles only (band_hash) buckets and candidate
                       pairs, never the full cross product.
- simhash_pairs      — 64-bit simhash via explode + bitwise aggregation
                       (map-side combined), then Hamming-banded self-join.
- ngram_jaccard_pairs— exact shingle-set Jaccard via explode + self-join
                       on shingle; the verification primitive and the
                       DuckDB-oracle-checkable ground truth for the
                       approximate paths.
- keep_survivors     — greedy keep-smallest-id given a duplicate-pair set.

Scale notes: every stage is expressible as scan → (map-side combinable)
shuffle → bounded-state agg. Skewed buckets (a shingle/band shared by
thousands of docs) are capped with `max_bucket` to bound the pair
explosion, mirroring production near-dup pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Canonical text form: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column, max_tokens: int | None = None) -> Column:
    """Whitespace tokens; `max_tokens` truncates pathological documents
    (a single 1 MB line is ~250k tokens → a ~250k-element array in ONE
    row, a per-row memory spike no partitioning can fix). Truncation
    changes only the truncated document's own shingle set — other
    documents' pair results are unaffected (asserted in
    tests/test_dedup_similarity.py)."""
    # split on \s+ directly instead of normalize_text()+split(" "): one
    # regex scan of every text byte instead of two (tokens are identical —
    # btrim with Java's exact \s charset bounds the ends without a regex,
    # \s+ collapses interior runs). At 100 TB the tokenize pass is the
    # dominant cost of every shingle/text operator.
    t = F.split(F.btrim(F.lower(col), F.lit(" \t\n\x0b\f\r")), r"\s+")
    if max_tokens is not None:
        t = F.slice(t, 1, max_tokens)
    return t


def shingles(col: Column, k: int = 3, max_tokens: int | None = None) -> Column:
    """Distinct word-k-gram shingles as an array column.

    Fast path (max_tokens=None): the overlapping k-grams come from ONE
    native-regex pass over the normalized string — a zero-width
    word-start anchor whose capture is the next k whitespace-separated
    words. The `transform(sequence(...), i -> concat_ws(slice(...)))`
    form it replaces is CodegenFallback (higher-order functions are
    interpreted per element) and ran once per WORD of the corpus —
    measured at sf0.1: 6.3 s → 0.5 s (k=3), 3.4 s → 0.4 s (k=8),
    byte-identical arrays on the whole corpus and on the <k-token edge
    cases (the `when` branch reproduces the old greatest(...,1) →
    slice(toks,1,k) behavior: one short gram of whatever tokens exist,
    [''] for empty/NULL). The lookbehind (?<![^ ]) anchors at
    start-of-string or after a space; the normalize pass guarantees
    single spaces and no line terminators, so `\\S+( \\S+)*` sees exactly
    the token stream.

    The max_tokens form (per-doc truncation — see the module docstring's
    1 MB-line rationale) keeps the array pipeline: truncation needs the
    token array anyway."""
    if max_tokens is None:
        n = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
        pat = r"(?<![^ ])(?=(\S+" + r" \S+" * (k - 1) + r"))"
        toks = F.split(n, " ")
        return F.array_distinct(
            F.when(F.size(toks) >= k, F.regexp_extract_all(n, F.lit(pat), 1))
            .otherwise(F.array(F.concat_ws(" ", F.slice(toks, 1, k))))
        )
    toks = tokens(col, max_tokens)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


# Java's \s charset: the tokenizer trims exactly these before splitting
_WS = " \t\n\x0b\f\r"


def _tokens_sql(name: str, max_tokens: int | None = None) -> str:
    """`tokens(F.col(name), max_tokens)` as SQL text."""
    t = f"split(btrim(lower({name}), '{_WS}'), '\\\\s+')"
    return t if max_tokens is None else f"slice({t}, 1, {max_tokens})"


def _token_hashes_sql(col: str, max_tokens: int | None = None) -> str:
    return f"transform({_tokens_sql(col, max_tokens)}, t -> xxhash64(t))"


def token_hashes(col: str, max_tokens: int | None = None) -> Column:
    """xxhash64 per whitespace token of column `col` — the one
    string-hash pass every hashed-shingle operator builds on."""
    return F.expr(_token_hashes_sql(col, max_tokens))


def _hashed_shingles_sql(th: str, k: int) -> str:
    """Distinct word-k-gram shingle KEYS from the token-hash array column
    `th`: shingle key = xxhash64 of k consecutive token hashes. No k-gram
    string is ever materialized (vs hashing shingles(): saves the
    concat_ws allocation of ~len(doc) k-word strings per row — the
    dominant cost of every shingle pipeline). Set semantics are
    hash-invariant vs string shingles up to 2^-64 collisions, so DuckDB
    string-shingle oracles still certify counts/Jaccard built on these
    keys.

    `th` MUST be a materialized column (written through a select first):
    Catalyst does not CSE a subexpression repeated inside higher-order
    functions, and this expression references `th` k times per element.
    Out-of-range `get` (the short-document fallback gram) yields null,
    which xxhash64 skips — deterministic."""
    if k == 1:
        return f"array_distinct({th})"
    gram = ", ".join(f"get({th}, i - 1 + {j})" for j in range(k))
    return (
        f"array_distinct(transform(sequence(1, greatest(size({th}) - {k - 1}, 1)), "
        f"i -> xxhash64({gram})))"
    )


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, max_tokens: int | None = None
) -> DataFrame:
    """(_id, _hs): each document's distinct hashed word-k-gram shingle
    keys, in two projections (token hashes, then shingle keys; see
    `_hashed_shingles_sql`). Not persisted: callers that read it twice
    persist it."""
    return df.selectExpr(
        f"{id_col} AS _id", f"{_token_hashes_sql(text_col, max_tokens)} AS _th"
    ).selectExpr("_id", f"{_hashed_shingles_sql('_th', shingle_k)} AS _hs")


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Keep the smallest id per exact key. Deterministic (unlike
    dropDuplicates, which keeps an arbitrary row per partition order)."""
    return (
        df.select(key.alias("_k"), F.col(id_col))
        .groupBy("_k")
        .agg(F.min(id_col).alias(id_col))
        .drop("_k")
    )


def incremental_dedup(
    corpus: DataFrame, batch: DataFrame, key: Column, id_col: str
) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup — the shape a long-lived
    training corpus actually runs: a NEW batch of documents is checked
    against the already-ingested corpus, never corpus-vs-corpus again.
    Each batch row is labeled `dup_corpus` (its key already exists in the
    corpus), `dup_batch` (a smaller-id batch row has the same key), or
    `new`. Deterministic: survivors are exactly the `new` rows.

    Scale shape: the corpus side is reduced to DISTINCT keys before the
    join (one agg, map-side combined), then ONE shuffle on the key joins
    corpus membership; the within-batch min-id uses a window over the
    SAME key partitioning, so Catalyst reuses the exchange instead of
    shuffling twice. The corpus never re-reads its payload columns —
    only 16-byte keys move."""
    b = batch.select(F.col(id_col), key.alias("_k"))
    seen = corpus.select(key.alias("_k")).distinct().withColumn(
        "_in_corpus", F.lit(True)
    )
    w = W.partitionBy("_k")
    return (
        b.join(seen, "_k", "left")
        .withColumn("_min_id", F.min(id_col).over(w))
        .select(
            F.col(id_col),
            F.coalesce(F.col("_in_corpus"), F.lit(False)).alias("in_corpus"),
            F.when(F.col("_in_corpus"), F.lit("dup_corpus"))
            .when(F.col(id_col) > F.col("_min_id"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def _signature_sql(num_hashes: int) -> str:
    """MinHash signature of the `_hs` shingle-key column as an
    array<long>: sig[j] = min over shingles of xxhash64(j, key). One
    lambda-indexed transform instead of num_hashes unrolled
    array_min(transform(...)) expressions: the values are identical but
    the expression tree is ~16× smaller, which cuts Catalyst and codegen
    compile time — the dominant cold-run cost of the operator. The outer
    lambda takes exactly ONE parameter: a second one would bind the
    array index, not the slot."""
    return f"transform(sequence(0, {num_hashes - 1}), j -> array_min(transform(_hs, h -> xxhash64(j, h))))"


def _bands_sql(num_hashes: int, bands: int) -> str:
    """One (band, bh) struct per band of the `_sig` column, exploded: bh
    is xxhash64 of the band's rows_per_band signature slots."""
    r = num_hashes // bands
    structs = ", ".join(
        f"struct({b} AS band, xxhash64("
        + ", ".join(f"element_at(_sig, {b * r + i + 1})" for i in range(r))
        + ") AS bh)"
        for b in range(bands)
    )
    return f"explode(array({structs}))"


def minhash_bands(hs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, bh) banded MinHash rows of a `hashed_shingle_sets`
    frame: signature (narrow) → explode bands (×bands rows). The slim
    table is all that enters the band shuffle; shingle arrays never do."""
    return (
        hs.selectExpr("_id", f"{_signature_sql(num_hashes)} AS _sig")
        .selectExpr("_id", f"{_bands_sql(num_hashes, bands)} AS _b")
        .selectExpr("_id", "_b.band AS band", "_b.bh AS bh")
    )


# every (a, b) with a < b of a bucket's sorted `_ids`, as one array
_BUCKET_PAIRS_SQL = (
    "flatten(transform(sequence(1, size(_ids) - 1), "
    "i -> transform(slice(_ids, i + 1, size(_ids)), x -> struct(get(_ids, i - 1) AS a, x AS b))))"
)


def _jaccard_sql(a: str, b: str) -> str:
    """Exact set Jaccard of two hashed shingle-key arrays, rounded to 6
    places (set Jaccard is hash-invariant up to 2^-64 collisions)."""
    return f"round(size(array_intersect({a}, {b})) / size(array_union({a}, {b})), 6)"


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
    max_tokens: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) with exact-Jaccard verify.

    Plan: signature (narrow) → explode bands (×bands rows) → ONE shuffle
    on (band, band_hash) into collect_list buckets → in-bucket pair
    expansion as a codegen'd nested transform (the `max_bucket` cap is a
    free size filter on the collected array, and buckets of 1 — the
    overwhelming majority — are dropped before any pair exists) → exact
    Jaccard on hashed shingle sets (array_intersect/array_union,
    JVM-side) → threshold filter. The banded table is read once and
    shuffled once. Every expression is SQL text, so building the plan
    costs a few py4j round trips per stage, not one per function call.
    """
    # PERSISTED: the normalize→split→shingle pass is the operator's
    # dominant cost and both the signature path and the verify path
    # consume it (without the persist it would run once per side of the
    # candidate join too)
    hs = hashed_shingle_sets(df, id_col, text_col, shingle_k, max_tokens).persist()
    # one shuffle: bucket members collected per (band, bh); singleton
    # buckets vanish here and pathological buckets (> max_bucket members,
    # a boilerplate band shared corpus-wide) are capped by the same size
    # filter — no separate bucket-size pass
    buckets = (
        minhash_bands(hs, num_hashes, bands)
        .groupBy("band", "bh")
        .agg(F.expr("sort_array(collect_list(_id)) AS _ids"))
        .filter(f"size(_ids) >= 2 AND size(_ids) <= {max_bucket}")
    )
    pairs = (
        buckets.selectExpr(f"explode({_BUCKET_PAIRS_SQL}) AS _p")
        .selectExpr("_p.a AS a", "_p.b AS b")
        .dropDuplicates(["a", "b"])
    )
    # exact-Jaccard verify on the persisted hashed shingle sets: no second
    # normalize/shingle pass, and 8-byte longs instead of strings in the
    # intersect/union
    verified = pairs.join(hs.selectExpr("_id AS a", "_hs AS sh_a"), "a").join(
        hs.selectExpr("_id AS b", "_hs AS sh_b"), "b"
    )
    return verified.selectExpr("a", "b", f"{_jaccard_sql('sh_a', 'sh_b')} AS jaccard").filter(
        f"jaccard >= {float(jaccard_threshold)!r}D"
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
    max_tokens: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: new batch documents checked against the
    already-ingested corpus — the long-lived-pipeline shape (the exact
    twin is incremental_dedup): corpus-vs-corpus never re-runs; each
    ingest batch only probes the existing LSH index.

    Plan: both sides get banded minhash signatures (narrow, JVM-side);
    the join is batch-bands ⋈ corpus-bands on (band, bh) — at steady
    state the corpus side is a PRE-MATERIALIZED index table (store the
    (band, bh, id) rows once; here it is derived inline), so the per-
    batch cost is O(batch bands + matching buckets), independent of
    corpus size. Oversized corpus buckets (> max_bucket boilerplate
    buckets) are dropped on the corpus side before the join. Candidates
    are verified with exact Jaccard on hashed shingle sets.

    Returns (batch_id, corpus_id, jaccard) — batch rows whose near-dup
    already exists in the corpus. Batch-internal near-dups are
    minhash_lsh_pairs(batch)'s job, not this one's."""
    bhs, chs = (
        hashed_shingle_sets(d, id_col, text_col, shingle_k, max_tokens).persist()
        for d in (batch, corpus)
    )
    cb = minhash_bands(chs, num_hashes, bands)
    # cap pathological corpus buckets before the probe join
    hot = cb.groupBy("band", "bh").count().filter(f"count > {max_bucket}")
    cb = cb.join(hot.select("band", "bh"), ["band", "bh"], "left_anti")
    cand = (
        minhash_bands(bhs, num_hashes, bands)
        .withColumnRenamed("_id", "batch_id")
        .join(cb.withColumnRenamed("_id", "corpus_id"), ["band", "bh"])
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    verified = cand.join(bhs.selectExpr("_id AS batch_id", "_hs AS sh_b"), "batch_id").join(
        chs.selectExpr("_id AS corpus_id", "_hs AS sh_c"), "corpus_id"
    )
    return verified.selectExpr(
        "batch_id", "corpus_id", f"{_jaccard_sql('sh_b', 'sh_c')} AS jaccard"
    ).filter(f"jaccard >= {float(jaccard_threshold)!r}D")


def _common_shingle_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    max_shingle_freq: int,
    max_tokens: int | None,
) -> DataFrame:
    """(a, b, c, sza, szb) for every pair a < b that shares a hashed
    word-k-gram shingle: `c` common shingles, `sza`/`szb` the two set
    sizes. The shared inverted-index body of the exact set-overlap
    operators.

    Plan choices that matter at scale:
    - the shingle ARRAY table is persisted (slim: id + ~50 longs/doc), so
      the dominant normalize→split→shingle pass runs once even though the
      index is consumed by both sides of the self-join (string gram
      arrays here fattened the cache and slowed every k=3 consumer:
      OPTIMIZATION_r11.md);
    - set sizes come from F.size on the array — no groupBy shuffle;
    - the join key is xxhash64(shingle): an 8-byte shuffle key instead of
      a multi-word string (set-overlap counts are hash-invariant up to
      2^-64 collisions);
    - shingles held by more than `max_shingle_freq` documents
      (stop-shingles) are dropped, which bounds the self-join fan-out."""
    arr = hashed_shingle_sets(df, id_col, text_col, shingle_k, max_tokens).persist()
    sizes = arr.select("_id", F.size("_hs").alias("sz"))
    sh = arr.select("_id", F.explode("_hs").alias("s"))
    hot = sh.groupBy("s").agg(F.count("*").alias("_n")).filter(F.col("_n") > max_shingle_freq)
    sh = sh.join(hot, "s", "left_anti")
    a = sh.select(F.col("_id").alias("a"), "s")
    b = sh.select(F.col("_id").alias("b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("_id").alias("b"), F.col("sz").alias("szb"))
    return common.join(sa, "a").join(sb, "b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    max_tokens: int | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ threshold via shingle inverted index:
    explode shingles → self-join on shingle (the only shuffle) → count
    common → |A∪B| = |A|+|B|-common. Ground truth for the LSH path; the
    `max_shingle_freq` cap drops stop-shingles that would square the
    join (standard inverted-index pruning at scale)."""
    return (
        _common_shingle_counts(df, id_col, text_col, shingle_k, max_shingle_freq, max_tokens)
        .select(
            "a",
            "b",
            F.round(F.col("c") / (F.col("sza") + F.col("szb") - F.col("c")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    max_tokens: int | None = None,
) -> DataFrame:
    """Substring-subsumption dedup via k-gram containment — the scalable
    stand-in for suffix-array substring dedup: C(A,B) = |A∩B| / min(|A|,|B|)
    over word-k-gram shingle sets is ≈1 exactly when the smaller document's
    content appears inside the larger one (a containment Jaccard misses:
    a 10-line doc embedded in a 1000-line doc has Jaccard ~0.01 but
    containment 1.0). Output is directed: (contained, container) with the
    smaller shingle set as ``contained`` (ties broken by lower id) — the
    drop-list side for a training-data pipeline. Same inverted-index plan
    as ngram_jaccard_pairs."""
    cont = F.col("c") / F.least(F.col("sza"), F.col("szb"))
    return (
        _common_shingle_counts(df, id_col, text_col, shingle_k, max_shingle_freq, max_tokens)
        .filter(cont >= threshold)
        .select(
            F.when(F.col("szb") < F.col("sza"), F.col("b")).otherwise(F.col("a")).alias("contained"),
            F.when(F.col("szb") < F.col("sza"), F.col("a")).otherwise(F.col("b")).alias("container"),
            F.round(cont, 6).alias("containment"),
        )
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_tokens: int | None = None,
) -> DataFrame:
    """(_id, sh) 64-bit SimHash signatures from shingle xxhash64 bit votes.
    Features are word-k-gram shingles: single tokens are too coarse when
    documents share a small vocabulary (every signature collapses to the
    vocabulary's signature).

    Plan: explode the hashed shingles and take 63 codegen'd SUMs in one
    hash aggregate keyed on the doc id (a narrow one-column shuffle with
    map-side combine, so the shuffle stays O(docs), not O(shingles)); an
    all-expression form (63 higher-order `aggregate` folds per row) is
    interpreted and ~2000× slower. Bit i of the signature is set when
    more than half the shingles have it set; bit 63 is excluded to stay
    in signed-long range. The votes and the signature are SQL text (one
    parse each instead of ~9,000 Column calls)."""
    ex = hashed_shingle_sets(df, id_col, text_col, shingle_k, max_tokens).selectExpr(
        "_id", "explode(_hs) AS h"
    )
    votes = ex.groupBy("_id").agg(
        F.expr("count(*) AS _n"),
        *[F.expr(f"sum(shiftright(h, {i}) & 1) AS _b{i}") for i in range(63)],
    )
    sh = " + ".join(
        f"CASE WHEN _b{i} * 2 > _n THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(63)
    )
    return votes.selectExpr("_id", f"{sh} AS sh")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    max_tokens: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using
    4×16-bit band exact-match (pigeonhole: distance ≤ 8 guarantees wide
    agreement on ≥1 of 4 bands for most pairs; standard simhash banding)."""
    # persist: signatures feed both self-join sides
    base = simhash_signatures(df, id_col, text_col, max_tokens=max_tokens).persist()
    return hamming_band_pairs(base, max_hamming)


def hamming_band_pairs(
    sigs: DataFrame, max_hamming: int = 8, max_bucket: int | None = None
) -> DataFrame:
    """(_id, sh) 64-bit signatures → (a, b, hamming ≤ max_hamming) pairs
    via 4×16-bit band exact-match (pigeonhole banding) — the shared
    pairing stage of SimHash text dedup and perceptual-hash media dedup.
    Shuffles (band, chunk, id, sh) rows only; candidates verify with one
    codegen'd bit_count.

    **Contract at scale: run signature_entropy() on the same sigs frame
    FIRST, and pass ``max_bucket`` (or fix the signature source) when
    it reports low distinct_ratio or a large max_bucket_share.** This
    is a requirement, not a suggestion: with ``max_bucket=None`` a
    degenerate-signature corpus silently goes quadratic — a
    LOW-ENTROPY signature source (measured: the byte-stat stand-in
    hash over ASCII text concentrates into few effective bits — 443k
    "pairs" from 100k docs; SCALE.md Multimodal) turns one hot (band, chunk) bucket into a quadratic
    self-join, and pairs from such buckets are signature collisions,
    not near-dups. A well-mixed 64-bit signature never produces such
    buckets below ~2¹⁶-docs-per-chunk density. The default stays None
    only because the *_det oracle twins replay this function and must
    keep byte-identical historical results; the pre-flight costs one
    token-pass-scale scan of map-side-combined counts (3 scalars to
    the driver) vs the unbounded O(bucket²) blowup it prevents."""
    banded = sigs.select(
        "_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("_b"),
    ).select("_id", "sh", F.col("_b.band").alias("band"), F.col("_b.chunk").alias("chunk"))
    if max_bucket is not None:
        ok = (
            banded.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band", "chunk")
        )
        banded = banded.join(ok, ["band", "chunk"])
    left = banded.select("band", "chunk", F.col("_id").alias("a"), F.col("sh").alias("sh_a"))
    right = banded.select("band", "chunk", F.col("_id").alias("b"), F.col("sh").alias("sh_b"))
    pairs = (
        left.join(right, ["band", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = F.bit_count(xor)
    return pairs.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def signature_entropy(sigs: DataFrame) -> dict:
    """Pre-flight health check for ANY banded pair stage over (_id, sh)
    64-bit signatures: a degenerate signature source (too few effective
    bits) makes banding quadratic no matter the scheme (measured:
    SCALE.md Multimodal). Returns
    {n, n_distinct, distinct_ratio, max_bucket, max_bucket_share} where
    max_bucket is the largest (band, 16-bit chunk) bucket the pair
    stage would self-join. Healthy: distinct_ratio near 1 and
    max_bucket_share ≪ 1%. **Gate callers must check n first**: an
    EMPTY sigs frame reports the "healthy" sentinels
    (distinct_ratio=1.0, max_bucket_share=0.0), so a pre-flight that
    ignores n=0 would wave through an upstream bug that produced zero
    signatures. All aggregates are map-side-combined counts; only 3
    scalars reach the driver — run it at full corpus scale BEFORE
    committing to the O(bucket²) pair stage."""
    n = sigs.count()
    nd = sigs.select("sh").distinct().count()
    chunks = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("_b")
    )
    mx = (
        chunks.groupBy("_b.band", "_b.chunk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("m"))
        .collect()[0]["m"]
        or 0
    )
    return {
        "n": n,
        "n_distinct": nd,
        "distinct_ratio": round(nd / n, 6) if n else 1.0,
        "max_bucket": mx,
        "max_bucket_share": round(mx / n, 6) if n else 0.0,
    }


def keep_survivors(df: DataFrame, id_col: str, dup_pairs: DataFrame) -> DataFrame:
    """Greedy survivor set: drop any id that appears as the LARGER member
    of a duplicate pair (keep-smallest-id policy; deterministic)."""
    losers = dup_pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Duplicate-cluster labeling: connected components of the near-dup
    pair graph, component id = min node id in the component (the canonical
    survivor a training pipeline keeps one copy of per cluster).

    `nodes`: one column `id` (every doc, so singletons get their own
    component); `edges`: columns (a, b), undirected.

    Iterative distributed min-label propagation: each round every node
    takes min(own label, neighbor labels) via an edge join + min-agg —
    label tables stay (id, comp) narrow, each round is one shuffle, and
    lineage is cut with localCheckpoint so round N's plan doesn't replay
    rounds 1..N-1. Converges in O(graph diameter) rounds with a driver-side
    fixpoint test (a 1-row count per round — the loop count is O(log-ish),
    not O(rows); near-dup clusters have tiny diameters). Exhausting
    max_iter RAISES rather than returning silently-wrong labels; for
    unbounded diameters use connected_components_twophase (alternating
    large-star/small-star, O(log^2 n) rounds on any graph).

    Two structural choices that matter: the edge list is checkpointed ONCE
    (its upstream — typically the whole near-dup pair pipeline — must not
    re-execute every round), and the iteration runs only over
    edge-incident nodes; singletons (the overwhelming majority of a
    corpus) never enter the loop and are labeled by a final left join."""
    sym = (
        edges.select("a", "b")
        .union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint()
    )
    active = sym.select(F.col("a").alias("id")).distinct()
    labels = active.select("id", F.col("id").alias("comp")).localCheckpoint()
    converged = False
    _round = -1  # stays -1 when max_iter <= 0 so last_rounds reads 0
    for _round in range(max_iter):
        nbr = (
            sym.join(labels.select(F.col("id").alias("b"), F.col("comp").alias("nc")), "b")
            .groupBy("a")
            .agg(F.min("nc").alias("nbr_min"))
        )
        # the convergence flag is computed INSIDE the relabel projection
        # (old comp is already on the join row), so the per-round
        # changed-test scans the checkpointed result instead of paying a
        # second shuffle join against the previous labels (one shuffle
        # per round)
        new_comp = F.least(
            F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
        )
        new = (
            labels.join(nbr.select(F.col("a").alias("id"), "nbr_min"), "id", "left")
            .select(
                "id",
                new_comp.alias("comp"),
                (new_comp != F.col("comp")).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("_chg")).limit(1).count()
        labels = new.select("id", "comp")
        if changed == 0:
            converged = True
            break
    # best-effort diagnostic for the scale-stress harness: rounds
    # actually executed (shared mutable function attribute — concurrent
    # callers may interleave; never used for control flow)
    connected_components.last_rounds = _round + 1
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the budget) — raise max_iter or use "
            "connected_components_twophase (diameter-independent O(log^2 n))"
        )
    return nodes.select("id").join(labels, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )


def connected_components_twophase(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """Diameter-independent connected components: alternating
    large-star / small-star contractions (Kiveris, Lattanzi, Mirrokni,
    Rastogi & Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014) — converges in O(log² n) rounds on ANY graph,
    where the plain min-label propagation (connected_components) needs
    O(diameter) rounds. Use this when cluster graphs may contain long
    chains (e.g. transitive near-dup chains across a crawl).

    Each round is two groupBy-min + join passes over the edge set:

    - large-star: every node u connects its LARGER neighbors to
      m = min(Γ(u) ∪ {u});
    - small-star: every edge oriented toward its smaller endpoint,
      every center connects itself and its smaller neighbors to its
      minimum neighbor.

    Both preserve connectivity; at fixpoint every edge is (v, root).
    Same interface and output as connected_components: (id, comp) with
    comp = min id in the component; singletons labeled by the final
    left join, never entering the loop.
    """
    e = (
        edges.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    _round = 0
    # carried across rounds: |e| was already counted when e was LAST
    # round's `small` — re-counting it (and the isEmpty probe) cost two
    # extra jobs per round on a checkpointed table
    n_e = e.count()
    for _round in range(max_rounds):
        if n_e == 0:
            converged = True
            break
        # large-star: sym view (c=center, n=neighbor); m = min(Γ(c) ∪ {c})
        sym = e.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            e.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = sym.groupBy("c").agg(F.min("n").alias("mn"))
        m = F.least(F.col("mn"), F.col("c"))
        large = (
            sym.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(m.alias("a"), F.col("n").alias("b"))
        )
        # small-star over the large-star output: orient to the smaller
        # endpoint; every center and its smaller neighbors attach to the
        # center's minimum neighbor
        le = large.select(
            F.greatest("a", "b").alias("c"), F.least("a", "b").alias("n")
        ).filter(F.col("c") != F.col("n"))
        smins = le.groupBy("c").agg(F.min("n").alias("mn"))
        small = (
            le.join(smins, "c")
            .select(F.col("mn").alias("u"), F.col("n").alias("v"))
            .union(smins.select(F.col("mn").alias("u"), F.col("c").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_small = small.count()
        stable = n_small == n_e and small.exceptAll(e).isEmpty()
        e, n_e = small, n_small
        if stable:
            converged = True
            break
    # diagnostic for the scale-stress harness: rounds actually executed
    connected_components_twophase.last_rounds = _round + 1
    if not converged:
        raise RuntimeError(
            f"connected_components_twophase did not converge in {max_rounds} "
            "rounds — not expected for any graph below ~2^64 nodes; check "
            "the edge set for pathological input"
        )
    labels = (
        e.select(F.col("v").alias("id"), F.col("u").alias("comp"))
        .union(e.select(F.col("u").alias("id"), F.col("u").alias("comp")))
        .groupBy("id")
        .agg(F.min("comp").alias("comp"))
    )
    return nodes.select("id").join(labels, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 10,
) -> DataFrame:
    """Corpus-wide duplicated-span removal (C4-style line dedup
    generalized to fixed token spans — the practical approximation of
    exact-substring dedup, Lee et al. 2021): documents are cut into
    non-overlapping `span`-token windows; every window that occurs more
    than once in the corpus is kept ONLY at its first occurrence
    (min (doc, position)) and dropped everywhere else; surviving spans
    are re-joined into the deduplicated text.

    Emits (id, n_spans, n_kept, n_dropped, text_dedup).

    Plan shape — one corpus-scale shuffle: spans travel as
    (id, pos, xxhash64-of-token-hashes) 24-byte rows, never strings;
    first-occurrence is row_number()==1 over (partition by span-hash),
    i.e. a single hash shuffle with no join back. Reconstruction
    re-slices the ORIGINAL token array per doc (a collect_list of kept
    positions, grouped by doc — bounded by doc length), so span text is
    never shuffled. A span duplicated across millions of docs makes one
    hot hash partition; the window only sorts that one group and at that
    multiplicity the rows are near-identical — cap upstream with a
    frequency filter if a corpus has a degenerate boilerplate span.

    The reference has no span/near-dup surface at all (only DistinctNode,
    reference ballista/core/proto/datafusion.proto:267-269); this is part
    of the training-pipeline extension family."""
    base = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk")
    ).select(
        "_id", "_tk", F.transform("_tk", lambda t: F.xxhash64(t)).alias("_th")
    )
    th = F.col("_th")
    sp = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(th), F.lit(span)),
                lambda s: F.struct(
                    s.alias("pos"),
                    F.xxhash64(*[F.get(th, s - 1 + j) for j in range(span)]).alias("h"),
                ),
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.pos").alias("pos"), F.col("_s.h").alias("h"))
    first = F.row_number().over(
        W.partitionBy("h").orderBy("_id", "pos")
    )
    kept = sp.withColumn("_rn", first).filter(F.col("_rn") == 1)
    kept_pos = kept.groupBy("_id").agg(F.sort_array(F.collect_list("pos")).alias("_kp"))
    kp = F.coalesce(F.col("_kp"), F.array())
    return (
        base.join(kept_pos, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.ceil(F.size("_tk") / F.lit(span)).cast("long").alias("n_spans"),
            F.size(kp).cast("long").alias("n_kept"),
            (F.ceil(F.size("_tk") / F.lit(span)) - F.size(kp)).cast("long").alias("n_dropped"),
            F.concat_ws(
                " ", F.flatten(F.transform(kp, lambda s: F.slice(F.col("_tk"), s, span)))
            ).alias("text_dedup"),
        )
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_span_tokens: int = 20,
    max_window_freq: int = 1000,
    max_tokens: int | None = None,
) -> DataFrame:
    """EXACT cross-document duplicated-substring spans — the scalable
    reformulation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): instead
    of a global suffix array (not shardable), every length-`window` token
    run is keyed by the xxhash64 of its token hashes, runs shared by two
    documents are matched on that 8-byte key (the ONLY shuffle of text-
    derived data), and consecutive matched positions are merged into
    maximal spans with the gaps-and-islands trick (pos − row_number is
    constant within a run). Output: one row per maximal duplicated span
    ≥ `min_span_tokens`, as (a, b, a_start, a_end, dup_tokens) with
    a < b and 1-based inclusive token positions in document `a`.

    Scale shape: shuffle rows are (8-byte window key, id, pos) — O(tokens)
    per document, never O(tokens²); `max_window_freq` drops boilerplate
    windows (licenses, headers) shared by more than that many position
    rows, the inverted-index stop-gram cap that bounds the self-join
    fan-out; `max_tokens` truncates pathological megadocs. The span merge
    is a window function partitioned by the (a, b) pair — bounded state.
    """
    w = window
    base = df.select(
        F.col(id_col).alias("_id"), token_hashes(text_col, max_tokens).alias("_th")
    )
    th = F.col("_th")
    # (id, pos, h): every position's length-w window key. Documents
    # shorter than w tokens emit their (padded-by-null-skip) single window.
    wins = base.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(th) - (w - 1), F.lit(1))),
                lambda i: F.xxhash64(*[F.get(th, i - 1 + j) for j in range(w)]),
            )
        ).alias("_p0", "h"),
    ).select("_id", (F.col("_p0") + 1).alias("pos"), "h")
    # persist: the window table feeds the hot-window count AND both sides
    # of the self-join — without it the tokenize+hash pass runs 3×. At
    # cluster scale, swap persist for a checkpoint to reliable storage.
    wins = wins.persist()
    hot = (
        wins.groupBy("h")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_window_freq)
    )
    wins = wins.join(hot, "h", "left_anti")
    a = wins.select(F.col("_id").alias("a"), F.col("pos").alias("ai"), "h")
    b = wins.select(F.col("_id").alias("b"), "h")
    matched = (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ai")
        .distinct()
    )
    grp = (F.col("ai") - F.row_number().over(W.partitionBy("a", "b").orderBy("ai"))).alias("_g")
    islands = matched.select("a", "b", "ai", grp)
    return (
        islands.groupBy("a", "b", "_g")
        .agg(
            F.min("ai").alias("a_start"),
            (F.max("ai") + (w - 1)).alias("a_end"),
            (F.max("ai") - F.min("ai") + w).alias("dup_tokens"),
        )
        .filter(F.col("dup_tokens") >= min_span_tokens)
        .select("a", "b", "a_start", "a_end", "dup_tokens")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_prefix: int = 24,
    max_edit_distance: int = 16,
    max_block: int = 200,
) -> DataFrame:
    """Blocked edit-distance (entity-resolution) dedup: candidate pairs
    share a normalized text prefix block and are verified with the exact
    Levenshtein distance — the classic blocking+verify shape of record
    linkage at scale (all-pairs Levenshtein is O(n²·len²); blocking
    reduces it to within-block pairs, and the verify is a single JVM
    `levenshtein` expression, no Python).

    Output: (a, b, edit_distance) with a < b, distance ≤ `max_edit_distance`.
    `max_block` drops degenerate blocks (e.g. an empty-prefix block of
    boilerplate docs) whose membership exceeds the cap — the same
    stop-key discipline as the shingle inverted index."""
    norm = normalize_text(F.col(text_col))
    d = df.select(
        F.col(id_col).alias("_id"),
        norm.alias("_tn"),
        F.md5(F.substring(norm, 1, block_prefix)).alias("_blk"),
    ).persist()  # feeds the hot-block count and both self-join sides
    hot = (
        d.groupBy("_blk").agg(F.count("*").alias("_n")).filter(F.col("_n") > max_block)
    )
    d = d.join(hot, "_blk", "left_anti")
    a = d.select(F.col("_id").alias("a"), F.col("_tn").alias("_ta"), "_blk")
    b = d.select(F.col("_id").alias("b"), F.col("_tn").alias("_tb"), "_blk")
    return (
        a.join(b, "_blk")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.levenshtein("_ta", "_tb").alias("edit_distance"))
        .filter(F.col("edit_distance") <= max_edit_distance)
    )
