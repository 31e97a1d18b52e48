"""Training-data pipeline operators beyond the reference's surface
(extension family, same tier as operators/dedup.py — the reference has no
analogue; its closest surface is DistinctNode + aggregates, reference:
ballista/core/proto/datafusion.proto:267-269):

- hash_split       — deterministic train/val/test assignment from a salted
                     md5 of the id. Pure column expressions: at 100 TB the
                     split is a zero-shuffle map over the scan, stable
                     across runs/engines (md5 is engine-portable, unlike
                     xxhash/rand-based sampling), and adding data never
                     reassigns existing rows.
- pack_sequences   — concat-then-chunk sequence packing: assign each doc a
                     global token start-offset and a fixed-budget sequence
                     id. The global prefix-sum is computed DISTRIBUTED:
                     per-chunk partial sums → tiny chunk-prefix table
                     (broadcast) → within-chunk window. No global
                     single-partition window over the corpus.
- repetition_metrics — Gopher-style repetition signals (top-n-gram
                     fraction, duplicated-n-gram fraction for n=1,2,3) via
                     one tagged explode + two hash aggregates, both
                     map-side combinable.
- tfidf_topk       — per-doc top-k terms by tf-idf; doc-frequency table is
                     broadcast (vocabulary ≪ corpus), corpus size via a
                     broadcast 1-row aggregate — the only full shuffle is
                     the (doc, term) count.
- decontaminate    — eval-set n-gram contamination against a training
                     corpus: distinct hashed k-gram inverted check via
                     LEFT SEMI join (train side reduced to a distinct
                     shingle set — the scalable Dodge-et-al style 13-gram
                     decontamination pattern, here with configurable k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import shingles, tokens


def _hex_digit(c: Column) -> Column:
    """Value of one lowercase hex char via ascii arithmetic — expressible
    identically in every SQL dialect (no conv()/strtol dependency)."""
    a = F.ascii(c)
    return a - 48 - F.when(a >= 97, 39).otherwise(0)


def hash_bucket(id_col: Column, salt: str = "split", buckets: int = 256) -> Column:
    """Deterministic bucket in [0, 256) from the first two hex chars of
    md5(salt:id). Engine-portable (md5 everywhere); `buckets` must be 256
    for the two-hex-char form."""
    assert buckets == 256
    h = F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string")))
    return (
        _hex_digit(F.substring(h, 1, 1)) * 16 + _hex_digit(F.substring(h, 2, 1))
    ).cast("int")


def hash_split(
    df: DataFrame,
    id_col: str,
    salt: str = "split",
    train: int = 205,
    val: int = 230,
) -> DataFrame:
    """Train/val/test assignment: bucket < train → 'train', < val → 'val',
    else 'test' (defaults ≈ 80/10/10 over 256 buckets). Adding new rows
    never moves existing ones between splits — the property that matters
    for a long-lived training corpus."""
    b = hash_bucket(F.col(id_col), salt)
    return df.withColumn("bucket", b).withColumn(
        "split",
        F.when(F.col("bucket") < train, "train")
        .when(F.col("bucket") < val, "val")
        .otherwise("test"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens: Column,
    seq_len: int = 2048,
    chunk: int = 4096,
) -> DataFrame:
    """Concat-then-chunk packing: docs in `id_col` order are laid head to
    tail in one token stream; sequence s covers offsets [s*seq_len,
    (s+1)*seq_len). Emits (id, n_tok, start_off, seq_id, seq_off).

    Distributed prefix sum — the scale-critical part: a naive
    `sum().over(Window.orderBy(id))` collapses the corpus into ONE
    partition. Instead: (1) per-chunk token sums (hash agg, map-side
    combined), (2) running prefix over the chunk table — a single-
    partition window, but over corpus/chunk rows (~25k rows at 100M docs),
    (3) broadcast-join the chunk prefix back and add a within-chunk
    window partitioned BY chunk. No stage ever holds more than one chunk
    per task."""
    d = df.select(F.col(id_col).alias("_id"), n_tokens.cast("long").alias("n_tok"))
    d = d.withColumn("_g", F.floor(F.col("_id") / chunk))
    gsums = d.groupBy("_g").agg(F.sum("n_tok").alias("_gs"))
    gw = W.orderBy("_g").rowsBetween(W.unboundedPreceding, -1)
    prefix = gsums.select(
        "_g", F.coalesce(F.sum("_gs").over(gw), F.lit(0)).alias("_pre")
    )
    inw = W.partitionBy("_g").orderBy("_id").rowsBetween(W.unboundedPreceding, -1)
    return (
        d.join(F.broadcast(prefix), "_g")
        .withColumn(
            "start_off", F.col("_pre") + F.coalesce(F.sum("n_tok").over(inw), F.lit(0))
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tok",
            "start_off",
            F.floor(F.col("start_off") / seq_len).cast("long").alias("seq_id"),
            (F.col("start_off") % seq_len).cast("long").alias("seq_off"),
        )
    )


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str, ns: tuple[int, ...] = (1, 2, 3)
) -> DataFrame:
    """Gopher-style within-document repetition signals, per n in `ns`:
    top{n}_frac = occurrences of the most frequent n-gram / total n-grams;
    dup{n}_frac = occurrences belonging to n-grams seen >1 time / total.
    (Gopher 'repetition removal', Rae et al. 2021 — token-denominated here
    because the synthetic corpus is single-line.)

    Plan: ONE tagged explode (n, gram) → (doc, n, gram) count with
    map-side combine → per-doc conditional aggregate. Two shuffles total
    regardless of len(ns), both narrow. Grams are shuffled as 8-byte
    xxhash64 keys, never strings: each token is string-hashed ONCE (a
    materialized column — Catalyst does not CSE a repeated subexpression
    across higher-order functions), and an n-gram key is a hash of n
    token hashes. Count metrics are hash-invariant up to 2^-64
    collisions, so the string-n-gram oracle still certifies them."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("_th"),
    )
    th = F.col("_th")

    def _gram_hashes(n: int) -> Column:
        if n == 1:
            return th
        # positions beyond the array end (the short-document fallback gram)
        # yield null, which xxhash64 skips — deterministic on both ends
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(th) - (n - 1), F.lit(1))),
            lambda i: F.xxhash64(*[F.get(th, i - 1 + j) for j in range(n)]),
        )

    # closure factory, NOT a `n=n` default arg: higher-order-function
    # lambdas dispatch on arity, and a default arg makes Spark parse this
    # as the 2-arg (element, index) form with n bound to the array index
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    tagged = F.flatten(F.array(*[F.transform(_gram_hashes(n), _tag(n)) for n in ns]))
    ex = base.select("_id", F.explode(tagged).alias("_t")).select(
        "_id", F.col("_t.n").alias("n"), F.col("_t.g").alias("g")
    )
    counts = ex.groupBy("_id", "n", "g").agg(F.count("*").alias("c"))
    aggs = []
    for n in ns:
        is_n = F.col("n") == n
        tot = F.sum(F.when(is_n, F.col("c"))).alias(f"_tot{n}")
        top = F.max(F.when(is_n, F.col("c"))).alias(f"_top{n}")
        dup = F.sum(F.when(is_n & (F.col("c") > 1), F.col("c"))).alias(f"_dup{n}")
        aggs += [tot, top, dup]
    per_doc = counts.groupBy("_id").agg(*aggs)
    out = [F.col("_id").alias(id_col)]
    for n in ns:
        out.append(F.round(F.col(f"_top{n}") / F.col(f"_tot{n}"), 6).alias(f"top{n}_frac"))
        out.append(
            F.round(
                F.coalesce(F.col(f"_dup{n}"), F.lit(0)) / F.col(f"_tot{n}"), 6
            ).alias(f"dup{n}_frac")
        )
    return per_doc.select(*out)


def tfidf_topk(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf (idf = ln((N+1)/(df+1))); ties
    broken by term ascending → fully deterministic.

    Plan: the only corpus-scale shuffle is the (doc, term) count. Document
    frequency aggregates that table by term; the join back is keyed on
    `term` with NO broadcast pin — the vocabulary is unbounded (10^8-10^9
    distinct tokens on a web corpus; a pinned broadcast OOMs the driver),
    so AQE picks the strategy: it still broadcasts when the vocabulary is
    actually small, and falls back to a token-keyed shuffle join when it
    isn't (same discipline as dsir_logweights, operators/text.py). The
    corpus row count is a broadcast 1-row aggregate, NOT a collected
    scalar — no driver round-trip, the whole plan is one DAG."""
    tf = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    nd = df.agg(F.count("*").alias("_nd"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", F.round(F.col("tf") * F.log((F.col("_nd") + 1) / (F.col("df_t") + 1)), 6))
    )
    w = W.partitionBy("_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "term", "tf", "df_t", "score", "rank")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 8,
    eval_bounded: bool = True,
    eval_doc_cap: int | None = 100_000,
) -> DataFrame:
    """Eval-set contamination check: for each eval document, the count and
    fraction of its distinct word-k-gram shingles that appear anywhere in
    the training corpus (the n-gram-overlap decontamination used for LLM
    eval hygiene; 13-grams in GPT-3's dedup, configurable here).

    Plan (eval_bounded=True, the default — the production shape, where
    `eval_df` is a fixed benchmark suite and `train` is the corpus):
    probe-inverted. Eval (doc, shingle) pairs — per-doc-distinct already
    (hashed_shingles) and bounded by the eval-set contract, ENFORCED by
    the eval_doc_cap guard (a LIMIT-bounded count that raises before the
    broadcast is attempted; None disables) — are explicitly broadcast; the corpus side is ONE scan + explode streamed
    past that probe table with NO corpus-wide shuffle at all (no train
    distinct!), and the matched pairs (bounded by contamination volume,
    not corpus volume) take a tiny distinct + per-doc count. Broadcasting
    the eval side is the contract, not an optimization: Catalyst's size
    estimate for an explode+distinct over a small parquet file NEVER
    grows with the real shingle count, so the previous un-hinted shape
    statically chose BroadcastHashJoin on the CORPUS-derived shingle set
    and kept it until the broadcast build physically failed — measured
    by `tools/scale_ladder.py text_decontaminate`: still broadcasting at
    34M distinct shingles (~0.3 GB hashed relation), death by 'Not
    enough memory to build and broadcast' at ~67M on a 16g driver, with
    zero graceful degradation
    (SCALE.md round 9). At 100 TB the corpus shingle set is multi-TB;
    the eval side is MBs. Pass the corpus as `train`, always.

    Plan (eval_bounded=False — both sides corpus-scaled, e.g. a 10%
    held-out split audited against the other 90%): the train side
    collapses to a distinct hashed-shingle set (one map-side-combined
    agg shuffle of 8-byte keys) and the eval pairs SHUFFLE-semi-join it,
    with an explicit merge hint so the planner cannot repeat the
    measured static-broadcast death on either unbounded side.

    Counts are hash-invariant (xxhash64 collisions at 2^-64), so the
    string-shingle oracle certifies them.

    NOTE (ADVICE r10): with eval_bounded=True the eval_doc_cap guard
    runs an EAGER Spark action (limit(cap+1).count()) at
    DataFrame-construction time — this function is deliberately not a
    lazy plan builder, and plan-compile-only consumers (explain, audits)
    trigger that bounded scan on every call. The cost is O(cap) rows of
    the eval side only; pass eval_doc_cap=None to restore laziness when
    the bound is externally guaranteed."""
    # r11: string k-grams from shingles()'s one-regex-pass fast path,
    # hashed to 8-byte keys AFTER the explode (a plain codegen'd
    # xxhash64 per row). The previous token_hashes→hashed_shingles form
    # re-evaluated its interpreted higher-order lambdas per element
    # inside GenerateExec (no subexpression elimination there) —
    # measured r11: pipeline_leakage 9.0/7.8 → ~3/2 s. Keys change from
    # xxhash64(token-hash chain) to xxhash64(gram string); every output
    # here is a COUNT over those keys, hash-invariant up to the same
    # 2^-64 collision bound (the docstring's oracle argument, unchanged).
    ev = eval_df.select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_k).alias("_sh")
    )
    sizes = ev.select("_id", F.size("_sh").alias("n_shingles"))
    ev_pairs = ev.select("_id", F.explode("_sh").alias("_g")).select(
        "_id", F.xxhash64("_g").alias("s")
    )
    if eval_bounded and eval_doc_cap is not None:
        # ENFORCE the eval_bounded contract instead of documenting it
        # (ADVICE r9): the eval side is about to be broadcast, so an
        # eval_df that secretly scales with the corpus would reproduce
        # the measured broadcast-build OOM from the OTHER side. The
        # guard is a LIMIT-bounded count — O(cap) scan work regardless
        # of the true eval size — and fails actionably instead of dying
        # in the broadcast build.
        if eval_df.limit(eval_doc_cap + 1).count() > eval_doc_cap:
            raise ValueError(
                f"decontaminate(eval_bounded=True): eval side exceeds "
                f"{eval_doc_cap} documents — it is not a bounded benchmark "
                f"suite and must not broadcast. Use eval_bounded=False "
                f"(shuffle semi-join, both sides corpus-scale) or raise "
                f"eval_doc_cap explicitly if the suite genuinely fits "
                f"executor memory."
            )
    if eval_bounded:
        tr_occ = train.select(
            F.explode(shingles(F.col(text_col), shingle_k)).alias("_g")
        ).select(F.xxhash64("_g").alias("s"))
        hits = (
            tr_occ.join(F.broadcast(ev_pairs), "s")
            .select("_id", "s")
            .distinct()
            .groupBy("_id")
            .agg(F.count("*").alias("n_contaminated"))
        )
    else:
        tr = (
            train.select(F.explode(shingles(F.col(text_col), shingle_k)).alias("_g"))
            .select(F.xxhash64("_g").alias("s"))
            .distinct()
        )
        hits = (
            ev_pairs.join(tr.hint("merge"), "s", "left_semi")
            .groupBy("_id")
            .agg(F.count("*").alias("n_contaminated"))
        )
    return (
        sizes.join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.greatest(F.col("n_shingles"), F.lit(1)),
                6,
            ).alias("contamination"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def overlap_matrix(
    docs: DataFrame,
    group_col: str,
    text_col: str,
    shingle_k: int = 8,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    groups (sources, datasets, snapshots), the count of distinct
    word-k-gram shingles they share plus the shingle-set Jaccard — the
    governance view of decontaminate() (which audits one eval set
    against one train side; this audits ALL pairs at once).

    Plan: the corpus collapses to DISTINCT (group, shingle-hash) rows —
    one agg shuffle, 8-byte keys, map-side combined. The self-join on
    the shingle hash fans out per shingle as C(groups-containing-it, 2)
    ≤ C(n_groups, 2) — bounded by the GROUP count (typically tens), not
    the corpus, so no stop-shingle cap is needed. Counts are
    hash-invariant (xxhash64 collisions at 2^-64), so the
    string-shingle oracle certifies them. Output: (src_a, src_b,
    n_shared, n_a, n_b, jaccard) for src_a < src_b."""
    # r11: same regex-gram + post-explode-hash rewrite as decontaminate
    # (counts are hash-invariant; see there for the measured numbers)
    sh = (
        docs.select(F.col(group_col).alias("g"), F.explode(shingles(F.col(text_col), shingle_k)).alias("_g"))
        .select("g", F.xxhash64("_g").alias("s"))
        .distinct()
    )
    totals = sh.groupBy("g").agg(F.count("*").alias("n_g"))
    shared = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.s") == F.col("b.s"))
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("src_a"), F.col("b.g").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    ta = totals.select(F.col("g").alias("src_a"), F.col("n_g").alias("n_a"))
    tb = totals.select(F.col("g").alias("src_b"), F.col("n_g").alias("n_b"))
    return (
        shared.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the data-mixture
    primitive: keep a row iff its salted md5 bucket (hash_bucket, [0,256))
    falls below round(rate*256) for its stratum. Rate resolution is
    1/256 ≈ 0.4%.

    Properties that matter for a long-lived corpus: membership is a pure
    function of (salt, id) — re-running on a grown corpus never flips an
    existing row, strata can be re-weighted without reshuffling survivors
    of unchanged strata, and there is NO shuffle at any scale (a filter at
    scan speed; compare F.sample, which is per-partition-order dependent
    and non-reproducible across repartitions). Engine-portable (md5), so
    a DuckDB oracle replays membership exactly."""
    b = hash_bucket(F.col(id_col), salt)
    thr: Column | None = None
    for key, rate in sorted(rates.items()):
        cond = F.col(strata_col) == key
        lim = F.lit(int(round(rate * 256)))
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    thr_col = (
        thr.otherwise(int(round(default_rate * 256)))
        if thr is not None
        else F.lit(int(round(default_rate * 256)))
    )
    return df.withColumn("bucket", b).filter(F.col("bucket") < thr_col)


def equal_allocation_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    salt: str = "strat",
) -> DataFrame:
    """Equal-allocation stratified downsampling: derive each stratum's
    keep-rate FROM THE DATA as min_stratum_count / n_g, so every stratum
    is sampled down to (in expectation) the size of the smallest one —
    the corpus-rebalancing primitive (language/source-balancing a skewed
    crawl) that stratified_sample's static rate table can't express.

    Membership is a pure function of (salt, id) via a 16-bit md5 bucket
    (resolution 1/65536; thresholds are EXACT integer arithmetic
    ``min_n*65536 div n_g``, so any engine replays them bit-for-bit).
    The stratum sizes are one map-side-combined count agg broadcast back
    (k rows); the decision itself is a scan-speed filter — adding rows
    to one stratum never flips survivors of another unchanged stratum
    (min unchanged), the long-lived-corpus property.

    Returns survivors with (bucket16, threshold) kept for auditing."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n_g"))
    min_n = counts.agg(F.min("_n_g").alias("_min_n"))
    thr = counts.crossJoin(F.broadcast(min_n)).select(
        strata_col,
        "_n_g",
        F.least(
            F.lit(65536),
            F.expr("(_min_n * CAST(65536 AS BIGINT)) div _n_g"),
        ).alias("threshold"),
    )
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    b16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
    return (
        df.join(F.broadcast(thr), strata_col)
        .withColumn("bucket16", b16)
        .filter(F.col("bucket16") < F.col("threshold"))
        .drop("_n_g")
    )


def importance_sample(
    df: DataFrame,
    id_col: str,
    p: Column,
    salt: str = "imp",
) -> DataFrame:
    """Deterministic score-proportional (importance) sampling: keep a row
    iff its salted md5 bucket ([0,256)) falls below p·256, where `p` is a
    per-row keep probability in [0,1] (e.g. a quality score). Returns
    survivors with their inverse-probability `weight` (1/p, rounded) so
    downstream aggregates stay unbiased (Horvitz–Thompson).

    Same contract as stratified_sample but with a CONTINUOUS per-row
    rate: pure function of (salt, id, p) — reproducible across engines
    and corpus growth, zero shuffle, scan-speed filter. Resolution is
    1/256; p ≤ 0 rows are always dropped, p ≥ 1 rows always kept."""
    b = hash_bucket(F.col(id_col), salt)
    pc = F.least(F.lit(1.0), F.greatest(F.lit(0.0), p))
    return (
        df.withColumn("bucket", b)
        .withColumn("_p", pc)
        .filter(F.col("bucket") < F.col("_p") * 256.0)
        .withColumn("weight", F.round(F.lit(1.0) / F.col("_p"), 6))
        .drop("_p")
    )


def quota_cap(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    score: Column,
    quota: int,
) -> DataFrame:
    """Per-domain quota: keep the `quota` best-scoring documents of each
    domain (ties broken by id — fully deterministic). The domain-balance
    primitive of corpus curation (cap any one crawl/source's share).

    Scale shape: rank-then-filter compiles to Spark's WindowGroupLimit
    (asserted in tests/test_plans.py) — each map task pre-prunes to its
    local top-`quota` per domain BEFORE the shuffle, so the exchange
    carries O(domains * quota * tasks) rows, not the corpus; the final
    per-domain sort touches only survivors. A skewed domain therefore
    costs its map-side prune, not a corpus-wide hot partition."""
    w = W.partitionBy(domain_col).orderBy(F.col("_score").desc(), F.col(id_col))
    return (
        df.withColumn("_score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= quota)
        .drop("_score")
    )


def reservoir_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    salt: str = "res",
) -> DataFrame:
    """Deterministic uniform k-per-stratum sample ("reservoir" contract
    without reservoir state): rank rows inside each stratum by
    (md5(salt:id), id) and keep the first k. Unlike stratified_sample
    (a RATE per stratum) this guarantees an exact COUNT per stratum —
    the eval-set / per-domain-probe construction.

    Same WindowGroupLimit shape as quota_cap: map tasks pre-prune to
    their local top-k per stratum before the shuffle, so the exchange
    carries O(strata * k * tasks) rows regardless of corpus size, and
    membership is reproducible across engines and runs (md5 order,
    id tiebreak)."""
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = W.partitionBy(strata_col).orderBy(F.col("_h"), F.col(id_col))
    return (
        df.withColumn("_h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("_h")
    )


def shuffle_order(
    df: DataFrame, id_col: str, salt: str = "order", n: int | None = None
) -> DataFrame:
    """Deterministic global training-order shuffle: sort by
    (md5(salt:id), id). Epoch N = a new salt — reproducible order with no
    stored permutation, stable under corpus growth debugging (a row's
    relative order vs surviving rows never changes).

    Scale shape: orderBy compiles to a RANGE-partitioned sort (sampled
    bounds) — every partition sorts locally, no single-partition stage;
    writing the result preserves order per output file. With `n`, the
    plan collapses to TakeOrderedAndProject (partial per-partition top-n
    before one merge)."""
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    out = df.withColumn("shuffle_key", h).orderBy("shuffle_key", id_col)
    return out.limit(n) if n is not None else out


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    n_tokens: Column,
    budget: int,
    salt: str = "budget",
) -> DataFrame:
    """Deterministic token-budget subset: walk the corpus in shuffle_order
    (md5(salt:id)) and keep rows while the running token total stays
    under `budget` — the "give me a random-but-reproducible 10B-token
    slice" primitive of data mixing. A row is kept iff the tokens BEFORE
    it (in hash order) fit the budget, so the subset is a prefix of the
    global shuffle: stable, and nested budgets are nested subsets.

    Distributed prefix sum, same discipline as pack_sequences: the chunk
    key is the first two hex chars of the row's md5 (256 buckets whose
    lexicographic order IS the global sort-prefix order, so per-chunk
    partials compose into an exact global prefix) — per-chunk sums →
    tiny broadcast chunk-prefix → within-chunk window. No corpus-wide
    single-partition stage."""
    d = df.select(
        F.col(id_col).alias("_id"),
        n_tokens.cast("long").alias("n_tok"),
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))).alias("_h"),
    ).withColumn("_g", F.substring("_h", 1, 2))
    gsums = d.groupBy("_g").agg(F.sum("n_tok").alias("_gs"))
    gw = W.orderBy("_g").rowsBetween(W.unboundedPreceding, -1)
    prefix = gsums.select("_g", F.coalesce(F.sum("_gs").over(gw), F.lit(0)).alias("_pre"))
    inw = W.partitionBy("_g").orderBy("_h", "_id").rowsBetween(W.unboundedPreceding, -1)
    return (
        d.join(F.broadcast(prefix), "_g")
        .withColumn(
            "tokens_before", F.col("_pre") + F.coalesce(F.sum("n_tok").over(inw), F.lit(0))
        )
        .filter(F.col("tokens_before") < budget)
        .select(F.col("_id").alias(id_col), "n_tok", "tokens_before")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window splitter of
    an embedding/RAG/training pipeline: document tokens are cut into
    windows of `size` tokens starting every `stride` tokens (overlap =
    size - stride), so no span longer than `stride` is ever lost at a
    boundary. Every document emits at least one chunk. Output: (id,
    n_tok, chunk_id, chunk_start, chunk_tokens, chunk_text).

    Scale shape: tokenize → explode is a pure map over the scan — zero
    shuffles, embarrassingly parallel, and the chunk fan-out is bounded
    by n_tok/stride per row. Token arrays never cross a stage boundary;
    only the emitted chunk rows do."""
    t = tokens(F.col(text_col))
    d = df.select(
        F.col(id_col), t.alias("_t"), F.size(t).cast("long").alias("n_tok")
    )
    n_chunks = (
        F.greatest(
            F.ceil((F.col("n_tok") - size) / F.lit(float(stride))), F.lit(0)
        )
        + 1
    ).cast("int")
    start = (F.col("chunk_id").cast("long") * stride).alias("chunk_start")
    return d.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    ).select(
        id_col,
        "n_tok",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start,
        F.least(F.col("n_tok") - F.col("chunk_id") * stride, F.lit(size))
        .cast("long")
        .alias("chunk_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("_t"), F.col("chunk_id") * stride + 1, size)
        ).alias("chunk_text"),
    )


def histogram(
    df: DataFrame, col: str, bins: int = 20
) -> DataFrame:
    """Equi-width histogram of a numeric column — the distribution
    profiler behind skew audits and bin-boundary choices. Two passes:
    a 1-row (min, max) agg broadcast back, then one map-side-combined
    groupBy on the bin id — shuffle rows = bins × partitions, never the
    data. Bin width is (max−min)/bins; the max value folds into the last
    bin (standard half-open bins with a closed final edge)."""
    stats = df.agg(
        F.min(col).cast("double").alias("_lo"), F.max(col).cast("double").alias("_hi")
    )
    # a constant column (lo == hi) gets width 1.0 instead of an ANSI
    # DIVIDE_BY_ZERO: every row lands in bin 0 with edges [lo, lo+1)
    width = F.when(
        F.col("_hi") != F.col("_lo"), (F.col("_hi") - F.col("_lo")) / bins
    ).otherwise(F.lit(1.0))
    bin_id = F.least(
        F.lit(bins - 1),
        F.floor((F.col(col) - F.col("_lo")) / width).cast("int"),
    )
    return (
        df.select(F.col(col)).where(F.col(col).isNotNull())
        .crossJoin(F.broadcast(stats))
        .select(bin_id.alias("bin"), "_lo", (width).alias("_w"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.first("_lo").alias("_l"),
            F.first("_w").alias("_ww"),
        )
        .select(
            "bin",
            "n",
            F.round(F.col("_l") + F.col("bin") * F.col("_ww"), 6).alias("bin_lo"),
            F.round(F.col("_l") + (F.col("bin") + 1) * F.col("_ww"), 6).alias("bin_hi"),
        )
        .orderBy("bin")
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass column profiler — the data-quality observability primitive
    a curation pipeline runs before/after every stage: per column, row
    count, null count, exact distinct count, and min/max (as strings, so
    heterogeneous columns share one schema). Output: one row per column.

    Scale shape: a single global aggregate; the multi-column exact
    COUNT(DISTINCT) compiles to one Expand + two-phase hash aggregate
    (map-side partials per column), so the corpus is read once. At 100 TB
    swap count_distinct for approx_count_distinct (HLL) per column if the
    exact expand is too wide — the output contract is unchanged."""
    aggs: list[Column] = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_null_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(structs).alias("_p")).select("_p.*")
