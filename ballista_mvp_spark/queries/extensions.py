"""Extension-operator certification: dedup / similarity / text analysis /
multimodal (BASELINE.json north star; beyond the reference's declared
surface, see SURVEY.md §7 M6).

Oracle strategy: exact paths (exact dedup, n-gram Jaccard, embedding
cosine, brute-force top-k, text statistics, fingerprints, media metadata)
are value-certified against DuckDB. Hash-sketch paths (MinHash-LSH,
SimHash, hyperplane ANN) use xxhash64, which DuckDB cannot replicate →
rows-only here, with recall-vs-exact assertions in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import aggregates as AGG
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as TX
from ..plans import sort_python_output
from ..tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# -- deduplication -----------------------------------------------------------


def dedup_exact(spark, sf_dir):
    """Exact dedup: smallest doc_id per normalized-text key (hash groupBy;
    one shuffle on the md5 fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, TX.fingerprint(F.col("text")), "doc_id").orderBy("doc_id")


DEDUP_EXACT_ORACLE = r"""
SELECT min(doc_id) AS doc_id
FROM documents
GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
ORDER BY doc_id
"""


def dedup_exact_keys(spark, sf_dir):
    """Exact dedup on a subset key (lang, source): earliest doc + group size."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
        .orderBy("lang", "source")
    )


DEDUP_EXACT_KEYS_ORACLE = """
SELECT lang, source, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY lang, source ORDER BY lang, source
"""


def dedup_ngram_jaccard(spark, sf_dir):
    """EXACT word-3-gram Jaccard near-dup pairs (≥ 0.2) via shingle
    inverted index — the ground-truth dedup path, fully oracle-checked."""
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.2).orderBy(
        "a", "b"
    )


DEDUP_NGRAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 1))) AS g FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[g:g+2], ' ') AS s FROM idx),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a, b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.2
ORDER BY a, b
"""


def dedup_containment(spark, sf_dir):
    """Directed substring-subsumption dedup: word-3-gram containment
    C = common / min(|A|,|B|) ≥ 0.5 flags the smaller document as
    contained in the larger — the drop-list for subsumed docs (suffix-
    array substring dedup's scalable analogue). Fully oracle-checked."""
    docs = _t(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5).orderBy(
        "contained", "container"
    )


DEDUP_CONTAINMENT_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 1))) AS g FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[g:g+2], ' ') AS s FROM idx),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT CASE WHEN sb.sz < sa.sz THEN b ELSE a END AS contained,
       CASE WHEN sb.sz < sa.sz THEN a ELSE b END AS container,
       round(c * 1.0 / least(sa.sz, sb.sz), 6) AS containment
FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE c * 1.0 / least(sa.sz, sb.sz) >= 0.5
ORDER BY contained, container
"""


def dedup_substring(spark, sf_dir):
    """EXACT cross-document duplicated-substring spans (suffix-array
    substring dedup reformulated as a shardable inverted index over
    length-8 token windows + gaps-and-islands span merge; Lee et al.
    2022). One row per maximal span ≥ 20 tokens. Fully oracle-checked —
    the oracle merges the identical window matches with the identical
    islands trick over string windows."""
    docs = _t(spark, sf_dir, "documents")
    return D.substring_dup_spans(
        docs, "doc_id", "text", window=8, min_span_tokens=20
    ).orderBy("a", "b", "a_start")


DEDUP_SUBSTRING_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-7, 1))) AS i FROM toks),
wins AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS s FROM idx),
m AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.i AS ai
      FROM wins a JOIN wins b USING (s) WHERE a.doc_id < b.doc_id),
isl AS (SELECT a, b, ai,
               ai - row_number() OVER (PARTITION BY a, b ORDER BY ai) AS g
        FROM m)
SELECT a, b, min(ai) AS a_start, max(ai) + 7 AS a_end,
       max(ai) - min(ai) + 8 AS dup_tokens
FROM isl GROUP BY a, b, g
HAVING max(ai) - min(ai) + 8 >= 20
ORDER BY a, b, a_start
"""


def dedup_fuzzy(spark, sf_dir):
    """Blocked Levenshtein (entity-resolution) dedup: prefix-24 blocking,
    exact edit-distance ≤ 16 verify — classic record-linkage
    blocking+verify, all JVM expressions. Fully oracle-checked (DuckDB
    blocks on the same normalized prefix and runs the same levenshtein)."""
    docs = _t(spark, sf_dir, "documents")
    return D.fuzzy_pairs(
        docs, "doc_id", "text", block_prefix=24, max_edit_distance=16
    ).orderBy("a", "b")


DEDUP_FUZZY_ORACLE = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS tn
  FROM documents)
SELECT a.doc_id AS a, b.doc_id AS b, levenshtein(a.tn, b.tn) AS edit_distance
FROM n a JOIN n b ON substr(a.tn, 1, 24) = substr(b.tn, 1, 24) AND a.doc_id < b.doc_id
WHERE levenshtein(a.tn, b.tn) <= 16
ORDER BY a, b
"""


def dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup pairs with exact-Jaccard verification
    (xxhash64 signatures → DuckDB cannot replicate → rows-only; recall vs
    the exact path asserted in tests/test_dedup.py)."""
    docs = _t(spark, sf_dir, "documents")
    # (16 hashes, 4 bands of 4) measures recall 1.0 vs exact at sf0.01
    # and sf0.1 — band count drives cost (explode rows + candidate
    # pairs), not hash count
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, jaccard_threshold=0.2
    ).orderBy("a", "b")


def dedup_minhash_det(spark, sf_dir):
    """Deterministic MinHash-LSH, the oracle-certified twin of
    dedup_minhash: 8 salted-md5 min-wise hashes over distinct word
    trigrams, banded 4×2, candidate pairs verified with their EXACT
    trigram Jaccard — so the full LSH pipeline (shingle → signature →
    band → bucket-join → verify) is value-checked end-to-end against
    DuckDB instead of rows-only. min(md5(salt:gram)) is a valid
    min-wise hash for any uniform hash under a shared total order
    (lexicographic hex is identical in both engines), which is what
    makes the sketch replayable cross-engine; the production
    dedup_minhash keeps xxhash64 (8-byte shuffle keys) for throughput.

    Shape: one gram-keyed distinct, one doc-keyed signature aggregate
    (8 map-side-combined mins), one (band, band_hash)-keyed equi-join
    for candidates, then a candidate-bounded verify join that touches
    only the grams of paired docs — never all-pairs. At 100 TB the
    verify join stays proportional to candidate count (LSH's whole
    point) and the md5 strings become xxhash64 ints."""
    docs = _t(spark, sf_dir, "documents")
    n = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    t = F.split(n, " ")
    # word trigrams from ONE native-regex pass (word-start lookahead
    # capture) instead of transform(sequence, concat_ws(element_at×3)):
    # higher-order functions are CodegenFallback (interpreted per
    # element) and GenerateExec re-evaluates the lambda subtree without
    # subexpression elimination — measured: this query 16.8 s →
    # ~6 s cold. Gram streams are identical (left-to-right windows at
    # every word start; the size<3 guard keeps the old empty-array
    # behavior, matching the oracle's generate_series(1, len-2))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(t) >= 3,
                F.regexp_extract_all(n, F.lit(r"(?<![^ ])(?=(\S+ \S+ \S+))"), 1),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    ).distinct()

    def _mh(k):
        return F.min(
            F.md5(F.encode(F.concat(F.lit(f"{k}:"), F.col("gram")), "utf-8"))
        ).alias(f"h{k}")

    sig = grams.groupBy("doc_id").agg(*[_mh(k) for k in range(1, 9)])

    def _band(i, a, b):
        return F.struct(
            F.lit(i).alias("b"),
            F.md5(F.encode(F.concat(F.col(a), F.col(b)), "utf-8")).alias("bh"),
        )

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                _band(1, "h1", "h2"),
                _band(2, "h3", "h4"),
                _band(3, "h5", "h6"),
                _band(4, "h7", "h8"),
            )
        ).alias("bd"),
    ).select("doc_id", F.col("bd.b").alias("b"), F.col("bd.bh").alias("bh"))
    lb, rb = bands.alias("l"), bands.alias("r")
    pairs = (
        lb.join(
            rb,
            (F.col("l.b") == F.col("r.b"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        pairs.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b", "n_bands")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


DEDUP_MINHASH_DET_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
sig AS (
  SELECT doc_id,
         min(md5('1:'||gram)) AS h1, min(md5('2:'||gram)) AS h2,
         min(md5('3:'||gram)) AS h3, min(md5('4:'||gram)) AS h4,
         min(md5('5:'||gram)) AS h5, min(md5('6:'||gram)) AS h6,
         min(md5('7:'||gram)) AS h7, min(md5('8:'||gram)) AS h8
  FROM grams GROUP BY doc_id),
bands AS (
  SELECT doc_id, 1 AS b, md5(h1||h2) AS bh FROM sig UNION ALL
  SELECT doc_id, 2, md5(h3||h4) FROM sig UNION ALL
  SELECT doc_id, 3, md5(h5||h6) FROM sig UNION ALL
  SELECT doc_id, 4, md5(h7||h8) FROM sig),
pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_bands
  FROM bands l JOIN bands r
    ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, p.n_bands, count(*) AS n_inter
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.doc_a
  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
  GROUP BY 1, 2, 3)
SELECT i.doc_a, i.doc_b, CAST(i.n_bands AS BIGINT) AS n_bands,
       round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
ORDER BY doc_a, doc_b
"""


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 12 on 63-bit token-set hash);
    rows-only for the same sketch-hash reason."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=12).orderBy("a", "b")


# 60-bit SimHash bit-majority fingerprint, shared verbatim by the Spark
# and DuckDB legs of dedup_simhash_det: per bit i, sum +1/-1 over the
# doc's distinct token hashes and set the bit when the majority is
# non-negative. Integer arithmetic end to end, so cross-engine exact.
_SIMHASH_DET_FP = " + ".join(
    "(CASE WHEN sum(CASE WHEN (h >> %d) & 1 = 1 THEN 1 ELSE -1 END) >= 0"
    " THEN CAST(%d AS BIGINT) ELSE CAST(0 AS BIGINT) END)" % (i, 1 << i)
    for i in range(60)
)


def dedup_simhash_det(spark, sf_dir):
    """Deterministic SimHash, the oracle-certified twin of
    dedup_simhash: a 60-bit bit-majority fingerprint over each doc's
    distinct-token md5 hashes, 4 pigeonhole bands of 15 bits (any pair
    within Hamming ≤ 3 must agree on ≥1 band — exact, not
    probabilistic), exact Hamming verify via bit_count(xor), reported
    as the near-dup Hamming HISTOGRAM. The corpus is template-heavy
    (178k qualifying pairs at sf0.1), so the certified artifact is the
    4-row distance histogram — the banded join, fingerprints, and
    verify still run in full on BOTH engines; the production pair
    emitter stays dedup_simhash (63-bit xxhash64, rows-only).

    The portable hash is cast(conv(substr(md5(tok),1,15),16,10) as
    bigint) ≡ DuckDB CAST('0x'||substr(md5(tok),1,15) AS BIGINT) — the
    same 60-bit integer, bit-for-bit (parity-probed). Everything after
    tokenization is integer: bit-majority sums, band extraction by
    shift/mask, xor popcount — no float drift anywhere. One token
    shuffle (distinct), one doc-keyed 60-sum aggregate (map-side
    combined), one (band, value)-keyed equi-join; at 100 TB the band
    join carries 4 rows × 8-byte ints per doc."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                    " ",
                )
            ).alias("tok"),
        )
        .distinct()
        .select(
            "doc_id",
            F.expr("cast(conv(substr(md5(tok),1,15),16,10) as bigint)").alias(
                "h"
            ),
        )
    )
    sig = toks.groupBy("doc_id").agg(F.expr(_SIMHASH_DET_FP).alias("fp"))
    bands = sig.select(
        "doc_id",
        "fp",
        F.explode(F.expr("array(0, 1, 2, 3)")).alias("j"),
    ).select(
        "doc_id", "fp", "j", F.expr("(fp >> (15 * j)) & 32767").alias("bv")
    )
    lb, rb = bands.alias("l"), bands.alias("r")
    pairs = (
        lb.join(
            rb,
            (F.col("l.j") == F.col("r.j"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.expr("cast(bit_count(l.fp ^ r.fp) as int)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


DEDUP_SIMHASH_DET_ORACLE = r"""
WITH toks0 AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents),
toks AS (SELECT DISTINCT doc_id, tok FROM toks0),
hs AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) AS h FROM toks),
sig AS (SELECT doc_id, %s AS fp FROM hs GROUP BY doc_id),
bands AS (
  SELECT doc_id, fp, j, (fp >> (15 * j)) & 32767 AS bv
  FROM sig, range(0, 4) t(j)),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         CAST(bit_count(xor(l.fp, r.fp)) AS INT) AS hamming
  FROM bands l JOIN bands r
    ON l.j = r.j AND l.bv = r.bv AND l.doc_id < r.doc_id)
SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs WHERE hamming <= 3
GROUP BY hamming ORDER BY hamming
""" % _SIMHASH_DET_FP


def dedup_signature_health(spark, sf_dir):
    """Signature-entropy pre-flight (operators/dedup.signature_entropy)
    as a certified corpus artifact: BEFORE committing to any banded
    O(bucket²) pair stage, measure whether the signature source has
    enough effective bits — a degenerate signature makes EVERY banding
    scheme quadratic (measured: the byte-stat media stand-in hash
    produced 443k collision pairs from 100k docs; SCALE.md
    Multimodal). One row:
    corpus size, distinct fingerprints, distinct_ratio, the largest
    (band, value) bucket the pair join would self-join, and its corpus
    share — computed over dedup_simhash_det's deterministic 60-bit
    fingerprints (the same portable md5 hash on both engines, so DuckDB
    rebuilds identical signatures AND identical band buckets;
    bucket-size arithmetic is integer-exact).

    Scale shape: one distinct-token shuffle, one doc-keyed 60-sum
    map-side-combined aggregate, one (band, value) count — everything
    after tokenization is integers; the output is 5 scalars, so this
    runs at full corpus scale for the cost of one token pass."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                    " ",
                )
            ).alias("tok"),
        )
        .distinct()
        .select(
            "doc_id",
            F.expr("cast(conv(substr(md5(tok),1,15),16,10) as bigint)").alias(
                "h"
            ),
        )
    )
    sig = toks.groupBy("doc_id").agg(F.expr(_SIMHASH_DET_FP).alias("fp"))
    base = sig.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct_fp"),
    )
    bands = sig.select(
        F.explode(F.expr("array(0, 1, 2, 3)")).alias("j"), "fp"
    ).select("j", F.expr("(fp >> (15 * j)) & 32767").alias("bv"))
    mx = (
        bands.groupBy("j", "bv")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("max_band_bucket"))
    )
    return (
        base.crossJoin(F.broadcast(mx))
        .select(
            "n_docs",
            "n_distinct_fp",
            F.round(F.col("n_distinct_fp") / F.col("n_docs"), 6).alias(
                "distinct_ratio"
            ),
            "max_band_bucket",
            F.round(F.col("max_band_bucket") / F.col("n_docs"), 6).alias(
                "max_bucket_share"
            ),
        )
    )


DEDUP_SIGNATURE_HEALTH_ORACLE = r"""
WITH toks0 AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents),
toks AS (SELECT DISTINCT doc_id, tok FROM toks0),
hs AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) AS h FROM toks),
sig AS (SELECT doc_id, %s AS fp FROM hs GROUP BY doc_id),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp
  FROM sig),
bands AS (
  SELECT j, (fp >> (15 * j)) & 32767 AS bv
  FROM sig, range(0, 4) t(j)),
mx AS (
  SELECT CAST(max(n) AS BIGINT) AS max_band_bucket FROM (
    SELECT count(*) AS n FROM bands GROUP BY j, bv))
SELECT n_docs, n_distinct_fp,
       round(n_distinct_fp * 1.0 / n_docs, 6) AS distinct_ratio,
       max_band_bucket,
       round(max_band_bucket * 1.0 / n_docs, 6) AS max_bucket_share
FROM base, mx
""" % _SIMHASH_DET_FP


def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.4) blocked by
    hyperplane-LSH bucket (operators/similarity.lsh_cosine_dup_pairs) —
    the headline O(N·tables/2^planes·bucket) scale path. Bucket
    membership is not SQL-replicable → rows-only; recall ≥ 0.8 vs the
    exact all-pairs ground truth (dedup_embedding_exact) asserted in
    tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.lsh_cosine_dup_pairs(
        emb, dim=64, id_col="vec_id", vec_col="embedding", threshold=0.4,
        n_planes=3, n_tables=8,
    ).orderBy("a", "b")


def dedup_embedding_exact(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.4), exact all-pairs — the
    oracle ground truth / recall reference for dedup_embedding. The
    cartesian form is intentionally NOT the headline path; at scale use
    lsh_cosine_dup_pairs (or cosine_dup_pairs with a blocking scope)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4, dim=64).orderBy("a", "b")


def _rademacher_sign(seed: str, i: int) -> bool:
    """True ⇒ +1 for element i of the md5-seeded Rademacher plane —
    the ONE parity rule every det family derives from (terms for the
    SQL oracles, ±1.0 vectors for the Spark array form), so the sign
    scheme can never drift between engines or families."""
    import hashlib

    return bool(int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:15], 16) & 1)


def _rademacher_terms(
    seed: str, elem_fmt: str, dims: int = 64, offset: int = 0
) -> str:
    """±element term chain for one md5-seeded Rademacher hyperplane:
    sign(seed, i) = parity of the same 60-bit md5 integer both engines
    can compute, materialized here as inline +/- literals so the Spark
    and DuckDB expressions are textually derived from ONE generator and
    the dot product evaluates left-to-right identically in both.
    ``dims``/``offset`` carve a subspace plane (elements offset+1 ..
    offset+dims) for the PQ twins — ONE generator for every det query,
    so the sign scheme can never drift between families."""
    parts = []
    for i in range(dims):
        parts.append(
            ("+ " if _rademacher_sign(seed, i) else "- ")
            + elem_fmt.format(k=offset + i + 1)
        )
    return " ".join(parts)


def _rademacher_sign_vec(seed: str, dims: int = 64) -> list[float]:
    """The same plane as ±1.0 multipliers, for the Spark-side array
    form: `x + e·(+1.0)` and `x + e·(−1.0)` are IEEE-bit-identical to
    the textual `x + e` / `x − e` chains (sign-bit flip is exact), so
    a fold over zip_with(emb, signs) reproduces _rademacher_terms'
    left-to-right sum bit-for-bit. The array form exists because the
    inlined 64-term chains, replicated tables×planes times into ONE
    projection, overflow janino's 64 KB method limit — the failed
    whole-stage compile is retried (and re-fails) on EVERY execution,
    measured at 3× the query's actual work (OPTIMIZATION_r11.md
    Change 6)."""
    return [1.0 if _rademacher_sign(seed, i) else -1.0 for i in range(dims)]


def _sign_code(t: int, prefix: str, planes: int) -> str:
    """P-bit bucket id from the P plane-dot sign bits (columns
    ``{prefix}{t}_{p}``) — shared by every det LSH family."""
    return " + ".join(
        "(CASE WHEN %s%d_%d >= 0 THEN %d ELSE 0 END)" % (prefix, t, p, 1 << p)
        for p in range(planes)
    )


_EMB_DET_TABLES, _EMB_DET_PLANES = 8, 3


def _emb_det_code(t: int) -> str:
    return _sign_code(t, "d", _EMB_DET_PLANES)


def dedup_embedding_det(spark, sf_dir):
    """Deterministic hyperplane-LSH cosine dedup, the oracle-certified
    twin of dedup_embedding with the SAME amplification shape (8 tables
    × 3 planes, OR across tables): md5-seeded Rademacher hyperplanes
    give every vector a 3-bit sign code per table, same-(table, code)
    pairs are the candidates (one equi-join), and every candidate is
    verified with the exact cosine (≥ 0.4 on the 6dp-rounded value,
    both engines). The production dedup_embedding keeps impl-defined
    random planes (rows-only, recall ≥ 0.8 pytest); this twin pins the
    planes to md5 parity so DuckDB replays bucket membership
    bit-for-bit and the whole sketch→band→verify pipeline is
    value-checked — the third rows-only dedup family upgraded
    (minhash, simhash, embedding).

    The 24 plane dots are fixed 64-term ±emb[i] chains inlined from one
    Python generator into both engines — left-to-right IEEE addition,
    identical doubles (rounded 9dp before the sign regardless). Zero
    shuffles until the (table, code) equi-join; ids-only travel through
    the join and vectors re-attach for the verify via keyed equi-joins
    (shuffles proportional to candidates — never a pinned broadcast of
    the corpus-scale vector table), so at 100 TB the bucket shuffle
    carries 8 × (int, int) per vector and the verify stays
    candidate-bounded."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # plane dots via the sign-vector array form (bit-identical to
    # the inlined ±term chains the oracle uses — see
    # _rademacher_sign_vec): the 24 inlined 64-term chains overflowed
    # janino's 64 KB method limit, and with this projection under BOTH
    # sides of the self-join below the failed compile was paid 2× per
    # execution, every execution.
    _signs = S.nested_double_lit(
        [
            _rademacher_sign_vec(f"{t}:{p}")
            for t in range(_EMB_DET_TABLES)
            for p in range(_EMB_DET_PLANES)
        ]
    )
    dots = emb.select(
        "vec_id",
        F.transform(
            _signs,
            lambda s: F.round(
                F.aggregate(
                    F.zip_with(F.col("embedding"), s, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                9,
            ),
        ).alias("_d"),
    )
    codes = dots.select(
        "vec_id",
        *[
            sum(
                (
                    F.when(
                        F.element_at("_d", t * _EMB_DET_PLANES + p + 1) >= 0,
                        F.lit(1 << p),
                    ).otherwise(F.lit(0))
                    for p in range(_EMB_DET_PLANES)
                ),
                start=F.lit(0),
            ).alias(f"c{t}")
            for t in range(_EMB_DET_TABLES)
        ],
    )
    lng = codes.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"c{t}").alias("code")
                    )
                    for t in range(_EMB_DET_TABLES)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.t").alias("t"), F.col("x.code").alias("code"))
    l, r = lng.alias("l"), lng.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.code") == F.col("r.code"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .groupBy(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_tables"))
    )
    # keyed equi-joins, NOT pinned broadcasts: va/vb are corpus-scale
    # projections (a pinned broadcast of 10⁹×64 doubles cannot exist);
    # the joins shuffle proportionally to candidates + ids, and AQE
    # still picks broadcast at small scale on its own
    # norms once per corpus row on the O(n) projections, not per
    # candidate pair in the verify stage
    va = emb.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        S.norm("embedding", 64).alias("_na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        S.norm("embedding", 64).alias("_nb"),
    )
    return (
        pairs.join(va, "a")
        .join(vb, "b")
        .select(
            "a",
            "b",
            "n_tables",
            F.round(
                S.cosine_from_norms("va", "vb", "_na", "_nb", 64),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .orderBy("a", "b")
    )


DEDUP_EMBEDDING_DET_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
dots AS (
  SELECT vec_id,
%s
  FROM e),
codes AS (
  SELECT vec_id,
%s
  FROM dots),
lng AS (
%s),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b, count(*) AS n_tables
  FROM lng l JOIN lng r
    ON l.t = r.t AND l.code = r.code AND l.vec_id < r.vec_id
  GROUP BY 1, 2)
SELECT p.a, p.b, CAST(p.n_tables AS BIGINT) AS n_tables,
       round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cos_sim
FROM pairs p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b
WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= 0.4
ORDER BY a, b
""" % (
    ",\n".join(
        "         round(0 %s, 9) AS d%d_%d"
        % (_rademacher_terms(f"{t}:{p}", "emb[{k}]"), t, p)
        for t in range(_EMB_DET_TABLES)
        for p in range(_EMB_DET_PLANES)
    ),
    ",\n".join(
        "         %s AS c%d" % (_emb_det_code(t), t)
        for t in range(_EMB_DET_TABLES)
    ),
    " UNION ALL\n".join(
        "  SELECT vec_id, %d AS t, c%d AS code FROM codes" % (t, t)
        for t in range(_EMB_DET_TABLES)
    ),
)


def dedup_semantic(spark, sf_dir):
    """SemDeDup semantic dedup (operators/similarity.semantic_dedup):
    seeded k-means cells + within-cell cosine pairs (cos ≥ 0.4) +
    keep-smallest-id survivor labeling over every row. The quantizer is
    impl-defined (pyspark.ml KMeans) → rows-only; planted-duplicate and
    determinism pytests in tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4, n_cells=16
    ).orderBy("vec_id")


DEDUP_EMBEDDING_ORACLE = """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
ORDER BY a, b
"""


def scd2_merge_customers(spark, sf_dir):
    """SCD2 merge emulation (operators/scd.scd2_merge — MERGE INTO without
    a Delta/Iceberg dependency): promote every 7th customer's segment and
    insert synthetic new customers, producing closed + new + unchanged
    version rows. Fully deterministic → oracle-checked."""
    from ..operators.scd import scd2_merge

    cust = _t(spark, sf_dir, "customer")
    current = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_custkey").alias("k"), F.lit("PROMOTED").alias("seg"))
        .unionByName(
            cust.filter(F.col("c_custkey") < 50).select(
                (F.col("c_custkey") + 100000).alias("k"), F.lit("NEW").alias("seg")
            )
        )
    )
    merged = scd2_merge(
        current,
        updates,
        key="k",
        attrs=["seg"],
        change_ts=F.lit("2024-06-01 00:00:00").cast("timestamp"),
    )
    return merged.select(
        "k",
        "seg",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("vf"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("vt"),
    ).orderBy("k", "vf", F.col("vt").asc_nulls_first())


SCD2_ORACLE = """
WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
upd AS (
  SELECT c_custkey AS k, 'PROMOTED' AS seg FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 100000, 'NEW' FROM customer WHERE c_custkey < 50)
SELECT cur.k, cur.seg, '2024-01-01 00:00:00' AS vf, '2024-06-01 00:00:00' AS vt
FROM cur JOIN upd ON cur.k = upd.k WHERE cur.seg != upd.seg
UNION ALL
SELECT cur.k, cur.seg, '2024-01-01 00:00:00', NULL
FROM cur LEFT JOIN upd ON cur.k = upd.k WHERE upd.k IS NULL OR cur.seg = upd.seg
UNION ALL
SELECT upd.k, upd.seg, '2024-06-01 00:00:00', NULL
FROM upd JOIN cur ON cur.k = upd.k WHERE cur.seg != upd.seg
UNION ALL
SELECT upd.k, upd.seg, '2024-06-01 00:00:00', NULL
FROM upd LEFT JOIN cur ON cur.k = upd.k WHERE cur.k IS NULL
ORDER BY k, vf, vt ASC NULLS FIRST
"""


def text_js_divergence(spark, sf_dir):
    """Jensen–Shannon divergence (Lin, IEEE IT 1991) between every
    source's unigram distribution and the corpus-wide distribution —
    the bounded, symmetric corpus-shift measure used to score how far
    each crawl source sits from the mixture it feeds (pipeline_drift's
    PSI is binned and numeric; JS here is over the full vocabulary).
    JS(P‖M)+JS-term of M folds into 0.5·Σ p·ln(2p/(p+m)) + 0.5·Σ
    m·ln(2m/(p+m)) over the union support. Mechanism: one (source,
    term) count (the only corpus-scale shuffle) INNER-joined against the
    global term distribution; the global-side mass of terms OUTSIDE the
    source's support is folded in closed form as 0.5·ln2·(1−mcov) (for
    those terms p=0, so the p-side term vanishes and the m-side term is
    0.5·m·ln2 summed over the missing mass) — equivalent to a full-outer
    join with 0 defaults but without materializing |sources|×|vocab|
    zero rows; do NOT add the zero rows on top of the residual, that
    double-counts. Nats, 6dp."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("term"))
    per = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    src_tot = per.groupBy("source").agg(F.sum("c").alias("st"))
    glob = toks.groupBy("term").agg(F.count("*").alias("g"))
    gtot = glob.agg(F.sum("g").alias("gt"))
    joined = (
        per.join(src_tot, "source")
        .join(glob, "term")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            (F.col("c") / F.col("st")).alias("p"),
            (F.col("g") / F.col("gt")).alias("m"),
        )
    )
    # terms absent from a source contribute only the m-side mass of the
    # source's complement; account for it via the residual 1 - sum(m over
    # the source's support)
    half = F.lit(0.5)
    agg = joined.groupBy("source").agg(
        F.sum(half * F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("m")))).alias("_pterm"),
        F.sum(half * F.col("m") * F.log(2 * F.col("m") / (F.col("p") + F.col("m")))).alias("_mterm"),
        F.sum("m").alias("_mcov"),
    )
    # residual: Σ over terms NOT in source of 0.5·m·ln(2m/(0+m)) = 0.5·ln2·(1-mcov)
    import math

    js = (
        F.col("_pterm")
        + F.col("_mterm")
        + half * F.lit(math.log(2.0)) * (1 - F.col("_mcov"))
    )
    return agg.select(
        "source", F.round(js, 6).alias("js_divergence")
    ).orderBy("source")


TEXT_JS_DIVERGENCE_ORACLE = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
per AS (SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2),
src_tot AS (SELECT source, sum(c) AS st FROM per GROUP BY source),
gdist AS (SELECT term, count(*) AS g FROM toks GROUP BY term),
gtot AS (SELECT sum(g) AS gt FROM gdist),
joined AS (
  SELECT per.source, per.c * 1.0 / s.st AS p, gdist.g * 1.0 / gtot.gt AS m
  FROM per JOIN src_tot s ON per.source = s.source
  JOIN gdist ON per.term = gdist.term, gtot),
agg AS (
  SELECT source,
         sum(0.5 * p * ln(2 * p / (p + m))) AS _pterm,
         sum(0.5 * m * ln(2 * m / (p + m))) AS _mterm,
         sum(m) AS _mcov
  FROM joined GROUP BY source)
SELECT source,
       round(_pterm + _mterm + 0.5 * ln(2.0) * (1 - _mcov), 6)
         AS js_divergence
FROM agg ORDER BY source
"""


def events_markov_eval(spark, sf_dir):
    """Next-event prediction audit of the events_markov model: predict
    each transition's destination as the MOST LIKELY next type given
    the source type (argmax of the transition matrix, smallest-label
    tiebreak) and score accuracy per source type against the observed
    transitions — the held-in eval that says whether the first-order
    model beats the majority-class baseline (also reported). Same lag
    window as events_markov (the one fact-scale shuffle); the model,
    argmax and scoring all live on the |types|² cell table."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").cast("timestamp"), "event_id")
    pairs = (
        e.select(
            "user_id",
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .filter(F.col("dst_type").isNotNull())
    )
    cells = pairs.groupBy("src_type", "dst_type").agg(F.count(F.lit(1)).alias("n"))
    w_arg = W.partitionBy("src_type").orderBy(F.col("n").desc(), "dst_type")
    pred = (
        cells.withColumn("_rn", F.row_number().over(w_arg))
        .filter(F.col("_rn") == 1)
        .select("src_type", F.col("dst_type").alias("pred_type"))
    )
    glob = cells.groupBy("dst_type").agg(F.sum("n").alias("gn"))
    w_glob = W.orderBy(F.col("gn").desc(), "dst_type")
    base = (
        glob.withColumn("_rn", F.row_number().over(w_glob))
        .filter(F.col("_rn") == 1)
        .select(F.col("dst_type").alias("base_type"))
    )
    scored = cells.join(F.broadcast(pred), "src_type").crossJoin(F.broadcast(base))
    return (
        scored.groupBy("src_type")
        .agg(
            F.sum("n").alias("n_transitions"),
            F.round(
                F.sum(F.when(F.col("dst_type") == F.col("pred_type"), F.col("n")).otherwise(0))
                / F.sum("n"),
                6,
            ).alias("model_accuracy"),
            F.round(
                F.sum(F.when(F.col("dst_type") == F.col("base_type"), F.col("n")).otherwise(0))
                / F.sum("n"),
                6,
            ).alias("baseline_accuracy"),
        )
        .orderBy("src_type")
    )


EVENTS_MARKOV_EVAL_ORACLE = """
WITH pairs AS (
  SELECT event_type AS src_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst_type
  FROM events),
cells AS (
  SELECT src_type, dst_type, count(*) AS n
  FROM pairs WHERE dst_type IS NOT NULL GROUP BY 1, 2),
pred AS (
  SELECT src_type, dst_type AS pred_type FROM (
    SELECT *, row_number() OVER (PARTITION BY src_type
                                 ORDER BY n DESC, dst_type) AS _rn
    FROM cells) WHERE _rn = 1),
base AS (
  SELECT dst_type AS base_type FROM (
    SELECT dst_type, sum(n) AS gn,
           row_number() OVER (ORDER BY sum(n) DESC, dst_type) AS _rn
    FROM cells GROUP BY dst_type) WHERE _rn = 1)
SELECT c.src_type, CAST(sum(c.n) AS BIGINT) AS n_transitions,
       round(sum(CASE WHEN c.dst_type = p.pred_type THEN c.n ELSE 0 END) * 1.0
             / sum(c.n), 6) AS model_accuracy,
       round(sum(CASE WHEN c.dst_type = b.base_type THEN c.n ELSE 0 END) * 1.0
             / sum(c.n), 6) AS baseline_accuracy
FROM cells c JOIN pred p ON c.src_type = p.src_type, base b
GROUP BY c.src_type ORDER BY c.src_type
"""


def dedup_cluster_histogram(spark, sf_dir):
    """Duplication-tier histogram: how many exact-duplicate clusters
    have size 1, 2, 3, … and how much row mass sits in each tier — the
    'is duplication long-tailed or head-heavy' report read before
    choosing keep-one vs downweight policies (pipeline_dedup_rate gives
    the one-number rate; this is its full distribution). Two nested
    map-side-combined groupBys: fingerprint → cluster size → tier
    counts; output is ≤ max-cluster-size rows at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    sizes = docs.groupBy(TX.fingerprint(F.col("text")).alias("fp")).agg(
        F.count("*").alias("sz")
    )
    tot = sizes.agg(F.sum("sz").alias("t"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
            F.round(F.col("sz") * F.col("n_clusters") / F.col("t"), 6).alias(
                "doc_share"
            ),
        )
        .orderBy("cluster_size")
    )


DEDUP_CLUSTER_HISTOGRAM_ORACLE = r"""
WITH sizes AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         count(*) AS sz
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(sz) AS BIGINT) AS t FROM sizes)
SELECT sz AS cluster_size, count(*) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       round(sz * count(*) * 1.0 / min(tot.t), 6) AS doc_share
FROM sizes, tot GROUP BY sz ORDER BY cluster_size
"""


def sim_norm_profile(spark, sf_dir):
    """Embedding L2-norm profile per label (count / mean / min / max /
    stddev of vector norms): the 'are these normalized' sanity gate —
    cosine-based dedup and ANN assume unit-ish norms, and a label whose
    norm distribution drifts flags a broken encoder batch. One
    fold-per-row norm (JVM-side higher-order aggregate, zero shuffle)
    + one k-row reduce."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(F.stddev_samp("nrm"), 6).alias("std_norm"),
        )
        .orderBy("label")
    )


SIM_NORM_PROFILE_ORACLE = """
WITH per AS (
  SELECT label,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings)
SELECT label, count(*) AS n,
       round(avg(nrm), 6) AS mean_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(stddev_samp(nrm), 6) AS std_norm
FROM per GROUP BY label ORDER BY label
"""


def pipeline_ab_power(spark, sf_dir):
    """Sample-size / power planning for the next A/B run (classic
    two-proportion formula, e.g. Fleiss et al., 'Statistical Methods
    for Rates and Proportions'): from the OBSERVED control conversion
    rate of events_ab_test's arm A, the users-per-arm required to
    detect relative lifts of 2/5/10/20% at α=0.05 (two-sided),
    power=0.80 — n = (z_{α/2}+z_β)² · (p₁q₁+p₂q₂) / (p₁−p₂)². The
    planning artifact every experimentation stack publishes next to the
    readout. One per-user collapse + 1-row arithmetic exploded over the
    4 lift literals."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            / F.count("*")
            >= 0.2
        )
        .cast("int")
        .alias("conv"),
    )
    base = per_user.filter(F.pmod("user_id", F.lit(2)) == 0).agg(
        F.count("*").alias("n_a"),
        (F.sum("conv") / F.count("*")).alias("p1"),
    )
    lifted = base.select(
        "n_a",
        "p1",
        F.explode(F.array(F.lit(0.02), F.lit(0.05), F.lit(0.1), F.lit(0.2))).alias(
            "rel_lift"
        ),
    )
    z = 1.959963984540054 + 0.8416212335729143  # z_{0.975} + z_{0.80}
    p2 = F.col("p1") * (1 + F.col("rel_lift"))
    var = F.col("p1") * (1 - F.col("p1")) + p2 * (1 - p2)
    n_req = F.ceil(F.lit(z * z) * var / ((p2 - F.col("p1")) * (p2 - F.col("p1"))))
    return lifted.select(
        "rel_lift",
        "n_a",
        F.round("p1", 6).alias("p_control"),
        F.round(p2, 6).alias("p_treated"),
        n_req.cast("long").alias("n_per_arm"),
        (n_req <= F.col("n_a")).cast("int").alias("detectable_now"),
    ).orderBy("rel_lift")


PIPELINE_AB_POWER_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1.0
                   / count(*) >= 0.2 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id),
base AS (
  SELECT count(*) AS n_a, sum(conv) * 1.0 / count(*) AS p1
  FROM per_user WHERE user_id % 2 = 0),
lifts AS (SELECT unnest([0.02, 0.05, 0.1, 0.2]) AS rel_lift)
SELECT rel_lift, n_a,
       round(p1, 6) AS p_control,
       round(p1 * (1 + rel_lift), 6) AS p_treated,
       CAST(ceil((1.959963984540054 + 0.8416212335729143)
                 * (1.959963984540054 + 0.8416212335729143)
                 * (p1 * (1 - p1)
                    + p1 * (1 + rel_lift) * (1 - p1 * (1 + rel_lift)))
                 / ((p1 * (1 + rel_lift) - p1) * (p1 * (1 + rel_lift) - p1)))
            AS BIGINT) AS n_per_arm,
       CAST(ceil((1.959963984540054 + 0.8416212335729143)
                 * (1.959963984540054 + 0.8416212335729143)
                 * (p1 * (1 - p1)
                    + p1 * (1 + rel_lift) * (1 - p1 * (1 + rel_lift)))
                 / ((p1 * (1 + rel_lift) - p1) * (p1 * (1 + rel_lift) - p1)))
            <= n_a AS INT) AS detectable_now
FROM base, lifts ORDER BY rel_lift
"""


def profile_fd_check(spark, sf_dir):
    """Functional-dependency audit (the Deequ/'uniqueness-of' data-
    quality primitive): does fingerprint(text) determine lang, and does
    it determine source? A fingerprint group carrying >1 distinct label
    is LABEL NOISE — exact duplicates annotated inconsistently, the
    thing that silently poisons per-language sampling and eval splits.
    One fingerprint groupBy with two countDistincts (map-side partial),
    one 2-row summary: groups, violating groups, rows inside them."""
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(TX.fingerprint(F.col("text")).alias("fp")).agg(
        F.count("*").alias("n"),
        F.countDistinct("lang").alias("k_lang"),
        F.countDistinct("source").alias("k_source"),
    )

    def _row(label, kcol):
        return g.agg(
            F.lit(label).alias("dependency"),
            F.count("*").alias("n_groups"),
            F.sum((F.col(kcol) > 1).cast("int")).alias("n_violating"),
            F.sum(F.when(F.col(kcol) > 1, F.col("n")).otherwise(0)).alias(
                "rows_in_violation"
            ),
            F.round(
                F.sum((F.col(kcol) > 1).cast("int")) / F.count("*"), 6
            ).alias("violation_rate"),
        )

    return _row("fp->lang", "k_lang").unionByName(
        _row("fp->source", "k_source")
    ).orderBy("dependency")


PROFILE_FD_CHECK_ORACLE = r"""
WITH g AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         count(*) AS n,
         count(DISTINCT lang) AS k_lang,
         count(DISTINCT source) AS k_source
  FROM documents GROUP BY 1),
a AS (
  SELECT 'fp->lang' AS dependency, count(*) AS n_groups,
         CAST(sum(CASE WHEN k_lang > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         CAST(sum(CASE WHEN k_lang > 1 THEN n ELSE 0 END) AS BIGINT) AS rows_in_violation,
         round(sum(CASE WHEN k_lang > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS violation_rate
  FROM g),
b AS (
  SELECT 'fp->source', count(*),
         CAST(sum(CASE WHEN k_source > 1 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN k_source > 1 THEN n ELSE 0 END) AS BIGINT),
         round(sum(CASE WHEN k_source > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
  FROM g)
SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY dependency
"""


def sim_dedup_threshold_sweep(spark, sf_dir):
    """Near-dup threshold calibration: exact cosine dup-pair counts at a
    ladder of thresholds (0.95 / 0.9 / 0.8 / 0.6 / 0.4) from ONE
    all-pairs pass over the bounded embedding corpus — the table you
    read before picking the semantic-dedup cutoff (too low ⇒ purge
    distinct content, too high ⇒ keep near-dups). Each pair explodes
    into every rung it passes and a rung-keyed count gives
    pairs-at-or-above each threshold; a rung spine keeps EVERY ladder
    row present (a rung no pair reaches reads n_pairs=0 instead of
    silently vanishing from the calibration table). The certified
    cosine_dup_pairs kernel is the scale path (this calibration runs on
    a sample at 100 TB, exactly as here)."""
    from ..operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    ladder = (0.95, 0.9, 0.8, 0.6, 0.4)
    pairs = S.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4, dim=64)
    rungs = F.array(*[F.lit(t) for t in ladder])
    tagged = pairs.select(
        F.explode(F.filter(rungs, lambda t: F.col("cos_sim") >= t)).alias(
            "threshold"
        )
    )
    spine = spark.createDataFrame([(t,) for t in ladder], "threshold double")
    return (
        spine.join(
            tagged.groupBy("threshold").agg(F.count("*").alias("_n")),
            "threshold",
            "left",
        )
        .select("threshold", F.coalesce(F.col("_n"), F.lit(0)).alias("n_pairs"))
        .orderBy(F.col("threshold").desc())
    )


SIM_DEDUP_THRESHOLD_SWEEP_ORACLE = """
WITH pairs AS (
  SELECT round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
rungs AS (SELECT unnest([0.95, 0.9, 0.8, 0.6, 0.4]) AS threshold)
SELECT r.threshold,
       CAST(count(p.cos_sim) AS BIGINT) AS n_pairs
FROM rungs r LEFT JOIN pairs p ON p.cos_sim >= r.threshold
GROUP BY r.threshold ORDER BY r.threshold DESC
"""


def profile_constraints(spark, sf_dir):
    """Declarative data-quality constraint audit (dbt-test / Deequ
    shape): key uniqueness, not-null, referential integrity, and an
    accepted-range check, each emitted as one (constraint, n_violations)
    row. Everything folds into aggregates over two scans plus one
    anti-join probe for the FK — the audit costs O(data) once, not once
    per constraint."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    uniq = o.groupBy("o_orderkey").agg(F.count("*").alias("_n")).filter(
        F.col("_n") > 1
    )
    fk = o.join(c, o.o_custkey == c.c_custkey, "left_anti")

    def row(name, df_count):
        return df_count.select(
            F.lit(name).alias("check_name"),
            F.count("*").cast("long").alias("n_violations"),
        )

    nn = o.filter(F.col("o_orderdate").isNull() | F.col("o_custkey").isNull())
    rng = o.filter((F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1e7))
    return (
        row("pk_unique_orderkey", uniq)
        .unionAll(row("fk_orders_customer", fk))
        .unionAll(row("not_null_core_cols", nn))
        .unionAll(row("range_totalprice", rng))
        .orderBy("check_name")
    )


def stats_column_profile(spark, sf_dir):
    """CBO-style column statistics (the surface behind ANALYZE TABLE ...
    COMPUTE STATISTICS FOR COLUMNS; the reference's optimizer consumes
    the same stats via DataFusion's AggregateStatistics rule,
    execution_stage.rs:252-253): per-column row count, null count,
    exact NDV, and min/max rendered as strings for a uniform schema.
    One scan, everything folds into a single aggregate — O(data) once
    for all columns, map-side combined."""
    o = _t(spark, sf_dir, "orders")

    def prof(name, col, fmt):
        return o.select(
            F.lit(name).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
            F.countDistinct(col).alias("ndv"),
            fmt(F.min(col)).alias("min_s"),
            fmt(F.max(col)).alias("max_s"),
        )

    s = lambda c: c.cast("string")
    money = lambda c: F.format_string("%.2f", c)
    return (
        prof("o_custkey", F.col("o_custkey"), s)
        .unionAll(prof("o_orderdate", F.col("o_orderdate"), s))
        .unionAll(prof("o_orderpriority", F.col("o_orderpriority"), s))
        .unionAll(prof("o_totalprice", F.col("o_totalprice"), money))
        .orderBy("col_name")
    )


STATS_COLUMN_PROFILE_ORACLE = """
SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT o_custkey) AS ndv,
       CAST(min(o_custkey) AS VARCHAR) AS min_s, CAST(max(o_custkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderdate),
       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*),
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderpriority),
       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_totalprice),
       printf('%.2f', min(o_totalprice)), printf('%.2f', max(o_totalprice))
FROM orders
ORDER BY col_name
"""


def stats_histogram(spark, sf_dir):
    """Exact equi-depth histogram of l_extendedprice in 8 buckets (the
    complement of profile_histogram's equi-WIDTH bins) — the
    histogram statistic CBO join/selectivity estimation consumes
    (Spark keeps the approximate version under
    spark.sql.statistics.histogram.enabled; the certified variant uses
    EXACT percentile boundaries so DuckDB reproduces it bit-for-bit).
    Boundaries come from the rank-selection exact percentile
    (operators/aggregates.exact_percentiles_ranked — bit-equal to
    F.percentile but distributed-sort-shaped instead of the built-in's
    single-buffer counts-map merge, which was both the sf0.1 bottleneck
    at 583k distinct values and the piece that cannot hold 100 TB of
    distinct doubles in one aggregation buffer); each row's bucket is
    1 + #(boundaries < v) — the 7 broadcast cut points compared in an
    unrolled codegen'd expression (the F.aggregate HOF fold is
    CodegenFallback), then one map-side-combined
    groupBy on the bucket id over the spread scan (the sf0.1 parquet
    arrives as 3 row-group partitions; spread_small_scan is a no-op at
    scale)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    ps = [i / 8.0 for i in range(1, 8)]
    bounds = AGG.exact_percentiles_ranked(li, "v", ps)
    bucket = F.lit(1)
    for i in range(1, len(ps) + 1):
        bucket = bucket + F.when(F.col("v") > F.element_at("bs", i), 1).otherwise(0)
    bucketed = S.spread_small_scan(li).crossJoin(F.broadcast(bounds)).select(
        bucket.alias("bucket"),
        "v",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


STATS_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT quantile_cont(l_extendedprice,
                       [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
  FROM lineitem),
assigned AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v,
         1 + (SELECT count(*) FROM unnest((SELECT bs FROM b)) AS u(bd)
              WHERE bd < CAST(l_extendedprice AS DOUBLE)) AS bucket
  FROM lineitem)
SELECT bucket, count(*) AS n_rows,
       round(min(v), 2) AS lo, round(max(v), 2) AS hi
FROM assigned GROUP BY bucket ORDER BY bucket
"""


def stats_skew_profile(spark, sf_dir):
    """Join-key skew audit — the pre-flight check before launching a
    big shuffle (decides salting factor / AQE skew-join thresholds at
    100 TB): per candidate key, total rows, NDV, the hottest key's row
    count and share, exact p50/p99 of the per-key row counts, and the
    max/median skew ratio. Two-phase groupBy per key builds the
    vocabulary-sized count table; all percentiles run on THAT table
    (never the fact table). One scan per profiled key."""

    def prof(df, name, col):
        counts = df.groupBy(F.col(col).alias("k")).agg(F.count("*").alias("c"))
        return counts.agg(
            F.lit(name).alias("key_col"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").alias("ndv"),
            F.max("c").alias("top_key_rows"),
            F.round(F.max("c") / F.sum("c"), 6).alias("top_share"),
            F.round(F.percentile("c", F.lit(0.5)), 2).alias("p50_rows"),
            F.round(F.percentile("c", F.lit(0.99)), 2).alias("p99_rows"),
            F.round(F.max("c") / F.percentile("c", F.lit(0.5)), 4).alias("skew_ratio"),
        )

    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    return (
        prof(li, "l_orderkey", "l_orderkey")
        .unionAll(prof(li, "l_suppkey", "l_suppkey"))
        .unionAll(prof(ev, "user_id", "user_id"))
        .orderBy("key_col")
    )


def _skew_oracle_one(table: str, name: str, col: str) -> str:
    return f"""
SELECT '{name}' AS key_col,
       CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS ndv,
       max(c) AS top_key_rows,
       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_share,
       round(quantile_cont(c, 0.5), 2) AS p50_rows,
       round(quantile_cont(c, 0.99), 2) AS p99_rows,
       round(max(c) / quantile_cont(c, 0.5), 4) AS skew_ratio
FROM (SELECT {col} AS k, count(*) AS c FROM {table} GROUP BY {col})"""


STATS_SKEW_PROFILE_ORACLE = (
    _skew_oracle_one("lineitem", "l_orderkey", "l_orderkey")
    + "\nUNION ALL\n"
    + _skew_oracle_one("lineitem", "l_suppkey", "l_suppkey")
    + "\nUNION ALL\n"
    + _skew_oracle_one("events", "user_id", "user_id")
    + "\nORDER BY key_col"
)


def text_bpe_merges(spark, sf_dir):
    """First-8 BPE merge discovery over the corpus (operators/
    text.bpe_merges; Sennrich et al. 2016) — tokenizer-vocabulary
    induction as a certified query: the merge sequence is exactly
    reproducible (integer pair frequencies, freq-DESC/pair-ASC
    tie-break), so the DuckDB oracle unrolls the same 8 rounds over the
    same word-frequency table and must produce the identical merge
    table. One corpus-wide shuffle total; every round after it runs on
    the vocabulary-sized symbol table."""
    d = _t(spark, sf_dir, "documents")
    return TX.bpe_merges(d, "doc_id", "text", num_merges=8)


def _bpe_oracle(k: int = 8) -> str:
    rounds = []
    sel = []
    prev = "t0"
    for i in range(1, k + 1):
        rounds.append(
            f"""p{i} AS MATERIALIZED (
  SELECT pr, CAST(sum(c) AS BIGINT) AS f FROM (
    SELECT unnest(list_transform(range(1, len(str_split(s, ' '))),
                  j -> str_split(s, ' ')[j] || ' ' || str_split(s, ' ')[j + 1])) AS pr,
           c
    FROM {prev} WHERE len(str_split(s, ' ')) >= 2)
  GROUP BY pr),
m{i} AS MATERIALIZED (SELECT pr, f FROM p{i} ORDER BY f DESC, pr LIMIT 1),
t{i} AS MATERIALIZED (
  SELECT regexp_replace(s, '\\b' || (SELECT pr FROM m{i}) || '\\b',
                        replace((SELECT pr FROM m{i}), ' ', ''), 'g') AS s, c
  FROM {prev})"""
        )
        sel.append(f"SELECT {i} AS merge_rank, pr AS pair, f AS freq FROM m{i}")
        prev = f"t{i}"
    joined_rounds = ",\n".join(rounds)
    joined_sel = "\nUNION ALL\n".join(sel)
    return f"""
WITH words AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents)
  WHERE length(w) BETWEEN 1 AND 20 GROUP BY w),
t0 AS MATERIALIZED (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, c FROM words),
{joined_rounds}
{joined_sel}
ORDER BY merge_rank
"""


TEXT_BPE_MERGES_ORACLE = _bpe_oracle()


# Ordered merge table for the encoding-side certification. Fixed (not
# corpus-derived) so the oracle can unroll the identical chain; rank
# order IS application order, so "th e" follows "t h".
_BPE_ENC_MERGES = [
    "t h", "i n", "a n", "e r", "th e", "o n", "r e", "an d",
]


def text_bpe_encode(spark, sf_dir):
    """BPE encoding over the corpus with a fixed 8-merge table
    (operators/text.bpe_encode; Sennrich et al. 2016 / GPT-2 encoder
    merge loop) — the tokenizer's serving-side hot path as a certified
    query: greedy rank-order merge application over the distinct-word
    vocabulary, corpus token frequencies carried through the word
    counts. One corpus-wide shuffle (the word groupBy); the k merges
    are one codegen'd projection over the vocab-sized table."""
    d = _t(spark, sf_dir, "documents")
    return TX.bpe_encode(d, "doc_id", "text", merges=_BPE_ENC_MERGES)


def _bpe_encode_oracle(merges) -> str:
    expr = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for pair in merges:
        expr = (
            "regexp_replace(" + expr + ", '\\b" + pair + "\\b', '"
            + pair.replace(" ", "") + "', 'g')"
        )
    return f"""
WITH words AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents)
  WHERE length(w) BETWEEN 1 AND 20 GROUP BY w),
enc AS (SELECT str_split({expr}, ' ') AS toks, c FROM words)
SELECT token, CAST(sum(c) AS BIGINT) AS freq,
       CAST(count(*) AS BIGINT) AS n_words
FROM (SELECT unnest(toks) AS token, c FROM enc)
GROUP BY token
ORDER BY freq DESC, token
"""


TEXT_BPE_ENCODE_ORACLE = _bpe_encode_oracle(_BPE_ENC_MERGES)


def stats_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations over lineitem's four numeric
    measures — the column-correlation statistic a CBO consumes for
    correlated-predicate selectivity (and an ablation-analysis staple).
    All six pairs fold into ONE aggregate pass (each corr is a set of
    map-side-combinable moment sums), then `stack` unpivots the single
    result row into (col_a, col_b, corr6) rows — one scan, one 1-row
    exchange, no matter how many columns; at 100 TB this is the same
    plan with bigger partial-agg buffers."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"c{i}") for i, (a, b) in enumerate(pairs)
    ]
    stacked = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .agg(*aggs)
        .select(
            F.expr(f"stack({len(pairs)}, {stacked}) AS (col_a, col_b, corr6)")
        )
        .orderBy("col_a", "col_b")
    )


def _corr_matrix_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    sel = ",\n       ".join(
        f"round(corr({a}, {b}), 6) AS c{i}" for i, (a, b) in enumerate(pairs)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, c{i} AS corr6 FROM s"
        for i, (a, b) in enumerate(pairs)
    )
    return f"WITH s AS (\n  SELECT {sel}\n  FROM lineitem)\n{rows}\nORDER BY col_a, col_b"


STATS_CORR_MATRIX_ORACLE = _corr_matrix_oracle()


def text_phrase_search(spark, sf_dir):
    """Exact-phrase retrieval over the corpus: per-document occurrence
    count of the 2-token phrase "table hash" via the positional
    inverted-index join (operators/text.phrase_search — postings of the
    query terms only enter the shuffle). The oracle replays the same
    token-position logic in SQL (ordinality emulated with
    generate_series), so the index-join plan is value-certified against
    a direct positional scan."""
    docs = _t(spark, sf_dir, "documents")
    return TX.phrase_search(docs, "doc_id", "text", "table hash").orderBy(
        "doc_id"
    )


TEXT_PHRASE_SEARCH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
p AS (
  SELECT doc_id, t[i] AS term, i AS ord
  FROM toks, unnest(generate_series(1, len(t))) AS u(i))
SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
WHERE a.term = 'table' AND b.term = 'hash'
GROUP BY a.doc_id ORDER BY a.doc_id
"""


def dedup_bloom_gate(spark, sf_dir):
    """Incremental batch-vs-corpus exact dedup behind a Bloom prefilter
    (operators/bloom.bloom_prefilter_dedup): the corpus folds to a
    2^17-bit Bloom over normalized-text fingerprints; only batch rows
    the filter flags reach the exact fingerprint join. The final
    ``is_dup`` verdict is EXACT — the Bloom can only shrink the verify
    join's input, and its false positives die in the exact join — so
    the whole gate value-certifies against a plain SQL anti/semi join
    even though the filter's xxhash bit array is not SQL-replayable.
    Batch: every doc_id%10==0 doc verbatim (must flag dup) and %10==1
    with ' v2' appended (must pass as new). At 10^10-key corpora this
    is the shape that works when the exact key set cannot broadcast:
    the Bloom is KBs, the join input shrinks to |hits|."""
    from ..operators import bloom as B

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter("doc_id % 10 < 2").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1, F.concat("text", F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = B.bloom_prefilter_dedup(docs, batch, "doc_id", "text")
    return out.select(
        "batch_id", F.col("is_dup").cast("int").alias("is_dup")
    ).orderBy("batch_id")


DEDUP_BLOOM_GATE_ORACLE = r"""
WITH fps AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents),
batch AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 < 2),
b AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM batch)
SELECT b.doc_id AS batch_id,
       CASE WHEN fps.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
FROM b LEFT JOIN fps ON b.fp = fps.fp
ORDER BY batch_id
"""


def text_ngram_novelty(spark, sf_dir):
    """Per-document novelty: the fraction of a document's DISTINCT word
    trigrams that appear in no other document — the continuous
    dedup-spectrum signal (exact dup ≈ 0, boilerplate-heavy low,
    original text ≈ 1) a curation pipeline thresholds between the
    binary dedup ops and quality scores.

    Shape: one distinct (doc, gram) projection, one gram-keyed
    document-frequency aggregate (map-side combined), one join back —
    two gram-keyed shuffles total, both over distinct pairs, never raw
    token streams. The gram travels as its string here so DuckDB can
    replay it; at 100 TB shuffle xxhash64(gram) instead (the
    hashes-not-strings rule of dedup_minhash) — same plan, 8-byte
    keys."""
    docs = _t(spark, sf_dir, "documents")
    n = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    t = F.split(n, " ")
    # word trigrams via one native-regex pass — same rewrite (and same
    # exact-equivalence argument) as dedup_minhash_det; measured:
    # 14.4/13.2 s → ~4/3 s (the HOF form re-evaluated its lambda per
    # gram inside GenerateExec)
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(t) >= 3,
                    F.regexp_extract_all(n, F.lit(r"(?<![^ ])(?=(\S+ \S+ \S+))"), 1),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
    )
    df_counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("df")
    )
    per_doc = (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel") / F.col("n_grams"), F.lit(0.0)), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


TEXT_NGRAM_NOVELTY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
dfc AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
per_doc AS (
  SELECT g.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM grams g JOIN dfc ON g.gram = dfc.gram GROUP BY g.doc_id)
SELECT d.doc_id AS doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_novel, 0) AS n_novel,
       round(coalesce(p.n_novel * 1.0 / p.n_grams, 0.0), 6) AS novelty
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


def stats_chi2(spark, sf_dir):
    """Chi-square test of independence + Cramér's V over the same
    lang × source contingency table as stats_mutual_info — the
    frequentist complement (effect size on a [0,1] scale lets mixture
    audits compare corpora of different sizes). One corpus shuffle for
    the joint counts; χ² = Σ (o−e)²/e with e = n_x·n_y/N over the tiny
    table; dof and Cramér's V from the marginal cardinalities. Exact
    integer counts → identical closed-form doubles on both engines."""
    docs = _t(spark, sf_dir, "documents")
    j = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    j = (
        j.withColumn("tot", F.sum("n").over(W.partitionBy()))
        .withColumn("nx", F.sum("n").over(W.partitionBy("lang")))
        .withColumn("ny", F.sum("n").over(W.partitionBy("source")))
        .withColumn("kx", F.size(F.collect_set("lang").over(W.partitionBy())))
        .withColumn("ky", F.size(F.collect_set("source").over(W.partitionBy())))
    )
    e = F.col("nx") * F.col("ny") / F.col("tot")
    cell = ((F.col("n") - e) ** 2 / e).alias("chi_t")
    return j.select(
        cell, "tot", "kx", "ky"
    ).agg(
        F.round(F.sum("chi_t"), 6).alias("chi2"),
        ((F.first("kx") - 1) * (F.first("ky") - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                F.sum("chi_t")
                / (F.first("tot") * F.least(F.first("kx") - 1, F.first("ky") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


STATS_CHI2_ORACLE = """
WITH j AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
m AS (
  SELECT n,
         sum(n) OVER () AS tot,
         sum(n) OVER (PARTITION BY lang) AS nx,
         sum(n) OVER (PARTITION BY source) AS ny,
         (SELECT count(DISTINCT lang) FROM documents) AS kx,
         (SELECT count(DISTINCT source) FROM documents) AS ky
  FROM j),
t AS (
  SELECT pow(n - nx * 1.0 * ny / tot, 2) / (nx * 1.0 * ny / tot) AS chi_t,
         tot, kx, ky
  FROM m)
SELECT round(sum(chi_t), 6) AS chi2,
       CAST((max(kx) - 1) * (max(ky) - 1) AS BIGINT) AS dof,
       round(sqrt(sum(chi_t) / (max(tot) * least(max(kx) - 1, max(ky) - 1))), 6)
         AS cramers_v
FROM t
"""


def text_script_profile(spark, sf_dir):
    """Per-document Unicode-script composition (Latin / digit / CJK
    counts and fractions) + dominant-script classification — the
    routing signal a multilingual curation pipeline applies before
    language-specific tokenizers (CJK text has no whitespace word
    boundaries; langid stopword lists assume Latin). Pure column
    regexes — narrow, scan-speed, zero shuffle at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_latin = F.regexp_count(t, F.lit(r"[A-Za-z]"))
    n_digit = F.regexp_count(t, F.lit(r"[0-9]"))
    n_cjk = F.regexp_count(t, F.lit(r"[一-鿿]"))
    total = F.greatest(F.length(t), F.lit(1))
    return docs.select(
        "doc_id",
        "lang",
        n_latin.alias("n_latin"),
        n_digit.alias("n_digit"),
        n_cjk.alias("n_cjk"),
        F.round(n_latin / total, 6).alias("frac_latin"),
        F.round(n_cjk / total, 6).alias("frac_cjk"),
        # zero Latin+digit+CJK (Cyrillic/Arabic/emoji/empty text) is its
        # own routing class — the old tie-break sent it to the CJK
        # tokenizer
        F.when(
            (n_latin == 0) & (n_digit == 0) & (n_cjk == 0), F.lit("other")
        )
        .when((n_cjk >= n_latin) & (n_cjk >= n_digit), F.lit("cjk"))
        .when(n_latin >= n_digit, F.lit("latin"))
        .otherwise(F.lit("digit"))
        .alias("dominant"),
    ).orderBy("doc_id")


TEXT_SCRIPT_PROFILE_ORACLE = r"""
WITH c AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_latin,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk,
         greatest(length(text), 1) AS total
  FROM documents)
SELECT doc_id, lang, n_latin, n_digit, n_cjk,
       round(n_latin * 1.0 / total, 6) AS frac_latin,
       round(n_cjk * 1.0 / total, 6) AS frac_cjk,
       CASE WHEN n_latin = 0 AND n_digit = 0 AND n_cjk = 0 THEN 'other'
            WHEN n_cjk >= n_latin AND n_cjk >= n_digit THEN 'cjk'
            WHEN n_latin >= n_digit THEN 'latin'
            ELSE 'digit' END AS dominant
FROM c ORDER BY doc_id
"""


def text_readability(spark, sf_dir):
    """Flesch reading-ease per document from deterministic counts:
    sentences = [.!?]+ runs, words = whitespace tokens, syllables ≈
    [aeiouy]+ vowel groups in the lowercased text (the standard
    regex-only approximation). A curation pipeline thresholds this to
    skim too-simple / degenerate text the stopword-based quality score
    misses. Pure column regexes — zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    words = F.greatest(
        F.regexp_count(F.trim(t), F.lit(r"\S+")), F.lit(1)
    )
    syll = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (syll / words)
    )
    return docs.select(
        "doc_id",
        sents.cast("bigint").alias("n_sents"),
        words.cast("bigint").alias("n_words"),
        syll.cast("bigint").alias("n_syll"),
        F.round(flesch, 4).alias("flesch"),
    ).orderBy("doc_id")


TEXT_READABILITY_ORACLE = r"""
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
         greatest(len(regexp_extract_all(trim(text), '\S+')), 1) AS n_words,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
  FROM documents)
SELECT doc_id, n_sents, n_words, n_syll,
       round(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                     - 84.6 * (n_syll * 1.0 / n_words), 4) AS flesch
FROM c ORDER BY doc_id
"""


def text_code_detect(spark, sf_dir):
    """Code-vs-prose heuristic: density of code punctuation
    ({}();=<>[]) plus programming-keyword hits — the filter that keeps
    (or routes) source code in a web-scale training corpus. Score =
    0.6·min(10·punct_density, 1) + 0.4·keyword_hit; is_code at 0.5.
    Pure column expressions, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_code = F.regexp_count(t, F.lit(r"[{}();=<>\[\]]"))
    density = n_code / F.greatest(F.length(t), F.lit(1))
    has_kw = (
        F.regexp_count(
            t, F.lit(r"\b(def|return|function|var|class|import|void|int)\b")
        )
        > 0
    ).cast("int")
    score = F.round(
        F.lit(0.6) * F.least(density * 10, F.lit(1.0)) + F.lit(0.4) * has_kw, 6
    )
    return docs.select(
        "doc_id",
        n_code.cast("bigint").alias("n_code_chars"),
        F.round(density, 6).alias("code_density"),
        has_kw.alias("has_kw"),
        score.alias("code_score"),
        (score > 0.5).cast("int").alias("is_code"),
    ).orderBy("doc_id")


TEXT_CODE_DETECT_ORACLE = r"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS n_code,
         greatest(length(text), 1) AS total,
         CASE WHEN regexp_matches(text,
              '\b(def|return|function|var|class|import|void|int)\b')
              THEN 1 ELSE 0 END AS has_kw
  FROM documents),
s AS (
  SELECT doc_id, n_code, has_kw,
         round(n_code * 1.0 / total, 6) AS code_density,
         round(0.6 * least(n_code * 10.0 / total, 1.0) + 0.4 * has_kw, 6)
           AS code_score
  FROM c)
SELECT doc_id, CAST(n_code AS BIGINT) AS n_code_chars, code_density, has_kw,
       code_score,
       CASE WHEN code_score > 0.5 THEN 1 ELSE 0 END AS is_code
FROM s ORDER BY doc_id
"""


def stats_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov statistic between the document-
    length (n_chars) distributions of two sources — the exact
    distribution-drift test that complements pipeline_drift's binned
    PSI (KS needs no bin choice, so it catches shape drift PSI's bins
    can hide). D = max |ECDF_a − ECDF_b| over the merged support, plus
    the sample-size-scaled statistic sqrt(nm/(n+m))·D.

    Shape: one groupBy over the two sources' (n_chars, source) pairs;
    the ECDF cumulative window runs over the DISTINCT-value table
    (support size, not corpus size) — at 100 TB bucket the support
    first if it is high-cardinality. Counts are exact integers; the
    division grid is identical on both engines (rounded 6dp)."""
    docs = _t(spark, sf_dir, "documents")
    two = docs.filter(F.col("source").isin("src0", "src1"))
    cells = two.groupBy("n_chars").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("cb"),
    )
    wcum = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    ecdf = cells.select(
        (F.sum("ca").over(wcum) / F.sum("ca").over(wall)).alias("fa"),
        (F.sum("cb").over(wcum) / F.sum("cb").over(wall)).alias("fb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return ecdf.agg(
        F.first("na").alias("n_a"),
        F.first("nb").alias("n_b"),
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_d"),
        F.round(
            F.max(F.abs(F.col("fa") - F.col("fb")))
            * F.sqrt(
                F.first("na") * F.first("nb")
                / (F.first("na") + F.first("nb"))
            ),
            6,
        ).alias("ks_scaled"),
    )


STATS_KS_TEST_ORACLE = """
WITH cells AS (
  SELECT n_chars,
         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
  FROM documents WHERE source IN ('src0', 'src1') GROUP BY n_chars),
ecdf AS (
  SELECT sum(ca) OVER (ORDER BY n_chars) * 1.0 / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY n_chars) * 1.0 / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM cells)
SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       round(max(abs(fa - fb)), 6) AS ks_d,
       round(max(abs(fa - fb)) * sqrt(max(na) * max(nb) * 1.0 / (max(na) + max(nb))), 6) AS ks_scaled
FROM ecdf
"""


def stats_mannwhitney(spark, sf_dir):
    """Two-sample Mann–Whitney U rank-sum test (Mann & Whitney 1947)
    between the document-length (n_chars) distributions of two sources —
    the rank-based drift test that complements stats_ks_test: U is
    outlier-proof and measures stochastic dominance (one corpus tending
    longer overall), which KS's single-max-gap statistic under-weights.

    Shape mirrors stats_ks_test: one groupBy collapses the corpus to the
    distinct-value support; tie-averaged ranks come from one cumulative
    window over that tiny table. All rank arithmetic stays exact —
    2·R_a = Σ ca·(2·cum − t + 1) is an integer, so U_a = (2·R_a −
    na(na+1))/2 is exact to the half — until the final one-row z
    expression (normal approximation with the textbook tie-corrected
    variance na·nb/12·((N+1) − Σ(t³−t)/(N(N−1))), no continuity
    correction), so both engines compute identical doubles (6dp)."""
    docs = _t(spark, sf_dir, "documents")
    two = docs.filter(F.col("source").isin("src0", "src1"))
    cells = two.groupBy("n_chars").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("cb"),
    )
    wcum = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, 0)
    t = F.col("ca") + F.col("cb")
    ranked = cells.select(
        "ca", t.alias("t"), F.sum(t).over(wcum).alias("cum")
    )
    agg = ranked.agg(
        F.sum(F.col("ca") * (2 * F.col("cum") - F.col("t") + 1)).alias("ra2"),
        F.sum("ca").alias("na"),
        F.sum(F.col("t") - F.col("ca")).alias("nb"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    na, nb, ra2, tie3 = F.col("na"), F.col("nb"), F.col("ra2"), F.col("tie3")
    n = na + nb
    u_a = (ra2 - na * (na + 1)) / F.lit(2.0)
    var = (na * nb / F.lit(12.0)) * ((n + 1) - tie3 / (n * (n - 1)))
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(u_a, 1).alias("u_a"),
        F.round(na * nb - u_a, 1).alias("u_b"),
        F.round((u_a - na * nb / F.lit(2.0)) / F.sqrt(var), 6).alias("z_mw"),
    )


STATS_MANNWHITNEY_ORACLE = """
WITH cells AS (
  SELECT n_chars,
         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
  FROM documents WHERE source IN ('src0', 'src1') GROUP BY n_chars),
ranked AS (
  SELECT ca, ca + cb AS t,
         sum(ca + cb) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cells),
a AS (
  SELECT sum(ca * (2 * cum - t + 1)) AS ra2,
         sum(ca) AS na, sum(t - ca) AS nb,
         sum(t * t * t - t) AS tie3
  FROM ranked)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round((ra2 - na * (na + 1)) / 2.0, 1) AS u_a,
       round(na * nb - (ra2 - na * (na + 1)) / 2.0, 1) AS u_b,
       round(((ra2 - na * (na + 1)) / 2.0 - na * nb / 2.0)
             / sqrt((na * nb / 12.0)
                    * ((na + nb + 1) - tie3 * 1.0 / ((na + nb) * (na + nb - 1)))), 6) AS z_mw
FROM a
"""


def stats_autocorr(spark, sf_dir):
    """Lag-1/2/3 autocorrelation of the OBSERVED hourly event-count
    series per event type — the time-series diagnostic behind traffic
    seasonality checks and anomaly-detector window sizing (a high lag-1
    ACF says smoothing helps; all-flat ACF says the series is white
    noise).

    Lag semantics: lag-k means k OBSERVED hourly rows back, not k
    wall-clock hours — hours with zero events are absent from the
    series, so across a quiet gap a "lag-1" pair spans the gap (the
    rolling-median ROWS-frame convention, events_rolling_median). The
    oracle computes the identical row-lag quantity; a calendar-true ACF
    would gap-fill a zero-count hour spine first (events_gapfill).

    One groupBy builds the hourly series (map-side combined), one
    event_type-keyed window pass emits the three lags (hours are unique
    per type, so lag order is total), a codegen'd stack unpivots to
    (lag_k, x, xl), and Pearson corr runs per (type, lag) — both engines
    use the same co-moment corr over identical doubles, rounded 6dp.
    State is per-type-hour counts: bounded by the time span, never by
    event volume."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        F.col("c").cast("double").alias("x"),
        F.lag("c", 1).over(w).cast("double").alias("l1"),
        F.lag("c", 2).over(w).cast("double").alias("l2"),
        F.lag("c", 3).over(w).cast("double").alias("l3"),
    )
    un = lagged.select(
        "event_type",
        F.expr("stack(3, 1, x, l1, 2, x, l2, 3, x, l3) AS (lag_k, x, xl)"),
    ).filter(F.col("xl").isNotNull())
    return (
        un.groupBy("event_type", "lag_k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("x", "xl"), 6).alias("acf"),
        )
        .orderBy("event_type", "lag_k")
    )


STATS_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, CAST(c AS DOUBLE) AS x,
         CAST(lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS l1,
         CAST(lag(c, 2) OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS l2,
         CAST(lag(c, 3) OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS l3
  FROM hourly),
un AS (
  SELECT event_type, 1 AS lag_k, x, l1 AS xl FROM lagged UNION ALL
  SELECT event_type, 2, x, l2 FROM lagged UNION ALL
  SELECT event_type, 3, x, l3 FROM lagged)
SELECT event_type, lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(x, xl), 6) AS acf
FROM un WHERE xl IS NOT NULL
GROUP BY event_type, lag_k ORDER BY event_type, lag_k
"""


def stats_spearman(spark, sf_dir):
    """Spearman rank correlation (tie-corrected, average ranks) between
    document length and lexical diversity (distinct-token ratio) — the
    monotone-dependence complement to Pearson for curation scatter
    audits, robust to the heavy length tails where Pearson is dragged
    by outliers. Longer docs repeat vocabulary, so ρ is expected
    negative; both coefficients are reported so the contrast is itself
    the artifact.

    Scale shape (the stats_mannwhitney pattern): NO window ever touches
    the per-document table. Each axis collapses to its distinct-value
    SUPPORT via a map-side-combined groupBy; tie-averaged ranks come
    from one cumulative window over that tiny cells table using the
    identity avg_rank = cum − (t−1)/2 (cum = running Σt ordered by
    value; equals rank + (t−1)/2, integer-exact ×2). The value→rank
    maps join back to the per-doc rows on the value key (support-sized
    build sides — AQE broadcasts them), then one Pearson corr over the
    rank pairs (map-side co-moments), 6dp. The prior form ranked the
    per-doc table itself through an unpartitioned window — a
    single-partition funnel of the whole corpus at scale."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    per = docs.select(
        F.col("doc_id"),
        F.size(toks).alias("x"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 9
        ).alias("y"),
    )

    def _rank_map(col):
        cells = per.groupBy(col).agg(F.count(F.lit(1)).alias("_t"))
        wcum = W.orderBy(col).rowsBetween(W.unboundedPreceding, 0)
        return cells.select(
            col,
            (
                F.sum("_t").over(wcum) - (F.col("_t") - 1) / 2.0
            ).alias(f"r{col}"),
        )

    ranked = per.join(_rank_map("x"), "x").join(_rank_map("y"), "y")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho"),
        F.round(
            F.corr(F.col("x").cast("double"), F.col("y")), 6
        ).alias("pearson_r"),
    )


STATS_SPEARMAN_ORACLE = r"""
WITH per AS (
  SELECT doc_id,
         len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS x,
         round(len(list_distinct(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))
               * 1.0 / len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 9) AS y
  FROM documents),
ranked AS (
  SELECT x, y,
         rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
         rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
  FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(corr(rx, ry), 6) AS spearman_rho,
       round(corr(CAST(x AS DOUBLE), y), 6) AS pearson_r
FROM ranked
"""


def stats_benford(spark, sf_dir):
    """Benford first-digit audit of order totals — the classic
    fabricated-data / truncation-artifact detector a data-quality gate
    runs over monetary columns. Output: observed vs expected
    (log10(1 + 1/d)) share per leading digit plus the per-digit χ²
    contribution; sums to the familiar Benford χ² statistic.

    The leading digit comes from the INTEGER part rendered as a string
    (floor → bigint → substr), never from float formatting — bigint
    rendering is byte-identical cross-engine where printf('%g') is not.
    A 1-9 digit spine guarantees every digit a row even when absent from
    the data (n=0 still contributes its full expected-count deficit
    (total·e_d)²/(total·e_d) = total·e_d to the χ² sum — dropping absent
    digits would UNDERSTATE χ², the exact truncation signature the audit
    hunts); values below 1 (leading digit 0, outside Benford's domain)
    are excluded on both engines. One map-side-combined 9-group
    aggregate over a scan; the expected shares are closed-form
    constants."""
    o = _t(spark, sf_dir, "orders")
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    observed = (
        o.select(d.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    counts = spine.join(observed, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("observed_pct"),
            F.round(exp, 6).alias("benford_pct"),
            F.round(
                F.pow(F.col("n") - F.col("total") * exp, 2)
                / (F.col("total") * exp),
                6,
            ).alias("chi2_part"),
        )
        .orderBy("digit")
    )


STATS_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders),
observed AS (
  SELECT digit, count(*) AS n FROM d WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
counts AS (
  SELECT CAST(s.digit AS INT) AS digit, COALESCE(o.n, 0) AS n
  FROM generate_series(1, 9) AS s(digit) LEFT JOIN observed o ON s.digit = o.digit),
tot AS (SELECT sum(n) AS total FROM counts)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / total, 6) AS observed_pct,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_pct,
       round(pow(n - total * log10(1.0 + 1.0 / digit), 2)
             / (total * log10(1.0 + 1.0 / digit)), 6) AS chi2_part
FROM counts, tot ORDER BY digit
"""


def stats_ttest(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test (the default two-group
    comparison when variances differ — Welch 1947; BMJ's recommended
    replacement for Student's t) on order totals: urgent-priority orders
    (1-URGENT / 2-HIGH) vs the rest. Complements events_ab_test's
    two-proportion z with the continuous-outcome decision gate every
    curation ablation needs.

    One conditional single-pass aggregate (count/avg/var_samp per arm via
    CASE — map-side combined, one 1-row result), then pure column
    arithmetic for the t statistic and the Welch–Satterthwaite dof.
    Accumulation-order float aggregates → 6dp/4dp rounding on both
    engines, the registry convention."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    x = F.col("o_totalprice")
    agg = o.agg(
        F.count(F.when(urgent, 1)).alias("n_a"),
        F.avg(F.when(urgent, x)).alias("m_a"),
        F.var_samp(F.when(urgent, x)).alias("v_a"),
        F.count(F.when(~urgent, 1)).alias("n_b"),
        F.avg(F.when(~urgent, x)).alias("m_b"),
        F.var_samp(F.when(~urgent, x)).alias("v_b"),
    )
    sa = F.col("v_a") / F.col("n_a")
    sb = F.col("v_b") / F.col("n_b")
    se2 = sa + sb
    dof = (se2 * se2) / (
        sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1)
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 6).alias("t_welch"),
        F.round(dof, 2).alias("dof_welch"),
    )


STATS_TTEST_ORACLE = """
WITH agg AS (
  SELECT count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS n_a,
         avg(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN o_totalprice END) AS m_a,
         var_samp(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN o_totalprice END) AS v_a,
         count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS n_b,
         avg(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN o_totalprice END) AS m_b,
         var_samp(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN o_totalprice END) AS v_b
  FROM orders)
SELECT n_a, n_b, round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_welch,
       round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1) + pow(v_b / n_b, 2) / (n_b - 1)),
             2) AS dof_welch
FROM agg
"""


def stats_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier survival estimate (Kaplan & Meier, JASA 1958) of
    time-to-first-big-purchase: per user, the duration in HOURS from
    their first event to their first purchase with value >= 90 (the
    "death"); users who never convert are right-censored at their last
    event. The product-limit estimator S(t) = Π_{t_i <= t}
    (1 - d_i / n_i) over event times — churn/conversion analysis with
    correct censoring handling, the survival complement to
    events_retention's fixed-window rates.

    Shape: one user-keyed conditional agg (first event / first
    conversion / last event in a single pass), a duration histogram
    (map-side combined), ONE descending cumulative-sum window for the
    at-risk counts (n_i = users with duration >= t_i, integer-exact),
    and the product as exp of an ascending cumulative ln-sum over the
    death-time rows only — sequential deterministic frame order, 6dp.
    A d_i = n_i terminal row (survival exactly 0) is handled by a
    min-factor window flag, not ln(0) (Spark ln(0) is NULL, DuckDB
    -inf). State is O(distinct durations) — bounded by the horizon, not
    the corpus."""
    e = _t(spark, sf_dir, "events")
    conv = (F.col("event_type") == "purchase") & (F.col("value") >= 90)
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("fs"),
        F.min(F.when(conv, F.col("ts"))).alias("fp"),
        F.max("ts").alias("ls"),
    )
    per = users.select(
        F.when(F.col("fp").isNotNull(), 1).otherwise(0).alias("died"),
        (
            F.floor(
                (
                    F.unix_micros(F.coalesce("fp", "ls")) - F.unix_micros("fs")
                )
                / F.lit(3600000000)
            )
        ).alias("dur"),
    )
    hist = per.groupBy("dur").agg(
        F.count("*").alias("n_all"), F.sum("died").alias("d")
    )
    w_desc = (
        W.orderBy(F.col("dur").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    risk = hist.withColumn("n_risk", F.sum("n_all").over(w_desc))
    deaths = risk.filter(F.col("d") > 0).select(
        "dur",
        "n_risk",
        "d",
        ((F.col("n_risk") - F.col("d")) / F.col("n_risk")).alias("factor"),
    )
    w_asc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        deaths.select(
            "dur",
            "n_risk",
            "d",
            F.min("factor").over(w_asc).alias("_minf"),
            F.sum(
                F.when(F.col("factor") > 0, F.log("factor"))
            ).over(w_asc).alias("_lnsum"),
        )
        .select(
            F.col("dur").alias("dur_hours"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.when(F.col("_minf") <= 0, F.lit(0.0))
            .otherwise(F.round(F.exp("_lnsum"), 6))
            .alias("survival"),
        )
        .orderBy("dur_hours")
    )


STATS_KAPLAN_MEIER_ORACLE = """
WITH users AS (
  SELECT user_id, min(ts) AS fs,
         min(CASE WHEN event_type = 'purchase' AND value >= 90 THEN ts END) AS fp,
         max(ts) AS ls
  FROM events GROUP BY user_id),
per AS (
  SELECT CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS died,
         CAST(floor((epoch_us(coalesce(fp, ls)) - epoch_us(fs)) / 3600000000) AS BIGINT) AS dur
  FROM users),
hist AS (SELECT dur, count(*) AS n_all, sum(died) AS d FROM per GROUP BY dur),
risk AS (
  SELECT dur, d,
         sum(n_all) OVER (ORDER BY dur DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM hist),
deaths AS (
  SELECT dur, n_risk, d, (n_risk - d) * 1.0 / n_risk AS factor
  FROM risk WHERE d > 0),
km AS (
  SELECT dur, n_risk, d,
         min(factor) OVER (ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _minf,
         sum(CASE WHEN factor > 0 THEN ln(factor) END)
           OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _lnsum
  FROM deaths)
SELECT dur AS dur_hours, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN _minf <= 0 THEN 0.0 ELSE round(exp(_lnsum), 6) END AS survival
FROM km ORDER BY dur_hours
"""


def stats_mad(spark, sf_dir):
    """Median absolute deviation of order totals per priority — the
    robust dispersion companion to var/stddev (unmoved by the heavy
    right tail that inflates stddev), the outlier-gate statistic
    (|x - med| > k·MAD) of numeric-column profiling.

    Two exact-median passes: per-group median, broadcast back (5 rows),
    then the median of absolute deviations — both interpolated medians
    on identical doubles (agg_median convention), 6dp. Two group
    shuffles on the same key; percentile state is per-group bounded."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("_med")
    )
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("_med"), 6).alias("median_total"),
            F.round(
                F.median(F.abs(F.col("o_totalprice") - F.col("_med"))), 6
            ).alias("mad"),
        )
        .orderBy("o_orderpriority")
    )


STATS_MAD_ORACLE = """
WITH med AS (
  SELECT o_orderpriority, median(o_totalprice) AS _med
  FROM orders GROUP BY o_orderpriority)
SELECT o.o_orderpriority, count(*) AS n,
       round(min(m._med), 6) AS median_total,
       round(median(abs(o.o_totalprice - m._med)), 6) AS mad
FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""


def stats_anova(spark, sf_dir):
    """One-way ANOVA (Fisher 1925) of order totals across the five order
    priorities: F = (SS_between/(k-1)) / (SS_within/(n-k)) — the k-group
    generalization of stats_ttest, the 'does the grouping matter at all'
    omnibus gate run before any pairwise comparison.

    One per-group aggregate (count/sum/sum-of-squares — map-side
    combined, k=5 rows), then a single global reduce: grand mean, SS_b =
    Σ n_g·(mean_g − grand)², SS_w = Σ (Σx² − n_g·mean_g²). Pure column
    arithmetic, no second data pass. Accumulation-order float sums →
    4dp/6dp rounding on both engines, the registry convention."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_g"),
        F.sum("o_totalprice").alias("s_g"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss_g"),
    )
    tot = per.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum(
            F.col("ss_g") - F.col("s_g") * F.col("s_g") / F.col("n_g")
        ).alias("ss_w"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("ss_gm"),
    )
    ssb = F.col("ss_gm") - F.col("s") * F.col("s") / F.col("n")
    fstat = (ssb / (F.col("k") - 1)) / (F.col("ss_w") / (F.col("n") - F.col("k")))
    return tot.select(
        "k",
        "n",
        F.round(ssb / 1e6, 4).alias("ss_between_m"),
        F.round(F.col("ss_w") / 1e6, 4).alias("ss_within_m"),
        F.round(fstat, 6).alias("f_stat"),
    )


STATS_ANOVA_ORACLE = """
WITH per AS (
  SELECT o_orderpriority, count(*) AS n_g, sum(o_totalprice) AS s_g,
         sum(o_totalprice * o_totalprice) AS ss_g
  FROM orders GROUP BY o_orderpriority),
tot AS (
  SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s,
         sum(ss_g - s_g * s_g / n_g) AS ss_w,
         sum(s_g * s_g / n_g) AS ss_gm
  FROM per)
SELECT CAST(k AS BIGINT) AS k, n,
       round((ss_gm - s * s / n) / 1e6, 4) AS ss_between_m,
       round(ss_w / 1e6, 4) AS ss_within_m,
       round(((ss_gm - s * s / n) / (k - 1)) / (ss_w / (n - k)), 6) AS f_stat
FROM tot
"""


_POISSON1_CDF = [
    (0, 0.36787944117144233),
    (1, 0.7357588823428847),
    (2, 0.9196986029286058),
    (3, 0.9810118431238462),
    (4, 0.9963401531726563),
    (5, 0.9994058151824183),
]


def _boot_weight(u):
    """Poisson(1) draw from a uniform u in [0,1) via the inverse CDF —
    the deterministic replacement for a multinomial resample."""
    w = None
    for k, p in _POISSON1_CDF:
        w = F.when(u < p, k) if w is None else w.when(u < p, k)
    return w.otherwise(6)


def stats_bootstrap(spark, sf_dir):
    """Distributed Poisson bootstrap (Chamandy et al., Google 2012 —
    'Estimating uncertainty for massive data streams') of the mean order
    total: B=32 pseudo-replicates where each row's multiplicity in
    replicate b is a Poisson(1) draw — the construction that makes the
    bootstrap single-pass and shard-local at any scale (a classic
    multinomial resample needs the global n). Every draw is DETERMINISTIC
    here: u = first-8-hex-digits of md5(b:orderkey) / 2^32 pushed through
    the Poisson(1) inverse CDF, so a SQL oracle replays all 32 replicates
    bit-for-bit — the engine-portable twist on an inherently randomized
    method (the sketch-twin convention).

    One explode (×32) + one 32-group map-side-combined agg; the replicate
    table is 32 rows, driver-free. Output: point mean, bootstrap SE
    (stddev of replicate means), and the 2.5%/97.5% percentile CI."""
    o = _t(spark, sf_dir, "orders")
    # the ×32 explode feeds 32·N md5+conv evaluations into however
    # many partitions the orders scan has — ONE at bench scale — so the
    # whole resample ran single-task. Spread the scan first (no-op when
    # orders scans wide; operators.similarity.spread_small_scan). The
    # `point` leg below aggregates the UNspread scan; per-(rep,orderkey)
    # weights are hash-deterministic, so results are unchanged.
    b = S.spread_small_scan(o).select(
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
        F.col("o_orderkey"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    reps = (
        b.withColumn("w", _boot_weight(u))
        .groupBy("rep")
        .agg(
            (F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")).alias("m")
        )
    )
    point = o.agg(F.avg("o_totalprice").alias("mean_total"))
    return reps.crossJoin(F.broadcast(point)).agg(
        F.count("*").alias("n_reps"),
        F.round(F.min("mean_total"), 4).alias("mean_total"),
        F.round(F.stddev_samp("m"), 4).alias("boot_se"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )


STATS_BOOTSTRAP_ORACLE = """
WITH b AS (
  SELECT o_totalprice, o_orderkey, rep
  FROM orders, generate_series(0, 31) AS t(rep)),
w AS (
  SELECT o_totalprice, rep,
         CASE
           WHEN u < 0.36787944117144233 THEN 0
           WHEN u < 0.7357588823428847 THEN 1
           WHEN u < 0.9196986029286058 THEN 2
           WHEN u < 0.9810118431238462 THEN 3
           WHEN u < 0.9963401531726563 THEN 4
           WHEN u < 0.9994058151824183 THEN 5
           ELSE 6
         END AS w
  FROM (SELECT o_totalprice, rep,
               CAST(CAST(('0x' || substr(md5('boot:' || CAST(rep AS VARCHAR) || ':'
                          || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS UBIGINT) AS DOUBLE)
               / 4294967296.0 AS u
        FROM b)),
reps AS (
  SELECT rep, sum(w * o_totalprice) / sum(w) AS m FROM w GROUP BY rep),
point AS (SELECT avg(o_totalprice) AS mean_total FROM orders)
SELECT count(*) AS n_reps,
       round(min(point.mean_total), 4) AS mean_total,
       round(stddev_samp(m), 4) AS boot_se,
       round(quantile_cont(m, 0.025), 4) AS ci_lo,
       round(quantile_cont(m, 0.975), 4) AS ci_hi
FROM reps, point
"""


def stats_wilson(spark, sf_dir):
    """Wilson score interval (Wilson, JASA 1927) for a per-event-type
    success proportion (value ≥ 100 — a high-value interaction): the
    binomial CI that stays inside [0,1] and behaves at small n/extreme
    p̂, which is why it's the recommended default over the naive Wald
    interval (Brown, Cai & DasGupta, Statistical Science 2001). The
    per-variant CI companion to events_ab_test's two-proportion z.

    One conditional count aggregate per event type (map-side combined),
    then pure column arithmetic with z = 1.959963984540054 (95%). All
    inputs to the float math are exact integer counts, so both engines
    compute identical doubles; 6dp."""
    e = _t(spark, sf_dir, "events")
    z = 1.959963984540054
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k") / F.col("n")
    z2n = F.lit(z * z) / F.col("n")
    center = (p + z2n / 2) / (1 + z2n)
    half = (
        F.lit(z)
        * F.sqrt(p * (1 - p) / F.col("n") + z2n / (4 * F.col("n")))
        / (1 + z2n)
    )
    return agg.select(
        "event_type",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("event_type")


STATS_WILSON_ORACLE = """
WITH agg AS (
  SELECT event_type, count(*) AS n,
         sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY event_type)
SELECT event_type, n, CAST(k AS BIGINT) AS k,
       round(k * 1.0 / n, 6) AS p_hat,
       round(((k * 1.0 / n) + (1.959963984540054 * 1.959963984540054 / n) / 2)
               / (1 + 1.959963984540054 * 1.959963984540054 / n)
             - 1.959963984540054
               * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                      + (1.959963984540054 * 1.959963984540054 / n) / (4 * n))
               / (1 + 1.959963984540054 * 1.959963984540054 / n), 6) AS wilson_lo,
       round(((k * 1.0 / n) + (1.959963984540054 * 1.959963984540054 / n) / 2)
               / (1 + 1.959963984540054 * 1.959963984540054 / n)
             + 1.959963984540054
               * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                      + (1.959963984540054 * 1.959963984540054 / n) / (4 * n))
               / (1 + 1.959963984540054 * 1.959963984540054 / n), 6) AS wilson_hi
FROM agg ORDER BY event_type
"""


def stats_cat_entropy(spark, sf_dir):
    """Categorical-balance profile of three key dimension columns
    (orders.o_orderpriority, events.event_type, documents.lang): Shannon
    entropy, normalized entropy H/ln(k) (1 = perfectly balanced), and
    Gini impurity 1−Σp² — the class-balance health check run on every
    stratification column before sampling or splitting on it
    (text_entropy's categorical-column counterpart). Per column: one
    map-side-combined value count (k ≤ 10 rows) + a one-row reduce;
    three unioned probes."""

    def _profile(df, col, label):
        counts = df.groupBy(F.col(col).alias("val")).agg(
            F.count("*").alias("c")
        )
        tot = counts.agg(F.sum("c").alias("t"))
        p = F.col("c") / F.col("t")
        return (
            counts.crossJoin(F.broadcast(tot))
            .agg(
                F.lit(label).alias("column_name"),
                F.count("*").alias("k"),
                F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
                F.round(
                    -F.sum(p * F.log(p)) / F.log(F.count("*").cast("double")),
                    6,
                ).alias("norm_entropy"),
                F.round(1 - F.sum(p * p), 6).alias("gini_impurity"),
            )
        )

    o = _profile(_t(spark, sf_dir, "orders"), "o_orderpriority", "orders.priority")
    e = _profile(_t(spark, sf_dir, "events"), "event_type", "events.type")
    d = _profile(_t(spark, sf_dir, "documents"), "lang", "documents.lang")
    return o.unionByName(e).unionByName(d).orderBy("column_name")


STATS_CAT_ENTROPY_ORACLE = """
WITH
o AS (SELECT o_orderpriority AS val, count(*) AS c FROM orders GROUP BY 1),
e AS (SELECT event_type AS val, count(*) AS c FROM events GROUP BY 1),
d AS (SELECT lang AS val, count(*) AS c FROM documents GROUP BY 1),
po AS (SELECT 'orders.priority' AS column_name, count(*) AS k,
              round(-sum((c * 1.0 / t) * ln(c * 1.0 / t)), 6) AS entropy,
              round(-sum((c * 1.0 / t) * ln(c * 1.0 / t))
                    / ln(CAST(count(*) AS DOUBLE)), 6) AS norm_entropy,
              round(1 - sum((c * 1.0 / t) * (c * 1.0 / t)), 6) AS gini_impurity
       FROM o, (SELECT sum(c) AS t FROM o)),
pe AS (SELECT 'events.type', count(*),
              round(-sum((c * 1.0 / t) * ln(c * 1.0 / t)), 6),
              round(-sum((c * 1.0 / t) * ln(c * 1.0 / t))
                    / ln(CAST(count(*) AS DOUBLE)), 6),
              round(1 - sum((c * 1.0 / t) * (c * 1.0 / t)), 6)
       FROM e, (SELECT sum(c) AS t FROM e)),
pd AS (SELECT 'documents.lang', count(*),
              round(-sum((c * 1.0 / t) * ln(c * 1.0 / t)), 6),
              round(-sum((c * 1.0 / t) * ln(c * 1.0 / t))
                    / ln(CAST(count(*) AS DOUBLE)), 6),
              round(1 - sum((c * 1.0 / t) * (c * 1.0 / t)), 6)
       FROM d, (SELECT sum(c) AS t FROM d))
SELECT * FROM po UNION ALL SELECT * FROM pe UNION ALL SELECT * FROM pd
ORDER BY column_name
"""


def stats_qq(spark, sf_dir):
    """Quantile–quantile table (the Q-Q plot's data, Wilk & Gnanadesikan,
    Biometrika 1968) comparing urgent-priority order totals against the
    rest at 19 evenly spaced probabilities: WHERE a distribution shift
    lives (tails vs center), which the one-number stats_ks_test /
    stats_mannwhitney verdicts can't show. One conditional two-arm
    multi-quantile aggregate (single pass, one 1-row result carrying two
    19-slot quantile vectors), exploded JVM-side into rows — the arrays
    never reach the output (driver-safe encoding, the agg_quantiles
    lesson)."""
    o = _t(spark, sf_dir, "orders")
    ps = [round(0.05 * i, 2) for i in range(1, 20)]
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    x = F.col("o_totalprice")
    agg = o.agg(
        F.percentile(F.when(urgent, x), F.lit(ps)).alias("qu"),
        F.percentile(F.when(~urgent, x), F.lit(ps)).alias("qr"),
    )
    z = agg.select(
        F.posexplode(F.arrays_zip(F.col("qu"), F.col("qr"))).alias("i", "q")
    )
    return z.select(
        F.round((F.col("i") + 1) * 0.05, 2).alias("p"),
        F.round(F.col("q.qu"), 4).alias("q_urgent"),
        F.round(F.col("q.qr"), 4).alias("q_rest"),
        F.round(F.col("q.qu") - F.col("q.qr"), 4).alias("gap"),
    ).orderBy("p")


STATS_QQ_ORACLE = """
WITH lists AS (
  SELECT quantile_cont(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN o_totalprice END,
                       [0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45,
                        0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9,
                        0.95]) AS qu,
         quantile_cont(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN o_totalprice END,
                       [0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45,
                        0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9,
                        0.95]) AS qr
  FROM orders),
gs AS (SELECT unnest(range(1, 20)) AS i)
SELECT round(i * 0.05, 2) AS p,
       round(qu[i], 4) AS q_urgent,
       round(qr[i], 4) AS q_rest,
       round(qu[i] - qr[i], 4) AS gap
FROM lists, gs ORDER BY p
"""


def stats_levene(spark, sf_dir):
    """Brown–Forsythe test (Brown & Forsythe, JASA 1974 — Levene's test
    with the MEDIAN center, the robust default) for homogeneity of
    variances of order totals across the five priorities: the
    assumption gate for stats_anova (a large W says the classic pooled-
    variance F is untrustworthy; fall back to Welch). Computed as a
    one-way ANOVA on z = |x − median_g|: one exact per-group median
    broadcast back (5 rows), then the stats_anova single-pass
    count/sum/sum-of-squares reduce on z. Same rounding conventions."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(F.median("o_totalprice").alias("_med"))
    z = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("_med")).alias("z"),
    )
    per = z.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(F.col("z") * F.col("z")).alias("ss_g"),
    )
    tot = per.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum(F.col("ss_g") - F.col("s_g") * F.col("s_g") / F.col("n_g")).alias(
            "ss_w"
        ),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("ss_gm"),
    )
    ssb = F.col("ss_gm") - F.col("s") * F.col("s") / F.col("n")
    w = (ssb / (F.col("k") - 1)) / (F.col("ss_w") / (F.col("n") - F.col("k")))
    return tot.select(
        "k",
        "n",
        F.round(w, 6).alias("w_stat"),
    )


STATS_LEVENE_ORACLE = """
WITH med AS (
  SELECT o_orderpriority, median(o_totalprice) AS _med
  FROM orders GROUP BY o_orderpriority),
z AS (
  SELECT o.o_orderpriority, abs(o.o_totalprice - m._med) AS z
  FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority),
per AS (
  SELECT o_orderpriority, count(*) AS n_g, sum(z) AS s_g,
         sum(z * z) AS ss_g
  FROM z GROUP BY o_orderpriority),
tot AS (
  SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s,
         sum(ss_g - s_g * s_g / n_g) AS ss_w,
         sum(s_g * s_g / n_g) AS ss_gm
  FROM per)
SELECT CAST(k AS BIGINT) AS k, n,
       round(((ss_gm - s * s / n) / (k - 1)) / (ss_w / (n - k)), 6) AS w_stat
FROM tot
"""


def text_stopword_density(spark, sf_dir):
    """Own-language stopword density per document, rolled up per
    language (count / mean / interpolated median / share of docs below
    2%): the C4-style fluency gate (Raffel et al., JMLR 2020 kept only
    text with enough function words) applied with each language's OWN
    stopword list — distinct from text_langid, which scores ALL lists
    to pick a winner. One token explode filtered against the ≤10-word
    broadcast-literal list per language (a CASE over 5 lists — no join),
    then a per-lang reduce."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    hits = None
    for lang, words in sorted(TX.STOPWORDS.items()):
        cnt = F.size(F.filter(toks, lambda t: t.isin(*words)))
        hits = F.when(F.col("lang") == lang, cnt) if hits is None else hits.when(
            F.col("lang") == lang, cnt
        )
    dens = (hits.otherwise(0) / F.greatest(F.size(toks), F.lit(1))).alias("d")
    per = docs.select("lang", dens)
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("d"), 6).alias("mean_density"),
            F.round(F.median("d"), 6).alias("p50_density"),
            F.round(
                F.sum((F.col("d") < 0.02).cast("int")) / F.count("*"), 6
            ).alias("low_density_share"),
        )
        .orderBy("lang")
    )


TEXT_STOPWORD_DENSITY_ORACLE = r"""
WITH base AS (
  SELECT lang,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
per AS (
  SELECT lang,
    (CASE lang
       WHEN 'de' THEN len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], x)))
       WHEN 'en' THEN len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))
       WHEN 'es' THEN len(list_filter(t, x -> list_contains(['el','la','los','y','es','un','una','de','que','por'], x)))
       WHEN 'fr' THEN len(list_filter(t, x -> list_contains(['le','la','les','et','est','un','une','de','que','pour'], x)))
       WHEN 'zh' THEN len(list_filter(t, x -> list_contains(['的','是','了','在','和','有','我','不','这','人'], x)))
       ELSE 0 END) * 1.0 / greatest(len(t), 1) AS d
  FROM base)
SELECT lang, count(*) AS n_docs,
       round(avg(d), 6) AS mean_density,
       round(median(d), 6) AS p50_density,
       round(sum(CASE WHEN d < 0.02 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS low_density_share
FROM per GROUP BY lang ORDER BY lang
"""


def stats_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier audit (Tukey, 'Exploratory Data Analysis',
    1977) of order totals per priority: interpolated Q1/Q3, the IQR,
    the 1.5·IQR fences, and how many rows fall outside — the classic
    box-plot rule, the fence-based sibling of stats_mad's robust-z
    gate. One exact two-quantile aggregate per group broadcast back,
    one counting pass."""
    o = _t(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    flagged = o.join(F.broadcast(q), "o_orderpriority").select(
        "o_orderpriority",
        "q1",
        "q3",
        ((F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi))
        .cast("int")
        .alias("is_out"),
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("q1"), 4).alias("q1"),
            F.round(F.min("q3"), 4).alias("q3"),
            F.sum("is_out").alias("n_outliers"),
            F.round(F.sum("is_out") / F.count("*"), 6).alias("outlier_rate"),
        )
        .orderBy("o_orderpriority")
    )


STATS_OUTLIER_IQR_ORACLE = """
WITH q AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders GROUP BY o_orderpriority),
flagged AS (
  SELECT o.o_orderpriority, q.q1, q.q3,
         CASE WHEN o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
              THEN 1 ELSE 0 END AS is_out
  FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority)
SELECT o_orderpriority, count(*) AS n,
       round(min(q1), 4) AS q1, round(min(q3), 4) AS q3,
       CAST(sum(is_out) AS BIGINT) AS n_outliers,
       round(sum(is_out) * 1.0 / count(*), 6) AS outlier_rate
FROM flagged GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def text_hapax(spark, sf_dir):
    """Vocabulary-growth profile per language: token count, type count
    (distinct tokens), hapax legomena (types seen exactly once), the
    hapax ratio, and the type–token ratio. The Heaps'-law-side health
    check of a crawl: a collapsing hapax ratio flags boilerplate /
    duplication, an exploding one flags OCR noise or tokenizer breakage —
    the vocabulary-level companion of text_zipf's frequency-slope fit.

    One token explode into a (lang, term) count (map-side combined, the
    only corpus-scale shuffle), then a vocabulary-sized per-lang reduce.
    Pure integer counts except the two ratios (exact division of exact
    counts, 6dp on both engines)."""
    docs = _t(spark, sf_dir, "documents")
    per = (
        docs.select("lang", F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("c"))
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_ratio"),
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("type_token_ratio"),
        )
        .orderBy("lang")
    )


TEXT_HAPAX_ORACLE = r"""
WITH toks AS (
  SELECT lang,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
per AS (SELECT lang, term, count(*) AS c FROM toks GROUP BY lang, term)
SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS hapax_ratio,
       round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio
FROM per GROUP BY lang ORDER BY lang
"""


def text_entropy(spark, sf_dir):
    """Corpus character-class entropy per language: the Shannon entropy
    of the (ASCII letter, digit, whitespace, other) character
    distribution — 'letter' is [A-Za-z] ONLY, so non-Latin scripts (the
    zh slice) concentrate in 'other' BY CONSTRUCTION and read low; the
    near-zero-entropy boilerplate flag is meaningful WITHIN a script
    family, not across scripts (route by text_script_profile first).

    Scan-speed per-document regexp counts (three regexes, zero shuffle)
    collapse into a |langs|×4 contingency table via one map-side-combined
    groupBy; the entropy is a fixed-order four-term closed form over
    exact integer counts (zero-count classes contribute 0 by CASE, the
    stats_mutual_info determinism pattern), so both engines compute
    identical doubles (6dp)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    per = docs.select(
        "lang",
        F.length(t).alias("nc"),
        F.regexp_count(t, F.lit(r"[A-Za-z]")).alias("nl"),
        F.regexp_count(t, F.lit(r"[0-9]")).alias("nd"),
        F.regexp_count(t, F.lit(r"\s")).alias("ns"),
    )
    agg = (
        per.groupBy("lang")
        .agg(
            F.sum("nc").alias("n"),
            F.sum("nl").alias("n_letter"),
            F.sum("nd").alias("n_digit"),
            F.sum("ns").alias("n_space"),
        )
        .withColumn(
            "n_other",
            F.col("n") - F.col("n_letter") - F.col("n_digit") - F.col("n_space"),
        )
    )

    def _term(c):
        p = F.col(c) / F.col("n")
        return F.when(F.col(c) > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    ent = _term("n_letter") + _term("n_digit") + _term("n_space") + _term("n_other")
    return agg.select(
        "lang",
        "n_letter",
        "n_digit",
        "n_space",
        "n_other",
        F.round(ent, 6).alias("entropy"),
    ).orderBy("lang")


TEXT_ENTROPY_ORACLE = r"""
WITH per AS (
  SELECT lang, length(text) AS nc,
         len(regexp_extract_all(text, '[A-Za-z]')) AS nl,
         len(regexp_extract_all(text, '[0-9]')) AS nd,
         len(regexp_extract_all(text, '\s')) AS ns
  FROM documents),
a AS (
  SELECT lang, sum(nc) AS n, sum(nl) AS n_letter, sum(nd) AS n_digit,
         sum(ns) AS n_space,
         sum(nc) - sum(nl) - sum(nd) - sum(ns) AS n_other
  FROM per GROUP BY lang)
SELECT lang,
       CAST(n_letter AS BIGINT) AS n_letter, CAST(n_digit AS BIGINT) AS n_digit,
       CAST(n_space AS BIGINT) AS n_space, CAST(n_other AS BIGINT) AS n_other,
       round(
         (CASE WHEN n_letter > 0 THEN -(n_letter * 1.0 / n) * ln(n_letter * 1.0 / n) ELSE 0 END)
         + (CASE WHEN n_digit > 0 THEN -(n_digit * 1.0 / n) * ln(n_digit * 1.0 / n) ELSE 0 END)
         + (CASE WHEN n_space > 0 THEN -(n_space * 1.0 / n) * ln(n_space * 1.0 / n) ELSE 0 END)
         + (CASE WHEN n_other > 0 THEN -(n_other * 1.0 / n) * ln(n_other * 1.0 / n) ELSE 0 END), 6) AS entropy
FROM a ORDER BY lang
"""


def stats_mutual_info(spark, sf_dir):
    """Mutual information and entropies between two categorical corpus
    dimensions (lang × source) — the dependence statistic a curation
    pipeline uses to detect confounded sampling (e.g. one source
    dominating one language) before fixing mixture weights.

    One corpus-scale shuffle builds the (lang, source) contingency
    table; everything after runs on that tiny table (|langs|·|sources|
    rows): marginals via window sums, then H(lang), H(source),
    H(lang,source), MI = Σ p_xy·ln(p_xy·N²/(n_x·n_y)) and the
    normalized MI / sqrt(H_x·H_y). Identities H(x)+H(y)−H(xy)=MI hold
    by construction; counts are exact integers, so both engines
    evaluate the same closed-form doubles (rounded 6dp)."""
    docs = _t(spark, sf_dir, "documents")
    j = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    j = (
        j.withColumn("tot", F.sum("n").over(W.partitionBy()))
        .withColumn("nx", F.sum("n").over(W.partitionBy("lang")))
        .withColumn("ny", F.sum("n").over(W.partitionBy("source")))
    )
    p = F.col("n") / F.col("tot")
    terms = j.select(
        (p * F.log(F.col("n") * F.col("tot") / (F.col("nx") * F.col("ny")))).alias("mi_t"),
        (-p * F.log(p)).alias("hj_t"),
        (-p * F.log(F.col("nx") / F.col("tot"))).alias("hx_t"),
        (-p * F.log(F.col("ny") / F.col("tot"))).alias("hy_t"),
    )
    return terms.agg(
        F.round(F.sum("hx_t"), 6).alias("h_lang"),
        F.round(F.sum("hy_t"), 6).alias("h_source"),
        F.round(F.sum("hj_t"), 6).alias("h_joint"),
        F.round(F.sum("mi_t"), 6).alias("mi"),
        F.round(
            F.sum("mi_t") / F.sqrt(F.sum("hx_t") * F.sum("hy_t")), 6
        ).alias("nmi"),
    )


STATS_MUTUAL_INFO_ORACLE = """
WITH j AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
m AS (
  SELECT n,
         sum(n) OVER () AS tot,
         sum(n) OVER (PARTITION BY lang) AS nx,
         sum(n) OVER (PARTITION BY source) AS ny
  FROM j),
t AS (
  SELECT (n * 1.0 / tot) * ln(n * 1.0 * tot / (nx * 1.0 * ny)) AS mi_t,
         -(n * 1.0 / tot) * ln(n * 1.0 / tot) AS hj_t,
         -(n * 1.0 / tot) * ln(nx * 1.0 / tot) AS hx_t,
         -(n * 1.0 / tot) * ln(ny * 1.0 / tot) AS hy_t
  FROM m)
SELECT round(sum(hx_t), 6) AS h_lang,
       round(sum(hy_t), 6) AS h_source,
       round(sum(hj_t), 6) AS h_joint,
       round(sum(mi_t), 6) AS mi,
       round(sum(mi_t) / sqrt(sum(hx_t) * sum(hy_t)), 6) AS nmi
FROM t
"""


PROFILE_CONSTRAINTS_ORACLE = """
SELECT 'pk_unique_orderkey' AS check_name, count(*) AS n_violations
FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
UNION ALL
SELECT 'fk_orders_customer', count(*)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'not_null_core_cols', count(*)
FROM orders WHERE o_orderdate IS NULL OR o_custkey IS NULL
UNION ALL
SELECT 'range_totalprice', count(*)
FROM orders WHERE o_totalprice <= 0 OR o_totalprice > 1e7
ORDER BY check_name
"""


def text_lexical(spark, sf_dir):
    """Lexical-diversity profile per document: token count, distinct
    tokens, type-token ratio, and Shannon token entropy (bits). One
    (doc, token) shuffle with map-side combine; the entropy fold runs
    over the per-doc count table (vocabulary-sized, not corpus-sized).
    Low entropy + low TTR = template/boilerplate detector — the signal
    behind repetition-based quality filters."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("tok"),
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    p = F.col("c") / F.col("n_tok")
    per_doc = (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count("*").alias("n_types"),
        )
        .join(counts, "doc_id")
        .groupBy("doc_id", "n_tok", "n_types")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tok",
        "n_types",
        F.round(F.col("n_types") / F.col("n_tok"), 6).alias("ttr"),
        "entropy_bits",
    ).orderBy("doc_id")


TEXT_LEXICAL_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents),
counts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
sizes AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_types
          FROM counts GROUP BY 1)
SELECT s.doc_id, n_tok, n_types,
       round(n_types * 1.0 / n_tok, 6) AS ttr,
       round(-sum((c * 1.0 / n_tok) * log2(c * 1.0 / n_tok)), 6) AS entropy_bits
FROM sizes s JOIN counts USING (doc_id)
GROUP BY s.doc_id, n_tok, n_types
ORDER BY s.doc_id
"""


def scd2_point_in_time(spark, sf_dir):
    """Point-in-time snapshot over the SCD2 dimension: per as-of
    timestamp, the version valid at that instant (valid_from <= t <
    valid_to, open-ended current rows) — the temporal-join correctness
    contract every warehouse needs on top of SCD2. Two probe instants
    straddle the merge's change timestamp; output is the per-(as_of,
    segment) membership count. The probe list is a 2-row broadcast, so
    the whole thing is a scan-filter + one small agg."""
    from ..operators.scd import scd2_merge

    cust = _t(spark, sf_dir, "customer")
    current = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_custkey").alias("k"), F.lit("PROMOTED").alias("seg"))
        .unionByName(
            cust.filter(F.col("c_custkey") < 50).select(
                (F.col("c_custkey") + 100000).alias("k"), F.lit("NEW").alias("seg")
            )
        )
    )
    merged = scd2_merge(
        current, updates, key="k", attrs=["seg"],
        change_ts=F.lit("2024-06-01 00:00:00").cast("timestamp"),
    )
    asof = spark.createDataFrame(
        [("2024-03-01 00:00:00",), ("2024-09-01 00:00:00",)], "as_of string"
    ).select(F.col("as_of"), F.col("as_of").cast("timestamp").alias("_t"))
    snap = merged.crossJoin(F.broadcast(asof)).filter(
        (F.col("valid_from") <= F.col("_t"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("_t")))
    )
    return (
        snap.groupBy("as_of", "seg")
        .agg(F.count("*").alias("n"), F.min("k").alias("min_k"))
        .orderBy("as_of", "seg")
    )


SCD2_PIT_ORACLE = """
WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
upd AS (
  SELECT c_custkey AS k, 'PROMOTED' AS seg FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 100000, 'NEW' FROM customer WHERE c_custkey < 50),
scd AS (
  SELECT cur.k, cur.seg, TIMESTAMP '2024-01-01 00:00:00' AS vf,
         TIMESTAMP '2024-06-01 00:00:00' AS vt
  FROM cur JOIN upd ON cur.k = upd.k WHERE cur.seg != upd.seg
  UNION ALL
  SELECT cur.k, cur.seg, TIMESTAMP '2024-01-01 00:00:00', NULL
  FROM cur LEFT JOIN upd ON cur.k = upd.k WHERE upd.k IS NULL OR cur.seg = upd.seg
  UNION ALL
  SELECT upd.k, upd.seg, TIMESTAMP '2024-06-01 00:00:00', NULL
  FROM upd JOIN cur ON cur.k = upd.k WHERE cur.seg != upd.seg
  UNION ALL
  SELECT upd.k, upd.seg, TIMESTAMP '2024-06-01 00:00:00', NULL
  FROM upd LEFT JOIN cur ON cur.k = upd.k WHERE cur.k IS NULL),
probes AS (
  SELECT * FROM (VALUES ('2024-03-01 00:00:00'), ('2024-09-01 00:00:00')) p(as_of))
SELECT as_of, seg, count(*) AS n, min(k) AS min_k
FROM scd CROSS JOIN probes
WHERE vf <= CAST(as_of AS TIMESTAMP)
  AND (vt IS NULL OR vt > CAST(as_of AS TIMESTAMP))
GROUP BY as_of, seg ORDER BY as_of, seg
"""


# -- similarity search -------------------------------------------------------


def sim_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 8 query vectors — the ANN exactness
    baseline. JVM-side zip_with/aggregate dot products; broadcast queries.
    The corpus side spreads across the cores before the O(N·Q)
    scoring pass (operators.similarity.spread_small_scan — no-op when
    the corpus scans wide; measured 1.9→0.5 s warm at sf0.1)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return S.brute_force_topk(
        S.spread_small_scan(emb), queries, "vec_id", "embedding", k=5
    )


SIM_TOPK_ORACLE = """
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
  WHERE q.vec_id < 8)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def sim_knn_eval(spark, sf_dir):
    """Leave-one-out k-NN classification audit (Cover & Hart, IEEE IT
    1967) on a deterministic 200-vector sample: predict every vector's
    label by the majority of its 5 nearest neighbors (exact cosine,
    rounded-score + id tiebreaks, ties in the vote broken toward the
    SMALLEST label) and report per-label accuracy — the 'do my
    embeddings encode this label' eval that gates using them for
    classification or semantic dedup. Reuses the certified
    brute_force_topk kernel on the bounded sample; the vote and the
    accuracy rollup are two slim groupBys. At corpus scale the sample
    stays fixed — the audit cost never grows with the corpus."""
    from ..operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < 200).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    knn = S.brute_force_topk(sample, sample, "vec_id", "embedding", k=5)
    lab = sample.select("vec_id", "label")
    votes = (
        knn.join(lab.withColumnRenamed("vec_id", "query_id").withColumnRenamed("label", "true_label"), "query_id")
        .join(lab.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "n_label"), "neighbor_id")
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count("*").alias("v"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("v").desc(), "n_label")
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("true_label") == F.col("pred_label")).cast("int")
            ).alias("n_correct"),
            F.round(
                F.sum((F.col("true_label") == F.col("pred_label")).cast("int"))
                / F.count("*"),
                4,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


SIM_KNN_EVAL_ORACLE = """
WITH sample AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label
  FROM embeddings WHERE vec_id < 200),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS n_label,
         round(list_cosine_similarity(q.embedding, c.embedding), 6) AS cos_sim
  FROM sample q JOIN sample c ON c.vec_id <> q.vec_id),
knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 5),
votes AS (
  SELECT query_id, true_label, n_label, count(*) AS v
  FROM knn GROUP BY 1, 2, 3),
pred AS (
  SELECT query_id, true_label, n_label AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY v DESC, n_label) AS _rn
    FROM votes) WHERE _rn = 1)
SELECT true_label AS label, count(*) AS n,
       CAST(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS accuracy
FROM pred GROUP BY true_label ORDER BY label
"""

# Cumulative ideal-DCG ladder for NDCG@10: IDCG[r] = Σ_{i=1..r} 1/log2(i+1).
# Precomputed in Python and embedded as IDENTICAL double literals in the
# Spark VALUES frame and the oracle SQL, so neither engine re-derives the
# fold (a sequence-fold in each engine would be two independent float
# accumulations; a shared literal ladder is bit-identical by construction).
_IDCG10 = [
    (0, 0.0),
    (1, 1.0),
    (2, 1.6309297535714575),
    (3, 2.1309297535714578),
    (4, 2.5616063116448506),
    (5, 2.9484591188793923),
    (6, 3.3046663059874146),
    (7, 3.637999639320748),
    (8, 3.953464516106477),
    (9, 4.254494511770458),
    (10, 4.543559338088346),
]


def sim_ranking_metrics(spark, sf_dir):
    """Retrieval ranking-quality metrics — per-label MRR and NDCG@10
    (Järvelin & Kekäläinen, TOIS 2002) over the same deterministic
    200-vector leave-one-out sample as sim_knn_eval: a retrieved
    neighbor is RELEVANT when it carries the query's label, reciprocal
    rank is 1/first-relevant-rank (0 when none of the top-10 is
    relevant), DCG@10 discounts each relevant hit by 1/log2(rank+1),
    and the ideal DCG normalizes by the best possible ordering of the
    hits actually retrieved (the list-local NDCG variant — the ladder
    is a shared 11-row literal table so both engines normalize with
    bit-identical doubles). The standard IR eval that gates using an
    embedding space for retrieval, next to sim_knn_eval's
    classification accuracy.

    Plan: the certified brute_force_topk kernel on the bounded sample
    (query side ≤200 rows — broadcast by the optimizer), two slim
    label joins, one (query)-keyed aggregate, an 11-row ladder join,
    and a per-label rollup. At corpus scale the sample stays fixed —
    audit cost never grows with the corpus. Order-sensitive double
    sums (DCG, the per-label means) are rounded on both engines per
    the house determinism convention."""
    from ..operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    knn = S.brute_force_topk(sample, sample, "vec_id", "embedding", k=10)
    lab = sample.select("vec_id", "label")
    rel = (
        knn.join(
            lab.withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("label", "true_label"),
            "query_id",
        )
        .join(
            lab.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "n_label"),
            "neighbor_id",
        )
        .withColumn(
            "rel", (F.col("n_label") == F.col("true_label")).cast("int")
        )
    )
    per_q = rel.groupBy("query_id", "true_label").agg(
        # rr is rounded to 6dp per query on BOTH engines (house
        # convention, same as dcg): avg() below is order-sensitive, and
        # an unrounded last-ulp difference could flip the final 4dp
        # round at a .00005 boundary.
        F.round(
            F.coalesce(
                F.max(F.when(F.col("rel") == 1, 1.0 / F.col("rank"))),
                F.lit(0.0),
            ),
            6,
        ).alias("rr"),
        F.round(
            F.sum(F.col("rel") / F.log2(F.col("rank") + 1)), 6
        ).alias("dcg"),
        F.sum("rel").alias("nrel"),
    )
    ladder = spark.createDataFrame(_IDCG10, "nrel long, idcg double")
    scored = per_q.join(ladder, "nrel").withColumn(
        "ndcg",
        F.when(F.col("nrel") > 0, F.round(F.col("dcg") / F.col("idcg"), 6))
        .otherwise(F.lit(0.0)),
    )
    return (
        scored.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.round(F.avg("rr"), 4).alias("mrr"),
            F.round(F.avg("ndcg"), 4).alias("ndcg_at_10"),
        )
        .orderBy("label")
    )


SIM_RANKING_METRICS_ORACLE = """
WITH sample AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label
  FROM embeddings WHERE vec_id < 200),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS n_label,
         round(list_cosine_similarity(q.embedding, c.embedding), 6) AS cos_sim
  FROM sample q JOIN sample c ON c.vec_id <> q.vec_id),
knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 10),
rel AS (
  SELECT query_id, true_label, rank,
         CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS rel
  FROM knn),
per_q AS (
  SELECT query_id, true_label,
         round(coalesce(max(CASE WHEN rel = 1 THEN 1.0 / rank END), 0.0),
               6) AS rr,
         round(sum(rel / log2(rank + 1)), 6) AS dcg,
         CAST(sum(rel) AS BIGINT) AS nrel
  FROM rel GROUP BY 1, 2),
ladder(nrel, idcg) AS (VALUES
  (0, 0.0), (1, 1.0), (2, 1.6309297535714575), (3, 2.1309297535714578),
  (4, 2.5616063116448506), (5, 2.9484591188793923), (6, 3.3046663059874146),
  (7, 3.637999639320748), (8, 3.953464516106477), (9, 4.254494511770458),
  (10, 4.543559338088346)),
nd AS (
  SELECT p.query_id, p.true_label, p.rr,
         CASE WHEN p.nrel > 0 THEN round(p.dcg / l.idcg, 6) ELSE 0.0 END AS ndcg
  FROM per_q p JOIN ladder l ON l.nrel = p.nrel)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(rr), 4) AS mrr,
       round(avg(ndcg), 4) AS ndcg_at_10
FROM nd GROUP BY true_label ORDER BY label
"""


def sim_centroid_matrix(spark, sf_dir):
    """Cross-cluster similarity matrix: the cosine between every pair of
    per-label embedding centroids — the 'how separable are my data
    sources/classes' diagnostic run before mixing corpora (centroid
    cosine ≈ 1 means two labels are redundant; ≪ 1 means they add
    diversity). Upper triangle incl. the diagonal (=1) as (la, lb,
    cosine).

    One posexplode into (label, dim) partial-avg cells (map-side
    combined — the ONLY corpus-scale shuffle), then the k×k matrix is a
    dim-keyed self-join of k·d centroid cells: at a billion vectors the
    matrix step costs the same as here because it never touches the
    corpus again. Floats cast to double on both engines before
    averaging; 6dp."""
    emb = _t(spark, sf_dir, "embeddings")
    pe = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = pe.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    a = cent.select(F.col("label").alias("la"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), "pos", F.col("c").alias("cb"))
    return (
        a.join(b, "pos")
        .filter(F.col("la") <= F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                6,
            ).alias("cosine")
        )
        .orderBy("la", "lb")
    )


SIM_CENTROID_MATRIX_ORACLE = """
WITH gs AS (
  SELECT unnest(range(1, 1 + (SELECT min(len(embedding)) FROM embeddings))) AS i),
pe AS (
  SELECT label, gs.i - 1 AS pos, CAST(embedding[gs.i] AS DOUBLE) AS v
  FROM embeddings, gs),
cent AS (SELECT label, pos, avg(v) AS c FROM pe GROUP BY label, pos)
SELECT a.label AS la, b.label AS lb,
       round(sum(a.c * b.c)
             / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 6) AS cosine
FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <= b.label
GROUP BY a.label, b.label
ORDER BY la, lb
"""


def sim_silhouette(spark, sf_dir):
    """Centroid-based (simplified) silhouette per label cluster
    (Hruschka et al.'s simplified silhouette; Rousseeuw 1987 original):
    for every vector, a = distance to its OWN label centroid, b = the
    minimum distance to any OTHER label's centroid, s = (b−a)/max(a,b);
    report per-label mean s and the a/b means. The clustering-quality
    audit of a labeled embedding corpus (s near 0 ⇒ labels are not
    separable in embedding space) — and the reason the simplified form
    exists at all: the classic silhouette is all-pairs O(n²), the
    centroid form is one centroid fit + a points×k join, which is the
    only version that survives a billion-vector corpus.

    Plan: one posexplode centroid fit (map-side combined), then the
    point-dim stream joins the k·d centroid cells on dim — points×k
    distance partials, grouped twice (per point-candidate, per point) —
    all equi-joins keyed on dim/vec_id, no cartesian of points."""
    emb = _t(spark, sf_dir, "embeddings")
    pe = emb.select(
        "vec_id",
        F.col("label").alias("own"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = (
        pe.groupBy(F.col("own").alias("cand"), "pos")
        .agg(F.avg("v").alias("c"))
    )
    dists = (
        pe.join(cent, "pos")
        .groupBy("vec_id", "own", "cand")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
        .select("vec_id", "own", "cand", F.sqrt("d2").alias("d"))
    )
    per_vec = dists.groupBy("vec_id", "own").agg(
        F.min(F.when(F.col("cand") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cand") != F.col("own"), F.col("d"))).alias("b"),
    )
    return (
        per_vec.select(
            F.col("own").alias("label"),
            ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("s"),
            "a",
            "b",
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
            F.round(F.avg("a"), 6).alias("mean_intra"),
            F.round(F.avg("b"), 6).alias("mean_nearest_other"),
        )
        .orderBy("label")
    )


SIM_SILHOUETTE_ORACLE = """
WITH gs AS (
  SELECT unnest(range(1, 1 + (SELECT min(len(embedding)) FROM embeddings))) AS i),
pe AS (
  SELECT vec_id, label AS own, gs.i - 1 AS pos,
         CAST(embedding[gs.i] AS DOUBLE) AS v
  FROM embeddings, gs),
cent AS (SELECT own AS cand, pos, avg(v) AS c FROM pe GROUP BY own, pos),
dists AS (
  SELECT pe.vec_id, pe.own, cent.cand,
         sqrt(sum((pe.v - cent.c) * (pe.v - cent.c))) AS d
  FROM pe JOIN cent ON pe.pos = cent.pos
  GROUP BY pe.vec_id, pe.own, cent.cand),
per_vec AS (
  SELECT vec_id, own,
         min(CASE WHEN cand = own THEN d END) AS a,
         min(CASE WHEN cand <> own THEN d END) AS b
  FROM dists GROUP BY vec_id, own)
SELECT own AS label, count(*) AS n,
       round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette,
       round(avg(a), 6) AS mean_intra,
       round(avg(b), 6) AS mean_nearest_other
FROM per_vec GROUP BY own ORDER BY label
"""


def sim_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical leg (operators/text.bm25_topk,
    query terms spark/vector/hash over documents) fused with an exact
    cosine vector leg (query = embedding 0, vec_id = doc_id by corpus
    convention) via reciprocal-rank fusion, rrf = 1/(60+rank_lex) +
    1/(60+rank_vec) over each leg's top-20. RRF works on RANKS, so the
    fusion is exactly reproducible cross-engine (integer ranks, exact
    IEEE division); the legs rank by ROUNDED scores with id tiebreaks
    (the house determinism trick). At scale each leg is the certified
    bounded pattern (inverted-index BM25 shuffle, broadcast-query
    cosine scan) and the fusion joins two k-row lists."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    lex = TX.bm25_topk(docs, "doc_id", "text", ["spark", "vector", "hash"], k=20)
    vec = (
        # spread the corpus side of the cosine leg (scan-shaped
        # input — see spread_small_scan; measured 3.3→1.5 s warm)
        S.brute_force_topk(
            S.spread_small_scan(emb), emb.filter(F.col("vec_id") == 0),
            "vec_id", "embedding", k=20,
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_vec"))
    )
    fused = (
        lex.select("doc_id", F.col("rank").alias("rank_lex"))
        .join(vec, "doc_id", "full")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rank_vec")), F.lit(0.0)),
                6,
            ),
        )
    )
    w = W.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "rank_lex", "rank_vec", "rrf", "rank")
    )


SIM_HYBRID_RRF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
base AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM base
  WHERE term IN ('spark', 'vector', 'hash') GROUP BY 1, 2, 3),
dft AS (SELECT term, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1),
stats AS (
  SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
bm AS (
  SELECT doc_id,
         round(sum(
           ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS bm25
  FROM tf JOIN dft USING (term) CROSS JOIN stats GROUP BY doc_id),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex
  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20),
vec AS (
  SELECT neighbor_id AS doc_id, CAST(rank AS INT) AS rank_vec FROM (
    SELECT c.vec_id AS neighbor_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
                      c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
    WHERE q.vec_id = 0)
  WHERE rank <= 20),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, rank_lex, rank_vec,
         round(coalesce(1.0 / (60 + rank_lex), 0) + coalesce(1.0 / (60 + rank_vec), 0), 6) AS rrf
  FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id)
SELECT doc_id, rank_lex, rank_vec, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


def sim_maxsim(spark, sf_dir):
    """Late-interaction (ColBERT MaxSim) retrieval over multi-vector
    documents (operators/similarity.maxsim_topk): vectors grouped 8 per
    document, the first 2 documents as queries, score = Σ_qv max_dv
    cosine. Fully oracle-checked (DuckDB list_cosine_similarity over the
    same grouping)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.floor(F.col("vec_id") / 8).cast("long").alias("doc_id"),
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    queries = emb.filter(F.col("doc_id") < 2)
    return S.maxsim_topk(emb, queries, "doc_id", "vec", k=5, pos_col="vec_id")


SIM_MAXSIM_ORACLE = """
WITH v AS (
  SELECT vec_id // 8 AS d_id, vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings),
q AS (SELECT d_id AS query_id, vec_id AS qvid, e AS qv FROM v WHERE d_id < 2),
mx AS (
  SELECT q.query_id, d.d_id, q.qvid,
         max(list_cosine_similarity(q.qv, d.e)) AS m
  FROM q JOIN v d ON d.d_id <> q.query_id
  GROUP BY q.query_id, d.d_id, q.qvid),
sc AS (SELECT query_id, d_id, round(sum(m), 6) AS score
       FROM mx GROUP BY query_id, d_id)
SELECT query_id, d_id AS doc_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, d_id) AS rank FROM sc)
WHERE rank <= 5 ORDER BY query_id, rank
"""


def sim_outliers(spark, sf_dir):
    """Embedding outlier detection (operators/similarity.
    embedding_outliers): distance-to-centroid z-score over the corpus —
    the hygiene gate run before ANN indexing / semantic dedup. Fully
    oracle-checked (DuckDB replays the same centroid and normalizer)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.embedding_outliers(emb, "vec_id", "embedding", z_threshold=2.5).orderBy(
        "vec_id"
    )


SIM_OUTLIERS_ORACLE = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
ex AS (SELECT vec_id, i, e[i] AS x
       FROM v, unnest(generate_series(1, 64)) AS u(i)),
c AS (SELECT i, avg(x) AS m FROM ex GROUP BY i),
d AS (SELECT vec_id, sqrt(sum((x - m) * (x - m))) AS dist
      FROM ex JOIN c USING (i) GROUP BY vec_id),
s AS (SELECT avg(dist) AS mu, stddev_samp(dist) AS sd FROM d)
SELECT vec_id, round(dist, 6) AS dist, round((dist - mu) / sd, 6) AS z,
       abs((dist - mu) / sd) > 2.5 AS is_outlier
FROM d, s ORDER BY vec_id
"""


def sim_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization (operators/similarity.
    quantize_embeddings) — the 4× storage/IO compression applied to an
    embedding corpus before it hits 100 TB. Pure column expressions;
    max_abs_err certifies the reconstruction bound per vector. The
    operator's qvec stays array<int> for real consumers; this query
    EMITS it comma-joined because the certification harness
    canonicalizes rows via pandas, which cannot sort/hash array cells —
    int→string rendering is byte-identical across engines."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = S.quantize_embeddings(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), ","
        ).alias("qvec"),
        "max_abs_err",
    ).orderBy("vec_id")


SIM_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM v),
q AS (SELECT vec_id, v, scale,
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                 ELSE CAST(greatest(-127, least(127, round(x / scale))) AS INT) END) AS qvec
      FROM s)
SELECT vec_id, round(scale, 9) AS scale,
       array_to_string(list_transform(qvec, x -> CAST(x AS VARCHAR)), ',') AS qvec,
       round(list_max(list_transform(generate_series(1, len(v)),
                                     i -> abs(v[i] - qvec[i] * scale))), 9) AS max_abs_err
FROM q ORDER BY vec_id
"""


def sim_ann_ivf(spark, sf_dir):
    """IVF ANN top-5 (k-means coarse quantizer, n_probe cells → exact
    re-rank; operators/similarity.ivf_ann_topk). Seeded/deterministic but
    k-means is not SQL-replicable → rows-only; recall vs sim_topk
    asserted in tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return S.ivf_ann_topk(emb, queries, k=5, n_cells=16, n_probe=4)


def sim_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN top-5 (bucketed candidates → exact re-rank).
    Deterministic seeded planes, but bucket membership is not
    SQL-replicable → rows-only; recall vs sim_topk asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return S.lsh_ann_topk(emb, queries, dim=64, k=5, n_planes=6, n_tables=4)


_ANN_LSH_DET_TABLES, _ANN_LSH_DET_PLANES = 8, 4


def _ann_lsh_det_code(t: int) -> str:
    return _sign_code(t, "a", _ANN_LSH_DET_PLANES)


def sim_ann_lsh_det(spark, sf_dir):
    """Deterministic hyperplane-LSH ANN top-5 — the oracle-certified twin
    of sim_ann_lsh (8 tables × 4 planes, OR across tables, seed family
    "annlsh"): every vector gets an md5-Rademacher 4-bit sign code per
    table, a query's candidates are the corpus vectors sharing any
    (table, code) bucket, and candidates re-rank by EXACT cosine
    (rounded 6dp, id tiebreak — the house determinism trick, so DuckDB
    replays bucket membership AND the final ranking bit-for-bit).
    sim_ann_lsh keeps impl-defined random planes (rows-only, recall
    pytest); this twin retires the last ANN family whose correctness
    rested on pytest alone.

    Scale shape, stated honestly: a random vector collides with
    ≈ (1 − (1 − 2⁻ᴾ)ᵀ)·N corpus vectors (P=4, T=8 → ~40%), while NEAR
    vectors collide with cosine-dependent probability 1−(1−((1−θ/π))ᴾ)ᵀ
    — the LSH contrast that makes the verify candidate-bounded in
    practice; P is the corpus-scale knob (planes grow ~log N to hold
    the candidate fraction). The 8-query code table broadcasts into the
    (table, code) candidate join, so the corpus is never shuffled to
    FIND candidates; ids-only travel through the candidate distinct,
    and the verify re-attaches vectors via one keyed equi-join on the
    candidate ids (a shuffle proportional to candidates, not corpus²).
    The per-query top-5 window runs over candidate-bounded groups
    (WindowGroupLimit prunes map-side)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # sign-vector array form — bit-identical to the inlined ±term
    # chains the oracle replays (see _rademacher_sign_vec); the 32
    # inlined 64-term chains overflowed janino's 64 KB method limit and
    # the failed whole-stage compile was retried on every execution
    # (this projection feeds both the corpus leg and the qcodes
    # broadcast leg, so the failure was paid 2× per action).
    _signs = S.nested_double_lit(
        [
            _rademacher_sign_vec(f"annlsh:{t}:{p}")
            for t in range(_ANN_LSH_DET_TABLES)
            for p in range(_ANN_LSH_DET_PLANES)
        ]
    )
    dots = emb.select(
        "vec_id",
        F.transform(
            _signs,
            lambda s: F.round(
                F.aggregate(
                    F.zip_with(F.col("embedding"), s, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                9,
            ),
        ).alias("_d"),
    )
    codes = dots.select(
        "vec_id",
        *[
            sum(
                (
                    F.when(
                        F.element_at("_d", t * _ANN_LSH_DET_PLANES + p + 1) >= 0,
                        F.lit(1 << p),
                    ).otherwise(F.lit(0))
                    for p in range(_ANN_LSH_DET_PLANES)
                ),
                start=F.lit(0),
            ).alias(f"c{t}")
            for t in range(_ANN_LSH_DET_TABLES)
        ],
    )
    lng = codes.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"c{t}").alias("code"))
                    for t in range(_ANN_LSH_DET_TABLES)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.t").alias("t"), F.col("x.code").alias("code"))
    qcodes = lng.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "t", "code"
    )
    cand = (
        lng.join(F.broadcast(qcodes), ["t", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    )
    scored = (
        cand.join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine("qv", "nv"), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


SIM_ANN_LSH_DET_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
dots AS (
  SELECT vec_id,
%s
  FROM e),
codes AS (
  SELECT vec_id,
%s
  FROM dots),
lng AS (
%s),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM lng q JOIN lng c ON q.t = c.t AND q.code = c.code
  WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(eq.emb, en.emb), 6) AS cos_sim
  FROM cand JOIN e eq ON eq.vec_id = cand.query_id
            JOIN e en ON en.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank
""" % (
    ",\n".join(
        "         round(0 %s, 9) AS a%d_%d"
        % (_rademacher_terms(f"annlsh:{t}:{p}", "emb[{k}]"), t, p)
        for t in range(_ANN_LSH_DET_TABLES)
        for p in range(_ANN_LSH_DET_PLANES)
    ),
    ",\n".join(
        "         %s AS c%d" % (_ann_lsh_det_code(t), t)
        for t in range(_ANN_LSH_DET_TABLES)
    ),
    " UNION ALL\n".join(
        "  SELECT vec_id, %d AS t, c%d AS code FROM codes" % (t, t)
        for t in range(_ANN_LSH_DET_TABLES)
    ),
)


_ANN_IVF_DET_PLANES, _ANN_IVF_DET_PROBE = 4, 4
_PQ_DET_M, _PQ_DET_DSUB, _PQ_DET_PLANES, _PQ_DET_RERANK = 8, 8, 4, 50


def _pq_det_code(mi: int, elem_fmt: str) -> str:
    """P-bit sub-quantizer code for subspace mi: sign bits of
    _PQ_DET_PLANES md5-Rademacher planes carved over the subspace's
    dims via _rademacher_terms(dims, offset) — the ONE shared sign
    generator, inlined (no intermediate columns, the encode is pure
    scan-side arithmetic)."""
    return " + ".join(
        "(CASE WHEN round(0 %s, 9) >= 0 THEN %d ELSE 0 END)"
        % (
            _rademacher_terms(
                f"annpq:{mi}:{p}",
                elem_fmt,
                dims=_PQ_DET_DSUB,
                offset=mi * _PQ_DET_DSUB,
            ),
            1 << p,
        )
        for p in range(_PQ_DET_PLANES)
    )


def sim_ann_ivf_det(spark, sf_dir):
    """Deterministic IVF ANN top-5 — the oracle-certified twin of
    sim_ann_ivf with a SQL-replayable coarse quantizer: the 16 cells are
    the sign codes of 4 md5-Rademacher hyperplanes (seed family
    "annivf"), each cell's centroid is its member mean (64 per-dim avgs,
    rounded 9dp on both engines), a query probes its 4 nearest centroids
    by rounded cosine (cell-id tiebreak), and probed-cell members
    re-rank by EXACT cosine. The genuine IVF shape — coarse assign →
    centroid probe → in-cell verify — with every stage value-checked
    cross-engine; sim_ann_ivf keeps the k-means quantizer (rows-only,
    recall pytest).

    Scale shape: the cell assignment is a scan-side expression (no
    shuffle), centroids are one 16-group map-side-combined aggregate,
    the probe is a broadcast of 16 centroids against 8 queries, and
    candidates come from a broadcast of the 32 (query, cell) probes
    into the corpus's cell column — the corpus is never shuffled."""
    cell_sql = " + ".join(
        "(CASE WHEN round(0 %s, 9) >= 0 THEN %d ELSE 0 END)"
        % (
            _rademacher_terms(f"annivf:{p}", "element_at(embedding, {k})"),
            1 << p,
        )
        for p in range(_ANN_IVF_DET_PLANES)
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cells = emb.select("vec_id", "embedding", F.expr(cell_sql).alias("cell"))
    cent = (
        cells.groupBy("cell")
        .agg(
            *[
                F.round(F.avg(F.element_at(F.col("embedding"), i)), 9).alias(
                    f"m{i}"
                )
                for i in range(1, 65)
            ]
        )
        .select(
            "cell", F.array(*[f"m{i}" for i in range(1, 65)]).alias("cv")
        )
    )
    qv = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    wprobe = W.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("cell")
    )
    probes = (
        qv.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qv",
            "cell",
            F.round(S.cosine("qv", "cv"), 6).alias("cent_sim"),
        )
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= _ANN_IVF_DET_PROBE)
        .select("query_id", "qv", "cell")
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.cosine("qv", "embedding"), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


def sim_ann_pq_det(spark, sf_dir):
    """Deterministic PQ-ADC ANN top-5 — the oracle-certified twin of
    sim_ann_ivfpq's PQ leg with a SQL-replayable sub-quantizer: each of
    the 8 8-dim subspaces quantizes by the sign code of 4 md5-Rademacher
    planes (16 codewords/subspace, seed family "annpq"), codewords are
    the member means (rounded 9dp both engines), a query precomputes its
    128-entry subspace-distance table (squared L2 to every codeword),
    candidates score by ADC — the SUM of 8 table lookups, never a 64-dim
    dot — and the approximate top-50 re-ranks by exact cosine (rounded
    6dp, id tiebreaks throughout). The full PQ mechanics (encode →
    distance table → ADC → recall-repair re-rank) are value-checked
    cross-engine; sim_ann_ivfpq keeps the k-means codebooks (rows-only,
    recall pytest).

    Scale shape: the encode is scan-side sign arithmetic (no shuffle,
    no codebook join); the 128-codeword table and the 8×128-row query
    LUT broadcast; the ADC is one groupBy(query, vec) over 8 rows per
    (query, vector) — at 10⁹ vectors the scan carries 8 small ints per
    vector, the PQ memory story. Window top-k cuts are per-query,
    WindowGroupLimit-prunable."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    coded = emb.select(
        "vec_id",
        "embedding",
        *[
            F.expr(_pq_det_code(mi, "element_at(embedding, {k})")).alias(
                f"k{mi}"
            )
            for mi in range(_PQ_DET_M)
        ],
    )
    lng = coded.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mi).alias("mi"),
                        F.col(f"k{mi}").alias("code"),
                        F.slice(
                            F.col("embedding"), mi * _PQ_DET_DSUB + 1, _PQ_DET_DSUB
                        ).alias("sub"),
                    )
                    for mi in range(_PQ_DET_M)
                ]
            )
        ).alias("x"),
    ).select(
        "vec_id",
        F.col("x.mi").alias("mi"),
        F.col("x.code").alias("code"),
        F.col("x.sub").alias("sub"),
    )
    cent = lng.groupBy("mi", "code").agg(
        *[
            F.round(F.avg(F.element_at(F.col("sub"), j)), 9).alias(f"m{j}")
            for j in range(1, _PQ_DET_DSUB + 1)
        ]
    ).select(
        "mi",
        "code",
        F.array(*[f"m{j}" for j in range(1, _PQ_DET_DSUB + 1)]).alias("cv"),
    )
    qv = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    lut = qv.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "mi",
        "code",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col("qv"),
                        F.col("mi") * _PQ_DET_DSUB + 1,
                        F.lit(_PQ_DET_DSUB),
                    ),
                    F.col("cv"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        ).alias("qd"),
    )
    adc = (
        lng.select("vec_id", "mi", "code")
        .join(F.broadcast(lut), ["mi", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd"), 6).alias("adc_d"))
    )
    wa = W.partitionBy("query_id").orderBy(F.asc("adc_d"), F.asc("vec_id"))
    approx = (
        adc.withColumn("_rk", F.row_number().over(wa))
        .filter(F.col("_rk") <= _PQ_DET_RERANK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        approx.join(nv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine("qv", "nv"), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


SIM_ANN_PQ_DET_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
lng AS (
%s),
cent AS (
  SELECT mi, code, list_value(%s) AS cv
  FROM lng GROUP BY mi, code),
q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 8),
lut AS (
  SELECT q.query_id, cent.mi, cent.code,
         round(list_aggregate(list_transform(generate_series(1, %d),
             j -> (q.qv[cent.mi * %d + j] - cent.cv[j])
                  * (q.qv[cent.mi * %d + j] - cent.cv[j])), 'sum'), 9) AS qd
  FROM q CROSS JOIN cent),
adc AS (
  SELECT l.query_id, c.vec_id, round(sum(l.qd), 6) AS adc_d
  FROM lng c JOIN lut l ON c.mi = l.mi AND c.code = l.code
  WHERE c.vec_id != l.query_id
  GROUP BY l.query_id, c.vec_id),
approx AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_d ASC, vec_id ASC) AS rk
    FROM adc)
  WHERE rk <= %d),
scored AS (
  SELECT a.query_id, a.neighbor_id,
         round(list_cosine_similarity(eq.emb, en.emb), 6) AS cos_sim
  FROM approx a JOIN e eq ON eq.vec_id = a.query_id
                JOIN e en ON en.vec_id = a.neighbor_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank
""" % (
    " UNION ALL\n".join(
        "  SELECT vec_id, %d AS mi, %s AS code,\n"
        "         list_slice(emb, %d, %d) AS sub FROM e"
        % (
            mi,
            _pq_det_code(mi, "emb[{k}]"),
            mi * _PQ_DET_DSUB + 1,
            (mi + 1) * _PQ_DET_DSUB,
        )
        for mi in range(_PQ_DET_M)
    ),
    ", ".join(
        "round(avg(sub[%d]), 9)" % j for j in range(1, _PQ_DET_DSUB + 1)
    ),
    _PQ_DET_DSUB,
    _PQ_DET_DSUB,
    _PQ_DET_DSUB,
    _PQ_DET_RERANK,
)


SIM_ANN_IVF_DET_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cells AS (
  SELECT vec_id, emb,
         %s AS cell
  FROM e),
cent AS (
  SELECT cell, list_value(%s) AS cv
  FROM cells GROUP BY cell),
q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 8),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cent.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, cent.cv), 6) DESC,
                      cent.cell) AS pr
    FROM q CROSS JOIN cent)
  WHERE pr <= %d),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qv, c.emb), 6) AS cos_sim
  FROM cells c JOIN probes p ON c.cell = p.cell AND c.vec_id != p.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank
""" % (
    " + ".join(
        "(CASE WHEN round(0 %s, 9) >= 0 THEN %d ELSE 0 END)"
        % (_rademacher_terms(f"annivf:{p}", "emb[{k}]"), 1 << p)
        for p in range(_ANN_IVF_DET_PLANES)
    ),
    ", ".join("round(avg(emb[%d]), 9)" % i for i in range(1, 65)),
    _ANN_IVF_DET_PROBE,
)


# -- text analysis -----------------------------------------------------------


def text_tokens(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish regex tokens + chars."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.word_count(F.col("text")).alias("n_words"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
        TX.char_count(F.col("text")).alias("n_chars2"),
    ).orderBy("doc_id")


TEXT_TOKENS_ORACLE = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS INT) AS n_words,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_ish,
       length(text) AS n_chars2
FROM documents ORDER BY doc_id
"""


def text_tokens_cjk(spark, sf_dir):
    """CJK-aware token counting (operators/text.cjk_aware_token_count):
    whitespace tokenization counts an unsegmented Chinese sentence as
    one token, so every budget/packing stat is wrong for the CJK slice
    of a multilingual corpus; the standard tokenizer-independent fix
    counts each Han/Kana character as one token and whitespace-splits
    the rest. The zh slice gets a deterministic unsegmented suffix built
    identically on both engines, and the output exposes whitespace vs
    CJK-aware counts side by side (they must differ by exactly the CJK
    char count)."""
    docs = _t(spark, sf_dir, "documents")
    t2 = F.when(
        F.col("lang") == "zh", F.concat(F.col("text"), F.lit(" 机器学习的数据管道处理"))
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        TX.word_count(t2).cast("long").alias("n_ws_tokens"),
        TX.cjk_aware_token_count(t2).alias("n_cjk_aware"),
    ).orderBy("doc_id")


TEXT_TOKENS_CJK_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'zh' THEN text || ' 机器学习的数据管道处理'
              ELSE text END AS t2
  FROM documents)
SELECT doc_id, lang,
       CAST(len(string_split_regex(trim(regexp_replace(lower(t2), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(
         length(t2) - length(regexp_replace(t2, '[぀-ヿ㐀-䶿一-鿿豈-﫿]', '', 'g'))
         + len(list_filter(
             string_split_regex(trim(regexp_replace(regexp_replace(t2, '[぀-ヿ㐀-䶿一-鿿豈-﫿]', ' ', 'g'), '\s+', ' ', 'g')), ' '),
             x -> x <> ''))
       AS BIGINT) AS n_cjk_aware
FROM t ORDER BY doc_id
"""


def text_quality(spark, sf_dir):
    """Quality scoring: punct/upper/digit ratios, avg word length,
    stopword ratio, composite score.

    Staged so each text pass runs ONCE: composing the operators/text.py
    column functions directly recomputes the tokenization ~4× and the
    punct regex 2× (Catalyst does not CSE across projection expressions,
    and CollapseProject keeps multi-referenced non-cheap aliases in
    their own stage — which is exactly what the two selects exploit).
    avg word length is char arithmetic on the normalized string
    (total token chars = len(norm) − (n_tokens − 1) separators), not an
    interpreted higher-order aggregate fold. Values are bit-identical to
    the TX.* functions (same numerators, denominators, rounding)."""
    sw = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])
    ratio = "round((char_length(text) - char_length({})) / greatest(char_length(text), 1), 6)"
    s1 = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        ratio.format("regexp_replace(text, '[^\\\\w\\\\s]', '')") + " AS punct_r",
        ratio.format("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '')") + " AS upper_r",
        ratio.format("translate(text, '0123456789', '')") + " AS digit_r",
        "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ') AS _t",
        "char_length(trim(regexp_replace(lower(text), '\\\\s+', ' '))) AS _nlen",
    )
    s2 = s1.selectExpr(
        "doc_id",
        "punct_r",
        "upper_r",
        "digit_r",
        "round((_nlen - (size(_t) - 1)) / greatest(size(_t), 1), 6) AS avg_wlen",
        f"round(size(filter(_t, x -> array_contains(array({sw}), x))) / greatest(size(_t), 1), 6) AS sw_ratio",
        "size(_t) AS _nw",
    )
    len_ok = "CASE WHEN ((_nw >= 5) AND (_nw <= 100000)) THEN 1.0D ELSE 0.3D END"
    noise = "(punct_r + digit_r)"
    noise_ok = f"CASE WHEN ({noise} < 0.2D) THEN 1.0D ELSE greatest(0.0D, (1.0D - {noise})) END"
    sw_ok = "least((sw_ratio * 5), 1.0D)"
    return s2.selectExpr(
        "doc_id",
        "punct_r",
        "upper_r",
        "digit_r",
        "avg_wlen",
        "sw_ratio",
        f"round((({len_ok} * 0.4D) + ({noise_ok} * 0.4D)) + ({sw_ok} * 0.2D), 6) AS quality",
    ).orderBy("doc_id")


def text_quality_model(spark, sf_dir):
    """Quality-classifier INFERENCE: a fasttext-style logistic model over
    the engineered text features (fixed offline-trained weights, sigmoid
    head, 0.5 decision threshold). The whole forward pass is codegen'd
    column arithmetic — at 100 TB this is a zero-shuffle map stage, the
    shape any model-based quality filter (fasttext, DCLM classifier)
    compiles to once its features are column expressions. Determinism
    notes (each observed failing at sf0.1 before the fix): the length
    feature is the saturating n/(n+100) (not ln — JVM vs libm last-ulp
    drift); the head is the Elliott fast sigmoid 0.5 + 0.5·z/(1+|z|)
    (not 1/(1+e^-z) — same exp() drift; same S-shape and z=0 decision
    boundary); and the dot product runs in INTEGER units of 1e-8
    (features scaled ×1e6 to exact BIGINTs, decimal weights ×1e2) —
    decimal weights times 6-decimal features land EXACTLY on
    round-half boundaries, where Spark (BigDecimal half-up on the
    binary expansion) and DuckDB (scaled-multiply) legitimately
    disagree. z8 is exact; the sigmoid ratio of integers never
    terminates at 6 decimals, so its round is safe."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    nc = F.greatest(F.char_length(t), F.lit(1))
    norm = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    s1 = docs.select(
        "doc_id",
        F.round(
            (F.char_length(t) - F.char_length(F.regexp_replace(t, r"[^\w\s]", "")))
            / nc, 6,
        ).alias("punct_r"),
        F.round(
            (F.char_length(t)
             - F.char_length(F.translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", ""))) / nc,
            6,
        ).alias("upper_r"),
        F.round(
            (F.char_length(t) - F.char_length(F.translate(t, "0123456789", ""))) / nc,
            6,
        ).alias("digit_r"),
        F.split(norm, " ").alias("_t"),
        F.char_length(norm).alias("_nlen"),
    )
    nt = F.size("_t")
    ntg = F.greatest(nt, F.lit(1))
    sw = F.array(*[F.lit(w) for w in TX.STOPWORDS["en"]])
    s2 = s1.select(
        "doc_id",
        "punct_r",
        "upper_r",
        "digit_r",
        F.round((F.col("_nlen") - (nt - 1)) / ntg, 6).alias("avg_wlen"),
        F.round(
            F.size(F.filter("_t", lambda x: F.array_contains(sw, x))) / ntg, 6
        ).alias("sw_ratio"),
        F.round(nt / (nt + F.lit(100.0)), 6).alias("len_sat"),
    )
    def i6(c):  # 6-decimal feature -> exact integer in 1e-6 units
        return F.round(F.col(c) * 1e6).cast("long")

    z8 = (
        F.lit(-200000000)
        + 400 * i6("sw_ratio")
        - 600 * i6("punct_r")
        - 300 * i6("digit_r")
        - 200 * i6("upper_r")
        + 15 * i6("avg_wlen")
        + 35 * i6("len_sat")
    )
    score = F.lit(0.5) + F.lit(0.5) * z8 / (F.lit(1.0e8) + F.abs(z8))
    out = s2.select(
        "doc_id",
        z8.alias("z8"),
        F.round(score, 6).alias("score"),
        (z8 >= 0).cast("int").alias("keep"),
    )
    return out.orderBy("doc_id")


TEXT_QUALITY_MODEL_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t,
         greatest(length(text), 1) AS nc,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents),
m AS (
  SELECT doc_id,
         round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 / nc, 6) AS punct_r,
         round(len(regexp_extract_all(text, '[A-Z]')) * 1.0 / nc, 6) AS upper_r,
         round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / nc, 6) AS digit_r,
         round((length(norm) - (len(t) - 1)) * 1.0 / greatest(len(t), 1), 6) AS avg_wlen,
         round(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))
               * 1.0 / greatest(len(t), 1), 6) AS sw_ratio,
         round(len(t) / (len(t) + 100.0), 6) AS len_sat
  FROM base),
z AS (
  SELECT doc_id,
         -200000000
         + 400 * CAST(round(sw_ratio * 1e6) AS BIGINT)
         - 600 * CAST(round(punct_r * 1e6) AS BIGINT)
         - 300 * CAST(round(digit_r * 1e6) AS BIGINT)
         - 200 * CAST(round(upper_r * 1e6) AS BIGINT)
         + 15 * CAST(round(avg_wlen * 1e6) AS BIGINT)
         + 35 * CAST(round(len_sat * 1e6) AS BIGINT) AS z8
  FROM m)
SELECT doc_id, z8,
       round(0.5 + 0.5 * z8 / (1.0e8 + abs(z8)), 6) AS score,
       CAST(z8 >= 0 AS INT) AS keep
FROM z ORDER BY doc_id
"""


TEXT_QUALITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t,
         greatest(length(text), 1) AS nc
  FROM documents),
m AS (
  SELECT doc_id,
         round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 / nc, 6) AS punct_r,
         round(len(regexp_extract_all(text, '[A-Z]')) * 1.0 / nc, 6) AS upper_r,
         round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / nc, 6) AS digit_r,
         round(list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1), 6) AS avg_wlen,
         round(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))
               * 1.0 / greatest(len(t), 1), 6) AS sw_ratio,
         len(t) AS n_words
  FROM base)
SELECT doc_id, punct_r, upper_r, digit_r, avg_wlen, sw_ratio,
       round((CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.4
             + (CASE WHEN punct_r + digit_r < 0.2 THEN 1.0
                     ELSE greatest(0.0, 1.0 - (punct_r + digit_r)) END) * 0.4
             + least(sw_ratio * 5, 1.0) * 0.2, 6) AS quality
FROM m ORDER BY doc_id
"""


def text_langid(spark, sf_dir):
    """Language ID by stopword-hit argmax (deterministic heuristic;
    contract = per-language score → argmax with alphabetical tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scores = TX.lang_scores(t)
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"s_{lang}") for lang in sorted(TX.STOPWORDS)],
        TX.predict_lang(t).alias("pred_lang"),
    ).orderBy("doc_id")


TEXT_LANGID_ORACLE = r"""
WITH base AS (
  SELECT doc_id, lang,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
s AS (
  SELECT doc_id, lang,
    CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS INT) AS s_en,
    CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], x))) AS INT) AS s_de,
    CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','un','une','de','que','pour'], x))) AS INT) AS s_fr,
    CAST(len(list_filter(t, x -> list_contains(['el','la','los','y','es','un','una','de','que','por'], x))) AS INT) AS s_es,
    CAST(len(list_filter(t, x -> list_contains(['的','是','了','在','和','有','我','不','这','人'], x))) AS INT) AS s_zh
  FROM base)
SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
            WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM s ORDER BY doc_id
"""


def text_langid_confusion(spark, sf_dir):
    """Confusion matrix + per-language recall of the stopword-argmax
    language identifier against the gold labels — the evaluation
    artifact every classifier in the curation stack owes (text_langid
    emits the per-doc predictions; this rolls them into the
    quality-report form: true × predicted counts and per-true-language
    recall). Same deterministic scorer (TX.predict_lang), one (true,
    pred) groupBy + a per-true-language total broadcast back. The
    totals derive from the confusion matrix itself (counts partition
    by construction) instead of a SECOND predict_lang pass over the
    corpus, which shared no exchange with this one (different grouping
    keys)."""
    docs = _t(spark, sf_dir, "documents")
    pred = docs.select("lang", TX.predict_lang(F.col("text")).alias("pred_lang"))
    cm = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    tot = cm.groupBy("lang").agg(F.sum("n").alias("_t"))
    return (
        cm.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n",
            F.round(F.col("n") / F.col("_t"), 6).alias("share_of_true"),
            (F.col("lang") == F.col("pred_lang")).cast("int").alias("is_correct"),
        )
        .orderBy("lang", "pred_lang")
    )


TEXT_LANGID_CONFUSION_ORACLE = r"""
WITH base AS (
  SELECT lang,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
s AS (
  SELECT lang,
    CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS INT) AS s_en,
    CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], x))) AS INT) AS s_de,
    CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','un','une','de','que','pour'], x))) AS INT) AS s_fr,
    CAST(len(list_filter(t, x -> list_contains(['el','la','los','y','es','un','una','de','que','por'], x))) AS INT) AS s_es,
    CAST(len(list_filter(t, x -> list_contains(['的','是','了','在','和','有','我','不','这','人'], x))) AS INT) AS s_zh
  FROM base),
pred AS (
  SELECT lang,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
            WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
            ELSE 'zh' END AS pred_lang
  FROM s),
cm AS (SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
tot AS (SELECT lang, count(*) AS _t FROM pred GROUP BY lang)
SELECT cm.lang, cm.pred_lang, cm.n,
       round(cm.n * 1.0 / tot._t, 6) AS share_of_true,
       CAST(cm.lang = cm.pred_lang AS INT) AS is_correct
FROM cm JOIN tot ON cm.lang = tot.lang
ORDER BY cm.lang, cm.pred_lang
"""


def text_langid_ngram(spark, sf_dir):
    """Char-trigram rank-profile language ID (Cavnar-Trenkle): per-lang
    top-200 trigram profiles built distributed from the labeled corpus,
    broadcast to score each doc (sum of rank weights over distinct
    trigrams, argmax, alphabetical tie-break, 'und' on zero hits)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.langid_trigram(docs, "doc_id", "lang", "text", top_n=200).orderBy("doc_id")


TEXT_LANGID_NGRAM_ORACLE = r"""
WITH base AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
  FROM documents),
idx AS (SELECT doc_id, lang, n,
               unnest(generate_series(1, greatest(length(n) - 2, 1))) AS g
        FROM base),
trid AS (SELECT DISTINCT doc_id, lang, substr(n, g, 3) AS tri FROM idx),
prof AS (
  SELECT lang AS plang, tri, count(*) AS c,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri) AS rk
  FROM trid GROUP BY 1, 2),
prof_top AS (SELECT plang, tri, 201 - rk AS w FROM prof WHERE rk <= 200),
sc AS (SELECT doc_id, plang, sum(w) AS score
       FROM trid JOIN prof_top USING (tri) GROUP BY 1, 2),
best AS (SELECT doc_id, plang, score,
                row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
         FROM sc)
SELECT b.doc_id, b.lang,
       coalesce(best.plang, 'und') AS pred_lang,
       CAST(coalesce(best.score, 0) AS BIGINT) AS best_score
FROM base b LEFT JOIN best ON b.doc_id = best.doc_id AND best.rn = 1
ORDER BY b.doc_id
"""


def text_pii(spark, sf_dir):
    """PII detect + redact (operators/text.pii_counts / pii_scrub) — the
    standard training-data scrubbing pass. The synthetic corpus contains
    no PII, so the query first plants a deterministic email/phone/IP per
    document (derived from doc_id, replicated verbatim in the oracle SQL)
    and then certifies both the per-kind counts and the fully scrubbed
    text against DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ph 555-123-4567 ip 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    t = docs.select("doc_id", planted.alias("t2"))
    counts = TX.pii_counts(F.col("t2"))
    return t.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ip"),
        TX.pii_scrub(F.col("t2")).alias("scrubbed"),
    ).orderBy("doc_id")


TEXT_PII_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@mail.example.com ph 555-123-4567 ip 10.0.0.' || (doc_id % 256) AS t2
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
       regexp_replace(
         regexp_replace(
           regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS scrubbed
FROM t ORDER BY doc_id
"""


def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of normalized text + duplicate-group
    accounting over fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("first_doc")
    )


TEXT_FINGERPRINT_ORACLE = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       count(*) AS n_docs, min(doc_id) AS first_doc
FROM documents
GROUP BY 1 ORDER BY first_doc
"""


def text_normalize(spark, sf_dir):
    """C4-style text cleaning (operators/text.clean_text): strip control
    + zero-width characters, collapse whitespace, casefold. The synthetic
    corpus is already clean, so the query FIRST builds a deterministic
    noisy form (tabs, vertical tab, zero-width space, uppercased source
    tag appended) on BOTH engines, then certifies that normalization
    recovers a canonical string. Pure column expressions — scan-speed."""
    docs = _t(spark, sf_dir, "documents")
    noisy = F.concat(
        F.col("text"), F.lit("\t\t"), F.upper("source"), F.lit("\x0b​")
    )
    cleaned = TX.clean_text(noisy)
    return docs.select(
        "doc_id",
        F.length(noisy).alias("n_chars_noisy"),
        cleaned.alias("text_clean"),
        F.length(cleaned).alias("n_chars_clean"),
    ).orderBy("doc_id")


TEXT_NORMALIZE_ORACLE = r"""
WITH noisy AS (
  SELECT doc_id,
         text || chr(9) || chr(9) || upper(source) || chr(11) || chr(8203) AS s
  FROM documents)
SELECT doc_id,
       length(s) AS n_chars_noisy,
       lower(trim(regexp_replace(
         regexp_replace(s, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
         '\s+', ' ', 'g'))) AS text_clean,
       length(lower(trim(regexp_replace(
         regexp_replace(s, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
         '\s+', ' ', 'g')))) AS n_chars_clean
FROM noisy ORDER BY doc_id
"""


def text_line_dedup(spark, sf_dir):
    """CCNet-style corpus-level line dedup (operators/text.line_dedup):
    drop every line occurring >= 2 times across the corpus (boilerplate
    removal), reassemble documents preserving line order. The synthetic
    corpus has no newlines, so the query synthesizes deterministic
    pseudo-lines by marking every 6-token run on BOTH engines — the
    operator under test is the corpus-wide line-hash shuffle + ordered
    reassembly, not the splitting. Spark groups lines by xxhash64
    (fixed-width shuffle keys); the oracle groups by the line text
    itself — identical results absent 64-bit collisions, and the hash
    path is the 100 TB design (never shuffles line strings)."""
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.regexp_replace("text", "((\\S+ ){6})", "$1\x01").alias("text"),
    )
    return (
        TX.line_dedup(lined, "doc_id", "text", delim="\x01", min_count=2)
        .orderBy("doc_id")
    )


TEXT_LINE_DEDUP_ORACLE = r"""
WITH lined AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '((\S+ ){6})', '\1' || chr(1), 'g'),
                      chr(1)) AS ls
  FROM documents),
lines AS (
  SELECT doc_id, i AS ln, ls[i] AS line
  FROM lined, unnest(generate_series(1, len(ls))) AS t(i)),
counts AS (SELECT line, count(*) AS n FROM lines GROUP BY line),
kept AS (
  SELECT doc_id,
         count(*) AS n_lines_kept,
         string_agg(line, chr(1) ORDER BY ln) AS text_deduped
  FROM lines JOIN counts USING (line)
  WHERE counts.n < 2
  GROUP BY doc_id),
totals AS (SELECT doc_id, count(*) AS n_lines_total FROM lines GROUP BY doc_id)
SELECT t.doc_id, t.n_lines_total,
       COALESCE(k.n_lines_kept, 0) AS n_lines_kept,
       COALESCE(k.text_deduped, '') AS text_deduped
FROM totals t LEFT JOIN kept k USING (doc_id)
ORDER BY t.doc_id
"""


# -- multimodal --------------------------------------------------------------


def multimodal_meta(spark, sf_dir):
    """Media-table plumbing: binary payload + typed metadata struct
    (schema contract of operators/multimodal.MEDIA_SCHEMA), projected to
    scalar fields for oracle comparison."""
    docs = _t(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    return media.select(
        "media_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.source").alias("src"),
        F.octet_length("payload").alias("payload_bytes"),
    ).orderBy("media_id")


MULTIMODAL_META_ORACLE = """
SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, source AS src,
       octet_length(encode(text)) AS payload_bytes
FROM documents ORDER BY media_id
"""


def multimodal_features(spark, sf_dir):
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (deterministic byte-stat stand-in for the stubbed codec;
    operators/multimodal.featurize). Python-side computation → rows-only;
    exactness asserted in tests/test_multimodal.py."""
    docs = _t(spark, sf_dir, "documents")
    return sort_python_output(M.featurize(M.media_from_documents(docs)), "media_id")


def multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing: per-media exploded frame indices
    (explode+sequence — the row-multiplying video pattern), aggregated to
    sampled-frame counts for the oracle."""
    docs = _t(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    return (
        M.frame_sample_plan(media, every_n=10)
        .groupBy("media_id")
        .agg(F.count("*").alias("n_frames"), F.max("frame_idx").alias("last_frame"))
        .orderBy("media_id")
    )


MULTIMODAL_FRAMES_ORACLE = """
WITH m AS (SELECT doc_id AS media_id,
                  CAST(octet_length(encode(text)) / 100.0 + 1 AS INT) AS nf
           FROM documents)
SELECT media_id,
       CAST(floor((nf - 1) / 10.0) + 1 AS BIGINT) AS n_frames,
       CAST(floor((nf - 1) / 10.0) * 10 AS INT) AS last_frame
FROM m ORDER BY media_id
"""


def multimodal_phash(spark, sf_dir):
    """Perceptual-hash media near-dup (operators/multimodal.
    phash_dup_pairs): 63-bit average-hash signatures via the Arrow-
    batched fake-decode pandas_udf, paired by the shared Hamming band
    join at distance ≤ 3 — the pigeonhole-EXACT regime (≤ 3 differing
    bits cannot touch all four 16-bit bands), so the banded plan finds
    exactly the all-pairs answer and DuckDB certifies it value-for-value
    by rebuilding the identical signatures from the identical bytes."""
    docs = _t(spark, sf_dir, "documents")
    return M.phash_dup_pairs(M.media_from_documents(docs), max_hamming=3).orderBy(
        "a", "b"
    )


MULTIMODAL_PHASH_ORACLE = """
WITH b AS (
  SELECT doc_id, lower(to_hex(encode(text))) AS h, octet_length(encode(text)) AS n
  FROM documents),
px AS (
  SELECT doc_id, i,
    CASE WHEN i <= n THEN
      (CASE WHEN ascii(substr(h, 2*i-1, 1)) >= 97 THEN ascii(substr(h, 2*i-1, 1)) - 87
            ELSE ascii(substr(h, 2*i-1, 1)) - 48 END) * 16 +
      (CASE WHEN ascii(substr(h, 2*i, 1)) >= 97 THEN ascii(substr(h, 2*i, 1)) - 87
            ELSE ascii(substr(h, 2*i, 1)) - 48 END)
    ELSE 0 END AS v
  FROM b, unnest(generate_series(1, 63)) AS u(i)),
m AS (SELECT doc_id, avg(v) AS mu FROM px GROUP BY doc_id),
sig AS (
  SELECT px.doc_id,
         CAST(sum(CASE WHEN v > mu THEN 1::BIGINT << (62 - (i - 1)) ELSE 0 END) AS BIGINT) AS sh
  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id)
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY a, b
"""


def sketch_hll_windowed(spark, sf_dir):
    """Trailing-window distinct counts from MERGED HOURLY SKETCHES: one
    pass builds an HLL per hour; a trailing window over the LAST 6
    OBSERVED HOURLY ROWS (ROWS frame — an hour with zero events is
    absent, so across a quiet gap the frame reaches further back in
    wall-clock time; gap-fill the hourly spine first for calendar-true
    windows) unions the sketch column (hll_union_agg over the frame)
    and estimates —
    the rolling-distinct dashboard query answered from KB-sized partials
    instead of re-scanning the fact table once per window position. At
    100 TB the hourly sketch table is the materialized rollup; every
    window length is a frame over it. Rows-only (estimates are
    implementation-defined); tests assert <5% error vs the exact
    trailing distinct count at every hour."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    w = W.orderBy("hour").rowsBetween(-5, W.currentRow)
    return (
        hourly.select(
            "hour",
            F.hll_sketch_estimate("sk").cast("long").alias("hour_users"),
            F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
            .cast("long")
            .alias("trailing6h_users"),
        )
        .orderBy("hour")
    )


def sketch_hll(spark, sf_dir):
    """Mergeable HLL distinct-count sketches (Datasketches via Spark's
    hll_sketch_agg): per-event-type user sketches + a global estimate
    from hll_union_agg over the PER-TYPE SKETCHES — never re-scanning
    the facts.

    This is the 100 TB pattern for distinct counts: partial sketches are
    a few KB each, commutatively mergeable across partitions / days /
    sources, so incremental rollups union yesterday's sketch with
    today's instead of re-reading 100 TB. Estimates are deterministic
    (register-max merge is order-insensitive) but implementation-defined
    → rows-only here; tests/test_dedup_similarity.py asserts <5% error
    vs exact and sketch-merge == direct-global."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    per_type_est = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    total = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    ).select(F.lit("__all__").alias("event_type"), "approx_users")
    return per_type_est.unionByName(total).orderBy("event_type")


def sketch_topk(spark, sf_dir):
    """Approximate heavy hitters (approx_top_k): top-12 tokens across the
    document corpus. The sketch keeps a bounded candidate map per
    partition and merges — at 100 TB the full (term, count) table never
    materializes, unlike the exact groupBy path. maxItemsTracked=65536
    bounds memory; below that distinct-count the result is exact
    (asserted vs the exact rollup in tests/test_multimodal_text.py).
    Output re-sorted deterministically on (count DESC, item)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    sk = toks.agg(F.expr("approx_top_k(tok, 12, 65536)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("n"))
        .orderBy(F.col("n").desc(), "item")
    )


def sketch_cms(spark, sf_dir):
    """Count-min sketch point-frequency estimates (operators/sketch.py):
    a 4×8192 counter matrix built from one explode + one map-side-
    combined groupBy over the token stream, probed for the exact top-20
    tokens via a broadcast join. Sketch state is bounded (≤ 32k cells)
    regardless of corpus size and merges by counter addition — the
    incremental-rollup alternative when the full (term, count) table is
    too big to keep. xxhash64 cells → DuckDB cannot replicate →
    rows-only; ≥-true / exact-below-capacity / merge==direct guarantees
    asserted in tests/test_sketch.py."""
    from ..operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok")).persist()
    cms = SK.cms_build(toks, "tok", depth=4, width=8192)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(20)
    )
    return (
        SK.cms_estimate(cms, top, "tok", depth=4, width=8192)
        .join(top, "tok")
        .select("tok", "exact_n", "est")
        .orderBy(F.col("exact_n").desc(), "tok")
    )


def sketch_cms_det(spark, sf_dir):
    """Deterministic count-min sketch, the oracle-certified twin of
    sketch_cms: a 4×16 counter matrix whose row hashes are the
    portable 60-bit md5 integers (conv(substr(md5),16,10) ≡ DuckDB
    '0x' cast), deliberately narrow (the corpus vocabulary is a
    31-token template set) so real collisions occur and the
    certified artifact exercises the estimator's min-over-rows bound —
    output is the exact-vs-estimate comparison for the exact top-20
    tokens, with the per-token OVERCOUNT (always ≥ 0, the CMS
    guarantee) value-checked cross-engine. The production sketch_cms
    keeps xxhash64 and 4×8192 cells (rows-only + property tests).

    Integer arithmetic end to end: token counts feed the cells (one
    map-side-combined groupBy), counters are 64 rows regardless of
    corpus size (the sketch point), the top-20 probe is a
    TakeOrdered + broadcast-sized counter join."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cell = (
        "cast(conv(substr(md5(concat(j, ':', term)),1,15),16,10) as bigint)"
        " % 16"
    )
    cells = counts.select(
        "term", "n", F.explode(F.expr("array(0, 1, 2, 3)")).alias("j")
    ).select("n", "j", F.expr(cell).alias("cell"))
    counters = cells.groupBy("j", "cell").agg(F.sum("n").alias("c"))
    top = (
        counts.orderBy(F.col("n").desc(), "term")
        .limit(20)
        .withColumnRenamed("n", "exact_n")
    )
    probes = top.select(
        "term", "exact_n", F.explode(F.expr("array(0, 1, 2, 3)")).alias("j")
    ).select("term", "exact_n", "j", F.expr(cell).alias("cell"))
    return (
        probes.join(F.broadcast(counters), ["j", "cell"])
        .groupBy("term", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "term",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "term")
    )


SKETCH_CMS_DET_ORACLE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
counts AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
cells AS (
  SELECT n, j, CAST('0x'||substr(md5(j||':'||term),1,15) AS BIGINT) % 16 AS cell
  FROM counts, range(0, 4) t(j)),
counters AS (SELECT j, cell, sum(n) AS c FROM cells GROUP BY 1, 2),
top AS (SELECT term, n AS exact_n FROM counts ORDER BY n DESC, term LIMIT 20),
probes AS (
  SELECT term, exact_n, j,
         CAST('0x'||substr(md5(j||':'||term),1,15) AS BIGINT) % 16 AS cell
  FROM top, range(0, 4) t(j)),
est AS (
  SELECT term, exact_n, min(c) AS cms_est
  FROM probes JOIN counters USING (j, cell) GROUP BY 1, 2)
SELECT term, CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_n AS BIGINT) AS overcount
FROM est ORDER BY exact_n DESC, term
"""


# rho(w) for a 54-bit suffix: 1-indexed position of the leftmost set
# bit, 55 when w = 0 — a pure integer CASE chain shared by both engines
# (no float log2, whose boundary rounding could disagree).
_HLL_RHO = (
    "CASE "
    + " ".join(
        "WHEN w >= %d THEN %d" % (1 << k, 54 - k) for k in range(53, -1, -1)
    )
    + " ELSE 55 END"
)


def sketch_hll_det(spark, sf_dir):
    """Deterministic HyperLogLog, the oracle-certified twin of
    sketch_hll: m = 64 buckets from the low 6 bits of the portable
    60-bit md5 integer, registers = max leading-1 position of the
    54-bit suffix (integer CASE chain, no float log), and the Flajolet
    estimator computed from the integer registers as
    α₆₄·m²·2⁵⁵ / Σ 2^(55-reg) — the harmonic sum rescaled to an exact
    integer so both engines divide the same two numbers (plus the
    standard linear-counting branch for the small range). The
    production sketch_hll keeps xxhash64 + per-window merge
    (rows-only + merge==direct pytest).

    64 registers of state regardless of corpus size (±13% standard
    error; sf0.01's 150 users land in the linear-counting branch, the
    raw branch takes over at sf0.1); one distinct, one 64-group max, one single-row aggregate. Output: exact distinct
    users vs HLL estimate and the relative error (4dp)."""
    e = _t(spark, sf_dir, "events")
    users = e.select(F.col("user_id").cast("string").alias("u")).distinct()
    hs = users.select(
        F.expr("cast(conv(substr(md5(u),1,15),16,10) as bigint)").alias("h")
    ).select(F.expr("h & 63").alias("bucket"), F.expr("h >> 6").alias("w"))
    rhos = hs.select("bucket", F.expr(_HLL_RHO).alias("rho"))
    regs0 = rhos.groupBy("bucket").agg(F.max("rho").alias("reg"))
    allb = spark.range(64).select(F.col("id").alias("bucket"))
    regs = allb.join(regs0, "bucket", "left").select(
        F.coalesce("reg", F.lit(0)).alias("reg")
    )
    summary = regs.agg(
        F.max("reg").cast("int").alias("max_reg"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - reg)")).alias("sp"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0)).alias("zero_regs"),
    )
    ex = users.agg(F.count(F.lit(1)).alias("n_exact"))
    raw = F.lit(0.709) * F.lit(4096.0) * F.pow(F.lit(2.0), F.lit(55.0)) / F.col(
        "sp"
    ).cast("double")
    est = F.when(
        (raw <= 160.0) & (F.col("zero_regs") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("zero_regs")),
    ).otherwise(raw)
    return ex.crossJoin(F.broadcast(summary)).select(
        "n_exact",
        "max_reg",
        F.col("zero_regs").cast("bigint").alias("zero_regs"),
        F.round(est, 4).alias("hll_est"),
        F.round((est - F.col("n_exact")) / F.col("n_exact") * 100.0, 4).alias(
            "rel_err_pct"
        ),
    )


SKETCH_HLL_DET_ORACLE = """
WITH users AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS u FROM events),
hs AS (SELECT CAST('0x'||substr(md5(u),1,15) AS BIGINT) AS h FROM users),
bw AS (SELECT h & 63 AS bucket, h >> 6 AS w FROM hs),
rhos AS (SELECT bucket, %s AS rho FROM bw),
regs0 AS (SELECT bucket, max(rho) AS reg FROM rhos GROUP BY bucket),
regs AS (
  SELECT coalesce(reg, 0) AS reg
  FROM range(0, 64) t(b) LEFT JOIN regs0 ON regs0.bucket = t.b),
s AS (
  SELECT CAST(max(reg) AS INT) AS max_reg,
         sum(CAST(1 AS BIGINT) << (55 - reg)) AS sp,
         sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS zero_regs
  FROM regs),
ex AS (SELECT count(*) AS n_exact FROM users),
c AS (
  SELECT n_exact, max_reg, zero_regs,
         0.709 * 4096.0 * pow(2.0, 55.0) / CAST(sp AS DOUBLE) AS raw
  FROM ex, s),
f AS (
  SELECT *, CASE WHEN raw <= 160.0 AND zero_regs > 0
                 THEN 64.0 * ln(64.0 / zero_regs) ELSE raw END AS est
  FROM c)
SELECT CAST(n_exact AS BIGINT) AS n_exact, max_reg,
       CAST(zero_regs AS BIGINT) AS zero_regs,
       round(est, 4) AS hll_est,
       round((est - n_exact) / n_exact * 100.0, 4) AS rel_err_pct
FROM f
""" % _HLL_RHO


def text_perplexity(spark, sf_dir):
    """Per-document cross-entropy / perplexity under the corpus's own
    bigram LM (operators/text.bigram_cross_entropy) — the CCNet-style
    perplexity quality filter. Fully oracle-checked: DuckDB rebuilds the
    identical LM and scores with the identical -log2 mean."""
    docs = _t(spark, sf_dir, "documents")
    return TX.bigram_cross_entropy(docs, "doc_id", "text").orderBy("doc_id")


TEXT_PERPLEXITY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
nll AS (
  SELECT doc_id, -log2(c12 * 1.0 / c1) AS nll
  FROM pairs JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(nll), 6) AS cross_entropy,
       round(pow(2.0, avg(nll)), 4) AS ppl
FROM nll GROUP BY doc_id ORDER BY doc_id
"""


def text_zipf(spark, sf_dir):
    """Zipf-law fit of the corpus token-frequency distribution: slope/R²
    of log(count) over log(rank) for the top-200 terms — the
    distribution-health statistic (a slope far from −1 flags boilerplate
    or truncation artifacts in a crawl). One token explode + count; the
    top-200 cut is an orderBy().limit() — TakeOrderedAndProject
    (per-partition heaps), NEVER a global row_number over the full
    distinct-term table (10⁸–10⁹ terms on a web crawl through one
    partition — the dsir-vocab defect class); the rank window then runs
    over the 200 surviving rows. Same values: the limit and the rank
    share one total order (count desc, term)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    ranked = (
        counts.orderBy(F.col("n").desc(), "term")
        .limit(200)
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "term"))
        )
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("n"), F.log("rk")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("n"), F.log("rk")), 6).alias("r2"),
        F.count("*").alias("n_terms"),
    )


TEXT_ZIPF_ORACLE = r"""
WITH counts AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
c AS (SELECT term, count(*) AS n FROM counts GROUP BY term),
r AS (SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rk FROM c)
SELECT round(regr_slope(ln(n), ln(rk)), 6) AS zipf_slope,
       round(regr_r2(ln(n), ln(rk)), 6) AS r2,
       count(*) AS n_terms
FROM r WHERE rk <= 200
"""


def text_bigram_lm(spark, sf_dir):
    """Corpus bigram language-model table: P(w2|w1) = c(w1,w2)/c(w1) for
    the 30 most frequent bigrams. One token explode feeds BOTH counts
    (bigrams via token + lead(token) window per doc — the (doc)-keyed
    window shuffle is the only corpus-scale shuffle; the unigram
    denominator joins back KEYED on w1 with no broadcast pin — the
    vocabulary is unbounded, AQE picks the strategy). Top-30 compiles to
    TakeOrderedAndProject. The corpus statistic behind n-gram LM scoring
    and perplexity-style quality filters."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "w")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("w2", F.lead("w").over(w))
        .where(F.col("w2").isNotNull())
        .groupBy("w", "w2")
        .agg(F.count("*").alias("c12"))
    )
    # last token of each doc starts no bigram: the denominator counts
    # tokens that HAVE a successor, so probabilities sum to 1 per w1
    deno = (
        toks.withColumn("w2", F.lead("w").over(w))
        .where(F.col("w2").isNotNull())
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    return (
        bi.join(deno, "w")
        .select(
            F.col("w").alias("w1"),
            "w2",
            "c12",
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_cond"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(30)
    )


TEXT_BIGRAM_LM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks),
seq AS (SELECT doc_id, i, t[i] AS w,
               CASE WHEN i < len(t) THEN t[i + 1] END AS w2
        FROM pos),
bi AS (SELECT w, w2, count(*) AS c12 FROM seq WHERE w2 IS NOT NULL GROUP BY 1, 2),
deno AS (SELECT w, count(*) AS c1 FROM seq WHERE w2 IS NOT NULL GROUP BY 1)
SELECT bi.w AS w1, w2, c12, round(c12 * 1.0 / c1, 6) AS p_cond
FROM bi JOIN deno ON bi.w = deno.w
ORDER BY c12 DESC, w1, w2 LIMIT 30
"""


def text_dsir(spark, sf_dir):
    """DSIR data-selection importance weights (Xie et al., NeurIPS
    2023): per-document Σ log p̂_target(tok) − log p̂_raw(tok) with
    add-1-smoothed unigram distributions over a fixed bucket space
    (top-64 raw tokens + <oov>), target = the src0 slice of the corpus.
    Documents whose vocabulary skews toward the target domain score
    high; resampling keeps the top-weight tail. Fully oracle-checked —
    DuckDB rebuilds both distributions and the identical smoothed
    log-ratio sum."""
    docs = _t(spark, sf_dir, "documents")
    return TX.dsir_logweights(
        docs, "doc_id", "text", F.col("source") == "src0", vocab_size=64
    ).orderBy("doc_id")


TEXT_DSIR_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source = 'src0' AS tgt,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
counts AS (
  SELECT w, count(*) AS c_raw,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
  FROM toks GROUP BY w),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY c_raw DESC, w) AS rk FROM counts),
mapping AS (
  SELECT w, CASE WHEN rk <= 64 THEN w ELSE '<oov>' END AS b, c_raw, c_tgt
  FROM ranked),
buckets AS (
  SELECT b, sum(c_raw) AS c_raw, sum(c_tgt) AS c_tgt FROM mapping GROUP BY b),
totals AS (
  SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt, count(*) AS v FROM buckets),
ratio AS (
  SELECT b, ln((c_tgt + 1.0) / (n_tgt + 1.0 * v))
            - ln((c_raw + 1.0) / (n_raw + 1.0 * v)) AS lr
  FROM buckets, totals)
SELECT doc_id, count(*) AS n_tokens, round(sum(lr), 6) AS log_w
FROM toks
JOIN (SELECT w, b FROM mapping) USING (w)
JOIN ratio USING (b)
GROUP BY doc_id ORDER BY doc_id
"""


def sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN: 8×16 codebooks compress the 64-d float
    vectors 32×; asymmetric-distance scan (m table lookups per candidate)
    prunes to 50 per query, exact cosine re-ranks to top-5. Codebook fit
    is impl-defined (sampled k-means) → rows-only; recall vs brute force
    asserted in tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.orderBy("vec_id").limit(5)
    return S.pq_adc_topk(emb, queries, dim=64, k=5).orderBy("query_id", "rank")


def sim_ann_ivfpq(spark, sf_dir):
    """IVF-PQ ANN: coarse cells bound WHICH candidates are scanned
    (n_probe/n_cells of the corpus), PQ codes bound bytes-per-candidate
    (32×), exact re-rank repairs recall — the composed FAISS-style index.
    Rows-only (sampled k-means quantizers); recall vs brute force in
    tests/test_dedup_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.orderBy("vec_id").limit(5)
    return S.ivfpq_topk(emb, queries, dim=64, k=5).orderBy("query_id", "rank")


QUERIES = {
    "sketch_hll": sketch_hll,
    "sketch_hll_windowed": sketch_hll_windowed,
    "text_bigram_lm": text_bigram_lm,
    "text_perplexity": text_perplexity,
    "text_zipf": text_zipf,
    "sketch_topk": sketch_topk,
    "sketch_cms": sketch_cms,
    "dedup_exact": dedup_exact,
    "dedup_exact_keys": dedup_exact_keys,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_substring": dedup_substring,
    "dedup_fuzzy": dedup_fuzzy,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_exact": dedup_embedding_exact,
    "dedup_semantic": dedup_semantic,
    "scd2_merge_customers": scd2_merge_customers,
    "scd2_point_in_time": scd2_point_in_time,
    "sim_topk": sim_topk,
    "sim_hybrid_rrf": sim_hybrid_rrf,
    "sim_maxsim": sim_maxsim,
    "sim_outliers": sim_outliers,
    "sim_quantize": sim_quantize,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_lsh_det": sim_ann_lsh_det,
    "sim_ann_pq": sim_ann_pq,
    "sim_ann_ivfpq": sim_ann_ivfpq,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_det": sim_ann_ivf_det,
    "sim_ann_pq_det": sim_ann_pq_det,
    "text_tokens": text_tokens,
    "text_tokens_cjk": text_tokens_cjk,
    "text_quality": text_quality,
    "text_quality_model": text_quality_model,
    "text_lexical": text_lexical,
    "profile_constraints": profile_constraints,
    "stats_column_profile": stats_column_profile,
    "stats_histogram": stats_histogram,
    "stats_corr_matrix": stats_corr_matrix,
    "stats_mutual_info": stats_mutual_info,
    "stats_chi2": stats_chi2,
    "stats_ks_test": stats_ks_test,
    "stats_mannwhitney": stats_mannwhitney,
    "stats_autocorr": stats_autocorr,
    "stats_spearman": stats_spearman,
    "stats_benford": stats_benford,
    "stats_ttest": stats_ttest,
    "stats_kaplan_meier": stats_kaplan_meier,
    "stats_mad": stats_mad,
    "stats_anova": stats_anova,
    "text_hapax": text_hapax,
    "stats_bootstrap": stats_bootstrap,
    "sim_centroid_matrix": sim_centroid_matrix,
    "sim_knn_eval": sim_knn_eval,
    "sim_ranking_metrics": sim_ranking_metrics,
    "stats_levene": stats_levene,
    "stats_wilson": stats_wilson,
    "stats_qq": stats_qq,
    "stats_cat_entropy": stats_cat_entropy,
    "stats_outlier_iqr": stats_outlier_iqr,
    "text_stopword_density": text_stopword_density,
    "profile_fd_check": profile_fd_check,
    "text_js_divergence": text_js_divergence,
    "events_markov_eval": events_markov_eval,
    "dedup_cluster_histogram": dedup_cluster_histogram,
    "sim_norm_profile": sim_norm_profile,
    "pipeline_ab_power": pipeline_ab_power,
    "sim_dedup_threshold_sweep": sim_dedup_threshold_sweep,
    "sim_silhouette": sim_silhouette,
    "dedup_minhash_det": dedup_minhash_det,
    "dedup_simhash_det": dedup_simhash_det,
    "dedup_signature_health": dedup_signature_health,
    "dedup_embedding_det": dedup_embedding_det,
    "sketch_cms_det": sketch_cms_det,
    "sketch_hll_det": sketch_hll_det,
    "text_entropy": text_entropy,
    "text_script_profile": text_script_profile,
    "text_readability": text_readability,
    "text_code_detect": text_code_detect,
    "text_phrase_search": text_phrase_search,
    "text_ngram_novelty": text_ngram_novelty,
    "dedup_bloom_gate": dedup_bloom_gate,
    "stats_skew_profile": stats_skew_profile,
    "text_langid": text_langid,
    "text_langid_confusion": text_langid_confusion,
    "text_langid_ngram": text_langid_ngram,
    "text_fingerprint": text_fingerprint,
    "text_normalize": text_normalize,
    "text_line_dedup": text_line_dedup,
    "text_dsir": text_dsir,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_encode": text_bpe_encode,
    "text_pii": text_pii,
    "multimodal_meta": multimodal_meta,
    "multimodal_features": multimodal_features,
    "multimodal_phash": multimodal_phash,
    "multimodal_frames": multimodal_frames,
}

ORACLES = {
    "text_bigram_lm": TEXT_BIGRAM_LM_ORACLE,
    "text_perplexity": TEXT_PERPLEXITY_ORACLE,
    "text_zipf": TEXT_ZIPF_ORACLE,
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_exact_keys": DEDUP_EXACT_KEYS_ORACLE,
    "dedup_ngram_jaccard": DEDUP_NGRAM_ORACLE,
    "dedup_containment": DEDUP_CONTAINMENT_ORACLE,
    "dedup_substring": DEDUP_SUBSTRING_ORACLE,
    "dedup_fuzzy": DEDUP_FUZZY_ORACLE,
    "dedup_embedding_exact": DEDUP_EMBEDDING_ORACLE,
    "scd2_merge_customers": SCD2_ORACLE,
    "scd2_point_in_time": SCD2_PIT_ORACLE,
    "sim_topk": SIM_TOPK_ORACLE,
    "sim_ann_lsh_det": SIM_ANN_LSH_DET_ORACLE,
    "sim_ann_ivf_det": SIM_ANN_IVF_DET_ORACLE,
    "sim_ann_pq_det": SIM_ANN_PQ_DET_ORACLE,
    "sim_hybrid_rrf": SIM_HYBRID_RRF_ORACLE,
    "sim_maxsim": SIM_MAXSIM_ORACLE,
    "sim_outliers": SIM_OUTLIERS_ORACLE,
    "sim_quantize": SIM_QUANTIZE_ORACLE,
    "text_tokens": TEXT_TOKENS_ORACLE,
    "text_tokens_cjk": TEXT_TOKENS_CJK_ORACLE,
    "text_quality": TEXT_QUALITY_ORACLE,
    "text_quality_model": TEXT_QUALITY_MODEL_ORACLE,
    "text_lexical": TEXT_LEXICAL_ORACLE,
    "profile_constraints": PROFILE_CONSTRAINTS_ORACLE,
    "stats_column_profile": STATS_COLUMN_PROFILE_ORACLE,
    "stats_histogram": STATS_HISTOGRAM_ORACLE,
    "stats_corr_matrix": STATS_CORR_MATRIX_ORACLE,
    "stats_mutual_info": STATS_MUTUAL_INFO_ORACLE,
    "stats_chi2": STATS_CHI2_ORACLE,
    "stats_ks_test": STATS_KS_TEST_ORACLE,
    "stats_mannwhitney": STATS_MANNWHITNEY_ORACLE,
    "stats_autocorr": STATS_AUTOCORR_ORACLE,
    "stats_spearman": STATS_SPEARMAN_ORACLE,
    "stats_benford": STATS_BENFORD_ORACLE,
    "stats_ttest": STATS_TTEST_ORACLE,
    "stats_kaplan_meier": STATS_KAPLAN_MEIER_ORACLE,
    "stats_mad": STATS_MAD_ORACLE,
    "stats_anova": STATS_ANOVA_ORACLE,
    "text_hapax": TEXT_HAPAX_ORACLE,
    "stats_bootstrap": STATS_BOOTSTRAP_ORACLE,
    "sim_centroid_matrix": SIM_CENTROID_MATRIX_ORACLE,
    "sim_knn_eval": SIM_KNN_EVAL_ORACLE,
    "sim_ranking_metrics": SIM_RANKING_METRICS_ORACLE,
    "stats_levene": STATS_LEVENE_ORACLE,
    "stats_wilson": STATS_WILSON_ORACLE,
    "stats_qq": STATS_QQ_ORACLE,
    "stats_cat_entropy": STATS_CAT_ENTROPY_ORACLE,
    "stats_outlier_iqr": STATS_OUTLIER_IQR_ORACLE,
    "text_stopword_density": TEXT_STOPWORD_DENSITY_ORACLE,
    "profile_fd_check": PROFILE_FD_CHECK_ORACLE,
    "text_js_divergence": TEXT_JS_DIVERGENCE_ORACLE,
    "events_markov_eval": EVENTS_MARKOV_EVAL_ORACLE,
    "dedup_cluster_histogram": DEDUP_CLUSTER_HISTOGRAM_ORACLE,
    "sim_norm_profile": SIM_NORM_PROFILE_ORACLE,
    "pipeline_ab_power": PIPELINE_AB_POWER_ORACLE,
    "sim_dedup_threshold_sweep": SIM_DEDUP_THRESHOLD_SWEEP_ORACLE,
    "sim_silhouette": SIM_SILHOUETTE_ORACLE,
    "dedup_minhash_det": DEDUP_MINHASH_DET_ORACLE,
    "dedup_simhash_det": DEDUP_SIMHASH_DET_ORACLE,
    "dedup_signature_health": DEDUP_SIGNATURE_HEALTH_ORACLE,
    "dedup_embedding_det": DEDUP_EMBEDDING_DET_ORACLE,
    "sketch_cms_det": SKETCH_CMS_DET_ORACLE,
    "sketch_hll_det": SKETCH_HLL_DET_ORACLE,
    "text_entropy": TEXT_ENTROPY_ORACLE,
    "text_script_profile": TEXT_SCRIPT_PROFILE_ORACLE,
    "text_readability": TEXT_READABILITY_ORACLE,
    "text_code_detect": TEXT_CODE_DETECT_ORACLE,
    "text_phrase_search": TEXT_PHRASE_SEARCH_ORACLE,
    "text_ngram_novelty": TEXT_NGRAM_NOVELTY_ORACLE,
    "dedup_bloom_gate": DEDUP_BLOOM_GATE_ORACLE,
    "stats_skew_profile": STATS_SKEW_PROFILE_ORACLE,
    "text_langid": TEXT_LANGID_ORACLE,
    "text_langid_confusion": TEXT_LANGID_CONFUSION_ORACLE,
    "text_langid_ngram": TEXT_LANGID_NGRAM_ORACLE,
    "text_fingerprint": TEXT_FINGERPRINT_ORACLE,
    "text_normalize": TEXT_NORMALIZE_ORACLE,
    "text_line_dedup": TEXT_LINE_DEDUP_ORACLE,
    "text_dsir": TEXT_DSIR_ORACLE,
    "text_bpe_merges": TEXT_BPE_MERGES_ORACLE,
    "text_bpe_encode": TEXT_BPE_ENCODE_ORACLE,
    "text_pii": TEXT_PII_ORACLE,
    "multimodal_meta": MULTIMODAL_META_ORACLE,
    "multimodal_phash": MULTIMODAL_PHASH_ORACLE,
    "multimodal_frames": MULTIMODAL_FRAMES_ORACLE,
}
