"""Training-pipeline operator certification: deterministic splits,
sequence packing, repetition metrics, tf-idf keywords, eval-set
decontamination, and duplicate-cluster labeling (operators/pipeline.py +
operators/dedup.connected_components).

All six are fully oracle-certified: every operator here was designed on
engine-portable primitives (md5 buckets, string n-grams or hash-invariant
counts, windowed prefix sums, recursive reachability) precisely so DuckDB
can replay them.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import pipeline as P
from ..operators import text as TX
from ..tables import load_table
from ..types import local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def pipeline_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (~80/10/10): salted
    md5 bucket in [0,256), zero-shuffle, stable under corpus growth."""
    docs = _t(spark, sf_dir, "documents")
    return P.hash_split(docs, "doc_id").select("doc_id", "bucket", "split").orderBy(
        "doc_id"
    )


PIPELINE_SPLIT_ORACLE = """
WITH h AS (SELECT doc_id, md5('split:' || doc_id) AS m FROM documents),
d AS (SELECT doc_id,
        CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN ascii(substr(m, 1, 1)) - 87
             ELSE ascii(substr(m, 1, 1)) - 48 END AS d1,
        CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN ascii(substr(m, 2, 1)) - 87
             ELSE ascii(substr(m, 2, 1)) - 48 END AS d2
      FROM h)
SELECT doc_id, CAST(d1 * 16 + d2 AS INT) AS bucket,
       CASE WHEN d1 * 16 + d2 < 205 THEN 'train'
            WHEN d1 * 16 + d2 < 230 THEN 'val'
            ELSE 'test' END AS split
FROM d ORDER BY doc_id
"""


def pipeline_group_split(spark, sf_dir):
    """Leakage-free GROUP-aware split: pipeline_split keys the ~80/10/10
    assignment on doc_id, so two exact duplicates of one document can
    land on opposite sides of the train/test wall — memorized-content
    leakage. Keying the SAME salted-md5 bucket on the content
    fingerprint (md5 of normalized text) instead sends every member of
    a duplicate group to one split by construction. Returns the audit:
    per-split doc and group counts plus the global count of groups
    spanning >1 split, which must be 0. Zero-shuffle assignment (a pure
    map, like hash_split); the audit itself is one fingerprint-keyed
    aggregation."""
    docs = _t(spark, sf_dir, "documents")
    assigned = P.hash_split(
        docs.withColumn("fp", TX.fingerprint(F.col("text"))), "fp"
    )
    leaks = (
        assigned.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_leaky_groups")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaks))
        .orderBy("split")
    )


PIPELINE_GROUP_SPLIT_ORACLE = r"""
WITH a AS (
  SELECT doc_id, fp,
         CASE WHEN bucket < 205 THEN 'train'
              WHEN bucket < 230 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, fp,
           (CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN ascii(substr(m, 1, 1)) - 87
                 ELSE ascii(substr(m, 1, 1)) - 48 END) * 16 +
           (CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN ascii(substr(m, 2, 1)) - 87
                 ELSE ascii(substr(m, 2, 1)) - 48 END) AS bucket
    FROM (
      SELECT doc_id, fp, md5('split:' || fp) AS m
      FROM (SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents)
    )
  )
),
leak AS (
  SELECT CAST(count(*) FILTER (WHERE ns > 1) AS BIGINT) AS n_leaky_groups
  FROM (SELECT fp, count(DISTINCT split) AS ns FROM a GROUP BY fp)
)
SELECT split, count(*) AS n_docs, count(DISTINCT fp) AS n_groups,
       (SELECT n_leaky_groups FROM leak) AS n_leaky_groups
FROM a GROUP BY split ORDER BY split
"""


def pipeline_pack(spark, sf_dir):
    """Concat-then-chunk sequence packing at seq_len=2048: global token
    start-offset per doc via a DISTRIBUTED prefix sum (chunked partials +
    broadcast chunk-prefix — never a single-partition corpus window)."""
    docs = _t(spark, sf_dir, "documents")
    return P.pack_sequences(
        docs, "doc_id", TX.word_count(F.col("text")), seq_len=2048, chunk=64
    ).orderBy("doc_id")


PIPELINE_PACK_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
  FROM documents),
o AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM d)
SELECT doc_id, n_tok, start_off,
       CAST(floor(start_off / 2048.0) AS BIGINT) AS seq_id,
       CAST(start_off % 2048 AS BIGINT) AS seq_off
FROM o ORDER BY doc_id
"""


def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals per document: most-frequent and
    duplicated n-gram fractions for n = 1, 2, 3 in one tagged explode."""
    docs = _t(spark, sf_dir, "documents")
    return P.repetition_metrics(docs, "doc_id", "text", ns=(1, 2, 3)).orderBy("doc_id")


TEXT_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
g AS (
  SELECT doc_id, 1 AS n, unnest(t) AS gr FROM toks
  UNION ALL
  SELECT doc_id, 2, array_to_string(t[i:i+1], ' ')
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i FROM toks)
  UNION ALL
  SELECT doc_id, 3, array_to_string(t[i:i+2], ' ')
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i FROM toks)),
c AS (SELECT doc_id, n, gr, count(*) AS c FROM g GROUP BY 1, 2, 3),
a AS (
  SELECT doc_id,
         sum(CASE WHEN n = 1 THEN c END) AS tot1, max(CASE WHEN n = 1 THEN c END) AS top1,
         sum(CASE WHEN n = 1 AND c > 1 THEN c END) AS dup1,
         sum(CASE WHEN n = 2 THEN c END) AS tot2, max(CASE WHEN n = 2 THEN c END) AS top2,
         sum(CASE WHEN n = 2 AND c > 1 THEN c END) AS dup2,
         sum(CASE WHEN n = 3 THEN c END) AS tot3, max(CASE WHEN n = 3 THEN c END) AS top3,
         sum(CASE WHEN n = 3 AND c > 1 THEN c END) AS dup3
  FROM c GROUP BY doc_id)
SELECT doc_id,
       round(top1 * 1.0 / tot1, 6) AS top1_frac, round(coalesce(dup1, 0) * 1.0 / tot1, 6) AS dup1_frac,
       round(top2 * 1.0 / tot2, 6) AS top2_frac, round(coalesce(dup2, 0) * 1.0 / tot2, 6) AS dup2_frac,
       round(top3 * 1.0 / tot3, 6) AS top3_frac, round(coalesce(dup3, 0) * 1.0 / tot3, 6) AS dup3_frac
FROM a ORDER BY doc_id
"""


def text_tfidf(spark, sf_dir):
    """Per-doc top-3 keywords by tf-idf; single corpus-scale shuffle on
    (doc, term). The vocabulary-sized doc-frequency side joins back
    KEYED with no broadcast pin (AQE decides — a pinned vocab broadcast
    OOMs at web scale); only the 1-row corpus count is pinned."""
    docs = _t(spark, sf_dir, "documents")
    return P.tfidf_topk(docs, "doc_id", "text", k=3).orderBy("doc_id", "rank")


TEXT_TFIDF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS nd FROM documents),
sc AS (SELECT doc_id, term, tf, df_t,
              round(tf * ln((nd + 1) * 1.0 / (df_t + 1)), 6) AS score
       FROM tf JOIN dft USING (term) CROSS JOIN nd),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM sc)
SELECT doc_id, term, tf, df_t, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3 ORDER BY doc_id, rank
"""


def text_decontaminate(spark, sf_dir):
    """Eval-set decontamination: word-8-gram overlap of the src0 slice
    (standing in for the bounded eval benchmark — the operator's
    eval_bounded contract) against the rest of the corpus, probe-inverted:
    the eval (doc, shingle) pairs broadcast and the corpus streams past
    them with NO corpus-wide shuffle (counts are hash-invariant, so the
    string-shingle oracle certifies them exactly). The broadcast pin is
    the operator contract — see decontaminate()'s docstring for the
    measured static-broadcast failure the inversion fixes."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source") == "src0")
    tr = docs.filter(F.col("source") != "src0")
    return P.decontaminate(tr, ev, "doc_id", "text", shingle_k=8).orderBy("doc_id")


TEXT_DECONTAMINATE_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, source, t,
               unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
        FROM toks),
sh AS (SELECT DISTINCT doc_id, source, array_to_string(t[i:i+7], ' ') AS s FROM idx),
tr AS (SELECT DISTINCT s FROM sh WHERE source != 'src0'),
ev AS (SELECT doc_id, s FROM sh WHERE source = 'src0'),
sizes AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shingles FROM ev GROUP BY 1),
hits AS (SELECT doc_id, count(*) AS n_contaminated FROM ev JOIN tr USING (s) GROUP BY 1)
SELECT sizes.doc_id, n_shingles,
       CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(n_contaminated, 0) * 1.0 / greatest(n_shingles, 1), 6) AS contamination,
       coalesce(n_contaminated, 0) > 0 AS contaminated
FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
ORDER BY sizes.doc_id
"""


def text_overlap_matrix(spark, sf_dir):
    """Cross-source contamination matrix (operators/pipeline.
    overlap_matrix): distinct shared word-8-gram shingles and shingle
    Jaccard for every source pair — the all-pairs governance view of
    text_decontaminate. One distinct-(source,shingle) agg + a
    shingle-keyed self-join whose fan-out is bounded by the source
    count, never the corpus."""
    docs = _t(spark, sf_dir, "documents")
    return P.overlap_matrix(docs, "source", "text", shingle_k=8).orderBy(
        "src_a", "src_b"
    )


TEXT_OVERLAP_MATRIX_ORACLE = r"""
WITH toks AS (
  SELECT source,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT source, t,
               unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
        FROM toks),
sh AS (SELECT DISTINCT source AS g, array_to_string(t[i:i+7], ' ') AS s FROM idx),
totals AS (SELECT g, count(*) AS n_g FROM sh GROUP BY g),
shared AS (
  SELECT a.g AS src_a, b.g AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
  GROUP BY 1, 2)
SELECT src_a, src_b, n_shared,
       ta.n_g AS n_a, tb.n_g AS n_b,
       round(n_shared * 1.0 / (ta.n_g + tb.n_g - n_shared), 6) AS jaccard
FROM shared
JOIN totals ta ON ta.g = src_a
JOIN totals tb ON tb.g = src_b
ORDER BY src_a, src_b
"""


def dedup_clusters(spark, sf_dir):
    """Duplicate-cluster labeling: connected components over the exact
    n-gram-Jaccard near-dup graph (threshold 0.2), component id = min
    doc_id, plus cluster size. Iterative min-label propagation (the one
    genuinely iterative algorithm in the registry) — certified against a
    DuckDB recursive-CTE reachability oracle."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.2)
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = D.connected_components(nodes, pairs.select("a", "b"))
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("id").alias("doc_id"), F.col("comp").alias("component"), "cluster_size"
        )
        .orderBy("doc_id")
    )


def dedup_keep_best(spark, sf_dir):
    """Near-dup cluster RESOLUTION the way production pipelines do it:
    within each duplicate cluster keep the BEST member — longest by
    token count, min doc_id tiebreak — instead of the arbitrary min-id
    survivor (boilerplate-trimmed crawl variants usually lose to the
    fullest copy). Composition: the certified CC clustering
    (dedup_clusters) + one token-count projection + a row_number window
    keyed on the component — exactly one extra shuffle on the component
    id beyond the clustering itself. Output: one row per real duplicate
    cluster (size > 1)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.2)
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = D.connected_components(nodes, pairs.select("a", "b"))
    ntok = docs.select(
        "doc_id",
        F.size(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).cast("bigint").alias("n_tok"),
    )
    j = comp.join(ntok, comp["id"] == ntok["doc_id"]).select(
        "comp", "doc_id", "n_tok"
    )
    w = Window.partitionBy("comp").orderBy(F.col("n_tok").desc(), F.col("doc_id"))
    ranked = j.withColumn("_rn", F.row_number().over(w))
    sizes = j.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        ranked.filter(F.col("_rn") == 1)
        .select(
            "comp",
            F.col("doc_id").alias("kept_doc"),
            F.col("n_tok").alias("kept_tokens"),
        )
        .join(sizes, "comp")
        .filter(F.col("cluster_size") > 1)
        .select(
            F.col("comp").alias("component"),
            "cluster_size",
            "kept_doc",
            "kept_tokens",
        )
        .orderBy("component")
    )


DEDUP_KEEP_BEST_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM idx),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
cp AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
       FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (
  SELECT a, b FROM cp
  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.2),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM toks),
j AS (SELECT comp.id AS doc_id, comp.component, nt.n_tok
      FROM comp JOIN nt ON nt.doc_id = comp.id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component ORDER BY n_tok DESC, doc_id) AS rn
  FROM j),
cs AS (SELECT component, count(*) AS cluster_size FROM j GROUP BY 1)
SELECT r.component, cs.cluster_size, r.doc_id AS kept_doc, r.n_tok AS kept_tokens
FROM ranked r JOIN cs USING (component)
WHERE r.rn = 1 AND cs.cluster_size > 1
ORDER BY r.component
"""


DEDUP_CLUSTERS_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM idx),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
cp AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
       FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (
  SELECT a, b FROM cp
  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.2),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT comp.id AS doc_id, comp.component, cs.cluster_size
FROM comp JOIN cs USING (component) ORDER BY doc_id
"""


def dedup_spans(spark, sf_dir):
    """Corpus-wide duplicated-span removal (C4 line dedup generalized to
    10-token spans; the exact-substring-dedup approximation of Lee et al.
    2021): every span occurring more than once survives only at its
    first (doc, position) occurrence; surviving spans are re-joined into
    the deduplicated text. One 24-byte-row shuffle; span strings never
    leave the map side."""
    docs = _t(spark, sf_dir, "documents")
    return D.span_dedup(docs, "doc_id", "text", span=10).orderBy("doc_id")


DEDUP_SPANS_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
sp AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 10)) AS pos FROM base),
ss AS (SELECT doc_id, pos, array_to_string(t[pos:pos+9], ' ') AS s FROM sp),
r AS (SELECT doc_id, pos, s,
             row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
      FROM ss),
k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(s, ' ' ORDER BY pos) AS text_dedup
      FROM r WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(ceil(len(t) / 10.0) AS BIGINT) AS n_spans FROM base)
SELECT tot.doc_id, n_spans,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(n_spans - coalesce(n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(text_dedup, '') AS text_dedup
FROM tot LEFT JOIN k ON tot.doc_id = k.doc_id
ORDER BY tot.doc_id
"""


def text_gopher(spark, sf_dir):
    """Complete Gopher quality gate — per-document signals and pass/fail
    flags for the published rule set (Rae et al. 2021 §A1.1): word
    count, mean word length, alphabetic-word fraction, symbol ratio,
    required-stopword hits, plus the bullet-start and ellipsis-end
    line-shape rules — pure column expressions, scan-speed at any
    scale."""
    docs = _t(spark, sf_dir, "documents")
    return TX.gopher_report(docs, "doc_id", "text").orderBy("doc_id")


TEXT_GOPHER_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         round(list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1), 6) AS mean_word_len,
         round(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / greatest(len(t), 1), 6) AS alpha_word_frac,
         round(len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 / greatest(len(t), 1), 6) AS symbol_word_ratio,
         CAST(len(list_filter(list_distinct(t),
              x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT)
           AS req_stopword_hits,
         round(len(list_filter(str_split(text, chr(10)), x -> regexp_matches(x, '^\s*[-*•]')))
               * 1.0 / greatest(len(str_split(text, chr(10))), 1), 6) AS bullet_line_frac,
         round(len(list_filter(str_split(text, chr(10)), x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
               * 1.0 / greatest(len(str_split(text, chr(10))), 1), 6) AS ellipsis_line_frac
  FROM base)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio, req_stopword_hits,
       bullet_line_frac, ellipsis_line_frac,
       n_words BETWEEN 50 AND 100000 AS f_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS f_mean_len,
       alpha_word_frac >= 0.8 AS f_alpha,
       symbol_word_ratio <= 0.1 AS f_symbol,
       req_stopword_hits >= 2 AS f_stopwords,
       bullet_line_frac <= 0.9 AS f_bullet,
       ellipsis_line_frac <= 0.3 AS f_ellipsis,
       (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND alpha_word_frac >= 0.8 AND symbol_word_ratio <= 0.1
         AND req_stopword_hits >= 2 AND bullet_line_frac <= 0.9
         AND ellipsis_line_frac <= 0.3 AS keep
FROM m ORDER BY doc_id
"""


def text_gopher_funnel(spark, sf_dir):
    """Gopher-gate rejection funnel: per RULE, how many documents fail
    it, and the overall keep rate — the one-page quality-report rollup
    of text_gopher's per-document flags (which rule does the culling is
    the actionable number; the per-doc table is the evidence). Reuses
    the certified gopher_report expressions; one scan, one 1-row
    reduce, unpivoted JVM-side to (rule, n_fail, fail_share) rows."""
    docs = _t(spark, sf_dir, "documents")
    rep = TX.gopher_report(docs, "doc_id", "text")
    flags = [
        "f_word_count", "f_mean_len", "f_alpha", "f_symbol",
        "f_stopwords", "f_bullet", "f_ellipsis", "keep",
    ]
    agg = rep.agg(
        F.count("*").alias("_n"),
        *[
            F.sum((~F.col(c)).cast("int")).alias(f"_fail_{c}")
            for c in flags
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("rule"), F.col(f"_fail_{c}").alias("n_fail")
            )
            for c in flags
        ]
    )
    return (
        agg.select("_n", F.explode(pairs).alias("p"))
        .select(
            F.col("p.rule").alias("rule"),
            F.col("p.n_fail").alias("n_fail"),
            F.round(F.col("p.n_fail") / F.col("_n"), 6).alias("fail_share"),
        )
        .orderBy("rule")
    )


TEXT_GOPHER_FUNNEL_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         round(list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1), 6) AS mean_word_len,
         round(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / greatest(len(t), 1), 6) AS alpha_word_frac,
         round(len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 / greatest(len(t), 1), 6) AS symbol_word_ratio,
         CAST(len(list_filter(list_distinct(t),
              x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT)
           AS req_stopword_hits,
         round(len(list_filter(str_split(text, chr(10)), x -> regexp_matches(x, '^\s*[-*•]')))
               * 1.0 / greatest(len(str_split(text, chr(10))), 1), 6) AS bullet_line_frac,
         round(len(list_filter(str_split(text, chr(10)), x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
               * 1.0 / greatest(len(str_split(text, chr(10))), 1), 6) AS ellipsis_line_frac
  FROM base),
flags AS (
  SELECT n_words BETWEEN 50 AND 100000 AS f_word_count,
         mean_word_len BETWEEN 3.0 AND 10.0 AS f_mean_len,
         alpha_word_frac >= 0.8 AS f_alpha,
         symbol_word_ratio <= 0.1 AS f_symbol,
         req_stopword_hits >= 2 AS f_stopwords,
         bullet_line_frac <= 0.9 AS f_bullet,
         ellipsis_line_frac <= 0.3 AS f_ellipsis,
         (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
           AND alpha_word_frac >= 0.8 AND symbol_word_ratio <= 0.1
           AND req_stopword_hits >= 2 AND bullet_line_frac <= 0.9
           AND ellipsis_line_frac <= 0.3 AS keep
  FROM m),
agg AS (
  SELECT count(*) AS _n,
         sum(CASE WHEN NOT f_word_count THEN 1 ELSE 0 END) AS fail_f_word_count,
         sum(CASE WHEN NOT f_mean_len THEN 1 ELSE 0 END) AS fail_f_mean_len,
         sum(CASE WHEN NOT f_alpha THEN 1 ELSE 0 END) AS fail_f_alpha,
         sum(CASE WHEN NOT f_symbol THEN 1 ELSE 0 END) AS fail_f_symbol,
         sum(CASE WHEN NOT f_stopwords THEN 1 ELSE 0 END) AS fail_f_stopwords,
         sum(CASE WHEN NOT f_bullet THEN 1 ELSE 0 END) AS fail_f_bullet,
         sum(CASE WHEN NOT f_ellipsis THEN 1 ELSE 0 END) AS fail_f_ellipsis,
         sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS fail_keep
  FROM flags),
rows_out AS (
  SELECT 'f_word_count' AS rule, fail_f_word_count AS n_fail, _n FROM agg
  UNION ALL SELECT 'f_mean_len', fail_f_mean_len, _n FROM agg
  UNION ALL SELECT 'f_alpha', fail_f_alpha, _n FROM agg
  UNION ALL SELECT 'f_symbol', fail_f_symbol, _n FROM agg
  UNION ALL SELECT 'f_stopwords', fail_f_stopwords, _n FROM agg
  UNION ALL SELECT 'f_bullet', fail_f_bullet, _n FROM agg
  UNION ALL SELECT 'f_ellipsis', fail_f_ellipsis, _n FROM agg
  UNION ALL SELECT 'keep', fail_keep, _n FROM agg)
SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
       round(n_fail * 1.0 / _n, 6) AS fail_share
FROM rows_out ORDER BY rule
"""


def pipeline_mixture(spark, sf_dir):
    """Deterministic stratified data-mixture sampling: downweight 'en' to
    25% and 'de' to 50% by salted md5 bucket; other languages pass
    through. Zero-shuffle scan-speed filter; membership is a pure
    function of (salt, doc_id), so corpus growth never flips a row."""
    docs = _t(spark, sf_dir, "documents")
    return (
        P.stratified_sample(docs, "doc_id", "lang", {"en": 0.25, "de": 0.5}, salt="mix")
        .select("doc_id", "lang", "source", "bucket")
        .orderBy("doc_id")
    )


PIPELINE_MIXTURE_ORACLE = """
WITH h AS (SELECT doc_id, lang, source, md5('mix:' || doc_id) AS m FROM documents),
d AS (SELECT doc_id, lang, source,
        CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN ascii(substr(m, 1, 1)) - 87
             ELSE ascii(substr(m, 1, 1)) - 48 END * 16 +
        CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN ascii(substr(m, 2, 1)) - 87
             ELSE ascii(substr(m, 2, 1)) - 48 END AS bucket
      FROM h)
SELECT doc_id, lang, source, CAST(bucket AS INT) AS bucket
FROM d
WHERE bucket < CASE lang WHEN 'en' THEN 64 WHEN 'de' THEN 128 ELSE 256 END
ORDER BY doc_id
"""


def pipeline_temperature(spark, sf_dir):
    """Temperature-smoothed language-mixture weights (exponent α = 0.7),
    the standard multilingual pre-training sampler (Devlin et al. 2019,
    mBERT; Conneau & Lample 2019, XLM): sampling share q_i ∝ p_i^α
    flattens the language distribution so low-resource languages are
    up-sampled without swamping the head. Since p_i^α = n_i^α / N^α and
    N^α cancels in the normalization, q_i = n_i^α / Σ n_j^α — computed
    straight from the exact per-language counts.

    One map-side-combined count shuffle collapses the corpus to |langs|
    rows; everything after runs on that tiny table. The normalizer is
    the LAST value of a running sum ORDERED BY lang (all terms positive,
    so max(running) = total) — both engines add the same doubles in the
    same order, where a plain unordered window sum over doubles would be
    accumulation-order-nondeterministic. Output per language: observed
    share p, smoothed share q, and the boost q/p a sampler multiplies
    into per-document keep probabilities (pipeline_mixture-style)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w_run = Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    sm = counts.withColumn("w", F.pow(F.col("n_docs"), F.lit(0.7))).withColumn(
        "wcum", F.sum("w").over(w_run)
    )
    sm = sm.withColumn("wsum", F.max("wcum").over(w_all)).withColumn(
        "tot", F.sum("n_docs").over(w_all)
    )
    p = F.col("n_docs") / F.col("tot")
    q = F.col("w") / F.col("wsum")
    return sm.select(
        "lang",
        "n_docs",
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round(q / p, 6).alias("boost"),
    ).orderBy("lang")


PIPELINE_TEMPERATURE_ORACLE = """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
s AS (
  SELECT lang, n_docs, pow(n_docs, 0.7) AS w,
         sum(pow(n_docs, 0.7)) OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wcum,
         sum(n_docs) OVER () AS tot
  FROM c),
t AS (SELECT lang, n_docs, w, max(wcum) OVER () AS wsum, tot FROM s)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       round(n_docs * 1.0 / tot, 6) AS p,
       round(w / wsum, 6) AS q,
       round((w / wsum) / (n_docs * 1.0 / tot), 6) AS boost
FROM t ORDER BY lang
"""


def pipeline_dedup_rate(spark, sf_dir):
    """Per-source duplication report: exact document count, distinct
    full-text fingerprints, duplicate count and rate — the dashboard
    metric a curation pipeline tracks per ingest source to decide which
    feeds deserve aggressive near-dup passes (a source at 30% exact-dup
    rate almost certainly hides more near-dups).

    One map-side-combined groupBy on source; the distinct runs on 16-byte
    md5 fingerprints, never the full text (the dedup_exact shuffle-width
    rule), so the shuffle carries hashes at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5(F.encode(F.col("text"), "utf-8"))).alias(
                "n_unique"
            ),
        )
        .withColumn("n_dups", F.col("n_docs") - F.col("n_unique"))
        .withColumn(
            "dup_rate",
            F.round(
                F.col("n_dups") / F.nullif(F.col("n_docs").cast("double"), F.lit(0.0)),
                6,
            ),
        )
        .orderBy("source")
    )


PIPELINE_DEDUP_RATE_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups,
       round((count(*) - count(DISTINCT md5(text))) * 1.0 / nullif(count(*), 0), 6) AS dup_rate
FROM documents GROUP BY source ORDER BY source
"""


def pipeline_source_gini(spark, sf_dir):
    """Corpus concentration audit: the Gini coefficient of token mass
    across ingest sources, plus the largest source's share — the
    one-number answer to "is this corpus dominated by a few feeds?"
    that decides whether pipeline_mixture/pipeline_temperature
    re-weighting is needed before training.

    One map-side-combined groupBy collapses the corpus to |sources|
    rows; the Gini uses the exact rank formula
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over the ascending-sorted
    totals (ties broken by source name, so both engines rank
    identically) — a window over ≤ dozens of rows, then one closed-form
    aggregate. Token counts are whitespace-split sizes, integer end to
    end until the final division (6dp)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(
            F.size(
                F.split(
                    F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                    " ",
                )
            )
        ).alias("toks")
    )
    w = W.orderBy("toks", "source")
    ranked = per.select("source", "toks", F.row_number().over(w).alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("toks").alias("total_tokens"),
        F.round(
            (
                F.lit(2.0) * F.sum(F.col("i") * F.col("toks"))
                - (F.count(F.lit(1)) + 1) * F.sum("toks")
            )
            / (F.count(F.lit(1)) * F.sum("toks")),
            6,
        ).alias("gini"),
        F.round(F.max("toks") / F.sum("toks"), 6).alias("top_share"),
    )


PIPELINE_SOURCE_GINI_ORACLE = r"""
WITH per AS (
  SELECT source,
         sum(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS toks
  FROM documents GROUP BY source),
ranked AS (
  SELECT source, toks, row_number() OVER (ORDER BY toks, source) AS i
  FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       round((2.0 * sum(i * toks) - (count(*) + 1) * sum(toks))
             * 1.0 / (count(*) * sum(toks)), 6) AS gini,
       round(max(toks) * 1.0 / sum(toks), 6) AS top_share
FROM ranked
"""


def pipeline_importance(spark, sf_dir):
    """Deterministic importance sampling: keep probability proportional
    to document length (p = min(1, n_chars/2000)), survivors carry the
    1/p Horvitz–Thompson weight so downstream token counts stay
    unbiased. Pure (salt, doc_id, p) function — zero shuffle, replayable
    by the oracle, stable under corpus growth."""
    docs = _t(spark, sf_dir, "documents")
    p = F.col("n_chars") / F.lit(2000.0)
    return (
        P.importance_sample(docs, "doc_id", p, salt="imp")
        .select("doc_id", "n_chars", "bucket", "weight")
        .orderBy("doc_id")
    )


PIPELINE_IMPORTANCE_ORACLE = """
WITH h AS (SELECT doc_id, n_chars, md5('imp:' || doc_id) AS m FROM documents),
d AS (SELECT doc_id, n_chars,
        CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN ascii(substr(m, 1, 1)) - 87
             ELSE ascii(substr(m, 1, 1)) - 48 END * 16 +
        CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN ascii(substr(m, 2, 1)) - 87
             ELSE ascii(substr(m, 2, 1)) - 48 END AS bucket,
        least(1.0, greatest(0.0, n_chars / 2000.0)) AS p
      FROM h)
SELECT doc_id, n_chars, CAST(bucket AS INT) AS bucket,
       round(1.0 / p, 6) AS weight
FROM d WHERE bucket < p * 256.0
ORDER BY doc_id
"""


def pipeline_reservoir(spark, sf_dir):
    """Deterministic uniform 5-per-language sample (operators/pipeline.
    reservoir_sample): exact per-stratum COUNT (vs pipeline_mixture's
    per-stratum rate), md5-ranked so both engines agree on membership.
    Compiles to the same WindowGroupLimit map-side prune as
    pipeline_quota."""
    docs = _t(spark, sf_dir, "documents")
    return (
        P.reservoir_sample(docs, "doc_id", "lang", k=5, salt="res")
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


PIPELINE_RESERVOIR_ORACLE = """
WITH h AS (SELECT doc_id, lang, md5('res:' || doc_id) AS m FROM documents),
r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY m, doc_id) AS rk
      FROM h)
SELECT doc_id, lang, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 5 ORDER BY lang, rk
"""


def pipeline_quota(spark, sf_dir):
    """Per-source quota capping: keep the 10 best documents of each
    source by the composite quality score (ties by doc_id). Compiles to
    WindowGroupLimit — map tasks pre-prune to their local top-10 per
    source before the shuffle (plan-asserted in tests/test_plans.py)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        P.quota_cap(docs, "doc_id", "source", TX.quality_score(F.col("text")), 10)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    )


PIPELINE_QUOTA_ORACLE = r"""
WITH base AS (
  SELECT doc_id, source, text,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t,
         greatest(length(text), 1) AS nc
  FROM documents),
m AS (
  SELECT doc_id, source,
         round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 / nc, 6) AS punct_r,
         round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / nc, 6) AS digit_r,
         round(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))
               * 1.0 / greatest(len(t), 1), 6) AS sw_ratio,
         len(t) AS n_words
  FROM base),
q AS (
  SELECT doc_id, source,
         round((CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.4
               + (CASE WHEN punct_r + digit_r < 0.2 THEN 1.0
                       ELSE greatest(0.0, 1.0 - (punct_r + digit_r)) END) * 0.4
               + least(sw_ratio * 5, 1.0) * 0.2, 6) AS qs
  FROM m),
r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY qs DESC, doc_id) AS rk
      FROM q)
SELECT doc_id, source, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 10 ORDER BY source, rk
"""


def pipeline_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: first 100 docs of the
    epoch-'order' permutation (sort on md5(salt:id) — range-partitioned
    sort; the limit compiles to TakeOrderedAndProject, never a global
    single-partition sort)."""
    docs = _t(spark, sf_dir, "documents")
    return P.shuffle_order(docs, "doc_id", salt="order", n=100).select(
        "doc_id", "shuffle_key"
    )


PIPELINE_SHUFFLE_ORACLE = """
SELECT doc_id, md5('order:' || doc_id) AS shuffle_key
FROM documents
ORDER BY shuffle_key, doc_id LIMIT 100
"""


def pipeline_funnel(spark, sf_dir):
    """The end-to-end curation funnel — the flagship training-data
    pipeline chained as ONE declarative plan: Gopher quality gate (the
    four rules that discriminate on this corpus; the stopword rule zeroes
    it out by construction) → exact dedup (min-id per md5 fingerprint) →
    stratified mixture (en halved, salt 'funnel') → train/val/test split;
    emits per-stage surviving-document counts. Every stage is
    deterministic, so the whole funnel is DuckDB-certified. Catalyst
    fuses the gate into the scan; the only corpus-scale shuffles are the
    dedup groupBy and the split/mixture stages' none (pure maps)."""
    docs = _t(spark, sf_dir, "documents")
    g = TX.gopher_report(docs, "doc_id", "text").filter(
        "f_word_count AND f_mean_len AND f_alpha AND f_symbol"
    )
    kept = docs.join(g.select("doc_id"), "doc_id")
    dd = D.exact_dedup(kept, TX.fingerprint(F.col("text")), "doc_id").join(
        kept.select("doc_id", "lang"), "doc_id"
    )
    mixed = P.stratified_sample(dd, "doc_id", "lang", {"en": 0.5}, salt="funnel")
    split = P.hash_split(mixed.select("doc_id"), "doc_id")

    def stage(name, df):
        return df.agg(F.count("*").cast("long").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage("0_total", docs)
        .unionAll(stage("1_quality", kept))
        .unionAll(stage("2_dedup", dd))
        .unionAll(stage("3_mixture", mixed))
        .unionAll(
            split.groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .select(F.concat(F.lit("4_split_"), F.col("split")).alias("stage"), "n_docs")
        )
        .orderBy("stage")
    )


PIPELINE_FUNNEL_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text, lang,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
m AS (
  SELECT doc_id, text, lang,
         CAST(len(t) AS BIGINT) AS n_words,
         round(list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1), 6) AS mwl,
         round(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / greatest(len(t), 1), 6) AS af,
         round(len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 / greatest(len(t), 1), 6) AS sym
  FROM base),
kept AS (
  SELECT doc_id, text, lang FROM m
  WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
    AND af >= 0.8 AND sym <= 0.1),
dd AS (
  SELECT min(doc_id) AS doc_id
  FROM kept GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
ddrows AS (SELECT k.doc_id, k.lang FROM kept k JOIN dd USING (doc_id)),
bkt AS (
  SELECT doc_id, lang, m2 AS h FROM (SELECT doc_id, lang, md5('funnel:' || doc_id) AS m2 FROM ddrows)),
mixed AS (
  SELECT doc_id FROM bkt
  WHERE (CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1)) - 87
              ELSE ascii(substr(h,1,1)) - 48 END * 16 +
         CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1)) - 87
              ELSE ascii(substr(h,2,1)) - 48 END)
        < CASE lang WHEN 'en' THEN 128 ELSE 256 END),
sb AS (
  SELECT doc_id,
         (CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1)) - 87
               ELSE ascii(substr(h,1,1)) - 48 END * 16 +
          CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1)) - 87
               ELSE ascii(substr(h,2,1)) - 48 END) AS b
  FROM (SELECT doc_id, md5('split:' || doc_id) AS h FROM mixed))
SELECT '0_total' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT '1_quality', CAST(count(*) AS BIGINT) FROM kept
UNION ALL SELECT '2_dedup', CAST(count(*) AS BIGINT) FROM ddrows
UNION ALL SELECT '3_mixture', CAST(count(*) AS BIGINT) FROM mixed
UNION ALL
SELECT concat('4_split_', CASE WHEN b < 205 THEN 'train'
                               WHEN b < 230 THEN 'val' ELSE 'test' END),
       CAST(count(*) AS BIGINT)
FROM sb GROUP BY 1
ORDER BY stage
"""


def pipeline_budget(spark, sf_dir):
    """Deterministic token-budget subset: keep docs in md5-shuffle order
    while the running word-count total stays under 5000 tokens (nested
    budgets give nested subsets; distributed prefix sum, no
    single-partition stage)."""
    docs = _t(spark, sf_dir, "documents")
    return P.token_budget_sample(
        docs, "doc_id", TX.word_count(F.col("text")), budget=5000, salt="budget"
    ).orderBy("doc_id")


PIPELINE_BUDGET_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
         md5('budget:' || doc_id) AS h
  FROM documents),
o AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
  FROM d)
SELECT doc_id, n_tok, tokens_before
FROM o WHERE tokens_before < 5000 ORDER BY doc_id
"""


def pipeline_chunk(spark, sf_dir):
    """Overlapping token-window chunking (operators/pipeline.
    chunk_documents): 64-token windows every 48 tokens (16-token overlap)
    — the context-window splitter of an embedding/RAG pipeline. Pure
    tokenize→explode map, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return P.chunk_documents(docs, "doc_id", "text", size=64, stride=48).orderBy(
        "doc_id", "chunk_id"
    )


PIPELINE_CHUNK_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tok FROM base),
c AS (SELECT doc_id, t, n_tok,
             unnest(generate_series(0, CAST(greatest(ceil((n_tok - 64) / 48.0), 0) AS INT))) AS ci
      FROM n)
SELECT doc_id, n_tok, CAST(ci AS INT) AS chunk_id,
       CAST(ci * 48 AS BIGINT) AS chunk_start,
       CAST(least(n_tok - ci * 48, 64) AS BIGINT) AS chunk_tokens,
       array_to_string(t[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
FROM c ORDER BY doc_id, chunk_id
"""


def dedup_incremental(spark, sf_dir):
    """Incremental batch-vs-corpus dedup (operators/dedup.
    incremental_dedup) — the production shape: docs with doc_id%10<2 play
    the 'new batch', the rest the already-ingested corpus; the key is the
    head-8-token fingerprint (catches shared-boilerplate openings, which
    this corpus actually has). Statuses: dup_corpus / dup_batch / new;
    all three paths are additionally certified on a planted corpus in
    tests/test_pipeline_ops.py."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(D.tokens(F.col("text")), 1, 8)))
    batch = docs.filter(F.col("doc_id") % 10 < 2)
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    return D.incremental_dedup(corpus, batch, key, "doc_id").orderBy("doc_id")


def dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup (operators/dedup.incremental_minhash_dedup):
    the same batch-vs-corpus split as dedup_incremental, but probing the
    corpus LSH band index instead of an exact key — per-batch cost is
    independent of corpus size once the band index is materialized.
    xxhash64 banding → rows-only; planted batch-vs-corpus near-dups and
    the verified-pairs property asserted in
    tests/test_dedup_similarity.py."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 < 2)
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    return D.incremental_minhash_dedup(
        corpus, batch, "doc_id", "text", jaccard_threshold=0.2
    ).orderBy("batch_id", "corpus_id")


DEDUP_INCREMENTAL_ORACLE = r"""
WITH f AS (
  SELECT doc_id,
         md5(array_to_string(
           (string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))[1:8],
           ' ')) AS fp,
         doc_id % 10 < 2 AS is_batch
  FROM documents),
b AS (SELECT doc_id, fp FROM f WHERE is_batch),
seen AS (SELECT DISTINCT fp FROM f WHERE NOT is_batch),
m AS (SELECT fp, min(doc_id) AS min_id FROM b GROUP BY fp)
SELECT b.doc_id,
       seen.fp IS NOT NULL AS in_corpus,
       CASE WHEN seen.fp IS NOT NULL THEN 'dup_corpus'
            WHEN b.doc_id > m.min_id THEN 'dup_batch'
            ELSE 'new' END AS status
FROM b LEFT JOIN seen USING (fp) JOIN m USING (fp)
ORDER BY b.doc_id
"""


def profile_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of order totals (operators/pipeline.
    histogram): 1-row (min, max) broadcast + one map-side-combined bin
    groupBy — shuffle rows = bins × partitions, never the data. The
    distribution profiler behind skew audits and bin-boundary picks."""
    o = _t(spark, sf_dir, "orders")
    return P.histogram(o, "o_totalprice", bins=20)


PROFILE_HISTOGRAM_ORACLE = """
WITH s AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
                  CAST(max(o_totalprice) AS DOUBLE) AS hi FROM orders),
b AS (SELECT least(19, CAST(floor((o_totalprice - lo) / ((hi - lo) / 20)) AS INT)) AS bin,
             lo, (hi - lo) / 20 AS w
      FROM orders, s WHERE o_totalprice IS NOT NULL)
SELECT bin, count(*) AS n,
       round(min(lo) + bin * min(w), 6) AS bin_lo,
       round(min(lo) + (bin + 1) * min(w), 6) AS bin_hi
FROM b GROUP BY bin ORDER BY bin
"""


def pipeline_drift(spark, sf_dir):
    """Population-stability index (PSI) between two corpus slices — the
    data-drift monitor run between crawl snapshots before mixing them:
    document-length distribution of source src0 vs the rest over 10
    equi-width bins (bounds from the FULL corpus so both slices bin
    identically), add-one smoothed so empty bins stay finite. One
    (min, max) broadcast + one bin groupBy per slice; PSI < 0.1 is the
    classic "no significant shift" reading."""
    docs = _t(spark, sf_dir, "documents")
    a = F.col("source") == "src0"
    stats = docs.agg(
        F.min("n_chars").cast("double").alias("_lo"),
        F.max("n_chars").cast("double").alias("_hi"),
    )
    # constant-length corpus (lo == hi) gets width 1.0 — the same ANSI
    # divide-by-zero guard as operators/pipeline.histogram
    width = F.when(
        F.col("_hi") != F.col("_lo"), (F.col("_hi") - F.col("_lo")) / 10
    ).otherwise(F.lit(1.0))
    bin_id = F.least(
        F.lit(9), F.floor((F.col("n_chars") - F.col("_lo")) / width).cast("int")
    )
    binned = (
        docs.crossJoin(F.broadcast(stats))
        .select(bin_id.alias("bin"), a.alias("_a"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("_a"), 0).otherwise(1)).alias("n_b"),
        )
    )
    tot = binned.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb"),
        F.count("*").alias("_nb"),
    )
    pa = (F.col("n_a") + 1) / (F.col("_ta") + F.col("_nb"))
    pb = (F.col("n_b") + 1) / (F.col("_tb") + F.col("_nb"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round(pa, 6).alias("p_a"),
            F.round(pb, 6).alias("p_b"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


PIPELINE_DRIFT_ORACLE = """
WITH s AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo, CAST(max(n_chars) AS DOUBLE) AS hi FROM documents),
b AS (SELECT least(9, CAST(floor((n_chars - lo) / ((hi - lo) / 10)) AS INT)) AS bin,
             source = 'src0' AS a
      FROM documents, s),
g AS (SELECT bin,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM b GROUP BY bin),
t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS nb FROM g)
SELECT bin, n_a, n_b,
       round((n_a + 1) / (ta + nb), 6) AS p_a,
       round((n_b + 1) / (tb + nb), 6) AS p_b,
       round(((n_a + 1) / (ta + nb) - (n_b + 1) / (tb + nb))
             * ln(((n_a + 1) / (ta + nb)) / ((n_b + 1) / (tb + nb))), 6) AS psi_term
FROM g, t ORDER BY bin
"""


def profile_documents(spark, sf_dir):
    """One-pass column profiler (operators/pipeline.profile_columns) over
    every documents column: rows, nulls, exact distincts, min/max — the
    before/after-stage observability primitive of a curation pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return P.profile_columns(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).orderBy("col_name")


PROFILE_DOCUMENTS_ORACLE = r"""
SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(min(doc_id) AS VARCHAR) AS min_value, CAST(max(doc_id) AS VARCHAR) AS max_value
FROM documents
UNION ALL
SELECT 'text', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT text) AS BIGINT), min(text), max(text) FROM documents
UNION ALL
SELECT 'lang', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT lang) AS BIGINT), min(lang), max(lang) FROM documents
UNION ALL
SELECT 'source', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT), min(source), max(source) FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT n_chars) AS BIGINT),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
ORDER BY col_name
"""


def pipeline_leakage(spark, sf_dir):
    """Leakage-safe split audit: after the deterministic hash split,
    every val/test document is checked for word-8-gram overlap with the
    TRAIN side (composition of hash_split + decontaminate — the
    train-test contamination check a training pipeline must run before
    an eval is trustworthy). BOTH sides scale with the corpus here (the
    held-out slice is ~10% of it), so this uses the operator's
    eval_bounded=False shape: distinct train shingles, merge-hinted
    shuffle semi-join — no broadcast of either unbounded side (see
    decontaminate()'s docstring for the measured static-broadcast
    failure the hint prevents)."""
    docs = _t(spark, sf_dir, "documents")
    sp = P.hash_split(docs, "doc_id")
    tr = sp.filter(F.col("split") == "train")
    ev = sp.filter(F.col("split") != "train")
    return (
        P.decontaminate(tr, ev, "doc_id", "text", shingle_k=8,
                        eval_bounded=False)
        .join(sp.select("doc_id", "split"), "doc_id")
        .select(
            "doc_id", "split", "n_shingles", "n_contaminated",
            "contamination", "contaminated",
        )
        .orderBy("doc_id")
    )


PIPELINE_LEAKAGE_ORACLE = r"""
WITH h AS (SELECT doc_id, text, md5('split:' || doc_id) AS m FROM documents),
sp AS (SELECT doc_id, text,
        CASE WHEN b < 205 THEN 'train' WHEN b < 230 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id, text,
               (CASE WHEN ascii(substr(m,1,1)) >= 97 THEN ascii(substr(m,1,1)) - 87
                     ELSE ascii(substr(m,1,1)) - 48 END) * 16 +
               (CASE WHEN ascii(substr(m,2,1)) >= 97 THEN ascii(substr(m,2,1)) - 87
                     ELSE ascii(substr(m,2,1)) - 48 END) AS b
             FROM h)),
toks AS (
  SELECT doc_id, split,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM sp),
idx AS (SELECT doc_id, split, t,
               unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
        FROM toks),
sh AS (SELECT DISTINCT doc_id, split, array_to_string(t[i:i+7], ' ') AS s FROM idx),
tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
ev AS (SELECT doc_id, split, s FROM sh WHERE split != 'train'),
sizes AS (SELECT doc_id, split, CAST(count(*) AS INT) AS n_shingles FROM ev GROUP BY 1, 2),
hits AS (SELECT doc_id, count(*) AS n_contaminated FROM ev JOIN tr USING (s) GROUP BY 1)
SELECT sizes.doc_id, split, n_shingles,
       CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(n_contaminated, 0) * 1.0 / greatest(n_shingles, 1), 6) AS contamination,
       coalesce(n_contaminated, 0) > 0 AS contaminated
FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
ORDER BY sizes.doc_id
"""


def pipeline_validate(spark, sf_dir):
    """Data-quality constraint gate (deequ/dbt-test-style) — the go/no-go
    check before a corpus feeds training. All single-table rules compile
    into ONE conditional-aggregate pass per table (no per-rule scans);
    the referential rule is a left-anti count. At 100 TB: two fact scans
    + one anti-join — cost independent of rule count.

    Rules: documents.text NOT NULL; documents.doc_id unique;
    documents.n_chars in [1, 10^6]; documents.lang in the known set;
    lineitem.l_orderkey references orders.o_orderkey."""
    docs = _t(spark, sf_dir, "documents")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    doc_rules = docs.agg(
        F.count(F.when(F.col("text").isNull(), 1)).alias("text_not_null"),
        (F.count("*") - F.countDistinct("doc_id")).alias("doc_id_unique"),
        F.count(
            F.when(~F.col("n_chars").between(1, 1_000_000), 1)
        ).alias("n_chars_range"),
        F.count(
            F.when(~F.col("lang").isin("en", "de", "fr", "es", "unk"), 1)
        ).alias("lang_domain"),
    )
    orphan = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("violations"))
        .select(F.lit("lineitem_orderkey_fk").alias("rule"), "violations")
    )
    long_rules = doc_rules.unpivot([], doc_rules.columns, "rule", "violations")
    return (
        long_rules.unionByName(orphan)
        .withColumn("passed", F.col("violations") == 0)
        .orderBy("rule")
    )


PIPELINE_VALIDATE_ORACLE = """
WITH d AS (
  SELECT
    count(*) FILTER (WHERE text IS NULL) AS text_not_null,
    count(*) - count(DISTINCT doc_id) AS doc_id_unique,
    count(*) FILTER (WHERE n_chars NOT BETWEEN 1 AND 1000000) AS n_chars_range,
    count(*) FILTER (WHERE lang NOT IN ('en','de','fr','es','unk')) AS lang_domain
  FROM documents),
fk AS (
  SELECT count(*) AS violations FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
long AS (
  SELECT 'text_not_null' AS rule, text_not_null AS violations FROM d
  UNION ALL SELECT 'doc_id_unique', doc_id_unique FROM d
  UNION ALL SELECT 'n_chars_range', n_chars_range FROM d
  UNION ALL SELECT 'lang_domain', lang_domain FROM d
  UNION ALL SELECT 'lineitem_orderkey_fk', violations FROM fk)
SELECT rule, CAST(violations AS BIGINT) AS violations, violations = 0 AS passed
FROM long ORDER BY rule
"""


def dedup_survivors(spark, sf_dir):
    """Quality-aware duplicate-cluster survivor selection: within each
    connected component of the near-dup graph keep the LONGEST document
    (n_chars, doc_id tiebreak) — the keep-best curation rule (vs the
    min-id rule of exact_dedup), labeling every doc rather than dropping
    rows so downstream filters stay declarative. Plan: the dedup_clusters
    iteration + one broadcast-sized window over components (components
    are tiny relative to the corpus; the window shuffle carries only
    (id, comp, n_chars))."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.2)
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = D.connected_components(nodes, pairs.select("a", "b"))
    j = comp.join(docs.select(F.col("doc_id").alias("id"), "n_chars"), "id")
    w = W.partitionBy("comp").orderBy(F.desc("n_chars"), F.asc("id"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            "n_chars",
            (F.col("rk") == 1).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


DEDUP_SURVIVORS_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM idx),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
cp AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
       FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (
  SELECT a, b FROM cp
  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.2),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
rk AS (
  SELECT comp.id, comp.component, d.n_chars,
         row_number() OVER (PARTITION BY component
                            ORDER BY d.n_chars DESC, comp.id) AS rk
  FROM comp JOIN documents d ON d.doc_id = comp.id)
SELECT id AS doc_id, component, n_chars, rk = 1 AS is_survivor
FROM rk ORDER BY doc_id
"""


def pipeline_epochs(spark, sf_dir):
    """Multi-epoch deterministic reshuffle: each epoch e orders the corpus
    by md5('epoch<e>:'||id) — a DIFFERENT but reproducible permutation per
    epoch (the dataloader contract: same seed → same batch order, epochs
    decorrelated). One explode of the tiny epoch list (rows × E, zero
    shuffle) + per-epoch rank via one window over the (epoch, key) sort;
    at corpus scale a dataloader consumes the sort order directly instead
    of materializing ranks. Certified: first 20 positions of 3 epochs."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    tagged = docs.select("doc_id").crossJoin(
        F.broadcast(spark.range(3).select(F.col("id").cast("int").alias("epoch")))
    )
    keyed = tagged.withColumn(
        "shuffle_key", F.md5(F.concat(F.lit("epoch"), "epoch", F.lit(":"), F.col("doc_id")))
    )
    w = W.partitionBy("epoch").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 20)
        .select("epoch", "pos", "doc_id")
        .orderBy("epoch", "pos")
    )


PIPELINE_EPOCHS_ORACLE = """
WITH e AS (SELECT unnest(generate_series(0, 2)) AS epoch),
keyed AS (
  SELECT epoch, doc_id, md5('epoch' || epoch || ':' || doc_id) AS k
  FROM documents CROSS JOIN e),
r AS (
  SELECT epoch, doc_id,
         row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
  FROM keyed)
SELECT CAST(epoch AS INT) AS epoch, CAST(pos AS INT) AS pos, doc_id
FROM r WHERE pos <= 20 ORDER BY epoch, pos
"""


def pipeline_shard_manifest(spark, sf_dir):
    """Shard manifest for a corpus export: every document lands in one of
    16 md5-assigned shards; the manifest row per shard carries count,
    byte volume, and an ORDER-INSENSITIVE content checksum (bit_xor of a
    per-row 60-bit hash) — the artifact a 100 TB writer emits next to its
    shards so a reader can verify completeness and integrity without
    re-sorting anything. One shuffle on the 16-value shard key; the
    checksum is overflow-free and partition-order-independent by
    construction (xor is commutative)."""
    docs = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % 16
    )
    rowhash = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.md5("text"))), 1, 15
        ),
        16, 10,
    ).cast("long")
    return (
        docs.select(
            shard.alias("shard"),
            rowhash.alias("_h"),
            F.char_length("text").alias("_nc"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nc").alias("n_chars"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
        .orderBy("shard")
    )


PIPELINE_SHARD_MANIFEST_ORACLE = """
WITH rows_h AS (
  SELECT ('0x' || substr(md5('shard:' || doc_id), 1, 15))::BIGINT % 16 AS shard,
         ('0x' || substr(md5(doc_id || ':' || md5(text)), 1, 15))::BIGINT AS _h,
         length(text) AS _nc
  FROM documents)
SELECT shard, count(*) AS n_docs, CAST(sum(_nc) AS BIGINT) AS n_chars,
       bit_xor(_h) AS checksum
FROM rows_h GROUP BY shard ORDER BY shard
"""


def pipeline_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff: old = documents; new = a deterministic
    second version (every 10th doc dropped, every 7th surviving doc's
    text revised, 30 fresh docs appended). FULL OUTER join on doc_id
    comparing content fingerprints classifies added / removed / changed /
    unchanged — the incremental-ingest audit every versioned 100 TB
    corpus needs. The join shuffles 16-byte md5 keys, never text; output
    is the per-status rollup."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.select("doc_id", F.md5("text").alias("fp"))
    new = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" v2")))
            ).otherwise(F.md5("text")).alias("fp"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.md5(F.concat(F.lit("new:"), F.col("text"))).alias("fp"),
            )
        )
    )
    j = old.withColumnRenamed("fp", "fp_old").join(
        new.withColumnRenamed("fp", "fp_new"), "doc_id", "full"
    )
    status = (
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") == F.col("fp_new"), "unchanged")
        .otherwise("changed")
    )
    return (
        j.select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_id"),
             F.max("doc_id").alias("max_id"))
        .orderBy("status")
    )


PIPELINE_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS fp
  FROM documents WHERE doc_id % 10 != 0
  UNION ALL
  SELECT doc_id + 100000, md5('new:' || text) FROM documents WHERE doc_id < 30),
j AS (
  SELECT coalesce(old.doc_id, new.doc_id) AS doc_id, old.fp AS fp_old, new.fp AS fp_new
  FROM old FULL JOIN new ON old.doc_id = new.doc_id),
s AS (
  SELECT doc_id,
         CASE WHEN fp_old IS NULL THEN 'added'
              WHEN fp_new IS NULL THEN 'removed'
              WHEN fp_old = fp_new THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM j)
SELECT status, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM s GROUP BY status ORDER BY status
"""


def pipeline_interleave(spark, sf_dir):
    """Deterministic multi-source interleave for training order: within
    each source, docs get a seeded-shuffle sequence number (row_number
    over md5(salt:id) — one shuffle on source); the global order is
    (seq, source), so sources alternate round-robin and equally-sized
    sources stay balanced through any prefix. First 200 rows of the
    epoch; the limit compiles to TakeOrderedAndProject, never a global
    sort. Corpus growth in one source never perturbs another source's
    subsequence (the same stability contract as hash_split)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("ileave:"), F.col("doc_id"))), "doc_id"
    )
    seq = docs.select("doc_id", "source", F.row_number().over(w).alias("seq"))
    return seq.orderBy("seq", "source", "doc_id").limit(200)


PIPELINE_INTERLEAVE_ORACLE = """
WITH seq AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5('ileave:' || doc_id), doc_id)
              AS INT) AS seq
  FROM documents)
SELECT doc_id, source, seq FROM seq
ORDER BY seq, source, doc_id LIMIT 200
"""


def pipeline_dp_release(spark, sf_dir):
    """Differentially-private corpus statistics release: per-source doc
    counts + ε=1 Laplace noise, with the noise SEEDED from md5 of the
    release key so the published table is reproducible (the standard
    trick for auditable DP releases: fix the randomness per release id).
    Inverse-CDF sampling (u from a 60-bit md5 slice, noise =
    −sign(u−½)·ln(1−2|u−½|)/ε) is pure column math; the true count
    never leaves the engine unperturbed. Zero-shuffle beyond the count
    agg itself."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("true_n"))
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp-r1:"), F.col("source"))), 1, 15), 16, 10)
        .cast("double") / F.lit(float(1 << 60))
    )
    centered = u - 0.5
    eps = 1.0
    noise = (
        -F.signum(centered)
        * F.log(F.lit(1.0) - 2.0 * F.abs(centered))
        / F.lit(eps)
    )
    return (
        counts.select(
            "source",
            F.round(F.col("true_n") + noise, 4).alias("released_n"),
            F.round(noise, 4).alias("noise"),
        )
        .orderBy("source")
    )


PIPELINE_DP_RELEASE_ORACLE = """
WITH counts AS (SELECT source, count(*) AS true_n FROM documents GROUP BY source),
n AS (
  SELECT source, true_n,
         ('0x' || substr(md5('dp-r1:' || source), 1, 15))::BIGINT
           / CAST(1152921504606846976 AS DOUBLE) - 0.5 AS centered
  FROM counts)
SELECT source,
       round(true_n + (-sign(centered) * ln(1.0 - 2.0 * abs(centered)) / 1.0), 4)
         AS released_n,
       round(-sign(centered) * ln(1.0 - 2.0 * abs(centered)) / 1.0, 4) AS noise
FROM n ORDER BY source
"""


def pipeline_balanced_bins(spark, sf_dir):
    """Length-balanced batch assignment: documents sorted by (token
    count desc, id) and dealt round-robin into 16 bins — the
    deterministic, fully-parallel approximation of first-fit-decreasing
    that keeps per-batch token totals near-equal (greedy FFD itself is
    sequential; round-robin over the descending order is the standard
    distributed stand-in and is within a max-doc-length of balanced).
    Output is the per-bin manifest: doc count, token total, and the
    spread vs the ideal equal share.

    Scale shape: the global rank in (n_tok desc, doc_id) order is
    assembled DISTRIBUTED, never through a single-partition window over
    the corpus (the stats_spearman defect class): one groupBy collapses
    to the token-count SUPPORT, a cumulative window over that tiny
    table yields each count's global offset (#docs with a larger
    count), a broadcast join carries the offset back, and the
    within-count tie rank is a window PARTITIONED by n_tok — global
    rank = offset + tie rank, integer-exact and identical to the
    single-window form."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    n_bins = 16
    d = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("n_tok"),
    )
    cells = d.groupBy("n_tok").agg(F.count(F.lit(1)).alias("_t"))
    wcum = W.orderBy(F.col("n_tok").desc()).rowsBetween(W.unboundedPreceding, -1)
    offsets = cells.select(
        "n_tok", F.coalesce(F.sum("_t").over(wcum), F.lit(0)).alias("_off")
    )
    win = W.partitionBy("n_tok").orderBy("doc_id")
    binned = (
        d.join(F.broadcast(offsets), "n_tok")
        .withColumn(
            "bin",
            (F.col("_off") + F.row_number().over(win) - 1) % n_bins,
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens")
    )
    total = d.agg(F.sum("n_tok").alias("_t"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n_docs",
            "bin_tokens",
            F.round(F.col("bin_tokens") / (F.col("_t") / n_bins), 6).alias("balance"),
        )
        .orderBy("bin")
    )


PIPELINE_BALANCED_BINS_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
  FROM documents),
b AS (
  SELECT doc_id, n_tok,
         CAST((row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 16 AS INT) AS bin
  FROM d),
per_bin AS (
  SELECT bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
  FROM b GROUP BY bin),
total AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS _t FROM d)
SELECT bin, n_docs, bin_tokens,
       round(bin_tokens / (_t / 16), 6) AS balance
FROM per_bin CROSS JOIN total ORDER BY bin
"""


def versioned_time_travel(spark, sf_dir):
    """End-to-end certification of the versioned-table transaction log
    (sources/versioned.py) against a SQL oracle: build a table from
    ``orders`` through four commit kinds — append F-orders (v1), append
    O-orders (v2), row-level DELETE of every 10th orderkey (v3), MERGE
    upsert doubling the price of F-orders with orderkey%7==0 while
    inserting all P-orders (v4) — then time-travel read EVERY version
    and aggregate it. The oracle replays each version's contents in
    pure SQL over ``orders``, so manifest bookkeeping, the file-pruned
    two-phase mutation rewrites, and snapshot isolation are all
    value-certified against DuckDB.

    The per-version aggregation is the distributed work; the final
    4-row assembly is bounded driver metadata (one row per version).
    At 100 TB the same log scales as O(files) metadata per commit and
    delete/merge rewrite only the files whose stats overlap the
    affected keys."""
    import os
    import shutil
    import tempfile

    from ..sources import versioned as V

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    tdir = tempfile.mkdtemp(prefix="bms_vtt_")
    t = os.path.join(tdir, "tbl")
    try:
        V.write_versioned(
            orders.filter("o_orderstatus = 'F'"), t, stats_cols=["o_orderkey"]
        )
        V.write_versioned(
            orders.filter("o_orderstatus = 'O'"),
            t,
            mode="append",
            stats_cols=["o_orderkey"],
        )
        V.delete_versioned(
            spark, t, "o_orderkey % 10 = 0", stats_cols=["o_orderkey"]
        )
        src = orders.filter("o_orderstatus = 'P'").unionByName(
            orders.filter("o_orderstatus = 'F' AND o_orderkey % 7 = 0")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        )
        V.merge_versioned(spark, t, src, key="o_orderkey", stats_cols=["o_orderkey"])
        rows = _per_version(
            spark,
            t,
            F.count(F.lit(1)),
            F.round(F.sum("o_totalprice"), 2),
            F.countDistinct("o_custkey"),
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return local_frame(
        spark, rows, "version int, n_orders bigint, sum_price double, n_cust bigint"
    )


def _per_version(spark, path: str, *aggs) -> list[tuple]:
    """``aggs`` over each of versions 1-4 of the versioned table at
    ``path``, as ``(version, *values)`` rows in version order. The four
    time-travel reads are tagged with their version, unioned and grouped:
    one aggregate instead of one per version."""
    from ..sources import versioned as V

    tagged = reduce(
        lambda a, b: a.unionByName(b),
        (V.read_versioned(spark, path, version=v).withColumn("_v", F.lit(v)) for v in (1, 2, 3, 4)),
    )
    got = {r[0]: tuple(r[1:]) for r in tagged.groupBy("_v").agg(*aggs).collect()}
    return [(v, *got[v]) for v in (1, 2, 3, 4)]


VERSIONED_TIME_TRAVEL_ORACLE = """
WITH v2 AS (SELECT * FROM orders WHERE o_orderstatus IN ('F','O')),
v3 AS (SELECT * FROM v2 WHERE o_orderkey % 10 != 0),
v4 AS (
  SELECT o_custkey, o_totalprice FROM v3
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
  UNION ALL
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
  UNION ALL
  SELECT o_custkey, o_totalprice * 2 FROM orders
  WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0)
SELECT 1 AS version, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       count(DISTINCT o_custkey) AS n_cust
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT 2, count(*), round(sum(o_totalprice), 2), count(DISTINCT o_custkey) FROM v2
UNION ALL
SELECT 3, count(*), round(sum(o_totalprice), 2), count(DISTINCT o_custkey) FROM v3
UNION ALL
SELECT 4, count(*), round(sum(o_totalprice), 2), count(DISTINCT o_custkey) FROM v4
ORDER BY version
"""


def pipeline_curriculum(spark, sf_dir):
    """Curriculum staging: assign every document to an easy→hard
    training stage by global token-count quartile. The thresholds come
    from ONE exact multi-quantile aggregate (same percentile /
    quantile_cont parity as agg_quantiles) broadcast back over the
    corpus — no global-order window, so no single-partition sort at any
    corpus size (the failure mode of ntile-based curricula). Stage
    counts and per-stage token means certify the assignment."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).cast("bigint").alias("n_tok"),
    )
    q = toks.agg(
        F.expr("percentile(n_tok, array(0.25D, 0.5D, 0.75D))").alias("_q")
    ).select(
        F.element_at("_q", 1).alias("q1"),
        F.element_at("_q", 2).alias("q2"),
        F.element_at("_q", 3).alias("q3"),
    )
    staged = toks.crossJoin(F.broadcast(q)).select(
        "doc_id",
        "n_tok",
        F.when(F.col("n_tok") <= F.col("q1"), F.lit(1))
        .when(F.col("n_tok") <= F.col("q2"), F.lit(2))
        .when(F.col("n_tok") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("stage_tokens"),
            F.round(F.avg("n_tok"), 4).alias("mean_tok"),
        )
        .orderBy("stage")
    )


PIPELINE_CURRICULUM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
  FROM documents),
q AS (SELECT quantile_cont(n_tok, [0.25, 0.5, 0.75]) AS qs FROM toks),
staged AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok <= qs[1] THEN 1
              WHEN n_tok <= qs[2] THEN 2
              WHEN n_tok <= qs[3] THEN 3
              ELSE 4 END AS stage
  FROM toks CROSS JOIN q)
SELECT stage, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS stage_tokens,
       round(avg(n_tok), 4) AS mean_tok
FROM staged GROUP BY stage ORDER BY stage
"""


def pipeline_kfold(spark, sf_dir):
    """Deterministic k-fold cross-validation assignment (k=5): fold =
    salted-md5 bucket of the doc id — the same zero-shuffle, growth-
    stable decision rule as hash_split (a new document never reshuffles
    existing folds; rand()-based folds do). Certified by per-fold
    counts + per-fold token sums (the assignment AND the disjoint-
    partition property in one result)."""
    docs = _t(spark, sf_dir, "documents")
    fold = (P.hash_bucket(F.col("doc_id"), "fold") % 5).alias("fold")
    toks = F.size(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    ).cast("bigint")
    return (
        docs.select(fold, toks.alias("n_tok"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("fold_tokens"),
        )
        .orderBy("fold")
    )


PIPELINE_KFOLD_ORACLE = r"""
WITH h AS (SELECT doc_id, md5('fold:' || doc_id) AS m,
                  CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
           FROM documents),
d AS (SELECT n_tok,
        CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN ascii(substr(m, 1, 1)) - 87
             ELSE ascii(substr(m, 1, 1)) - 48 END AS d1,
        CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN ascii(substr(m, 2, 1)) - 87
             ELSE ascii(substr(m, 2, 1)) - 48 END AS d2
      FROM h)
SELECT CAST((d1 * 16 + d2) % 5 AS INT) AS fold,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS fold_tokens
FROM d GROUP BY fold ORDER BY fold
"""


def versioned_update_restore(spark, sf_dir):
    """Certification of the remaining transaction-log verbs through the
    SQL dispatch surface (engine.py _sql_versioned): UPDATE with a
    quoted-comma literal in the SET list (the quote-aware
    _split_assignments path), OPTIMIZE (compaction-as-commit — content
    must be bit-identical to the pre-compaction version), and RESTORE
    (metadata-only rollback). Complements versioned_time_travel, which
    certifies append/DELETE/MERGE through the Python API.

    Commits: v1 append all F-orders; v2 ``UPDATE SET o_orderstatus =
    'F,U', o_totalprice = o_totalprice * 2 WHERE o_orderkey % 5 = 0``;
    v3 ``OPTIMIZE`` (same content, fewer files); v4 ``RESTORE TO
    VERSION AS OF 1`` (content == v1). Every version is then
    time-travel read and aggregated; the oracle replays all four states
    in pure SQL. Doubling (not ×1.1) keeps the price arithmetic exact
    in binary on both engines."""
    import os
    import shutil
    import tempfile

    from ..engine import Engine
    from ..sources import versioned as V

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    tdir = tempfile.mkdtemp(prefix="bms_vur_")
    t = os.path.join(tdir, "tbl")
    try:
        V.write_versioned(
            orders.filter("o_orderstatus = 'F'"), t, stats_cols=["o_orderkey"]
        )
        eng = Engine(spark)
        eng.register_versioned("vur_tbl", t)
        eng.sql(
            "UPDATE vur_tbl SET o_orderstatus = 'F,U', "
            "o_totalprice = o_totalprice * 2 WHERE o_orderkey % 5 = 0"
        )
        eng.sql("OPTIMIZE vur_tbl")
        eng.sql("RESTORE TABLE vur_tbl TO VERSION AS OF 1")
        rows = _per_version(
            spark,
            t,
            F.count(F.lit(1)),
            F.round(F.sum("o_totalprice"), 2),
            F.count(F.when(F.col("o_orderstatus") == "F,U", 1)),
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return local_frame(
        spark, rows, "version int, n_orders bigint, sum_price double, n_updated bigint"
    )


VERSIONED_UPDATE_RESTORE_ORACLE = """
WITH f AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
u AS (
  SELECT CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS p,
         CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS upd
  FROM f)
SELECT 1 AS version, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       CAST(0 AS BIGINT) AS n_updated
FROM f
UNION ALL
SELECT 2, count(*), round(sum(p), 2), CAST(sum(upd) AS BIGINT) FROM u
UNION ALL
SELECT 3, count(*), round(sum(p), 2), CAST(sum(upd) AS BIGINT) FROM u
UNION ALL
SELECT 4, count(*), round(sum(o_totalprice), 2), CAST(0 AS BIGINT) FROM f
ORDER BY version
"""


def versioned_cdf(spark, sf_dir):
    """Change-data-feed certification (sources/versioned.read_changes)
    against a SQL replay: same commit sequence as versioned_time_travel
    (append F / append O / DELETE every 10th key / MERGE doubling F%7
    prices and inserting P-orders), then the whole-history change feed
    is aggregated per commit as NET row count and NET price delta
    (inserts minus deletes).

    The net aggregation is the file-layout-independent formulation of
    the CDF invariant ``snapshot(v-1) + inserts − deletes ==
    snapshot(v)``: the feed emits touched-file contents (retired files
    as deletes, rewritten files as inserts), so per-version nets equal
    the logical row/value deltas no matter how Spark partitioned each
    rewrite — exactly what an incremental downstream aggregate consumes.
    At 100 TB the feed plans from manifest set-difference (O(files)
    metadata) and scans only per-commit added/removed files."""
    import os
    import shutil
    import tempfile

    from ..sources import versioned as V

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    tdir = tempfile.mkdtemp(prefix="bms_vcdf_")
    t = os.path.join(tdir, "tbl")
    try:
        V.write_versioned(
            orders.filter("o_orderstatus = 'F'"), t, stats_cols=["o_orderkey"]
        )
        V.write_versioned(
            orders.filter("o_orderstatus = 'O'"),
            t,
            mode="append",
            stats_cols=["o_orderkey"],
        )
        V.delete_versioned(
            spark, t, "o_orderkey % 10 = 0", stats_cols=["o_orderkey"]
        )
        src = orders.filter("o_orderstatus = 'P'").unionByName(
            orders.filter("o_orderstatus = 'F' AND o_orderkey % 7 = 0")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        )
        V.merge_versioned(spark, t, src, key="o_orderkey", stats_cols=["o_orderkey"])
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        out = (
            V.read_changes(spark, t, from_version=0)
            .groupBy(F.col("_commit_version").alias("version"))
            .agg(
                F.sum(sign).cast("bigint").alias("net_rows"),
                F.round(F.sum(sign * F.col("o_totalprice")), 2).alias("net_price"),
            )
            .orderBy("version")
            .collect()
        )
        rows = [(r.version, r.net_rows, float(r.net_price)) for r in out]
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    # rows were collected in version order
    return local_frame(spark, rows, "version int, net_rows bigint, net_price double")


VERSIONED_CDF_ORACLE = """
WITH f AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
o AS (SELECT * FROM orders WHERE o_orderstatus = 'O'),
del AS (SELECT * FROM orders WHERE o_orderstatus IN ('F','O')
        AND o_orderkey % 10 = 0),
-- table state after v3, keyed
s3 AS (SELECT * FROM orders WHERE o_orderstatus IN ('F','O')
       AND o_orderkey % 10 != 0),
-- merge source: all P + doubled F%7
src AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
  UNION ALL
  SELECT o_orderkey, o_totalprice * 2 FROM orders
  WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0),
m AS (
  SELECT src.o_orderkey, src.o_totalprice AS new_p, s3.o_totalprice AS old_p,
         CASE WHEN s3.o_orderkey IS NULL THEN 1 ELSE 0 END AS inserted
  FROM src LEFT JOIN s3 ON src.o_orderkey = s3.o_orderkey)
SELECT 1 AS version, CAST(count(*) AS BIGINT) AS net_rows,
       round(sum(o_totalprice), 2) AS net_price FROM f
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2) FROM o
UNION ALL
SELECT 3, CAST(-count(*) AS BIGINT), round(-sum(o_totalprice), 2) FROM del
UNION ALL
SELECT 4, CAST(sum(inserted) AS BIGINT),
       round(sum(new_p) - sum(coalesce(old_p, 0)), 2) FROM m
ORDER BY version
"""


def pipeline_kanon(spark, sf_dir):
    """k-anonymity audit (Sweeney 2002) of the document corpus under the
    quasi-identifier (lang, source, length-bucket): how many equivalence
    classes fall below k=5, and what share of rows sits in them — the
    re-identification-risk gate run before releasing or retaining a
    curated corpus, complementing pipeline_dp_release's noisy-release
    path and text_pii's direct-identifier scrubber. One QI groupBy
    (map-side combined) + one class-level reduce; the QI table is tiny
    at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "lang", "source", (F.floor(F.col("n_chars") / 200)).alias("len_bucket")
    ).agg(F.count("*").alias("sz"))
    return classes.agg(
        F.count("*").alias("n_classes"),
        F.min("sz").alias("min_class"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0)).alias("classes_below_k"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)).alias(
            "rows_below_k"
        ),
        F.round(
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
            / F.sum("sz"),
            6,
        ).alias("risk_share"),
    )


PIPELINE_KANON_ORACLE = """
WITH classes AS (
  SELECT lang, source, CAST(floor(n_chars / 200.0) AS BIGINT) AS len_bucket,
         count(*) AS sz
  FROM documents GROUP BY 1, 2, 3)
SELECT count(*) AS n_classes, CAST(min(sz) AS BIGINT) AS min_class,
       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k,
       round(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1.0 / sum(sz), 6)
         AS risk_share
FROM classes
"""


def text_oov(spark, sf_dir):
    """Out-of-vocabulary audit across the train/test wall: build the
    per-language vocabulary from the TRAIN split (the same salted-md5
    assignment as pipeline_split) and measure what fraction of TEST-side
    tokens fall outside it — the distribution-shift / tokenizer-coverage
    check run before training (a high OOV rate means the split is not
    exchangeable or the vocab is undertrained). One vocabulary distinct
    + one (lang, term)-keyed left join of the test token stream; the
    vocabulary never leaves the JVM and the split decision is a
    scan-speed filter (hash_split)."""
    docs = _t(spark, sf_dir, "documents")
    split = P.hash_split(docs, "doc_id")
    toks = split.select(
        "lang", "split", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    vocab = (
        toks.filter(F.col("split") == "train").select("lang", "term").distinct()
    )
    test = toks.filter(F.col("split") == "test")
    flagged = test.join(
        vocab.withColumn("_in", F.lit(1)), ["lang", "term"], "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_test_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


TEXT_OOV_ORACLE = r"""
WITH h AS (
  SELECT doc_id, lang, text, md5('split:' || doc_id) AS m FROM documents),
d AS (SELECT doc_id, lang, text,
        CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN ascii(substr(m, 1, 1)) - 87
             ELSE ascii(substr(m, 1, 1)) - 48 END * 16 +
        CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN ascii(substr(m, 2, 1)) - 87
             ELSE ascii(substr(m, 2, 1)) - 48 END AS bucket
      FROM h),
toks AS (
  SELECT lang,
         CASE WHEN bucket < 205 THEN 'train'
              WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM d),
vocab AS (SELECT DISTINCT lang, term FROM toks WHERE split = 'train'),
test AS (SELECT lang, term FROM toks WHERE split = 'test')
SELECT t.lang, count(*) AS n_test_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS oov_rate
FROM test t LEFT JOIN vocab v ON t.lang = v.lang AND t.term = v.term
GROUP BY t.lang ORDER BY t.lang
"""


def pipeline_truncation_loss(spark, sf_dir):
    """Context-length planning table: for max_len ∈ {64, 128, 256, 512}
    tokens, what fraction of corpus token mass is LOST to truncation
    and what fraction of documents are touched — the table read before
    fixing a training sequence length (the dual of pipeline_pack, which
    assumes concat-packing loses nothing). One token-count scan
    exploded over the 4 length literals, one 4-row reduce."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(TX.word_count(F.col("text")).cast("long").alias("n_tok"))
    lifted = d.select(
        "n_tok",
        F.explode(
            F.array(F.lit(64), F.lit(128), F.lit(256), F.lit(512))
        ).alias("max_len"),
    )
    lost = F.greatest(F.col("n_tok") - F.col("max_len"), F.lit(0))
    return (
        lifted.groupBy("max_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(lost).alias("tokens_lost"),
            F.round(F.sum(lost) / F.sum("n_tok"), 6).alias("loss_share"),
            F.round(
                F.sum((F.col("n_tok") > F.col("max_len")).cast("int"))
                / F.count("*"),
                6,
            ).alias("docs_truncated_share"),
        )
        .orderBy("max_len")
    )


PIPELINE_TRUNCATION_LOSS_ORACLE = r"""
WITH d AS (
  SELECT CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
  FROM documents),
lifted AS (SELECT n_tok, unnest([64, 128, 256, 512]) AS max_len FROM d)
SELECT max_len, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(greatest(n_tok - max_len, 0)) AS BIGINT) AS tokens_lost,
       round(sum(greatest(n_tok - max_len, 0)) * 1.0 / sum(n_tok), 6)
         AS loss_share,
       round(sum(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS docs_truncated_share
FROM lifted GROUP BY max_len ORDER BY max_len
"""


def dedup_cross_source(spark, sf_dir):
    """Cross-source EXACT duplication matrix: for every source pair,
    how many normalized-fingerprint clusters contain documents from
    BOTH — the mirror-site / syndication detector (text_overlap_matrix
    measures fuzzy n-gram containment; this counts verbatim reprints).
    One fingerprint→distinct-source collapse, then an in-cluster source
    self-join bounded by sources-per-cluster (≤ #sources, never corpus
    fan-out). Only pairs with ≥1 shared cluster are emitted.

    The corpus is augmented with a deterministic 'mirror' source — the
    25 lowest-doc_id documents republished verbatim under the reserved
    label 'mirror' — a PLANTED POSITIVE CONTROL, clearly labeled in the
    output: rows with source_b = 'mirror' prove the detector fires (a
    0=0 oracle match on a corpus with no natural reprints would certify
    nothing — the round-6 harness lesson), and consumers read the raw
    cross-source matrix by filtering source_b != 'mirror'. The control
    slice is oracle-replayable (ORDER BY doc_id LIMIT 25 on both
    engines); natural cross-source duplicates surface alongside it,
    unchanged. The reusable operator (operators/dedup.py) plants
    nothing — the control lives only in this registry artifact."""
    docs = _t(spark, sf_dir, "documents")
    mirror = (
        docs.orderBy("doc_id")
        .limit(25)
        .withColumn("source", F.lit("mirror"))
    )
    fs = (
        docs.unionByName(mirror)
        .select(TX.fingerprint(F.col("text")).alias("fp"), "source")
        .distinct()
    )
    a = fs.select("fp", F.col("source").alias("source_a"))
    b = fs.select("fp", F.col("source").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_clusters"))
        .orderBy("source_a", "source_b")
    )


DEDUP_CROSS_SOURCE_ORACLE = r"""
WITH mirror AS (
  SELECT text, 'mirror' AS source
  FROM documents ORDER BY doc_id LIMIT 25),
aug AS (
  SELECT text, source FROM documents
  UNION ALL SELECT text, source FROM mirror),
fs AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         source
  FROM aug)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared_clusters
FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


def pipeline_dataset_card(spark, sf_dir):
    """One-row dataset card — the summary block a corpus release ships
    with (datasheet/data-card practice, Gebru et al., CACM 2021):
    document and token volume, language/source breadth, the exact-dup
    rate (1 − distinct fingerprints / docs), length center (mean +
    interpolated median chars), and the dominant language with its
    share. One scan feeds a single multi-aggregate (countDistinct on
    the 128-bit fingerprint is the only wide state); the dominant
    language is a 5-row groupBy joined back broadcast. The oracle
    replays every number exactly — fingerprints, medians, shares."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
        TX.fingerprint(F.col("text")).alias("fp"),
        F.size(TX.tokens(F.col("text"))).alias("ntok"),
    )
    core = base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("ntok").alias("n_tokens"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.round(F.median("n_chars"), 4).alias("p50_chars"),
        # nullif: an empty/fully-filtered corpus reads NULL dup_rate,
        # not an ANSI DIVIDE_BY_ZERO — the audit should report the
        # degenerate corpus, not die on it
        F.round(
            1 - F.countDistinct("fp") / F.nullif(F.count("*").cast("double"), F.lit(0.0)),
            6,
        ).alias("dup_rate"),
    )
    top = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("_n"))
        .orderBy(F.col("_n").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("_n").alias("_top_n"))
    )
    return core.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "n_tokens",
        "mean_chars",
        "p50_chars",
        "dup_rate",
        "top_lang",
        F.round(F.col("_top_n") / F.col("n_docs"), 4).alias("top_lang_share"),
    )


PIPELINE_DATASET_CARD_ORACLE = r"""
WITH base AS (
  SELECT lang, source, CAST(n_chars AS DOUBLE) AS n_chars,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS ntok
  FROM documents),
core AS (
  SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         round(avg(n_chars), 4) AS mean_chars,
         round(median(n_chars), 4) AS p50_chars,
         round(1 - count(DISTINCT fp) * 1.0 / nullif(count(*), 0), 6) AS dup_rate
  FROM base),
top AS (
  SELECT lang AS top_lang, count(*) AS _top_n
  FROM documents GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1)
SELECT n_docs, n_langs, n_sources, n_tokens, mean_chars, p50_chars,
       dup_rate, top_lang,
       round(_top_n * 1.0 / n_docs, 4) AS top_lang_share
FROM core, top
"""


def pipeline_rebalance(spark, sf_dir):
    """Equal-allocation corpus rebalancing: every language stratum is
    deterministically downsampled toward the size of the SMALLEST
    stratum — the data-derived-rate counterpart of pipeline_mixture's
    static rate table, i.e. 'balance the crawl' instead of 'apply this
    mixture'. Output is the per-stratum audit (total, exact integer
    16-bit threshold, survivors, achieved rate): the threshold row
    proves the rate derivation and the n_kept row proves membership —
    both engines replay the md5 decisions bit-for-bit
    (operators/pipeline.equal_allocation_sample)."""
    docs = _t(spark, sf_dir, "documents")
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    min_n = totals.agg(F.min("n_total").alias("_min_n"))
    thr = totals.crossJoin(F.broadcast(min_n)).select(
        "lang",
        "n_total",
        F.least(
            F.lit(65536),
            F.expr("(_min_n * CAST(65536 AS BIGINT)) div n_total"),
        ).alias("threshold"),
    )
    kept = (
        P.equal_allocation_sample(docs, "doc_id", "lang")
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        thr.join(kept, "lang", "left")
        .select(
            "lang",
            "n_total",
            "threshold",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(
                F.coalesce("n_kept", F.lit(0)) / F.col("n_total"), 4
            ).alias("rate"),
        )
        .orderBy("lang")
    )


PIPELINE_REBALANCE_ORACLE = """
WITH totals AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
m AS (SELECT min(n_total) AS min_n FROM totals),
thr AS (
  SELECT lang, n_total,
         least(65536, (m.min_n * 65536) // n_total) AS threshold
  FROM totals, m),
kept AS (
  SELECT d.lang, count(*) AS n_kept
  FROM documents d JOIN thr t ON d.lang = t.lang
  WHERE CAST(('0x' || substr(md5('strat:' || CAST(d.doc_id AS VARCHAR)), 1, 4))
             AS INTEGER) < t.threshold
  GROUP BY d.lang)
SELECT t.lang, t.n_total, CAST(t.threshold AS BIGINT) AS threshold,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       round(coalesce(k.n_kept, 0) * 1.0 / t.n_total, 4) AS rate
FROM thr t LEFT JOIN kept k ON t.lang = k.lang
ORDER BY t.lang
"""


QUERIES = {
    "pipeline_shard_manifest": pipeline_shard_manifest,
    "pipeline_snapshot_diff": pipeline_snapshot_diff,
    "pipeline_interleave": pipeline_interleave,
    "pipeline_dp_release": pipeline_dp_release,
    "pipeline_balanced_bins": pipeline_balanced_bins,
    "pipeline_validate": pipeline_validate,
    "pipeline_epochs": pipeline_epochs,
    "dedup_survivors": dedup_survivors,
    "pipeline_split": pipeline_split,
    "pipeline_group_split": pipeline_group_split,
    "text_overlap_matrix": text_overlap_matrix,
    "pipeline_pack": pipeline_pack,
    "text_repetition": text_repetition,
    "text_tfidf": text_tfidf,
    "text_decontaminate": text_decontaminate,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best": dedup_keep_best,
    "dedup_spans": dedup_spans,
    "text_gopher": text_gopher,
    "pipeline_mixture": pipeline_mixture,
    "pipeline_temperature": pipeline_temperature,
    "pipeline_dedup_rate": pipeline_dedup_rate,
    "pipeline_source_gini": pipeline_source_gini,
    "pipeline_quota": pipeline_quota,
    "pipeline_reservoir": pipeline_reservoir,
    "pipeline_importance": pipeline_importance,
    "pipeline_shuffle": pipeline_shuffle,
    "pipeline_funnel": pipeline_funnel,
    "pipeline_budget": pipeline_budget,
    "pipeline_chunk": pipeline_chunk,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "profile_documents": profile_documents,
    "profile_histogram": profile_histogram,
    "pipeline_drift": pipeline_drift,
    "pipeline_leakage": pipeline_leakage,
    "versioned_time_travel": versioned_time_travel,
    "pipeline_curriculum": pipeline_curriculum,
    "pipeline_kfold": pipeline_kfold,
    "pipeline_rebalance": pipeline_rebalance,
    "pipeline_kanon": pipeline_kanon,
    "pipeline_dataset_card": pipeline_dataset_card,
    "pipeline_truncation_loss": pipeline_truncation_loss,
    "dedup_cross_source": dedup_cross_source,
    "text_gopher_funnel": text_gopher_funnel,
    "text_oov": text_oov,
    "versioned_update_restore": versioned_update_restore,
    "versioned_cdf": versioned_cdf,
}

ORACLES = {
    "pipeline_shard_manifest": PIPELINE_SHARD_MANIFEST_ORACLE,
    "pipeline_snapshot_diff": PIPELINE_SNAPSHOT_DIFF_ORACLE,
    "pipeline_interleave": PIPELINE_INTERLEAVE_ORACLE,
    "pipeline_dp_release": PIPELINE_DP_RELEASE_ORACLE,
    "pipeline_balanced_bins": PIPELINE_BALANCED_BINS_ORACLE,
    "pipeline_validate": PIPELINE_VALIDATE_ORACLE,
    "pipeline_epochs": PIPELINE_EPOCHS_ORACLE,
    "dedup_survivors": DEDUP_SURVIVORS_ORACLE,
    "pipeline_split": PIPELINE_SPLIT_ORACLE,
    "pipeline_group_split": PIPELINE_GROUP_SPLIT_ORACLE,
    "text_overlap_matrix": TEXT_OVERLAP_MATRIX_ORACLE,
    "pipeline_pack": PIPELINE_PACK_ORACLE,
    "text_repetition": TEXT_REPETITION_ORACLE,
    "text_tfidf": TEXT_TFIDF_ORACLE,
    "text_decontaminate": TEXT_DECONTAMINATE_ORACLE,
    "dedup_clusters": DEDUP_CLUSTERS_ORACLE,
    "dedup_keep_best": DEDUP_KEEP_BEST_ORACLE,
    "dedup_spans": DEDUP_SPANS_ORACLE,
    "text_gopher": TEXT_GOPHER_ORACLE,
    "pipeline_mixture": PIPELINE_MIXTURE_ORACLE,
    "pipeline_temperature": PIPELINE_TEMPERATURE_ORACLE,
    "pipeline_dedup_rate": PIPELINE_DEDUP_RATE_ORACLE,
    "pipeline_source_gini": PIPELINE_SOURCE_GINI_ORACLE,
    "pipeline_quota": PIPELINE_QUOTA_ORACLE,
    "pipeline_reservoir": PIPELINE_RESERVOIR_ORACLE,
    "pipeline_importance": PIPELINE_IMPORTANCE_ORACLE,
    "pipeline_shuffle": PIPELINE_SHUFFLE_ORACLE,
    "pipeline_funnel": PIPELINE_FUNNEL_ORACLE,
    "pipeline_budget": PIPELINE_BUDGET_ORACLE,
    "pipeline_chunk": PIPELINE_CHUNK_ORACLE,
    "dedup_incremental": DEDUP_INCREMENTAL_ORACLE,
    "profile_documents": PROFILE_DOCUMENTS_ORACLE,
    "profile_histogram": PROFILE_HISTOGRAM_ORACLE,
    "pipeline_drift": PIPELINE_DRIFT_ORACLE,
    "pipeline_leakage": PIPELINE_LEAKAGE_ORACLE,
    "versioned_time_travel": VERSIONED_TIME_TRAVEL_ORACLE,
    "pipeline_curriculum": PIPELINE_CURRICULUM_ORACLE,
    "pipeline_kfold": PIPELINE_KFOLD_ORACLE,
    "pipeline_rebalance": PIPELINE_REBALANCE_ORACLE,
    "pipeline_kanon": PIPELINE_KANON_ORACLE,
    "pipeline_dataset_card": PIPELINE_DATASET_CARD_ORACLE,
    "pipeline_truncation_loss": PIPELINE_TRUNCATION_LOSS_ORACLE,
    "dedup_cross_source": DEDUP_CROSS_SOURCE_ORACLE,
    "text_gopher_funnel": TEXT_GOPHER_FUNNEL_ORACLE,
    "text_oov": TEXT_OOV_ORACLE,
    "versioned_update_restore": VERSIONED_UPDATE_RESTORE_ORACLE,
    "versioned_cdf": VERSIONED_CDF_ORACLE,
}
