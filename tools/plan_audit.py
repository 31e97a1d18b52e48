"""Full-registry plan-hygiene audit — the three classic 100 TB plan
killers, checked mechanically over every registry query's plan.

Audits (per query, compiled at sf0.001):

A. **Pinned broadcast on an unbounded frame.** Every broadcast HINT in
   the optimized logical plan (``leftHint=/rightHint=(strategy=broadcast)``)
   is classified by its hinted subtree:
   - ``one_row_agg``   — a global (no-grouping-key) aggregate: 1 row, fine.
   - ``limited``       — a Limit/TakeOrdered bounds the subtree: k rows, fine.
   - ``vocab_scale``   — the subtree groups an EXPLODED column (an
     Aggregate WITH grouping keys sitting above a Generate) with no
     Limit in between: vocabulary-sized (10^8-10^9 distinct tokens on a
     web corpus) → **FLAGGED**. This is the hardened definition from
     VERDICT r7 #3: the round-7 ad-hoc audit counted tfidf's
     document-frequency table as dimension-sized; anything derived by
     grouping an exploded token/term/shingle column is unbounded.
   - ``dimension``     — everything else (base dims like nation/region,
     filtered ≤k query sets). Listed for adjudication, not flagged.

B. **CartesianProduct** anywhere in the executed plan → flagged.
   (BroadcastNestedLoopJoin from tiny-build crossJoins is allowed; the
   round-7 sweep adjudicated all 40 as 1-row/≤8-row builds.)

C. **Exchange SinglePartition** whose child is not an aggregate
   (partial → final funnel over support-sized input) → flagged, except
   the declared global-NTILE surface (window_ntile, SURVEY §2.6).

Usage::

    python tools/plan_audit.py [sf_dir]          # default sf0.001
    python tools/plan_audit.py sf_dir name ...   # subset by prefix

Exit status 1 iff any query is flagged. Output: one line per flag, a
per-class pin census, and a summary line.
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UNIT = 3  # treeString indents in 3-char units (':- ', '+- ', ':  ', '   ')


@dataclass
class Node:
    text: str
    depth: int
    idx: int
    children: list["Node"] = field(default_factory=list)


def parse_tree(plan: str) -> list[Node]:
    """Parse a Spark treeString into a node list with child links.

    Returns nodes in line order; nodes[0] is the root. A node line
    consumes zero or more ':  '/'   ' continuation units then a ':- ' or
    '+- ' branch marker; any other line is a CONTINUATION of the
    previous node (expressions can embed literal newlines — e.g. a
    whitespace-class regex in a tokenizer split) and folds into it."""
    nodes: list[Node] = []
    stack: list[Node] = []
    for raw in plan.splitlines():
        if not raw.strip():
            continue
        s, depth, is_node = raw, 0, False
        while len(s) >= UNIT and s[:UNIT] in (":  ", "   "):
            depth += 1
            s = s[UNIT:]
        if len(s) >= UNIT and s[:UNIT] in (":- ", "+- "):
            depth += 1
            s = s[UNIT:]
            is_node = True
        if not nodes:
            n = Node(text=raw.strip(), depth=0, idx=0)
            nodes.append(n)
            stack.append(n)
            continue
        if not is_node:
            nodes[-1].text += " " + raw.strip()
            continue
        n = Node(text=s.strip(), depth=depth, idx=len(nodes))
        nodes.append(n)
        while stack and stack[-1].depth >= depth:
            stack.pop()
        if stack:
            stack[-1].children.append(n)
        stack.append(n)
    return nodes


def _subtree(n: Node) -> list[Node]:
    out = [n]
    for c in n.children:
        out.extend(_subtree(c))
    return out


_AGG_RE = re.compile(r"^(Aggregate|HashAggregate|ObjectHashAggregate|SortAggregate)\b")
_LIMIT_RE = re.compile(r"^(GlobalLimit|LocalLimit|TakeOrdered|CollectLimit|Limit)\b")
_GEN_RE = re.compile(r"^Generate\b")


def _agg_has_grouping_keys(text: str) -> bool:
    """Logical ``Aggregate [keys], [exprs]`` has two bracket lists; a
    global aggregate (``Aggregate [count(1) AS c#1L]``) has one."""
    return bool(re.match(r"Aggregate \[[^\]]*\], \[", text))


# Distinctive leading columns of the SF-SCALED base tables (cardinality
# grows with data volume). nation (25 rows) and region (5) are spec-fixed
# and excluded — pins on them are correct at any scale.
_SCALED_SCAN_RE = re.compile(
    r"^Relation \[?(c_custkey|o_orderkey|l_orderkey|p_partkey|ps_partkey|"
    r"s_suppkey|event_id|user_id|doc_id|vec_id)\b"
)


def classify_pin(hinted: Node) -> str:
    """Classify the frame under a broadcast hint (see module doc).

    Precedence: vocab_scale (grouped explode, unbounded key domain) >
    sf_scaled_base (an SF-scaled base-table scan reaches the hint with
    no bounding node — the frame grows with the corpus, so the pin
    OOMs at 100 TB even though it wins a single-node bench) >
    keyed_agg_scaled (a keyed aggregate over an SF-scaled scan — the
    key domain decides; requires adjudication) > limited > dimension."""
    if _agg_has_grouping_keys(hinted.text) is False and hinted.text.startswith("Aggregate "):
        return "one_row_agg"

    found: set[str] = set()

    def walk(n: Node, limited: bool, keyed_agg: bool) -> None:
        if _LIMIT_RE.match(n.text):
            limited = True
        if n.text.startswith("Aggregate "):
            if not _agg_has_grouping_keys(n.text):
                return  # global agg bounds everything below to 1 row
            if not limited and any(_GEN_RE.match(d.text) for d in _subtree(n)[1:]):
                found.add("vocab_scale")
            keyed_agg = True
        if not limited and _SCALED_SCAN_RE.match(n.text):
            found.add("keyed_agg_scaled" if keyed_agg else "sf_scaled_base")
        for c in n.children:
            walk(c, limited, keyed_agg)

    walk(hinted, False, False)
    for cls in ("vocab_scale", "sf_scaled_base", "keyed_agg_scaled"):
        if cls in found:
            return cls
    if any(_LIMIT_RE.match(d.text) for d in _subtree(hinted)):
        return "limited"
    return "dimension"


# Adjudicated vocab_scale pins: the structural heuristic sees "grouping
# above an explode" but the grouping KEY's domain is bounded by
# construction, so the pinned frame cannot grow with the corpus. Each
# entry names the query and the bound. Anything NOT listed here that
# classifies vocab_scale is a defect.
ADJUDICATED_VOCAB_PINS: dict[str, str] = {
    "sketch_cms": "CMS cell table ≤ depth×width rows (constants)",
    "sketch_cms_det": "CMS cell table ≤ depth×width rows (constants)",
    "text_dsir": (
        "ratio table grouped on _b, whose domain is the Limit-bounded "
        "top-V vocab + the <oov> sentinel — ≤ V+1 rows"
    ),
    "text_langid_ngram": (
        "trigram profile is rank-filtered to top_n per language — "
        "≤ top_n × n_languages rows"
    ),
    "text_overlap_matrix": (
        "per-group shingle totals — ≤ n_groups rows (sources, tens)"
    ),
    "sim_ann_pq_det": (
        "PQ centroid/LUT tables ≤ m_subspaces × 2^code_bits rows "
        "(constants); query side ≤ 8 rows by vec_id filter"
    ),
}

# Adjudicated sf_scaled_base pins: the hinted frame scans an SF-scaled
# base table unbounded — allowed only with a concrete reason. (The
# classifier cannot see Filter selectivity, so k-row vec_id slices of
# embeddings land here.)
_QUERY_SIDE = (
    "pinned side is the QUERY SET — a vec_id pushdown filter bounds it "
    "to k rows (≤8); the corpus side is never pinned"
)
ADJUDICATED_SCALED_PINS: dict[str, str] = {
    "sim_topk": _QUERY_SIDE,
    "sim_hybrid_rrf": _QUERY_SIDE,
    "sim_maxsim": _QUERY_SIDE,
    "sim_knn_eval": _QUERY_SIDE,
    "sim_ann_lsh": _QUERY_SIDE + " (bucket-probe join)",
    "sim_ann_ivf": _QUERY_SIDE + " (cell-probe join)",
    "sim_ann_lsh_det": _QUERY_SIDE + " (deterministic twin, bucket-probe)",
    "sim_ann_ivf_det": _QUERY_SIDE + " (deterministic twin, cell-probe; "
    "the Cross pin is the 2-row sign-centroid table)",
    "sim_ann_pq_det": _QUERY_SIDE + " (deterministic twin, LUT probe)",
    "sim_ranking_metrics": _QUERY_SIDE + " (200-row leave-one-out sample)",
    "join_inner": (
        "the §2.4 COLLECT_LEFT partition-mode surface itself — "
        "demonstrates the explicit broadcast hint API (J.join "
        "broadcast_right=True), mirroring the reference's COLLECT_LEFT "
        "mode; the AUTO path is certified by every unpinned join"
    ),
    "text_decontaminate": (
        "pinned side is the EVAL-SET (doc, shingle) pair table — bounded "
        "by the decontaminate() eval_bounded CONTRACT (production eval "
        "benchmarks are fixed suites, MBs of 8-byte hashes; here the "
        "src0 slice stands in). The pin is the fix for a MEASURED "
        "static-planner failure, not an optimization: un-hinted, "
        "Catalyst's never-growing estimate of the CORPUS-derived "
        "shingle set kept BroadcastHashJoin until the build died at "
        "~67M shingles (tools/scale_ladder.py, SCALE.md r9); the "
        "inverted probe broadcasts the bounded side and removes the "
        "corpus-wide distinct shuffle entirely. The corpus-scaled-eval "
        "form (pipeline_leakage) uses eval_bounded=False: merge-hinted "
        "shuffle semi-join, no pin on either side"
    ),
}

# Adjudicated keyed_agg_scaled pins: the hinted frame is a keyed
# aggregate over an SF-scaled scan; bounded iff the KEY DOMAIN is fixed.
_PRIORITY_KEYED = (
    "pinned side keyed on o_orderpriority — 5 values by spec"
)
_TYPE_KEYED = "pinned side keyed on event_type — fixed small event vocabulary"
ADJUDICATED_KEYED_AGG_PINS: dict[str, str] = {
    "stats_mad": _PRIORITY_KEYED,
    "stats_levene": _PRIORITY_KEYED,
    "stats_outlier_iqr": _PRIORITY_KEYED,
    "events_anomaly": _TYPE_KEYED,
    "events_changepoint": _TYPE_KEYED,
    "events_seasonality": _TYPE_KEYED + " × 7 weekdays",
    "events_markov_eval": _TYPE_KEYED + " (src_type)",
    "events_cohort_matrix": (
        "pinned side keyed on cohort_week — calendar-bounded "
        "(~52 rows/year of data; grows with TIME, not volume)"
    ),
    "text_langid_confusion": (
        "pinned side keyed on lang — fixed language set"
    ),
    "pipeline_balanced_bins": (
        "pinned side is the token-count SUPPORT table (distinct n_tok "
        "values ≤ max document length — the stats_spearman support "
        "pattern, plan-asserted in tests/test_plans.py)"
    ),
    "pipeline_budget": (
        "pinned side is the chunk prefix table of the distributed "
        "prefix sum — corpus/chunk rows (4096-doc chunks: ~25k rows "
        "per 100M docs, the documented pack_sequences trade; raise "
        "chunk for larger corpora)"
    ),
    "pipeline_pack": (
        "pinned side is the chunk prefix table of the distributed "
        "prefix sum — corpus/chunk rows (see pipeline_budget)"
    ),
    "sim_ann_ivf_det": (
        "pinned side keyed on cell — sign-code cells, ≤ 2^n_planes "
        "rows (constant)"
    ),
    "pipeline_rebalance": (
        "pinned side keyed on lang — per-stratum thresholds, "
        "≤ n_languages rows"
    ),
    "stats_histogram": (
        "pinned side is the two-phase-rank OFFSETS table of "
        "exact_percentiles_ranked (r11, re-keyed r12): a keyed "
        "aggregate whose grouping key is the deterministic equi-width "
        "bucket id, clamped by least(32*defaultParallelism - 1, ...) "
        "— row count ≤ 32·cluster width by construction, growing with "
        "the CLUSTER, not the data volume"
    ),
}

# appended to ADJUDICATED_SCALED_PINS below: the documented unblocked
# all-pairs baselines (cosine_dup_pairs without `scope`) pin the b side
# so the shipped static-threshold-off policy keeps their historical
# BroadcastNestedLoopJoin instead of CartesianProduct; both carry the
# 'at 100 TB ALWAYS block first' contract in the operator docstring and
# the matching O(n²) adjudications in tools/sweep_audit.py.
_ALL_PAIRS_BASE = (
    "pinned side is the b-side of the DOCUMENTED unblocked all-pairs "
    "sf-scale baseline (cosine_dup_pairs, similarity.py — 'at 100 TB "
    "ALWAYS block first'); the pin only preserves the historical "
    "BroadcastNestedLoopJoin under the static-threshold-off policy"
)
ADJUDICATED_SCALED_PINS["dedup_embedding_exact"] = _ALL_PAIRS_BASE
ADJUDICATED_SCALED_PINS["sim_dedup_threshold_sweep"] = _ALL_PAIRS_BASE

# Adjudicated static-estimate broadcasts (audit D): the STATIC physical
# plan builds a broadcast from an explode-derived frame over an
# SF-scaled scan, but the derived frame is bounded by construction —
# each entry names the bound. Anything NOT listed that audit D finds is
# a decon-class defect: Catalyst's size estimate for explode-derived
# frames is structurally disconnected from their true cardinality (the
# wide text column divides the row-count estimate while the explode
# fans out ~10-100x), so the static BroadcastHashJoin survives far past
# the real threshold and dies building the hashed relation instead of
# degrading — MEASURED by tools/scale_ladder.py (round 9): still
# broadcasting at 34M distinct shingles, 'Not enough memory to build
# and broadcast' at ~67M on a 16g driver, zero graceful degradation.
_PROBE_SIDE = (
    "the static broadcast IS the explicit probe-side pin (audit A, "
    "adjudicated in ADJUDICATED_SCALED_PINS): the explode is the "
    "n_probe cells/buckets per query over the vec_id-filtered query "
    "set — ≤ k × n_probe rows by construction"
)
ADJUDICATED_STATIC_BROADCASTS: dict[str, str] = {
    "text_decontaminate": (
        "the static broadcast IS the explicit eval-side pin (audit A, "
        "adjudicated in ADJUDICATED_SCALED_PINS): the eval (doc, "
        "shingle) pair table, bounded by the decontaminate() "
        "eval_bounded contract — ENFORCED at run time by the "
        "eval_doc_cap guard (LIMIT-bounded count, raises before the "
        "broadcast; ADVICE r9 fix, tests/test_pipeline.py::"
        "test_decontaminate_eval_cap_guard)"
    ),
    "sim_ann_lsh": _PROBE_SIDE,
    "sim_ann_lsh_det": _PROBE_SIDE,
    "sim_ann_ivf": _PROBE_SIDE,
    "sim_ann_ivfpq": _PROBE_SIDE,
}

# --- adjudication bound ENFORCEMENT (round 11: the documented→enforced
# upgrade stream_plan_audit's S2 entries got, extended to the audit-A
# classes whose bounds are mechanically checkable) -----------------------
# Each validator asserts the bound its adjudication prose claims —
# against the audited dataset for data-domain bounds (spec-fixed key
# cardinalities) and against the pinned subtree itself for structural
# bounds (the claimed query-side pushdown filter). A violated bound
# turns the adjudication back into a flag in main() — a future edit
# that re-keys a pinned aggregate onto an unbounded column, or re-pins
# a corpus side instead of the filtered query side, fails the battery
# gate instead of hiding behind stale prose. Prose-only entries remain
# for bounds that are constants of the operator definition (CMS
# depth×width, top-V vocab limits) — those cannot drift with data.


def _spec_domain_validator(table: str, col: str, limit: int):
    """Bound: the pinned aggregate's key domain is a spec-fixed column
    with at most `limit` distinct values — checked against the audited
    dataset (the c_mktsegment pattern from stream_plan_audit)."""

    def check(spark, sf_dir: str, res: dict) -> str | None:
        from ballista_mvp_spark.tables import load_table

        n = load_table(spark, sf_dir, table).select(col).distinct().count()
        if n > limit:
            return (
                f"{col} key domain is {n} > {limit} spec-fixed values — "
                f"the pinned keyed aggregate is no longer bounded"
            )
        return None

    return check


def _query_side_pin_validator(spark, sf_dir: str, res: dict) -> str | None:
    """Bound: every SF-scaled pinned side is the QUERY SET — its subtree
    must carry the claimed vec_id FILTER (the pushdown that bounds it to
    k rows; a bare corpus scan lists vec_id as an attribute, so the
    check requires a Filter node over it, not a mere mention)."""
    bad = [
        s.splitlines()[0][:100]
        for c, s in res.get("pin_subtrees", [])
        if c == "sf_scaled_base"
        and not any(
            ln.lstrip().startswith("Filter ") and "vec_id" in ln
            for ln in s.splitlines()
        )
    ]
    if bad:
        return (
            f"pinned SF-scaled side carries no vec_id query filter — "
            f"this is a corpus-side pin, not the adjudicated query-side "
            f"pin: {bad}"
        )
    return None


def _bucket_id_key_validator(spark, sf_dir: str, res: dict) -> str | None:
    """Bound: the pinned keyed aggregate is the two-phase-rank OFFSETS
    table (operators/aggregates.exact_percentiles_ranked) — its
    grouping key must be DERIVED FROM the deterministic equi-width
    bucket expression, whose domain is clamped to
    32·defaultParallelism ids by a least(nb-1, FLOOR(...)) literal, so
    the frame's row count is cluster-bound and cannot grow with the
    data (r12 re-key: the r11 form used spark_partition_id() of a
    range sort, which also made rank coherence depend on
    ReusedExchange). A future edit that re-keys the pinned aggregate
    onto an unclamped data column fails here instead of hiding behind
    the adjudication prose."""
    nb = 32 * spark.sparkContext.defaultParallelism
    bad = []
    for c, s in res.get("pin_subtrees", []):
        if c != "keyed_agg_scaled":
            continue
        m = re.search(r"Aggregate \[(\w+)#", s)
        key = m.group(1) if m else None
        if not (
            key
            and re.search(
                rf"least\({nb - 1}, FLOOR\(.*\)\) as int\) END AS {re.escape(key)}#",
                s,
            )
        ):
            bad.append(s.splitlines()[0][:100])
    if bad:
        return (
            "pinned keyed aggregate is not keyed on the clamped "
            f"least({nb - 1}, FLOOR(...)) bucket id — unbounded key "
            f"domain: {bad}"
        )
    return None


_PRIORITY_DOMAIN = _spec_domain_validator("orders", "o_orderpriority", 5)
_TYPE_DOMAIN = _spec_domain_validator("events", "event_type", 8)

ADJUDICATION_BOUND_VALIDATORS: dict = {
    # keyed-agg pins on spec-fixed domains (data-side cardinality)
    "stats_mad": _PRIORITY_DOMAIN,
    "stats_levene": _PRIORITY_DOMAIN,
    "stats_outlier_iqr": _PRIORITY_DOMAIN,
    "events_anomaly": _TYPE_DOMAIN,
    "events_changepoint": _TYPE_DOMAIN,
    "events_seasonality": _TYPE_DOMAIN,
    "events_markov_eval": _TYPE_DOMAIN,
    # query-side pins: the pinned SF-scaled side must BE the vec_id-
    # filtered query set
    "sim_topk": _query_side_pin_validator,
    "sim_hybrid_rrf": _query_side_pin_validator,
    "sim_maxsim": _query_side_pin_validator,
    "sim_knn_eval": _query_side_pin_validator,
    # structural pin: the rank-percentile offsets table must stay keyed
    # on the clamped deterministic bucket id (≤32·cluster-width rows)
    "stats_histogram": _bucket_id_key_validator,
}


def bound_violations(name: str, res: dict, spark, sf_dir: str) -> list[str]:
    """Run the name's adjudication bound validator (if any); a non-empty
    result is a plan-hygiene failure even though the adjudication dict
    lists the query."""
    v = ADJUDICATION_BOUND_VALIDATORS.get(name)
    if v is None:
        return []
    err = v(spark, sf_dir, res)
    return [f"adjudicated bound VIOLATED: {err}"] if err else []


_HINT_RE = re.compile(r"(left|right)Hint=\([^)]*strategy=broadcast[^)]*\)")

_PHYS_LIMIT_RE = re.compile(r"^(GlobalLimit|LocalLimit|CollectLimit|TakeOrderedAndProject)\b")
_PHYS_GLOBAL_AGG_RE = re.compile(r"^(Hash|ObjectHash|Sort)Aggregate\(keys=\[\]")
_PHYS_SCALED_SCAN_RE = re.compile(
    r"^FileScan \w+ \[[^\]]*\b(c_custkey|o_orderkey|l_orderkey|p_partkey|"
    r"ps_partkey|s_suppkey|event_id|user_id|doc_id|vec_id)#"
)


def static_broadcast_findings(spark_plan: str) -> list[str]:
    """Audit D — decon-class hazard: in the PRE-AQE static physical plan
    (qe.sparkPlan(), where join strategies are chosen from Catalyst's
    size estimates alone), a BroadcastHashJoin / BroadcastNestedLoopJoin
    whose BUILD side contains an unbounded Generate (explode) over an
    SF-scaled base-table scan. Such a build side's estimate never
    tracks its true cardinality, so the broadcast persists at corpus
    scale until the build physically fails; AQE cannot demote a
    statically-planned broadcast (no shuffle stage to re-measure).
    Frames bounded by a Limit or a global aggregate ABOVE the explode
    are skipped; everything else needs an adjudicated bound or a fix
    (explicit merge hint / probe inversion — see decontaminate())."""
    nodes = parse_tree(spark_plan)
    out: list[str] = []
    for n in nodes:
        m = re.match(r"^Broadcast(HashJoin|NestedLoopJoin)\b.*Build(Left|Right)", n.text)
        if not m or len(n.children) < 2:
            continue
        build = n.children[0] if m.group(2) == "Left" else n.children[1]

        def hazardous(node: Node, bounded: bool) -> bool:
            if _PHYS_LIMIT_RE.match(node.text) or _PHYS_GLOBAL_AGG_RE.match(node.text):
                bounded = True
            if not bounded and node.text.startswith("Generate ") and any(
                _PHYS_SCALED_SCAN_RE.match(d.text) for d in _subtree(node)[1:]
            ):
                return True
            return any(hazardous(c, bounded) for c in node.children)

        if hazardous(build, False):
            out.append(n.text[:140])
    return out


def broadcast_pin_findings(
    opt_plan: str, with_subtrees: bool = False
) -> list[tuple[str, str]] | tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """All broadcast pins in an optimized logical plan →
    [(classification, join-line)]. ``vocab_scale`` entries are defects.
    With ``with_subtrees`` also returns [(classification, full hinted
    subtree text)] — the input the adjudication bound validators check."""
    nodes = parse_tree(opt_plan)
    out = []
    subs = []
    for n in nodes:
        for m in _HINT_RE.finditer(n.text):
            side = m.group(1)
            kids = n.children
            if len(kids) < 2:
                continue
            hinted = kids[0] if side == "left" else kids[1]
            cls = classify_pin(hinted)
            out.append((cls, n.text[:140]))
            if with_subtrees:
                subs.append((cls, "\n".join(d.text for d in _subtree(hinted))))
    return (out, subs) if with_subtrees else out


_NARROW_RE = re.compile(r"^(\*\(\d+\) )?(Project|Filter|ColumnarToRow|InputAdapter)\b")


def single_partition_findings(exec_plan: str) -> list[str]:
    """Exchange SinglePartition nodes not fed by an aggregate (a
    partial→final funnel over support-sized input). Narrow row-wise ops
    (Project/Filter, codegen wrappers) between the exchange and the
    aggregate are skipped — they don't change cardinality class."""
    nodes = parse_tree(exec_plan)
    bad = []
    for n in nodes:
        if "Exchange SinglePartition" not in n.text:
            continue

        def feeds_aggregate(node: Node) -> bool:
            for c in node.children:
                if re.search(r"(Hash|ObjectHash|Sort)Aggregate", c.text):
                    return True
                if _NARROW_RE.match(c.text) and feeds_aggregate(c):
                    return True
            return False

        if not feeds_aggregate(n):
            bad.append(n.children[0].text[:120] if n.children else n.text[:120])
    return bad


def audit_query(df) -> dict:
    qe = df._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()
    ex = qe.executedPlan().toString()
    static = qe.sparkPlan().toString()
    pins, pin_subtrees = broadcast_pin_findings(opt, with_subtrees=True)
    return {
        "vocab_pins": [p for p in pins if p[0] == "vocab_scale"],
        "pins": pins,
        "pin_subtrees": pin_subtrees,
        "cartesian": "CartesianProduct" in ex,
        "bad_single_partition": single_partition_findings(ex),
        "static_bcast": static_broadcast_findings(static),
    }


def flags_for(name: str, res: dict) -> tuple[list[str], list[str]]:
    """Apply the adjudication dicts to an audit_query result.

    Returns (defects, adjudications): a non-empty defects list is a
    plan-hygiene failure; adjudications are the documented bounded
    pins. This is the single policy both the CLI and the pytest gate
    (tests/test_plan_audit.py) apply."""
    bad: list[str] = []
    adj: list[str] = []
    if res["vocab_pins"]:
        if name in ADJUDICATED_VOCAB_PINS:
            adj.append(ADJUDICATED_VOCAB_PINS[name])
        else:
            bad.append(f"vocab-scale broadcast pin: {res['vocab_pins']}")
    scaled = [p for p in res["pins"] if p[0] == "sf_scaled_base"]
    if scaled:
        if name in ADJUDICATED_SCALED_PINS:
            adj.append(ADJUDICATED_SCALED_PINS[name])
        else:
            bad.append(f"SF-scaled base-table broadcast pin: {scaled}")
    keyed = [p for p in res["pins"] if p[0] == "keyed_agg_scaled"]
    if keyed:
        if name in ADJUDICATED_KEYED_AGG_PINS:
            adj.append(ADJUDICATED_KEYED_AGG_PINS[name])
        else:
            bad.append(f"keyed-agg-over-scaled-scan broadcast pin: {keyed}")
    sb = res.get("static_bcast", [])
    if sb:
        if name in ADJUDICATED_STATIC_BROADCASTS:
            adj.append(ADJUDICATED_STATIC_BROADCASTS[name])
        else:
            bad.append(
                f"static-estimate broadcast of an explode-derived "
                f"corpus frame (decon-class, see scale_ladder.py): {sb}"
            )
    if res["cartesian"]:
        bad.append("CartesianProduct in executed plan")
    sp = res["bad_single_partition"]
    if name == "window_ntile" and len(sp) == 1:
        # the declared §2.6 global-NTILE surface: exactly ONE bare
        # single-partition exchange is the contract itself; a SECOND
        # one appearing would be a new defect and still flags
        sp = []
    if sp:
        bad.append(f"SinglePartition not above an aggregate: {sp}")
    return bad, adj


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefixes = sys.argv[2:]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        # mirror the SHIPPED broadcast policy (session.build_session):
        # static estimates never choose broadcast, AQE's runtime
        # threshold does. Audit D then asserts the invariant that no
        # static plan broadcasts an unbounded explode-derived corpus
        # frame — under this policy only explicit F.broadcast() pins
        # can, and each needs an ADJUDICATED_STATIC_BROADCASTS bound.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from ballista_mvp_spark.queries import ALL_QUERIES

    names = [
        n for n in ALL_QUERIES
        if not prefixes or any(n.startswith(p) for p in prefixes)
    ]
    flags = 0
    census: dict[str, int] = {}
    for name in names:
        try:
            res = audit_query(ALL_QUERIES[name](spark, sf_dir))
        except Exception as e:  # compile failure is itself a finding
            print(f"[ERR ] {name}: {type(e).__name__}: {str(e)[:140]}")
            flags += 1
            continue
        for cls, line in res["pins"]:
            census[cls] = census.get(cls, 0) + 1
        bad, adj = flags_for(name, res)
        # an adjudication only holds while its mechanical bound
        # validator passes (the stream_plan_audit S2 discipline)
        if adj:
            bad = bad + bound_violations(name, res, spark, sf_dir)
        for a in adj:
            print(f"[ADJ ] {name}: {a}")
        if bad:
            flags += 1
            for b in bad:
                print(f"[FLAG] {name}: {b}")
    print(f"pin census: {census}")
    print(f"{flags} flagged / {len(names)} queries")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
