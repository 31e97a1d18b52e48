"""Digest-pinned scale ladder: grow a table with rows that cannot change
the answer, run registry queries unmodified at each rung, and check that
no answer moves while recording the joins that actually ran.

Usage: python tools/scale_ladder.py <family> [mults...]   (default: 0 1 4 16 64)

<family> is one of text_decontaminate, dedup_minhash, dedup_simhash,
doc_pairs, tpch_facts, tpch_dim. Exit 1 on a digest divergence or a lost
planted pair.

A family names the table it grows, an answer-preserving growth rule and
the registry queries it runs. Each rung writes ONE temp instance: the
grown tables (base rows plus mult x the growth rows) and a symlink to
every other table of the sf0.01 directory. Every growth key is >= 2e9,
above every base key.

Documents families: 16k growth documents per mult whose 40 tokens are
globally unique ('mq<id>x<j>'). Every word n-gram, token window, line
and 24-character prefix of a growth document is disjoint from every
other document's, so:

- text_decontaminate: growth lands on the train side (source != 'src0')
  and no growth shingle matches an eval shingle, so the per-eval-doc
  counts are invariant. The rung also reports the distinct train
  shingle count, the size the probe-inverted plan must never broadcast
  (SCALE.md "Broadcast policy").
- dedup_minhash: a growth document shares no shingle with anything; it
  can enter a band bucket only through a 2^-64 xxhash64 coincidence and
  then fails the exact-Jaccard verify, so the full pair output is
  invariant.
- dedup_simhash: buckets are raw 16-bit signature chunks, so growth
  pairs that pass hamming <= 12 are correct outputs that appear as the
  corpus grows. Pair emission is a predicate of the two signatures
  alone, so the digest covers base-set pairs only (a, b < 2e9), and
  1000 planted exact-duplicate pairs (ids 1e9.., hamming 0) must all be
  found at every rung.
- doc_pairs: the exact pair operators (dedup_ngram_jaccard,
  dedup_substring, dedup_fuzzy) find no pair with a growth document, so
  their full outputs are invariant. dedup_exact and text_line_dedup
  emit one row per document, so their digest covers base documents
  only (doc_id < 2e9).

TPC-H families: one key-shifted copy of the grown tables per mult.

- tpch_facts grows orders and lineitem. A growth order has o_orderkey
  and o_custkey >= 2e9, so it matches no customer, and its lineitems
  have a NULL l_shipdate, so no shipdate predicate passes them: the
  answers of q1 (shipdate filter), q3, q5, q10 and q18 (customer joins)
  are invariant while the fact scans and shuffles grow.
- tpch_dim grows customer with c_custkey >= 2e9, matching no order, so
  q3 is invariant; its customer join shows when AQE stops broadcasting
  the dimension (BroadcastHash -> SortMerge).

Join kinds come from the final adaptive plan only (the text before
'== Initial Plan =='), as impl:type, in plan order. Results are
recorded in SCALE.md "Measured scaling".
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ballista_mvp_spark.operators.dedup import shingles  # noqa: E402
from ballista_mvp_spark.queries import ALL_QUERIES  # noqa: E402
from ballista_mvp_spark.session import build_session  # noqa: E402
from ballista_mvp_spark.tables import load_table  # noqa: E402

SYNTH_PER_MULT = 16_000
TOKENS_PER_DOC = 40
PLANT_BASE = 1_000_000_000  # planted pair k: ids PLANT_BASE+2k, +2k+1
GROWTH_BASE = 2_000_000_000
KEY_SPAN = 1_000_000_000  # key range of one TPC-H growth copy


@dataclass(frozen=True)
class Family:
    table: str  # the grown table whose row count a rung reports
    grow: Callable[..., dict[str, DataFrame]]  # (spark, sf_dir, mult, fam) -> grown tables
    queries: tuple[str, ...]  # registry queries, run unmodified at every rung
    per_mult: int | None = None  # growth rows of `table` per mult; None: one base copy
    base_ids: tuple[str, ...] = ()  # digest only rows whose listed ids are < GROWTH_BASE
    planted_pairs: int = 0  # exact-duplicate (a, b) pairs present at every rung
    train_shingles: bool = False  # report text_decontaminate's train-side size


def _synth_text(prefix: str, key):
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(TOKENS_PER_DOC)),
            lambda j: F.concat(F.lit(prefix), key, F.lit("x"), j),
        ),
    )


def grow_documents(spark, sf_dir: str, mult: int, fam: Family) -> dict[str, DataFrame]:
    """Base documents + the family's planted pairs + mult x `per_mult` growth documents."""
    docs = load_table(spark, sf_dir, "documents")
    types = dict(docs.dtypes)

    def synth(n: int, id_base: int, source: str, text):
        return spark.range(n).select(
            *[F.lit(None).cast(t).alias(c) for c, t in types.items()
              if c not in ("doc_id", "source", "text")],
            (F.col("id") + id_base).cast(types["doc_id"]).alias("doc_id"),
            F.lit(source).alias("source"),
            text.alias("text"),
        ).select(docs.columns)

    grown = docs
    if fam.planted_pairs:
        key = (F.col("id") / 2).cast("long")  # both ids of a pair share the text
        grown = grown.unionByName(
            synth(2 * fam.planted_pairs, PLANT_BASE, "planted", _synth_text("pl", key))
        )
    if mult:
        grown = grown.unionByName(
            synth(mult * fam.per_mult, GROWTH_BASE, "synth", _synth_text("mq", F.col("id")))
        )
    return {"documents": grown}


def _with_copies(df: DataFrame, mult: int, key: str, **replace) -> DataFrame:
    """`df` plus `mult` copies of it, copy c with `key` moved to
    GROWTH_BASE + c * KEY_SPAN + key and the `replace` columns set."""
    copy = df.sparkSession.range(mult).select(F.col("id").alias("_copy"))
    shifted = df.crossJoin(F.broadcast(copy)).withColumns(
        {key: F.col(key) + GROWTH_BASE + F.col("_copy") * KEY_SPAN, **replace}
    )
    return df.unionByName(shifted.drop("_copy"))


def grow_facts(spark, sf_dir: str, mult: int, fam: Family) -> dict[str, DataFrame]:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return {
        "orders": _with_copies(
            orders, mult, "o_orderkey", o_custkey=F.col("o_custkey") + GROWTH_BASE
        ),
        "lineitem": _with_copies(
            li, mult, "l_orderkey",
            l_shipdate=F.lit(None).cast(dict(li.dtypes)["l_shipdate"]),
        ),
    }


def grow_customers(spark, sf_dir: str, mult: int, fam: Family) -> dict[str, DataFrame]:
    return {"customer": _with_copies(load_table(spark, sf_dir, "customer"), mult, "c_custkey")}


FAMILIES = {
    "text_decontaminate": Family(
        "documents", grow_documents, ("text_decontaminate",),
        per_mult=SYNTH_PER_MULT, train_shingles=True,
    ),
    "dedup_minhash": Family(
        "documents", grow_documents, ("dedup_minhash",), per_mult=SYNTH_PER_MULT
    ),
    "dedup_simhash": Family(
        "documents", grow_documents, ("dedup_simhash",),
        per_mult=SYNTH_PER_MULT, base_ids=("a", "b"), planted_pairs=1_000,
    ),
    "doc_pairs": Family(
        "documents", grow_documents,
        ("dedup_ngram_jaccard", "dedup_substring", "dedup_fuzzy", "dedup_exact",
         "text_line_dedup"),
        per_mult=SYNTH_PER_MULT, base_ids=("doc_id",),
    ),
    "tpch_facts": Family(
        "orders", grow_facts, ("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q10", "tpch_q18")
    ),
    "tpch_dim": Family("customer", grow_customers, ("tpch_q3",)),
}

_JOIN = re.compile(
    r"(BroadcastHash|SortMerge|ShuffledHash|BroadcastNestedLoop)Join\b.*?"
    r"\b(Inner|Cross|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti)\b"
)


def build_instance(spark, sf_dir: str, out_dir: str, fam: Family, mult: int) -> int:
    """Write the family's grown tables to out_dir and symlink every other
    table of sf_dir; returns the row count of `fam.table`."""
    grown = fam.grow(spark, sf_dir, mult, fam)
    for name in os.listdir(sf_dir):
        table = name.removesuffix(".parquet")
        if table in grown:
            grown[table].write.mode("overwrite").parquet(os.path.join(out_dir, name))
        else:
            os.symlink(os.path.join(sf_dir, name), os.path.join(out_dir, name))
    return load_table(spark, out_dir, fam.table).count()


def join_kinds(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    kinds = [f"{m[1]}:{m[2]}" for m in _JOIN.finditer(plan.split("== Initial Plan ==")[0])]
    return "+".join(dict.fromkeys(kinds)) or "none"


def result_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def run_query(spark, data_dir: str, fam: Family, query: str) -> dict:
    t0 = time.perf_counter()
    df = ALL_QUERIES[query](spark, data_dir)
    rows = df.collect()
    rec = {"query": query, "wall_s": round(time.perf_counter() - t0, 1),
           "joins": join_kinds(df), "rows": len(rows)}
    ids = [c for c in fam.base_ids if c in df.columns]
    if ids:
        base = [r for r in rows if all(r[c] < GROWTH_BASE for c in ids)]
        rec["growth_rows"] = len(rows) - len(base)
        rows = base
    if fam.planted_pairs:
        rec["planted"] = sum(
            1 for r in rows
            if r["a"] >= PLANT_BASE and (r["a"] - PLANT_BASE) % 2 == 0
            and r["b"] == r["a"] + 1 and r["hamming"] == 0
        )
    rec["digest"] = result_digest(rows)
    return rec


def ladder(spark, sf_dir: str, family: str, mults):
    """Run the family's queries on each rung's instance grown from
    `sf_dir`; yields one record per (rung, query) and stops after the
    first rung with a record that is not `ok` (digest moved from the
    first rung's, or a planted pair went missing)."""
    fam = FAMILIES[family]
    baseline: dict[str, str] = {}
    for mult in mults:
        tmp = tempfile.mkdtemp(prefix=f"scale_ladder_{family}_{mult}_")
        try:
            rung = {"mult": mult, fam.table: build_instance(spark, sf_dir, tmp, fam, mult)}
            if fam.train_shingles:
                train = load_table(spark, tmp, "documents").filter(F.col("source") != "src0")
                rung["train_shingles"] = (
                    train.select(F.explode(shingles(F.col("text"), 8)).alias("g"))
                    .select(F.xxhash64("g")).distinct().count()
                )
            records = [{**rung, **run_query(spark, tmp, fam, q)} for q in fam.queries]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            spark.catalog.clearCache()
        for rec in records:
            first = baseline.setdefault(rec["query"], rec["digest"])
            rec["ok"] = rec["digest"] == first and rec.get("planted", 0) == fam.planted_pairs
            yield rec
        if not all(rec["ok"] for rec in records):
            return


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in FAMILIES:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    mults = [int(a) for a in sys.argv[2:]] or [0, 1, 4, 16, 64]
    spark = build_session("scale-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    ok = True
    for rec in ladder(spark, "/root/testdata/sf0.01", sys.argv[1], mults):
        print(" ".join(f"{k}={v}" for k, v in rec.items()), flush=True)
        ok = ok and rec["ok"]
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
