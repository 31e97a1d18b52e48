"""Digest-pinned scale ladder for the corpus-scaled text families: grow
the documents table with documents that cannot change the query's
answer, run the registry query unmodified at each rung, and check that
the answer does not move while recording the joins that actually ran.

Usage: python tools/scale_ladder.py <query> [mults...]   (default: 0 1 4 16 64)

<query> is one of text_decontaminate, dedup_minhash, dedup_simhash.
Exit 1 on a digest divergence or a lost planted pair.

Each rung writes a temp documents instance: the real sf0.01 corpus, the
family's planted pairs (if any), and mult x 16k growth documents whose
40 tokens are globally unique ('mq<id>x<j>', ids >= 2e9). Every word
n-gram of a growth document is disjoint from every other document's, so:

- text_decontaminate: growth lands on the train side (source != 'src0')
  and no growth shingle matches an eval shingle, so the per-eval-doc
  counts are invariant. The rung also reports the distinct train
  shingle count, the size the probe-inverted plan must never broadcast
  (SCALE.md "Broadcast policy": the un-inverted shape died building
  that broadcast at ~67M shingles).
- dedup_minhash: a growth document shares no shingle with anything; it
  can enter a band bucket only through a 2^-64 xxhash64 coincidence and
  then fails the exact-Jaccard verify, so the full pair output is
  invariant.
- dedup_simhash: buckets are raw 16-bit signature chunks, so growth
  pairs that pass hamming <= 12 are correct outputs that appear as the
  corpus grows. Pair emission is a predicate of the two signatures
  alone, so the digest covers base-set pairs only (ids < 2e9), and
  1000 planted exact-duplicate pairs (ids 1e9.., hamming 0) must all be
  found at every rung.

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ballista_mvp_spark.operators.dedup import shingles  # noqa: E402
from ballista_mvp_spark.queries import ALL_QUERIES  # noqa: E402
from ballista_mvp_spark.session import build_session  # noqa: E402
from ballista_mvp_spark.tables import load_table  # noqa: E402

SYNTH_PER_MULT = 16_000
TOKENS_PER_DOC = 40
PLANT_BASE = 1_000_000_000  # planted pair k: ids PLANT_BASE+2k, +2k+1
GROWTH_BASE = 2_000_000_000


@dataclass(frozen=True)
class Family:
    planted_pairs: int = 0  # exact-duplicate (a, b) pairs present at every rung
    base_digest: bool = False  # digest only pairs with both ids < GROWTH_BASE
    train_shingles: bool = False  # report text_decontaminate's train-side size


FAMILIES = {
    "text_decontaminate": Family(train_shingles=True),
    "dedup_minhash": Family(),
    "dedup_simhash": Family(planted_pairs=1_000, base_digest=True),
}

_JOIN = re.compile(
    r"(BroadcastHash|SortMerge|ShuffledHash|BroadcastNestedLoop)Join\b.*?"
    r"\b(Inner|Cross|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti)\b"
)


def _synth_text(prefix: str, key):
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(TOKENS_PER_DOC)),
            lambda j: F.concat(F.lit(prefix), key, F.lit("x"), j),
        ),
    )


def build_instance(spark, sf_dir: str, out_dir: str, mult: int, planted_pairs: int) -> int:
    """Write base + planted + growth documents to out_dir; returns the doc count."""
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
    if planted_pairs:
        key = (F.col("id") / 2).cast("long")  # both ids of a pair share the text
        grown = grown.unionByName(
            synth(2 * planted_pairs, PLANT_BASE, "planted", _synth_text("pl", key))
        )
    if mult:
        grown = grown.unionByName(
            synth(mult * SYNTH_PER_MULT, GROWTH_BASE, "synth", _synth_text("mq", F.col("id")))
        )
    grown.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    return grown.count()


def join_kinds(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    kinds = [f"{m[1]}:{m[2]}" for m in _JOIN.finditer(plan.split("== Initial Plan ==")[0])]
    return "+".join(dict.fromkeys(kinds)) or "none"


def result_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def ladder(spark, sf_dir: str, query: str, mults):
    """Run `query` on each rung's instance grown from `sf_dir`; yields one
    record per rung and stops after the first that is not `ok` (digest
    moved from the first rung's, or a planted pair went missing)."""
    fam = FAMILIES[query]
    baseline = None
    for mult in mults:
        tmp = tempfile.mkdtemp(prefix=f"scale_ladder_{query}_{mult}_")
        try:
            n_docs = build_instance(spark, sf_dir, tmp, mult, fam.planted_pairs)
            t0 = time.perf_counter()
            df = ALL_QUERIES[query](spark, tmp)
            rows = df.collect()
            rec = {"mult": mult, "docs": n_docs, "wall_s": round(time.perf_counter() - t0, 1),
                   "joins": join_kinds(df), "rows": len(rows)}
            if fam.base_digest:
                base = [r for r in rows if r["a"] < GROWTH_BASE and r["b"] < GROWTH_BASE]
                rec["growth_pairs"] = len(rows) - len(base)
                rows = base
            if fam.planted_pairs:
                rec["planted"] = sum(
                    1 for r in rows
                    if r["a"] >= PLANT_BASE and (r["a"] - PLANT_BASE) % 2 == 0
                    and r["b"] == r["a"] + 1 and r["hamming"] == 0
                )
            if fam.train_shingles:
                train = load_table(spark, tmp, "documents").filter(F.col("source") != "src0")
                rec["train_shingles"] = (
                    train.select(F.explode(shingles(F.col("text"), 8)).alias("g"))
                    .select(F.xxhash64("g")).distinct().count()
                )
            rec["digest"] = result_digest(rows)
            baseline = baseline or rec["digest"]
            rec["ok"] = rec["digest"] == baseline and rec.get("planted", 0) == fam.planted_pairs
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            spark.catalog.clearCache()
        yield rec
        if not rec["ok"]:
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
        ok = rec["ok"]
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
