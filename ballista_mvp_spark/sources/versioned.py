"""Manifest-based versioned parquet tables: snapshot isolation, time
travel, and vacuum (free extension — the reference has no write path at
all; this is the lakehouse transaction-log pattern of Delta Lake /
Iceberg, reduced to its core).

Why a training-data engine needs it: a 100 TB corpus is rewritten
continuously (ingest, dedup, re-filtering), but a training run must pin
THE exact bytes it read — "model X trained on corpus v17" has to stay
reproducible after v18 lands. Versioned tables give that with zero data
copying: every commit is a new immutable manifest over immutable data
files.

Layout under the table root:

    data/commit-{version}-{token}/part-*.parquet   immutable data files
    _manifests/v{version:08d}.json                 one manifest per commit

A manifest lists every data file LIVE at that version (relative paths),
per-file footer stats (``stats``), and the Spark schema of each data
directory whose live files all carry the same one (``schemas``:
``{"data/commit-3-<token>": "<schema json>"}``, read from the footers
at commit time — one entry per write, not per file).
The commit protocol is write-data-then-link-manifest:

1. data files are written to a fresh commit directory (no reader ever
   lists `data/` — readers only open paths a manifest names);
2. the manifest is written to a temp name and hard-linked into place —
   the atomic commit point (create-exclusive: the link FAILS if the
   version exists, unlike rename, which would silently replace a racing
   winner). A crash before the link leaves orphan data files
   (invisible; reclaimed by vacuum) and the previous version intact. A
   concurrent writer racing to the same version loses the link and
   raises — single-winner optimistic concurrency, the Delta protocol's
   behavior (on object stores, swap the link for a conditional PUT).

Scale shape: all bookkeeping is O(files) metadata — the manifest for a
100 TB / 1 GB-file table is ~100k paths (a few MB of JSON; swap for a
parquet manifest at larger file counts, same protocol). Reads hand Spark
the explicit file list AND the recorded schema, so planning never pays a
recursive directory listing over dead files and never opens a footer
(no schema-inference job); time travel and vacuum never touch data
bytes.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
# footer key-value entry holding the writer's Spark schema (JSON) — the
# string Spark's own parquet schema inference reads
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:08d}.json")


def _versions(path: str) -> list[int]:
    d = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


_LEDGER = "_batch_ledger.json"


def _ledger_add(path: str, batch_ids: list) -> None:
    """Preserve committed batch ids whose manifests vacuum is dropping:
    the exactly-once replay guard must keep seeing them, or a
    checkpoint-lagged restart after vacuum re-commits the batch. The
    ledger only ever grows (ids are tiny); os.replace keeps the update
    atomic for readers.

    Writers are SERIALIZED: read-union-replace is a lost-update race
    (two concurrent vacuums each drop different manifests; the replace
    loser's ids vanish, re-opening the replay window the ledger exists
    to close). Updates hold an advisory flock(LOCK_EX) on a persistent
    sidecar — the kernel releases it when the holder dies, so there is
    no stale-lock state and no break-the-lock race (an O_EXCL + mtime
    scheme has both: two waiters can each unlink the other's fresh lock,
    and a timed-out writer going lockless can lose a concurrent writer's
    ids FOREVER — its verify read only covers its own). The read happens
    INSIDE the lock, so the union always starts from the latest state."""
    import fcntl

    ledger = os.path.join(path, _MANIFEST_DIR, _LEDGER)
    lock = ledger + ".lock"
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        ids = set()
        if os.path.exists(ledger):
            with open(ledger) as fh:
                ids.update(json.load(fh))
        ids.update(batch_ids)
        tmp = ledger + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(sorted(ids), fh)
        os.replace(tmp, ledger)  # atomic for lockless readers
    finally:
        os.close(fd)  # releases the flock


def committed_batch_ids(path: str) -> set:
    """Every batch id this table has ever committed: live manifests plus
    the ledger of ids whose manifests were vacuumed. THE replay guard —
    scanning manifests alone re-opens the replay window as soon as
    vacuum drops the manifest that recorded the id."""
    ids = set()
    ledger = os.path.join(path, _MANIFEST_DIR, _LEDGER)
    if os.path.exists(ledger):
        with open(ledger) as fh:
            ids.update(json.load(fh))
    for v in _versions(path):
        b = _read_manifest(path, v).get("batch_id")
        if b is not None:
            ids.add(b)
    return ids


def _data_files(commit_dir: str) -> list[str]:
    return sorted(
        f
        for f in os.listdir(commit_dir)
        if os.path.isfile(os.path.join(commit_dir, f))
        and not f.startswith(("_", "."))
    )


def _file_stats(
    commit_dir: str, files: list[str], cols: list[str]
) -> tuple[dict, str | None]:
    """Per-file min/max for ``cols`` straight from the parquet footers —
    written ONCE at commit time so reads can skip files from the
    manifest alone (Delta data-skipping stats) — and the Spark schema
    the footers record, or None unless every file records the same one.
    O(files) footer reads, zero data pages."""
    import pyarrow.parquet as pq

    out = {}
    schemas = set()
    for f in files:
        md = pq.ParquetFile(os.path.join(commit_dir, f)).metadata
        schemas.add((md.metadata or {}).get(_SPARK_SCHEMA_KEY))
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st = {"#rows": md.num_rows}
        for c in cols:
            if c not in idx:
                continue
            los, his = [], []
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[c]).statistics
                if s is None or not s.has_min_max:
                    los = []
                    break
                los.append(s.min)
                his.append(s.max)
            if los:
                st[c] = [min(los), max(his)]
        out[f] = st
    schema = schemas.pop() if len(schemas) == 1 else None
    return out, schema.decode() if schema else None


def _manifest(
    version: int,
    op: str,
    live: list[str],
    n_added: int,
    stats: dict,
    schemas: dict,
    batch_id: int | None = None,
    **extra,
) -> dict:
    """One commit's manifest record, shared by every commit kind; empty
    ``stats`` / ``schemas`` and a missing ``batch_id`` are left out."""
    m = {
        "version": version,
        "op": op,
        "files": live,
        "n_files": len(live),
        "n_added": n_added,
        **extra,
    }
    if stats:
        m["stats"] = stats
    if schemas:
        m["schemas"] = schemas
    if batch_id is not None:
        m["batch_id"] = batch_id
    return m


def write_versioned(
    df: DataFrame,
    path: str,
    mode: str = "append",
    batch_id: int | None = None,
    stats_cols: list[str] | None = None,
    expected_head: int | None = None,
) -> int:
    """Commit ``df`` as a new version of the table at ``path``.

    mode='append' adds the new files to the previous version's live set;
    mode='overwrite' makes the new files the entire live set (the old
    version stays readable via time travel until vacuumed).
    ``stats_cols`` records per-file min/max for those columns in the
    manifest (footer reads at commit time), enabling manifest-only file
    skipping in ``read_versioned(..., prune=...)``. Returns the
    committed version number (first commit = 1).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    prev = _versions(path)
    if expected_head is not None and (prev[-1] if prev else 0) != expected_head:
        # the caller's plan (e.g. a compaction that READ expected_head)
        # is stale — fail like a lost manifest-link race so
        # mutate_with_retry re-plans instead of silently dropping the
        # interloper's rows
        raise RuntimeError(
            f"concurrent commit: head moved to {prev[-1] if prev else 0}, "
            f"planned against {expected_head}"
        )
    version = (prev[-1] + 1) if prev else 1
    token = uuid.uuid4().hex[:12]
    commit_rel = os.path.join(_DATA_DIR, f"commit-{version}-{token}")
    commit_dir = os.path.join(path, commit_rel)
    df.write.mode("errorifexists").parquet(commit_dir)
    added = _data_files(commit_dir)
    new_files = [os.path.join(commit_rel, f) for f in added]
    live = list(new_files)
    stats, schemas = {}, {}
    if mode == "append" and prev:
        pm = _read_manifest(path, prev[-1])
        live = pm["files"] + new_files
        stats = dict(pm.get("stats", {}))
        schemas = dict(pm.get("schemas", {}))
    fs, schema = _file_stats(commit_dir, added, stats_cols or [])
    stats.update({os.path.join(commit_rel, f): st for f, st in fs.items()})
    if schema is not None:
        schemas[commit_rel] = schema
    manifest = _manifest(
        version, mode, live, len(new_files), stats, schemas, batch_id
    )
    _link_manifest(path, version, manifest, token)
    return version


def _link_manifest(path: str, version: int, manifest: dict, token: str) -> None:
    """The atomic commit point, shared by every commit kind: write the
    manifest under a temp name, hard-link it into place. The link FAILS
    iff the version already exists (rename would silently REPLACE a
    racing winner's manifest — create-exclusive link semantics close
    that TOCTOU window); the loser's data files are orphans reclaimed by
    the next vacuum."""
    tmp = os.path.join(path, _MANIFEST_DIR, f".tmp-{token}-v{version}.json")
    with open(tmp, "w") as fh:
        # default=str: date/timestamp footer stats land as ISO strings
        # (ISO order == value order, so string prune bounds stay correct)
        json.dump(manifest, fh, default=str)
    final = _manifest_path(path, version)
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(
            f"concurrent commit: version {version} already exists"
        ) from None
    os.remove(tmp)


def foreach_batch_sink(path: str):
    """Exactly-once streaming sink: ``writeStream.foreachBatch(
    foreach_batch_sink(table_path))``. Each micro-batch commits one
    version stamped with its batch id; on checkpoint-restart replay the
    already-committed batch id is found in the manifest log and the
    write is SKIPPED — replayed micro-batch + idempotent commit =
    exactly-once table contents (the Delta streaming-sink protocol;
    Structured Streaming alone guarantees at-least-once into
    foreachBatch). O(versions) manifest scan per batch — at production
    version counts, read only the tail checkpointed alongside."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_batch_ids(path):
            return  # replay of a committed batch: drop it
        write_versioned(batch_df, path, mode="append", batch_id=batch_id)

    return _sink


def commit_files(
    path: str,
    added_files: list[str],
    mode: str = "append",
    batch_id: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Commit data files ALREADY WRITTEN under the table root by an
    external writer (the Python DataSource write path, whose executors
    write parquet directly). ``added_files`` are table-root-relative;
    ONLY files named here enter the live set — stray outputs of failed
    or speculative tasks stay invisible orphans until vacuum, exactly
    the write-data-then-link contract of ``write_versioned``. Same
    atomic create-exclusive manifest link; same stats/row-count/schema
    recording (footer reads on the added files only). A directory that
    already holds live files gets no recorded schema: its earlier files
    were not read here."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    missing = [f for f in added_files if not os.path.exists(os.path.join(path, f))]
    if missing:
        raise FileNotFoundError(f"commit names absent file(s): {missing[:3]}")
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    prev = _versions(path)
    version = (prev[-1] + 1) if prev else 1
    new_files = sorted(added_files)
    carried: list[str] = []
    stats, schemas = {}, {}
    if mode == "append" and prev:
        pm = _read_manifest(path, prev[-1])
        carried = pm["files"]
        stats = dict(pm.get("stats", {}))
        schemas = dict(pm.get("schemas", {}))
    by_dir: dict[str, list[str]] = {}
    for f in new_files:
        by_dir.setdefault(os.path.dirname(f), []).append(f)
    for d, fs_in_dir in by_dir.items():
        fs, schema = _file_stats(
            os.path.join(path, d),
            [os.path.basename(f) for f in fs_in_dir],
            stats_cols or [],
        )
        for f in fs_in_dir:
            stats[f] = fs[os.path.basename(f)]
        if schema is None or any(os.path.dirname(f) == d for f in carried):
            schemas.pop(d, None)
        else:
            schemas[d] = schema
    live = carried + new_files
    manifest = _manifest(
        version, mode, live, len(new_files), stats, schemas, batch_id
    )
    _link_manifest(path, version, manifest, uuid.uuid4().hex[:12])
    return version


def cdc_merge_sink(
    path: str,
    key: str,
    seq_col: str | None = None,
    stats_cols: list[str] | None = None,
):
    """Exactly-once streaming UPSERT sink — the CDC-apply pattern:
    ``writeStream.foreachBatch(cdc_merge_sink(table, key))`` turns a
    change stream into MERGE commits, so the table converges to the
    latest row per key instead of accumulating appends.

    Per micro-batch: (1) replayed batch ids found in the manifest log
    are dropped (idempotent, same as ``foreach_batch_sink``); (2) when
    ``seq_col`` is given, only the latest change per key survives
    (max-seq row, key order as tiebreaker is unnecessary since one
    key's changes carry distinct sequence numbers — enforce that
    upstream); (3) the deduplicated batch merges via
    ``merge_versioned`` — file-pruned, so a small CDC batch into a
    large key-clustered table rewrites only the overlapping files. The
    first batch on an empty table is a plain append commit.

    Without ``seq_col`` the batch must already be unique per key
    (``merge_versioned`` raises otherwise — never guess which change
    wins)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_batch_ids(path):
            return  # replay of a committed batch: drop it
        batch = batch_df
        if seq_col is not None:
            w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
            batch = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", seq_col)
            )
        if not _versions(path):
            # The first batch seeds the table through write_versioned,
            # bypassing merge_versioned — enforce the same per-key
            # invariant here (NULL-free, unique keys), or batch 2's
            # merge guarantees would rest on an unchecked foundation.
            chk = batch.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(key).alias("nd"),
                F.count(F.when(F.col(key).isNull(), 1)).alias("nnull"),
            ).first()
            if chk["nnull"]:
                raise ValueError(
                    f"cdc first batch has {chk['nnull']} NULL {key} keys"
                )
            if chk["n"] != chk["nd"]:
                raise ValueError(
                    f"cdc first batch keys not unique on {key}: "
                    f"{chk['n']} rows, {chk['nd']} distinct"
                )
            write_versioned(
                batch, path, mode="append", batch_id=batch_id,
                stats_cols=stats_cols,
            )
            return
        merge_versioned(
            batch_df.sparkSession, path, batch, key=key,
            stats_cols=stats_cols, batch_id=batch_id,
        )

    return _sink


def mutate_with_retry(fn, retries: int = 3):
    """Optimistic-concurrency loop for DELETE/MERGE/append commits:
    ``fn()`` must run the FULL two-phase plan against the current head
    (e.g. ``lambda: merge_versioned(spark, t, src, key="id")``). If it
    loses the manifest-link race it raises ``concurrent commit``;
    re-running from the new head is the correct — and only correct —
    rebase, because the winner may have rewritten or retired the very
    files the loser planned to carry by reference. (Delta's
    commit-retry does the same logical re-check; with one manifest per
    commit the re-check IS the re-plan.) Returns fn()'s result; raises
    after ``retries`` consecutive lost races."""
    for attempt in range(retries + 1):
        try:
            return fn()
        except RuntimeError as e:
            if "concurrent commit" not in str(e) or attempt == retries:
                raise


def _scan(
    spark: SparkSession,
    path: str,
    m: dict,
    rel_files: list[str],
    merge_schema: bool = False,
) -> DataFrame:
    """The module's one parquet reader: ``rel_files`` (live files of
    manifest ``m``) read with the schema ``m`` recorded for their
    directories, so planning opens no footer and runs no Spark job.
    When a directory has no recorded schema (a manifest written before
    schemas were recorded, an external writer's files) or the recorded
    schemas differ (a schema-evolved live set), Spark infers the schema
    from the footers as usual, unioned when ``merge_schema``."""
    schemas = m.get("schemas", {})
    recorded = {schemas.get(os.path.dirname(f)) for f in rel_files}
    if len(recorded) == 1 and None not in recorded:
        reader = spark.read.schema(StructType.fromJson(json.loads(recorded.pop())))
    elif merge_schema:
        reader = spark.read.option("mergeSchema", "true")
    else:
        reader = spark.read
    return reader.parquet(*[os.path.join(path, f) for f in rel_files])


def read_versioned(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: tuple | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the table as of ``version`` (default: latest). The explicit
    file list from the manifest is handed to the reader — orphan /
    not-yet-committed / dead files are invisible by construction.
    ``merge_schema=True`` unions the per-file schemas (additive schema
    evolution: columns appended in later commits come back NULL for
    older files — footer-only planning cost, same as Spark's
    mergeSchema).

    ``prune=(col, lo, hi)`` drops every file whose manifest-recorded
    [min, max] for ``col`` misses the closed interval [lo, hi] BEFORE
    Spark ever opens it — at 100 TB a date/key predicate over a
    clustered write reads only the affected files, and the decision
    costs one manifest, not 100k footers. Files without recorded stats
    are conservatively kept, so pruning never changes results; the
    caller still applies the real filter (pruning is a file-set
    reduction, exactly like parquet row-group skipping one level up)."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs} at {path}")
    m = _read_manifest(path, v)
    rel_files = m["files"]
    if prune is not None:
        col, lo, hi = prune
        stats = m.get("stats", {})
        rel_files = [
            f
            for f in rel_files
            if (st := stats.get(f, {}).get(col)) is None
            or _overlaps(st, lo, hi)
        ]
    if not m["files"]:
        # a legitimately EMPTY version (truncating overwrite, empty
        # first stream batch): 0 rows with the schema of the nearest
        # earlier version that has files — an empty table is data, not
        # an error
        for pv in reversed([x for x in vs if x <= v]):
            pm = _read_manifest(path, pv)
            if pm["files"]:
                # ALL files of the schema-carrying version, not just the
                # first: on a schema-evolved table mergeSchema must see
                # the union of the evolved column set — limit(0) keeps
                # this a metadata-only read
                return _scan(spark, path, pm, pm["files"], merge_schema).limit(0)
        raise FileNotFoundError(
            f"version {v} at {path} is empty and no earlier version "
            "carries a schema"
        )
    if not rel_files:
        # every file pruned: empty result with the table's FULL schema
        # (all files — a single file may predate a schema evolution)
        return _scan(spark, path, m, m["files"], merge_schema).limit(0)
    return _scan(spark, path, m, rel_files, merge_schema)


def history(path: str) -> list[dict]:
    """Commit log, oldest first: version, op, file counts."""
    return [
        {k: m[k] for k in ("version", "op", "n_files", "n_added")}
        for m in (_read_manifest(path, v) for v in _versions(path))
    ]


def compact_versioned(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    stats_cols: list[str] | None = None,
) -> int:
    """Small-file compaction as a COMMIT: rewrite the latest version's
    live set into ~``target_file_mb`` files and commit the result as a
    new overwrite version — readers pinned to any older version are
    untouched (compaction never breaks time travel; that is the whole
    point of doing it through the log), the swap is the usual atomic
    manifest link, and the superseded small files become reclaimable by
    the next vacuum. Narrow coalesce — no shuffle. Reads with
    merge_schema=True so a schema-evolved live set (mixed per-file
    schemas) compacts to the UNION schema instead of silently dropping
    later-added columns (schema inferred from one arbitrary file).
    Returns the new version number."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    m = _read_manifest(path, vs[-1])
    total_mb = sum(
        os.path.getsize(os.path.join(path, f)) for f in m["files"]
    ) / 1e6
    n_out = max(1, round(total_mb / target_file_mb))
    df = read_versioned(spark, path, version=vs[-1], merge_schema=True).coalesce(n_out)
    return write_versioned(
        df, path, mode="overwrite", stats_cols=stats_cols,
        expected_head=vs[-1],
    )


def _head(path: str) -> tuple[int, dict]:
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    return vs[-1], _read_manifest(path, vs[-1])


def _overlaps(st: list, lo, hi) -> bool:
    """Closed-interval overlap against manifest stats. JSON stores
    date/timestamp bounds as ISO strings (value order == string order),
    so a typed probe is stringified to compare in the same domain."""
    a, b = st
    if isinstance(a, str) and not isinstance(lo, str):
        lo, hi = str(lo), str(hi)
    return a <= hi and lo <= b


def _touched_files(path: str, rel_files: list[str], marker_df) -> list[str]:
    """Map ``input_file_name()`` URIs from a phase-1 scan back to
    manifest-relative paths. The collect is O(touched files) of path
    strings — bounded by the manifest size, never by row count."""
    from urllib.parse import unquote, urlparse

    by_abs = {os.path.abspath(os.path.join(path, f)): f for f in rel_files}
    out = []
    for (uri,) in marker_df.distinct().collect():
        p = unquote(urlparse(uri).path) if "://" in uri or uri.startswith("file:") else uri
        p = os.path.abspath(p)
        if p not in by_abs:
            raise RuntimeError(f"scanned file {uri!r} is not in the manifest")
        out.append(by_abs[p])
    return sorted(out)


def _commit_rewrite(
    path: str,
    out_df: DataFrame,
    untouched: list[str],
    op: str,
    head_m: dict,
    stats_cols: list[str] | None,
    n_rewritten: int,
    batch_id: int | None = None,
    head_v: int | None = None,
) -> int:
    """Commit a row-level mutation: write ``out_df`` (the rewritten
    content of the touched files) as new data files, carry every
    untouched file over BY REFERENCE (with the stats and directory
    schema ``head_m`` recorded for it), and link the manifest
    atomically.

    ``head_v`` is the version the caller PLANNED against; the commit is
    pinned to ``head_v + 1`` so a commit that landed while the rewrite
    job ran makes the manifest link fail with ``concurrent commit``
    (mutate_with_retry then re-plans from the new head). Computing the
    version from a fresh listing here instead would silently CLOBBER
    the interloper: this untouched list predates its files, so linking
    over it would drop committed rows — the classic lost update."""
    if head_v is None:
        head_v = _versions(path)[-1]
    version = head_v + 1
    token = uuid.uuid4().hex[:12]
    commit_rel = os.path.join(_DATA_DIR, f"commit-{version}-{token}")
    commit_dir = os.path.join(path, commit_rel)
    out_df.write.mode("errorifexists").parquet(commit_dir)
    added = _data_files(commit_dir)
    new_files = [os.path.join(commit_rel, f) for f in added]
    live = untouched + new_files
    prev_stats = head_m.get("stats", {})
    stats = {f: prev_stats[f] for f in untouched if f in prev_stats}
    fs, schema = _file_stats(commit_dir, added, stats_cols or [])
    stats.update({os.path.join(commit_rel, f): st for f, st in fs.items()})
    kept_dirs = {os.path.dirname(f) for f in untouched}
    schemas = {
        d: sch for d, sch in head_m.get("schemas", {}).items() if d in kept_dirs
    }
    if schema is not None:
        schemas[commit_rel] = schema
    manifest = _manifest(
        version, op, live, len(new_files), stats, schemas, batch_id,
        n_rewritten=n_rewritten,
    )
    _link_manifest(path, version, manifest, token)
    return version


def delete_versioned(
    spark: SparkSession,
    path: str,
    predicate: str,
    stats_cols: list[str] | None = None,
    prune: tuple | None = None,
) -> int:
    """Row-level DELETE as a commit — the Delta Lake two-phase MERGE
    shape (Armbrust et al., "Delta Lake: High-Performance ACID Table
    Storage over Cloud Object Stores", VLDB 2020). ``predicate`` is a
    SQL boolean expression; rows where it is TRUE are deleted, rows
    where it is FALSE **or NULL** survive (standard DELETE WHERE
    three-valued logic).

    Phase 1 finds the files that actually CONTAIN a matching row (an
    ``input_file_name()`` scan, optionally pre-shrunk by manifest stats
    via ``prune=(col, lo, hi)``); phase 2 rewrites ONLY those files
    minus the matching rows. Every untouched file carries over by
    reference — deleting one bad document from a 100 TB / 100k-file
    table rewrites one file, not the table, and time travel to every
    prior version is preserved. Returns the new version, or the current
    head unchanged if nothing matches (no empty commits)."""
    from pyspark.sql import functions as F

    head_v, m = _head(path)
    files = m["files"]
    stats = m.get("stats", {})
    cand = files
    if prune is not None:
        col, lo, hi = prune
        cand = [
            f
            for f in files
            if (st := stats.get(f, {}).get(col)) is None or _overlaps(st, lo, hi)
        ]
    if not cand:
        return head_v
    pred = F.expr(predicate)
    # mergeSchema on both phases: on a schema-evolved live set the
    # predicate may name a later-added column (NULL for older files),
    # and the rewrite must keep the UNION schema — a single-file-
    # inferred schema would silently drop evolved columns from the
    # rewritten files (permanent loss at the new head).
    scan = _scan(spark, path, m, cand, merge_schema=True)
    marker = scan.filter(pred).select(F.input_file_name().alias("_f"))
    touched = _touched_files(path, cand, marker)
    if not touched:
        return head_v
    survivors = _scan(spark, path, m, touched, merge_schema=True).filter(
        ~F.coalesce(pred, F.lit(False))
    )
    untouched = [f for f in files if f not in set(touched)]
    return _commit_rewrite(
        path, survivors, untouched, "delete", m, stats_cols, len(touched),
        head_v=head_v,
    )


def table_rows(path: str, version: int | None = None) -> int | None:
    """Metadata-only ``COUNT(*)``: every commit records each data file's
    footer row count in the manifest (``#rows``), so the table's
    cardinality at ANY version is one manifest read — on a 100 TB /
    100k-file table that's O(files) JSON instead of a cluster-wide scan
    (the same trick Delta/Iceberg pull from their file statistics).
    Returns None when any live file predates row-count recording (never
    guess — the caller falls back to a real count)."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs} at {path}")
    m = _read_manifest(path, v)
    stats = m.get("stats", {})
    total = 0
    for f in m["files"]:
        r = stats.get(f, {}).get("#rows")
        if r is None:
            return None
        total += r
    return total


def update_versioned(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str,
    stats_cols: list[str] | None = None,
    prune: tuple | None = None,
) -> int:
    """Row-level UPDATE as a commit — completes the DML triad with
    ``delete_versioned`` / ``merge_versioned`` (same Delta two-phase
    shape). ``set_exprs`` maps column → SQL expression evaluated against
    the OLD row (all assignments simultaneous, standard UPDATE
    semantics); rows where ``predicate`` is FALSE or NULL pass through
    untouched. Only files that CONTAIN a matching row are rewritten;
    assignments are cast back to each column's existing type so the
    table's parquet type consistency can't drift. Returns the new
    version, or the head unchanged if nothing matches."""
    from pyspark.sql import functions as F

    head_v, m = _head(path)
    files = m["files"]
    stats = m.get("stats", {})
    cand = files
    if prune is not None:
        col, lo, hi = prune
        cand = [
            f
            for f in files
            if (st := stats.get(f, {}).get(col)) is None or _overlaps(st, lo, hi)
        ]
    if not cand:
        return head_v
    pred = F.expr(predicate)
    # mergeSchema on both phases — same rationale as delete_versioned:
    # never let a single-file-inferred schema drop evolved columns.
    scan = _scan(spark, path, m, cand, merge_schema=True)
    unknown = set(set_exprs) - set(scan.columns)
    if unknown:
        raise ValueError(f"UPDATE SET names unknown columns: {sorted(unknown)}")
    marker = scan.filter(pred).select(F.input_file_name().alias("_f"))
    touched = _touched_files(path, cand, marker)
    if not touched:
        return head_v
    df = _scan(spark, path, m, touched, merge_schema=True)
    cond = F.coalesce(pred, F.lit(False))
    cols = [
        F.when(cond, F.expr(set_exprs[fld.name]).cast(fld.dataType))
        .otherwise(F.col(fld.name))
        .alias(fld.name)
        if fld.name in set_exprs
        else F.col(fld.name)
        for fld in df.schema.fields
    ]
    untouched = [f for f in files if f not in set(touched)]
    return _commit_rewrite(
        path, df.select(cols), untouched, "update", m, stats_cols,
        len(touched), head_v=head_v,
    )


def merge_versioned(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
) -> int:
    """MERGE / upsert as a commit: target rows whose ``key`` appears in
    ``source`` are REPLACED by the source row; source rows with no
    match are INSERTED. Same two-phase file-pruned shape as
    ``delete_versioned`` (the Delta MERGE algorithm):

    1. manifest prune — a file can only be touched if its recorded
       [min, max] for ``key`` overlaps the source key range (O(files)
       metadata, no data read); then an exact semi-join scan of the
       surviving candidates finds the files that really contain a
       matched key (AQE broadcasts the key set when the upsert batch is
       small — the common case);
    2. touched files are rewritten as (their rows anti-joined on key)
       ∪ source; untouched files carry over by reference.

    A daily 1 GB upsert into a 100 TB key-clustered table therefore
    rewrites O(overlapping files), not the table. Source keys must be
    unique and non-null (multiple source matches for one target row are
    ambiguous — same error Delta raises); verified with one small agg.
    """
    from pyspark.sql import functions as F

    head_v, m = _head(path)
    files = m["files"]
    stats = m.get("stats", {})
    # Align the source to the TARGET schema before anything else (the
    # Delta MERGE implicit cast): a bigint source id written into an
    # int table would corrupt the table's parquet type consistency.
    # Missing/extra columns are a hard error; type drift is cast (under
    # ANSI mode an overflowing cast raises rather than corrupting).
    from pyspark.sql import functions as _F

    # Union schema across the live set (not files[0]'s arbitrary
    # schema): on a schema-evolved table the target schema is the
    # merge of all live files' schemas, same as read_versioned(
    # merge_schema=True) — footer-only cost.
    # read_versioned handles an EMPTY live set (truncated table) by
    # walking back to the nearest schema-carrying version; a direct
    # parquet(*files) would crash on the zero-file head
    tgt = read_versioned(spark, path, version=head_v, merge_schema=True).schema
    if set(source.columns) != {f.name for f in tgt}:
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != "
            f"target columns {sorted(f.name for f in tgt)}"
        )
    source = source.select(
        [_F.col(f.name).cast(f.dataType) for f in tgt]
    )
    chk = source.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(key).alias("nd"),
        F.count(F.when(F.col(key).isNull(), 1)).alias("nnull"),
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
    ).first()
    if chk["n"] == 0:
        return head_v
    if chk["nnull"]:
        raise ValueError(f"merge source has {chk['nnull']} NULL {key} keys")
    if chk["n"] != chk["nd"]:
        raise ValueError(
            f"merge source keys not unique on {key}: "
            f"{chk['n']} rows, {chk['nd']} distinct"
        )
    lo, hi = chk["lo"], chk["hi"]
    cand = [
        f
        for f in files
        if (st := stats.get(f, {}).get(key)) is None or _overlaps(st, lo, hi)
    ]
    keys_df = source.select(key).distinct()
    touched: list[str] = []
    if cand:
        marker = (
            _scan(spark, path, m, cand, merge_schema=True)
            .select(key)
            .withColumn("_f", F.input_file_name())
            .join(keys_df, key, "left_semi")
            .select("_f")
        )
        touched = _touched_files(path, cand, marker)
    if touched:
        survivors = _scan(spark, path, m, touched, merge_schema=True).join(
            keys_df, key, "left_anti"
        )
        # touched files may PREDATE later-added columns (their union
        # schema is narrower than the live set's): allowMissingColumns
        # pads the survivors' absent columns with typed nulls instead of
        # projecting those columns OFF the source rows forever
        out = survivors.unionByName(source, allowMissingColumns=True)
    else:
        out = source  # no key overlap anywhere: pure insert
    untouched = [f for f in files if f not in set(touched)]
    return _commit_rewrite(
        path, out, untouched, "merge", m, stats_cols, len(touched),
        batch_id=batch_id, head_v=head_v,
    )


def restore_versioned(path: str, version: int) -> int:
    """RESTORE TABLE TO VERSION AS OF — commits ``version``'s exact file
    list (and its stats) as the NEW head. Metadata-only: zero data bytes
    written or copied, whatever the table size (Delta RESTORE
    semantics); the recorded schemas come along with the file list. The
    restored files must still exist (not vacuumed).
    History is preserved — the rollback is itself a commit, so both the
    mistake and the recovery stay in the log, and the change feed sees
    the restore as deletes of the abandoned files plus inserts of the
    restored ones."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    if version not in vs:
        raise FileNotFoundError(f"version {version} not in {vs} at {path}")
    m_old = _read_manifest(path, version)
    missing = [
        f for f in m_old["files"] if not os.path.exists(os.path.join(path, f))
    ]
    if missing:
        raise FileNotFoundError(
            f"restore to v{version} needs vacuumed file(s): {missing[:3]}"
        )
    new_v = vs[-1] + 1
    manifest = _manifest(
        new_v, "restore", m_old["files"], 0, m_old.get("stats"),
        m_old.get("schemas"), restored_from=version,
    )
    _link_manifest(path, new_v, manifest, uuid.uuid4().hex[:12])
    return new_v


def vacuum(path: str, keep_last: int = 1, retain_seconds: float = 86400.0) -> int:
    """Reclaim storage: drop all but the last ``keep_last`` manifests,
    then delete every data file no kept manifest references (dead
    versions' exclusive files AND orphans from crashed commits). Returns
    the number of files deleted. Metadata-only decision — no data bytes
    are read.

    ``retain_seconds`` (Delta-style ``VACUUM ... RETAIN``, default 24 h)
    guards the multi-writer race: a concurrent commit writes its data
    files BEFORE linking its manifest, so a commit directory referenced
    by NO manifest is indistinguishable from an in-flight commit — it is
    only deleted once older than the retention window. Directories named
    by SOME manifest (kept or dropped) were definitely committed, so
    their superseded files reclaim immediately regardless of age. Pass
    ``retain_seconds=0`` only when no other writer can be active."""
    import shutil
    import time as _time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _versions(path)
    keep, drop = vs[-keep_last:], vs[:-keep_last]
    referenced = set()
    committed = set()  # named by ANY manifest => not an in-flight commit
    for v in vs:
        m_files = _read_manifest(path, v)["files"]
        committed.update(m_files)
        if v in keep:
            referenced.update(m_files)
    # manifests that landed AFTER the listing above (a concurrent commit
    # or RESTORE) may re-reference files this sweep would otherwise
    # reclaim — re-list immediately before deleting and treat any new
    # manifest's files as live. A commit linking between this check and
    # the deletes below is still exposed for files older than
    # retain_seconds (restore re-checks existence before linking; the
    # default 24 h window covers any realistic plan-to-link gap).
    for v in _versions(path):
        if v not in vs:
            late = _read_manifest(path, v)["files"]
            referenced.update(late)
            committed.update(late)
    removed = 0
    now = _time.time()
    data_root = os.path.join(path, _DATA_DIR)
    if os.path.isdir(data_root):
        for commit in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit)
            if not os.path.isdir(cdir):
                continue
            # a data file is live iff a kept manifest names it;
            # _SUCCESS / .crc sidecars are never individually targeted
            live_here = False
            ever_committed = False
            dead = []
            for f in os.listdir(cdir):
                if f.startswith(("_", ".")):
                    continue
                rel = os.path.relpath(os.path.join(cdir, f), path)
                if rel in referenced:
                    live_here = True
                if rel in committed:
                    ever_committed = True
                if rel not in referenced:
                    dead.append(f)
            if not live_here:
                if not ever_committed and retain_seconds > 0:
                    # no manifest has ever named this directory: either a
                    # crashed commit's orphan or a commit IN FLIGHT right
                    # now (data written, manifest link pending). Only age
                    # separates the two — keep it until the retention
                    # window has passed.
                    try:
                        age = now - os.path.getmtime(cdir)
                    except OSError:
                        continue  # racing writer relinked/removed it
                    if age < retain_seconds:
                        continue
                # whole commit is dead (or an expired orphan): remove
                # the directory, sidecars included
                removed += len(dead)
                shutil.rmtree(cdir)
            else:
                # mixed dir: drop only dead data files, keep sidecars of
                # live ones (Hadoop LocalFS errors on stale .crc, never
                # on absent data it was not asked for). A dead file NO
                # manifest has ever named may be a micro-batch staged in
                # a shared streaming commit dir whose manifest link is
                # pending — the same in-flight ambiguity as whole
                # uncommitted dirs, so it gets the same age guard.
                for f in dead:
                    rel = os.path.relpath(os.path.join(cdir, f), path)
                    if rel not in committed and retain_seconds > 0:
                        try:
                            age = now - os.path.getmtime(os.path.join(cdir, f))
                        except OSError:
                            continue
                        if age < retain_seconds:
                            continue
                    os.remove(os.path.join(cdir, f))
                    removed += 1
    dropped_ids = [
        b for v in drop
        if (b := _read_manifest(path, v).get("batch_id")) is not None
    ]
    if dropped_ids:
        _ledger_add(path, dropped_ids)
    for v in drop:
        os.remove(_manifest_path(path, v))
    # stale .tmp-* manifests: a writer that crashed between writing its
    # temp manifest and the hard-link leaves one behind forever (reads
    # ignore them, but they accumulate). Same in-flight ambiguity as
    # uncommitted data dirs — only age separates a crash leftover from a
    # commit linking RIGHT NOW — so the same retention guard applies.
    mdir = os.path.join(path, _MANIFEST_DIR)
    for f in os.listdir(mdir):
        if f.startswith(".tmp-") and f.endswith(".json"):
            fp = os.path.join(mdir, f)
            try:
                if now - os.path.getmtime(fp) >= retain_seconds:
                    os.remove(fp)
                    removed += 1
            except OSError:
                continue  # the racing writer linked/removed it itself
    return removed


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two snapshots (the Delta Lake CDF /
    Iceberg incremental-read pattern): every row inserted or deleted by
    commits ``from_version < v <= to_version``, tagged with
    ``_change_type`` ('insert' | 'delete') and ``_commit_version``.
    ``from_version=0`` feeds the whole table history.

    The invariant incremental consumers rely on (property-tested):

        snapshot(from) + inserts(from→to) − deletes(from→to)
            == snapshot(to)     (as multisets)

    Scale shape — why this beats diffing snapshots: the changed-row set
    is computed from MANIFEST set-difference (O(files) metadata, no data
    read to plan), and Spark then scans ONLY the files each commit
    added/removed — an append of 1 GB to a 100 TB table costs 1 GB, not
    a 2×100 TB anti-join. Appends emit pure inserts; overwrite commits
    (rewrites, compactions) emit deletes of the files they retired plus
    inserts of their replacements — a content-preserving compaction
    therefore nets to zero, which downstream incremental aggregates
    absorb for free (delete −, insert +). Deleted versions' files must
    still exist: reading changes past a vacuum raises (same contract as
    Delta CDF retention).

    Additive schema evolution is honored: per-commit scans are combined
    with unionByName(allowMissingColumns), so columns appended in later
    commits come back NULL on older rows.
    """
    from pyspark.sql import functions as F

    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    to_v = vs[-1] if to_version is None else to_version
    for v in (from_version, to_v):
        if v != 0 and v not in vs:
            raise FileNotFoundError(f"version {v} not in {vs} at {path}")
    if to_v < from_version:
        raise ValueError(f"to_version {to_v} < from_version {from_version}")
    prev_m = _read_manifest(path, from_version) if from_version else {"files": []}
    parts: list[DataFrame] = []
    for v in vs:
        if not (from_version < v <= to_v):
            continue
        cur_m = _read_manifest(path, v)
        prev_files, cur_files = set(prev_m["files"]), set(cur_m["files"])
        for rel_set, kind, owner in (
            (cur_files - prev_files, "insert", cur_m),
            (prev_files - cur_files, "delete", prev_m),
        ):
            if not rel_set:
                continue
            rel = sorted(rel_set)
            paths = [os.path.join(path, f) for f in rel]
            missing = [p for p in paths if not os.path.exists(p)]
            if missing:
                raise FileNotFoundError(
                    f"change feed needs vacuumed file(s): {missing[:3]}"
                    " — raise vacuum keep_last or lower from_version"
                )
            parts.append(
                _scan(spark, path, owner, rel)
                .withColumn("_change_type", F.lit(kind))
                .withColumn("_commit_version", F.lit(v).cast("int"))
            )
        prev_m = cur_m
    if not parts:
        base = read_versioned(spark, path, version=to_v if to_v else None)
        return (
            base.withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0).cast("int"))
            .limit(0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
