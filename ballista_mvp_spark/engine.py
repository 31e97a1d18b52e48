"""Engine façade — the PySpark-native equivalent of the reference's
scheduler-facing query surface.

Reference lifecycle being re-expressed (SURVEY.md §3):
- session + SQL entry (Flight SQL ``get_flight_info_statement`` →
  ``ctx.sql(query).into_optimized_plan()``, reference:
  ballista/scheduler/src/flight_sql.rs:566-579) → :meth:`Engine.sql`.
- ``CREATE EXTERNAL TABLE`` (datafusion.proto:171-184) →
  :meth:`Engine.create_external_table`.
- prepared/parameterized statements (datafusion.proto:186-190,
  flight_sql.rs:638-655) → :meth:`Engine.sql` with ``args`` /
  :meth:`Engine.prepare`.
- job id + cancellation (task_manager.rs:517-525 job ids; JobCancel event
  api/handlers.rs:154-176) → Spark job groups
  (:meth:`Engine.run_job` / :meth:`Engine.cancel_job`).
- EXPLAIN / ANALYZE (datafusion.proto:219-227) → :meth:`Engine.explain`.

Everything below the API line — distributed planning, stage cutting at
shuffle boundaries, task scheduling, shuffle exchange, fault tolerance —
is Spark's own machinery (the reference re-implements it in
ballista/scheduler/src/planner.rs and executor; see SURVEY.md §2.1/§4 for
the mapping). We deliberately do not rebuild any of it.
"""

from __future__ import annotations

import random
import re
import string
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import build_session
from .tables import register_all
from .types import local_frame

_FORMAT_ALIASES = {
    "parquet": "parquet",
    "csv": "csv",
    "avro": "avro",
    "json": "json",
    "orc": "orc",
}

# Transaction-log SQL statements over tables registered via
# register_versioned (Delta Lake's SQL surface, reduced to its core).
# Conservative anchored patterns: anything that doesn't match — or names
# an unregistered table — falls through to Catalyst untouched.
_VSQL_HISTORY = re.compile(r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", re.I)
_VSQL_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$", re.I | re.S
)
_VSQL_RESTORE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$",
    re.I,
)
_VSQL_VACUUM = re.compile(
    r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?\s*;?\s*$",
    re.I,
)
_VSQL_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)(?:\s+TARGET\s+(\d+)\s*MB)?\s*;?\s*$", re.I
)
# SET/WHERE boundary is found quote-aware at dispatch time (_find_kw) —
# a regex non-greedy ' WHERE ' split would break on the word inside a
# SET string literal ("SET note = 'a where b' WHERE id = 1")
_VSQL_UPDATE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
# \s* before the tail: "INSERT INTO t(a, b) VALUES ..." (no space before
# the column list) is the most common SQL spacing and must dispatch too
_VSQL_INSERT = re.compile(
    r"^\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?(\w+)\s*(.+?)\s*;?\s*$",
    re.I | re.S,
)
_VSQL_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)\s+USING\s+(?:\((.+)\)|(\w+))\s+ON\s+(\w+)"
    r"(?:\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*"
    r"\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*)?\s*;?\s*$",
    re.I | re.S,
)


def _parse_insert_column_list(tail: str) -> tuple[list[str] | None, str]:
    """Split an INSERT tail into (column list | None, source text). A
    leading parenthesized group FOLLOWED BY a source keyword (VALUES /
    SELECT / WITH / TABLE / another paren) is a column list;
    "(SELECT ...)" alone — or "(SELECT ...) UNION ..." — is a
    parenthesized query and passes through untouched. Non-bare
    identifiers in list position raise a clear error instead of dying
    later in an opaque Catalyst parse of the swallowed list."""
    stripped = tail.lstrip()
    if not stripped.startswith("("):
        return None, tail
    depth = 0
    for i, ch in enumerate(stripped):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
    else:
        return None, tail
    inner = stripped[1:i]
    rest = stripped[i + 1:].strip()
    if not rest or not re.match(
        r"(?i)^(VALUES\b|SELECT\b|WITH\b|TABLE\b|\()", rest
    ):
        return None, tail
    names = [c.strip() for c in inner.split(",")]
    bad = [c for c in names if not re.fullmatch(r"[A-Za-z_]\w*", c)]
    if bad:
        raise ValueError(
            "unsupported INSERT column-list entries "
            f"(bare identifiers only): {bad}"
        )
    return [c.lower() for c in names], rest


def _split_assignments(text: str) -> dict[str, str]:
    """Split an UPDATE SET list on top-level commas only (commas inside
    function calls / CASE arms / string literals don't separate
    assignments); each assignment splits on its FIRST '=' OUTSIDE a
    string literal — the left side is a bare column name, the right
    side may itself contain '='. Characters inside single-quoted SQL
    literals (with '' escaping — ``'it''s'`` is one literal) never
    affect comma splitting or paren/bracket depth."""
    parts, depth, cur, i, n = [], 0, [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            # consume the whole literal, '' is an escaped quote
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in SET: {text!r}")
            cur.append(text[i : j + 1])
            i = j + 1
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    out: dict[str, str] = {}
    for part in parts:
        # first '=' outside a literal ('=' may appear inside strings)
        eq, k, m = -1, 0, len(part)
        while k < m:
            if part[k] == "'":
                k += 1
                while k < m:
                    if part[k] == "'":
                        if k + 1 < m and part[k + 1] == "'":
                            k += 2
                            continue
                        break
                    k += 1
            elif part[k] == "=":
                eq = k
                break
            k += 1
        if eq < 0:
            raise ValueError(f"malformed SET assignment: {part.strip()!r}")
        out[part[:eq].strip()] = part[eq + 1 :].strip()
    return out


def _scan_sql(text: str):
    """Yield (index, char, depth) for top-level SQL scanning: characters
    inside single-quoted literals ('' escaping) and double-quoted
    identifiers are skipped; depth tracks parens/brackets."""
    depth, i, n = 0, 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            q = ch
            j = i + 1
            while j < n:
                if text[j] == q:
                    if q == "'" and j + 1 < n and text[j + 1] == q:
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        yield i, ch, depth
        i += 1


def _find_kw(text: str, kws: tuple[str, ...], start: int = 0) -> tuple[int, str]:
    """First top-level occurrence (index, keyword) of any whole-word
    keyword in ``kws`` (case-insensitive, outside literals/parens), or
    (-1, ''). Multi-word keywords use single spaces."""
    up = text.upper()
    for i, _ch, depth in _scan_sql(text):
        if depth != 0 or i < start:
            continue
        for kw in kws:
            j = i + len(kw)
            if (
                up.startswith(kw, i)
                and (i == 0 or not (up[i - 1].isalnum() or up[i - 1] == "_"))
                and (j >= len(up) or not (up[j].isalnum() or up[j] == "_"))
            ):
                return i, kw
    return -1, ""


def _is_set_operator(q: str, i: int, kw: str) -> bool:
    """True when the UNION/INTERSECT/EXCEPT keyword at ``i`` is a set
    OPERATOR — followed (after optional ALL/DISTINCT) by a query head
    (SELECT/WITH, possibly parenthesized) — as opposed to Spark's
    select-list ``* EXCEPT (col, ...)`` projection syntax."""
    up = q.upper()
    j = i + len(kw)
    while j < len(q) and q[j].isspace():
        j += 1
    for t in ("ALL", "DISTINCT"):
        k = j + len(t)
        if up.startswith(t, j) and (k >= len(q) or not (up[k].isalnum() or up[k] == "_")):
            j = k
            while j < len(q) and q[j].isspace():
                j += 1
            break
    if j < len(q) and q[j] == "(":
        j += 1
        while j < len(q) and q[j].isspace():
            j += 1
    for t in ("SELECT", "WITH"):
        k = j + len(t)
        if up.startswith(t, j) and (k >= len(q) or not (up[k].isalnum() or up[k] == "_")):
            return True
    return False


def _rewrite_qualify(q: str) -> str:
    """Rewrite a top-level ``QUALIFY <pred>`` clause (DuckDB / Snowflake
    / BigQuery syntax — filter rows AFTER window functions evaluate,
    the window analogue of HAVING; Spark has no native QUALIFY) into
    standard Spark SQL:

        SELECT <sel> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT n]
        → SELECT * EXCEPT (__qualify__) FROM (
              SELECT <sel>, (<pred>) AS __qualify__ FROM ...
          ) WHERE __qualify__ [ORDER BY ...] [LIMIT n]

    The predicate may reference select-list aliases (Spark's lateral
    column aliases) or contain window expressions directly. Scanning is
    quote- and paren-aware, so QUALIFY inside strings or subqueries is
    left alone; statements without a top-level QUALIFY pass through
    byte-identical. A leading WITH clause is preserved verbatim (CTEs
    stay in scope inside the wrapping subquery — Spark resolves CTEs
    lexically over the whole statement). Set operators: one AFTER the
    predicate bounds it (``... QUALIFY p UNION ALL SELECT ...`` binds
    QUALIFY to the preceding branch, the DuckDB parse); one BEFORE it
    (``SELECT ... UNION ALL SELECT ... QUALIFY p``) recurses into the
    branch that owns the QUALIFY, leaving earlier branches verbatim."""
    qi, _ = _find_kw(q, ("QUALIFY",))
    if qi < 0:
        return q
    si, _ = _find_kw(q, ("SELECT",))
    if si < 0:
        return q
    # QUALIFY in a non-first set-operation branch: recurse on the branch
    # that owns it (the text from the SELECT/WITH after the LAST real
    # set operator before QUALIFY), keeping everything before verbatim
    last_so, pos = -1, si
    while True:
        so, so_kw = _find_kw(q, ("UNION", "INTERSECT", "EXCEPT"), start=pos)
        if so < 0 or so >= qi:
            break
        if _is_set_operator(q, so, so_kw):
            last_so = so + len(so_kw)
        pos = so + len(so_kw)
    if last_so >= 0:
        bs, _ = _find_kw(q, ("SELECT", "WITH"), start=last_so)
        if bs < 0 or bs >= qi:
            return q
        return q[:bs] + _rewrite_qualify(q[bs:])
    fi, _ = _find_kw(q, ("FROM",), start=si)
    if fi < 0 or not (si < fi < qi):
        return q
    ti, _ = _find_kw(
        q, ("ORDER BY", "LIMIT", "UNION", "INTERSECT", "EXCEPT"), start=qi
    )
    pred = (q[qi + len("QUALIFY"):ti] if ti >= 0 else q[qi + len("QUALIFY"):]).strip()
    tail = (" " + q[ti:].strip()) if ti >= 0 else ""
    sel = q[si + len("SELECT"):fi].strip()
    body = q[fi:qi].strip()
    return (
        f"{q[:si]}SELECT * EXCEPT (__qualify__) FROM ("
        f"SELECT {sel}, ({pred}) AS __qualify__ {body}"
        f") WHERE __qualify__{tail}"
    )


def _rewrite_distinct_on(q: str) -> str:
    """Rewrite a top-level ``SELECT DISTINCT ON (<keys>) ...`` statement
    (PostgreSQL / DuckDB syntax — keep the FIRST row of each key group
    under the statement's ORDER BY; Spark has no native DISTINCT ON)
    into standard Spark SQL:

        SELECT DISTINCT ON (k) sel FROM ... [ORDER BY ob] [LIMIT n]
        → SELECT * EXCEPT (__don__) FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY k ORDER BY ob) AS __don__
              FROM (SELECT sel FROM ...)
          ) WHERE __don__ = 1 [ORDER BY ob] [LIMIT n]

    The select list is materialized one level down so the window's
    PARTITION BY / ORDER BY can reference select-list ALIASES (Spark
    forbids lateral aliases inside window specs) — consequently the keys
    and ORDER BY expressions must be resolvable against the select list,
    which DISTINCT ON statements satisfy in practice (DuckDB resolves
    aliases in ORDER BY the same way). With no ORDER BY the partition
    keys order the window (any row per group is acceptable then; this
    pins a deterministic one). Statements without a leading top-level
    DISTINCT ON pass through byte-identical; DuckDB runs the original
    text natively, so a single SQL string is a cross-engine contract
    (the QUALIFY convention, engine.py _rewrite_qualify). A leading
    WITH clause is preserved verbatim (CTEs resolve inside the wrapper);
    a top-level set operator after FROM bails out unchanged — the
    rewrite cannot bound DISTINCT ON to the first branch safely, and
    Spark's parse error on the original text beats a malformed
    rewrite."""
    si, _ = _find_kw(q, ("SELECT",))
    if si < 0:
        return q
    after = q[si + len("SELECT"):]
    lead = after[: len(after) - len(after.lstrip())]
    rest = after.lstrip()
    up = rest.upper()
    if not up.startswith("DISTINCT ON"):
        return q
    nxt = up[len("DISTINCT ON"):len("DISTINCT ON") + 1]
    if nxt not in ("", " ", "\t", "\n", "("):  # not the ON keyword (e.g. a
        return q                               # hypothetical DISTINCT ONLY)
    p0 = rest.upper().find("(", len("DISTINCT ON"))
    if p0 < 0:
        return q
    depth, p1 = 0, -1
    for i in range(p0, len(rest)):
        if rest[i] == "(":
            depth += 1
        elif rest[i] == ")":
            depth -= 1
            if depth == 0:
                p1 = i
                break
    if p1 < 0:
        return q
    keys = rest[p0 + 1:p1].strip()
    sel_start = si + len("SELECT") + len(lead) + p1 + 1
    fi, _ = _find_kw(q, ("FROM",), start=sel_start)
    if fi < 0:
        return q
    sel = q[sel_start:fi].strip()
    so, _ = _find_kw(q, ("UNION", "INTERSECT", "EXCEPT"), start=fi)
    if so >= 0:
        return q
    oi, _ = _find_kw(q, ("ORDER BY",), start=fi)
    li, _ = _find_kw(q, ("LIMIT",), start=oi if oi >= 0 else fi)
    body_end = oi if oi >= 0 else (li if li >= 0 else len(q))
    body = q[fi:body_end].strip()
    ob = (q[oi + len("ORDER BY"):li] if li >= 0 else q[oi + len("ORDER BY"):]).strip() if oi >= 0 else keys
    tail = (" " + q[oi:].strip()) if oi >= 0 else ((" " + q[li:].strip()) if li >= 0 else "")
    return (
        f"{q[:si]}SELECT * EXCEPT (__don__) FROM ("
        f"SELECT *, row_number() OVER ("
        f"PARTITION BY {keys} ORDER BY {ob}) AS __don__ "
        f"FROM (SELECT {sel} {body})"
        f") WHERE __don__ = 1{tail}"
    )


def _rewrite_cte_bodies(q: str) -> str:
    """Apply the QUALIFY / DISTINCT ON rewrites INSIDE each top-level
    CTE body: ``WITH c AS (SELECT ... QUALIFY ...) SELECT * FROM c``.
    The outer rewrites only see depth-0 keywords, so dialect syntax
    inside a CTE body (depth 1) would pass through them and fail
    Spark's parser even though DuckDB runs it natively.

    Mechanics: for a statement whose first top-level keyword is WITH,
    every depth-0 ``AS (`` span before the main (first depth-0) SELECT
    is a CTE body; each body is itself a SELECT statement, so the full
    rewrite chain recurses into it (nested WITHs included). Bodies
    without dialect syntax are reassembled byte-identical. QUALIFY /
    DISTINCT ON inside derived-table subqueries (FROM (...)) remain
    unsupported — depth >= 1 outside a CTE — and surface as Spark parse
    errors on the original text."""
    wi, _ = _find_kw(q, ("WITH",))
    si, _ = _find_kw(q, ("SELECT",))
    if wi < 0 or si < 0 or si < wi:
        return q
    pieces: list[str] = []
    last = 0
    pos = wi
    while True:
        ai, _ = _find_kw(q, ("AS",), start=pos)
        if ai < 0 or ai > si:
            break
        j = ai + 2
        while j < len(q) and q[j].isspace():
            j += 1
        if j >= len(q) or q[j] != "(":
            pos = ai + 2
            continue
        # find the matching close paren: _scan_sql yields ')' with depth
        # already decremented, so the matching close (scanning from the
        # open paren) is the first ')' yielded at depth 0
        close = -1
        for i, ch, depth in _scan_sql(q[j:]):
            if ch == ")" and depth == 0:
                close = j + i
                break
        if close < 0:
            return q  # unbalanced — leave for the parser to report
        body = q[j + 1:close]
        pieces.append(q[last:j + 1])
        pieces.append(
            _rewrite_qualify(_rewrite_distinct_on(_rewrite_cte_bodies(body)))
        )
        last = close
        pos = close
    if not pieces:
        return q
    pieces.append(q[last:])
    return "".join(pieces)


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def _check_ident(name: str) -> str:
    """Reject anything but plain (optionally dot-qualified) identifiers
    before interpolating into SQL text — the façade builds ANALYZE /
    DESCRIBE / CREATE statements by f-string, so a name carrying quotes
    or trailing SQL would otherwise alter the executed statement."""
    if not _IDENT.match(name):
        raise ValueError(f"invalid identifier: {name!r}")
    return name


def _gen_job_id(rng: random.Random) -> str:
    """7-char alphanumeric job id, like the reference's
    ``TaskManager::generate_job_id`` (task_manager.rs:517-525)."""
    alphabet = string.ascii_letters + string.digits
    return "".join(rng.choice(alphabet) for _ in range(7))


@dataclass
class PreparedStatement:
    """Handle for a prepared statement (≅ do_action_create_prepared_statement,
    flight_sql.rs:638-655). Spark re-plans per execution — parameter binding
    via ``spark.sql(sql, args=...)`` — so the handle just pins the SQL text."""

    handle: str
    sql: str


@dataclass
class Engine:
    """Session-scoped query engine façade."""

    spark: SparkSession = None  # type: ignore[assignment]
    seed: int | None = None
    _prepared: dict[str, PreparedStatement] = field(default_factory=dict)
    _jobs: dict[str, str] = field(default_factory=dict)  # job_id -> description
    _versioned: dict[str, str] = field(default_factory=dict)  # view -> table path
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def __post_init__(self) -> None:
        if self.spark is None:
            self.spark = build_session()
        self._rng = random.Random(self.seed)

    # -- DDL ---------------------------------------------------------------
    def create_external_table(
        self,
        name: str,
        path: str,
        file_format: str = "parquet",
        schema: str | None = None,
        options: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        """``CREATE EXTERNAL TABLE`` ≅ CreateExternalTableNode
        (datafusion.proto:171-184: location, file_type, has_header,
        delimiter, if_not_exists, table_partition_cols, options).

        Registered as a temp view over a reader so Hive-partitioned
        directories and schema declarations behave like the reference's
        ListingTable (datafusion.proto:99-115).
        """
        if if_not_exists and name.lower() in [
            t.name.lower() for t in self.spark.catalog.listTables()
        ]:  # Spark's catalog resolves names case-insensitively
            return
        fmt = _FORMAT_ALIASES.get(file_format.lower())
        if fmt is None:
            raise ValueError(
                f"unsupported file_format {file_format!r} — supported: "
                f"{sorted(_FORMAT_ALIASES)}"
            )
        if fmt == "avro":
            from .sources import read_avro

            read_avro(
                self.spark, path, schema, options=options
            ).createOrReplaceTempView(name)
            return
        reader = self.spark.read.format(fmt)
        if schema:
            reader = reader.schema(schema)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        reader.load(path).createOrReplaceTempView(name)

    def create_bucketed_table(
        self,
        name: str,
        df: DataFrame,
        n_buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
        path: str | None = None,
    ) -> DataFrame:
        """Materialize ``df`` as a catalog-managed bucketed table and
        return the bucketed scan (free extension — the reference has no
        write path). Joins/aggregations on the bucket key then skip their
        shuffle (see sources.write_bucketed_table)."""
        from .sources import read_bucketed_table, write_bucketed_table

        write_bucketed_table(df, name, n_buckets, bucket_cols, sort_cols, path)
        return read_bucketed_table(self.spark, name)

    def create_database(self, name: str, if_not_exists: bool = True) -> None:
        """``CREATE SCHEMA/DATABASE`` ≅ CreateCatalogSchemaNode
        (datafusion.proto:192-202). Spark databases are namespaces in the
        session catalog; ``USE <db>``/qualified names work afterwards."""
        _check_ident(name)
        clause = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(f"CREATE DATABASE {clause}`{name}`")

    def list_databases(self) -> list[str]:
        return [d.name for d in self.spark.catalog.listDatabases()]

    def create_catalog(self, name: str, url: str | None = None) -> list[str]:
        """``CREATE CATALOG`` ≅ CreateCatalogNode (datafusion.proto:192-202)
        — a SECOND top-level catalog, not just a schema. Spark's V2
        catalog plugin API is the analogue: this registers a
        JDBCTableCatalog over an embedded Derby database (in-memory by
        default; pass a JDBC ``url`` for a real warehouse —
        postgres/mysql URLs work the same way at deployment). Catalogs
        are lazily instantiated, so runtime conf registration is enough;
        afterwards ``<name>.<schema>.<table>`` names, ``USE <name>``,
        and cross-catalog joins all resolve. Returns the catalog list."""
        _check_ident(name)
        base = f"spark.sql.catalog.{name}"
        self.spark.conf.set(
            base, "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog"
        )
        self.spark.conf.set(
            base + ".url", url or f"jdbc:derby:memory:{name};create=true"
        )
        self.spark.conf.set(base + ".driver", "org.apache.derby.jdbc.EmbeddedDriver")
        # catalogs instantiate lazily; touch it so a bad URL fails HERE,
        # not at first query (and so listCatalogs shows it immediately)
        self.spark.sql(f"SHOW NAMESPACES IN `{name}`").collect()
        return [c.name for c in self.spark.catalog.listCatalogs()]

    def list_catalogs(self) -> list[str]:
        return [c.name for c in self.spark.catalog.listCatalogs()]

    def create_view(self, name: str, query: str, or_replace: bool = True) -> None:
        """``CREATE VIEW`` ≅ CreateViewNode (datafusion.proto:204-210).
        The view body goes through the same dialect rewrites as
        :meth:`sql` — a QUALIFY / DISTINCT ON / time-travel query is one
        language across every façade entry point (rewrite-only: a DML
        statement is never executed from here)."""
        df = self.spark.sql(self._rewritten(query))
        if or_replace:
            df.createOrReplaceTempView(name)
        else:
            df.createTempView(name)

    def register_testdata(self, sf_dir: str) -> None:
        register_all(self.spark, sf_dir)

    def create_masked_view(
        self,
        name: str,
        source: str,
        masks: dict | None = None,
        scrub_pii: list[str] | None = None,
        drop: list[str] | None = None,
    ) -> None:
        """Column-masking governance view over a catalog table — the
        read-side contract a training-data platform hands to consumers
        who must not see raw PII. ``masks`` maps column -> SQL expression
        (e.g. {'c_phone': \"'***'\"}); ``scrub_pii`` runs the
        operators/text.pii_scrub redaction over text columns;
        ``drop`` removes columns entirely. Pure projection — a masked
        view costs nothing at rest and fuses into the consumer's scan
        (no shuffle, no copy of the table)."""
        from .operators.text import pii_scrub

        df = self.spark.table(source)
        masks = masks or {}
        scrub = set(scrub_pii or ())
        dropped = set(drop or ())
        cols = []
        for c in df.columns:
            if c in dropped:
                continue
            if c in masks:
                cols.append(F.expr(masks[c]).alias(c))
            elif c in scrub:
                cols.append(pii_scrub(F.col(c)).alias(c))
            else:
                cols.append(F.col(c))
        df.select(*cols).createOrReplaceTempView(name)

    def register_versioned(
        self, name: str, path: str, version: int | None = None
    ) -> int:
        """Expose a versioned table (sources/versioned.py) to SQL as a
        view pinned to ``version`` (default: latest at registration
        time — the pin means later commits do NOT leak into running
        queries, the snapshot-isolation contract). Returns the pinned
        version."""
        from .sources import versioned as _V

        vs = _V._versions(path)
        if not vs:
            raise FileNotFoundError(f"no committed version at {path}")
        v = vs[-1] if version is None else version
        _V.read_versioned(self.spark, path, v).createOrReplaceTempView(name)
        self._versioned[name.lower()] = path
        return v

    # -- transaction-log SQL -------------------------------------------------
    def _sql_versioned(self, q: str) -> DataFrame | None:
        """Dispatch DESCRIBE HISTORY / INSERT INTO|OVERWRITE / DELETE
        FROM / UPDATE / MERGE INTO / RESTORE / VACUUM / OPTIMIZE over
        tables registered via :meth:`register_versioned`
        (the Delta Lake SQL surface over sources/versioned.py). Returns
        None when the statement isn't one of ours — the caller falls
        through to Catalyst. After a mutation the registered view is
        re-pinned to the new head; queries already planned keep reading
        their pinned (immutable) files, the snapshot-isolation contract.
        Every result is a small info DataFrame (O(versions) rows at
        most), mirroring how Spark SQL surfaces command output."""
        from .sources import versioned as _V

        def _path(name: str) -> str | None:
            return self._versioned.get(name.lower())

        if (m := _VSQL_INSERT.match(q)) and (path := _path(m.group(2))):
            # INSERT INTO <t> [(col, ...)] <query|VALUES ...> — completes
            # the DML triad (DELETE/UPDATE/MERGE) with the append commit.
            # SQL semantics: without a column list the source binds to
            # the table schema BY POSITION with implicit casts (same as
            # merge's align step); WITH a column list the source binds
            # positionally to the NAMED columns and every unlisted
            # column is NULL (standard INSERT semantics). OVERWRITE
            # truncates via an overwrite commit, previous versions stay
            # time-travelable.
            cols, tail = _parse_insert_column_list(m.group(3))
            src_df = self.spark.sql(self._rewritten(tail))
            # positional rename sidesteps exotic source column names a
            # bare-literal SELECT produces ("0.5" reads as a field path)
            src_df = src_df.toDF(*[f"_c{i}" for i in range(len(src_df.columns))])
            tgt = _V.read_versioned(self.spark, path).schema
            if cols is not None:
                tgt_names = {f.name.lower() for f in tgt.fields}
                unknown = [c for c in cols if c not in tgt_names]
                if unknown:
                    raise ValueError(
                        f"INSERT column list names not in table: {unknown}"
                    )
                if len(set(cols)) != len(cols):
                    raise ValueError(f"duplicate INSERT columns: {cols}")
                if len(src_df.columns) != len(cols):
                    raise ValueError(
                        f"INSERT source has {len(src_df.columns)} columns "
                        f"but the column list names {len(cols)}"
                    )
                pos = {c: i for i, c in enumerate(cols)}
                aligned = src_df.select(
                    *[
                        (
                            F.col(src_df.columns[pos[f.name.lower()]])
                            if f.name.lower() in pos
                            else F.lit(None)
                        )
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in tgt.fields
                    ]
                )
            else:
                if len(src_df.columns) != len(tgt.fields):
                    raise ValueError(
                        f"INSERT column count {len(src_df.columns)} != table "
                        f"column count {len(tgt.fields)}"
                    )
                aligned = src_df.select(
                    *[
                        F.col(c).cast(f.dataType).alias(f.name)
                        for c, f in zip(src_df.columns, tgt.fields)
                    ]
                )
            mode = "overwrite" if m.group(1).upper() == "OVERWRITE" else "append"
            v = _V.write_versioned(aligned, path, mode=mode)
            self.register_versioned(m.group(2), path)
            mm = _V._read_manifest(path, v)
            return local_frame(
                self.spark, [(v, mm["n_added"])], "version int, files_added int"
            )
        if (m := _VSQL_HISTORY.match(q)) and (path := _path(m.group(1))):
            hist = _V.history(path)
            return local_frame(
                self.spark,
                [(h["version"], h["op"], h["n_files"], h["n_added"]) for h in hist],
                "version int, op string, n_files int, n_added int",
            )
        if (m := _VSQL_UPDATE.match(q)) and (path := _path(m.group(1))):
            rest = m.group(2)
            wi, _ = _find_kw(rest, ("WHERE",))
            if wi < 0:
                return None  # UPDATE without WHERE: not ours, let Catalyst report
            assigns = _split_assignments(rest[:wi])
            v = _V.update_versioned(
                self.spark, path, assigns, rest[wi + len("WHERE"):].strip()
            )
            self.register_versioned(m.group(1), path)
            mm = _V._read_manifest(path, v)
            return local_frame(
                self.spark,
                [(v, mm.get("n_rewritten", 0))],
                "version int, files_rewritten int",
            )
        if (m := _VSQL_DELETE.match(q)) and (path := _path(m.group(1))):
            v = _V.delete_versioned(self.spark, path, m.group(2))
            self.register_versioned(m.group(1), path)
            mm = _V._read_manifest(path, v)
            return local_frame(
                self.spark,
                [(v, mm.get("n_rewritten", 0))],
                "version int, files_rewritten int",
            )
        if (m := _VSQL_MERGE.match(q)) and (path := _path(m.group(1))):
            subquery, view, key = m.group(2), m.group(3), m.group(4)
            source = self.spark.sql(subquery) if subquery else self.spark.table(view)
            v = _V.merge_versioned(self.spark, path, source, key=key)
            self.register_versioned(m.group(1), path)
            mm = _V._read_manifest(path, v)
            return local_frame(
                self.spark,
                [(v, mm.get("n_rewritten", 0))],
                "version int, files_rewritten int",
            )
        if (m := _VSQL_RESTORE.match(q)) and (path := _path(m.group(1))):
            v = _V.restore_versioned(path, int(m.group(2)))
            self.register_versioned(m.group(1), path)
            return local_frame(
                self.spark, [(v, int(m.group(2)))], "version int, restored_from int"
            )
        if (m := _VSQL_VACUUM.match(q)) and (path := _path(m.group(1))):
            keep = int(m.group(2)) if m.group(2) else 1
            kwargs = {}
            if m.group(3) is not None:  # RETAIN n HOURS (Delta semantics)
                import os as _os
                import time as _time

                window = float(m.group(3)) * 3600.0
                kwargs["retain_seconds"] = window
                # Delta's RETAIN protects HISTORY inside the window, not
                # just uncommitted orphans: keep every version >= the
                # OLDEST young version number (time travel within the
                # retention period survives the vacuum). Keeping by
                # version number, not by counting young manifests —
                # a count assumes mtime order matches version order,
                # and a backup-restored old manifest with a fresh mtime
                # would then let a version still inside the window drop
                # while an older one is kept.
                now = _time.time()
                versions = _V._versions(path)
                young = [
                    v for v in versions
                    if now - _os.path.getmtime(_V._manifest_path(path, v))
                    < window
                ]
                if young and versions:
                    keep = max(keep, versions[-1] - min(young) + 1)
                keep = max(keep, 1)
            removed = _V.vacuum(path, keep_last=keep, **kwargs)
            return local_frame(self.spark, [(removed,)], "files_removed int")
        if (m := _VSQL_OPTIMIZE.match(q)) and (path := _path(m.group(1))):
            # Delta's OPTIMIZE: small-file compaction as a commit; time
            # travel to pre-compaction versions is untouched.
            target = int(m.group(2)) if m.group(2) else 256
            v = _V.compact_versioned(self.spark, path, target_file_mb=target)
            self.register_versioned(m.group(1), path)
            mm = _V._read_manifest(path, v)
            return local_frame(
                self.spark,
                [(v, mm["n_files"], mm["n_added"])],
                "version int, n_files int, n_added int",
            )
        return None

    def _rewrite_time_travel(self, q: str) -> str:
        """Rewrite ``<table> VERSION AS OF <n>`` (Delta's time-travel SQL
        syntax) for registered versioned tables: each occurrence becomes
        a temp view pinned to that version. Unregistered names are left
        for Catalyst to reject naturally."""
        if not self._versioned:
            return q
        from .sources import versioned as _V

        names = "|".join(re.escape(n) for n in self._versioned)
        pat = re.compile(rf"\b({names})\s+VERSION\s+AS\s+OF\s+(\d+)\b", re.I)
        # positions OUTSIDE string literals / quoted identifiers — a
        # literal mentioning "orders VERSION AS OF 1" must pass through
        # untouched (and must not side-effect a temp view)
        visible = {i for i, _c, _d in _scan_sql(q)}

        def _sub(m: re.Match) -> str:
            if m.start() not in visible:
                return m.group(0)
            name, ver = m.group(1).lower(), int(m.group(2))
            view = f"{name}__v{ver}"
            _V.read_versioned(
                self.spark, self._versioned[name], ver
            ).createOrReplaceTempView(view)
            return view

        return pat.sub(_sub, q)

    # -- query -------------------------------------------------------------
    def sql(self, query: str, args: dict | list | None = None) -> DataFrame:
        """SQL entry point ≅ flight_sql.rs:566-579 (parse → analyze →
        optimize happens inside Catalyst). ``args`` gives parameterized SQL
        (≅ PrepareNode placeholders, datafusion.proto:186-190).
        Transaction-log statements over registered versioned tables
        (DESCRIBE HISTORY / DELETE FROM / MERGE INTO / RESTORE / VACUUM /
        ``VERSION AS OF`` time travel) are dispatched to
        sources/versioned.py first; everything else goes to Catalyst."""
        if args is not None:
            # parameterized path keeps the dialect rewrites for NAMED
            # parameters — :name placeholders bind by name, so a rewrite
            # may reorder or duplicate them freely. POSITIONAL (?) args
            # bind by order: _rewrite_qualify moves the predicate ahead
            # of the body and _rewrite_distinct_on duplicates the ORDER
            # BY expression, either of which silently misbinds a ? — so
            # a rewrite that changed the text combined with list args
            # raises instead. (Versioned-DML dispatch stays
            # unparameterized: those statements execute side effects.)
            rewritten = self._rewritten(query)
            if rewritten != query and not isinstance(args, dict):
                raise ValueError(
                    "positional (?) parameters cannot be combined with "
                    "QUALIFY / DISTINCT ON / time-travel rewrites — the "
                    "transform may reorder or duplicate placeholders; "
                    "use named :param arguments"
                )
            return self.spark.sql(rewritten, args=args)
        if (out := self._sql_versioned(query)) is not None:
            return out
        return self.spark.sql(self._rewritten(query))

    def _rewritten(self, query: str) -> str:
        """The pure dialect-rewrite chain (time travel + CTE bodies +
        QUALIFY + DISTINCT ON) WITHOUT the versioned-DML dispatch — for
        façade entry points that must parse the same language as
        :meth:`sql` but never execute side-effecting statements
        (explain / estimate / create_view)."""
        return _rewrite_qualify(
            _rewrite_distinct_on(
                _rewrite_cte_bodies(self._rewrite_time_travel(query))
            )
        )

    def prepare(self, query: str) -> PreparedStatement:
        handle = _gen_job_id(self._rng)
        ps = PreparedStatement(handle=handle, sql=query)
        self._prepared[handle] = ps
        return ps

    def execute_prepared(self, handle: str, args: dict | list | None = None) -> DataFrame:
        ps = self._prepared[handle]
        return self.sql(ps.sql, args=args)

    def close_prepared(self, handle: str) -> None:
        self._prepared.pop(handle, None)

    # -- lifecycle / ops ---------------------------------------------------
    def run_job(self, df: DataFrame, description: str = "") -> tuple[str, list]:
        """Run an action under a job group so it is trackable/cancellable,
        like the reference's job ids + JobCancel event (SURVEY.md §3 step 3,
        api/handlers.rs:154-176). Returns (job_id, collected rows)."""
        job_id = _gen_job_id(self._rng)
        with self._lock:
            self._jobs[job_id] = description
        sc = self.spark.sparkContext
        sc.setJobGroup(job_id, description or job_id, interruptOnCancel=True)
        try:
            return job_id, df.collect()
        finally:
            sc.setJobGroup("", "")

    def run_job_with_metrics(self, df: DataFrame, description: str = ""):
        """Like :meth:`run_job`, but also returns rolled-up runtime
        metrics (rows, scan/shuffle bytes, exchange counts, stage/task
        counts, codegen compiles) — the analogue of the reference's
        per-job metrics REST surface (api/handlers.rs:184-243). Returns
        ``(job_id, rows, QueryMetrics)``.

        SQLMetrics read as PER-LATEST-RUN values: Spark 4 resets the
        plan's metric accumulators at each execution (verified
        empirically — three collects of the same DataFrame each read the
        single-run scan_rows, not a cumulative sum), so the roll-up
        below is this job's work without any snapshot arithmetic.

        ``codegen_classes`` / ``codegen_ms`` are the deltas of
        ``CodegenMetrics.METRIC_COMPILATION_TIME``'s count and
        ``CodeGenerator.compileTime()`` across the job: classes compiled
        because they missed the generated-class cache. Both counters are
        JVM-wide, so a concurrent query's compiles land in this delta."""
        import time

        from .plans.metrics import collect_plan_metrics

        sc = self.spark.sparkContext
        jvm = self.spark._jvm
        compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        n0, ns0 = compiles.getCount(), codegen.compileTime()
        t0 = time.monotonic()
        job_id, rows = self.run_job(df, description)
        wall = time.monotonic() - t0
        n1, ns1 = compiles.getCount(), codegen.compileTime()
        qm = collect_plan_metrics(df)
        qm.output_rows = len(rows)
        qm.wall_time_sec = round(wall, 3)
        qm.codegen_classes = n1 - n0
        qm.codegen_ms = round((ns1 - ns0) / 1e6, 3)
        tracker = sc.statusTracker()
        spark_jobs = tracker.getJobIdsForGroup(job_id)
        qm.num_jobs = len(spark_jobs)
        stage_ids = set()
        for jid in spark_jobs:
            info = tracker.getJobInfo(jid)
            if info:
                stage_ids.update(info.stageIds)
        qm.num_stages = len(stage_ids)
        for sid in stage_ids:
            sinfo = tracker.getStageInfo(sid)
            if sinfo:
                qm.num_tasks += sinfo.numCompletedTasks
        return job_id, rows, qm

    def cancel_job(self, job_id: str) -> None:
        self.spark.sparkContext.cancelJobGroup(job_id)

    def jobs(self) -> dict[str, str]:
        return dict(self._jobs)

    # -- remote SQL service (≅ Flight SQL endpoint, flight_sql.rs:445-579) --
    def publish_table(self, name: str, df: DataFrame) -> None:
        """Make a DataFrame visible to REMOTE sessions as
        ``global_temp.<name>`` — plain temp views are session-scoped, so
        they are invisible across the connection boundary (the analogue of
        the reference registering tables on the shared SessionContext that
        Flight SQL sessions resolve against, flight_sql.rs:505-520)."""
        df.createOrReplaceGlobalTempView(name)

    def publish_testdata(self, sf_dir: str) -> None:
        from .tables import TABLES, load_table

        for name in TABLES:
            self.publish_table(name, load_table(self.spark, sf_dir, name))

    def serve(self, port: int = 10000, host: str = "localhost") -> int:
        """Start the remote SQL endpoint (HiveThriftServer2 sharing this
        session's SparkContext) — the Spark-native analogue of the
        reference's Flight SQL service (scheduler flight_sql.rs:445-499:
        handshake/session, :566-579: statement execution; here the
        hive2 wire protocol provides the same lifecycle: connect,
        authenticate, execute, fetch). Remote clients (beeline / any
        hive2 JDBC driver) connect to ``jdbc:hive2://host:port`` and see
        every table published via :meth:`publish_table` under
        ``global_temp``. Returns the bound port."""
        hc = self.spark.sparkContext._jsc.hadoopConfiguration()
        hc.set("hive.server2.thrift.port", str(port))
        hc.set("hive.server2.thrift.bind.host", host)
        jvm = self.spark.sparkContext._jvm
        self._thrift_server = jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
            self.spark._jsparkSession.sqlContext()
        )
        self._thrift_port = port
        return port

    def serve_connect(self, port: int = 15002) -> int:
        """Start the Spark Connect gRPC service on this session's context
        (the second remote surface; the in-container Python lacks grpcio,
        so the *client* path is exercised where available and the service
        liveness is asserted at the TCP layer — see COVERAGE.md)."""
        jsc = self.spark.sparkContext._jsc.sc()
        # binding port is read from the context's SparkConf at service start
        jsc.conf().set("spark.connect.grpc.binding.port", str(port))
        jvm = self.spark.sparkContext._jvm
        jvm.org.apache.spark.sql.connect.service.SparkConnectService.start(jsc)
        self._connect_port = port
        return port

    def remote_sql(self, sql: str, timeout: int = 180) -> tuple[list[str], list[tuple]]:
        """Execute SQL against this engine's thrift endpoint from a REAL
        second process (beeline, the stock hive2 JDBC client) — proving
        the network round-trip, not an in-process shortcut. Returns
        (column_names, rows-as-string-tuples); csv2 output, so embedded
        commas in values would need quoting-aware parsing."""
        import os
        import subprocess

        beeline = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "beeline")
        out = subprocess.run(
            [
                beeline,
                "-u",
                f"jdbc:hive2://localhost:{self._thrift_port}",
                "--outputformat=csv2",
                "--silent=true",
                "-e",
                sql,
            ],
            capture_output=True,
            text=True,
            timeout=timeout,
        )
        if out.returncode != 0:
            raise RuntimeError(f"beeline failed: {out.stderr[-500:]}")
        lines = []
        for raw in out.stdout.splitlines():
            # the connection prompt is glued to the first payload line
            if "jdbc:hive2://" in raw:
                raw = raw.split("> ", 1)[-1]
            if raw.strip():
                lines.append(raw)
        if not lines:  # DDL / statements without a result set
            return [], []
        header, *data = lines
        return header.split(","), [tuple(r.split(",")) for r in data]

    def stop_serving(self) -> None:
        srv = getattr(self, "_thrift_server", None)
        if srv is not None:
            srv.stop()
            self._thrift_server = None

    def explain(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN ≅ ExplainNode (datafusion.proto:219-227). The text
        goes through the dialect rewrites so EXPLAIN parses the same
        language :meth:`sql` executes (rewrite-only — a versioned DML
        statement is never executed from here)."""
        from .plans import explain_str

        return explain_str(self.spark.sql(self._rewritten(query)), mode)

    def cache_table(self, name: str, eager: bool = True) -> None:
        """Pin a catalog table as an in-memory columnar relation (no
        reference analogue — its engine re-reads sources per query;
        Spark's cache layer is free capability). Subsequent plans over
        the table scan InMemoryTableScan instead of the source files —
        the interactive-dashboard pattern where one hot dimension is
        read by every query. Eager by default so the first query after
        caching already hits memory."""
        self.spark.catalog.cacheTable(name)
        if eager:
            self.spark.table(name).count()

    def uncache_table(self, name: str) -> None:
        self.spark.catalog.uncacheTable(name)

    def is_cached(self, name: str) -> bool:
        return self.spark.catalog.isCached(name)

    # -- catalog introspection (≅ get_flight_info_tables, flight_sql.rs:597-621)
    def list_tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    def table_schema(self, name: str) -> str:
        return self.spark.table(name).schema.simpleString()

    def estimate(self, query: str) -> dict:
        """Optimizer cost estimate for a SQL query WITHOUT executing it —
        Catalyst's plan statistics (sizeInBytes always; rowCount when CBO
        stats exist from analyze_table), the analogue of DataFusion's
        per-node Statistics used for join planning."""
        prev = self.spark.conf.get("spark.sql.cbo.enabled", "false")
        self.spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            qe = self.spark.sql(self._rewritten(query))._jdf.queryExecution()
            stats = qe.optimizedPlan().stats()
            row_count = stats.rowCount()
            return {
                "size_in_bytes": int(str(stats.sizeInBytes())),
                "row_count": int(str(row_count.get())) if row_count.isDefined() else None,
            }
        finally:
            self.spark.conf.set("spark.sql.cbo.enabled", prev)

    def analyze_table(self, name: str, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...] — feeds
        Catalyst's cost-based optimizer (join reordering, broadcast
        decisions from real row counts instead of file sizes; the Spark
        analogue of DataFusion's statistics-driven planning). Returns the
        catalog stats recorded (sizeInBytes/rowCount). At 100 TB, stats
        collection is itself a distributed scan — run it at write time,
        not query time."""
        _check_ident(name)
        if columns:
            cols = ", ".join(_check_ident(c) for c in columns)
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
        else:
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        stats = next((r.data_type for r in rows if r.col_name == "Statistics"), "")
        return {"table": name, "statistics": stats}
