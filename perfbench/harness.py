"""One benchmark run inside a fresh process (started by ``run.py``).

Closed loop, one client: set up the session, run a first pass over the
workload's distinct statements, warm-up passes, then whole steady passes
until the run time is used, then check every result against DuckDB outside
the timed region. With ``--trace 1`` every other steady run of each shape is
traced and the per-layer record is reported instead of the end-to-end one.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

import workloads as W  # noqa: E402
from spans import COMMIT_FUNCTION, SparkCounters, Tracer, install_wrappers, self_times  # noqa: E402


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` (the driver JVM) and all its descendants
    (the Python workers)."""
    procs = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in procs.items():
        kids.setdefault(pp, []).append(p)
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        ticks += procs.get(p, (0, 0))[1]
        todo.extend(kids.get(p, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: its lowercased column names
    and the rows as ``oracle.compare_strict`` canonicalises them."""
    from ballista_mvp_spark.oracle import _strict_frame

    cols = sorted(str(c).lower() for c in pdf.columns)
    return hashlib.sha1(repr((cols, _strict_frame(pdf))).encode()).hexdigest()


class _Collected:
    """A collected result in the shape ``oracle.compare_strict`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors DataFrame.toPandas
        return self._pdf


def calibration_s(spark, cpus: int) -> float:
    """Fixed in-JVM job (hash-sum of 20M generated ids), median of 3."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, cpus).selectExpr("sum(hash(id) % 1000) AS s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def quantile(values: list[float], pct: int, grid: int = 20_000) -> float:
    """Harrell-Davis estimate of the ``pct`` percentile: a Beta-weighted
    mean of all order statistics. The sample median of a mix of a few
    statement shapes jumps between neighbouring shapes from run to run;
    this estimate moves smoothly with every sample."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n, q = len(x), pct / 100
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = (np.arange(grid) + 0.5) / grid  # midpoints: the density may be infinite at 0 or 1
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0, 1, grid + 1), cdf))
    return float(weights @ x)


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.plan = W.Plan(args.workload, args.seed)
        self.tracer = None
        self.counters = None
        self.records: list[dict] = []  # one per executed statement
        self.first: dict[str, tuple] = {}  # key -> (hash, frame) of first result
        self.layer_rows: list[dict] = []  # per traced steady statement

    # -- setup ---------------------------------------------------------------
    def setup(self) -> dict:
        a = self.args
        from ballista_mvp_spark.session import build_session
        from ballista_mvp_spark.tables import register_all

        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        # -Xms = -Xmx: the heap is committed at its full size, so the driver's
        # peak RSS does not depend on when G1 decides to grow the heap (that
        # decision follows GC time, i.e. the host's speed; llm_stateful on a
        # 4-CPU host: 1150-1706 MiB over five seeds with an adaptive heap,
        # 2636-2733 MiB over three with a fixed one).
        t0 = time.monotonic()
        self.spark = build_session(
            "perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                                 f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t0
        t0 = time.monotonic()
        register_all(self.spark, a.data)
        tables_s = time.monotonic() - t0
        if a.trace:
            self.tracer = Tracer()
            install_wrappers(self.tracer)
        if a.workload == "sql_serve":
            from ballista_mvp_spark.engine import Engine

            self.engine = Engine(spark=self.spark, seed=a.seed)
            self.handles = {n: self.engine.prepare(W.TEMPLATES[n]).handle for n in W.TEMPLATES}
        else:
            from ballista_mvp_spark.queries import ALL_QUERIES

            self.builders = {n: ALL_QUERIES[n] for n in W.LLM_STATEFUL}
        setup_s = time.monotonic() - a.spawn
        self.cpus = cpus
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return {"setup_s": setup_s, "session.build_s": session_s, "tables.register_s": tables_s}

    # -- one statement -------------------------------------------------------
    def _span(self, name: str, layer: str, **attrs):
        return self.tracer.span(name, layer, **attrs) if self.tracer else nullcontext()

    def execute(self, st: W.Statement, phase: str) -> dict:
        traced = self.tracer is not None and self.tracer.on
        mark0 = self.counters.begin() if traced else None
        mark_b, df, pdf, err = None, None, None, None
        with self._span("statement", "statement", key=st.key, workload=self.args.workload,
                        stmt=st.name, phase=phase) as root:
            t0 = time.perf_counter()
            try:
                if self.args.workload == "sql_serve":
                    with self._span("engine.execute_prepared", "engine"):
                        df = self.engine.execute_prepared(self.handles[st.name], args=st.params)
                else:
                    with self._span("queries.build", "queries"):
                        df = self.builders[st.name](self.spark, self.args.data)
                if traced:
                    mark_b = self.counters.mark()
                with self._span("catalyst.executed_plan", "catalyst"):
                    df._jdf.queryExecution().executedPlan()
                with self._span("collect", "collect"):
                    pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed statement is counted, not fatal
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            wall = time.perf_counter() - t0
        rec = {"key": st.key, "name": st.name, "phase": phase, "wall_s": wall,
               "traced": traced, "error": err, "rows": None if pdf is None else len(pdf)}
        if pdf is not None:
            try:
                rec["hash"] = result_hash(pdf)
            except TypeError as e:  # a cell compare_strict cannot canonicalise
                rec["error"] = f"{type(e).__name__}: {e}"
            self.first.setdefault(st.key, (rec.get("hash"), pdf))
        if traced:
            row = {"wall_s": wall}
            row.update(self.counters.statement(mark0, mark_b or self.counters.mark(),
                                               df if pdf is not None else None))
            own = self_times(self.tracer.spans, root["id"])
            row["other_s"] = own.get("statement", 0.0)
            row["engine.sql_s"] = own.get("engine", 0.0)
            row["queries.build_s"] = own.get("queries", 0.0)
            row["operators.build_s"] = own.get("operators", 0.0)
            row["sources.commit_s"] = own.get("sources", 0.0)
            row["catalyst.executed_plan_s"] = own.get("catalyst", 0.0)
            row["collect.s"] = own.get("collect", 0.0)
            sub = self.tracer.spans[root["id"] + 1:]
            row["operators.calls"] = sum(1 for s in sub if s["layer"] == "operators")
            row["sources.commits"] = sum(
                1 for s in sub if s["name"].endswith("." + COMMIT_FUNCTION)
            )
            row["collect.rows"] = rec["rows"] or 0
            rec["span"] = root["id"]
            rec["streams"] = {"started": list(self.counters.started),
                              "batches": [[b["id"], b["batch"]] for b in self.counters.progress]}
            self.layer_rows.append(row)
        self.records.append(rec)
        return rec

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        a = self.args
        load_before = os.getloadavg()
        setup = self.setup()
        if self.tracer is not None:
            self.counters = SparkCounters(self.spark)
        first = [self.execute(st, "first") for st in self.plan.first_pass()]
        first_pass_s = sum(r["wall_s"] for r in first)
        t_warm = time.perf_counter() + W.WARMUP_S[a.workload]
        i = 0
        while i < self.plan.warmup_passes() or time.perf_counter() < t_warm:
            for st in self.plan.warmup_pass(i):
                self.execute(st, f"warmup{i}")
            i += 1
        calib_before = calibration_s(self.spark, self.cpus)
        cpu0 = tree_cpu_s(self.jvm_pid)
        t_end = time.perf_counter() + a.seconds
        passes = 0
        # Whole passes only, so every run samples the same statement mix, and
        # at least two: llm_stateful's passes take 8-12 s, so the run time
        # alone would give one pass or two by chance. In a traced run each
        # shape alternates traced and untraced runs (at least one of each)
        # to measure the tracing overhead; half of the shapes start traced,
        # so the last of the JIT warm-up does not count as overhead.
        runs = dict.fromkeys(self.plan.names, 0)
        while passes < 2 or time.perf_counter() < t_end:
            for st in self.plan.steady_pass():
                if self.tracer is not None:
                    k = self.plan.names.index(st.name)
                    self.tracer.on = (runs[st.name] + k) % 2 == 0
                runs[st.name] += 1
                self.execute(st, f"steady{passes}")
            passes += 1
        if self.tracer is not None:
            self.tracer.on = False
        cpu_s = tree_cpu_s(self.jvm_pid) - cpu0
        rss = vm_hwm_mib(self.jvm_pid)
        calib_after = calibration_s(self.spark, self.cpus)
        load_after = os.getloadavg()
        failed_keys = self.check()
        if self.counters is not None:
            self.counters.close()

        steady = [r for r in self.records if r["phase"].startswith("steady")]
        # A failed statement keeps its time to failure in the latencies but
        # does not count as completed.
        lat = [r["wall_s"] for r in steady]
        completed = sum(1 for r in steady if r["error"] is None)
        attempted = len(self.records)
        failed = sum(1 for r in self.records if not r["ok"])
        tail = quantile(lat, W.TAIL_PCT)
        e2e = {
            "setup_s": setup["setup_s"],
            "first_pass_s": first_pass_s,
            "latency_p50_s": quantile(lat, 50),
            "latency_tail_s": tail,
            "throughput_qps": completed / sum(lat),
            "cpu_s_per_stmt": cpu_s / len(steady),
            "driver_rss_peak_mib": rss,
            "error_rate": failed / attempted,
        }
        layers = {"session.build_s": setup["session.build_s"],
                  "tables.register_s": setup["tables.register_s"]}
        if self.layer_rows:
            for k in self.layer_rows[0]:
                if k != "wall_s":
                    layers[k] = statistics.fmean(r[k] for r in self.layer_rows)
            ratios = []
            for name in self.plan.names:
                walls = {True: [], False: []}
                for r in steady:
                    if r["name"] == name:
                        walls[r["traced"]].append(r["wall_s"])
                ratios.append(statistics.fmean(walls[True]) / statistics.fmean(walls[False]))
            layers["trace.overhead_ratio"] = statistics.geometric_mean(ratios) - 1
        return {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "scale_factor": a.sf,
            "attempted": attempted,
            "failed": failed,
            "failed_statements": sorted(failed_keys),
            "steady_passes": passes,
            "steady_statements": len(steady),
            "tail": {"percentile": W.TAIL_PCT, "samples": len(lat),
                     "beyond": sum(1 for x in lat if x > tail)},
            "end_to_end": e2e,
            "per_layer": layers,
            "host": {
                "nproc": os.cpu_count(),
                "master": self.spark.sparkContext.master,
                "default_parallelism": self.spark.sparkContext.defaultParallelism,
                "driver_memory": self.spark.conf.get("spark.driver.memory"),
                "loadavg_before": load_before,
                "loadavg_after": load_after,
                "calibration_s_before": calib_before,
                "calibration_s_after": calib_after,
            },
            "statements": self.records,
            "spans": self.tracer.spans if self.tracer else [],
        }

    # -- result checks (never timed) -----------------------------------------
    def check(self) -> set[str]:
        """Compare each distinct statement's first result with DuckDB and
        require every repeat to hash-equal it. Marks each record ok/not ok
        and returns the keys of the distinct statements that failed."""
        from ballista_mvp_spark.oracle import compare_strict, duckdb_connect

        con = duckdb_connect(self.args.data)
        if self.args.workload == "sql_serve":
            by_key = {st.key: st for pool in self.plan.pool.values() for st in pool}
            oracle = {k: W.render_literals(W.TEMPLATES[st.name], st.params) for k, st in by_key.items()}
        else:
            from ballista_mvp_spark.queries import ALL_ORACLES
            from ballista_mvp_spark.queries.extensions import DEDUP_NGRAM_ORACLE

            # dedup_minhash has no registry oracle: LSH may miss pairs on
            # other tables. Its output is the exact-Jaccard-verified word
            # trigram pairs at threshold 0.2, and on the benchmark's tables
            # it finds every pair, so it must equal the exact n-gram oracle.
            oracle = {n: {**ALL_ORACLES, "dedup_minhash": DEDUP_NGRAM_ORACLE}[n]
                      for n in W.LLM_STATEFUL}
        verdict = {}
        for key, (h, pdf) in self.first.items():
            res = compare_strict(key, _Collected(pdf), oracle[key], con)
            verdict[key] = (res.ok, h, "" if res.ok else str(res))
        bad = set()
        for r in self.records:
            ok, h, detail = verdict.get(r["key"], (False, None, "no result"))
            r["ok"] = r["error"] is None and ok and r.get("hash") == h
            if not r["ok"]:
                r["check"] = r["error"] or detail or "result differs from the first run"
                bad.add(r["key"])
        con.close()
        return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    args.spawn = float(os.environ.get("PERFBENCH_SPAWN", T_START))
    runner = Runner(args)
    try:
        out = runner.run()
    finally:
        spark = getattr(runner, "spark", None)
        if spark is not None:
            spark.stop()
    with open(args.result, "w") as f:
        json.dump(out, f, default=str)


if __name__ == "__main__":
    main()
