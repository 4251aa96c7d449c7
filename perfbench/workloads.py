"""The three workloads and what one run of each measures.

A run is: stage inputs (the load generator's cost, not timed as set-up)
→ set up once (the session start that launches the JVM, plus the
workload's staging) → a fixed number of passes. The first pass in a
fresh session is the cold pass; `pass_s` is the median of the warm
passes after it. On `registry_mix` the first execution of every key is
part of set-up, so every pass is warm. The number of warm passes
follows from the run's seconds and the workload's nominal pass time
only, never from how fast the passes actually ran, so every run of the
same arguments makes the same passes.

Every operation is checked against an oracle computed by an independent
path; an exception, a timeout or a wrong result counts as a failed
operation and is named in the run record.
"""

from __future__ import annotations

import csv
import os
import shutil
import statistics
import subprocess
import threading
import time
import traceback
from contextlib import nullcontext

from perfbench import inputs as staging
from perfbench.spans import Tracer

# Input volume of the two CNPJ workloads and scale of the registry tables.
CNPJ_SIZES = (40_000, 100_000)  # (empresas, estabelecimentos) rows
MIX_SF = 0.01

# A family-covering subset of bench.py's HEADLINE keys (see NOTES.md).
MIX_KEYS = [
    "tpch_q5",
    "dedup_minhash",
    "corpus_curate",
    "graph_pagerank",
    "sim_knn_join",
    "events_sessionize",
    "agg_count_by",
]

OP_TIMEOUT_S = 60.0  # one operation; its jobs are cancelled after this

# Warm passes per run: as many as fill the run's seconds on a calm 4-core
# box, where a warm pass takes NOMINAL_PASS_S, and at least one. The
# count depends on the arguments only, never on how fast the passes ran.
NOMINAL_PASS_S = {"cnpj_pipeline": 2.5, "cnpj_requery": 1.7, "registry_mix": 4.0}
# A guard for the benchmark's own deadline, not a measurement budget:
# no pass starts once the run has taken this long. A run on a box slow
# enough to reach it makes fewer passes, and its record says so.
DEADLINE_S = 120.0


def warm_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def family(key: str) -> str:
    for prefix, fam in (("tpch_", "tpch"), ("dedup_", "dedup"), ("sim_", "sim"),
                        ("corpus_", "corpus"), ("graph_", "graph"),
                        ("events_", "events"), ("stream_", "events")):
        if key.startswith(prefix):
            return fam
    return "other"


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc. A child that still shares
    its parent's address space (the JVM spawns `chmod` and friends with
    vfork semantics) or a forked copy that has not exec'd yet shows the
    parent's pages as its own; a child with exactly its parent's virtual
    size is that case and not counted. (Comparing RSS too misses it when
    the parent's RSS changes between the two reads.)"""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        parent, vsize, rss = {}, {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            vsize[int(pid)], rss[int(pid)] = int(fields[20]), int(fields[21]) * self._page
        kids: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        root = os.getpid()
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            if pid not in rss or (pid != root and vsize[pid] == vsize.get(parent[pid])):
                continue
            total += rss[pid]
            todo.extend(kids.get(pid, ()))
        return total

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self._tree_rss())
            if self._stop.wait(self._interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=10)


class Run:
    """State of one benchmark run: the session, the counters and the
    record of every failed operation."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 store: str, run_dir: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.store, self.run_dir = store, run_dir
        self.tracer = Tracer() if trace else None
        self.t_start = time.perf_counter()
        self.attempted = 0
        self.failures: list[dict] = []
        self.ops: list[tuple[str, float, bool]] = []  # (name, seconds, ok)
        self.findings: dict[str, dict] = {}
        self.spark = None
        self.inputs: dict = {}
        self.setup_s: float | None = None
        self.session_start_s: float | None = None
        self.truncated = False  # DEADLINE_S cut the passes short
        self.passes: list[dict] = []  # {"index", "wall", "ok", "cold"}
        self.setup_pass_walls: list[float] = []  # a pass run inside set-up
        self.rss = RssSampler()  # started with the set-up

    # -- spans and operations ------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def phase(self, **attrs):
        if self.tracer:
            self.tracer.attrs = attrs

    def op(self, name: str, fn, check=None):
        """Run one checked operation: (ok, value, seconds fn took; the
        check is not timed). A watchdog cancels the session's jobs after
        OP_TIMEOUT_S, which surfaces as a timeout."""
        self.attempted += 1
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            if self.spark is not None:
                self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception as exc:  # a failed operation must not end the run
            seconds = time.perf_counter() - t0
            self.failures.append({
                "op": name, "kind": "timeout" if fired.is_set() else "exception",
                "error": f"{type(exc).__name__}: {exc}"[:500],
                "traceback": traceback.format_exc(limit=4)[-2000:],
            })
            self.ops.append((name, seconds, False))
            return False, None, seconds
        finally:
            timer.cancel()
        seconds = time.perf_counter() - t0
        try:
            problem = check(value) if check else None
        except Exception as exc:  # a check that cannot read the result fails it
            problem = f"check raised {type(exc).__name__}: {exc}"[:500]
        self.ops.append((name, seconds, not problem))
        if problem:
            self.failures.append({"op": name, "kind": "wrong_result", "error": problem})
            return False, value, seconds
        return True, value, seconds

    def finding(self, name: str, detail: dict) -> None:
        f = self.findings.setdefault(name, {"count": 0, **detail})
        f["count"] += 1

    # -- session ---------------------------------------------------------------

    def start_session(self) -> None:
        from etl_cnpjs_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark(f"perfbench-{self.workload}")
        self.session_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark

    def stop_session(self) -> None:
        """Stop Spark and the JVM behind it, and wait until it has exited."""
        from pyspark import SparkContext

        self.rss.stop()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # -- the timed loop ----------------------------------------------------------

    def setup(self, stage) -> None:
        """Start the session (and with it the JVM), then stage()."""
        self.rss.start()
        self.phase(phase="setup")
        t0 = time.perf_counter()
        with self.span("setup"):
            self.start_session()
            stage()
        self.setup_s = time.perf_counter() - t0

    def measure(self, one_pass, cold_first: bool) -> None:
        """one_pass(i) -> (ok, seconds of timed work); an optional cold
        pass, then warm_passes() warm ones."""
        total = int(cold_first) + warm_passes(self.workload, self.seconds)
        for i in range(total):
            if time.perf_counter() - self.t_start >= DEADLINE_S and any(
                    not p["cold"] for p in self.passes):
                self.truncated = True
                break
            cold = cold_first and i == 0
            self.phase(phase="pass", **{"pass": i, "cold": cold})
            with self.span("pass", index=i):
                ok, wall = one_pass(i)
            self.passes.append({"index": i, "wall": wall, "ok": ok, "cold": cold})
        self.phase()

    def pass_s(self) -> float:
        warm = [p["wall"] for p in self.passes if not p["cold"] and p["ok"]]
        warm = warm or [p["wall"] for p in self.passes if not p["cold"]]
        return statistics.median(warm)

    def cold_pass_s(self) -> float | None:
        """The first pass in a fresh session, in the window or in set-up."""
        cold = [p["wall"] for p in self.passes if p["cold"]] + self.setup_pass_walls
        return cold[0] if cold else None


# --- checks -------------------------------------------------------------------


def _observed(df, columns=None, digest: bool = True):
    """(df with an observe attached, Observation): rows and, if asked, the
    order-insensitive hash, collected on the write that runs anyway."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    if digest:
        aggs.append(F.sum(staging.spark_row_digest(columns or df.columns)).alias("hash"))
    return df.observe(obs, *aggs), obs


def _check_result(got: dict, oracle: dict) -> str | None:
    if got["rows"] != oracle["rows"]:
        return f"rows {got['rows']} != expected {oracle['rows']}"
    if "hash" in got and int(got["hash"] or 0) != oracle["hash"]:
        return f"hash {got['hash']} != expected {oracle['hash']}"
    return None


def check_bom_csv(path: str, oracle: dict) -> tuple[str | None, dict]:
    """(problem, stats) for the merged export: exactly one BOM, exactly
    one header, the oracle's rows. The export trims leading and trailing
    whitespace (a known defect, reported as a finding), so the rows are
    gated on the hash of their stripped fields: any other change to the
    text fails. stats carries both hashes of the rows as written."""
    with open(path, "rb") as f:
        data = f.read()
    bom = b"\xef\xbb\xbf"
    header = ";".join(oracle["columns"])
    stats = {"bytes": len(data)}
    if not data.startswith(bom) or data.count(bom) != 1:
        return f"expected one leading BOM, found {data.count(bom)}", stats
    lines = data[len(bom):].decode("utf-8").splitlines()
    if not lines or lines[0] != header or lines.count(header) != 1:
        return "expected exactly one header line, first", stats
    rows = list(csv.reader(lines[1:], delimiter=";"))
    stats["rows"] = len(rows)
    stats["hash"] = sum(staging.row_digest(r) for r in rows)
    stats["hash_stripped"] = sum(staging.row_digest(r, strip=True) for r in rows)
    if len(rows) != oracle["rows"]:
        return f"csv rows {len(rows)} != expected {oracle['rows']}", stats
    if stats["hash_stripped"] != oracle["hash_stripped"]:
        return (f"csv hash (fields stripped) {stats['hash_stripped']} "
                f"!= expected {oracle['hash_stripped']}"), stats
    return None, stats


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- cnpj_pipeline --------------------------------------------------------------


def _stage_cnpj(run: Run) -> None:
    run.inputs = staging.stage("cnpj", os.path.join(run.store, "inputs"), run.seed, *CNPJ_SIZES)


def _dims_routed(run: Run) -> dict[str, list[str]]:
    from etl_cnpjs_spark.cnpj.schemas import DIM_COLUMNS

    return {t: run.inputs["dims"][t] for t in DIM_COLUMNS}


def run_pipeline(run: Run) -> None:
    """ZIP drop → extract → raw parquet → affinity views → QUERY_FINAL →
    one merged UTF-8-BOM CSV, each pass into a fresh output directory."""
    from etl_cnpjs_spark.cnpj import export, flagship, ingest, load

    _stage_cnpj(run)
    oracle = run.inputs["oracle"]
    run.setup(lambda: None)

    def one_pass(i: int) -> tuple[bool, float]:
        out = os.path.join(run.run_dir, f"pipeline-{i}")

        def work():
            for z in run.inputs["zips"]:
                ingest.extract_zip(z, os.path.join(out, "extract"))
            routed = ingest.discover(os.path.join(out, "extract"))
            raw = os.path.join(out, "raw")
            table_paths = load.load_raw_parquet(run.spark, routed, raw)
            table_paths.update(load.load_raw_parquet(run.spark, _dims_routed(run), raw))
            load.register_raw(run.spark, table_paths)
            flagship.register_affinity_views(run.spark)
            df, obs = _observed(flagship.run_flagship(run.spark))
            parts = export.export_csv(df, os.path.join(out, "parts"))
            final = export.merge_single_file(parts, os.path.join(out, "resultado_final.csv"))
            return final, obs

        def verify(value) -> str | None:
            final, obs = value
            problem = _check_result(obs.get, oracle)
            if problem:
                return problem
            problem, stats = check_bom_csv(final, oracle)
            if problem:
                return problem
            if stats["hash"] != oracle["hash"]:
                run.finding("export_trims_whitespace", {
                    "detail": "merged CSV fields lose the leading and trailing "
                              "whitespace of the QUERY_FINAL result they were "
                              "written from; equal once stripped",
                })
            return None

        ok, _value, wall = run.op("pipeline_pass", work, check=verify)
        shutil.rmtree(out, ignore_errors=True)
        return ok, wall

    run.measure(one_pass, cold_first=True)


# --- cnpj_requery -----------------------------------------------------------------


def run_requery(run: Run) -> None:
    """Raw parquet staged in set-up; each pass runs QUERY_FINAL as
    DataFrame and as SQL over the affinity views, then materialises the
    typed layer, all to the noop sink."""
    from etl_cnpjs_spark.cnpj import flagship, ingest, load, typed

    _stage_cnpj(run)
    oracle = run.inputs["oracle"]
    n_emp, n_est = run.inputs["n_empresas"], run.inputs["n_estab"]

    src = os.path.join(run.run_dir, "requery-src")
    for z in run.inputs["zips"]:
        ingest.extract_zip(z, src)

    def stage() -> None:
        raw = os.path.join(run.run_dir, "requery-raw")
        table_paths = load.load_raw_parquet(run.spark, ingest.discover(src), raw)
        table_paths.update(load.load_raw_parquet(run.spark, _dims_routed(run), raw))
        load.register_raw(run.spark, table_paths)
        flagship.register_affinity_views(run.spark)
        typed.register_typed(run.spark)

    run.setup(stage)

    def query(kind: str) -> tuple[bool, float]:
        build = flagship.run_flagship if kind == "dataframe" else flagship.run_flagship_sql
        execute = "cnpj.flagship.execute" if kind == "dataframe" else "cnpj.flagship.sql_execute"

        def work():
            df = build(run.spark)
            with run.span("cnpj.flagship.analyze"):
                df.schema  # noqa: B018 — forces analysis
            df, obs = _observed(df)
            with run.span(execute):
                _noop(df)
            return obs.get

        ok, _rows, wall = run.op(f"flagship_{kind}", work,
                                 check=lambda got: _check_result(got, oracle))
        return ok, wall

    def typed_layer() -> tuple[bool, float]:
        def work():
            counts = {}
            with run.span("cnpj.typed.execute"):
                for view in ("typed_estabelecimentos", "typed_empresas"):
                    df, obs = _observed(run.spark.table(view), digest=False)
                    _noop(df)
                    counts[view] = obs.get["rows"]
            return counts

        expected = {"typed_estabelecimentos": n_est, "typed_empresas": n_emp}
        ok, _counts, wall = run.op("typed_layer", work, check=lambda got: (
            None if got == expected else f"{got} != {expected}"))
        return ok, wall

    def one_pass(_i: int) -> tuple[bool, float]:
        results = [query("dataframe"), query("sql"), typed_layer()]
        return all(ok for ok, _ in results), sum(wall for _, wall in results)

    run.measure(one_pass, cold_first=True)


# --- registry_mix -------------------------------------------------------------------


def run_mix(run: Run) -> None:
    """Each key constructed, analysed and executed to the noop sink, its
    row count observed on that write and checked against its oracle."""
    from etl_cnpjs_spark import plans

    run.inputs = staging.stage("mix", os.path.join(run.store, "inputs"), run.seed, MIX_SF, *MIX_KEYS)
    sf_dir, expected = run.inputs["sf_dir"], run.inputs["oracle_rows"]

    def execute_key(key: str) -> tuple[bool, float]:
        fn = plans.QUERIES[key].fn
        attrs = {"key": key, "family": family(key)}

        def work():
            with run.span("plans.construct", **attrs):
                df = fn(run.spark, sf_dir)
            with run.span("plans.analyze", **attrs):
                df.schema  # noqa: B018 — forces analysis
            df, obs = _observed(df, digest=False)
            with run.span("plans.execute", **attrs):
                _noop(df)
            return obs.get["rows"]

        def check(rows):
            return None if rows == expected[key] else f"rows {rows} != oracle {expected[key]}"

        ok, _rows, wall = run.op(key, work, check=check)
        return ok, wall

    def all_keys(_i: int = 0) -> tuple[bool, float]:
        results = [execute_key(k) for k in MIX_KEYS]
        return all(ok for ok, _ in results), sum(wall for _, wall in results)

    def first_execution() -> None:
        run.setup_pass_walls.append(all_keys()[1])

    run.setup(first_execution)
    run.measure(all_keys, cold_first=False)


WORKLOADS = {
    "cnpj_pipeline": run_pipeline,
    "cnpj_requery": run_requery,
    "registry_mix": run_mix,
}
