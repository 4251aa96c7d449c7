"""Benchmark of the etl_cnpjs_spark engine: the CNPJ pipeline, CNPJ
re-query and a registry mix, each checked for correctness on every pass.

    python3 perfbench/run.py --workload cnpj_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from --seed into
perfbench/.work/inputs (cached, verified on every hit); each run works in
its own directory under perfbench/.work and removes it at the end.
--trace 0 prints the end-to-end metrics; --trace 1 records spans around
every call into the engine's layers, folds Spark's event log into them
and prints the per-layer metrics. Either way the last line of stdout is
one JSON object {"correct", "attempted", "failed", "metrics"}; the full
run record (environment, input sizes, every pass, every failure by name,
spans when traced) is written to perfbench/.work/records/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
WORKLOADS = ("cnpj_pipeline", "cnpj_requery", "registry_mix")
END_TO_END = {"pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB", "success_ratio": "ratio"}
KEEP_RECORDS = 100


def _mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def pin_environment(run_dir: str, trace: bool) -> dict[str, str]:
    """Engine settings for this box, all state under run_dir; returned
    for the run record. The driver heap is a quarter of RAM, at most 2g.
    Two JVM settings take noise that is not the engine's out of the
    figures; both sides of a comparison run the same JVM, so a change to
    the work the engine does still shows. The C1 compiler only: in a JVM
    that lives for half a minute, when C2's background compiles land
    decides pass times. The serial collector, which HotSpot picks itself
    on small machines: it grows the heap from the live data left after a
    collection, where G1 grows it from the share of time spent collecting,
    so peak RSS follows the memory the engine keeps, not the box's load."""
    heap = f"{max(1, min(2, int(_mem_total_gib() // 4)))}g"
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    submit = [
        "--driver-java-options", "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # every JVM, spark-submit's launcher too: no /tmp/hsperfdata, no /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def instrument(run) -> None:
    """Spans around every public function of the engine's layers."""
    import etl_cnpjs_spark.plans  # noqa: F401 — every importer of catalog.table loaded
    from etl_cnpjs_spark import catalog, session
    from etl_cnpjs_spark.cnpj import export, flagship, ingest, load, typed

    def memo_probe():
        memo = getattr(catalog, "_TABLE_META_CACHE", None)
        before = len(memo) if memo is not None else None
        return lambda: {"memo_hit": memo is not None and len(memo) == before}

    for module, layer in (
        (session, "session"), (ingest, "cnpj.ingest"), (load, "cnpj.load"),
        (flagship, "cnpj.flagship"), (typed, "cnpj.typed"), (export, "cnpj.export"),
        (catalog, "catalog"),
    ):
        run.tracer.instrument(module, layer, {"table": memo_probe} if module is catalog else None)


def summarize(run, env: dict, trace: bool, eventlog_dir: str) -> tuple[dict, dict]:
    """(metrics printed on stdout, full run record)."""
    from perfbench import layers

    import pyspark

    setup_s = run.setup_s
    pass_s = run.pass_s()
    peak_mb = run.rss.peak / 2**20
    ok = run.attempted - len(run.failures)
    record = {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": trace,
        "env": {**env, "pyspark": pyspark.__version__, "python": sys.version.split()[0],
                "nproc": os.cpu_count(), "mem_total_gib": round(_mem_total_gib(), 1)},
        "inputs": {k: v for k, v in run.inputs.items() if k not in ("zips", "dims")},
        "setup_s": run.setup_s,
        "session_start_s": run.session_start_s,
        "warm_passes": sum(not p["cold"] for p in run.passes),
        "truncated_by_deadline": run.truncated,
        "cold_pass_s": run.cold_pass_s(),
        "passes": run.passes,
        "ops": run.ops,
        "attempted": run.attempted,
        "failures": run.failures,
        "findings": run.findings,
    }
    if not trace:
        values = {"pass_s": pass_s, "setup_s": setup_s, "peak_rss_mb": peak_mb,
                  "success_ratio": ok / run.attempted}
        metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    else:
        from perfbench.spans import read_event_logs

        t0 = time.perf_counter()
        jobs, sqls = read_event_logs(eventlog_dir)
        spans = run.tracer.spans
        warm = [p["index"] for p in run.passes if not p["cold"]]
        values = layers.layer_metrics(spans, jobs, sqls, warm, int(env["SPARK_GRAFT_CPUS"]))
        fold_s = time.perf_counter() - t0
        values.update({
            "session.start_s": run.session_start_s,
            "run.pass_s": pass_s,
            "run.cold_pass_s": run.cold_pass_s() or 0.0,
            "run.setup_s": setup_s,
            "run.peak_rss_mb": peak_mb,
            "run.spans": len(spans),
            "run.jobs": len(jobs),
            "run.fold_s": fold_s,
        })
        metrics = {name: (values[name], unit) for name, unit in layers.UNITS.items()}
        record["self_s_per_pass"] = layers.self_times(spans, warm)
        record["spans"] = run.tracer.to_json()
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return record["metrics"], record


def _write_record(record: dict) -> str:
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = (f"{record['workload']}-seed{record['seed']}-trace{int(record['trace'])}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    path = os.path.join(records, name)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    old = sorted(os.listdir(records), key=lambda n: os.path.getmtime(os.path.join(records, n)))
    for n in old[:-KEEP_RECORDS]:
        os.remove(os.path.join(records, n))
    return path


def _remove_stale_run_dirs() -> None:
    """Work directories of runs whose process is gone (killed runs)."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name[len("run-"):]
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "etl_cnpjs_spark")):
        print(f"perfbench: no engine package at {REPO}/etl_cnpjs_spark; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    # Everything the engine, the JVM or its workers print goes to stderr;
    # stdout carries only the result line.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    _remove_stale_run_dirs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = pin_environment(run_dir, bool(args.trace))
    sys.path.insert(0, REPO)
    from perfbench import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), WORK, run_dir)
    try:
        if run.tracer:
            instrument(run)
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            if run.tracer:
                run.tracer.restore()
            run.stop_session()
        metrics, record = summarize(run, env, bool(args.trace), os.path.join(run_dir, "eventlog"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    path = _write_record(record)

    failed = len(run.failures)
    for name, m in metrics.items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"perfbench: {run.attempted - failed}/{run.attempted} operations correct; "
          f"{record['warm_passes']} warm passes; record {os.path.relpath(path, REPO)}",
          file=sys.stderr)
    if run.truncated:
        print("perfbench: WARNING the run reached its deadline and made fewer "
              "passes than its arguments ask for", file=sys.stderr)
    for f in run.failures:
        print(f"perfbench: FAILED {f['op']} ({f['kind']}): {f['error']}", file=sys.stderr)
    for name, f in run.findings.items():
        print(f"perfbench: finding {name}: {f}", file=sys.stderr)
    result_out.write(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
