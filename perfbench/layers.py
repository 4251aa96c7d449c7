"""Per-layer metrics of a traced run: span durations and the Spark jobs
attributed to them, per warm pass, reported as the median over passes.

Layer names are the engine's module names. A duration metric sums the
outermost spans of its names in a pass (a span nested in another of the
same metric is not counted twice). A job counts for a layer when the
innermost span containing its submission time, or any ancestor of that
span, is one of the layer's spans.
"""

from __future__ import annotations

import statistics

from perfbench.spans import ancestors, attribute, self_time

FAMILIES = ("tpch", "dedup", "sim", "corpus", "graph", "events", "other")

DURATIONS = {
    "cnpj.ingest.extract_s": {"cnpj.ingest.extract_zip"},
    "cnpj.ingest.discover_s": {"cnpj.ingest.discover"},
    "cnpj.load.raw_s": {"cnpj.load.load_raw_parquet", "cnpj.load.register_raw"},
    "cnpj.flagship.views_s": {"cnpj.flagship.register_affinity_views"},
    "cnpj.flagship.construct_s": {"cnpj.flagship.run_flagship", "cnpj.flagship.run_flagship_sql"},
    "cnpj.flagship.analyze_s": {"cnpj.flagship.analyze"},
    "cnpj.flagship.execute_s": {"cnpj.flagship.execute"},
    "cnpj.flagship.sql_execute_s": {"cnpj.flagship.sql_execute"},
    "cnpj.typed.execute_s": {"cnpj.typed.execute"},
    "cnpj.export.write_s": {"cnpj.export.export_csv"},
    "cnpj.export.merge_s": {"cnpj.export.merge_single_file"},
    "catalog.table_s": {"catalog.table"},
    "plans.construct_s": {"plans.construct"},
    "plans.analyze_s": {"plans.analyze"},
    "plans.execute_s": {"plans.execute"},
}

JOB_GROUPS = {
    "cnpj.load": DURATIONS["cnpj.load.raw_s"],
    "cnpj.flagship": {
        "cnpj.flagship.register_affinity_views", "cnpj.flagship.run_flagship",
        "cnpj.flagship.run_flagship_sql", "cnpj.flagship.analyze",
        "cnpj.flagship.execute", "cnpj.flagship.sql_execute",
    },
    "cnpj.typed": {"cnpj.typed.execute"},
    "cnpj.export": {"cnpj.export.export_csv", "cnpj.export.merge_single_file"},
    "plans": {"plans.construct", "plans.analyze", "plans.execute"},
}

# Every per-layer metric this module reports, in output order, with unit.
UNITS = {
    "session.start_s": "s",
    "cnpj.ingest.extract_s": "s",
    "cnpj.ingest.discover_s": "s",
    "cnpj.load.raw_s": "s",
    "cnpj.load.jobs": "count",
    "cnpj.load.tasks": "count",
    "cnpj.load.executor_cpu_s": "s",
    "cnpj.load.cpu_util": "ratio",
    "cnpj.load.input_bytes": "bytes",
    "cnpj.load.output_bytes": "bytes",
    "cnpj.load.bytes_per_input_byte": "ratio",
    "cnpj.flagship.views_s": "s",
    "cnpj.flagship.construct_s": "s",
    "cnpj.flagship.analyze_s": "s",
    "cnpj.flagship.execute_s": "s",
    "cnpj.flagship.sql_execute_s": "s",
    "cnpj.flagship.jobs": "count",
    "cnpj.flagship.executor_cpu_s": "s",
    "cnpj.flagship.scan_bytes": "bytes",
    "cnpj.flagship.shuffle_write_bytes": "bytes",
    "cnpj.flagship.broadcast_joins": "count",
    "cnpj.typed.execute_s": "s",
    "cnpj.typed.executor_cpu_s": "s",
    "cnpj.export.write_s": "s",
    "cnpj.export.merge_s": "s",
    "cnpj.export.output_bytes": "bytes",
    "catalog.table_calls": "count",
    "catalog.table_s": "s",
    "catalog.memo_hit_ratio": "ratio",
    "plans.construct_s": "s",
    "plans.analyze_s": "s",
    "plans.execute_s": "s",
    "plans.overhead_share": "ratio",
    "plans.jobs_per_key": "count",
    "plans.tasks": "count",
    "plans.executor_cpu_s": "s",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    **{f"plans.{fam}.execute_s": "s" for fam in FAMILIES},
    "run.pass_s": "s",
    "run.cold_pass_s": "s",
    "run.setup_s": "s",
    "run.peak_rss_mb": "MB",
    "run.spans": "count",
    "run.jobs": "count",
    "run.fold_s": "s",
}


def _outermost(spans, subset, names: set[str]):
    """Spans of `subset` named in `names` with no ancestor also named so."""
    for s in subset:
        if s.name in names and not any(
            a.name in names for a in ancestors(spans, s) if a is not s
        ):
            yield s


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pass_metrics(spans, by_span, sql_by_span, p: int, cores: int) -> dict[str, float]:
    """Metrics of pass p (its spans carry attrs phase='pass', pass=p);
    by_span / sql_by_span map span id to the jobs / SQL executions
    attributed to it."""
    mine = [s for s in spans if s.attrs.get("phase") == "pass" and s.attrs.get("pass") == p]
    ids = {s.id for s in mine}
    out = {m: sum(s.dur for s in _outermost(spans, mine, names)) for m, names in DURATIONS.items()}

    def group(items_by_span, names):
        found = []
        for sid, items in items_by_span.items():
            if sid in ids and any(a.name in names for a in ancestors(spans, spans[sid])):
                found += items
        return found

    def tot(js, attr):
        return sum(getattr(j, attr) for j in js)

    load = group(by_span, JOB_GROUPS["cnpj.load"])
    out["cnpj.load.jobs"] = len(load)
    out["cnpj.load.tasks"] = tot(load, "tasks")
    out["cnpj.load.executor_cpu_s"] = tot(load, "executor_cpu_s")
    out["cnpj.load.input_bytes"] = tot(load, "input_bytes")
    out["cnpj.load.output_bytes"] = tot(load, "output_bytes")
    out["cnpj.load.cpu_util"] = _ratio(out["cnpj.load.executor_cpu_s"], out["cnpj.load.raw_s"] * cores)
    out["cnpj.load.bytes_per_input_byte"] = _ratio(out["cnpj.load.output_bytes"], out["cnpj.load.input_bytes"])

    fl = group(by_span, JOB_GROUPS["cnpj.flagship"])
    out["cnpj.flagship.jobs"] = len(fl)
    out["cnpj.flagship.executor_cpu_s"] = tot(fl, "executor_cpu_s")
    out["cnpj.flagship.scan_bytes"] = tot(fl, "input_bytes")
    out["cnpj.flagship.shuffle_write_bytes"] = tot(fl, "shuffle_write_bytes")
    out["cnpj.flagship.broadcast_joins"] = tot(group(sql_by_span, JOB_GROUPS["cnpj.flagship"]), "broadcast_joins")

    out["cnpj.typed.executor_cpu_s"] = tot(group(by_span, JOB_GROUPS["cnpj.typed"]), "executor_cpu_s")
    out["cnpj.export.output_bytes"] = tot(group(by_span, JOB_GROUPS["cnpj.export"]), "output_bytes")

    tables = list(_outermost(spans, mine, {"catalog.table"}))
    out["catalog.table_calls"] = len(tables)
    out["catalog.memo_hit_ratio"] = _ratio(sum(bool(s.attrs.get("memo_hit")) for s in tables), len(tables))

    pl = group(by_span, JOB_GROUPS["plans"])
    keys = {s.attrs.get("key") for s in mine if s.name == "plans.execute"}
    busy = out["plans.construct_s"] + out["plans.analyze_s"] + out["plans.execute_s"]
    out["plans.overhead_share"] = _ratio(out["plans.construct_s"] + out["plans.analyze_s"], busy)
    out["plans.jobs_per_key"] = _ratio(len(pl), len(keys))
    out["plans.tasks"] = tot(pl, "tasks")
    out["plans.executor_cpu_s"] = tot(pl, "executor_cpu_s")
    out["plans.shuffle_write_bytes"] = tot(pl, "shuffle_write_bytes")
    out["plans.spill_bytes"] = tot(pl, "spill_bytes")
    for fam in FAMILIES:
        out[f"plans.{fam}.execute_s"] = sum(
            s.dur for s in mine if s.name == "plans.execute" and s.attrs.get("family") == fam
        )
    return out


def layer_metrics(spans, jobs, sqls, passes: list[int], cores: int) -> dict[str, float]:
    """Median over the given passes of every pass metric."""
    by_span = attribute(spans, jobs)
    sql_by_span = attribute(spans, sqls, when=lambda x: x.start)
    per = [pass_metrics(spans, by_span, sql_by_span, p, cores) for p in passes]
    return {m: statistics.median(d[m] for d in per) for m in per[0]} if per else {}


def self_times(spans, passes: list[int]) -> dict[str, float]:
    """Mean self time per pass of every span name over the given passes."""
    out: dict[str, float] = {}
    for s in spans:
        if s.attrs.get("phase") == "pass" and s.attrs.get("pass") in passes:
            out[s.name] = out.get(s.name, 0.0) + self_time(spans, s) / len(passes)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
