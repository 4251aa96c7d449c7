"""Event-log fold, job attribution and self-time arithmetic, on a canned
Spark event log (data/eventlog) and hand-built spans.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import layers  # noqa: E402
from perfbench.spans import (  # noqa: E402
    Span,
    Tracer,
    attribute,
    event_log_files,
    read_event_logs,
    self_time,
)

CANNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog")


def _spans() -> list[Span]:
    """A [100, 110] ⊃ B [101, 105] ⊃ C [103, 104]; D [104, 107] is a
    second child of A overlapping B (a pool thread)."""
    attrs = {"phase": "pass", "pass": 0}
    return [
        Span(0, "pass", 100.0, 110.0, None, dict(attrs)),
        Span(1, "cnpj.load.load_raw_parquet", 101.0, 105.0, 0, dict(attrs)),
        Span(2, "cnpj.load.read_raw", 103.0, 104.0, 1, dict(attrs)),
        Span(3, "cnpj.export.export_csv", 104.0, 107.0, 0, dict(attrs)),
    ]


def test_fold_sums_task_metrics_per_job():
    jobs, sqls = read_event_logs(CANNED)
    by_id = {j.id: j for j in jobs}
    assert sorted(by_id) == [0, 1, 2, 3]
    j0 = by_id[0]
    assert j0.submit == 102.0 and j0.end == 102.9
    assert j0.tasks == 3  # stages 0 and 1
    assert abs(j0.executor_cpu_s - 0.9) < 1e-9
    assert j0.input_bytes == 12000
    assert j0.output_bytes == 2500
    assert j0.shuffle_write_bytes == 4000
    assert j0.spill_bytes == 96
    # job 1 lists stage 1 again (skipped there): only stage 2's task is its own
    assert by_id[1].tasks == 1 and abs(by_id[1].executor_cpu_s - 0.05) < 1e-9
    assert by_id[2].tasks == 0
    # the last (final) adaptive plan wins: two broadcast joins, not one
    assert [(s.id, s.broadcast_joins) for s in sqls] == [(0, 2)]


def test_attribution_by_submission_time_is_innermost():
    spans = _spans()
    jobs, sqls = read_event_logs(CANNED)
    got = {sid: sorted(j.id for j in js) for sid, js in attribute(spans, jobs).items()}
    # 102 → B; 103.5 → C (submitted from a pool thread, still inside C's
    # interval); 106 → D; 120 → outside every span
    assert got == {1: [0], 2: [1], 3: [2], -1: [3]}
    sql = attribute(spans, sqls, when=lambda x: x.start)
    assert list(sql) == [1]


def test_self_time_subtracts_union_of_children():
    spans = _spans()
    # A: 10 s minus the union of B [101,105] and D [104,107] = 6 s
    assert abs(self_time(spans, spans[0]) - 4.0) < 1e-9
    assert abs(self_time(spans, spans[1]) - 3.0) < 1e-9  # B minus C
    assert abs(self_time(spans, spans[2]) - 1.0) < 1e-9  # a leaf


def test_self_time_clips_children_to_parent():
    spans = [Span(0, "p", 0.0, 2.0), Span(1, "c", 1.5, 3.0, 0)]
    assert abs(self_time(spans, spans[0]) - 1.5) < 1e-9


def test_layer_metrics_follow_ancestors():
    spans = _spans()
    jobs, sqls = read_event_logs(CANNED)
    m = layers.layer_metrics(spans, jobs, sqls, passes=[0], cores=4)
    assert set(m) <= set(layers.UNITS)
    assert m["cnpj.load.raw_s"] == 4.0
    assert m["cnpj.load.jobs"] == 2  # job 0 in B, job 1 in C under B
    assert m["cnpj.load.tasks"] == 4
    assert abs(m["cnpj.load.cpu_util"] - 0.95 / (4.0 * 4)) < 1e-9
    assert m["cnpj.load.bytes_per_input_byte"] == 2500 / 12000
    assert m["cnpj.export.write_s"] == 3.0
    assert m["cnpj.export.output_bytes"] == 0  # job 2 ran no tasks
    assert m["catalog.table_calls"] == 0 and m["plans.jobs_per_key"] == 0


def test_event_log_files_reads_both_shapes(tmp_path):
    shutil.copytree(CANNED, tmp_path, dirs_exist_ok=True)
    plain = tmp_path / "local-2.inprogress"
    plain.write_text(
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Submission Time": 200000, "Stage IDs": [0]}) + "\n"
        + '{"Event": "SparkListenerTaskEnd", "Stage'  # torn last line
    )
    files = event_log_files(str(tmp_path))
    assert [len(f) for f in files] == [1, 1]
    jobs, _ = read_event_logs(str(tmp_path))
    assert sorted((j.app, j.id) for j in jobs)[-1] == ("local-2.inprogress", 0)
    assert len(jobs) == 5


def test_tracer_parents_pool_threads_and_instruments_importers():
    tracer = Tracer()
    mod = types.ModuleType("perfbench_fake_layer")
    mod.__dict__["work"] = original = lambda x: x + 1
    original.__module__ = mod.__name__
    importer = types.ModuleType("perfbench_fake_layer.user")
    importer.work = mod.work
    sys.modules[mod.__name__], sys.modules[importer.__name__] = mod, importer
    try:
        assert tracer.instrument(mod, "fake") == ["work"]
        with tracer.span("outer"):
            assert importer.work(1) == 2  # the imported name is traced too
            t = threading.Thread(target=lambda: mod.work(2))
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
        tracer.restore()
        assert importer.work is original and mod.work is original
    finally:
        del sys.modules[mod.__name__], sys.modules[importer.__name__]
    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("outer", None), ("fake.work", 0), ("fake.work", 0)]


def test_benchmark_json_names_every_reported_metric():
    from perfbench import run

    path = os.path.join(os.path.dirname(run.BENCH_DIR), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS


def _export(tmp_path, rows, columns=("cnpj", "municipio")):
    path = tmp_path / "resultado_final.csv"
    text = "\n".join(";".join(r) for r in [list(columns), *rows]) + "\n"
    path.write_bytes(b"\xef\xbb\xbf" + text.encode("utf-8"))
    return str(path)


def test_export_gate_allows_trimmed_whitespace_only(tmp_path):
    from perfbench import inputs
    from perfbench.workloads import check_bom_csv

    expected = [["01", "SAO PAULO   "], ["02", "RIO"]]
    oracle = {
        "columns": ["cnpj", "municipio"], "rows": 2,
        "hash": sum(inputs.row_digest(r) for r in expected),
        "hash_stripped": sum(inputs.row_digest(r, strip=True) for r in expected),
    }
    problem, stats = check_bom_csv(_export(tmp_path, [["01", "SAO PAULO"], ["02", "RIO"]]), oracle)
    assert problem is None and stats["hash"] != oracle["hash"]  # trimmed: a finding only
    for bad in ([["SAO PAULO", "01"], ["02", "RIO"]],  # columns swapped
                [["01", "SAO PAULO"], ["02", "RIÓ"]]):  # a value changed
        problem, _ = check_bom_csv(_export(tmp_path, bad), oracle)
        assert problem and "hash" in problem
