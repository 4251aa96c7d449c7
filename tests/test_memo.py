"""memo.py: fingerprinted session memos and verified cross-process
stages — a rewritten input rebuilds its entry, a reaped stage file is
rebuilt, and a stage another user could write is refused."""

from __future__ import annotations

import os
import re
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_cnpjs_spark import catalog, memo
from etl_cnpjs_spark.plans import cnpj_parity


def test_table_rewritten_in_place_is_read_with_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert catalog.table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"b": ["x"], "c": [3]}), path)
    df = catalog.table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 3)]


def test_fixture_drop_rebuilds_a_deleted_shard(tmp_path, monkeypatch):
    monkeypatch.setattr(cnpj_parity, "_FIXTURE_SRC_ROOT", str(tmp_path / "src"))
    src, paths = cnpj_parity._generated_fixtures((50, 120))
    shard = paths["estabelecimentos"][0]
    with open(shard, "rb") as f:
        want = f.read()

    os.remove(shard)
    src2, paths2 = cnpj_parity._generated_fixtures((50, 120))
    assert (src2, paths2) == (src, paths)
    with open(shard, "rb") as f:
        assert f.read() == want


def test_stage_once_verifies_sizes_on_every_call(tmp_path):
    builds = []

    def build(d):
        builds.append(d)
        with open(os.path.join(d, "part"), "w") as f:
            f.write("payload")

    root = str(tmp_path / "root")
    stage = memo.stage_once(root, "s", build)
    assert memo.stage_once(root, "s", build) == stage and len(builds) == 1

    with open(os.path.join(stage, "part"), "w") as f:
        f.write("pay")  # truncated by a reaper or a crash
    assert memo.stage_once(root, "s", build) == stage and len(builds) == 2
    with open(os.path.join(stage, "part")) as f:
        assert f.read() == "payload"
    assert sorted(os.listdir(root)) == ["s"]  # no work or stale dir left


def test_concurrent_stage_once_publishes_one_complete_stage(tmp_path):
    root = str(tmp_path / "root")

    def build(d):
        time.sleep(0.02)  # widen the build/publish race
        with open(os.path.join(d, "part"), "w") as f:
            f.write("payload")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(2):  # an empty root, then a stale stage
            with ThreadPoolExecutor(max_workers=12) as pool:
                futures = [pool.submit(memo.stage_once, root, "s", build) for _ in range(12)]
                stages = {f.result(timeout=60) for f in futures}
            assert stages == {os.path.join(root, "s")}
            assert memo._verified(os.path.join(root, "s"))
            assert os.listdir(root) == ["s"]
            with open(os.path.join(root, "s", "part"), "w") as f:
                f.write("stale")
    finally:
        sys.setswitchinterval(interval)


def test_stage_root_owned_by_another_uid_is_refused(tmp_path, monkeypatch):
    root = tmp_path / "root"
    root.mkdir(mode=0o700)
    monkeypatch.setattr(os, "getuid", lambda: root.stat().st_uid + 1)
    with pytest.raises(PermissionError, match=re.escape(str(root))):
        memo.stage_once(str(root), "s", lambda d: None)


def test_group_writable_stage_is_refused(tmp_path):
    root = tmp_path / "root"
    (root / "s").mkdir(parents=True, mode=0o700)
    root.chmod(0o700)
    (root / "s").chmod(0o770)
    with pytest.raises(PermissionError, match=re.escape(str(root / "s"))):
        memo.stage_once(str(root), "s", lambda d: None)
