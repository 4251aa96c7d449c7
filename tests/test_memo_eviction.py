"""memo.clear: the one eviction hook for every session-scoped memo (the
memos never evict on their own, which is fine for one-application
bench/driver runs but leaks block sets in a long-lived session that
walks many sf_dirs)."""

from __future__ import annotations

from etl_cnpjs_spark import memo
from etl_cnpjs_spark.plans import dedup


def test_clear_memos_evicts_and_rebuilds(spark, sf_dir):
    app = spark.sparkContext.applicationId

    before = {tuple(r) for r in dedup._banded8x2(spark, sf_dir).select("doc_id").collect()}
    assert (app, sf_dir) in dedup._banded8x2.memo
    assert (app, sf_dir) in dedup._doc_shingles.memo

    n = memo.clear(app)
    assert n >= 2
    assert all(key[0] != app for m in memo._MEMOS for key in m)

    # the memo rebuilds transparently and reproduces the same frame
    after = {tuple(r) for r in dedup._banded8x2(spark, sf_dir).select("doc_id").collect()}
    assert after == before
    assert (app, sf_dir) in dedup._banded8x2.memo


def test_clear_memos_all_and_scoped_noop(spark, sf_dir):
    dedup._doc_shingles(spark, sf_dir)
    # a scoped clear for an unknown app touches nothing
    assert memo.clear("application_nonexistent_0") == 0
    assert len(dedup._doc_shingles.memo)
    # an unscoped clear drops everything
    assert memo.clear() >= 1
    assert not any(len(m) for m in memo._MEMOS)
