"""Reference-parity surface as a registered plan: the ENTIRE CNPJ
pipeline — synthetic fixture ZIP/CSV drop (FIXTURES.md), suffix routing
(etl.py:97-110), latin-1 headerless ';' ingestion with declared schemas
(etl.py:87, 38-53), SQLite-affinity emulation views (etl.py:118-163),
and the verbatim QUERY_FINAL star join (etl.py:191-234) — executed end
to end inside one queries() key.

The driver's testdata has no CNPJ tables, so this plan generates its
fixtures in a temp dir; the DuckDB oracle reads a reference-faithful
FEED staged at a deterministic path (stage_oracle_feed): the same
deterministic fixture shards ingested exactly as the reference ingests
them — pandas dtype=str over latin-1 CSV (etl.py:87) — published as one
parquet per table, then the same affinity views + the verbatim
QUERY_FINAL run inside the oracle SQL itself. The two engines share only
the fixture GENERATOR (the data); ingestion, typing, and the star join
are computed independently end to end. The golden-quirk surface
(decimal-comma capital, yyyymmdd text dates, padded municipio names,
IN-list dedup, orphan-dropping inner joins) is therefore hash-checked by
the driver, and additionally by tests/test_cnpj_parity.py.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession

from etl_cnpjs_spark.cnpj import fixtures
from etl_cnpjs_spark.cnpj.flagship import (
    QUERY_FINAL,
    affinity_view_sql,
    register_affinity_views,
    run_flagship,
)
from etl_cnpjs_spark.cnpj.ingest import discover
from etl_cnpjs_spark.cnpj.load import load_raw_parquet, register_raw
from etl_cnpjs_spark.cnpj.schemas import AFFINITY_KEYS, DIM_COLUMNS, TABLE_COLUMNS
from etl_cnpjs_spark.memo import session_tmpdir, stage_once
from etl_cnpjs_spark.plans.registry import register

# Fixture volume tracks the requested SF so the bench measures the
# flagship at real-shaped row counts (sf0.1 ≈ the suggested FIXTURES.md
# sizes ×100), while driver correctness (sf0.01) stays quick.
_SIZES = {"0.001": (1_000, 2_500), "0.01": (10_000, 25_000), "0.1": (100_000, 250_000)}

# applicationId → sizes currently registered in that session's views.
_env_cache: dict[str, tuple[int, int]] = {}


def _sizes_for(sf_dir: str) -> tuple[int, int]:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return _SIZES.get(m.group(1).rstrip(".") if m else "", _SIZES["0.001"])


# Deterministic oracle-feed location baked into the oracle SQL string.
# SIZE-KEYED: each fixture volume stages into its own directory, so
# processes comparing at different SFs (the driver at sf0.01, the local
# suite at sf0.001/0.1, bench at sf0.1 — possibly concurrently) never
# clobber each other's feed between the Spark run and the oracle run.
_ORACLE_FEED_ROOT = os.path.join(tempfile.gettempdir(), "cnpj_oracle_feed")


def _feed_dir(sizes: tuple[int, int]) -> str:
    return os.path.join(_ORACLE_FEED_ROOT, f"{sizes[0]}x{sizes[1]}")


# Generated fixture SOURCE (the CSV/zip drop), staged across processes
# at a deterministic size-keyed path (memo.stage_once): the generator is
# deterministic (seed 42, byte-identical shards every run) and produces
# INPUT data, so re-running it per process was ~6.5 s of the sf0.1
# staging budget spent recreating bytes that already exist. The stage
# name carries a digest of the generator source, so editing fixtures.py
# invalidates the staged drop.
_FIXTURE_SRC_ROOT = os.path.join(tempfile.gettempdir(), "cnpj_fixture_src")


def _generator_digest() -> str:
    import hashlib

    with open(fixtures.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _generated_fixtures(sizes: tuple[int, int]) -> tuple[str, dict]:
    """(stage dir, {table: [shard paths]}) of the staged fixture drop."""

    def build(work: str) -> None:
        paths = fixtures.generate(work, seed=42, n_empresas=sizes[0], n_estab=sizes[1])
        rel = {t: [os.path.relpath(p, work) for p in ps] for t, ps in paths.items()}
        with open(os.path.join(work, "tables.json"), "w") as f:
            json.dump(rel, f)

    src = stage_once(_FIXTURE_SRC_ROOT, f"{sizes[0]}x{sizes[1]}-{_generator_digest()}", build)
    with open(os.path.join(src, "tables.json")) as f:
        rel = json.load(f)
    return src, {t: [os.path.join(src, p) for p in ps] for t, ps in rel.items()}


def stage_oracle_feed(sizes: tuple[int, int] | None = None) -> str:
    """Publish the DuckDB oracle feed: deterministic fixture shards
    (seed 42) ingested exactly as the reference ingests them — pandas
    dtype=str over latin-1 ';' headerless CSV (etl.py:87) — one parquet
    per QUERY_FINAL table at a deterministic size-keyed path, staged
    once across processes (memo.stage_once). Only the fixture generator
    is shared with the Spark path: the bytes under comparison are
    produced by two independent ingestion stacks."""
    sizes = sizes or _SIZES["0.01"]

    def build(feed: str) -> None:
        import pandas as pd

        _, paths = _generated_fixtures(sizes)
        for t in AFFINITY_KEYS:  # exactly the QUERY_FINAL-facing tables
            pdf = pd.concat(
                [
                    pd.read_csv(
                        p, sep=";", header=None, dtype=str,
                        encoding="latin1", names=TABLE_COLUMNS[t],
                    )
                    for p in paths[t]
                ],
                ignore_index=True,
            )
            pdf.to_parquet(os.path.join(feed, f"{t}.parquet"), index=False)

    return stage_once(_ORACLE_FEED_ROOT, os.path.basename(_feed_dir(sizes)), build)


def _oracle_sql() -> str:
    """WITH raw_* (read_parquet feed) + affinity views + QUERY_FINAL,
    verbatim — the whole reference pipeline as one DuckDB statement.
    The feed path is size-keyed and resolved AT IMPORT from the same SF
    the local suite compares at (SPARK_GRAFT_TEST_SF_DIR, default the
    driver's sf0.01), so a process comparing at one SF always reads the
    feed staged for that SF, whatever other processes stage elsewhere."""
    sizes = _sizes_for(os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "sf0.01"))
    feed = _feed_dir(sizes)
    ctes = []
    for t in AFFINITY_KEYS:
        path = os.path.join(feed, f"{t}.parquet")
        ctes.append(f"raw_{t} AS (SELECT * FROM read_parquet('{path}'))")
        ctes.append(f"{t} AS ({affinity_view_sql(t, 'raw_' + t)})")
    return "WITH " + ",\n     ".join(ctes) + QUERY_FINAL


def ensure_cnpj_env(spark: SparkSession, sf_dir: str) -> None:
    """Generate fixtures + raw-load + register views, once per
    (session, size) — staging, not query work (bench pre-warms it)."""
    sizes = _sizes_for(sf_dir)
    stage_oracle_feed(sizes)  # keep the DuckDB feed in lockstep with the SF
    if _env_cache.get(spark.sparkContext.applicationId) == sizes:
        return
    src, paths = _generated_fixtures(sizes)
    base = session_tmpdir("cnpj_plan_")  # scratch, not output
    routed = discover(os.path.join(src, "zips"))
    table_paths = load_raw_parquet(spark, routed, os.path.join(base, "raw"))
    dim_routed = {t: paths[t] for t in DIM_COLUMNS}
    table_paths.update(
        load_raw_parquet(spark, dim_routed, os.path.join(base, "raw"))
    )
    register_raw(spark, table_paths)
    register_affinity_views(spark)
    _env_cache[spark.sparkContext.applicationId] = sizes


@register("cnpj_flagship", oracle=_oracle_sql(), tags=("cnpj", "parity", "pipeline"))
def cnpj_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY_FINAL (etl.py:191-234) over the synthetic CNPJ drop — the
    CNPJ tables aren't part of the TPC-H-ish testdata, so sf_dir only
    sets fixture VOLUME (see _SIZES); generation + raw load run once
    per (session, size). The oracle replays the same drop through the
    reference's own ingestion shape (pandas dtype=str, latin-1) and the
    verbatim SQL — see stage_oracle_feed."""
    ensure_cnpj_env(spark, sf_dir)
    return run_flagship(spark)
