"""Raw load: latin-1 ';' headerless CSV shards → all-string parquet
(O4-O5, O9-O10 — ETLCNPJFinalEmpresaEstabelecimentos.py:84-94,113-173).

The reference stamps names on 25k-row pandas chunks and appends to SQLite
under PRAGMA foreign_keys=OFF. Here the whole stage is one declarative
read + one distributed write:

- schema declared positionally (schemas.raw_schema), never inferred;
- all shards of a table read as one multi-path scan (the reference's
  per-file append loop disappears — union is the scan);
- mode('overwrite') replaces DROP+CREATE+append (O9/O10), atomic via
  Spark's commit protocol (O7); re-runs are idempotent — a deliberate
  upgrade over the reference's duplicate-on-rerun append (SURVEY.md §3.2);
- orphan rows load freely: no enforced FKs anywhere (O11 semantics);
- estabelecimentos is additionally written partitioned by uf when asked —
  the scale path for partition pruning (replaces the uf index, etl.py:181).

Reader options pinned (SURVEY.md §7.3 #4): empty CSV field → NULL, matching
pandas dtype=str (NaN) → SQLite NULL in the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_cnpjs_spark.cnpj.schemas import TABLE_COLUMNS, raw_schema


def read_raw(spark: SparkSession, paths: list[str] | str, table: str) -> DataFrame:
    """O4+O5: declared all-string scan of one table's shard set."""
    return (
        spark.read.schema(raw_schema(table))
        .option("sep", ";")
        .option("encoding", "ISO-8859-1")  # etl.py:87
        .option("header", "false")
        .option("nullValue", "")  # empty field → NULL, like pandas dtype=str
        .option("mode", "PERMISSIVE")
        .csv(paths)
    )


def load_raw_parquet(spark: SparkSession, routed: dict[str, list[str]], out_dir: str, partition_estab_by_uf: bool = False) -> dict[str, str]:
    """Load every discovered table to raw parquet; returns {table: path}.

    Per-table loads are INDEPENDENT jobs (separate sources, separate
    destinations), so they run from a small driver thread pool (guide
    §2.6 "overlap independent jobs"): the big estabelecimentos
    read+write no longer serializes behind six small dimension loads —
    its tail tasks back-fill with the next table's scan. 3 in flight is
    the guide's "enough to fill the tail" sizing; results and
    idempotence are unchanged (each job touches only its own dest). All
    tables finish before a failure is raised, naming each failed table
    and its first shard; the tables that loaded stay committed."""
    from concurrent.futures import ThreadPoolExecutor

    todo = [
        (table, paths)
        for table, paths in routed.items()
        if paths and table in TABLE_COLUMNS
    ]

    def load_one(table: str, paths: list[str]) -> str:
        dest = os.path.join(out_dir, f"{table}.parquet")
        df = read_raw(spark, paths, table)
        writer = df.write.mode("overwrite")
        if table == "estabelecimentos" and partition_estab_by_uf:
            writer = writer.partitionBy("uf")
        writer.parquet(dest)
        return dest

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = {table: pool.submit(load_one, table, paths) for table, paths in todo}
    failed = [t for t, f in futures.items() if f.exception() is not None]
    if failed:
        names = ", ".join(f"{t} (first shard {routed[t][0]})" for t in failed)
        raise RuntimeError(f"raw load failed for {names}") from futures[failed[0]].exception()
    return {t: f.result() for t, f in futures.items()}


def register_raw(spark: SparkSession, table_paths: dict[str, str]) -> None:
    """Register raw parquet tables as temp views (the catalog surface the
    flagship and typed layers build on)."""
    for table, path in table_paths.items():
        spark.read.parquet(path).createOrReplaceTempView(f"raw_{table}")
