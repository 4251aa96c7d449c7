"""Benchmark inputs, generated from a seed into the benchmark's own store.

Two kinds of input, each published as one directory with a MANIFEST.json
that lists every file with its size and sha256:

- the CNPJ drop: `cnpj.fixtures.generate` shards, the four big ones
  zipped the way Receita ships them, the dimension CSVs beside them, and
  the expected QUERY_FINAL result computed by an independent path
  (pandas `dtype=str` latin-1 read, then DuckDB running the affinity
  views and the verbatim QUERY_FINAL);
- the registry tables: a TPC-H-shaped star schema plus events,
  documents and embeddings with the column types of the engine's
  testdata, and each mix key's row count from its DuckDB oracle.

The directory name carries the seed, the sizes and a digest of the
generators (and of the oracle SQL), so a changed generator never serves
a stale input. On every hit each file is re-verified against the
manifest; a missing or altered file rebuilds the entry. Entries are
built in a private temp directory and published by an atomic rename.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

KEEP_ENTRIES = 64  # cached inputs kept per store, newest first

ROW_SEP = "\x1f"
NULL_TOKEN = "\x00"


# --- order-insensitive result hash -------------------------------------------


def _canon(values, strip: bool = False) -> str:
    out = []
    for v in values:
        s = "" if v is None else str(v)
        if strip:
            s = s.strip()
        out.append(s if s else NULL_TOKEN)  # NULL and '' are one value
    return ROW_SEP.join(out)


def row_digest(values, strip: bool = False) -> int:
    """60-bit digest of one row; a result hash is the sum over rows."""
    return int(hashlib.md5(_canon(values, strip).encode("utf-8")).hexdigest()[:15], 16)


def spark_row_digest(columns):
    """The same digest as a Spark column expression (for an observe)."""
    from pyspark.sql import functions as F

    fields = [
        F.coalesce(F.nullif(F.col(c).cast("string"), F.lit("")), F.lit(NULL_TOKEN))
        for c in columns
    ]
    md5 = F.md5(F.concat_ws(ROW_SEP, *fields))
    return F.conv(F.substring(md5, 1, 15), 16, 10).cast("decimal(38,0)")


# --- store --------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _digest(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()[:16]


def _file_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _verify(entry: str) -> dict | None:
    """The manifest if every listed file is present with its size and
    sha256, else None."""
    try:
        with open(os.path.join(entry, "MANIFEST.json")) as f:
            manifest = json.load(f)
        for rel, (size, sha) in manifest["files"].items():
            path = os.path.join(entry, rel)
            if os.path.getsize(path) != size or _sha256(path) != sha:
                return None
    except (OSError, ValueError, KeyError, TypeError):
        return None
    return manifest


def _publish(store: str, name: str, build) -> tuple[str, dict, str]:
    """(entry dir, manifest, 'hit'|'miss'); build(work_dir) -> meta dict."""
    entry = os.path.join(store, name)
    manifest = _verify(entry)
    if manifest is not None:
        os.utime(entry)  # most recently used
        return entry, manifest, "hit"
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(store, exist_ok=True)
    work = os.path.join(store, f".build-{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        meta = build(work)
        files = {}
        for root, _dirs, names in os.walk(work):
            for n in names:
                p = os.path.join(root, n)
                files[os.path.relpath(p, work)] = [os.path.getsize(p), _sha256(p)]
        manifest = {"files": files, "meta": meta}
        with open(os.path.join(work, "MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(work, entry)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _evict(store)
    return entry, manifest, "miss"


def _evict(store: str) -> None:
    entries = [
        os.path.join(store, n) for n in os.listdir(store) if not n.startswith(".")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


# --- CNPJ drop ----------------------------------------------------------------

BIG_TABLES = ("empresas", "estabelecimentos")


def _cnpj_oracle(paths: dict[str, list[str]]) -> dict:
    """Expected QUERY_FINAL result, computed the reference's way: pandas
    dtype=str over latin-1 ';' headerless CSV, then DuckDB running the
    same affinity views and the verbatim query."""
    import duckdb
    import pandas as pd

    from etl_cnpjs_spark.cnpj.flagship import QUERY_FINAL, affinity_view_sql
    from etl_cnpjs_spark.cnpj.schemas import AFFINITY_KEYS, TABLE_COLUMNS

    con = duckdb.connect()
    try:
        for t in AFFINITY_KEYS:
            pdf = pd.concat(
                [
                    pd.read_csv(p, sep=";", header=None, dtype=str,
                                encoding="latin1", names=TABLE_COLUMNS[t])
                    for p in paths[t]
                ],
                ignore_index=True,
            )
            con.register(f"raw_{t}", pdf)
            con.execute(f"CREATE VIEW {t} AS {affinity_view_sql(t, 'raw_' + t)}")
        cur = con.execute(QUERY_FINAL)
        columns = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return {
        "columns": columns,
        "rows": len(rows),
        "hash": sum(row_digest(r) for r in rows),
        "hash_stripped": sum(row_digest(r, strip=True) for r in rows),
    }


def cnpj_inputs(store: str, seed: int, n_empresas: int, n_estab: int) -> dict:
    from etl_cnpjs_spark.cnpj import fixtures

    digest = _digest(_file_bytes(fixtures.__file__), _file_bytes(__file__))
    name = f"cnpj-s{seed}-{n_empresas}x{n_estab}-{digest}"

    def build(work: str) -> dict:
        src = os.path.join(work, "src")
        paths = fixtures.generate(src, seed=seed, n_empresas=n_empresas, n_estab=n_estab)
        csv_bytes = sum(os.path.getsize(p) for ps in paths.values() for p in ps)
        oracle = _cnpj_oracle(paths)
        os.makedirs(os.path.join(work, "drop"))
        os.makedirs(os.path.join(work, "dims"))
        for t, ps in paths.items():
            for p in ps:
                base = os.path.basename(p)
                if t in BIG_TABLES:
                    z = os.path.join(work, "drop", base + ".zip")
                    with zipfile.ZipFile(z, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
                        zf.write(p, base)
                else:
                    os.replace(p, os.path.join(work, "dims", base))
        shutil.rmtree(src)
        return {
            "seed": seed,
            "n_empresas": n_empresas,
            "n_estab": n_estab,
            "csv_bytes": csv_bytes,
            "oracle": oracle,
        }

    t0 = time.perf_counter()
    entry, manifest, cache = _publish(store, name, build)
    rel = sorted(manifest["files"])
    return {
        "dir": entry,
        "cache": cache,
        "stage_s": time.perf_counter() - t0,
        "zips": [os.path.join(entry, r) for r in rel if r.startswith("drop" + os.sep)],
        "dims": {
            os.path.splitext(os.path.basename(r))[0]: [os.path.join(entry, r)]
            for r in rel if r.startswith("dims" + os.sep)
        },
        "zip_bytes": sum(s for r, (s, _h) in manifest["files"].items() if r.startswith("drop")),
        **manifest["meta"],
    }


# --- registry tables ------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def _mix_tables(seed: int, sf: float) -> dict:
    """TPC-H-shaped tables plus events/documents/embeddings, with the
    column names and physical types of the engine's testdata."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return (np.datetime64(start, "D") + rng.integers(0, span, n)).astype("datetime64[us]")

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pick(part_names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2405, n_ord)),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(days("1995-01-02", 2499, n_line)),
    })
    gaps = np.round(rng.exponential(259e6, n_ev)).astype(np.int64)  # µs
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts),
        "user_id": i64(rng.integers(0, max(10, n_ev // 66), n_ev)),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": i64(range(n_doc)),
        "text": texts,
        "lang": pick(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(s) for s in texts]),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return t


def mix_inputs(store: str, seed: int, sf: float, keys: list[str]) -> dict:
    """Registry tables at `sf` plus each key's oracle row count."""
    from etl_cnpjs_spark.plans import QUERIES

    oracles = {k: QUERIES[k].oracle for k in keys}
    digest = _digest(_file_bytes(__file__), json.dumps(oracles, sort_keys=True).encode())
    name = f"mix-s{seed}-sf{sf}-{digest}"

    def build(work: str) -> dict:
        import duckdb
        import pyarrow.parquet as pq

        sf_dir = os.path.join(work, "sf")
        os.makedirs(sf_dir)
        sizes = {}
        for tname, table in _mix_tables(seed, sf).items():
            pq.write_table(table, os.path.join(sf_dir, f"{tname}.parquet"))
            sizes[tname] = table.num_rows
        con = duckdb.connect()
        try:
            for tname in sizes:
                path = os.path.join(sf_dir, f"{tname}.parquet")
                con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{path}')")
            counts = {
                k: con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
                for k, sql in oracles.items()
            }
        finally:
            con.close()
        return {"seed": seed, "sf": sf, "rows": sizes, "oracle_rows": counts}

    t0 = time.perf_counter()
    entry, manifest, cache = _publish(store, name, build)
    return {
        "dir": entry,
        "sf_dir": os.path.join(entry, "sf"),
        "cache": cache,
        "stage_s": time.perf_counter() - t0,
        **manifest["meta"],
    }


def stage(kind: str, store: str, seed: int, *args) -> dict:
    """cnpj_inputs / mix_inputs in a child process, so the generator's
    and the oracle's memory never counts in the benchmark's own RSS."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", kind, store, str(seed), *map(str, args)],
        cwd=repo, check=True, stdout=subprocess.PIPE, text=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    kind, store, seed, *args = argv
    if kind == "cnpj":
        result = cnpj_inputs(store, int(seed), int(args[0]), int(args[1]))
    else:
        result = mix_inputs(store, int(seed), float(args[0]), args[1:])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
