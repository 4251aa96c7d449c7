"""SQLite reference yardstick at the cnpj_pipeline volume: a record for
NOTES.md, not a gated metric.

    python3 perfbench/reference.py [--seed 1]

Stages the same seeded ZIP drop the benchmark uses, extracts it, and runs
the reference architecture (chunked pandas → SQLite → indexes →
QUERY_FINAL → utf-8-sig CSV) through `tools/baseline_reference.py`'s
`baseline_sqlite`, imported rather than copied. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    from etl_cnpjs_spark.cnpj.ingest import discover, extract_zip
    from perfbench import inputs, workloads
    from tools.baseline_reference import baseline_sqlite

    work = os.path.join(BENCH_DIR, ".work")
    drop = inputs.cnpj_inputs(os.path.join(work, "inputs"), args.seed, *workloads.CNPJ_SIZES)
    scratch = os.path.join(work, f"reference-{os.getpid()}")
    try:
        t0 = time.perf_counter()
        for z in drop["zips"]:
            extract_zip(z, os.path.join(scratch, "extract"))
        paths = {**discover(os.path.join(scratch, "extract")), **drop["dims"]}
        extract_s = time.perf_counter() - t0
        os.makedirs(os.path.join(scratch, "sqlite"))
        ref = baseline_sqlite(paths, os.path.join(scratch, "sqlite"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if ref["rows"] != drop["oracle"]["rows"]:
        print(f"reference rows {ref['rows']} != oracle {drop['oracle']['rows']}", file=sys.stderr)
        return 1
    print(json.dumps({
        "seed": args.seed,
        "n_empresas": drop["n_empresas"],
        "n_estab": drop["n_estab"],
        "extract_sec": round(extract_s, 3),
        "reference_pandas_sqlite": ref,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
