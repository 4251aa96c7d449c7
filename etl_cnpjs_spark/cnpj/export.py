"""O18: final CSV export, ';'-separated, UTF-8 with BOM
(ETLCNPJFinalEmpresaEstabelecimentos.py:187 — utf-8-sig for Excel).

Two shapes:
- export_csv: the scale path — distributed write, one part per task,
  atomic commit; each part carries the header.
- merge_single_file: reference-parity shape — concatenates the committed
  parts into ONE .csv with exactly one BOM + one header. Driver-side
  streaming (bounded memory), only sane for final exports that a human
  opens; at 100 TB you keep the parts.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

_BOM = b"\xef\xbb\xbf"


def export_csv(df: DataFrame, out_dir: str, sep: str = ";") -> str:
    """Distributed ';' CSV write with header; parts committed atomically.
    Fields are written verbatim: Spark's CSV writer trims leading and
    trailing whitespace by default, which would strip the right-padded
    ``nome_municipio`` the reference exports as-is."""
    (
        df.write.mode("overwrite")
        .option("sep", sep)
        .option("header", "true")
        .option("encoding", "UTF-8")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out_dir)
    )
    return out_dir


def merge_single_file(parts_dir: str, final_path: str) -> str:
    """Concatenate part files → one utf-8-sig CSV (single BOM, single
    header). Streams 1 MiB blocks; never loads a part in memory."""
    parts = sorted(glob.glob(os.path.join(parts_dir, "part-*")))
    if not parts:
        raise FileNotFoundError(f"no part files under {parts_dir}")
    os.makedirs(os.path.dirname(final_path) or ".", exist_ok=True)
    tmp = final_path + ".tmp"
    with open(tmp, "wb") as out:
        out.write(_BOM)
        header_written = False
        for p in parts:
            with open(p, "rb") as f:
                header = f.readline()
                if not header_written and header:
                    out.write(header)
                    header_written = True
                shutil.copyfileobj(f, out, 1024 * 1024)
    os.replace(tmp, final_path)  # O7: atomic swap (etl.py:85,94)
    return final_path
