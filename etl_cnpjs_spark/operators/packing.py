"""Greedy document-preserving sequence packing — the ONE definition of
the fold every packing surface shares (doc_pack_greedy,
doc_pack_greedy_sharded, corpus_build's packing stage, and the
round-8 stress shape recorded in SCALE.md). The recurrence is the registered
contract replayed by the DuckDB recursive-CTE oracles: close the
current bin when the next doc would overflow `budget` (never split a
doc; an oversize doc gets its own bin); per-group state is two ints.

Keeping a single Python definition means a change to the recurrence
(budget semantics, oversize handling, dtype) cannot silently diverge
one consumer from the others — only the SQL twins must be updated in
step, and the fixture/property tests pin those.
"""

from __future__ import annotations


def greedy_pack_bins(budget: int, col: str = "bin"):
    """Return the applyInPandas grouped-map function: sort the group by
    doc_id, fold n_tokens through the greedy recurrence, and append the
    0-based bin index as int64 column `col`."""
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        b, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill + n > budget and fill > 0:
                b, fill = b + 1, int(n)
            else:
                fill += int(n)
            bins.append(b)
        pdf[col] = pd.Series(bins, dtype="int64")
        return pdf

    return pack
