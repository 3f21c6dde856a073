"""Compare the generated input tables with a directory of reference tables.

    python3 perfbench/compare_inputs.py <reference dir> --scale 0.01 [--seed 1]

Generates the tables for (seed, scale) in memory and prints, for each of
the ten tables, the row count and per-column statistics of both sides:
min / max / mean / distinct count of numbers and timestamps, distinct
count and mean length of strings. Documents also get their duplicate
structure (share of ``" dup"``-suffixed texts, extra exact copies, words
per text, vocabulary size) and embeddings their dimension and mean norm.
Lines where the two sides differ by more than 10% (or, for ranges, at
all) are marked ``<<``. Compare against the reference set whose scale
factor is ``--scale``.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def describe(table: pa.Table) -> dict[str, object]:
    """Statistics of one table, keyed ``rows`` or ``<column>.<stat>``."""
    out: dict[str, object] = {"rows": table.num_rows}
    for name in table.column_names:
        col = table[name]
        ty = col.type
        if pa.types.is_list(ty):
            vecs = np.stack(col.to_numpy(zero_copy_only=False))
            out[f"{name}.dim"] = vecs.shape[1]
            out[f"{name}.norm"] = float(np.linalg.norm(vecs, axis=1).mean())
        elif pa.types.is_string(ty):
            out[f"{name}.distinct"] = pc.count_distinct(col).as_py()
            out[f"{name}.len"] = pc.mean(pc.utf8_length(col)).as_py()
        else:
            mm = pc.min_max(col)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if pa.types.is_timestamp(ty):  # to the day: the times within one are random
                lo, hi = str(lo.date()), str(hi.date())
            out[f"{name}.min"], out[f"{name}.max"] = lo, hi
            out[f"{name}.distinct"] = pc.count_distinct(col).as_py()
            if not pa.types.is_timestamp(ty):
                out[f"{name}.mean"] = pc.mean(col).as_py()
    if "text" in table.column_names:
        texts = table["text"].to_pylist()
        copies = collections.Counter(texts)
        words = [t.split() for t in texts]
        out["text.dup_share"] = sum(t.endswith(" dup") for t in texts) / len(texts)
        out["text.exact_copies"] = sum(c - 1 for c in copies.values())
        out["text.words"] = float(np.mean([len(w) for w in words]))
        out["text.vocab"] = len({x for w in words for x in w})
    return out


def _differs(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) > 0.1 * max(abs(a), abs(b), 1e-9)
    return a != b


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("reference", help="directory holding <table>.parquet files")
    p.add_argument("--scale", type=float, required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    generated = datagen.tables(args.seed, args.scale)
    marked = 0
    for name, table in generated.items():
        ref = describe(pq.read_table(os.path.join(args.reference, f"{name}.parquet")))
        gen = describe(table)
        print(f"== {name}")
        for key in dict.fromkeys([*ref, *gen]):
            a, b = ref.get(key), gen.get(key)
            flag = _differs(a, b)
            marked += flag
            fa = f"{a:.4g}" if isinstance(a, float) else str(a)
            fb = f"{b:.4g}" if isinstance(b, float) else str(b)
            print(f"  {key:24s} reference {fa:>28s}   generated {fb:>28s}{'  <<' if flag else ''}")
    print(f"{marked} lines differ")
    return 0


if __name__ == "__main__":
    sys.exit(main())
