#!/usr/bin/env python3
"""Compare two graft.Verify output dirs gate by gate.

    python3 tools/diff_outputs.py <parent_out> <change_out>

For every gate output (a parquet dir) present in <parent_out>:
  - the schema must match: column names, types and nullability, in order;
  - the rows must match as multisets, with doubles compared to 9
    significant digits (values nested in lists and structs included).
oracle_sql.json must match key by key.

A gate or oracle key that only <change_out> has is listed as new and is
not a difference; one that <change_out> lacks is. Prints one line per
gate and exits 1 on any difference, 0 otherwise.
"""
import json
import math
import sys
from pathlib import Path

import pyarrow.parquet as pq


def gates(out):
    return {p.name: p for p in Path(out).iterdir() if p.is_dir() and any(p.glob("*.parquet"))}


def schema_of(table):
    return [(f.name, str(f.type), f.nullable) for f in table.schema]


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    return v


def rows_of(table):
    return sorted(repr(norm(r)) for r in table.to_pylist())


def diff_gate(a, b):
    """None when equal, else a one-line reason."""
    ta, tb = pq.read_table(a), pq.read_table(b)
    sa, sb = schema_of(ta), schema_of(tb)
    if sa != sb:
        return f"schema {sa} != {sb}"
    ra, rb = rows_of(ta), rows_of(tb)
    if len(ra) != len(rb):
        return f"{len(ra)} rows != {len(rb)} rows"
    for x, y in zip(ra, rb):
        if x != y:
            return f"first differing row {x} != {y}"
    return None


def diff_oracles(a, b):
    pa, pb = Path(a) / "oracle_sql.json", Path(b) / "oracle_sql.json"
    if not pa.exists():
        return [], []
    if not pb.exists():
        return ["oracle_sql.json missing"], []
    oa, ob = json.loads(pa.read_text()), json.loads(pb.read_text())
    bad = [f"oracle {k}: {'missing' if k not in ob else 'changed'}"
           for k in sorted(oa) if oa[k] != ob.get(k)]
    return bad, sorted(set(ob) - set(oa))


def main(parent, change):
    ga, gb = gates(parent), gates(change)
    bad = 0
    for name in sorted(ga):
        reason = "missing" if name not in gb else diff_gate(ga[name], gb[name])
        print(f"[{'DIFF' if reason else ' ok '}] {name}" + (f": {reason}" if reason else ""))
        bad += reason is not None
    oracle_bad, oracle_new = diff_oracles(parent, change)
    for line in oracle_bad:
        print(f"[DIFF] {line}")
    new = sorted(set(gb) - set(ga))
    print(f"{len(ga) - bad} equal, {bad} different gate outputs; "
          f"{len(oracle_bad)} oracle differences; "
          f"new gates: {new or 'none'}; new oracle keys: {oracle_new or 'none'}")
    return 1 if bad or oracle_bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
