"""One-time build for a checkout: generate the tables and compute the
expected result of every ``ops_pipeline`` op with DuckDB.

The operator oracles are slow in DuckDB (the fuzzy-dedup oracle runs a
recursive closure) and their inputs never change, so the results are
computed once and stored beside the data.  ``run.py``
calls this in a child process before it starts the clock, which keeps
DuckDB's memory out of the measured process.

Usage: python3 perfbench/build.py --scale 0.1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import datagen  # noqa: E402
import workloads as wl  # noqa: E402


def expected_path(data_dir: str, op: str) -> str:
    return os.path.join(data_dir, "expected", f"{op}.json")


def is_built(root: str, scale: float) -> bool:
    """Whether both workloads' tables and the operator results exist."""
    ops_dir = datagen.data_dir(root, wl.table_scale("ops_pipeline", scale))
    return os.path.isdir(datagen.data_dir(root, scale)) and all(
        os.path.exists(expected_path(ops_dir, op)) for op in wl.PIPELINE_OPS)


def load_expected(data_dir: str, op: str) -> dict:
    with open(expected_path(data_dir, op)) as f:
        return json.load(f)


def build(root: str, scale: float) -> None:
    datagen.ensure_data(root, wl.table_scale("point_sql", scale))
    data_dir = datagen.ensure_data(root, wl.table_scale("ops_pipeline", scale))
    os.makedirs(os.path.join(data_dir, "expected"), exist_ok=True)
    con = None
    for op in wl.PIPELINE_OPS:
        path = expected_path(data_dir, op)
        if os.path.exists(path):
            continue
        if con is None:
            con = check.duck_connect(data_dir, root)
        res = con.execute(wl.oracle_sql(op))
        cols = [d[0] for d in res.description]
        rows = check.canon_rows(res.fetchall(), cols)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"cols": sorted(cols), "n_rows": len(rows), "digest": check.digest(rows),
                       "rows": rows}, f)
        os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", type=float, default=0.1)
    build(ROOT, ap.parse_args().scale)
    return 0


if __name__ == "__main__":
    sys.exit(main())
