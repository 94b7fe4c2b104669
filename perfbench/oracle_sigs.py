"""Recompute ``signatures.json``: the row count and order-insensitive
signature of each corpus query's registered DuckDB oracle SQL on the
benchmark's fixed lake.

    python3 perfbench/oracle_sigs.py

Takes about ten seconds. Run it again whenever the lake generator or
a corpus query's oracle changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import CORPUS_QUERIES, SIGNATURES, _duck_lake  # noqa: E402


def main() -> int:
    from bigdata_jobmatching_spark.plans.catalog import load_all

    registry = load_all()
    tmp = tempfile.mkdtemp(dir=os.path.dirname(HERE), prefix=".bench_sigs-")
    try:
        lake = os.path.join(tmp, "lake")
        rows = gen.write_corpus_lake(lake)
        con = _duck_lake(lake)
        out = {}
        for q in CORPUS_QUERIES:
            t = time.perf_counter()
            res = con.execute(registry[q].oracle)
            cols = [d[0] for d in res.description]
            out[q] = checks.signature(cols, res.fetchall())
            print(f"{q}: {out[q]} ({time.perf_counter() - t:.1f} s)", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(SIGNATURES, "w") as f:
        json.dump({"corpus_sf": gen.CORPUS_SF, "corpus_seed": gen.CORPUS_SEED,
                   "lake_rows": rows, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
