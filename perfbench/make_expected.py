"""Compute the stored oracle rows for the fixed-input workloads.

    python3 perfbench/make_expected.py

Generates the workload's input tables, runs each query's DuckDB oracle SQL
(the registry `check_exact.py` uses) over them, and writes per-row
digests plus an input fingerprint to `perfbench/expected/<workload>.npz`.
Rerun it after changing the generators or the workload sizes; it needs
no Spark. The near-dup oracle takes several minutes.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path.cwd()
for p in (ROOT / "src", ROOT, Path(__file__).resolve().parent):
    sys.path.insert(0, str(p))

import duckdb  # noqa: E402

import checks  # noqa: E402
import data  # noqa: E402
import workloads as W  # noqa: E402


def main(names: list[str]) -> int:
    reg = W.registry()
    for name in names or ["query_mix"]:
        wl = W.WORKLOADS[name]
        tables = wl.tables()
        out_dir = ROOT / ".bench_work" / "expected-input" / name
        data.write_tables(tables, out_dir)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{out_dir / t}.parquet')")
        results = {}
        for q in wl.queries + [W.NEARDUP]:
            t0 = time.perf_counter()
            results[q] = con.execute(reg[q][1]).df()
            print(f"{name}.{q}: {len(results[q])} rows in "
                  f"{time.perf_counter() - t0:.1f}s", flush=True)
        path = checks.save_expected(name, checks.input_fingerprint(tables),
                                    results)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
