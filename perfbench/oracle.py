"""Compute DuckDB oracle answers for registry entries on one input set.

    python3 perfbench/oracle.py INPUT_DIR OUT_DIR ENTRY [ENTRY ...]

Runs each entry's oracle twin from ``__spark_entry__.oracle_sql()`` over
the parquet tables in INPUT_DIR and writes its canonical answer to
OUT_DIR/ENTRY.json.  The answers are DuckDB's, not the program's, so
the benchmark computes them once per input set and reuses them.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    import duckdb

    import __spark_entry__
    from check import duckdb_answer
    from inputs import TABLES

    input_dir, out_dir, names = argv[0], argv[1], argv[2:]
    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect(config={"threads": 2})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{input_dir}/{t}.parquet'")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        out = os.path.join(out_dir, f"{name}.json")
        tmp = f"{out}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(duckdb_answer(con.sql(sql[name])), f)
        os.replace(tmp, out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
