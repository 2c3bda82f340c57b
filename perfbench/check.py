"""Output checking: the canonical form both engines' answers are reduced to.

An answer is reduced to its sorted column names, one portable type tag
per column and its rows as sorted tuples of strings, so the comparison is
order-insensitive and type-tagged.  The value form is the one
``scripts/check_correctness.py`` uses and the tags are the program's own
``typetags`` pairing, so a pass here is a pass of the repository's
correctness gate.
"""

from __future__ import annotations

import math


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def canonical(cols: list[str], tags: list[str], rows) -> dict:
    """Reduce an answer to ``{"cols", "tags", "rows"}`` with columns in
    name order and rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "cols": [cols[i] for i in order],
        "tags": [tags[i] for i in order],
        "rows": sorted([_norm(r[i]) for i in order] for r in rows),
    }


def spark_answer(df) -> dict:
    """Collect a DataFrame's answer in canonical form."""
    from beauty_lakehouse_spark.typetags import spark_tag

    return canonical(
        df.columns, [spark_tag(t) for _, t in df.dtypes], [tuple(r) for r in df.collect()]
    )


def duckdb_answer(rel) -> dict:
    """Fetch a DuckDB relation's answer in canonical form."""
    from beauty_lakehouse_spark.typetags import duckdb_tag

    return canonical(
        list(rel.columns), [duckdb_tag(str(t)) for t in rel.types], rel.fetchall()
    )


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["tags"] != want["tags"]:
        pairs = [(c, a, b) for c, a, b in zip(got["cols"], got["tags"], want["tags"]) if a != b]
        return f"type tags differ {pairs}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for a, b in zip(got["rows"], want["rows"]):
        if a != b:
            return f"first differing row {a} != {b}"
    return None
