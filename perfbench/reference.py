"""Independent reference results for the benchmark's output checks.

A result is reduced to its sorted column names and its rows, canonicalized
the way the repository's oracle test does it (floats rounded to 9 places,
NaN spelled out, every other value stringified) and sorted, so row order
never matters. ``compare`` then requires equal columns, equal row counts and
equal rows, with one allowance: two non-integral floats may differ by one
unit in the last decimal the longer of them carries (the shorter one may
have lost a trailing zero: ``0.2`` for a rounded ``0.20``). That is the
half-way case of the in-query ``round(sum(...), 2)`` the queries use: a sum
of 4-decimal products can land exactly on ``x.xx5``, and two engines that
add in another order round it to neighbouring cents.

Run as a script, this computes the reference for the ``executed``
workload's items with DuckDB from the same parquet files Spark reads,
using the oracle SQL that ``__spark_entry__.oracle_sql()`` ships::

    python3 perfbench/reference.py <table dir> <item> [<item> ...]

and prints one JSON object ``{item: {"cols": [...], "rows": [...]}}``. It
runs in its own process so that DuckDB's memory never counts against the
driver's.

``d2_minhash_pairs`` is the one exception. Its shipped oracle computes exact
Jaccard by intersecting shingle lists for all 125k document pairs, which
takes over 30 s at 500 documents. ``D2_EXACT_JACCARD`` computes the same
exact Jaccard (same shingles, threshold and rounding) by joining shingles,
in well under a second.
"""

from __future__ import annotations

import json
import math
import os
import sys
from decimal import Decimal

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

D2_EXACT_JACCARD = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
  FROM documents),
pos AS (
  SELECT doc_id, norm, unnest(range(1, greatest(len(norm) - 3, 2))) AS i
  FROM norm),
sh AS (SELECT DISTINCT doc_id, substr(norm, i, 5) AS g FROM pos),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS k
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(CAST(k AS DOUBLE) / (sa.n + sb.n - k), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(k AS DOUBLE) / (sa.n + sb.n - k) >= 0.35
"""


def _canon_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return str(v)


def _sort_key(row: list) -> tuple:
    return tuple((0, v, 0.0) if isinstance(v, str) else (1, "", v) for v in row)


def summarize(cols: list[str], rows) -> dict:
    """``(cols, rows)`` → sorted column names and sorted canonical rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [[_canon_value(r[i]) for i in order] for r in rows]
    return {"cols": sorted(cols), "rows": sorted(canon, key=_sort_key)}


def summarize_df(df) -> dict:
    """Collect a Spark DataFrame and summarize it."""
    return summarize(list(df.columns), [tuple(r) for r in df.collect()])


def _decimals(x: float) -> int:
    return -Decimal(repr(x)).as_tuple().exponent


def _last_place(a: float, b: float) -> bool:
    """Both non-integral, one unit apart in the last decimal the longer of
    them carries."""
    d = max(_decimals(a), _decimals(b))
    return (a != int(a) and b != int(b)
            and abs(a - b) <= 1.000001 * 10.0 ** -d)


def compare(got: dict | None, want: dict | None) -> tuple[bool, int]:
    """(whether ``got`` matches ``want``, how many float values matched
    only within one unit of their last decimal)."""
    if not got or not want or got["cols"] != want["cols"] \
            or len(got["rows"]) != len(want["rows"]):
        return False, 0
    near = 0
    for g, w in zip(got["rows"], want["rows"]):
        for a, b in zip(g, w):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float) and _last_place(a, b):
                near += 1
                continue
            return False, near
    return True, near


def duckdb_reference(table_dir: str, items: list[str]) -> dict[str, dict]:
    import duckdb

    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{os.path.join(table_dir, '_duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(table_dir, t + '.parquet')}')")
    out = {}
    for name in items:
        rel = con.sql(D2_EXACT_JACCARD if name == "d2_minhash_pairs"
                      else oracle[name])
        out[name] = summarize(list(rel.columns), rel.fetchall())
    con.close()
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(duckdb_reference(sys.argv[1], sys.argv[2:])))
