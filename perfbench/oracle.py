"""Order-insensitive result hashes, and the DuckDB oracle's expected hashes.

A result hashes to the SHA-256 of its rows in the canonical form of the
repository's correctness comparator (``tests/oracle_compare.py``): columns
sorted by name, values normalized, rows sorted. Floats are not rounded: the
engine is expected to produce the oracle's doubles exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    if TESTS not in sys.path:
        sys.path.append(TESTS)
    from oracle_compare import _canonical_rows

    cols, canon = _canonical_rows(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for row in canon:
        h.update(repr(row).encode())
        h.update(b"\n")
    return f"{len(canon)}:{h.hexdigest()}"


def expected_hashes(input_dir: str, tables: list[str], oracles: dict[str, str]) -> dict[str, str]:
    """Run each oracle in DuckDB over the generated inputs once per input
    directory; the result is cached next to the inputs."""
    path = os.path.join(input_dir, "expected.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if set(cached) >= set(oracles):
            return cached
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet/*.parquet')"
        )
    out = {}
    for name, sql in oracles.items():
        res = con.execute(sql)
        out[name] = result_hash([d[0] for d in res.description], res.fetchall())
    con.close()
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return out
