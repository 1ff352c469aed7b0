#!/usr/bin/env python3
"""Expected query results, derived once from the DuckDB oracle.

Each query's result is stored as its column names, row count and an
order-insensitive digest of its values, normalised exactly as
``graft.parity`` normalises them for the oracle check.  The oracle is run
once and the digests are kept in ``perfbench/expected/<sf>.json``, because
DuckDB's vector_knn at sf0.1 takes minutes.

Usage (from the repository root):
    python3 perfbench/expected.py <sf_dir> [<sf_dir> ...]
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXPECTED_DIR = Path(__file__).resolve().parent / "expected"


def digest(rows) -> str:
    """Order-insensitive sha256 of a result's values, normalised as in
    ``graft.parity.norm_rows`` (floats by ``repr``, the rest by ``str``)."""
    from graft.parity import norm_rows

    h = hashlib.sha256()
    for row in norm_rows(rows):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def expected_path(sf_dir: str) -> Path:
    return EXPECTED_DIR / f"{Path(sf_dir).name}.json"


def load_expected(sf_dir: str) -> dict[str, dict]:
    path = expected_path(sf_dir)
    if not path.is_file():
        raise SystemExit(f"no expected results for {sf_dir}: {path} is missing")
    return json.loads(path.read_text())["queries"]


def oracle_results(sf_dir: str) -> dict[str, dict]:
    import duckdb

    from graft import ORACLE_SQL
    from graft.parity import duck_con

    con = duck_con(sf_dir)
    con.execute("SET threads TO 2")
    out = {}
    for name, sql in ORACLE_SQL.items():
        cur = con.execute(sql)
        columns = [d[0].lower() for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"columns": columns, "rows": len(rows), "digest": digest(rows)}
        print(f"  {name}: {len(rows)} rows", file=sys.stderr, flush=True)
    con.close()
    return {"duckdb": duckdb.__version__, "queries": out}


def main() -> None:
    sys.path.insert(0, str(ROOT))
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    EXPECTED_DIR.mkdir(exist_ok=True)
    for sf_dir in sys.argv[1:]:
        print(f"== {sf_dir}", file=sys.stderr)
        result = oracle_results(sf_dir)
        expected_path(sf_dir).write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
