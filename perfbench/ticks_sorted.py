"""Seeded generator of the `ticks_sorted` layout of the `events` table.

tectonicdb keeps ticks in time-ordered files.  This writes the rows of a
data directory's ``events.parquet`` sorted by ``(ts, event_id)`` into at
least ``4 * nproc`` files with small row groups.  The seed fixes where the
file and row-group boundaries fall; it never changes the rows, so every
query returns the same result as on the shipped single-file table.

The output carries a manifest with the seed and the row digest.  It is
reused only when both match and the files still pass every check.  All
work is done on Arrow tables, so the benchmark process does not grow by a
Python object per value.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SORT_KEY = ["ts", "event_id"]
ROW_GROUP_ROWS = (256, 1024)  # each row group draws its size from this range


def canonical(table: pa.Table) -> pa.Table:
    """The rows in one order that depends only on the multiset of rows:
    sorted by every column, key columns first."""
    order = SORT_KEY + [c for c in table.column_names if c not in SORT_KEY]
    return table.sort_by([(c, "ascending") for c in order]).combine_chunks()


def rows_digest(table: pa.Table) -> str:
    """Order-insensitive sha256 of the rows (values and column types)."""
    sink = pa.BufferOutputStream()
    rows = canonical(table).replace_schema_metadata(None)
    with pa.ipc.new_stream(sink, rows.schema) as w:
        w.write_table(rows)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def is_sorted(table: pa.Table) -> bool:
    """True when rows are ordered by ``(ts, event_id)``."""
    if table.num_rows < 2:
        return True
    ts, eid = table.column("ts"), table.column("event_id")
    t0, t1 = ts.slice(0, len(ts) - 1), ts.slice(1)
    e0, e1 = eid.slice(0, len(eid) - 1), eid.slice(1)
    bad = pc.or_(pc.greater(t0, t1), pc.and_(pc.equal(t0, t1), pc.greater(e0, e1)))
    return not pc.any(bad).as_py()


def layout(n_rows: int, n_files: int, rng: random.Random) -> list[list[int]]:
    """Row-group sizes per file: file sizes vary by +-50% around the mean,
    row groups take sizes from ROW_GROUP_ROWS."""
    weights = [rng.uniform(0.5, 1.5) for _ in range(n_files)]
    total = sum(weights)
    cuts = [round(n_rows * sum(weights[: i + 1]) / total) for i in range(n_files)]
    files, start = [], 0
    for end in cuts:
        groups, left = [], end - start
        while left > 0:
            groups.append(min(left, rng.randint(*ROW_GROUP_ROWS)))
            left -= groups[-1]
        files.append(groups)
        start = end
    return files


def check(out_dir: Path, source_digest: str, n_rows: int, min_files: int) -> list[str]:
    """Problems with the generated table ([] = ok): row count and digest equal
    to the source's, ``(ts, event_id)`` order within and across files, and
    at least ``min_files`` files."""
    files = sorted((out_dir / "events.parquet").glob("part-*.parquet"))
    problems = []
    if len(files) < min_files:
        problems.append(f"{len(files)} files, fewer than {min_files}")
    if not files:
        return problems + ["no files"]
    table = pa.concat_tables(pq.read_table(f) for f in files)
    if table.num_rows != n_rows:
        problems.append(f"{table.num_rows} rows, source has {n_rows}")
    if not is_sorted(table):
        problems.append("rows are not sorted by (ts, event_id)")
    if rows_digest(table) != source_digest:
        problems.append("row digest differs from the source")
    return problems


def generate(source_dir: str, out_dir: Path, seed: int, nproc: int) -> Path:
    """Return ``out_dir`` holding the sorted layout for ``seed``, writing it
    if no valid output for this seed and these rows exists there."""
    source = pq.read_table(Path(source_dir) / "events.parquet")
    source_digest = rows_digest(source)
    min_files = 4 * nproc
    manifest_path = out_dir / "manifest.json"
    want = {"seed": seed, "rows": source.num_rows, "digest": source_digest}
    if manifest_path.is_file():
        have = json.loads(manifest_path.read_text())
        if {k: have.get(k) for k in want} == want and not check(
            out_dir, source_digest, source.num_rows, min_files
        ):
            return out_dir

    shutil.rmtree(out_dir, ignore_errors=True)
    table_dir = out_dir / "events.parquet"
    table_dir.mkdir(parents=True)
    ordered = source.sort_by([(c, "ascending") for c in SORT_KEY])
    start = 0
    for i, groups in enumerate(layout(ordered.num_rows, min_files, random.Random(seed))):
        with pq.ParquetWriter(table_dir / f"part-{i:05d}.parquet", ordered.schema) as w:
            for n in groups:
                w.write_table(ordered.slice(start, n), row_group_size=n)
                start += n
    problems = check(out_dir, source_digest, source.num_rows, min_files)
    if problems:
        raise RuntimeError(f"ticks_sorted output is invalid: {'; '.join(problems)}")
    manifest_path.write_text(json.dumps(want) + "\n")
    return out_dir
