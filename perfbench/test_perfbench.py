"""The benchmark's own tests: short runs of every workload on the smallest
input, in a copy of the repository's files like the one the benchmark is
run from.

Run from the repository root with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import run as bench_run
from perfbench import ticks_sorted

ROOT = bench_run.ROOT
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = str(Path(bench_run.default_sf_dir()).parent / "sf0.001")
TIMEOUT = 300

pytestmark = pytest.mark.skipif(not Path(TINY).is_dir(), reason=f"{TINY} is missing")


def make_checkout(dest: Path, with_engine: bool = True) -> Path:
    ignore = shutil.ignore_patterns("__pycache__", ".perfbench-work")
    shutil.copy(ROOT / "BENCHMARK.json", dest)
    for path in BENCH["paths"]:
        shutil.copytree(ROOT / path, dest / path, ignore=ignore)
    if with_engine:
        shutil.copy(ROOT / "bench.py", dest)
        shutil.copytree(ROOT / "graft", dest / "graft", ignore=ignore)
    return dest


def run_bench(checkout: Path, workload: str, trace: int = 0, seed: int = 3):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=TINY)
    out = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True,
                         timeout=TIMEOUT)
    return out


def result_of(out) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def record_of(checkout: Path, workload: str, trace: int, seed: int = 3) -> dict:
    path = checkout / ".perfbench-work" / "out" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(path.read_text())


@pytest.fixture(scope="module")
def checkout(tmp_path_factory) -> Path:
    return make_checkout(tmp_path_factory.mktemp("checkout"))


@pytest.mark.parametrize("workload", sorted(bench_run.WORKLOADS))
def test_workload_prints_every_end_to_end_metric(checkout, workload):
    out = run_bench(checkout, workload)
    result = result_of(out)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        e["name"]: e["unit"] for e in BENCH["end_to_end"]
    }
    assert all(v["value"] > 0 for v in result["metrics"].values())
    summary = {parts[0]: parts[1:] for parts in map(str.split, out.stderr.splitlines())
               if parts and parts[0] in bench_run.END_TO_END_UNITS}
    for name, unit in bench_run.END_TO_END_UNITS.items():
        assert summary[name][1] == unit, name
    assert float(summary["failed_frac"][0]) == 0
    assert "samples" in " ".join(summary["query_p50_s"])
    assert "samples" in " ".join(summary["query_p90_s"])
    record = record_of(checkout, workload, 0)
    assert record["nproc"] == len(os.sched_getaffinity(0)) and record["seed"] == 3
    assert record["spark_version"] and record["source_sha256"]
    assert all(isinstance(s["steal_ticks"], int) for s in record["samples"])
    assert all(isinstance(s["cpu_s"], float) for s in record["samples"] + record["first_pass"])
    assert record["end_to_end"]["query_cpu_s"] > 0


@pytest.mark.parametrize("workload", sorted(bench_run.WORKLOADS))
def test_traced_run_reports_every_layer_metric(checkout, workload):
    result = result_of(run_bench(checkout, workload, trace=1))
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        e["name"]: e["unit"] for e in BENCH["per_layer"]
    }
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    record = record_of(checkout, workload, 1)
    assert set(record["per_query"]) == set(bench_run.WORKLOADS[workload])
    spans = record["spans"]
    assert {s["name"] for s in spans} == {"query", "construct", "exec"}
    for s in spans:
        assert s["start"] <= s["end"]
        assert s["parent"] == (None if s["name"] == "query" else "query")
    assert metrics["exec.stages"] > 0 and metrics["scan.rows_out"] > 0
    assert metrics["codegen.compilations"] > 0
    assert record["trace_overhead_pairs"] >= len(bench_run.WORKLOADS[workload])
    if workload == "olap_llm":
        assert metrics["python.bytes_sent"] > 0 and metrics["construct.jobs"] > 0
        assert metrics["python.start_ms"] > 0  # the worker starts on the first pass
    else:
        assert metrics["python.bytes_sent"] == 0
    if workload == "ticks":
        assert metrics["exec.max_stage_tasks"] == 1
    if workload == "ticks_sorted":
        assert metrics["exec.max_stage_tasks"] > 1


def test_benchmark_json_metrics_are_printed_ones():
    for e in BENCH["end_to_end"]:
        assert bench_run.END_TO_END_UNITS[e["name"]] == e["unit"]
    assert "setup_s" in bench_run.END_TO_END_UNITS
    assert {w["name"] for w in BENCH["workloads"]} <= set(bench_run.WORKLOADS)


def test_steady_pass_count_follows_seconds_not_the_clock():
    for workload, pass_s in bench_run.STEADY_PASS_S.items():
        assert bench_run.steady_passes(workload, 0.1) == 1
        assert bench_run.steady_passes(workload, 10 * pass_s) == 10
    assert set(bench_run.STEADY_PASS_S) == set(bench_run.WORKLOADS)


def test_trace_overhead_pairs_each_query_with_its_own_iteration():
    def sample(query, phase, latency):
        return {"query": query, "pass": phase, "latency_s": latency}

    plain = [sample("a", "steady0", 1.0), sample("b", "steady0", 2.0),
             sample("a", "steady1", 3.0), sample("b", "steady1", 2.0)]
    traced = [sample("a", "traced0", 1.5), sample("b", "traced0", 2.0),
              sample("a", "traced1", 3.5), sample("b", "traced1", 1.0)]
    assert bench_run.trace_overhead(plain, traced) == (0.5 + -0.5, 4)


def test_corrupted_expected_digest_counts_as_failure(tmp_path):
    checkout = make_checkout(tmp_path)
    path = checkout / "perfbench" / "expected" / f"{Path(TINY).name}.json"
    expected = json.loads(path.read_text())
    expected["queries"]["type_stats"]["digest"] = "0" * 64
    path.write_text(json.dumps(expected))
    out = run_bench(checkout, "ticks")
    result = result_of(out)
    assert not result["correct"] and result["failed"] == 1
    assert "FAILED type_stats (check)" in out.stderr
    assert record_of(checkout, "ticks", 0)["end_to_end"]["failed_frac"] > 0


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    checkout = make_checkout(tmp_path, with_engine=False)
    out = run_bench(checkout, "ticks")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_ticks_sorted_layout_is_seeded_sorted_and_checked(tmp_path):
    nproc = 2
    out = ticks_sorted.generate(TINY, tmp_path / "a", seed=1, nproc=nproc)
    files = sorted((out / "events.parquet").glob("part-*.parquet"))
    assert len(files) >= 4 * nproc
    groups = [pq.ParquetFile(f).metadata.row_group(i).num_rows
              for f in files for i in range(pq.ParquetFile(f).num_row_groups)]
    assert max(groups) <= ticks_sorted.ROW_GROUP_ROWS[1]
    source = pq.read_table(Path(TINY) / "events.parquet")
    digest = ticks_sorted.rows_digest(source)
    assert ticks_sorted.check(out, digest, source.num_rows, 4 * nproc) == []

    # same seed and rows: reused as is; another seed: other boundaries
    mtimes = [f.stat().st_mtime_ns for f in files]
    ticks_sorted.generate(TINY, out, seed=1, nproc=nproc)
    assert [f.stat().st_mtime_ns for f in files] == mtimes
    other = ticks_sorted.generate(TINY, tmp_path / "b", seed=2, nproc=nproc)
    sizes = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert sizes != [pq.ParquetFile(f).metadata.num_rows
                     for f in sorted((other / "events.parquet").glob("part-*.parquet"))]

    # a file with its rows reversed breaks the order; a missing file the rows
    first = pq.read_table(files[0])
    pq.write_table(first.take(list(range(first.num_rows - 1, -1, -1))), files[0])
    assert "rows are not sorted by (ts, event_id)" in ticks_sorted.check(
        out, digest, source.num_rows, 4 * nproc)
    files[-1].unlink()
    problems = ticks_sorted.check(out, digest, source.num_rows, 4 * nproc)
    assert any("rows, source has" in p for p in problems)
    assert "row digest differs from the source" in problems


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
