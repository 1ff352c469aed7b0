import datetime as dt
import os

import pytest

from graft import ORACLE_SQL, QUERIES
from graft.parity import check, duck_con
from tests.conftest import SF0001, SF001

import __spark_entry__ as entrymod


def test_contract_keys_match():
    assert set(entrymod.queries().keys()) == set(entrymod.oracle_sql().keys())
    assert set(QUERIES.keys()) == set(ORACLE_SQL.keys())
    assert len(QUERIES) >= 14


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def assert_oracle_parity(spark, name, sf_dir):
    con = duck_con(sf_dir)
    problems = check(spark, con, QUERIES[name], sf_dir, ORACLE_SQL[name])
    assert problems == [], problems


def test_driver_heap_within_physical_ram(spark):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < heap <= phys, (heap, phys)


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_oracle_parity_sf0001(spark, name):
    assert_oracle_parity(spark, name, SF0001)


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_oracle_parity_sf001(spark, name):
    """Parity at sf0.01 — the scale factor the driver checks."""
    assert_oracle_parity(spark, name, SF001)


def test_sessionization_gap_logic(spark, tmp_path):
    """Focused unit test: a >30min gap starts a new session, <=30min does not."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 29, 0), 7, "view", 1.0, "{}"),   # same session
        (3, dt.datetime(2024, 1, 1, 1, 0, 0), 7, "view", 1.0, "{}"),    # new (31m gap)
        (4, dt.datetime(2024, 1, 1, 1, 30, 0), 7, "view", 1.0, "{}"),   # same (exactly 30m)
        (6, dt.datetime(2024, 1, 1, 1, 30, 0), 7, "view", 1.0, "{}"),   # tied ts: same session
        (5, dt.datetime(2024, 1, 2, 0, 0, 0), 8, "view", 2.0, "{}"),    # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = str(tmp_path / "sess")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r for r in QUERIES["user_sessions"](spark, d).collect()}
    assert out[7]["n_events"] == 5
    assert out[7]["n_sessions"] == 2
    assert out[8]["n_sessions"] == 1
    assert_oracle_parity(spark, "user_sessions", d)


def test_user_sessions_order_invariant(spark, tmp_path):
    """user_sessions orders by unix_micros only (no event_id tie-break);
    per-user aggregates must be invariant to input row order, including
    duplicated timestamps around a gap boundary."""
    base = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.0, "{}"),   # tie at start
        (3, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "view", 1.0, "{}"),  # new session
        (4, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "view", 1.0, "{}"),  # tie after gap
        (5, dt.datetime(2024, 1, 1, 2, 0, 0), 7, "view", 1.0, "{}"),   # new session
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    results = []
    for i, rows in enumerate([base, base[::-1], base[2:] + base[:2]]):
        d = str(tmp_path / f"perm{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/events.parquet")
        out = QUERIES["user_sessions"](spark, d).collect()[0]
        results.append((out["n_events"], out["n_sessions"], out["total_value"]))
        assert_oracle_parity(spark, "user_sessions", d)
    assert results[0] == (5, 3, 5.0)
    assert results[0] == results[1] == results[2]


def test_doc_stats_word_count_edge_cases(spark, tmp_path):
    """The length-diff word count must equal size(split(text, ' ')) on
    empty strings, trailing spaces, and consecutive spaces (split keeps
    empty fields)."""
    rows = [
        (1, "", "en", "s1", 0),            # split('') -> [''] = 1
        (2, "a ", "en", "s1", 2),          # ['a',''] = 2
        (3, "a  b", "en", "s1", 4),        # ['a','','b'] = 3
        (4, " a", "en", "s1", 2),          # ['','a'] = 2
        (5, "one two three", "de", "s2", 13),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "wstats")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["lang"]: r for r in QUERIES["doc_stats"](spark, d).collect()}
    assert out["en"]["total_words"] == 1 + 2 + 3 + 2
    assert out["de"]["total_words"] == 3
    assert_oracle_parity(spark, "doc_stats", d)


def test_doc_dedup_keeps_min_id_and_counts(spark, tmp_path):
    """doc_dedup keeps the lowest doc_id per content, with that row's
    metadata and the number of copies."""
    rows = [
        (10, "hello world", "en", "s1", 11),
        (3, "hello world", "en", "s2", 11),   # dup -> survivor (min id)
        (7, "unique text", "de", "s1", 11),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "dedup")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in QUERIES["doc_dedup"](spark, d).collect()}
    assert set(out) == {3, 7}
    assert out[3]["n_copies"] == 2
    assert out[3]["source"] == "s2"      # metadata travels with the survivor row
    assert out[7]["n_copies"] == 1
    assert_oracle_parity(spark, "doc_dedup", d)


def write_embeddings(spark, d, rows, n_files=1):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(n_files).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")


@pytest.mark.parametrize(
    "rows, n_files, expect",
    [
        pytest.param(
            [
                (1, [1.0, 0.0], 0),
                (2, [1.0, 0.0], 0),   # identical to 1 and 3
                (3, [1.0, 0.0], 1),
                (4, [0.0, 1.0], 1),   # orthogonal to the others
            ],
            1,
            # ties among 1, 2, 3 -> larger id; 4 is orthogonal: sim 0
            # everywhere -> largest id
            {1: (3, 1.0), 2: (3, 1.0), 3: (2, 1.0), 4: (3, 0.0)},
            id="positive_ids",
        ),
        pytest.param(
            [
                (-3, [1.0, 0.0], 0),
                (-2, [1.0, 0.0], 0),  # identical to -3 and -1
                (-1, [1.0, 0.0], 1),
                (5, [0.0, 1.0], 1),   # orthogonal to the others
            ],
            3,
            {-3: (-1, 1.0), -2: (-1, 1.0), -1: (-2, 1.0), 5: (-1, 0.0)},
            id="negative_ids_multifile",
        ),
        pytest.param(
            [
                (1, [1.0, 0.0], None),  # a NULL label passes through
                (2, [1.0, 1.0], 0),
                (3, [0.0, 1.0], 1),
            ],
            1,
            {1: (2, 0.7071), 2: (3, 0.7071), 3: (2, 0.7071)},
            id="null_label",
        ),
        # no (a, b), a != b pair exists: the result is empty
        pytest.param([(1, [1.0, 0.0], 0)], 1, {}, id="single_row"),
    ],
)
def test_vector_knn_tiebreak_and_self_exclusion(spark, tmp_path, rows, n_files, expect):
    """Self is never its own neighbour and exact similarity ties go to the
    LARGER id, for negative ids too (a sentinel-based tie-break would
    mis-pick them) and for a table written as several files."""
    d = str(tmp_path / "knn")
    write_embeddings(spark, d, rows, n_files)
    got = QUERIES["vector_knn"](spark, d).collect()
    assert len(got) == len(expect)
    assert {r["vec_id"]: (r["nn_id"], r["sim"]) for r in got} == expect
    for r in got:
        assert r["nn_id"] != r["vec_id"]   # self excluded
    assert_oracle_parity(spark, "vector_knn", d)


@pytest.mark.parametrize(
    "rows, cause",
    [
        pytest.param(
            [(1, [1.0, 0.0], 0), (1, [0.0, 1.0], 1), (2, [1.0, 1.0], 0),
             (3, [1.0, 2.0], 1)],
            "duplicate vec_id 1",
            id="duplicate_id",
        ),
        pytest.param(
            [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 1)],
            "zero-norm embedding at vec_id 1",
            id="zero_norm",
        ),
        pytest.param(
            [(1, [1.0, 0.0, 0.0], 0), (2, [1.0], 0)],  # 4 values reshape to 2x2
            "non-null lists of one length",
            id="ragged",
        ),
        pytest.param(
            [(1, [1.0, 0.0], 0), (2, None, 0), (3, [0.0, 1.0], 1)],
            "non-null lists of one length",
            id="null_embedding",
        ),
        pytest.param(
            [(1, [1.0, None], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 1)],
            "non-null lists of one length",
            id="null_element",
        ),
    ],
)
def test_vector_knn_rejects_out_of_contract_input(spark, tmp_path, rows, cause):
    """Inputs the oracle answers differently, or rejects, raise a ValueError
    naming the cause instead of returning a silently different result."""
    d = str(tmp_path / "knn_bad")
    write_embeddings(spark, d, rows)
    with pytest.raises(Exception, match=cause):
        QUERIES["vector_knn"](spark, d).collect()


def test_vector_knn_construction_starts_no_job(spark):
    """Building the vector_knn DataFrame is lazy: once load() has opened
    the table, constructing the query runs no Spark job."""
    from graft.core import load

    load(spark, SF001, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    QUERIES["vector_knn"](spark, SF001)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_load_catalog_reuses_handle_per_table(spark, tmp_path):
    """load() returns the SAME DataFrame handle for repeated (session,
    sf_dir, table) lookups (schema inference once) and distinct handles for
    distinct dirs."""
    from graft.core import load

    for sub in ("a", "b"):
        d = str(tmp_path / sub)
        spark.range(3).selectExpr("id AS x").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/t.parquet")
    da1 = load(spark, str(tmp_path / "a"), "t")
    da2 = load(spark, str(tmp_path / "a"), "t")
    db = load(spark, str(tmp_path / "b"), "t")
    assert da1 is da2
    assert da1 is not db
    assert da1.count() == 3
