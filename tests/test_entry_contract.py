"""Driver-contract consistency (no Spark needed): every query has an
oracle, every oracle is a single well-formed SQL string over the
pre-registered views, and DuckDB can PARSE and PLAN each one (catches
SQL drift without paying a full execution)."""

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SF = "/root/testdata/sf0.001"


def test_every_query_has_an_oracle():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert qs == os_, f"mismatch: only-queries={qs - os_} only-oracles={os_ - qs}"
    assert len(qs) >= 34


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_sql_plans(con, name):
    sql = entrymod.oracle_sql()[name]
    # EXPLAIN parses + binds + plans (and rejects multi-statements)
    con.sql(f"EXPLAIN {sql}")


def test_bench_summary_line_fits_log_tail():
    """``bench.py``'s stdout line stays parseable from a 1,000-char log
    tail even when its 10 slowest gates have the 10 longest names."""
    import json

    import bench

    names = sorted(entrymod.queries(), key=len, reverse=True)
    doc = {
        "metric": "kg_construction_bench_total_wall", "value": 99999.999,
        "unit": "sec", "queries": {n: 9999.999 for n in names},
        "sf": "0.01", "cpus": 32, "timing": "min_of_2_reps",
        "wall_sec": 99999.999, "triples": 9999999, "triples_per_sec": 999999.9,
        "transcript_assertions": 9999999,
        "gates_file": "BENCH/bench_sf0.01_r99.json",
    }
    line = bench.summary_line(doc)
    assert len(line) <= 1000, len(line)
    got = json.loads(line)
    assert set(got["slowest"]) == set(names[:10])
    assert got["triples_per_sec"] == 999999.9
