"""The lake-stream registry keys against their DuckDB oracles at the
suite's scale factor: each query's rows must equal its oracle's under
the same comparison ``tools/check_correctness.py`` applies."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from check_correctness import TABLES, compare  # noqa: E402


@pytest.mark.parametrize(
    "name",
    [
        "s09_stream_lake_source",
        "s10_stream_lake_replication",
        "s11_stream_backfill_capped",
        "s12_stream_backfill_capped_distributed",
    ],
)
def test_stream_query_matches_oracle(spark, sf_dir, name):
    import duckdb

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
        ORACLES,
        QUERIES,
    )

    sdf = QUERIES[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    got = [tuple(r[c] for c in cols) for r in sdf.collect()]
    con = duckdb.connect()
    for tb in TABLES:
        con.execute(
            f"CREATE VIEW {tb} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{tb}.parquet')"
        )
    res = con.execute(ORACLES[name])
    names = [d[0] for d in res.description]
    want = [tuple(r[names.index(c)] for c in cols) for r in res.fetchall()]
    assert sorted(names) == cols
    assert got, "the query streamed nothing"
    ok, detail = compare(got, want, cols)
    assert ok, detail
