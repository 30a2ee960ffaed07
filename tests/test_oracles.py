"""Oracle gate for the near-duplicate queries: each query built on the
near-dup kernel (operators/neardup.py) or the linker's connected
components must return exactly its DuckDB ``oracle_sql()`` relation,
compared the way ``scripts/check_oracles.py`` compares them."""

from __future__ import annotations

import os

import pytest

from scripts.check_oracles import frame_key
from tests.conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")

NEAR_DUP_QUERIES = (
    "minhash_signature",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "ann_lsh_bucketed",
    "entity_cc",
)


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF):
        pytest.skip(f"test data not available: {SF}")
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", NEAR_DUP_QUERIES)
def test_near_dup_query_matches_oracle(spark, duck, name):
    from gleaner_spark.plans.queries import QUERIES

    fn, oracle = QUERIES[name]
    got = frame_key(fn(spark, SF).toPandas())
    want = frame_key(duck.sql(oracle).df())
    assert got[0] == want[0]
    assert len(got[1]) == len(want[1]) > 0
    assert got[1] == want[1]
