"""In-pytest slice of the driver's correctness gate: a representative subset
of queries() compared against oracle_sql() in DuckDB at sf0.001 (fast).
The full 35-query gate runs via tools/check_oracles.py at sf0.01.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracles import TABLES, canon

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)

SUBSET = [
    "normalize_tokenize",
    "candidate_pairs",
    "pairs_jaro_winkler",
    "minhash_signatures",
    "simhash_fingerprints",
    "connected_components",
    "tpch_q1_agg",
    "events_sessionize",
    "lineitem_pivot",
    "quality_report",
    "sorted_neighborhood",
    "events_last_order_asof",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF).toPandas()
    odf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    a, b = canon(sdf), canon(odf)
    assert a.equals(b), f"value mismatch in {name}"


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every lambdafunction(...) call in a plan string, up to
    its matching close paren."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        bodies.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


@pytest.mark.parametrize("name", ["minhash_signatures", "lsh_band_buckets"])
def test_minhash_gate_queries_shingle_once(spark, name):
    # shingles inside a permutation lambda would be recomputed num_perm
    # times per record; the exchange under them keeps them out (notes #62)
    df = entrymod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = _lambda_bodies(plan)
    assert bodies
    assert not [b for b in bodies if "array_distinct" in b]
    assert plan.count("array_distinct") == 1
