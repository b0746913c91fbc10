"""Round-4 TPC-H completions (q2,q4,q9,q11,q12,q16,q20,q21): DuckDB oracle
compare at sf0.001 plus plan-shape scale contracts. With these the engine
covers all 22 TPC-H query shapes (fixture-adapted where the driver tables
lack partsupp / commit-receipt dates / shipmode — see each docstring in
__spark_entry__.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from selfcheck import TABLES, canon, values_equal  # noqa: E402

NEW_QUERIES = [
    "tpch_q2", "tpch_q4", "tpch_q9", "tpch_q11",
    "tpch_q12", "tpch_q16", "tpch_q20", "tpch_q21",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_matches_duckdb_oracle(spark, sf_dir, duck, name):
    import __spark_entry__ as entrymod

    sdf = canon(entrymod.queries()[name](spark, sf_dir).toPandas())
    ddf = canon(duck.sql(entrymod.oracle_sql()[name]).df())
    ok, why = values_equal(sdf, ddf)
    assert ok, f"{name}: {why}"


def test_q9_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    """Q9's part and supplier⋈nation sides must broadcast so lineitem
    shuffles only for the orders join + final agg."""
    import __spark_entry__ as entrymod
    from kaer_spark.plans import executed_plan, has_broadcast_join

    df = entrymod.queries()["tpch_q9"](spark, sf_dir)
    assert has_broadcast_join(df)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan


def test_q21_no_extra_lineitem_scans(spark, sf_dir):
    """The double-correlated EXISTS is one per-order aggregate, not three
    scans of lineitem: the executed plan must read lineitem at most twice
    (once for the agg, once for the late-line side — Spark reuses or
    re-reads the pruned scan, never a third correlated pass)."""
    import __spark_entry__ as entrymod
    from kaer_spark.plans import executed_plan

    plan = executed_plan(entrymod.queries()["tpch_q21"](spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 2


def test_q4_semi_join_not_aggregate_exists(spark, sf_dir):
    """EXISTS compiles to a left-semi hash join on orderkey."""
    import __spark_entry__ as entrymod
    from kaer_spark.plans import executed_plan

    plan = executed_plan(entrymod.queries()["tpch_q4"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q16_exclusion_branch_non_vacuous_at_gate_sf(spark):
    """Q16's supplier-exclusion (s_acctbal < 0) matches zero suppliers at
    sf0.001, so the anti-join path is only exercised at sf0.01 — run the
    full oracle compare THERE, and assert the excluded set is non-empty, per
    the repo's own '0==0 green proves nothing' rule."""
    import duckdb as ddb

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    sf01 = "/root/testdata/sf0.01"
    excluded = (
        spark.read.parquet(f"{sf01}/supplier.parquet")
        .filter(F.col("s_acctbal") < 0)
        .count()
    )
    assert excluded > 0, "exclusion branch vacuous at sf0.01 too"
    con = ddb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf01}/{t}.parquet')"
        )
    sdf = canon(entrymod.queries()["tpch_q16"](spark, sf01).toPandas())
    ddf = canon(con.sql(entrymod.oracle_sql()["tpch_q16"]).df())
    ok, why = values_equal(sdf, ddf)
    assert ok, f"tpch_q16 @ sf0.01: {why}"


def test_q2_one_window_dims_broadcast(spark, sf_dir):
    """Q2's correlated MIN must compile to ONE window over the price list
    (not a second aggregate + self-join), with dim tables broadcast."""
    import __spark_entry__ as entrymod
    from kaer_spark.plans import executed_plan, has_broadcast_join

    df = entrymod.queries()["tpch_q2"](spark, sf_dir)
    assert has_broadcast_join(df)
    plan = executed_plan(df)
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan
    # lineitem (the price-list fact) is scanned exactly once
    assert plan.count("lineitem.parquet") == 1
