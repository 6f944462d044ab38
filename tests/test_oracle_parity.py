"""Every registry query must match its DuckDB oracle at sf0.001
(the driver's gate runs the same comparison at sf0.01)."""

import pytest

from gmall_flink_2021_spark.plans import ORACLES, QUERIES

from .conftest import SF_SMOKE
from .parity import compare, duck_connect


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_SMOKE)
    if name not in ORACLES:
        # genuinely non-SQL-expressible (e.g. HLL estimates): the
        # driver records a rows-only check — assert it returns rows
        assert df.count() > 0
        return
    problems = compare(df, ORACLES[name], duck)
    assert not problems, f"{name}: {problems}"


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)
    # everything except the documented approx ops is oracle-checked
    # round 7: every sketch query now grades as an audit form (exact
    # counters + in-band verdicts) with a real oracle — nothing in
    # the registry is rows-only anymore
    assert set(QUERIES) - set(ORACLES) == set()


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_registry_order_is_definition_order():
    """QUERIES keeps the order the family modules define their entries
    in, and the driver contract hands that order through unchanged."""
    import __spark_entry__ as e

    from gmall_flink_2021_spark.plans.registry import _FAMILY_MODULES

    expected = [k for m in _FAMILY_MODULES for k in m.QUERIES]
    assert list(QUERIES) == expected
    assert list(e.queries()) == expected


def test_doc_length_audit_keeps_null_lang_group(spark, tmp_path):
    """Fixture for the exact edge the round-7 null-safe join guards
    (code-review finding): a NULL lang group must survive the audit's
    estimate x exact join on the Spark side, because the DuckDB
    oracle's GROUP BY keeps it — a plain inner join made the engine
    emit one row fewer and the driver hash go red."""
    import duckdb

    from pyspark.sql import functions as F

    rows = [(1, "en", 100), (2, "en", 200), (3, None, 50),
            (4, None, 70), (5, "zh", 30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long").withColumn(
        "text", F.concat(F.lit("x"), F.col("doc_id").cast("string")))
    sf = str(tmp_path / "nulldocs")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = QUERIES["doc_length_percentiles_approx"](spark, sf)
    assert got.filter(F.col("lang").isNull()).count() == 1

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet/*.parquet'")
    assert compare(got, ORACLES["doc_length_percentiles_approx"],
                   con) == []


def test_events_audits_null_ts_parity(spark, tmp_path):
    """Pin the NULL-ts group behavior of the three events-based sketch
    audits against their oracles on a corpus WITH a null timestamp:
    uv_accuracy keeps the NULL day group on both sides (groupBy ==
    GROUP BY), while the rolling and day→month rollup audits drop it
    on both sides (their est×exact joins are equality joins on both
    engines, and the expansion/sequence over a NULL day generates no
    rows). Without this fixture that consistency is coincidence a
    refactor could break on one side only."""
    import duckdb

    from pyspark.sql import functions as F

    rows = [(1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
            (2, "2024-01-01 11:00:00", 8, "click", 1.0, "{}"),
            (3, "2024-01-02 10:00:00", 7, "view", 1.0, "{}"),
            (4, None, 9, "view", 1.0, "{}")]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf = str(tmp_path / "nullts")
    events.coalesce(1).write.parquet(f"{sf}/events.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf}/events.parquet/*.parquet'")
    for name in ("unique_visitors_daily_approx",
                 "rolling_active_users_approx", "uv_sketch_rollup"):
        got = QUERIES[name](spark, sf)
        assert compare(got, ORACLES[name], con) == [], name
    # and the one that KEEPS the null group really does
    uv = QUERIES["unique_visitors_daily_approx"](spark, sf)
    assert uv.filter(F.col("day").isNull()).count() == 1
