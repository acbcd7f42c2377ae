"""Canary for driver-regenerated testdata: the generator has changed
physical schemas between rounds (events.ts shipped as INT64
TIMESTAMP(NANOS) one round and TIMESTAMP(MICROS) the next). This fails
loudly and specifically at round start instead of scattering type errors
through 100+ queries.

It also pins the footer-schema loader: ``load_table`` reads each table
against the schema of its parquet footer, which must be the schema Spark's
own inference gives, without running a Spark job or touching the
session's conf."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pipeline_spark.sources.star import TABLES, _events_ts_to_epoch_ns, load_table
from etl_pipeline_spark.utils.session_cache import clear_caches
from tests.conftest import SF_DIR
from tests.test_edge_round11 import _write_events, _write_orders

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# the three generated scales live side by side
TESTDATA_ROOT = os.path.dirname(SF_DIR)


def _inferred_schema(spark, sf_dir, table):
    """What ``spark.read.parquet`` infers, with the events.ts normalization."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return (_events_ts_to_epoch_ns(df) if table == "events" else df).schema


@pytest.mark.parametrize("table", TABLES)
def test_expected_columns_present(spark, table):
    load_table(spark, SF_DIR, table)


@pytest.mark.parametrize("sf", ("sf0.001", "sf0.01", "sf0.1"))
@pytest.mark.parametrize("table", TABLES)
def test_footer_schema_equals_inferred_schema(spark, sf, table):
    sf_dir = f"{TESTDATA_ROOT}/{sf}"
    assert load_table(spark, sf_dir, table).schema == _inferred_schema(spark, sf_dir, table)


@pytest.mark.parametrize("write, table, rows", [
    (_write_events, "events", [(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
                               (2, None, 2, "click", 2.0, "{}")]),
    (_write_orders, "orders", [(10, 1, "O", 100.0, "1996-06-01", "1-URGENT"),
                               (11, 2, "F", 200.0, None, "2-HIGH")]),
])
def test_footer_schema_of_spark_written_ntz_directory(spark, tmp_path, write, table, rows):
    sf, _con = write(spark, tmp_path, rows)
    got = load_table(spark, sf, table)
    assert got.schema == _inferred_schema(spark, sf, table)
    assert got.count() == 2


def _write_nanos_events(path):
    ts = [1_700_000_000_123_456_789, None, 1_700_000_001_000_000_001]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "view"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }),
        path,
    )
    return ts


def test_nanos_events_ts_reads_as_epoch_ns_bigint(spark, tmp_path):
    ts = _write_nanos_events(str(tmp_path / "events.parquet"))
    assert spark.conf.get(NANOS_CONF, None) is None
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "bigint"
    got = {r.event_id: r.ts for r in ev.collect()}
    assert got == dict(zip([1, 2, 3], ts))
    # the reading Spark's inference gives under nanosAsLong, unchanged
    spark.conf.set(NANOS_CONF, "true")
    try:
        legacy = spark.read.parquet(str(tmp_path / "events.parquet"))
        assert {r.event_id: r.ts for r in legacy.collect()} == got
    finally:
        spark.conf.unset(NANOS_CONF)


def test_missing_expected_column_raises_at_load(spark, tmp_path):
    pq.write_table(
        pa.table({"c_custkey": [1], "c_name": ["a"], "c_nationkey": pa.array([1], pa.int32()),
                  "c_mktsegment": ["BUILDING"]}),
        str(tmp_path / "customer.parquet"),
    )
    with pytest.raises(ValueError, match="c_acctbal"):
        load_table(spark, str(tmp_path), "customer")


def test_other_nanos_timestamp_raises_at_load(spark, tmp_path):
    pq.write_table(
        pa.table({"o_orderkey": [1], "o_custkey": [1], "o_orderstatus": ["O"],
                  "o_totalprice": [1.0], "o_orderdate": pa.array([0], pa.timestamp("ns")),
                  "o_orderpriority": ["1-URGENT"]}),
        str(tmp_path / "orders.parquet"),
    )
    with pytest.raises(ValueError, match="o_orderdate"):
        load_table(spark, str(tmp_path), "orders")


def test_cold_load_of_all_tables_runs_no_job(spark):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().jobsList(None).size()

    clear_caches(spark)
    before = jobs()
    for t in TABLES:
        load_table(spark, SF_DIR, t)
    assert jobs() == before


def test_micros_load_leaves_nanos_conf_unset(spark):
    clear_caches(spark)
    assert spark.conf.get(NANOS_CONF, None) is None
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "bigint"
    assert spark.conf.get(NANOS_CONF, None) is None


def test_events_ts_normalizes_to_epoch_ns(spark):
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "bigint"
    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    # plausible epoch-nanosecond range (2000-01-01 .. 2100-01-01)
    assert 946_684_800 * 10**9 < lo <= hi < 4_102_444_800 * 10**9


def test_embeddings_shape(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    assert dict(emb.dtypes)["embedding"].startswith("array")
    n = emb.selectExpr("size(embedding)").distinct().collect()
    assert len(n) == 1, f"ragged embedding lengths: {n}"
