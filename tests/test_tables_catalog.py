"""The declared input-table catalog (tables.CATALOG) against the files it
describes: every table at every test-data scale, the nanosecond events
layout, the Spark-written x10 layout, and a doctored file that must be
refused."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from helium_etl_lite_spark.tables import (
    CATALOG,
    TABLE_NAMES,
    declared_columns,
    footer_columns,
    load_table,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schema_matches_every_testdata_footer(sf_dir, sf):
    d = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(d):
        pytest.skip(f"{d} absent")
    for name in TABLE_NAMES:
        found = footer_columns(f"{d}/{name}.parquet")
        assert found == CATALOG[name] == declared_columns(name, found), name


def test_declared_schema_matches_scaled_layout():
    """The bench's x10 replicas are Spark-written directories of part
    files (tools/make_scaled_sf.py); one part file's footer describes
    each."""
    dirs = sorted(glob.glob(os.path.join(REPO, ".scaled", "*")))
    dirs = [d for d in dirs if os.path.isdir(os.path.join(d, "lineitem.parquet"))]
    if not dirs:
        pytest.skip("no .scaled/ replica built")
    for d in dirs:
        for name in TABLE_NAMES:
            found = footer_columns(f"{d}/{name}.parquet")
            assert found == declared_columns(name, found), (d, name)


def test_spark_written_directory_reads_through_the_catalog(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "lineitem.parquet")
    src.repartition(3).write.parquet(out)
    assert footer_columns(out) == CATALOG["lineitem"]
    back = load_table(spark, str(tmp_path), "lineitem")
    assert back.schema == src.schema
    assert back.count() == src.count()


def test_nanosecond_events_are_declared_bigint_and_converted(spark, sf_dir, tmp_path):
    """Files other than the test tables store events.ts as TIMESTAMP(NANOS):
    the footer picks the unit, and the result equals the microsecond
    file's."""
    us = pq.read_table(f"{sf_dir}/events.parquet")
    ns = us.set_column(
        us.schema.get_field_index("ts"), "ts", pc.cast(us["ts"], pa.timestamp("ns"))
    )
    pq.write_table(ns, str(tmp_path / "events.parquet"))
    found = footer_columns(str(tmp_path / "events.parquet"))
    assert dict(found)["ts"] == "bigint"
    assert dict(declared_columns("events", found))["ts"] == "bigint"
    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, sf_dir, "events")
    assert got.schema == want.schema
    assert got.orderBy("event_id").collect() == want.orderBy("event_id").collect()


def test_doctored_footer_is_refused(spark, sf_dir, tmp_path):
    li = pq.read_table(f"{sf_dir}/lineitem.parquet")
    i = li.schema.get_field_index("l_quantity")
    bad = li.set_column(i, "l_quantity", pc.cast(li["l_quantity"], pa.int64()))
    path = str(tmp_path / "lineitem.parquet")
    pq.write_table(bad, path)
    with pytest.raises(ValueError) as err:
        load_table(spark, str(tmp_path), "lineitem")
    msg = str(err.value)
    assert path in msg
    assert "`l_quantity` double" in msg and "`l_quantity` bigint" in msg
