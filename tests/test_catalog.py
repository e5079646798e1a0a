"""The catalog's declared fixture schemas (catalog.FIXTURE_SCHEMAS).

``load`` reads every table with its declared schema instead of inferring
one per load, so these tests pin that the declaration is exactly what
inference would produce on every fixture, and that a fixture which does not
match it fails loudly instead of reading as NULLs."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stock_data_pipeline_spark.catalog import TABLES, load, table_path

_FIXTURES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


@pytest.mark.parametrize("sf", _FIXTURES)
def test_declared_schema_equals_inferred(spark, sf):
    if not os.path.isdir(sf):
        pytest.skip(f"fixture dir not present: {sf}")
    for t in TABLES:
        inferred = spark.read.parquet(table_path(sf, t)).schema
        assert load(spark, sf, t).schema == inferred, (sf, t)


def _events_dir(tmp_path, sf_dir, transform):
    tb = transform(pq.read_table(table_path(sf_dir, "events")))
    pq.write_table(tb, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_missing_declared_column_raises(spark, sf_dir, tmp_path):
    """A declared read would return NULL for a column the file lacks; the
    footer check must refuse the file instead, naming both column lists."""
    d = _events_dir(tmp_path, sf_dir, lambda tb: tb.drop_columns(["props"]))
    with pytest.raises(ValueError, match="props") as err:
        load(spark, d, "events")
    assert "events.parquet" in str(err.value)


def test_nanosecond_ts_fails_at_execution(spark, sf_dir, tmp_path):
    """No fixture stores ``ts`` as TIMESTAMP(NANOS), so the catalog has no
    conversion for it: such a file must fail when read, not load as
    something else."""

    def to_nanos(tb):
        i = tb.schema.get_field_index("ts")
        return tb.set_column(i, "ts", tb.column("ts").cast(pa.timestamp("ns")))

    d = _events_dir(tmp_path, sf_dir, to_nanos)
    ts_type = pq.read_schema(os.path.join(d, "events.parquet")).field("ts").type
    assert ts_type == pa.timestamp("ns")
    df = load(spark, d, "events")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()
