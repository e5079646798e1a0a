"""Byte-size conf parsing in functions/partitioning.py.

``conf_bytes`` must read every spelling Spark accepts for a byte conf and
fail loudly, naming the key, on anything else — a silent fallback to the
default would size scan splits from a value nobody set."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from stock_data_pipeline_spark.functions.partitioning import conf_bytes

KEY = "spark.sql.files.maxPartitionBytes"


def _session(value: str):
    """A session stand-in with only ``conf.get`` — the one surface a Spark
    Connect client shares with a classic session here."""
    return SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: value))


@pytest.mark.parametrize(
    "raw, expected",
    [
        ("64k", 64 * 1024),
        ("4m", 4 * 1024 * 1024),
        ("128mb", 128 * 1024 * 1024),
        ("1g", 1024**3),
        ("1G", 1024**3),
        ("134217728", 134217728),
        ("134217728b", 134217728),  # Spark's own spelling of the default
    ],
)
def test_conf_bytes_accepts_spark_byte_strings(raw, expected):
    assert conf_bytes(_session(raw), KEY, "0") == expected


@pytest.mark.parametrize("raw", ["lots", "1.5g", "-4m", "4 mb", ""])
def test_conf_bytes_rejects_unparseable_values(raw):
    with pytest.raises(ValueError, match=KEY):
        conf_bytes(_session(raw), KEY, "0")


def test_conf_bytes_reads_the_live_session_default(spark):
    assert conf_bytes(spark, "spark.sql.files.openCostInBytes", "4194304") == (
        4 * 1024 * 1024
    )
