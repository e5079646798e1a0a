"""Registry-layout contract: the driver verifies only the first 50 sorted
query names (observed round 1), so the driver-facing surface must stay
inside that window AND keep one representative per SURVEY §2 operator
family. A regression here silently un-verifies whole operator tiers."""

from __future__ import annotations

import re

from stock_data_pipeline_spark import registry

# One driver-facing name required per SURVEY §2 family. A family is
# represented by its own prefix OR by an in-window query that exercises
# the same operator class. Every listed prefix must match a query in the
# window (test_every_listed_representative_is_in_the_window), so a stale
# alternate cannot hide a family that has lost its representative.
REQUIRED_DRIVER_FAMILIES: dict[str, list[str]] = {
    "a10": ["a10"], "a13": ["a13"],
    "b01": ["b01"], "b02": ["b02"], "b03": ["b03"], "b04": ["b04"],
    "b05": ["b05"], "b06": ["b06"], "b07": ["b07"],
    # B8 ranking windows: b87 is dense-rank momentum deciles
    "b08": ["b87"],
    # B9 analytic windows with frames: b79 ATR is a ROWS frame over bars
    "b09": ["b09", "b79"],
    # B10 sort/limit/top-k: b42 (TPC-H Q3) is global ORDER BY revenue
    # LIMIT 10, the canonical TakeOrderedAndProject shape
    "b10": ["b42"],
    "b11": ["b11"], "b12": ["b12"], "b13": ["b13"],
    "b14": ["b14"], "b15": ["b15"], "b16": ["b16"],
    "b17": ["b17"], "b18": ["b18"], "b19": ["b19"],
    "c01": ["c01"], "c02": ["c02"], "c03": ["c03"], "c04": ["c04"],
    "c05": ["c05"], "c06": ["c06"], "c07": ["c07"], "c08": ["c08"],
    "c09": ["c09"], "c10": ["c10"],
    "flagship": ["flagship"],
}


def test_driver_surface_fits_verification_window():
    names = sorted(registry.all_queries())
    assert len(names) <= 50, (
        f"{len(names)} driver-facing queries exceed the driver's 50-row "
        "cap; demote bonus queries with driver=False"
    )


def test_every_family_has_a_driver_representative():
    names = sorted(registry.all_queries())
    missing = [
        fam
        for fam, reps in REQUIRED_DRIVER_FAMILIES.items()
        if not any(n.startswith(p) for p in reps for n in names)
    ]
    assert not missing, f"families with no driver-verified query: {missing}"


def test_every_listed_representative_is_in_the_window():
    names = sorted(registry.all_queries())
    stale = sorted(
        p
        for reps in REQUIRED_DRIVER_FAMILIES.values()
        for p in reps
        if not any(n.startswith(p) for n in names)
    )
    assert not stale, f"listed representatives with no in-window query: {stale}"


def test_driver_names_are_a_subset_of_full_surface():
    full = set(registry.full_queries())
    driver = set(registry.all_queries())
    assert driver <= full
    assert set(registry.all_oracles()) <= set(registry.full_oracles())


def test_query_names_follow_naming_convention():
    pat = re.compile(r"^(a\d{2}|b\d{2}|c\d{2}|flagship)_[a-z0-9_]+$")
    bad = [n for n in registry.full_queries() if not pat.match(n)]
    assert not bad, bad


def test_driver_queries_emit_only_atomic_columns(spark, sf_dir):
    """The driver's pandas canonicalizer cannot hash array/map/struct/
    binary cells (round-1 b15 err: unhashable numpy.ndarray). Every
    driver-facing query must project such columns down to scalars."""
    from pyspark.sql import types as T

    bad = {}
    for name, fn in registry.all_queries().items():
        df = fn(spark, sf_dir)
        nonatomic = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.StructType, T.BinaryType),
            )
        ]
        if nonatomic:
            bad[name] = nonatomic
    assert not bad, f"non-canonicalizable driver outputs: {bad}"


def test_queries_md_catalog_in_sync():
    """QUERIES.md is generated from the registry; regenerating must
    reproduce the checked-in file byte-for-byte (run
    `python gen_queries_md.py` after registering a query)."""
    import os

    import gen_queries_md

    path = os.path.join(os.path.dirname(gen_queries_md.__file__), "QUERIES.md")
    with open(path) as f:
        assert f.read() == gen_queries_md.render()
