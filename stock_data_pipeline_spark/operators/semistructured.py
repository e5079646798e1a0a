"""Tier C semi-structured operators (SURVEY.md §2 C6 JSON, C7 arrays).

The reference's schemas are flat scalars only (§1.2); the driver's ``events.
props`` (JSON string) and ``embeddings.embedding`` (array<float>) extend the
data model to nested types, handled entirely with built-in JVM functions —
no Python UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..registry import query


# --------------------------------------------------------------------------
# A13 (declarative twin) — news-DOM headline extraction via from_xml
# --------------------------------------------------------------------------
# from_xml's schema describes the ROOT element's children: the <ul> body
# is an array of <li>, each holding one <a>. Attributes surface with the
# default `_` attributePrefix; element text is `_VALUE`.
_NEWS_DOM_SCHEMA = (
    "li ARRAY<STRUCT<a: STRUCT<_href: STRING, _VALUE: STRING>,"
    " time: STRUCT<_class: STRING, _VALUE: STRING>>>"
)


def parse_news_dom(html_col: Column | str) -> Column:
    """Parse a well-formed news-list DOM fragment
    (``<ul><li><a href="...">Title</a></li>...</ul>``) into an
    ``array<struct<href,title>>`` — the declarative, JVM-side twin of the
    reference's XPath headline scrape (news_data_to_gcp.py:54-59; A13).

    The Python fetcher path (sources/fetch.py::fetch_batch with a
    headline fetcher) exists for ragged real-world HTML; THIS path is what runs when the landing
    zone stores raw snippets and extraction should stay inside
    whole-stage codegen: ``from_xml`` (Spark 4) parses once per row, the
    accessor projects typed fields, and a later ``explode`` fans out to
    one row per headline with zero Python in the plan.
    """
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    parsed = F.from_xml(c, _NEWS_DOM_SCHEMA)
    return F.transform(
        parsed["li"],
        lambda li: F.struct(
            li["a"]["_href"].alias("href"),
            li["a"]["_VALUE"].alias("title"),
            li["time"]["_VALUE"].alias("published"),
        ),
    )


@query(
    "c06_json_extract",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
      MAX(CAST(json_extract_string(props, '$.k') AS VARCHAR)) AS max_k_str
    FROM events
    GROUP BY event_type
    """,
    driver=False,
)
def c06_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: the JSON surface over ``events.props`` — typed ``from_json``
    (explicit schema, parsed once per row inside codegen) plus
    path-plucking ``get_json_object`` (the ad-hoc string accessor);
    ``json_object_keys`` and ``schema_of_json`` inference are covered in
    tests/test_semistructured.py (keys via an oracle-equivalent sweep;
    inference output is a Spark-dialect DDL string, not
    oracle-comparable). Each extra accessor re-parses the document, so
    the verified query carries exactly the two that matter.

    Scale: JSON parse is per-row CPU, no shuffle added; the aggregate is
    the usual map-side-combined hash agg. The scan is widened via
    :func:`rebalance` (a no-op on real multi-file inputs) so the
    double-parse runs on every core instead of one test-parquet task.
    """
    from ..functions.partitioning import rebalance

    events = rebalance(load(spark, sf_dir, "events"))
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    k = F.from_json("props", props_schema).getField("k")
    k_str = F.get_json_object("props", "$.k")
    return (
        events.select("event_type", k.alias("k"), k_str.alias("k_str"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.max("k_str").alias("max_k_str"),
        )
    )


@query(
    "c06_variant",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        AS sum_k,
      CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
        AS BIGINT) AS n_distinct_k,
      CAST(SUM(CASE WHEN json_extract_string(props, '$.absent') IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_absent
    FROM events
    GROUP BY event_type
    """,
    driver=True,
)
def c06_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b: the Spark 4 VariantType path — ``parse_json`` shreds the
    document into Variant's binary encoding ONCE, then every accessor
    (``variant_get`` typed extraction, ``try_variant_get`` safe probe of
    a missing path) reads the shredded value without re-parsing. This is
    the 100 TB answer for ad-hoc JSON: string re-parsing per accessor
    (``get_json_object``) pays the full parse per column pulled, while
    Variant pays it once per row and supports columnar shredding in
    Parquet readers. The oracle computes the same aggregates from
    DuckDB's JSON accessors.

    Scale: map-side expression work + one hash aggregate; no Python, no
    extra shuffle beyond the groupBy.
    """
    from ..functions.partitioning import rebalance

    events = rebalance(load(spark, sf_dir, "events"))
    v = F.parse_json("props")
    with_fields = events.select(
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.absent", "bigint").alias("absent"),
    )
    return with_fields.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
        F.sum(F.when(F.col("absent").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_absent"),
    )


@query(
    "c07_array_funcs",
    oracle="""
    SELECT
      vec_id,
      label,
      CAST(len(embedding) AS INT) AS dim,
      round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum,
      round(sqrt(list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
      CAST(list_max(embedding) AS DOUBLE) AS vec_max,
      CAST(list_min(embedding) AS DOUBLE) AS vec_min,
      CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    """,
    driver=True,
)
def c07_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: higher-order array functions over the embedding vectors.

    ``transform`` / ``filter`` / ``aggregate`` are JVM higher-order
    functions — the whole per-vector reduction runs inside codegen with
    zero Python. This is the building block the similarity operators
    (operators/similarity.py) reuse. Scale: embarrassingly parallel, no
    shuffle.
    """
    emb = load(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    zero = F.lit(0.0)
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.aggregate(as_double, zero, lambda a, x: a + x), 6).alias("vec_sum"),
        F.round(F.sqrt(F.aggregate(sq, zero, lambda a, x: a + x)), 6).alias("l2_norm"),
        F.array_max("embedding").cast("double").alias("vec_max"),
        F.array_min("embedding").cast("double").alias("vec_min"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_positive"),
    )


@query(
    "c07_map_funcs",
    oracle="""
    SELECT
      event_id,
      CAST((CASE WHEN -value > 0 THEN 1 ELSE 0 END)
         + 1
         + (CASE WHEN value > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN value * value > 0 THEN 1 ELSE 0 END) AS INT) AS n_entries,
      array_to_string(list_filter(['neg', 'unit', 'value', 'value_sq'],
        k -> CASE k WHEN 'neg' THEN -value > 0
                    WHEN 'unit' THEN true
                    WHEN 'value' THEN value > 0
                    ELSE value * value > 0 END), ',') AS keys_csv,
      CASE WHEN value > 0 THEN value * 2.0 END AS value_x2,
      CASE WHEN value * value > 0 THEN value * value * 2.0 END AS value_sq_x2,
      CASE WHEN -value > 0 THEN -value * 2.0 END AS neg_x2
    FROM events
    """,
    driver=False,
)
def c07_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 map functions: build a map<string,double> per event with
    ``map_from_entries``, extend it with ``map_concat``, prune it with
    ``map_filter``, rescale with ``transform_values``, then read it back
    out via ``map_keys``/``element_at``. The oracle computes the same
    scalars directly — it verifies the *values*, while the Spark plan
    exercises the whole map-function surface.

    Output columns are atomic (csv'd key list, scalar lookups): the
    verification driver's canonicalizer cannot hash array/map cells.
    Every arithmetic step (negate, square, double) is exact in binary
    floating point, so no cross-engine rounding guard is needed.

    Scale: per-row map algebra is codegen'd JVM expression work — no
    shuffle, no Python, pipelines with the scan.
    """
    events = load(spark, sf_dir, "events")
    v = F.col("value")
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("neg").alias("key"), (-v).alias("val")),
            F.struct(F.lit("value").alias("key"), v.alias("val")),
            F.struct(F.lit("value_sq").alias("key"), (v * v).alias("val")),
        )
    )
    enriched = F.map_concat(m, F.create_map(F.lit("unit"), F.lit(1.0)))
    positive = F.map_filter(enriched, lambda k, val: val > 0)
    scaled = F.transform_values(positive, lambda k, val: val * 2.0)
    return events.select(
        "event_id",
        F.size(scaled).cast("int").alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(scaled)), ",").alias("keys_csv"),
        F.element_at(scaled, "value").alias("value_x2"),
        F.element_at(scaled, "value_sq").alias("value_sq_x2"),
        F.element_at(scaled, "neg").alias("neg_x2"),
    )


@query(
    "c06_xml_extract",
    oracle="""
    SELECT doc_id,
           'https://news.example/' || CAST(doc_id AS VARCHAR) || '/' ||
             CAST(item AS VARCHAR) AS href,
           source || ' headline ' || CAST(item AS VARCHAR) AS title
    FROM documents, (SELECT unnest([0, 1]) AS item)
    WHERE doc_id % 7 = 0
    """,
    driver=True)
def c06_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6c: the declarative XML/DOM extraction path, driver-checkable —
    each row renders a well-formed news-list snippet from its own
    columns, ``parse_news_dom`` (from_xml) parses it back, and the
    exploded (href, title) rows must equal what the oracle derives
    directly from the columns. The render step exists to make the PARSER
    the thing under differential test; in production the snippet column
    is the landed raw HTML (see A13 / sources/fetch.py).

    Scale: render + parse + explode are all row-local JVM expressions —
    map-only, no Python, no shuffle.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    li = (
        "<li><a href=\"https://news.example/%s/%s\">%s headline %s</a></li>"
    )
    html = F.format_string(
        f"<ul>{li}{li}</ul>",
        F.col("doc_id"), F.lit(0), F.col("source"), F.lit(0),
        F.col("doc_id"), F.lit(1), F.col("source"), F.lit(1),
    )
    return (
        docs.select("doc_id", F.explode(parse_news_dom(html)).alias("h"))
        .select(
            "doc_id",
            F.col("h.href").alias("href"),
            F.col("h.title").alias("title"),
        )
    )


def _landed_news_oracle() -> str:
    from ..sources.landed import FIXTURE_NEWS_DIR

    glob = os.path.join(FIXTURE_NEWS_DIR, "*.html")
    return f"""
    WITH pages AS (
      SELECT content FROM read_text('{glob}')
    ), ex AS (
      SELECT
        regexp_extract(content, '<meta name="ticker" content="([A-Z.]+)"', 1)
          AS ticker,
        regexp_extract_all(
          regexp_extract(content,
            '(?s)(<ul class="LatestNews-list">.*?</ul>)', 1),
          '(?s)<li class="LatestNews-item">.*?</li>') AS items
      FROM pages
    ), exploded AS (
      SELECT ticker,
             CAST(generate_subscripts(items, 1) - 1 AS INT) AS item_idx,
             unnest(items) AS item
      FROM ex
    )
    SELECT ticker, item_idx,
      regexp_extract(item, 'href="([^"]*)"', 1) AS href,
      regexp_extract(item, '(?s)<a[^>]*>(.*?)</a>', 1) AS title,
      strptime(regexp_extract(item, '<time[^>]*>([^<]*)</time>', 1),
               '%B %d, %Y') AS news_date
    FROM exploded
    """


@query("a13_news_dom", oracle=_landed_news_oracle())
def a13_news_dom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 on landed data: batch extraction over a landing directory of
    raw scraped HTML pages (fixtures/landed_news — CNBC-quote-page shaped,
    including one truncated page that must quarantine, not crash).

    Pipeline: wholetext file scan → regexp isolates the news-list
    fragment (the full page is NOT well-formed XML; the fragment is) →
    ``parse_news_dom`` (from_xml) parses typed (href, title, published)
    → posexplode fans out one row per headline → the date string parses
    with the reference's exact format ("%B %d, %Y",
    news_data_to_gcp.py:58). The oracle re-derives every row from the
    same files via DuckDB ``read_text`` + regexes — two independent
    DOM-extraction implementations must agree.

    The ``sf_dir`` argument is unused: the landing directory is the
    source, which is the point — A13's input is scraped files, not
    warehouse tables. Scale: scan + row-local codegen expressions only.
    """
    from ..sources.landed import landed_news_items, read_landed_news_pages

    return landed_news_items(read_landed_news_pages(spark))


@query(
    "c07_inline_zip",
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding[1:4], 1) - 1 AS INT) AS pos,
           CAST(unnest(embedding[1:4]) AS DOUBLE) AS val,
           CAST(generate_subscripts(embedding[1:4], 1) - 1 AS INT) * 10 + label
             AS tag
    FROM embeddings
    """, driver=False)
def c07_inline_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7b: struct-array construction and fan-out — ``arrays_zip`` pairs
    each (bounded) embedding prefix with its position, ``inline``
    explodes the struct array to one typed row per element, and a
    derived column proves the zipped fields stay aligned. Oracle: DuckDB
    zips lockstep unnest + generate_subscripts over the same prefix
    (WITH ORDINALITY is unimplemented there).

    Scale: pure codegen fan-out (bounded ×4 here; unbounded inline is the
    same plan), no shuffle, no Python.
    """
    emb = load(spark, sf_dir, "embeddings")
    prefix = F.slice("embedding", 1, 4)
    zipped = F.arrays_zip(
        F.transform(prefix, lambda x: x.cast("double")),
        F.sequence(F.lit(0), F.size(prefix) - 1),
    )
    return emb.select(
        "vec_id", "label", F.inline(zipped)
    ).select(
        "vec_id",
        F.col("1").cast("int").alias("pos"),
        F.col("0").alias("val"),
        (F.col("1").cast("int") * 10 + F.col("label")).alias("tag"),
    )
