"""The parameterized ingest pipeline (SURVEY.md §2 Tier A, §7 Phase 3).

The reference repo contains four near-identical DAG files differing only in
fetcher, schema, table name, and cron cadence (SURVEY.md §0) — a design
smell this module fixes with ONE ``IngestPipeline`` parameterized by a
:class:`PipelineSpec`. A batch run is a single DataFrame lineage:

    seed (A1-A3) → distributed fetch (A4-A5, mapInPandas)
                 → ok/quarantine split (A6, observable — not silent)
                 → schema enforcement (A19)
                 → append parquet sink partitioned by ingest_date (A18-A19)
                 → observed row counts (A11)

replacing the reference's 8-task Airflow DAG with its CSV hops on a shared
volume (stock_data_to_gcp.py:51-71,116-136).

Scale design: the sink is partitioned by ``ingest_date`` so time-range
queries prune partitions; appends are per-batch directories (no
read-modify-write); counts come from ``observe()`` (no extra pass over the
data); rerun repair is key-dedup (B11), not truncate-reload.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..sources import fetch as fetch_mod
from ..sources.seed import seed_table


@dataclass(frozen=True)
class PipelineSpec:
    """Everything that distinguishes the reference's four DAGs. The
    columns are declared once, in ``schemas.SINK_SCHEMAS[name]``; the rest
    derives from that."""

    name: str                      # sink table name
    cadence: str                   # Structured Streaming trigger interval

    @property
    def schema(self) -> T.StructType:
        return schemas.SINK_SCHEMAS[self.name]

    @property
    def fields(self) -> tuple[str, ...]:
        """The columns a fetcher fills."""
        return fetch_mod.fetched_columns(self.schema)

    @property
    def news_shaped(self) -> bool:
        """1:N headline fetch vs 1:1 quote fetch."""
        return "Title" in self.schema.names

    @property
    def key(self) -> list[str]:
        """Natural dedup key: collection time and ticker (+ headline)."""
        return [self.schema.names[0], "Ticker"] + (["Title"] if self.news_shaped else [])


# The four reference pipelines (cadences from SURVEY.md §1.1).
TICKER_SPEC = PipelineSpec("ticker_data", "120 seconds")
RATIO_SPEC = PipelineSpec("fin_ratio_data", "1 hour")
STATEMENT_SPEC = PipelineSpec("fin_stm_data", "1 hour")
NEWS_SPEC = PipelineSpec("news_data", "2 hours")


@dataclass
class BatchMetrics:
    n_fetched: int
    n_ok: int
    n_quarantined: int


class IngestPipeline:
    """One parameterized pipeline instance (vs four copy-pasted DAGs)."""

    def __init__(
        self,
        spec: PipelineSpec,
        sink_root: str,
        *,
        fetcher=None,
        symbols: list[str] | None = None,
    ):
        self.spec = spec
        self.sink_root = sink_root
        self.symbols = symbols
        if fetcher is not None:
            self.fetcher = fetcher
        elif spec.news_shaped:
            self.fetcher = fetch_mod.synthetic_news_fetcher()
        else:
            self.fetcher = fetch_mod.synthetic_quote_fetcher(spec.fields)

    # -- paths ------------------------------------------------------------
    @property
    def sink_path(self) -> str:
        return f"{self.sink_root}/{self.spec.name}"

    @property
    def quarantine_path(self) -> str:
        return f"{self.sink_root}/{self.spec.name}_quarantine"

    def _dated(self, df: DataFrame) -> DataFrame:
        """``df`` plus the ``ingest_date`` partition column."""
        return df.withColumn("ingest_date", F.to_date(F.col(self.spec.schema.names[0])))

    # -- batch run --------------------------------------------------------
    def run_batch(self, spark: SparkSession, batch_time: datetime) -> BatchMetrics:
        """One micro-batch: fetch universe → split → enforce → append."""
        schema = self.spec.schema
        fetched = fetch_mod.fetch_batch(
            seed_table(spark, self.symbols), self.fetcher, schema, batch_time
        )

        import uuid

        # unique per run: two concurrent batches of the same spec (e.g.
        # two pipeline instances over different sink roots on one
        # session) must not cross-capture each other's metrics — Spark
        # matches observations by NAME at query completion
        obs = Observation(f"{self.spec.name}_batch_{uuid.uuid4().hex[:8]}")
        fetched = fetched.observe(
            obs,
            F.count(F.lit(1)).alias("n_fetched"),
            F.count(F.col("fetch_error")).alias("n_quarantined"),
        )
        # EAGER lineage cut before the two sink actions: a lazy persist
        # would re-execute the mapInPandas fetch if cached blocks are
        # lost (executor death) — with a real nondeterministic fetcher
        # the recomputed pass can disagree on the ok/quarantine split and
        # silently drop a row between the two writes. localCheckpoint
        # materializes ONCE and fails loudly if its blocks vanish.
        fetched = fetched.localCheckpoint(eager=True)
        try:
            ok = fetched.filter(F.col("fetch_error").isNull()).drop(
                "fetch_error"
            )
            bad = fetched.filter(F.col("fetch_error").isNotNull())

            (
                self._dated(enforce_schema(ok, schema))
                .write.mode("append")
                .partitionBy("ingest_date")
                .parquet(self.sink_path)
            )
            # Quarantine is observable, append-only, and carries the error —
            # the anti-silent-drop counterpart of the reference's bare except
            # (stock_data_to_gcp.py:48-50). Metrics are final after the
            # ok-write's action, so the quarantine job is SKIPPED in the
            # common clean-batch case (at a 120 s cadence, ~720 empty
            # append jobs a day otherwise).
            m = obs.get
            if int(m["n_quarantined"]) > 0:
                bad.write.mode("append").parquet(self.quarantine_path)
        finally:
            fetched.unpersist()
        return BatchMetrics(
            n_fetched=int(m["n_fetched"]),
            n_ok=int(m["n_fetched"]) - int(m["n_quarantined"]),
            n_quarantined=int(m["n_quarantined"]),
        )

    def run_batch_with_retry(
        self,
        spark: SparkSession,
        batch_time: datetime,
        *,
        retries: int = 2,
        on_failure=None,
        on_retry=None,
    ) -> BatchMetrics:
        """Operational wrapper: the reference's ``retries: 2`` +
        ``email_on_failure`` semantics (stock_data_to_gcp.py:80-82),
        without the silent part.

        Per-ROW errors never reach here — they quarantine inside
        ``run_batch``. This guards whole-BATCH failures (sink I/O, schema
        enforcement, driver errors): retry up to ``retries`` times
        (``on_retry(attempt, exc)`` observes each), then call
        ``on_failure(exc, spec_name, batch_time)`` — the alert hook where
        the reference sends email — and re-raise. The retry is safe
        because BOTH writes are append-per-run and repaired by key-dedup
        reads (``read_sink_deduped`` / ``read_quarantine_deduped``): a
        partial append before a crash is deduplicated, not
        double-counted.
        """
        if retries < 0:
            raise ValueError(f"retries must be >= 0, got {retries}")
        last: Exception | None = None
        for attempt in range(retries + 1):
            try:
                return self.run_batch(spark, batch_time)
            except Exception as exc:  # noqa: BLE001 — boundary: alert + re-raise
                last = exc
                if attempt < retries and on_retry is not None:
                    on_retry(attempt, exc)
        if on_failure is not None:
            on_failure(last, self.spec.name, batch_time)
        raise last

    # -- reads ------------------------------------------------------------
    def _scan_sink(self, spark: SparkSession) -> DataFrame:
        """The sink's files read with the declared schema: no
        schema-inference job, and a sink whose batches all failed (no
        data files yet) reads as empty instead of failing to infer."""
        schema = T.StructType(
            [*self.spec.schema.fields, T.StructField("ingest_date", T.DateType(), True)]
        )
        return spark.read.schema(schema).parquet(self.sink_path)

    def read_sink(self, spark: SparkSession) -> DataFrame:
        return self._scan_sink(spark).drop("ingest_date")

    def read_quarantine(self, spark: SparkSession) -> DataFrame:
        """Failed rows: the sink columns plus ``fetch_error``. A pipeline
        whose batches were all clean never writes the quarantine, so a
        missing directory reads as empty."""
        schema = fetch_mod.with_fetch_error(self.spec.schema)
        try:
            return spark.read.schema(schema).parquet(self.quarantine_path)
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            return spark.createDataFrame([], schema)

    def read_quarantine_deduped(self, spark: SparkSession) -> DataFrame:
        """Retry-repaired quarantine view: like the sink, the quarantine
        is append-per-run, so a batch that crashed AFTER its quarantine
        write and was retried appends its failed rows twice — alerting
        built on raw counts would double-fire. Same natural-key dedup as
        ``read_sink_deduped``."""
        return self.read_quarantine(spark).dropDuplicates(self.spec.key)

    def read_sink_deduped(self, spark: SparkSession) -> DataFrame:
        """Rerun-repair view (B11): retried batches may double-append
        (the reference's WRITE_APPEND + retries=2,
        stock_data_to_gcp.py:82,134); the natural key wins."""
        return self.read_sink(spark).dropDuplicates(self.spec.key)

    def read_sink_day(self, spark: SparkSession, day: str) -> DataFrame:
        """Partition-pruned single-day read.

        ``ingest_date`` is a PARTITION column of the sink, so this filter
        resolves at planning time: the scan lists only ``ingest_date=day``
        directories (visible as a non-empty ``PartitionFilters`` in the
        executed plan — asserted in tests/test_partitioned_sink.py). At
        100 TB this is the difference between reading one day and reading
        the table; the reference gets the same effect only by paying
        BigQuery to scan-filter server-side.
        """
        return self._scan_sink(spark).filter(
            F.col("ingest_date") == F.lit(day).cast("date")
        )

    def backfill_day(self, df: DataFrame, day: str) -> None:
        """Idempotent single-day backfill via dynamic partition overwrite.

        ``partitionOverwriteMode=dynamic`` makes ``overwrite`` replace ONLY
        the partitions present in ``df`` (here: one ingest_date), leaving
        every other day's directories untouched — the rerun-safe repair
        path for a bad batch, vs the reference's append-plus-retry which
        double-loads on partial failure (stock_data_to_gcp.py:82,134).
        Static overwrite mode would silently TRUNCATE the whole sink; the
        conf is set per-write via ``.option`` so the session default stays
        untouched.
        """
        # accept sink-derived frames directly: read_sink_day keeps the
        # ingest_date partition column, which is recomputed below anyway
        # — without this drop the documented read->fix->write repair flow
        # fails schema enforcement on an 'extra' column
        if "ingest_date" in df.columns:
            df = df.drop("ingest_date")
        day_df = self._dated(enforce_schema(df, self.spec.schema)).filter(
            F.col("ingest_date") == F.lit(day).cast("date")
        )
        # The repair frame usually DERIVES from this sink (read → fix →
        # write back). Lazy execution would then stream the overwrite from
        # the very files it is deleting — FILE_NOT_EXIST mid-job. Cut the
        # lineage first; one day of rows is the bounded repair unit.
        day_df = day_df.localCheckpoint(eager=True)
        if day_df.limit(1).count() == 0:
            # dynamic overwrite of ZERO partitions deletes nothing: the
            # "repair" would silently leave the bad day in place while
            # reporting success. A repair frame with no rows on the
            # target day is an operator error (wrong day, tz-shifted
            # timestamps, over-aggressive fix filter) — say so.
            raise ValueError(
                f"backfill_day({day!r}): repair frame contains no rows for "
                f"that day — nothing would be overwritten; check the "
                f"{self.spec.schema.names[0]} values (day-wipes need an explicit delete, "
                f"not an empty overwrite)"
            )
        (
            day_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_date")
            .parquet(self.sink_path)
        )


def enforce_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """A19: schema enforcement at the sink boundary.

    Column set must match exactly (order-insensitive, like the
    reference's declared ``schema_fields``); types are cast, which
    raises under ANSI if a value can't convert — fail loudly at the
    boundary rather than corrupt the table.
    """
    expected = {f.name for f in schema.fields}
    actual = set(df.columns)
    if expected != actual:
        missing, extra = expected - actual, actual - expected
        raise ValueError(
            f"schema mismatch at sink: missing={sorted(missing)} extra={sorted(extra)}"
        )
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
