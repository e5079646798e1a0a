"""Benchmark of the engine's public surface (workloads in workloads.json).

Usage (from the repository root):

    python3 perfbench/run.py --workload cold_sweep --seed 1 --seconds 14 --trace 0

Each run starts its own Spark session (``session.get_spark``) on
``local[cores]`` (``cores`` in workloads.json, overridden by
``SPARK_GRAFT_CPUS``), generates its inputs, warms up with one untimed
round, then runs closed-loop, single-client rounds of the workload: as
many as fill ``--seconds`` at the workload's nominal round length
(``round_s``), so the measured work is fixed by ``--seconds``. Outputs
are checked outside every timed region.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. An earlier line
carries the detail (sample counts, error rate, ingest figures, box info).

Workload definitions are frozen in ``perfbench/workloads.json``; the
seed sets the ingest inputs. Every scratch
file (fixtures, aliases, sinks, event logs, Spark local dirs) lives under
``.perfbench_tmp/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true",
        help="one round at sf0.001 with a 200-symbol universe (for the smoke test)",
    )
    p.add_argument("--spans-out", help="write the traced run's spans to this JSON file")
    return p.parse_args(argv)


# -- small helpers ------------------------------------------------------------

def pctl(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation); the value itself for n=1."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def proc_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), children already reaped included."""
    ppid, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])  # u/s time, own + reaped
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


class Timeout(Exception):
    pass


def _alarm(signum, frame):
    raise Timeout(f"run exceeded {DEADLINE_S} s")


# -- the run -------------------------------------------------------------------

class Run:
    def __init__(self, args, spec: dict, defs: dict, tmp: str):
        self.args = args
        self.spec = spec
        self.defs = defs
        self.tmp = tmp
        self.rng = random.Random(args.seed)
        self.traced = bool(args.trace)
        self.cores = None
        self.calls = []          # spans.Call for every timed call
        self.rounds = []         # (wall_s, cpu_s, traced) per timed round
        self.probes = []
        self.failed = 0
        self.attempted = 0
        self.problems: list[str] = []
        self.detail: dict = {}
        self.setup: dict[str, float] = {}
        self.event_log = None
        self.call_seq = 0

    # -- session and setup --------------------------------------------------
    def start_session(self):
        t0 = time.perf_counter()
        from stock_data_pipeline_spark.session import default_parallelism, get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                # scratch files stay in the run's directory: no /tmp writes
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.tmp, "tmp"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = default_parallelism()
        self.setup["session.start_s"] = time.perf_counter() - t0

    def probe(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(self.defs["calib_probe_rows"]).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def next_call_id(self) -> str:
        self.call_seq += 1
        return f"c{self.call_seq}"

    def begin_round(self, traced: bool):
        self.probes.append(self.probe())
        if traced:
            if self.event_log is None:
                from spans import EventLog

                self.event_log = EventLog(self.spark, os.path.join(self.tmp, "eventlog"))
            self.event_log.attach()
        elif self.event_log is not None:
            self.event_log.detach()

    def timed_call(self, name: str, layer: str, traced: bool, build, execute=None):
        """Time ``build()`` then ``execute(result)``; returns the result."""
        from spans import Call

        sc = self.spark.sparkContext
        cid = self.next_call_id()
        if traced:
            sc.setJobGroup(cid, name)
        start = time.time()
        result = build()
        build_end = time.time()
        if execute is not None:
            execute(result)
        end = time.time()
        if traced:
            sc.setJobGroup("untraced", "")
        self.calls.append(Call(cid, name, layer, start, build_end, end, traced, len(self.rounds)))
        return result

    def round_plan(self) -> list[bool]:
        """Which timed rounds are traced (none in an untraced run).

        The per-layer figures come from the traced round; tracing
        overhead compares it with the untraced rounds on both sides of it
        in one warm session (U,T,U), so JIT warm-up favours neither side."""
        return [False, True, False] if self.traced else []

    def run_rounds(self, one_round):
        """Run the timed rounds: the traced plan, or as many untraced
        rounds as fill ``--seconds`` at the workload's nominal round
        length (``round_s``). The count depends on ``--seconds`` alone,
        so every run does the same work: the JVM still speeds up from
        round to round, and a count that followed the box's speed would
        couple each round's figure to that speed."""
        plan = self.round_plan() or [False] * (
            1 if self.args.smoke else max(1, round(self.args.seconds / self.spec["round_s"]))
        )
        for i, traced in enumerate(plan):
            self.begin_round(traced)
            wall, cpu = one_round(i, traced)
            self.rounds.append((wall, cpu, traced))
        if self.event_log is not None:
            self.event_log.detach()

    # -- query workloads ----------------------------------------------------
    def setup_queries(self):
        import fixtures

        sf = 0.001 if self.args.smoke else self.spec["sf"]
        self.fixture_dir = os.path.join(self.tmp, f"sf{sf}")
        t0 = time.perf_counter()
        fixtures.generate(self.fixture_dir, sf, self.defs["fixture_seed"])
        self.detail["gen_s"] = time.perf_counter() - t0
        self.start_session()

        t0 = time.perf_counter()
        from stock_data_pipeline_spark import registry

        self.registry = registry
        self.names = list(self.spec["queries"])
        self.layer_of = {}
        for n in self.names:
            module = registry.get(n).fn.__wrapped__.__module__
            self.layer_of[n] = module.removeprefix("stock_data_pipeline_spark.")
        self.setup["setup.import_s"] = time.perf_counter() - t0

        # warm-up: the first job, then one untimed pass (its own alias)
        t0 = time.perf_counter()
        self.probe()
        for n in self.names:
            self.registry.get(n).fn(self.spark, self.alias("warm")).toPandas()
        self.setup["setup.warm_s"] = time.perf_counter() - t0
        self.results = {}

    def alias(self, tag) -> str:
        """A fresh symlink to the fixture dir: a path no memo has seen."""
        sf_dir = os.path.join(self.tmp, f"alias_{tag}")
        if not os.path.islink(sf_dir):
            os.symlink(self.fixture_dir, sf_dir)
        return sf_dir

    def query_round(self, i: int, traced: bool) -> tuple[float, float]:
        """One pass in listed order through a fresh alias of the fixture,
        so every call misses the plan and catalog memos. Each call is the
        verification driver's own (``toPandas``); the first timed result
        of each query is the one checked. Returns the pass's wall and CPU
        seconds."""
        sf_dir = self.alias(i)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        for n in self.names:
            fn = self.registry.get(n).fn
            self.timed_call(
                n, self.layer_of[n], traced,
                lambda: fn(self.spark, sf_dir),
                lambda df: self.results.setdefault(n, df.toPandas()),
            )
        return time.perf_counter() - t0, tree_cpu_s() - cpu0

    def check_queries(self):
        from tests.oracle import _driver_hash

        t0 = time.perf_counter()
        want = self.oracle_hashes()
        wrong = {n for n in self.names if _driver_hash(self.results[n]) != want[n]}
        for n in sorted(wrong):
            self.problems.append(f"{n}: result differs from its DuckDB oracle")
        self.failed += sum(1 for c in self.calls if c.name in wrong)
        self.detail["check_s"] = time.perf_counter() - t0

    def oracle_hashes(self) -> dict[str, str]:
        """``{name: hash}`` of each query's DuckDB oracle over the fixture,
        hashed the way the verification driver does (``tests.oracle``).
        Hashes are cached in ``.perfbench_cache/`` under a key of the
        fixture bytes, the oracle SQL, the DuckDB and pandas versions and
        the source of the oracle runner and hash, so a change to any of
        them re-runs the oracle."""
        import hashlib
        import inspect

        import duckdb
        import pandas as pd

        from stock_data_pipeline_spark.catalog import TABLES
        from tests.oracle import _driver_hash, run_oracle

        fixture = hashlib.sha256(f"{duckdb.__version__} {pd.__version__}".encode())
        for fn in (run_oracle, _driver_hash):
            fixture.update(inspect.getsource(fn).encode())
        for t in TABLES:
            with open(os.path.join(self.fixture_dir, f"{t}.parquet"), "rb") as fh:
                fixture.update(fh.read())
        path = os.path.join(ROOT, ".perfbench_cache", "oracles.json")
        try:
            with open(path) as fh:
                cache = json.load(fh)
        except (OSError, ValueError):
            cache = {}
        out, missed = {}, False
        for n in self.names:
            sql = self.registry.get(n).oracle
            key = hashlib.sha256(fixture.digest() + sql.encode()).hexdigest()
            if key not in cache:
                cache[key] = _driver_hash(run_oracle(sql, self.fixture_dir))
                missed = True
            out[n] = cache[key]
        if missed:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".part", "w") as fh:
                json.dump(cache, fh)
            os.replace(path + ".part", path)
        return out

    def run_queries(self):
        self.setup_queries()
        self.run_rounds(self.query_round)
        self.attempted = len(self.calls)
        self.check_queries()

    # -- ingest workload ----------------------------------------------------
    def run_ingest(self):
        self.start_session()
        t0 = time.perf_counter()
        from stock_data_pipeline_spark.pipelines import ingest
        from stock_data_pipeline_spark.sources import fetch
        from stock_data_pipeline_spark.sources.seed import BAD_TICKERS, synthetic_universe

        self.setup["setup.import_s"] = time.perf_counter() - t0
        by_name = {
            s.name: s
            for s in (ingest.TICKER_SPEC, ingest.RATIO_SPEC, ingest.STATEMENT_SPEC, ingest.NEWS_SPEC)
        }
        specs = [by_name[n] for n in self.spec["specs"]]
        n_universe = 200 if self.args.smoke else self.spec["universe"]
        universe = synthetic_universe(n_universe)
        good = [s for s in universe if s not in BAD_TICKERS]
        fail = frozenset(self.rng.sample(good, max(1, round(self.spec["fail_fraction"] * n_universe))))
        order = list(specs)
        self.rng.shuffle(order)

        def fetcher(spec):
            if spec.news_shaped:
                return fetch.synthetic_news_fetcher(fail_symbols=fail)
            return fetch.synthetic_quote_fetcher(spec.fields, fail_symbols=fail)

        def pipelines(root, symbols):
            return {
                s.name: ingest.IngestPipeline(s, root, fetcher=fetcher(s), symbols=symbols)
                for s in specs
            }

        noop = lambda d: d.write.format("noop").mode("overwrite").save()  # noqa: E731
        first = datetime.fromisoformat(self.spec["first_batch_time"])
        step = timedelta(minutes=self.spec["batch_step_minutes"])

        # warm-up: one batch and both reads per spec on a throwaway sink,
        # at full size: a smaller one left the first timed round 10-25%
        # slower than the second
        t0 = time.perf_counter()
        self.probe()
        for p in pipelines(os.path.join(self.tmp, "warm_sink"), universe).values():
            p.run_batch(self.spark, first - step)
            noop(p.read_sink_deduped(self.spark))
            noop(p.read_sink_day(self.spark, (first - step).date().isoformat()))
        self.setup["setup.warm_s"] = time.perf_counter() - t0

        sink_root = os.path.join(self.tmp, "sink")
        pipes = pipelines(sink_root, universe)
        self.batches = []   # (spec, BatchMetrics, files added)
        expected_ok = {s.name: 0 for s in specs}

        def expected(spec, batch_time):
            ok = [s for s in good if s not in fail]
            if spec.news_shaped:
                f = fetch.synthetic_news_fetcher()
                return sum(len(f(s, batch_time)) for s in ok), len(fail)
            return len(ok), len(fail)

        def one_round(i: int, traced: bool) -> tuple[float, float]:
            batch_time = first + i * step
            day = batch_time.date().isoformat()
            wall = cpu = 0.0
            for spec in order:
                p = pipes[spec.name]
                _, files_before = dir_stats(sink_root)
                cpu0 = tree_cpu_s()
                t0 = time.perf_counter()
                m = self.timed_call(spec.name, "ingest.batch", traced,
                                    lambda: p.run_batch(self.spark, batch_time))
                self.timed_call(spec.name, "ingest.read_deduped", traced,
                                lambda: p.read_sink_deduped(self.spark), noop)
                self.timed_call(spec.name, "ingest.read_day", traced,
                                lambda: p.read_sink_day(self.spark, day), noop)
                wall += time.perf_counter() - t0
                cpu += tree_cpu_s() - cpu0
                _, files_after = dir_stats(sink_root)
                self.batches.append((spec.name, m, files_after - files_before))
                want_ok, want_q = expected(spec, batch_time)
                expected_ok[spec.name] += want_ok
                if (m.n_ok, m.n_quarantined) != (want_ok, want_q):
                    self.failed += 3
                    self.problems.append(
                        f"{spec.name} @ {batch_time}: n_ok/n_quarantined "
                        f"{m.n_ok}/{m.n_quarantined}, expected {want_ok}/{want_q}"
                    )
            return wall, cpu

        self.run_rounds(one_round)
        self.attempted = len(self.calls)
        t0 = time.perf_counter()
        for spec in specs:
            got = pipes[spec.name].read_sink_deduped(self.spark).count()
            if got != expected_ok[spec.name]:
                self.failed += 1
                self.problems.append(
                    f"{spec.name}: {got} deduped sink rows, expected {expected_ok[spec.name]}"
                )
        self.detail["check_s"] = time.perf_counter() - t0
        sink_bytes, sink_files = dir_stats(sink_root)
        self.ingest = {"sink_bytes": sink_bytes, "sink_files": sink_files}

    # -- results ------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        kb = proc_kb(os.getpid(), "VmHWM")
        gw = getattr(self.spark.sparkContext._gateway, "proc", None)
        if gw is not None:
            kb += proc_kb(gw.pid, "VmHWM")
        return kb / 1024

    def end_to_end(self) -> dict:
        untimed = [c for c in self.calls if not c.traced]
        timed = sum(w for w, _, t in self.rounds if not t)
        cpu = sum(c for _, c, t in self.rounds if not t)
        if self.spec["kind"] == "ingest":
            # a query is one refresh of a sink's two views after a batch:
            # its deduped read plus its day read
            lat = [
                d.wall + r.wall
                for d, r in zip(
                    (c for c in untimed if c.layer == "ingest.read_deduped"),
                    (c for c in untimed if c.layer == "ingest.read_day"),
                )
            ]
        else:
            lat = [c.wall for c in untimed]
        m = {
            "setup_s": (sum(self.setup.values()), "s"),
            "cpu_s_per_query": (cpu / len(lat), "s"),
        }
        p90 = pctl(lat, 90)
        self.detail.update({
            "queries_per_s": len(lat) / timed,
            "query_samples": len(lat),
            "query_p50_s": pctl(lat, 50),
            "query_p90_s": p90,
            "query_samples_beyond_p90": sum(1 for x in lat if x > p90),
            "timed_wall_s": timed,
            "timed_cpu_s": cpu,
            "round_walls_s": [w for w, _, _ in self.rounds],
            "round_cpu_s": [c for _, c, _ in self.rounds],
            "error_rate": self.failed / max(1, self.attempted),
            "peak_rss_mb": self.peak_rss_mb(),
        })
        if self.spec["kind"] == "ingest":
            batch = [c.wall for c in untimed if c.layer == "ingest.batch"]
            self.detail.update({
                "batch_samples": len(batch),
                "batch_p50_s": pctl(batch, 50),
                "batch_p90_s": pctl(batch, 90),
            })
            batch_time = sum(batch)
            self.detail["ingest_rows_per_s"] = (
                sum(m.n_ok for _, m, _ in self.batches) / batch_time if batch_time else 0.0
            )
            rows = sum(m.n_ok for _, m, _ in self.batches)
            self.detail["sink_bytes_per_row"] = self.ingest["sink_bytes"] / max(1, rows)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self) -> dict:
        from layers import layer_metrics

        from spans import attach_stages, spans_json

        events = self.event_log.close()
        self.event_log = None
        traced = [c for c in self.calls if c.traced]
        attach_stages(traced, events)
        if self.args.spans_out:
            with open(self.args.spans_out, "w") as fh:
                json.dump(spans_json(traced), fh)
        first = next(i for i, (_, _, t) in enumerate(self.rounds) if t)
        overhead = 100.0 * (
            statistics.median(w for w, _, t in self.rounds if t)
            / statistics.median(w for w, _, t in self.rounds if not t) - 1
        )
        return layer_metrics(
            [c for c in traced if c.round == first],
            cores=self.cores,
            setup=self.setup,
            probe_s=statistics.median(self.probes),
            overhead_pct=overhead,
            ingest=getattr(self, "ingest", None),
            batches=getattr(self, "batches", []),
        )


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import stock_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        defs = json.load(fh)
    spec = defs["workloads"].get(args.workload)
    if spec is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Python workers start from the JVM's environment: make the package
    # importable from any cwd, and keep every scratch file in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(defs["cores"], os.cpu_count() or 1)))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    tempfile.tempdir = None

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)
    run = Run(args, spec, defs, tmp)
    try:
        if spec["kind"] == "ingest":
            run.run_ingest()
        else:
            run.run_queries()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        if args.trace:
            run.end_to_end()
    finally:
        signal.alarm(0)
        stop_spark(run)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    correct = run.failed == 0
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores": run.cores,
        "rounds": len(run.rounds),
        "calib_probe_s": statistics.median(run.probes),
        **run.setup,
        **run.detail,
        "problems": run.problems,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


def stop_spark(run: Run) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    spark = getattr(run, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
