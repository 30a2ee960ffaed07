"""The two workloads.  Each benchmark process runs one of them on
``local[nproc]``: it starts a Spark session and makes the inputs (set-up),
times operations, checks the outputs, and with ``trace`` makes one more
operation with one Spark job group per span.  Every session of a traced
process writes the Spark event log; untraced processes never do.

* ``heavy_resume``: set-up seeds a warehouse with a full pipeline run
  over SEED_PAGES heavy pages; each operation is a diff (resume) run over
  those pages plus NEW_PAGES more, from a clean copy of that warehouse,
  in the same session.
* ``query_suite``: each operation is one pass over the SUITE queries in
  a fresh session (the first in the set-up session).
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import shutil
import statistics
import threading
import time

import checks
import coremicro
import inputs
import tracing as tr
from sampler import TreeMeter, tree_pids

#: heavy_resume: heavy-profile pages in the seed warehouse, and the new
#: pages each resume run adds (a quarter more)
SEED_PAGES = 2000
NEW_PAGES = SEED_PAGES // 4
#: query_suite: rows of the documents table
QUERY_DOCS = 100
#: pages whose raw_triples rows are checked against the core, and pages
#: the core microbenchmark runs over
CHECK_PAGES = 40
MICRO_PAGES = 100
#: an operation running longer than this is cancelled and counts failed
OP_TIMEOUT_S = 120.0

#: the query_suite pass: the headline queries (``bench.HEADLINE``) that
#: carry the LSH, SimHash and connected-components kernels, the KG path
#: and the small-query tax.  A pass over all 23 in a fresh session takes
#: 60-90 s on 4 vCPU, more than one run may spend.
SUITE = [
    "kg_graph_urn", "kg_extract_mill", "dedup_minhash_lsh",
    "dedup_simhash_pairs", "entity_cc", "winnow_fingerprint",
]

RATIO_KEYS = ("normalize.valid_ratio", "dedup.kept_ratio",
              "link.sameas_rows", "link.split_org_clusters",
              "resume.skipped_pages")
CORE_KEYS = tuple(f"core.{k}_us" for k in (
    "extract", "structured", "contextfix", "expand", "urdna2015", "mill"))
SETUP_KEYS = ("setup.session_s", "setup.inputs_s", "setup.seed_run_s")


def per_layer_names() -> list[str]:
    return ([f"{s}.{f}" for s in tr.STAGES for f in tr.FIELDS]
            + list(RATIO_KEYS) + list(CORE_KEYS) + list(SETUP_KEYS)
            + [f"query.{q}_s" for q in SUITE]
            + ["trace.run_s", "trace.overhead_ratio",
               "trace.unattributed_s"])


class OpFailed(Exception):
    pass


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _drop_udf_handles() -> None:
    """PySpark caches each UDF's JVM handle on first use; the program's
    module-level UDFs must build new handles in the next JVM."""
    import sys

    for name, mod in list(sys.modules.items()):
        if name.startswith("gleaner_spark") and mod is not None:
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if udf is not None and hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


class Bench:
    """One benchmark process: sessions, set-up timings, operation
    accounting, and the errors the checks found."""

    def __init__(self, workload: str, seed: int, seconds: int, work: str,
                 trace: bool) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.events = os.path.join(work, "events") if trace else None
        self.cores = len(os.sched_getaffinity(0))
        self.layer: dict[str, float] = dict.fromkeys(SETUP_KEYS, 0.0)
        self.meter = TreeMeter()
        self.attempted = 0
        self.failed = 0
        self.ops = 0
        self.errors: list[str] = []
        self.diag: dict = {"session_s": []}
        self.spark = None
        self.setup_s = 0.0

    # -- sessions ------------------------------------------------------
    def start_session(self) -> None:
        """A new session; in a traced process it writes the event log
        (one log file per session under ``events``)."""
        from gleaner_spark.plans.session import build_session

        t = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "sqlwh"),
        }
        if self.events:
            os.makedirs(self.events, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
            })
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}", cores=self.cores,
            shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t
        if not self.diag["session_s"]:
            self.layer["setup.session_s"] = dt
        self.diag["session_s"].append(round(dt, 3))

    def stop_session(self) -> None:
        """Stop Spark, end its JVM and wait for every process it started,
        so the next session starts cold."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        me = os.getpid()
        started = [p for p in tree_pids(me) if p != me]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _drop_udf_handles()
        deadline = time.monotonic() + 15
        while started and time.monotonic() < deadline:
            started = [p for p in started if _alive(p)]
            time.sleep(0.1)
        for p in started:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass

    # -- operations ----------------------------------------------------
    def attempt(self, fn, *args, metered: bool = True):
        """One operation: an exception or a timeout counts it failed.
        Returns (seconds, result), the result None on failure.  Only
        metered operations add to the CPU, write and host-load totals."""
        self.attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S,
                                self.spark.sparkContext.cancelAllJobs)
        timer.daemon = True
        if metered:
            self.meter.start()
        t = time.perf_counter()
        timer.start()
        try:
            out = fn(*args)
        except Exception as e:  # one failed operation must not end the run
            out = None
            self.failed += 1
            why = "timeout" if timer.finished.is_set() else repr(e)[:300]
            self.errors.append(f"operation failed: {why}")
        finally:
            timer.cancel()
            dt = time.perf_counter() - t
            if metered:
                self.meter.stop()
        return dt, out

    def reject(self, errs: list[str]) -> None:
        """A completed operation whose output failed a check."""
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def timed_region(self, op, restart=None) -> list[float]:
        """Operations within ``seconds``: at least one, and another only
        while the last one's duration still fits.  The first runs in the
        current session; with ``restart`` every later one gets a new
        session that ``restart`` starts.  ``op`` returns its seconds, or
        None when it failed."""
        times = []
        t0 = time.perf_counter()
        last, k = 0.0, 0
        while k == 0 or time.perf_counter() - t0 + last <= self.seconds:
            t = time.perf_counter()
            if k and restart:
                self.stop_session()
                restart()
            dt = op(k)
            last = time.perf_counter() - t
            k += 1
            if dt is not None:
                times.append(dt)
        self.ops += k
        self.diag["ops_s"] = [round(t, 4) for t in times]
        if not times:
            raise OpFailed("no operation in the timed region succeeded")
        return times

    def end_to_end(self, times: list[float], items: int,
                   op_geomean_s: float) -> dict:
        """CPU and writes are per operation.  The peak RSS goes to the
        diagnostics only: the JVM grows its heap lazily, so the peak of
        identical runs varies by a fifth to a third."""
        run_s = statistics.median(times)
        self.diag["peak_rss_mb"] = round(self.meter.peak_rss / 2**20, 1)
        return {
            "setup_s": self.setup_s,
            "run_s": run_s,
            "items_per_s": items / run_s,
            "op_geomean_s": op_geomean_s,
            "cpu_s": self.meter.cpu_s / self.ops,
            "written_mb": self.meter.written_bytes / self.ops / 1e6,
        }

    # -- tracing -------------------------------------------------------
    def ledger(self) -> dict[str, dict]:
        return tr.read_ledger(self.events)


# -- heavy_resume ------------------------------------------------------------

class HeavyResume:
    """A diff-mode pipeline run over SEED_PAGES + NEW_PAGES heavy pages
    into a clean copy of a warehouse that a full run over the first
    SEED_PAGES made in set-up, in the session that made it."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.cfg = coremicro.source_config()
        offset = inputs.page_offset(b.seed)
        self.seed_pages = range(offset, offset + SEED_PAGES)
        self.all_pages = range(offset, offset + SEED_PAGES + NEW_PAGES)
        self.new_pages = range(self.seed_pages.stop, self.all_pages.stop)
        self.seed_input = os.path.join(b.work, "pages-seed")
        self.input = os.path.join(b.work, "pages")
        self.seed_wh = os.path.join(b.work, "wh-seed")
        self.last_wh: str | None = None
        self.digests: list = []

    def write_inputs(self) -> None:
        """The seed pages, and the resume input: the same files plus the
        new pages."""
        t = time.perf_counter()
        files = 2 * self.b.cores
        inputs.write_pages(self.seed_input, self.seed_pages.start,
                           SEED_PAGES, files)
        inputs.write_pages(self.input, self.new_pages.start, NEW_PAGES,
                           files, prefix="new")
        for f in os.listdir(self.seed_input):
            os.link(os.path.join(self.seed_input, f),
                    os.path.join(self.input, f))
        self.b.layer["setup.inputs_s"] = time.perf_counter() - t

    def prepare(self) -> None:
        """Session, inputs, then the full run that seeds the warehouse;
        its output is checked with the operations'."""
        b = self.b
        b.start_session()
        self.write_inputs()
        dt, res = b.attempt(self.run_pipeline, self.seed_input,
                            self.seed_wh, "full", metered=False)
        if res is None:
            raise OpFailed("the full run that seeds the warehouse failed")
        b.layer["setup.seed_run_s"] = dt

    def run_pipeline(self, pages: str, wh: str, mode: str,
                     tracer: tr.PipelineTracer | None = None):
        """One pipeline run as the job CLI makes it: read the pages,
        build the sources dimension, run.  Traced, the input scan belongs
        to the first (resume) span."""
        from gleaner_spark.plans.pipeline import PipelineConfig, run_pipeline
        from gleaner_spark.sources.pages import gen_sources_spark

        spark = self.b.spark
        cfg = PipelineConfig(output_dir=wh, run_id=f"bench-{mode}",
                             mode=mode)
        with tracer.active() if tracer else contextlib.nullcontext():
            return run_pipeline(spark, spark.read.parquet(pages),
                                gen_sources_spark(spark), cfg)

    def copy_seed(self, name: str) -> str:
        wh = os.path.join(self.b.work, name)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(self.seed_wh, wh)
        return wh

    def digest(self, wh: str) -> list:
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        try:
            return list(checks.triples_digest(con, wh))
        finally:
            con.close()

    def resume_checks(self, res) -> list[str]:
        """The run skipped every seeded page."""
        skipped = res.resumed_urls_skipped
        self.b.layer["resume.skipped_pages"] = skipped or 0
        return checks.check_resume(skipped, SEED_PAGES)

    def op(self, k: int) -> float | None:
        wh = self.copy_seed(f"wh-{k}")
        dt, res = self.b.attempt(self.run_pipeline, self.input, wh, "diff")
        if res is None:
            return None
        self.b.reject(self.resume_checks(res))
        self.digests.append(self.digest(wh))
        if self.last_wh is not None:
            shutil.rmtree(self.last_wh, ignore_errors=True)
        self.last_wh = wh
        return dt

    def sample_rows(self, pages: range, n: int) -> list[dict]:
        """``n`` 'one'-class pages spread over ``pages``: single-document
        pages whose doc no duplicate page can displace in dedup (a dup
        page's copy sorts after its original's url)."""
        from gleaner_spark.sources.pages import page_row

        picks = [i for i in pages if 10 <= i % 100 < 60]
        step = max(len(picks) // n, 1)
        return [page_row(i, "heavy") for i in picks[::step][:n]]

    def warehouse_checks(self, wh: str, pages: range, sampled: range,
                         since: str | None = None) -> list[str]:
        """A warehouse over ``pages`` against the core (on pages sampled
        from ``sampled``), the gold org clusters (in the triples appended
        since ``since``, when given) and the closed-form counts."""
        import duckdb

        from gleaner_spark.sources.pages import ORG_CLUSTERS

        con = duckdb.connect(config={"threads": 2})
        try:
            return (checks.check_raw_triples(
                        con, wh, self.sample_rows(sampled, CHECK_PAGES),
                        self.cfg)
                    + checks.check_org_clusters(con, wh, ORG_CLUSTERS,
                                                since)
                    + checks.check_counts(con, wh, pages))
        finally:
            con.close()

    def split_orgs(self, wh: str) -> int:
        """Gold org clusters left as more than one entity across the
        seed run and the resume run (reported, not gated)."""
        import duckdb

        from gleaner_spark.sources.pages import ORG_CLUSTERS

        con = duckdb.connect(config={"threads": 2})
        try:
            return checks.split_org_clusters(con, wh, ORG_CLUSTERS)
        finally:
            con.close()

    def output_checks(self, wh: str) -> None:
        """A resumed warehouse holds every page, the new pages' graphs
        match the core, the resume run's linking collapsed every org
        cluster among the triples it appended, and every run's triples
        digest agrees."""
        errs = self.warehouse_checks(wh, self.all_pages, self.new_pages,
                                     since=self.seed_wh)
        if len({tuple(d) for d in self.digests}) > 1:
            errs.append(f"triples digests differ between runs: "
                        f"{self.digests}")
        self.b.reject(errs)
        self.b.diag["split_org_clusters"] = self.split_orgs(wh)

    def untraced(self) -> dict:
        """The timed region, then the checks: the seed warehouse (a full
        run must collapse every org cluster) and the last resumed one."""
        b = self.b
        times = b.timed_region(self.op)
        b.reject(self.warehouse_checks(self.seed_wh, self.seed_pages,
                                       self.seed_pages))
        if self.last_wh is not None:
            self.output_checks(self.last_wh)
        return b.end_to_end(times, NEW_PAGES, geomean(times))

    def traced(self, untraced_s: float) -> None:
        """The traced run in the same session, after the untraced one;
        its checks and ratios, then the core microbenchmark."""
        import duckdb

        b = self.b
        wh = self.copy_seed("wh-trace")
        tracer = tr.PipelineTracer(b.spark.sparkContext, wh)
        dt, res = b.attempt(self.run_pipeline, self.input, wh, "diff",
                            tracer, metered=False)
        if res is None:
            raise OpFailed("the traced operation failed")
        b.reject(self.resume_checks(res))
        self.digests.append(self.digest(wh))
        self.output_checks(wh)
        t = checks.table
        con = duckdb.connect(config={"threads": 2})

        def added(table: str, where: str = "true") -> int:
            """Rows this run added: the copy started as the seed."""
            q = f"select count(*) from {{}} where {where}"
            return (con.sql(q.format(t(wh, table))).fetchone()[0]
                    - con.sql(q.format(t(self.seed_wh, table))).fetchone()[0])

        try:
            n_proc = added("processed")
            n_valid = added("processed", "valid")
            n_docs = added("docs")
            n_same = added("triples", "graph = 'urn:gleaner:link:sameas'")
        finally:
            con.close()
        stage = tr.stage_metrics(tracer, b.ledger())
        walls = sum(stage[f"{s}.wall_s"] for s in tr.STAGES)
        b.layer.update(stage)
        b.layer.update({
            "normalize.valid_ratio": n_valid / n_proc,
            "dedup.kept_ratio": n_docs / n_valid,
            "link.sameas_rows": n_same,
            "link.split_org_clusters": b.diag["split_org_clusters"],
            "trace.run_s": dt,
            "trace.overhead_ratio": dt / untraced_s,
            "trace.unattributed_s": dt - walls,
        })
        b.layer.update(coremicro.microbench(
            self.sample_rows(self.new_pages, MICRO_PAGES), self.cfg))
        b.diag["spans"] = tracer.dump()

    def output_digest(self) -> str:
        return self.digests[-1][0]


# -- query_suite -------------------------------------------------------------

class QuerySuite:
    """One pass = the SUITE queries in order, each collected into pandas,
    in a fresh session.  A query's first result must match its
    DuckDB oracle the way ``scripts/check_oracles.py`` compares them;
    every later result of it (the traced pass's too) must reproduce that
    result's digest."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.dir = os.path.join(b.work, "tables")
        self.oracles: dict = {}
        self.checked: dict[str, str] = {}
        self.per_query: dict[str, list[float]] = {q: [] for q in SUITE}

    def prepare(self) -> None:
        """Write the tables, then start the session while a thread
        computes the oracle results; waiting for them is set-up too."""
        from concurrent.futures import ThreadPoolExecutor

        b = self.b
        t = time.perf_counter()
        inputs.write_documents(self.dir, b.seed, QUERY_DOCS)
        pool = ThreadPoolExecutor(1)
        pending = pool.submit(self.oracle_frames)
        pool.shutdown(wait=False)
        b.layer["setup.inputs_s"] = time.perf_counter() - t
        self.start_session()
        t = time.perf_counter()
        self.oracles = pending.result()
        b.layer["setup.inputs_s"] += time.perf_counter() - t

    def start_session(self) -> None:
        """A session up to its first Spark job and its first Python
        workers, so a pass times the queries rather than the session's
        lazy start, which its first query would otherwise pay."""
        b = self.b
        b.start_session()
        b.spark.range(4 * b.cores, numPartitions=b.cores).mapInPandas(
            lambda batches: batches, "id long").count()

    def collect(self, name: str):
        from gleaner_spark.plans.queries import QUERIES

        return QUERIES[name][0](self.b.spark, self.dir).toPandas()

    def oracle_frames(self) -> dict:
        import duckdb

        from gleaner_spark.plans.queries import QUERIES

        con = duckdb.connect(config={"threads": 2})
        try:
            con.sql("create view documents as select * from "
                    f"read_parquet('{self.dir}/documents.parquet')")
            return {q: con.sql(QUERIES[q][1]).df() for q in SUITE}
        finally:
            con.close()

    def verify(self, name: str, pdf) -> bool:
        digest = checks.frame_digest(pdf)
        if name not in self.checked:
            self.checked[name] = digest
            bad = checks.oracle_mismatch(pdf, self.oracles[name])
            errs = [f"{name}: oracle parity: {bad}"] if bad else []
        elif digest != self.checked[name]:
            errs = [f"{name}: result differs from the oracle-checked pass"]
        else:
            errs = []
        self.b.reject(errs)
        return not errs

    def one_pass(self, group: bool = False) -> tuple[dict, bool]:
        b = self.b
        sc = b.spark.sparkContext
        times, ok = {}, True
        for name in SUITE:
            if group:
                with tr.job_group(sc, "query:" + name):
                    dt, pdf = b.attempt(self.collect, name, metered=False)
            else:
                dt, pdf = b.attempt(self.collect, name)
            times[name] = dt
            ok = pdf is not None and self.verify(name, pdf) and ok
        return times, ok

    def op(self, k: int) -> float | None:
        times, ok = self.one_pass()
        for name, dt in times.items():
            self.per_query[name].append(dt)
        return sum(times.values()) if ok else None

    def untraced(self) -> dict:
        b = self.b
        times = b.timed_region(self.op, self.start_session)
        medians = {q: statistics.median(v) for q, v in self.per_query.items()}
        b.diag["query_s"] = {q: round(t, 4) for q, t in medians.items()}
        return b.end_to_end(times, len(SUITE),
                            geomean(list(medians.values())))

    def output_digest(self) -> str:
        return hashlib.sha256(
            repr(sorted(self.checked.items())).encode()).hexdigest()

    def traced(self, untraced_s: float) -> None:
        """A traced pass in a fresh session, cold like every untraced
        pass."""
        b = self.b
        b.stop_session()
        self.start_session()
        t = time.perf_counter()
        times, ok = self.one_pass(group=True)
        wall = time.perf_counter() - t
        if not ok:
            raise OpFailed("a traced query failed or did not verify")
        ledger = b.ledger()
        empty = [q for q in SUITE
                 if ledger.get("query:" + q, {}).get("jobs", 0) == 0]
        if empty:
            raise tr.TraceError(f"queries without any Spark job: {empty}")
        b.layer.update({f"query.{q}_s": s for q, s in times.items()})
        b.layer["trace.run_s"] = wall
        b.layer["trace.overhead_ratio"] = wall / untraced_s
        b.layer["trace.unattributed_s"] = wall - sum(times.values())


WORKLOADS = {"heavy_resume": HeavyResume, "query_suite": QuerySuite}
