"""The benchmark's own tests: every output check accepts a correct output
and rejects a corrupted one; the trace ledger and the process-tree meter
read what they should.  Spark-free; run from the repo root with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
os.environ.setdefault("PERFBENCH_ROOT", ROOT)

duckdb = pytest.importorskip("duckdb")
pd = pytest.importorskip("pandas")
pa = pytest.importorskip("pyarrow")
pq = pytest.importorskip("pyarrow.parquet")

import checks  # noqa: E402
import coremicro  # noqa: E402
import tracing  # noqa: E402
from sampler import TreeMeter  # noqa: E402

PAGES = range(0, 100)


def _write(wh, name, rows):
    os.makedirs(os.path.join(wh, name), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(wh, name, "part-0.parquet"))


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    """A warehouse built Spark-free from the core: the tables the checks
    read, as a correct pipeline run over pages 0-99 writes them."""
    from urllib.parse import urlparse

    from gleaner_spark.core.process import process_document
    from gleaner_spark.sources.pages import ORG_CLUSTERS, page_row

    wh = str(tmp_path_factory.mktemp("wh"))
    cfg = coremicro.source_config()
    blocks, processed, raw = [], [], []
    for i in PAGES:
        row = page_row(i, "heavy")
        source, fix, id_type, id_path = coremicro.resolve(
            urlparse(row["url"]).hostname, cfg)
        found = coremicro.page_blocks(row["html"], row["url"])
        blocks += [{"url": row["url"], "block_idx": k}
                   for k in range(len(found))] or [
                       {"url": row["url"], "block_idx": -1}]
        for k, b in enumerate(found):
            p = process_document(b, fix, id_type, id_path)
            processed.append({
                "url": row["url"], "block_idx": k, "valid": p.valid,
                "doc_sha1": p.doc_sha1, "source": source,
                "norm_sha256": p.norm_sha256})
            if p.valid:
                graph = f"urn:gleaner:{source}:{p.norm_sha256}"
                raw += [{"subject": q.subject, "predicate": q.predicate,
                         "object": q.object, "graph": graph}
                        for q in p.quads]
    # dedup_docs, stated in Python: smallest (url, block_idx) per doc id,
    # then per (source, norm_sha256)
    first: dict = {}
    for r in sorted((r for r in processed if r["valid"]),
                    key=lambda r: (r["url"], r["block_idx"])):
        first.setdefault(r["doc_sha1"], r)
    kept: dict = {}
    for r in sorted(first.values(),
                    key=lambda r: (r["doc_sha1"], r["url"], r["block_idx"])):
        kept.setdefault((r["source"], r["norm_sha256"]), r)
    org = "<https://schema.org/Organization>"
    triples = []
    for c, aliases in enumerate(ORG_CLUSTERS):
        s = f"_:org{c}"
        triples.append({"subject": s, "predicate": checks.RDF_TYPE,
                        "object": org, "graph": "g"})
        triples += [{"subject": s, "predicate": checks.NAME,
                     "object": f'"{a}"', "graph": "g"} for a in aliases]
    _write(wh, "blocks", blocks)
    _write(wh, "processed", processed)
    _write(wh, "docs", list(kept.values()))
    _write(wh, "raw_triples", raw)
    _write(wh, "triples", triples)
    return wh


def _copy(src, dst, table, edit):
    """``src`` with one table replaced by ``edit(rows)``."""
    import shutil

    shutil.copytree(src, dst)
    path = os.path.join(dst, table, "part-0.parquet")
    rows = pq.read_table(path).to_pylist()
    pq.write_table(pa.Table.from_pylist(edit(rows)), path)
    return str(dst)


def _sample():
    from gleaner_spark.sources.pages import page_row

    return [page_row(i, "heavy") for i in PAGES if 10 <= i % 100 < 60][:20]


def _con():
    return duckdb.connect()


def test_raw_triples_check_accepts_core_output(warehouse):
    assert checks.check_raw_triples(_con(), warehouse, _sample(),
                                    coremicro.source_config()) == []


def test_raw_triples_check_rejects_dropped_triple(warehouse, tmp_path):
    sampled = set(coremicro.expected_graphs(_sample()[3],
                                            coremicro.source_config()))
    victim = []

    def drop_one(rows):
        for k, r in enumerate(rows):
            if r["graph"] in sampled:
                victim.append(k)
                return rows[:k] + rows[k + 1:]
        raise AssertionError("sampled graph not in raw_triples")

    bad = _copy(warehouse, tmp_path / "wh", "raw_triples", drop_one)
    errs = checks.check_raw_triples(_con(), bad, _sample(),
                                    coremicro.source_config())
    assert victim and errs and "differ" in errs[0]


def test_raw_triples_check_rejects_altered_object(warehouse, tmp_path):
    sampled = set(coremicro.expected_graphs(_sample()[0],
                                            coremicro.source_config()))

    def alter(rows):
        for r in rows:
            if r["graph"] in sampled:
                r["object"] = '"tampered"'
                break
        return rows

    bad = _copy(warehouse, tmp_path / "wh", "raw_triples", alter)
    assert checks.check_raw_triples(_con(), bad, _sample(),
                                    coremicro.source_config())


def test_org_check_accepts_collapsed_clusters(warehouse):
    from gleaner_spark.sources.pages import ORG_CLUSTERS

    assert checks.check_org_clusters(_con(), warehouse, ORG_CLUSTERS) == []


def test_org_check_rejects_split_cluster(warehouse, tmp_path):
    from gleaner_spark.sources.pages import ORG_CLUSTERS

    def split(rows):
        moved = [dict(r, subject="_:orgX") for r in rows
                 if r["object"] == f'"{ORG_CLUSTERS[1][2]}"']
        typed = {"subject": "_:orgX", "predicate": checks.RDF_TYPE,
                 "object": checks.ORG, "graph": "g"}
        return ([r for r in rows if r["object"] != f'"{ORG_CLUSTERS[1][2]}"']
                + moved + [typed])

    bad = _copy(warehouse, tmp_path / "wh", "triples", split)
    errs = checks.check_org_clusters(_con(), bad, ORG_CLUSTERS)
    assert any("2 entities" in e for e in errs)


def test_org_check_rejects_merged_clusters(warehouse, tmp_path):
    from gleaner_spark.sources.pages import ORG_CLUSTERS

    def merge(rows):
        return [dict(r, subject="_:org0") if r["subject"] == "_:org1" else r
                for r in rows]

    bad = _copy(warehouse, tmp_path / "wh", "triples", merge)
    errs = checks.check_org_clusters(_con(), bad, ORG_CLUSTERS)
    assert any("share" in e for e in errs)


def _resumed(seed_wh, dst, subject):
    """``seed_wh`` plus the triples file a diff run appends: each gold
    org again, under the entity ``subject(cluster, alias)``."""
    import shutil

    from gleaner_spark.sources.pages import ORG_CLUSTERS

    shutil.copytree(seed_wh, dst)
    rows = []
    for c, aliases in enumerate(ORG_CLUSTERS):
        for a in aliases:
            s = subject(c, a)
            rows += [{"subject": s, "predicate": checks.RDF_TYPE,
                      "object": checks.ORG, "graph": "g2"},
                     {"subject": s, "predicate": checks.NAME,
                      "object": f'"{a}"', "graph": "g2"}]
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(dst, "triples", "part-1.parquet"))
    return str(dst)


def test_org_check_since_reads_only_the_appended_triples(warehouse,
                                                        tmp_path):
    from gleaner_spark.sources.pages import ORG_CLUSTERS

    wh = _resumed(warehouse, tmp_path / "wh", lambda c, a: f"_:new{c}")
    con = _con()
    assert checks.check_org_clusters(con, wh, ORG_CLUSTERS,
                                     since=warehouse) == []
    # the whole warehouse holds two entities per cluster: counted
    assert checks.check_org_clusters(con, wh, ORG_CLUSTERS)
    assert checks.split_org_clusters(con, wh, ORG_CLUSTERS) == 5
    assert checks.split_org_clusters(con, warehouse, ORG_CLUSTERS) == 0


def test_org_check_since_rejects_split_in_the_appended_triples(
        warehouse, tmp_path):
    from gleaner_spark.sources.pages import ORG_CLUSTERS

    odd = ORG_CLUSTERS[3][1]
    wh = _resumed(warehouse, tmp_path / "wh",
                  lambda c, a: "_:stray" if a == odd else f"_:new{c}")
    errs = checks.check_org_clusters(_con(), wh, ORG_CLUSTERS,
                                     since=warehouse)
    assert any("2 entities" in e for e in errs), errs


def test_org_check_since_rejects_run_that_appended_nothing(warehouse,
                                                           tmp_path):
    import shutil

    from gleaner_spark.sources.pages import ORG_CLUSTERS

    shutil.copytree(warehouse, tmp_path / "wh")
    errs = checks.check_org_clusters(_con(), str(tmp_path / "wh"),
                                     ORG_CLUSTERS, since=warehouse)
    assert errs == ["org clusters: the run appended no triples"]


def test_benchmark_json_lists_every_printed_metric():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == \
        workloads.per_layer_names()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END


def test_counts_check_accepts_closed_form(warehouse):
    assert checks.check_counts(_con(), warehouse, PAGES) == []


def test_counts_closed_form_matches_heavy_extraction():
    from gleaner_spark.sources.pages import page_row

    for i in range(1000, 1240):
        row = page_row(i, "heavy")
        assert (len(coremicro.page_blocks(row["html"], row["url"]))
                == checks.expected_blocks(i)), i


@pytest.mark.parametrize("table,edit,what", [
    ("blocks", lambda rows: rows[1:], "urls"),
    ("processed", lambda rows: rows[:-1], "candidate blocks"),
    ("processed",
     lambda rows: [dict(r, valid=False) if k == 0 else r
                   for k, r in enumerate(rows)], "valid documents"),
    ("docs", lambda rows: rows[:-1], "kept docs"),
    ("docs", lambda rows: rows + rows[:1], "kept docs"),
])
def test_counts_check_rejects_corruption(warehouse, tmp_path, table, edit,
                                         what):
    bad = _copy(warehouse, tmp_path / "wh", table, edit)
    errs = checks.check_counts(_con(), bad, PAGES)
    assert any(e.startswith(what) for e in errs), errs


def test_resume_check_rejects_missing_manifest():
    assert checks.check_resume(2000, 2000) == []
    # read_manifest returning None leaves nothing skipped (None)
    assert checks.check_resume(None, 2000)
    assert checks.check_resume(1999, 2000)


def test_triples_digest_sees_one_changed_row(warehouse, tmp_path):
    d0 = checks.triples_digest(_con(), warehouse)
    bad = _copy(warehouse, tmp_path / "wh", "triples",
                lambda rows: rows[:-1] + [dict(rows[-1], object='"x"')])
    d1 = checks.triples_digest(_con(), bad)
    assert d0[1] == d1[1] and d0[0] != d1[0]


def test_oracle_comparison_rejects_wrong_row():
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert checks.oracle_mismatch(good, good.iloc[::-1]) is None
    wrong = good.copy()
    wrong.loc[1, "v"] = 1.5
    assert "rows differ" in checks.oracle_mismatch(wrong, good)
    assert "rows differ" in checks.oracle_mismatch(good.iloc[:2], good)
    assert "columns" in checks.oracle_mismatch(
        good.rename(columns={"v": "w"}), good)


def test_frame_digest_is_order_insensitive_and_value_sensitive():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    assert checks.frame_digest(a) == checks.frame_digest(a.iloc[::-1])
    assert checks.frame_digest(a) != checks.frame_digest(
        a.assign(v=["x", "z"]))


# -- tracing -------------------------------------------------------------------

class _FakeSc:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def getLocalProperty(self, k):
        return self.props.get(k)


def test_tracer_fails_loudly_on_missing_span(tmp_path):
    t = tracing.PipelineTracer(_FakeSc(), str(tmp_path))
    t._files0 = t._table_files()
    for s in ("resume", "extract", "normalize"):
        t._enter(s)
    t.spans.append((t._cur, t._t0, time.perf_counter()))
    with pytest.raises(tracing.TraceError, match="dedup"):
        t.stage_walls()


def test_stage_metrics_fail_loudly_on_stage_without_jobs(tmp_path):
    t = tracing.PipelineTracer(_FakeSc(), str(tmp_path))
    t._files0 = t._table_files()
    for s in tracing.STAGES:
        t._enter(s)
    t.spans.append((t._cur, t._t0, time.perf_counter()))
    ledger = {s: {"jobs": 1} for s in tracing.STAGES if s != "link"}
    with pytest.raises(tracing.TraceError, match="link"):
        tracing.stage_metrics(t, ledger)
    ledger["link"] = {"jobs": 2}
    m = tracing.stage_metrics(t, ledger)
    assert m["link.jobs"] == 2
    assert len(m) == len(tracing.STAGES) * len(tracing.FIELDS)


def test_ledger_groups_task_metrics_by_job_group(tmp_path):
    def job(jid, stages, group):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Stage IDs": stages, "Properties": props}

    def task(stage, ok=True, cpu_ns=2e9, run_ms=3000, records=5):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success" if ok else
                                    "ExceptionFailure"},
                "Task Metrics": {
                    "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                    "JVM GC Time": 100, "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 2e6},
                    "Output Metrics": {"Records Written": records}}}

    events = [job(0, [0, 1], "perfbench:extract"), task(0), task(1, ok=False),
              job(1, [2], None), task(2),
              job(2, [3], "perfbench:link"), task(3, records=0)]
    os.makedirs(tmp_path / "ev")
    with open(tmp_path / "ev" / "local-1", "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")
    # a second session: its stage ids restart, and its ungrouped stage 3
    # must not count for the first session's link stage
    with open(tmp_path / "ev" / "local-2", "w") as f:
        f.write("\n".join(json.dumps(e) for e in [
            job(0, [0], "perfbench:query:q1"), task(0),
            job(1, [3], None), task(3)]) + "\n")
    led = tracing.read_ledger(str(tmp_path / "ev"))
    assert set(led) == {"extract", "link", "query:q1"}
    assert led["query:q1"]["jobs"] == 1
    assert led["query:q1"]["task_cpu_s"] == pytest.approx(2.0)
    assert led["link"]["task_cpu_s"] == pytest.approx(2.0)
    assert led["extract"]["jobs"] == 1
    assert led["extract"]["failed_tasks"] == 1
    assert led["extract"]["task_cpu_s"] == pytest.approx(4.0)
    assert led["extract"]["task_run_s"] == pytest.approx(6.0)
    assert led["extract"]["shuffle_write_mb"] == pytest.approx(4.0)
    assert led["extract"]["rows_out"] == 10
    assert led["link"]["rows_out"] == 0


# -- process-tree meter ----------------------------------------------------------

def test_meter_counts_cpu_of_children_that_exited(tmp_path):
    import subprocess

    m = TreeMeter(interval=0.05)
    m.start()
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.5: pass"], check=True)
    m.stop()
    assert m.cpu_s >= 0.4
    assert m.peak_rss > 0
