"""Output checks.  Each returns a list of mismatch messages (empty when
the output is right), so a run reports every failure it found."""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

from coremicro import expected_graphs

NAME = "<https://schema.org/name>"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
ORG = "<https://schema.org/Organization>"


def table(warehouse: str, name: str) -> str:
    return (f"read_parquet('{warehouse}/{name}/**/*.parquet', "
            "hive_partitioning = true, union_by_name = true)")


def triples_digest(con, warehouse: str) -> tuple[str, int]:
    """Order-insensitive digest and row count of the final triples."""
    n, digest = con.sql(
        "select count(*), md5(string_agg(concat_ws(chr(31), subject, "
        "predicate, object, graph), chr(30) order by subject, predicate, "
        f"object, graph)) from {table(warehouse, 'triples')}"
    ).fetchone()
    return digest or "", n


def check_raw_triples(con, warehouse: str, rows: list[dict],
                      cfg: dict) -> list[str]:
    """Each sampled page's documents: raw_triples rows of its graph equal
    the pure-Python extract → process_document → mill output."""
    expected: dict[str, list[tuple]] = {}
    for r in rows:
        expected.update(expected_graphs(r, cfg))
    if not expected:
        return ["raw_triples check: the sample holds no valid document"]
    con.execute("create or replace temp table want_graphs (g varchar)")
    con.executemany("insert into want_graphs values (?)",
                    [(g,) for g in expected])
    got: dict[str, list[tuple]] = {g: [] for g in expected}
    for g, s, p, o in con.sql(
        f"select graph, subject, predicate, object from "
        f"{table(warehouse, 'raw_triples')} "
        "where graph in (select g from want_graphs)"
    ).fetchall():
        got[g].append((s, p, o))
    bad = [g for g in expected if sorted(got[g]) != expected[g]]
    return [f"raw_triples differ from core output for {len(bad)} of "
            f"{len(expected)} sampled graphs, e.g. {bad[0]}"] if bad else []


def _parquet_files(warehouse: str, name: str) -> set[str]:
    root = os.path.join(warehouse, name)
    return {os.path.relpath(os.path.join(d, f), root)
            for d, _, files in os.walk(root)
            for f in files if f.endswith(".parquet")}


def appended_table(warehouse: str, since: str, name: str) -> str | None:
    """The files of table ``name`` that a run appended to ``warehouse``,
    which started as a copy of ``since``; None when it appended none."""
    new = sorted(_parquet_files(warehouse, name)
                 - _parquet_files(since, name))
    if not new:
        return None
    paths = ", ".join(f"'{os.path.join(warehouse, name, p)}'" for p in new)
    return (f"read_parquet([{paths}], hive_partitioning = true, "
            "union_by_name = true)")


def org_cluster_entities(con, triples: str, clusters: list[list[str]],
                         ) -> list[frozenset]:
    """Per gold cluster, the Organization subjects its aliases name in
    the ``triples`` relation."""
    names: dict[str, set] = {}
    for obj, subj in con.sql(
        f"select object, subject from {triples} where predicate = '{NAME}' "
        f"and subject in (select subject from {triples} where predicate = "
        f"'{RDF_TYPE}' and object = '{ORG}')"
    ).fetchall():
        names.setdefault(obj, set()).add(subj)
    return [frozenset().union(*(names.get(f'"{a}"', set()) for a in aliases))
            for aliases in clusters]


def check_org_clusters(con, warehouse: str, clusters: list[list[str]],
                       since: str | None = None) -> list[str]:
    """Every alias of one gold organization names the same canonical
    Organization subject, and distinct organizations stay distinct.
    With ``since`` (the warehouse a diff run started from) only the
    triples the run appended are read: a diff run links its delta, so
    this checks the linking that run did."""
    t = (table(warehouse, "triples") if since is None
         else appended_table(warehouse, since, "triples"))
    if t is None:
        return ["org clusters: the run appended no triples"]
    canon = org_cluster_entities(con, t, clusters)
    errs = [f"org cluster {aliases[0]!r} maps to {len(subjects)} "
            "entities, want 1"
            for aliases, subjects in zip(clusters, canon)
            if len(subjects) != 1]
    if len(set(canon)) != len(canon):
        errs.append("distinct org clusters share a canonical entity")
    return errs


def split_org_clusters(con, warehouse: str, clusters: list[list[str]],
                       ) -> int:
    """Gold clusters whose aliases name more than one Organization
    subject anywhere in the warehouse.  After a diff run this counts
    the clusters that run's linking left apart from the prior runs'
    entities (it never sees them); the benchmark reports it and does
    not gate on it."""
    return sum(len(s) > 1 for s in org_cluster_entities(
        con, table(warehouse, "triples"), clusters))


def expected_blocks(i: int) -> int:
    """JSON-LD blocks extraction yields for heavy page ``i``, in closed
    form from the generator's row class (sources.pages.row_class).  The
    variable-indirection JS page (``(i % 12) // 3 == 2``) recovers its
    document's nested objects as four blocks."""
    from gleaner_spark.sources.pages import row_class

    cls = row_class(i)
    if cls == "multi":
        return 2 + (i % 2 == 0)
    if cls == "none":
        if i % 3 != 1:
            return 0
        return 4 if (i % 12) // 3 == 2 else 1
    return 1


def check_counts(con, warehouse: str, pages: range) -> list[str]:
    """urls and documents against the closed-form row-class mix: every
    page is recorded once and every block but the invalid-JSON class is
    a valid document.  The kept docs must equal an independent SQL
    statement of the two dedup rules (one survivor per doc id, the
    smallest (url, block_idx); then one per (source, graph sha))."""
    from gleaner_spark.sources.pages import row_class

    want_blocks = sum(expected_blocks(i) for i in pages)
    want_valid = sum(expected_blocks(i) for i in pages
                     if row_class(i) != "invalid")
    urls, = con.sql(
        f"select count(distinct url) from {table(warehouse, 'blocks')}"
    ).fetchone()
    proc = table(warehouse, "processed")
    n_proc, n_valid = con.sql(
        f"select count(*), count(*) filter (where valid) from {proc}"
    ).fetchone()
    want_docs, = con.sql(
        "select count(distinct (source, norm_sha256)) from ("
        "select source, norm_sha256, row_number() over (partition by "
        "doc_sha1 order by url, block_idx) as rn "
        f"from {proc} where valid) where rn = 1"
    ).fetchone()
    n_docs, = con.sql(
        f"select count(*) from {table(warehouse, 'docs')}").fetchone()
    errs = []
    for what, got, want in (("urls", urls, len(pages)),
                            ("candidate blocks", n_proc, want_blocks),
                            ("valid documents", n_valid, want_valid),
                            ("kept docs", n_docs, want_docs)):
        if got != want:
            errs.append(f"{what}: got {got}, want {want}")
    return errs


def check_resume(skipped, want: int) -> list[str]:
    """A resume run skipped every page the warehouse already holds; a
    ``read_manifest`` that silently returns None skips nothing."""
    if skipped != want:
        return [f"resume skipped {skipped} pages, want {want}"]
    return []


# -- query suite -------------------------------------------------------------

@functools.cache
def _check_oracles_module():
    root = os.environ["PERFBENCH_ROOT"]
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a query result, over the same
    normalized cells ``scripts/check_oracles.py`` compares."""
    cols, rows = _check_oracles_module().frame_key(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def oracle_mismatch(spark_pdf, oracle_pdf) -> str | None:
    """``scripts/check_oracles.py``'s comparison: name-sorted columns and
    order-insensitive normalized values must agree."""
    co = _check_oracles_module()
    scols, srows = co.frame_key(spark_pdf)
    ocols, orows = co.frame_key(oracle_pdf)
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    if srows != orows:
        return f"rows differ (spark {len(srows)}, oracle {len(orows)})"
    return None
