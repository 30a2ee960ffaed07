"""Spark-free per-document semantics: the expected output of one page and
the ``core.*_us`` microbenchmark, both built from the same ``core`` calls
the pipeline's pandas UDFs make."""

from __future__ import annotations

import json
import statistics
import time

BUCKET = "gleaner"
MARKERS = ("application/ld+json", '"@context"', '"@type"', '"@graph"')
SD_MARKERS = ("itemscope", "property=", "typeof=", "vocab=")


def source_config() -> dict[str, tuple[str, str, str, str]]:
    """host → (source, fix option, identifier type, identifier path) as
    ``operators.stages.with_source`` resolves it; inactive sources fall
    back to the host name and the defaults."""
    from gleaner_spark.sources.pages import sources_rows

    return {
        r["domain"]: (r["name"], r["fixcontextoption"] or "https",
                      r["identifiertype"] or "jsonsha",
                      r["identifierpath"] or "")
        for r in sources_rows() if r["active"]
    }


def resolve(host: str, cfg: dict) -> tuple[str, str, str, str]:
    return cfg.get(host, (host, "https", "jsonsha", ""))


def page_blocks(html: bytes, url: str) -> list[str]:
    """The JSON-LD blocks ``extract_page_udf`` yields for one page."""
    from gleaner_spark.core import extract as core_extract

    s = html.decode("utf-8", errors="replace")
    blocks = core_extract.extract_jsonld_strings(s, url)
    if not blocks and any(m in s for m in MARKERS):
        blocks = core_extract.find_inline_jsonld(s)
    return blocks


def expected_graphs(row: dict, cfg: dict) -> dict[str, list[tuple]]:
    """graph URN → sorted (subject, predicate, object) rows for every
    valid JSON-LD document of one page: extract → process_document →
    mill, exactly as the pipeline's raw_triples table should hold them."""
    from urllib.parse import urlparse

    from gleaner_spark.core.process import process_document

    source, fix, id_type, id_path = resolve(urlparse(row["url"]).hostname,
                                            cfg)
    out = {}
    for raw in page_blocks(row["html"], row["url"]):
        p = process_document(raw, fix, id_type, id_path)
        if p.valid:
            graph = f"urn:{BUCKET}:{source}:{p.norm_sha256}"
            out[graph] = sorted((q.subject, q.predicate, q.object)
                                for q in p.quads)
    return out


def microbench(rows: list[dict], cfg: dict, reps: int = 5) -> dict:
    """Median-of-``reps`` single-threaded microseconds per page for each
    per-document layer over ``rows``."""
    from urllib.parse import urlparse

    from gleaner_spark.core import structured as core_structured
    from gleaner_spark.core.contextfix import fix_all
    from gleaner_spark.core.jsonld import urdna2015, to_rdf
    from gleaner_spark.core.mill import skolemize, term_to_nq_rows

    keys = ("extract", "structured", "contextfix", "expand", "urdna2015",
            "mill")
    samples = {k: [] for k in keys}
    clock = time.perf_counter
    for _ in range(reps):
        acc = dict.fromkeys(keys, 0.0)
        for row in rows:
            _, fix, _, _ = resolve(urlparse(row["url"]).hostname, cfg)
            t = clock()
            blocks = page_blocks(row["html"], row["url"])
            acc["extract"] += clock() - t
            s = row["html"].decode("utf-8", errors="replace")
            t = clock()
            if any(m in s for m in SD_MARKERS):
                core_structured.page_structured(s)
            acc["structured"] += clock() - t
            for raw in blocks:
                t = clock()
                try:
                    fixed = fix_all(raw, fix)
                    doc = json.loads(fixed)
                except ValueError:
                    acc["contextfix"] += clock() - t
                    continue
                t1 = clock()
                quads = to_rdf(doc)
                t2 = clock()
                urdna2015(quads)
                t3 = clock()
                term_to_nq_rows(skolemize(quads, "0" * 40))
                t4 = clock()
                acc["contextfix"] += t1 - t
                acc["expand"] += t2 - t1
                acc["urdna2015"] += t3 - t2
                acc["mill"] += t4 - t3
        for k in keys:
            samples[k].append(acc[k] / len(rows) * 1e6)
    return {f"core.{k}_us": statistics.median(v) for k, v in samples.items()}
