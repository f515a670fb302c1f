"""The two workloads: program-side staging, one pass, one traced pass,
and the output checks.

construct  documents → construct_graph → triple count (parse-bound, no shuffle)
export     stored triples → write_rdfxml → Parquet (group exchange and sort,
           then one fat row per document out of Python)

The link pass (stored triples → dedup_global → build_term_dictionary →
encode_triples → materialize) is no workload of its own; the traced export
run makes link passes to measure dedup, linking and materialize.
"""

from __future__ import annotations

import hashlib
import os
import random
import shlex
import subprocess
import sys
import tempfile
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from rdf_rdfxml_spark.functions.nt import isomorphic
from rdf_rdfxml_spark.operators.dedup import dedup_global
from rdf_rdfxml_spark.operators.extract import extract
from rdf_rdfxml_spark.operators.linking import (
    build_term_dictionary, encode_triples,
)
from rdf_rdfxml_spark.operators.materialize import materialize
from rdf_rdfxml_spark.parser.grammar import parse_rdfxml
from rdf_rdfxml_spark.plans.pipeline import construct_graph, default_session
from rdf_rdfxml_spark.schema import TRIPLE_COLUMNS
from rdf_rdfxml_spark.writer.serialize import write_rdfxml

from . import corpus
from .host import ROOT, driver_memory_mb

#: Input files: a crawl arrives as many files; Spark packs them into scan
#: tasks by size.
N_FILES = 12
#: Subject buckets of the stored and the linked triple tables; sized for
#: this corpus (the program's default of 256 targets 10^9-triple tables).
N_BUCKETS = 1
CHECK_SAMPLE = 150


class PassError(Exception):
    """A pass finished but its result is wrong."""


@dataclass
class Inputs:
    docs: list[corpus.Doc]
    work: Path
    expected_total: int = 0   # triple rows over all document rows
    expected_global: int = 0  # distinct triples after dedup_global
    expected_docs: int = 0    # distinct documents that yield triples
    counters: dict = field(default_factory=dict)

    docs_path = property(lambda self: str(self.work / "docs"))
    stored_path = property(lambda self: str(self.work / "stored"))
    out_path = property(lambda self: str(self.work / "out"))


def _doc_sha(doc: corpus.Doc) -> str:
    return hashlib.sha256(doc.content.encode()).hexdigest()


def prepare(docs: list[corpus.Doc], work: Path) -> Inputs:
    """Write the documents as Parquet and derive the exact expectations."""
    (work / "docs").mkdir(parents=True)
    for k in range(N_FILES):
        part = docs[k::N_FILES]
        pq.write_table(
            pa.table({c: [getattr(d, c) for d in part]
                      for c in corpus.COLUMNS}),
            work / "docs" / f"part-{k:02d}.parquet")
    triples, shas = set(), set()
    for d in docs:
        if d.negative:
            continue
        sha = _doc_sha(d)
        shas.add(sha)

        def scoped(t, sha=sha):  # blank nodes are document-scoped
            return ("bnode", sha, t[1]) if t[0] == "bnode" else t
        triples.update((scoped(s), p, scoped(o)) for s, p, o in d.golden)
    return Inputs(docs=docs, work=work,
                  expected_total=sum(d.n_triples for d in docs),
                  expected_global=len(triples), expected_docs=len(shas))


def session(cores: int, work: Path):
    """``default_session`` as users get it, sized for this host, with every
    directory it writes inside ``work``."""
    local, tmp = work / "spark-local", work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in [
        "--driver-memory", f"{driver_memory_mb()}m",
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        # No hsperfdata file in /tmp: nothing is written outside ``work``.
        "--conf", "spark.driver.extraJavaOptions="
                  f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    spark = default_session(app="kgbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# --- staging -----------------------------------------------------------------

def stage_triples(spark, inp: Inputs) -> None:
    """The stored triple table that link and export start from."""
    materialize(construct_graph(spark.read.parquet(inp.docs_path)).triples,
                inp.stored_path, n_buckets=N_BUCKETS)


# --- passes: each returns the number of triples it handled --------------------

def construct_pass(spark, inp: Inputs) -> int:
    n = construct_graph(spark.read.parquet(inp.docs_path)).triples.count()
    if n != inp.expected_total:
        raise PassError(f"construct counted {n} triples, "
                        f"expected {inp.expected_total}")
    return n


def link_pass(spark, inp: Inputs) -> int:
    deduped = dedup_global(spark.read.parquet(inp.stored_path))
    encoded = encode_triples(deduped, build_term_dictionary(deduped))
    materialize(encoded, inp.out_path, n_buckets=N_BUCKETS)
    return inp.expected_total


def export_pass(spark, inp: Inputs) -> int:
    (write_rdfxml(spark.read.parquet(inp.stored_path))
     .write.mode("overwrite").parquet(inp.out_path))
    return inp.expected_total


# --- traced passes: every layer's output is materialised inside its span ------

def _cached(df):
    df = df.persist()
    return df, df.count()


def construct_traced(spark, inp: Inputs, tr) -> list:
    with tr.span("scan"):
        docs, _ = _cached(spark.read.parquet(inp.docs_path))
    with tr.span("extract"):
        g = construct_graph(docs)
        extracted, _ = _cached(g.extracted)
    with tr.span("pipeline"):
        n = g.triples.count()
    if n != inp.expected_total:
        raise PassError(f"traced construct counted {n} triples")
    return [docs, extracted]


def link_traced(spark, inp: Inputs, tr) -> list:
    with tr.span("scan"):
        triples, rows_in = _cached(spark.read.parquet(inp.stored_path))
    with tr.span("dedup"):
        deduped, rows_out = _cached(dedup_global(triples))
    with tr.span("linking.dictionary"):
        dictionary, terms = _cached(build_term_dictionary(deduped))
    with tr.span("linking.encode"):
        encoded, _ = _cached(encode_triples(deduped, dictionary))
    with tr.span("materialize"):
        materialize(encoded, inp.out_path, n_buckets=N_BUCKETS)
    inp.counters.update({"dedup.rows_in": rows_in, "dedup.rows_out": rows_out,
                         "linking.terms": terms})
    return [triples, deduped, dictionary, encoded]


def export_traced(spark, inp: Inputs, tr) -> list:
    with tr.span("scan"):
        triples, _ = _cached(spark.read.parquet(inp.stored_path))
    with tr.span("serialize"):
        xml, _ = _cached(write_rdfxml(triples))
    with tr.span("write"):
        xml.write.mode("overwrite").parquet(inp.out_path)
    return [triples, xml]


# --- output checks (outside the timed region) --------------------------------

def _term(row, which):
    if which == "s":
        return (row["s_kind"], row["s"])
    if row["o_kind"] == "literal":
        return ("literal", row["o"], row["o_lang"], row["o_dt"])
    return (row["o_kind"], row["o"])


def _triples_by_sha(df, shas) -> dict[str, set]:
    from pyspark.sql import functions as F
    out: dict[str, set] = {sha: set() for sha in shas}
    for r in (df.filter(F.col("doc_sha").isin(list(shas)))
              .select("doc_sha", *TRIPLE_COLUMNS).collect()):
        out[r["doc_sha"]].add((_term(r, "s"), r["p"], _term(r, "o")))
    return out


def _sample(inp: Inputs, seed: int) -> list[corpus.Doc]:
    positives = [d for d in inp.docs if not d.negative]
    return random.Random(f"check:{seed}").sample(positives, CHECK_SAMPLE)


def check_construct(spark, inp: Inputs, seed: int) -> list[tuple]:
    from pyspark.sql import functions as F
    g = construct_graph(spark.read.parquet(inp.docs_path))
    extracted = g.extracted.persist()
    try:
        total = g.triples.count()
        sample = _sample(inp, seed)
        got = _triples_by_sha(g.triples, {_doc_sha(d) for d in sample})
        bad = [d.path for d in sample
               if not isomorphic(list(got[_doc_sha(d)]), list(set(d.golden)))]
        neg = {_doc_sha(d) for d in inp.docs if d.negative}
        errs = {r[0] for r in g.errors.select("doc_sha").distinct().collect()}
        leaked = g.triples.filter(F.col("doc_sha").isin(list(neg))).count()
    finally:
        extracted.unpersist()
    return [
        ("construct.golden_sample", not bad,
         f"{len(sample) - len(bad)}/{len(sample)} isomorphic {bad[:3]}"),
        ("construct.negatives_to_errors", neg <= errs and leaked == 0,
         f"{len(neg & errs)}/{len(neg)} with error rows, "
         f"{leaked} triples leaked"),
        ("construct.triple_total", total == inp.expected_total,
         f"{total} of {inp.expected_total}"),
    ]


def check_link(spark, inp: Inputs, seed: int) -> list[tuple]:
    from pyspark.sql import functions as F
    out = spark.read.parquet(inp.out_path)
    n_out = out.count()
    n_dedup = dedup_global(spark.read.parquet(inp.stored_path)).count()
    nulls = out.filter(F.col("s_id").isNull() | F.col("p_id").isNull()
                       | F.col("o_id").isNull()).count()
    return [
        ("link.encoded_rows", n_out == n_dedup == inp.expected_global,
         f"encoded {n_out}, dedup_global {n_dedup}, "
         f"expected {inp.expected_global}"),
        ("link.no_null_ids", nulls == 0, f"{nulls} rows with a null id"),
    ]


def check_export(spark, inp: Inputs, seed: int) -> list[tuple]:
    from pyspark.sql import functions as F
    out = spark.read.parquet(inp.out_path)
    n_docs = out.count()
    shas = {_doc_sha(d) for d in _sample(inp, seed)}
    stored = _triples_by_sha(spark.read.parquet(inp.stored_path), shas)
    xml = {r[0]: r[1] for r in out.filter(F.col("doc_sha").isin(list(shas)))
           .select("doc_sha", "xml").collect()}
    bad = []
    for sha in shas:
        triples, errors = parse_rdfxml(xml.get(sha, ""), doc_key=sha)
        if errors or not isomorphic(list(set(triples)), list(stored[sha])):
            bad.append(sha[:12])
    return [
        ("export.document_count", n_docs == inp.expected_docs,
         f"{n_docs} documents of {inp.expected_docs}"),
        ("export.reparse_sample", not bad,
         f"{len(shas) - len(bad)}/{len(shas)} isomorphic {bad[:3]}"),
    ]


def deep_probe(spark, levels: int = 12_000) -> tuple[int, str]:
    """Drive one deeply nested document through ``extract()``; 1 if the
    job dies (a Python worker crash), 0 if it yields rows."""
    df = spark.createDataFrame([(corpus.deep_document(levels),)],
                               "content string")
    try:
        rows = extract(df).collect()
    except Exception as e:  # the job failure is the measured outcome
        return 1, str(e).strip().splitlines()[0][:200]
    return 0, f"{len(rows)} rows: {rows[0]['rec'] if rows else '-'}"


def serialize_groups(spark, inp: Inputs, seed: int) -> list[list[dict]]:
    """Stored triple rows of a seeded document sample, one list per doc."""
    from pyspark.sql import functions as F
    shas = [_doc_sha(d) for d in _sample(inp, seed)]
    groups: dict[str, list] = {}
    for r in (spark.read.parquet(inp.stored_path)
              .filter(F.col("doc_sha").isin(shas))
              .select("doc_sha", *TRIPLE_COLUMNS).collect()):
        groups.setdefault(r["doc_sha"], []).append(
            {c: r[c] for c in TRIPLE_COLUMNS})
    return list(groups.values())


@dataclass(frozen=True)
class Workload:
    name: str
    staged: bool                # needs the stored triple table
    run: callable
    traced: callable
    check: callable
    #: set-up spans whose Spark work includes the extract stage
    extract_setup_spans: tuple


WORKLOADS = {
    "construct": Workload("construct", False, construct_pass,
                          construct_traced, check_construct,
                          ("setup.cold", "setup.warmup")),
    "export": Workload("export", True, export_pass, export_traced,
                       check_export, ("setup.staging",)),
}
