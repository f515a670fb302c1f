"""Single-thread, in-process passes over the parser and writer functions:
the per-document cost of each layer without Spark around it."""

from __future__ import annotations

import statistics
import time

from rdf_rdfxml_spark.functions.xmldom import XMLParseError, parse_document
from rdf_rdfxml_spark.parser.grammar import parse_rdfxml
from rdf_rdfxml_spark.writer.serialize import serialize_graph

REPS = 3


def _us_per_item(fn, items) -> float:
    """Median over ``REPS`` passes of the mean µs per item."""
    runs = []
    for _ in range(REPS):
        t = time.perf_counter()
        for item in items:
            fn(item)
        runs.append((time.perf_counter() - t) / len(items) * 1e6)
    return statistics.median(runs)


def _parse_document(doc):
    try:
        parse_document(doc.content)
    except XMLParseError:
        pass


def _parse_rdfxml(doc):
    return parse_rdfxml(doc.content, base_uri=doc.base_uri, doc_key="d")


def parser_metrics(sample) -> dict:
    results = [_parse_rdfxml(d) for d in sample]
    dom_us = _us_per_item(_parse_document, sample)
    grammar_us = _us_per_item(_parse_rdfxml, sample)
    return {
        "xmldom.parse_document_us": dom_us,
        "grammar.parse_rdfxml_us": grammar_us,
        "grammar.self_us": grammar_us - dom_us,
        "grammar.triples_per_doc":
            sum(len(t) for t, _ in results) / len(sample),
        "grammar.error_docs": float(sum(1 for _, e in results if e)),
    }


def serialize_metrics(groups: list[list[dict]]) -> dict:
    return {"serialize.serialize_graph_us":
            _us_per_item(serialize_graph, groups)}
