"""Self-tests of the KG benchmark (no Spark session needed).

    python3 -m pytest kgbench/tests -q -p no:cacheprovider
"""
import shutil
from collections import Counter

import pytest

from kgbench import corpus, host, run
from kgbench.sparkmetrics import parse_metric
from kgbench.spans import Span, Tracer, self_time, self_times


def test_generator_is_deterministic_per_seed():
    a, b, c = (corpus.generate(600, s) for s in (7, 7, 8))
    assert corpus.content_hash(a) == corpus.content_hash(b)
    assert corpus.content_hash(a) != corpus.content_hash(c)
    assert Counter(d.category for d in a) == Counter(d.category for d in c)
    assert Counter(d.category for d in a) == corpus.category_counts(600)


def test_corpus_has_its_stated_triples_per_document():
    docs = corpus.generate(run.N_DOCS, 1)
    per_doc = sum(d.n_triples for d in docs) / len(docs)
    assert per_doc == pytest.approx(corpus.TRIPLES_PER_DOC, rel=0.05)


def test_corpus_stays_under_the_memo_caps():
    f = corpus.facts(corpus.generate(run.N_DOCS, 1))
    assert f["distinct_xml_names"] < f["memo_cap"]
    assert f["distinct_predicates"] < f["memo_cap"]


@pytest.mark.parametrize("text,value", [
    ("6.1 MiB", 6.1 * 2 ** 20),
    ("177.0 B", 177.0),
    ("2.2 s", 2.2),
    ("0 ms", 0.0),
    ("1.5 m", 90.0),
    ("12,000", 12_000),
    ("total (min, med, max (stageId: taskId))\n"
     "2.0 s (636 ms, 651 ms, 720 ms (stage 57.0: task 71))", 2.0),
    ("total (min, med, max (stageId: taskId))\n"
     "26.7 MiB (8.5 MiB, 9.0 MiB, 9.3 MiB (stage 57.0: task 71))",
     26.7 * 2 ** 20),
])
def test_spark_metric_strings_parse(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_unknown_metric_unit_is_refused():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


def test_span_self_times_add_up_to_the_traced_wall():
    tr = Tracer()
    with tr.span("pass") as root:
        for name in ("scan", "extract", "scan"):
            with tr.span(name):
                sum(range(20_000))
        sum(range(20_000))
    st = self_times(tr, root.id)
    assert set(st) == {"pass", "scan", "extract"}
    assert sum(st.values()) == pytest.approx(root.duration, abs=1e-9)
    assert all(v >= 0 for v in st.values())


def test_self_time_counts_overlapping_children_once():
    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1.0, 4.0), Span(2, "b", 0, 3.0, 6.0),
            Span(3, "c", 0, 9.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 5.0 - 1.0)


def test_refuses_more_cores_than_the_affinity_mask():
    with pytest.raises(SystemExit):
        host.check_cores(host.usable_cpus() + 1)
    host.check_cores(1)


def test_driver_memory_fits_the_host():
    total_mb = host.meminfo_kb()["MemTotal"] // 1024
    assert 1024 <= host.driver_memory_mb() <= max(1024, total_mb // 4)


def test_code_hash_is_independent_of_the_checkout_path(tmp_path):
    for top in host.CODE_DIRS:
        shutil.copytree(host.ROOT / top, tmp_path / top,
                        ignore=shutil.ignore_patterns("__pycache__"))
    assert host.code_hash(tmp_path) == host.code_hash()
