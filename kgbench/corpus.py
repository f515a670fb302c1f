"""Seeded document corpus for the KG benchmark.

The mix (counts are fixed by ``n_docs``; the seed changes only content):

* the 17 positive fixture categories of ``sources.fixtures``, each with its
  golden triples;
* the 5 negative fixture categories, which must land in the error channel;
* multi-record documents whose record count is Pareto-distributed and whose
  subject/object entity IRIs, predicates and classes are Zipf-distributed,
  so a few join keys are hot (the heavy-hitter skew linking salts against);
* exact duplicates of earlier documents under another repo/path/commit.

Every document carries the exact set of triples it must yield, so a run can
check the triple total exactly. Documents nested thousands of levels deep are
kept out of this mix: they crash the parse worker today, and the traced run
probes them separately (``deep_document``).
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
from dataclasses import dataclass

from rdf_rdfxml_spark.sources.fixtures import (
    NEGATIVE_CATEGORIES, POSITIVE_CATEGORIES, RDF,
)

ENTITY = "http://kg.example.org/entity/"
VOCAB = "http://kg.example.org/vocab#"

#: Shares of the document count; the rest of ``n_docs`` is multi-record.
#: Negatives stand to fixtures as the repo's W3C RDF/XML manifest
#: (``tests/data/w3c``, the corpus BASELINE.json's metric is defined on)
#: has negative-syntax to eval tests, 41 to 130. The fixture share then
#: gives the corpus 5 triples per document, the figure bench.py converts
#: its triples/s headline to docs/s with. The duplicate share is chosen;
#: README.md measures how far triples/s moves with it.
FIXTURE_SHARE = 0.48
NEGATIVE_SHARE = FIXTURE_SHARE * 41 / 130
DUPLICATE_SHARE = 0.10
TRIPLES_PER_DOC = 5.0

#: Chosen; README.md measures how far triples/s moves with them.
N_ENTITIES = 20_000
N_PREDICATES = 120
N_CLASSES = 40
ZIPF_S = 1.1
PARETO_ALPHA = 1.5
MAX_RECORDS = 40
LANGS = (None, None, None, "en", "de")
WORDS = ("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa",
         "theta", "lambda", "zeta", "rho", "tau")

COLUMNS = ("repo", "path", "commit", "lang", "content", "base_uri")


@dataclass
class Doc:
    """One input row plus what the benchmark knows about it (never shown
    to the program)."""
    repo: str
    path: str
    commit: str
    lang: str
    content: str
    base_uri: str
    category: str
    negative: bool
    golden: list | None  # term-tuple triples, bnodes labelled per document

    @property
    def n_triples(self) -> int:
        return 0 if self.negative else len(set(self.golden))


def _zipf_sampler(rng: random.Random, n: int, s: float):
    cum = list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))
    total = cum[-1]

    def draw() -> int:
        return bisect.bisect_left(cum, rng.random() * total)
    return draw


def _sha(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()


def category_counts(n_docs: int) -> dict[str, int]:
    """Documents per category for a corpus of ``n_docs`` (seed-independent)."""
    per_pos = max(1, round(n_docs * FIXTURE_SHARE / len(POSITIVE_CATEGORIES)))
    per_neg = max(1, round(n_docs * NEGATIVE_SHARE / len(NEGATIVE_CATEGORIES)))
    n_dup = round(n_docs * DUPLICATE_SHARE)
    counts = {c: per_pos for c in POSITIVE_CATEGORIES}
    counts.update({c: per_neg for c in NEGATIVE_CATEGORIES})
    counts["multi_record"] = n_docs - n_dup - sum(counts.values())
    counts["duplicate"] = n_dup
    if counts["multi_record"] < 1:
        raise ValueError(f"n_docs={n_docs} is too small for the mix")
    return counts


def record_counts(n: int) -> list[int]:
    """Pareto record counts at ``n`` evenly spaced quantiles: the same
    sizes for every seed, so the triple total barely depends on it."""
    return [min(MAX_RECORDS, int((1 - (k + 0.5) / n) ** (-1 / PARETO_ALPHA)))
            for k in range(n)]


def _multi_record(rng, draw_entity, draw_pred, draw_class, i, n_records):
    lines = [f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="{RDF}" '
             f'xmlns:kg="{VOCAB}">']
    golden = []
    for _ in range(n_records):
        s = f"{ENTITY}{draw_entity()}"
        cls = f"C{draw_class()}"
        lines.append(f'  <kg:{cls} rdf:about="{s}">')
        golden.append((("iri", s), RDF + "type", ("iri", VOCAB + cls)))
        for _ in range(rng.randint(2, 6)):
            p = f"p{draw_pred()}"
            if rng.random() < 0.4:
                o = f"{ENTITY}{draw_entity()}"
                lines.append(f'    <kg:{p} rdf:resource="{o}"/>')
                golden.append((("iri", s), VOCAB + p, ("iri", o)))
            else:
                text = " ".join(rng.choice(WORDS) for _ in range(3)) + f" {i}"
                lang = rng.choice(LANGS)
                attr = f' xml:lang="{lang}"' if lang else ""
                lines.append(f"    <kg:{p}{attr}>{text}</kg:{p}>")
                golden.append((("iri", s), VOCAB + p,
                               ("literal", text, lang, None)))
        lines.append(f"  </kg:{cls}>")
    lines.append("</rdf:RDF>")
    return "\n".join(lines), golden


def generate(n_docs: int, seed: int) -> list[Doc]:
    """The corpus for ``seed``, in a seed-dependent order."""
    rng = random.Random(seed)
    counts = category_counts(n_docs)
    draw_entity = _zipf_sampler(rng, N_ENTITIES, ZIPF_S)
    draw_pred = _zipf_sampler(rng, N_PREDICATES, ZIPF_S)
    draw_class = _zipf_sampler(rng, N_CLASSES, ZIPF_S)
    docs: list[Doc] = []

    def add(content, base, category, negative, golden, lang="rdfxml"):
        n = len(docs)
        docs.append(Doc(
            repo=f"org{rng.randrange(97)}/repo{rng.randrange(997)}",
            path=f"data/{category}/{n}.rdf",
            commit=_sha(f"{seed}:{n}"), lang=lang, content=content,
            base_uri=base, category=category, negative=negative,
            golden=golden))

    for name, fn in POSITIVE_CATEGORIES.items():
        for i in rng.sample(range(1_000_000), counts[name]):
            content, golden, base = fn(i)
            add(content, base, name, False, golden)
    for name, fn in NEGATIVE_CATEGORIES.items():
        for i in rng.sample(range(1_000_000), counts[name]):
            add(fn(i), f"http://example.org/neg/{i}", name, True, None,
                lang="xml" if name == "NEG_not_xml" else "rdfxml")
    sizes = record_counts(counts["multi_record"])
    rng.shuffle(sizes)
    for i, n_records in enumerate(sizes):
        content, golden = _multi_record(rng, draw_entity, draw_pred,
                                        draw_class, i, n_records)
        add(content, "", "multi_record", False, golden)
    originals = [d for d in docs if not d.negative]
    for src in rng.sample(originals, counts["duplicate"]):
        add(src.content, src.base_uri, "duplicate", False, src.golden)
    rng.shuffle(docs)
    return docs


def content_hash(docs: list[Doc]) -> str:
    h = hashlib.sha256()
    for d in docs:
        for c in COLUMNS:
            h.update(getattr(d, c).encode())
            h.update(b"\0")
    return h.hexdigest()


def facts(docs: list[Doc]) -> dict:
    """Corpus facts that bear on the program's bounded memos: distinct XML
    names (``xmldom._URI_MEMO``/``_SPLIT_MEMO`` keys) and distinct predicate
    IRIs (``serialize._SPLIT_IRI_MEMO`` keys), each capped at 65,536."""
    from rdf_rdfxml_spark.functions.xmldom import XMLParseError, parse_document
    names, preds = set(), set()
    for d in docs:
        if d.golden:
            preds.update(p for _, p, _ in d.golden)
        try:
            root = parse_document(d.content)
        except XMLParseError:
            continue
        for el in root.iter_elements():
            names.add((el.ns, el.local))
            names.update((a[0], a[1]) for a in el.attrs)
    return {"docs": len(docs),
            "triples": sum(d.n_triples for d in docs),
            "content_mb": sum(len(d.content) for d in docs) / 1e6,
            "distinct_xml_names": len(names),
            "distinct_predicates": len(preds),
            "memo_cap": 65_536}


def deep_document(levels: int = 12_000) -> str:
    """One well-formed document nested ``levels`` property/node levels deep."""
    open_ = (f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="{RDF}" '
             f'xmlns:kg="{VOCAB}">' + "<rdf:Description><kg:p>" * levels)
    return open_ + "</kg:p></rdf:Description>" * levels + "</rdf:RDF>"
