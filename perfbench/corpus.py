"""Seeded synthetic XML corpus for the ETL workloads.

The corpus has the reference's document shape (the ``<document>`` layout
that ``plans.pipeline.read_documents_xml`` parses). Its knobs are the
input properties the classification and graph stages depend on:

- index terms are drawn from a Zipf-distributed vocabulary, so a few
  terms repeat across many documents and most are rare;
- a fixed share of index terms is drawn from the pools of person and
  place names that authors, recipients and locations come from; those
  that some document carries as a name are known entities, which the
  pipeline must label without asking the classifier;
- parenthetical suffixes and doubled inner whitespace make distinct raw
  spellings that normalize to one term;
- midsub/sub children appear at fixed rates;
- documents are written ``docs_per_file`` to a file.

The program under test receives only the XML files. The generator keeps
the documents in the shape ``tests/ref_model.run_reference_model`` reads
and records ground-truth counts, so that classifier traffic has an
exact base.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

from tests.ref_model import normalize, strip_paren

_SYLLABLES = (
    "ba", "ker", "lin", "mor", "ta", "ven", "sel", "do", "ri", "gan", "tho",
    "wes", "ham", "ly", "cor", "nel", "pra", "stu", "vik", "zel", "mon",
    "fa", "rel", "kin", "os", "bur", "gil", "han", "jo", "pen",
)
_PLACE_SUFFIXES = ("ford", "ton", "ville", "burg", "mouth", "field")
_PARENTHETICALS = ("(letter)", "(1790)", "(see also)", "(mentioned)")


@dataclass(frozen=True)
class CorpusSpec:
    """Generator knobs; the defaults are the ETL workloads' corpus."""

    n_docs: int
    docs_per_file: int
    vocab_size: int = 4000
    zipf_exponent: float = 1.1
    terms_per_doc: tuple[int, int] = (4, 12)
    n_persons: int = 400
    n_places: int = 120
    known_entity_share: float = 0.15
    parenthetical_share: float = 0.10
    whitespace_share: float = 0.05
    midsub_rate: float = 0.35
    sub_rate: float = 0.5


@dataclass
class Corpus:
    """Generated documents plus their ground truth.

    ``docs`` uses the reference-model shape; ``files`` maps each XML file
    name to its text, in landing order.
    """

    docs: list[dict]
    files: list[tuple[str, str]]
    truth: dict = field(default_factory=dict)

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, text in self.files:
            with open(os.path.join(directory, name), "w", encoding="utf-8") as f:
                f.write(text)


def _word(rng: random.Random, n_syllables: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n_syllables))


def _unique(rng: random.Random, n: int, make) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        value = make(rng)
        key = normalize(value)
        if key not in seen:
            seen.add(key)
            out.append(value)
    return out


def _zipf_cdf(n: int, exponent: float) -> list[float]:
    weights = [1.0 / (rank ** exponent) for rank in range(1, n + 1)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    return cdf


def _draw(rng: random.Random, items: list[str], cdf: list[float]) -> str:
    return items[min(bisect.bisect_left(cdf, rng.random()), len(items) - 1)]


def generate(spec: CorpusSpec, seed: int) -> Corpus:
    """Build the corpus for ``seed``; the same seed gives the same files."""
    rng = random.Random(seed)
    persons = _unique(
        rng,
        spec.n_persons,
        lambda r: f"{_word(r, 2).capitalize()}, {_word(r, 2).capitalize()}",
    )
    places = _unique(
        rng,
        spec.n_places,
        lambda r: _word(r, 2).capitalize() + r.choice(_PLACE_SUFFIXES),
    )
    taken = {normalize(x) for x in persons + places}
    vocab = [
        t
        for t in _unique(
            rng,
            spec.vocab_size + len(taken),
            lambda r: " ".join(_word(r, r.randint(1, 3)) for _ in range(r.randint(1, 2))),
        )
        if normalize(t) not in taken
    ][: spec.vocab_size]
    rng.shuffle(vocab)
    cdf = _zipf_cdf(len(vocab), spec.zipf_exponent)

    def variant(term: str) -> str:
        if " " in term and rng.random() < spec.whitespace_share:
            term = term.replace(" ", "  ", 1)
        if rng.random() < spec.parenthetical_share:
            term = f"{term} {rng.choice(_PARENTHETICALS)}"
        return term

    docs: list[dict] = []
    for i in range(spec.n_docs):
        authors = rng.sample(persons, rng.randint(1, 2))
        recipients = rng.sample(persons, rng.randint(0, 2))
        location = rng.choice(places) if rng.random() < 0.9 else ""
        year = rng.randint(1770, 1800)
        month = rng.randint(1, 12)
        day_from = rng.randint(1, 20)
        indexing = []
        for _ in range(rng.randint(*spec.terms_per_doc)):
            if rng.random() < spec.known_entity_share:
                main = rng.choice(persons) if rng.random() < 0.75 else rng.choice(places)
            else:
                main = _draw(rng, vocab, cdf)
            midsub = sub = ""
            if rng.random() < spec.midsub_rate:
                midsub = variant(_draw(rng, vocab, cdf))
                if rng.random() < spec.sub_rate:
                    sub = variant(_draw(rng, vocab, cdf))
            indexing.append((variant(main), midsub, sub))
        docs.append(
            {
                "doc_id": f"d{seed}-{i:06d}",
                "title": f"Letter {i} of series {seed}",
                "authors": authors,
                "recipients": recipients,
                "location_name": location,
                "date_from": f"{year}-{month:02d}-{day_from:02d}",
                "date_to": f"{year}-{month:02d}-{day_from + rng.randint(0, 8):02d}",
                "indexing": indexing,
            }
        )

    files = []
    for start in range(0, len(docs), spec.docs_per_file):
        chunk = docs[start : start + spec.docs_per_file]
        name = f"part-{start // spec.docs_per_file:05d}.xml"
        files.append((name, "<root>\n" + "".join(_document_xml(d) for d in chunk) + "</root>\n"))
    return Corpus(docs=docs, files=files, truth=ground_truth(docs))


def ground_truth(docs: list[dict]) -> dict:
    """Counts the classifier's traffic is measured against.

    ``distinct_terms`` are the distinct normalized non-empty term parts
    (main, midsub, sub after the parenthetical strip);
    ``known_entity_terms`` are those that equal a normalized author,
    recipient or place name of the same document set, which the pipeline
    labels without the classifier.
    """
    known = set()
    for d in docs:
        for name in d["authors"] + d["recipients"]:
            known.add(normalize(name))
        if d["location_name"]:
            known.add(normalize(d["location_name"]))
    terms = set()
    for d in docs:
        for triple in d["indexing"]:
            for part in triple:
                stripped = strip_paren(part)
                if stripped:
                    terms.add(normalize(stripped))
    collisions = terms & known
    return {
        "documents": len(docs),
        "distinct_terms": len(terms),
        "known_entity_terms": len(collisions),
        "classifier_terms": len(terms - known),
    }


def _document_xml(d: dict) -> str:
    def tag(name: str, value: str) -> str:
        return f"<{name}>{escape(value)}</{name}>"

    terms = []
    for main, midsub, sub in d["indexing"]:
        parts = tag("main", main)
        if midsub:
            parts += tag("midsub", midsub)
        if sub:
            parts += tag("sub", sub)
        terms.append(f"<indexTerm>{parts}</indexTerm>")
    location = (
        f"<location>{tag('placeName', d['location_name'])}</location>"
        if d["location_name"]
        else ""
    )
    return (
        "<document>"
        + tag("documentID", d["doc_id"])
        + tag("documentTitle", d["title"])
        + "<projectInfo>"
        + tag("publicationName", "Papers")
        + tag("seriesName", "Correspondence")
        + tag("volumeInfo", "V1")
        + tag("publisher", "Synthetic Press")
        + "<formats><type>print</type></formats></projectInfo>"
        + "<authors>" + "".join(tag("author", a) for a in d["authors"]) + "</authors>"
        + "<recipients>" + "".join(tag("recipient", r) for r in d["recipients"]) + "</recipients>"
        + "<dates>" + tag("date-from", d["date_from"]) + tag("date-to", d["date_to"]) + "</dates>"
        + location
        + "<repositories><repository>Archive</repository></repositories>"
        + "<indexing>" + "".join(terms) + "</indexing>"
        + "</document>\n"
    )
