"""Seeded input generator for the benchmark.

Every input is derived from ``random.Random(seed)`` alone and written with
pyarrow using fixed writer options, so the same seed gives byte-identical
files and a different seed gives different inputs. Nothing is downloaded
and nothing outside the output directory is read.

Two input families:

* ``rich``  — interleaved ``(doc_id, spans)`` rows (three text spans that
  concatenate to the JSON-LD payload, plus one media span, the layout of
  ``sources.interleaved.interleave_spans``). Every payload carries an
  inline ``@context`` with typed, ``@list``, ``@reverse`` and
  ``@language`` terms, nested anonymous nodes, cross-document
  ``owl:sameAs`` links, a share of named-graph (``@graph``) documents and
  a stated share of malformed payloads.
* ``curate`` — ``documents(doc_id, text, lang, source, n_chars)`` and
  ``embeddings(vec_id, embedding[64], label)`` tables with the column
  types of the oracle tables, and a stated share of exact and near
  duplicates.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOC_IRI = "http://example.org/doc/"
MEDIA_REF = "https://media.example/img/"
PERSON = "http://example.org/person/"
ORG = "http://example.org/org/"
GRAPH = "http://example.org/graph/"
SCHEMA = "http://schema.org/"
EX = "http://example.org/vocab#"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark sort window order data column join small line customer "
         "query big stream filter group vector").split()
STOP = ["the", "a", "and", "of"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
CITIES = ["Berlin", "Paris", "Madrid", "Lisbon", "Oslo", "Rome", "Vienna",
          "Prague"]
FIRST = ["Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald", "Frances",
         "John", "Leslie", "Radia", "Tony", "Ken"]
N_ORGS = 12
EMB_DIM = 64

# The context every rich document carries inline: one term of each kind
# PAPER.md §1 names (typed value, @list container, @reverse property,
# default @language), plus @id-typed link terms.
RICH_CONTEXT = {
    "schema": SCHEMA,
    "ex": EX,
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "name": "schema:name",
    "age": {"@id": "schema:age", "@type": "xsd:integer"},
    "score": {"@id": "ex:score", "@type": "xsd:double"},
    "tags": {"@id": "schema:keywords", "@container": "@list"},
    "memberOf": {"@reverse": "schema:member", "@type": "@id"},
    "label": {"@id": "ex:label", "@language": "en"},
    "knows": {"@id": "schema:knows", "@type": "@id"},
    "sameAs": {"@id": "owl:sameAs", "@type": "@id"},
    "address": "schema:address",
    "city": "schema:addressLocality",
    "postal": "schema:postalCode",
    "worksFor": "schema:worksFor",
}

SPAN_TYPE = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32())]))
INTERLEAVED_SCHEMA = pa.schema([("doc_id", pa.string()),
                                ("spans", SPAN_TYPE)])
DOCUMENTS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                              ("lang", pa.string()), ("source", pa.string()),
                              ("n_chars", pa.int64())])
EMBEDDINGS_SCHEMA = pa.schema([("vec_id", pa.int64()),
                               ("embedding", pa.list_(pa.float32())),
                               ("label", pa.int32())])


def write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    """One row group, no statistics timestamps: identical rows give
    identical bytes."""
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _text(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        words.append(rng.choice(STOP) if rng.random() < 0.3
                     else rng.choice(WORDS))
    return " ".join(words)


def interleave(doc_id: str, payload: str, media_ref: str | None) -> dict:
    """Split ``payload`` into three text spans at the 1/3 and 2/3 cut
    points and put the media span after the first text span — the layout
    ``sources.interleaved.interleave_spans`` produces."""
    n = len(payload)
    cuts = [0, n // 3, 2 * n // 3, n]
    spans = []
    for i in range(3):
        spans.append({"kind": "text", "text": payload[cuts[i]:cuts[i + 1]],
                      "media_ref": "", "offset": cuts[i]})
        if i == 0 and media_ref is not None:
            spans.append({"kind": "media", "text": "", "media_ref": media_ref,
                          "offset": cuts[1]})
    return {"doc_id": doc_id, "spans": spans}


def assembled(row: dict) -> tuple[str, list[str]]:
    """(payload, media refs) of one interleaved row — what
    ``assemble_documents`` computes, for the pure-core expectation."""
    spans = sorted(row["spans"], key=lambda s: s["offset"])
    payload = "".join(s["text"] for s in spans if s["kind"] == "text")
    refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
    return payload, refs


# ---------------------------------------------------------------------------
# rich corpus
# ---------------------------------------------------------------------------

def _person(rng: random.Random, n: int, n_docs: int, version: int) -> dict:
    node = {
        "@id": f"{PERSON}{n}",
        "@type": "schema:Person",
        "name": f"{rng.choice(FIRST)} {n}",
        "age": rng.randint(18, 80),
        "label": f"{rng.choice(WORDS)} {rng.choice(WORDS)} v{version}",
        "tags": [rng.choice(WORDS) for _ in range(rng.randint(2, 4))],
        "knows": sorted({f"{PERSON}{rng.randrange(n_docs)}"
                         for _ in range(rng.randint(0, 3))}),
        "memberOf": f"{ORG}{rng.randrange(N_ORGS)}",
        "address": {"city": rng.choice(CITIES),
                    "postal": f"{rng.randint(10000, 99999)}"},
        "worksFor": {"@type": "schema:Organization",
                     "name": f"{rng.choice(WORDS)} works"},
    }
    if rng.random() < 0.6:
        node["score"] = round(rng.uniform(0, 100), 2)
    if not node["knows"]:
        del node["knows"]
    return node


def _malformed(rng: random.Random, good: str) -> str:
    """A payload the pipeline must route to its per-document error path:
    either unparseable JSON or JSON-LD with an invalid term definition."""
    if rng.random() < 0.5:
        return good[: len(good) // 2]
    return json.dumps({"@context": {"name": {"@id": 7}},
                       "@id": f"{PERSON}bad", "name": "x"})


SAMEAS_SHARE = 0.2   # documents linking their person to another's
GRAPH_SHARE = 0.15   # documents wrapping their nodes in a named @graph


def rich_doc(rng: random.Random, n: int, n_docs: int, version: int) -> dict:
    """One rich JSON-LD document about person ``n``."""
    person = _person(rng, n, n_docs, version)
    if n_docs > 1 and rng.random() < SAMEAS_SHARE:
        other = rng.randrange(n_docs - 1)
        person["sameAs"] = f"{PERSON}{other + (other >= n)}"
    if rng.random() < GRAPH_SHARE:
        return {"@context": RICH_CONTEXT, "@id": f"{GRAPH}{n}",
                "@graph": [person, {"@id": f"{ORG}{n % N_ORGS}",
                                    "@type": "schema:Organization",
                                    "name": f"org {n % N_ORGS}"}]}
    return {"@context": RICH_CONTEXT, **person}


def rich_rows(rng: random.Random, n_docs: int, malformed_share: float,
              version: int = 0, ids=None) -> list[dict]:
    """Interleaved rows of the rich documents ``ids`` (default: all
    ``n_docs``), a ``malformed_share`` of them with a malformed payload."""
    rows = []
    for n in (range(n_docs) if ids is None else ids):
        payload = json.dumps(rich_doc(rng, n, n_docs, version),
                             separators=(",", ":"))
        if rng.random() < malformed_share:
            payload = _malformed(rng, payload)
        rows.append(interleave(f"doc-{n}", payload, f"{MEDIA_REF}{n}.jpg"))
    return rows


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

def _perturb(rng: random.Random, text: str, n_edits: int) -> str:
    words = text.split(" ")
    for _ in range(n_edits):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def curate_rows(rng: random.Random, n_docs: int, exact_share: float,
                near_share: float) -> list[dict]:
    """Documents where ``exact_share`` repeat an earlier text verbatim
    (modulo case and spacing) and ``near_share`` are one-word edits of an
    earlier text; the rest are fresh."""
    rows = []
    for i in range(n_docs):
        r = rng.random()
        if i and r < exact_share:
            src = rows[rng.randrange(i)]["text"]
            text = (src.upper() if rng.random() < 0.5
                    else src.replace(" ", "  ", 1))
        elif i and r < exact_share + near_share:
            text = _perturb(rng, rows[rng.randrange(i)]["text"], 1)
        else:
            text = _text(rng, rng.randint(40, 120))
        rows.append({"doc_id": i, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{rng.randrange(20)}",
                     "n_chars": len(text)})
    return rows


def embedding_rows(rng: random.Random, n_vecs: int,
                   near_share: float) -> list[dict]:
    """Unit-scale Gaussian vectors; ``near_share`` of them are a copy of an
    earlier vector plus small noise (cosine well above the 0.4
    threshold of the ``embedding_clusters`` oracle row)."""
    rows = []
    for i in range(n_vecs):
        if i and rng.random() < near_share:
            j = rng.randrange(i)
            base = rows[j]["embedding"]
            vec = [x + rng.gauss(0, 0.3) for x in base]
            label = rows[j]["label"]
        else:
            vec = [rng.gauss(0, 1) for _ in range(EMB_DIM)]
            label = rng.randrange(10)
        rows.append({"vec_id": i, "embedding": vec, "label": label})
    return rows


# ---------------------------------------------------------------------------
# one entry point per input family
# ---------------------------------------------------------------------------

def generate(kind: str, seed: int, out_dir: str, size: dict) -> dict:
    """Write the inputs of one family to ``out_dir`` and return the shares
    an optimisation might depend on."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"{kind}:{seed}")
    if kind == "rich":
        rows = rich_rows(rng, size["docs"], size["malformed_share"])
        write_table(rows, INTERLEAVED_SCHEMA, f"{out_dir}/interleaved.parquet")
        return {"docs": len(rows), **_payload_shares(rows)}
    if kind == "curate":
        docs = curate_rows(rng, size["docs"], size["exact_share"],
                           size["near_share"])
        vecs = embedding_rows(rng, size["vecs"], size["vec_near_share"])
        write_table(docs, DOCUMENTS_SCHEMA, f"{out_dir}/documents.parquet")
        write_table(vecs, EMBEDDINGS_SCHEMA, f"{out_dir}/embeddings.parquet")
        return {"docs": len(docs), "vecs": len(vecs),
                "exact_dup_share": _exact_dup_share(docs),
                "near_dup_share": size["near_share"],
                "vec_near_dup_share": size["vec_near_share"]}
    raise ValueError(f"unknown input family {kind!r}")


def _exact_dup_share(docs: list[dict]) -> float:
    seen, dups = set(), 0
    for d in docs:
        key = " ".join(d["text"].lower().split())
        dups += key in seen
        seen.add(key)
    return round(dups / max(1, len(docs)), 4)


def _payload_shares(rows: list[dict]) -> dict:
    """Per-document quads, bnodes, sameAs edges and malformed share,
    computed with the pure core over the generated payloads."""
    from jsonld_spark.core.rdf import document_to_quads

    n_quads = n_bnodes = n_sameas = n_bad = n_graph = 0
    for row in rows:
        payload, refs = assembled(row)
        try:
            quads = document_to_quads(json.loads(payload))
        except Exception:  # noqa: BLE001 - malformed by design
            n_bad += 1
            continue
        n_quads += len(quads) + len(refs)
        n_bnodes += len({q.subj for q in quads if q.subj.startswith("_:")}
                        | {q.obj_value for q in quads
                           if q.obj_kind == "bnode"})
        n_sameas += sum(q.pred == OWL_SAMEAS for q in quads)
        n_graph += any(q.graph != "@default" for q in quads)
    n = max(1, len(rows))
    ok = max(1, len(rows) - n_bad)
    return {"quads_per_doc": round(n_quads / ok, 3),
            "bnodes_per_doc": round(n_bnodes / ok, 3),
            "malformed_share": round(n_bad / n, 4),
            "sameas_edges": n_sameas,
            "graph_doc_share": round(n_graph / n, 4)}
