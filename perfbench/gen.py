"""Seeded input generator for the benchmark.

Everything the program under test receives is written here, as parquet,
from ``numpy.random.default_rng(seed)`` alone:

* ``documents`` (doc_id, source, lang, text) and the pages table built
  from it in the north-star schema (url, warc_ts, html, text, lang). The
  html carries the same JSON-LD / microdata / RDFa blocks as
  ``sources.pages.synth_pages``, so the DuckDB mirror
  ``pages_extract_triples`` of ``__spark_entry__.oracle_sql()`` applies
  to the ``documents`` rows unchanged.
* ``orders`` (o_orderkey) and the KBO-style quads + members built from
  it with the same rows as ``operators.kgtriples.kbo_members(...,
  inverse_edges=2)``, so the mirror ``kbo_bulk_extract_inverse``
  applies to ``orders``.

The seed chooses the document sample (doc ids, sources, languages,
texts), the mention-frequency skew (the Zipf exponent of the token
draw, which decides how hot the linking dictionary's head is), the
split of documents into the base corpus and the disjoint delta slices,
and the KBO member keys.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
from typing import Dict, List, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ID_SPACE = 50_000_000
VOCAB_SIZE = 4000
N_MENTIONS = 5  # sources.pages.N_MENTIONS: mentions = first 5 tokens
_TOKEN_SPLIT = re.compile("[^a-z0-9]+")
LANGS = ("en", "es", "de", "fr")
SOURCES = tuple(f"site{i:02d}.example" for i in range(24))

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _vocabulary() -> np.ndarray:
    """Fixed word list (independent of the seed): the seed only changes
    which words are drawn and how skewed the draw is."""
    rng = np.random.default_rng(0)
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    words = set()
    while len(words) < VOCAB_SIZE:
        k = int(rng.integers(2, 5))
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(k))
        if rng.random() < 0.05:
            w += str(int(rng.integers(0, 100)))
        words.add(w)
    return np.array(sorted(words), dtype=object)


def tokens(text: str) -> List[str]:
    """Mirror of functions.text.tokens: non-empty pieces of lower(text)
    split on [^a-z0-9]+."""
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def _texts(rng: np.random.Generator, n: int, zipf_a: float) -> List[str]:
    vocab = _vocabulary()
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** -zipf_a
    p /= p.sum()
    lengths = rng.integers(20, 60, size=n)
    draws = rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=p)
    deco = rng.random(size=draws.size)
    out, pos = [], 0
    for ln in lengths:
        parts = []
        for j in range(pos, pos + ln):
            w = vocab[draws[j]]
            d = deco[j]
            # capitals, punctuation and html-special characters exercise
            # the tokenizer and the html escaping, not the token stream
            if d < 0.08:
                w = w.capitalize()
            elif d < 0.12:
                w += ","
            elif d < 0.14:
                w = "& " + w
            elif d < 0.15:
                w = "<" + w + ">"
            parts.append(w)
        pos += ln
        out.append(" ".join(parts) + ".")
    return out


def documents(rng: np.random.Generator, n: int, zipf_a: float) -> pa.Table:
    ids = np.sort(rng.choice(ID_SPACE, size=n, replace=False)).astype(np.int64)
    # source popularity is skewed too (a few hosts hold most pages)
    sp = 1.0 / np.arange(1, len(SOURCES) + 1)
    src = rng.choice(len(SOURCES), size=n, p=sp / sp.sum())
    lang = rng.choice(len(LANGS), size=n, p=[0.55, 0.2, 0.15, 0.1])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "source": pa.array([SOURCES[i] for i in src], pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "text": pa.array(_texts(rng, n, zipf_a), pa.string()),
    })


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def page_url(source: str, doc_id: int) -> str:
    return f"https://corpus.test/{source}/{doc_id}"


_EPOCH = dt.datetime(2024, 1, 1)


def pages(docs: pa.Table) -> pa.Table:
    """Pages table (url, warc_ts, html, text, lang) from documents rows."""
    d = docs.to_pydict()
    urls, ts, html = [], [], []
    for doc_id, source, lang, text in zip(d["doc_id"], d["source"],
                                          d["lang"], d["text"]):
        did = str(doc_id)
        author = f"author-{doc_id % 1000}"
        jsonld = json.dumps({
            "id": "doc:" + did, "lang": lang, "source": source,
            "mentions": tokens(text)[:N_MENTIONS],
            "author": {"name": author},
        }, separators=(",", ":"))
        microdata = (
            '<div itemscope itemtype="https://schema.org/Article" '
            f'itemid="doc:{did}#article"><span itemprop="name">doc-{did}'
            '</span><link itemprop="isPartOf" '
            f'href="https://corpus.test/{source}"/></div>'
            '<div itemscope itemtype="https://schema.org/Person">'
            f'<span itemprop="name">{author}</span></div>'
        )
        rdfa = (
            f'<div about="doc:{did}" typeof="https://schema.org/WebPage">'
            '<span property="https://schema.org/inLanguage">'
            f'{lang}</span><a property="https://schema.org/publisher" '
            f'href="https://corpus.test/{source}">{source}</a></div>'
        )
        urls.append(page_url(source, doc_id))
        ts.append(_EPOCH + dt.timedelta(seconds=doc_id))
        html.append((
            '<html><head><script type="application/ld+json">' + jsonld
            + "</script></head><body>" + microdata + rdfa + "<p>"
            + _escape(text) + "</p></body></html>").encode("utf-8"))
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": docs.column("text"),
        "lang": docs.column("lang"),
    })


def write_parquet(table: pa.Table, path: str, files: int) -> str:
    """Write ``table`` as ``files`` parquet parts under directory
    ``path``, so a Spark scan starts with that many tasks."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for i, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{i:04d}.parquet"))
    return path


def corpus(seed: int, base: int, deltas: int = 0,
           delta_size: int = 0) -> Dict[str, object]:
    """Documents for one workload: ``base`` documents plus ``deltas``
    disjoint slices of ``delta_size`` documents, split by the seed."""
    rng = np.random.default_rng(seed)
    zipf_a = float(rng.uniform(1.0, 1.4))
    docs = documents(rng, base + deltas * delta_size, zipf_a)
    order = rng.permutation(docs.num_rows)
    base_docs = docs.take(np.sort(order[:base]))
    slices = [
        docs.take(np.sort(order[base + i * delta_size:
                                base + (i + 1) * delta_size]))
        for i in range(deltas)
    ]
    return {"zipf_a": zipf_a, "base": base_docs, "deltas": slices}


# ------------------------------------------------------------------ KBO


def orders(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    keys = np.sort(rng.choice(ID_SPACE, size=n, replace=False))
    return pa.table({"o_orderkey": pa.array(keys.astype(np.int64))})


def kbo_quads(keys: Sequence[int], inverse_edges: int = 2) -> pa.Table:
    """The quads of ``kgtriples.kbo_members(..., inverse_edges)`` for the
    given order keys, in the engine's quad layout."""
    ks = [str(k) for k in keys]
    ints = list(keys)
    m = ["m:" + k for k in ks]
    a = ["a:" + k for k in ks]
    n = len(ks)

    def const(v):
        return [v] * n

    # (subject, subject_kind, predicate, object_value, object_kind, dt)
    defs = [
        (m, 0, "rdf:type", const("kbo:legalEntity"), 0, None),
        (m, 0, "rdf:type", const("kbo:Enterprise"), 0, None),
        (m, 0, "kbo:isVersionOf", ["v:" + k for k in ks], 0, None),
        (m, 0, "kbo:companyStatus", const("kbo:JuridicalSituation_000"), 0,
         None),
        (m, 0, "kbo:companyType", const("kbo:JuridicalForm_014"), 0, None),
        (m, 0, "kbo:legalName", ["Company " + k for k in ks], 2, XSD_STRING),
        (m, 0, "kbo:registeredAddress", a, 1, None),
        (m, 0, "kbo:activity", [f"act:{k % 50}" for k in ints], 0, None),
        (m, 0, "kbo:activity", [f"act:{(k + 7) % 50}" for k in ints], 0,
         None),
        (m, 0, "kbo:activity", [f"act:{(k + 13) % 50}" for k in ints], 0,
         None),
        (m, 0, "kbo:establishment", ["e:" + k for k in ks], 0, None),
        (m, 0, "kbo:status", const("kbo:Status_AC"), 0, None),
        (a, 1, "kbo:fullAddress", ["Street " + k for k in ks], 2, XSD_STRING),
        (a, 1, "kbo:postCode", [str(k % 9999) for k in ints], 2, XSD_STRING),
    ]
    for j in range(inverse_edges):
        defs.append(([f"p:{k}:{j}" for k in ks], 0, "kbo:memberOf", m, 0,
                     None))
    cols: Dict[str, list] = {c: [] for c in (
        "subject", "subject_kind", "predicate", "object_value",
        "object_kind", "object_datatype")}
    for sub, sk, pred, obj, ok, dtype in defs:
        cols["subject"] += sub
        cols["subject_kind"] += [sk] * n
        cols["predicate"] += [pred] * n
        cols["object_value"] += obj
        cols["object_kind"] += [ok] * n
        cols["object_datatype"] += [dtype] * n
    rows = len(cols["subject"])
    nulls = pa.nulls(rows, pa.string())
    # interleave members across files: row i of every quad def together
    order = np.arange(rows).reshape(len(defs), n).T.ravel()
    return pa.table({
        "subject": pa.array(cols["subject"], pa.string()),
        "subject_kind": pa.array(cols["subject_kind"], pa.int8()),
        "predicate": pa.array(cols["predicate"], pa.string()),
        "object_value": pa.array(cols["object_value"], pa.string()),
        "object_kind": pa.array(cols["object_kind"], pa.int8()),
        "object_lang": nulls,
        "object_datatype": pa.array(cols["object_datatype"], pa.string()),
        "graph": nulls,
        "graph_kind": pa.nulls(rows, pa.int8()),
    }).take(order)


def kbo_members(keys: Sequence[int]) -> pa.Table:
    return pa.table({
        "entity": pa.array([f"m:{k}" for k in keys], pa.string()),
        "entity_kind": pa.array(np.zeros(len(keys), np.int8), pa.int8()),
        "input_idx": pa.array(np.asarray(keys, np.int64), pa.int64()),
    })
