"""Seeded input generator for the benchmark.

Documents follow the shape of the project's sf0.1 ``documents`` table:
word-soup texts of 10-100 words over the same 30-word vocabulary, five
languages, 20 sources keyed by ``doc_id % 20``.  The seed picks the
doc_ids (and with them the page shape ``build_html_doc`` derives from
each id: code, media, giant, SPA, SO, Reddit, PDF) and the texts.  A
share of documents are planted near-duplicates of an earlier document
(one word changed), on top of the clones the near-dup queries plant
themselves.

Every table is written once, under a directory unique to the seed and
the set-up repetition, and never rewritten: the query layer memoises
scans per path.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
# near-dup queries plant clones at doc_id + 1e6 / + 2e6; ids stay below
ID_SPACE = 900_000
NEAR_DUP_SHARE = 0.05

SHAPES = {
    "giant": lambda i: i % 97 == 0,
    "spa": lambda i: i % 31 == 0,
    "so": lambda i: i % 53 == 0,
    "reddit": lambda i: i % 59 == 0,
    "pdf": lambda i: i % 83 == 0 and i > 0,
    "code": lambda i: i % 7 == 0,
    "media": lambda i: i % 5 == 0 or i % 11 == 0,
}

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def documents(seed: int, n: int) -> list[dict]:
    """n documents, a pure function of (seed, n)."""
    rng = random.Random(seed)
    ids = sorted(rng.sample(range(1, ID_SPACE), n))
    rows: list[dict] = []
    for doc_id in ids:
        near_dup_of = None
        if rows and rng.random() < NEAR_DUP_SHARE:
            src = rng.choice(rows)
            near_dup_of = src["doc_id"]
            words = src["text"].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = rng.choices(VOCAB, k=rng.randint(10, 100))
        text = " ".join(words)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
                "source": f"src{doc_id % 20}",
                "n_chars": len(text),
                "near_dup_of": near_dup_of,
            }
        )
    return rows


def span_rows(docs: list[dict]) -> list[dict]:
    """The interleaved-span corpus, built exactly as
    ``sources.corpus.corpus_from_flat`` builds it."""
    from claude_readability_hook_spark.sources.corpus import build_html_doc

    out = []
    for d in docs:
        spans = build_html_doc(d["doc_id"], d["text"])
        out.append(
            {
                "doc_id": str(d["doc_id"]),
                "url": f"https://m.example.com/articles/{d['doc_id']}/amp?print=1",
                "host": "m.example.com",
                "n_bytes": sum(len(s["text"] or "") for s in spans),
                "spans": spans,
            }
        )
    return out


def span_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from claude_readability_hook_spark.schemas import DOCUMENTS

    return to_arrow_schema(DOCUMENTS)


def write_documents(docs: list[dict], sf_dir: str) -> str:
    """Write ``<sf_dir>/documents.parquet`` (the layout the query layer
    reads); refuses to overwrite."""
    os.makedirs(sf_dir, exist_ok=False)
    path = os.path.join(sf_dir, "documents.parquet")
    cols = DOC_SCHEMA.names
    pq.write_table(
        pa.Table.from_pylist([{c: d[c] for c in cols} for d in docs], schema=DOC_SCHEMA), path
    )
    return path


def write_spans(rows: list[dict], path: str) -> str:
    """Write the span corpus as one parquet file; refuses to overwrite."""
    if os.path.exists(path):
        raise FileExistsError(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=span_schema()), path)
    return path


def traffic(docs: list[dict]) -> dict:
    """Share of each page shape among the generated documents."""
    n = len(docs)
    out = {"docs": n}
    for name, pred in SHAPES.items():
        out[f"{name}_share"] = round(sum(1 for d in docs if pred(d["doc_id"])) / n, 4)
    out["near_dup_share"] = round(sum(1 for d in docs if d["near_dup_of"]) / n, 4)
    # the near-dup queries add clones of doc_id % 10 == 0 (and exact
    # copies of doc_id % 20 == 0) on top of the generated documents
    out["query_clone_share"] = round(sum(1 for d in docs if d["doc_id"] % 10 == 0) / n, 4)
    return out
