"""Deterministic synthetic interleaved-span corpus.

The driver testdata ships a FLAT documents table (doc_id, text, lang,
source, n_chars); the interleaved-span table of BASELINE.json's
input_hint is ours to synthesize (FIXTURES.md §7). Two generators:

  - fixture_rows(): the golden fixture set — reference test fixtures
    re-encoded as span rows (FIXTURES.md §4/§5), for pytest goldens.
  - corpus_from_flat(spark, sf_dir): wraps every flat document's text
    into a deterministic HTML page (nav/header/article/footer/ads +
    interleaved code and media spans decided by doc_id), preserving
    the flat text as the recoverable main content. Fully distributed
    (column exprs + one generation UDF seeded by doc_id — no
    driver-side loops, no nondeterminism).

Everything is keyed on doc_id so regeneration is idempotent — the
property checkpoint-resume tests rely on.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .._pyworker import python_stage
from ..schemas import DOCUMENTS, local_frame

_NAV_HTML = (
    '<nav class="nav-menu"><ul>'
    '<li><a href="/">Home</a></li><li><a href="/about">About</a></li>'
    '<li><a href="/contact">Contact</a></li><li><a href="/archive">Archive</a></li>'
    "</ul></nav>"
)
_FOOTER_HTML = (
    '<footer class="site-footer"><p>Copyright 2025 Example Corp. All rights '
    'reserved.</p><div class="social"><a href="#">Twitter</a>'
    '<a href="#">Facebook</a></div></footer>'
)
_AD_HTML = (
    '<div class="advertisement"><a href="https://ads.example.com/click">'
    "Buy widgets now — limited offer!</a></div>"
)
_SIDEBAR_HTML = (
    '<aside class="sidebar"><h3>Related</h3><ul>'
    '<li><a href="/a">Related post one</a></li>'
    '<li><a href="/b">Related post two</a></li></ul></aside>'
)


def _sentences(text: str, per_para: int = 12) -> list[str]:
    """Deterministically split a word-soup text into paragraph chunks."""
    words = text.split()
    if not words:
        return []
    paras = []
    for i in range(0, len(words), per_para):
        chunk = " ".join(words[i : i + per_para])
        if chunk:
            paras.append(chunk + ".")
    return paras


def build_html_doc(doc_id: int, text: str) -> list[dict]:
    """One flat document → deterministic span list.

    doc_id decides the page shape: every 7th doc gets a code block,
    every 5th gets interleaved media spans, every 97th is a 'giant'
    (content repeated 40×) for the skew stripe, every 31st is an SPA
    shell (near-empty extraction → recall/low-score path), every 53rd
    carries SO JSON and every 59th Reddit JSON."""
    title = f"Document {doc_id}"
    paras = _sentences(text)
    body_paras = "".join(f"<p>{p}</p>" for p in paras)

    if doc_id % 53 == 0:
        so = {
            "question": {
                "items": [
                    {
                        "title": f"How to process doc {doc_id}?",
                        "body_markdown": f"Question body for doc {doc_id}.\n\n"
                        + (paras[0] if paras else ""),
                        "owner": {"display_name": f"asker{doc_id}"},
                    }
                ],
                "has_more": False,
            },
            "answers": {
                "items": [
                    {
                        "body_markdown": f"Answer one for {doc_id}. " + (paras[-1] if paras else ""),
                        "owner": {"display_name": f"ans{doc_id}a"},
                        "score": int(doc_id % 17),
                    },
                    {
                        "body": f"<p>Answer two for {doc_id}.</p>",
                        "owner": {"user_id": doc_id},
                        "score": int(doc_id % 7),
                    },
                ],
                "has_more": False,
            },
        }
        return [{"kind": "so_json", "text": json.dumps(so), "media_ref": "", "offset": 0}]

    if doc_id % 59 == 0:
        reddit = [
            {
                "data": {
                    "children": [
                        {
                            "kind": "t3",
                            "data": {
                                "title": f"Thread {doc_id}",
                                "selftext": paras[0] if paras else "Post body.",
                                "author": f"op{doc_id}",
                                "subreddit": "dataeng",
                            },
                        }
                    ]
                }
            },
            {
                "data": {
                    "children": [
                        {
                            "kind": "t1",
                            "data": {
                                "body": f"Comment A on {doc_id}.",
                                "author": f"u{doc_id}a",
                                "score": int(doc_id % 23),
                                "replies": "",
                            },
                        },
                        {
                            "kind": "t1",
                            "data": {
                                "body": f"Comment B on {doc_id}.",
                                "author": f"u{doc_id}b",
                                "score": int(doc_id % 11),
                                "replies": {
                                    "data": {
                                        "children": [
                                            {
                                                "kind": "t1",
                                                "data": {
                                                    "body": f"Reply to B on {doc_id}.",
                                                    "author": f"u{doc_id}c",
                                                    "score": 2,
                                                },
                                            }
                                        ]
                                    }
                                },
                            },
                        },
                    ]
                }
            },
        ]
        return [{"kind": "reddit_json", "text": json.dumps(reddit), "media_ref": "", "offset": 0}]

    if doc_id % 83 == 0 and doc_id > 0:  # REAL PDF span — round-trips
        # through the actual content-stream decoder (core/pdflayout.py
        # _decode_pdf), not the synthetic fallback. Every other PDF doc
        # (doc_id % 166 == 0) is FlateDecode-COMPRESSED, exercising the
        # zlib filter path; decoded text is identical either way, so
        # the flagship oracle needs no PDF-encoding case split.
        import base64

        from ..core.pdflayout import synthesize_pdf

        payload = synthesize_pdf(
            [
                [
                    (40, 100, 10, f"Pdf doc {doc_id} intro paragraph."),
                    (40, 300, 10, f"Pdf doc {doc_id} body paragraph."),
                ],
                [(40, 100, 10, f"Pdf doc {doc_id} closing page.")],
            ],
            compress=(doc_id % 166 == 0),
            # every real-PDF doc embeds one DCTDecode /Image XObject
            # (flat 16×16 gray, REAL JPEG bytes): the extractor lifts
            # it through the JPEG decoder into a media span, so each
            # PDF doc extracts as [text, media] — the flagship oracle's
            # n_spans case for %83 docs is 2, in lockstep
            images=[[[(doc_id * 7) % 256] * 16 for _ in range(16)]],
        )
        return [
            {
                "kind": "pdf",
                "text": base64.b64encode(payload).decode(),
                "media_ref": "",
                "offset": 0,
            }
        ]

    if doc_id % 31 == 0:  # SPA shell — triggers needs_ssr + recall/failure path
        html = (
            f"<html><head><title>{title}</title></head><body>"
            f'<div id="__next" data-reactroot=""></div>'
            f'<script id="__NEXT_DATA__" type="application/json">{{}}</script>'
            f"<script src=\"/_app-{doc_id}.js\"></script><script>hydrate()</script>"
            f"</body></html>"
        )
        return [{"kind": "html", "text": html, "media_ref": "", "offset": 0}]

    repeat = 40 if doc_id % 97 == 0 else 1  # giant-doc skew stripe
    code = ""
    if doc_id % 7 == 0:
        lines = "\n".join(f"value_{doc_id} = step({i})" for i in range(doc_id % 260 + 3))
        code = f'<pre><code class="language-python">{lines}</code></pre>'
    inline_img = ""
    if doc_id % 11 == 0:  # in-HTML media → exercises medialift at scale
        inline_img = (
            f'<img src="https://cdn.example.com/im/{doc_id}.jpg" '
            f'alt="Figure for document {doc_id}"/>'
        )

    article = (
        f"<article class=\"post-content\"><h1>{title}</h1>"
        + (body_paras + inline_img + code) * repeat
        + "</article>"
    )
    html = (
        f"<html><head><title>{title}</title>"
        f'<meta property="og:title" content="{title}"/></head>'
        f"<body>{_NAV_HTML}{_AD_HTML}{article}{_SIDEBAR_HTML}{_FOOTER_HTML}</body></html>"
    )
    spans = [{"kind": "html", "text": html, "media_ref": "", "offset": 0}]
    if doc_id % 5 == 0:
        spans.append(
            {"kind": "media", "text": "", "media_ref": f"img:{doc_id}", "offset": 1}
        )
        spans.append(
            {
                "kind": "text",
                "text": f"Figure caption for image {doc_id}, long enough to survive.",
                "media_ref": "",
                "offset": 2,
            }
        )
    return spans


def corpus_from_flat(spark: SparkSession, sf_dir: str, repartition: int | None = None) -> DataFrame:
    """Flat documents.parquet → interleaved-span DOCUMENTS table.

    Distributed and deterministic: span construction is a pandas-UDF
    over (doc_id, text) with no RNG and no wall-clock."""
    flat = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if repartition:
        flat = flat.repartition(repartition)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                spans = build_html_doc(int(doc_id), text or "")
                rows.append(
                    {
                        "doc_id": str(doc_id),
                        "url": f"https://m.example.com/articles/{doc_id}/amp?print=1",
                        "host": "m.example.com",
                        "n_bytes": sum(len(s["text"] or "") for s in spans),
                        "spans": spans,
                    }
                )
            yield pd.DataFrame.from_records(rows)

    return flat.mapInPandas(python_stage(gen), schema=DOCUMENTS)


# ---------------------------------------------------------------------------
# Golden fixtures (FIXTURES.md §4/§5) as plain rows for pytest
# ---------------------------------------------------------------------------

FIXTURE_SIMPLE_HTML = (
    "<!DOCTYPE html><html><head><title>Test Article</title></head><body>"
    "<h1>Simple Article</h1><p>This is a simple test article with some content "
    "that should be extracted properly.</p></body></html>"
)

FIXTURE_CODE_HTML = (
    "<html><head><title>Code Post</title></head><body><article>"
    "<p>Intro paragraph that clearly has enough words to be kept as content.</p>"
    '<pre><code class="language-python">' + "\n".join(f"line {i}" for i in range(250)) + "</code></pre>"
    "<p>Outro paragraph that also clearly has enough words to be kept.</p>"
    "</article></body></html>"
)

FIXTURE_SPA_HTML = (
    '<html><head><title>SPA</title></head><body><div id="__next" data-reactroot="">'
    '</div><script id="__NEXT_DATA__" type="application/json">{}</script>'
    "<script>hydrate()</script></body></html>"
)

FIXTURE_SIMPLE_ARTICLE_HTML = (
    "<html><head><title>Example Title</title></head><body><article>"
    "<h1>Example Title</h1><p>Hello world. This is a sample content.</p>"
    "</article></body></html>"
)

FIXTURE_AMP_HTML = (
    '<html amp><head><title>AMP Page</title></head><body>'
    '<amp-img src="x.jpg" width="100" height="100"></amp-img>'
    "<h1>AMP Article</h1><p>Real article content on an AMP page, long enough "
    "to extract, with commas, and more words following.</p></body></html>"
)

FIXTURE_NOSCRIPT_HTML = (
    "<html><head><title>Noscript Heavy</title></head><body><noscript>"
    + "".join("<p>Content line</p>" for _ in range(100))
    + "</noscript><script>boot()</script></body></html>"
)

FIXTURE_BOILERPLATE_HTML = (
    "<html><head><title>Boilerplate Rich</title></head><body>"
    '<nav class="main-nav"><a href="/">Home</a><a href="/b">Blog</a></nav>'
    '<div class="advertisement"><a href="#ad">Click this amazing offer now</a></div>'
    '<article class="post-body"><h1>The Actual Story</h1>'
    "<p>First real paragraph of the story, with commas, and substance enough.</p>"
    '<script>trackPageView()</script>'
    "<p>Second real paragraph continuing the argument, also long enough.</p>"
    "</article>"
    '<aside class="sidebar"><ul><li><a href="/r1">Related A</a></li></ul></aside>'
    '<div class="comments"><p>First! Great post!!</p></div>'
    '<footer class="site-footer"><p>Copyright 2025. All rights reserved.</p></footer>'
    "</body></html>"
)


def fixture_rows() -> list[dict]:
    """Span-encoded fixture documents for golden tests."""
    return [
        {
            "doc_id": "simple",
            "url": "https://www.example.com/simple",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_SIMPLE_HTML),
            "spans": [
                {"kind": "html", "text": FIXTURE_SIMPLE_HTML, "media_ref": "", "offset": 0}
            ],
        },
        {
            "doc_id": "with_code_block",
            "url": "https://www.example.com/code",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_CODE_HTML),
            "spans": [
                {"kind": "html", "text": FIXTURE_CODE_HTML, "media_ref": "", "offset": 0}
            ],
        },
        {
            "doc_id": "interleaved_media",
            "url": "https://www.example.com/media",
            "host": "www.example.com",
            "n_bytes": 120,
            "spans": [
                {
                    "kind": "text",
                    "text": "Opening paragraph before the first image, with words.",
                    "media_ref": "",
                    "offset": 0,
                },
                {"kind": "media", "text": "", "media_ref": "img:1", "offset": 1},
                {
                    "kind": "text",
                    "text": "Middle paragraph between the two images, with words.",
                    "media_ref": "",
                    "offset": 2,
                },
                {"kind": "media", "text": "", "media_ref": "img:2", "offset": 3},
                {
                    "kind": "text",
                    "text": "Closing paragraph after the final image, with words.",
                    "media_ref": "",
                    "offset": 4,
                },
            ],
        },
        {
            "doc_id": "spa_markers",
            "url": "https://www.example.com/spa",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_SPA_HTML),
            "spans": [
                {"kind": "html", "text": FIXTURE_SPA_HTML, "media_ref": "", "offset": 0}
            ],
        },
        {
            "doc_id": "empty_whitespace",
            "url": "https://www.example.com/empty",
            "host": "www.example.com",
            "n_bytes": 10,
            "spans": [{"kind": "html", "text": "   \n  \t  ", "media_ref": "", "offset": 0}],
        },
        {
            "doc_id": "simple_article",
            "url": "https://www.example.com/simple-article",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_SIMPLE_ARTICLE_HTML),
            "spans": [
                {"kind": "html", "text": FIXTURE_SIMPLE_ARTICLE_HTML, "media_ref": "", "offset": 0}
            ],
        },
        {
            "doc_id": "amp_page",
            "url": "https://www.example.com/story/amp",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_AMP_HTML),
            "spans": [{"kind": "html", "text": FIXTURE_AMP_HTML, "media_ref": "", "offset": 0}],
        },
        {
            "doc_id": "heavy_noscript",
            "url": "https://www.example.com/noscript",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_NOSCRIPT_HTML),
            "spans": [
                {"kind": "html", "text": FIXTURE_NOSCRIPT_HTML, "media_ref": "", "offset": 0}
            ],
        },
        {
            "doc_id": "boilerplate_rich",
            "url": "https://www.example.com/story",
            "host": "www.example.com",
            "n_bytes": len(FIXTURE_BOILERPLATE_HTML),
            "spans": [
                {"kind": "html", "text": FIXTURE_BOILERPLATE_HTML, "media_ref": "", "offset": 0}
            ],
        },
        {
            "doc_id": "so_thread",
            "url": "https://stackoverflow.com/questions/42/how-to-foo",
            "host": "stackoverflow.com",
            "n_bytes": 400,
            "spans": [
                {
                    "kind": "so_json",
                    "text": json.dumps(
                        {
                            "question": {
                                "items": [
                                    {
                                        "title": "How to foo in bar?",
                                        "body_markdown": "I want to foo.",
                                        "owner": {"display_name": "asker01", "user_id": 111},
                                    }
                                ],
                                "has_more": False,
                            },
                            "answers": {
                                "items": [
                                    {
                                        "body_markdown": "Use foo().",
                                        "owner": {"display_name": "answerer1"},
                                        "score": 5,
                                    },
                                    {
                                        "body": "<p>Another HTML answer</p>",
                                        "owner": {"user_id": 222},
                                        "score": 2,
                                    },
                                ],
                                "has_more": False,
                            },
                        }
                    ),
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        },
        {
            "doc_id": "reddit_thread",
            "url": "https://www.reddit.com/r/test/comments/abc123/sample/",
            "host": "www.reddit.com",
            "n_bytes": 500,
            "spans": [
                {
                    "kind": "reddit_json",
                    "text": json.dumps(
                        [
                            {
                                "data": {
                                    "children": [
                                        {
                                            "kind": "t3",
                                            "data": {
                                                "title": "Sample Reddit Thread",
                                                "selftext": "Top post body",
                                                "author": "op",
                                                "subreddit": "test",
                                            },
                                        }
                                    ]
                                }
                            },
                            {
                                "data": {
                                    "children": [
                                        {
                                            "kind": "t1",
                                            "data": {
                                                "body": "Top comment 1",
                                                "score": 10,
                                                "author": "u1",
                                                "replies": "",
                                            },
                                        },
                                        {
                                            "kind": "t1",
                                            "data": {
                                                "body": "Top comment 2",
                                                "score": 5,
                                                "author": "u2",
                                                "replies": {
                                                    "data": {
                                                        "children": [
                                                            {
                                                                "kind": "t1",
                                                                "data": {
                                                                    "body": "reply A",
                                                                    "score": 2,
                                                                    "author": "u3",
                                                                },
                                                            }
                                                        ]
                                                    }
                                                },
                                            },
                                        },
                                    ]
                                }
                            },
                        ]
                    ),
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        },
    ]


def fixtures_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, fixture_rows(), DOCUMENTS)
