"""Cross-document boilerplate detection per source: the template-
stripping curation stage every crawl pipeline runs between extraction
and training-data export (C4 drops lines repeated across pages;
RefinedWeb / Dolma strip per-site nav/footer templates). The reference
removes WITHIN-page boilerplate structurally (nav/footer tags —
re-expressed in core/readability.py); this operator catches what DOM
heuristics cannot: prose-shaped templates ("subscribe to our
newsletter…") that repeat ACROSS a site's pages.

Signal definition (deterministic, engine-portable): a token n-gram is
boilerplate for a source when it appears in ≥ frac of that source's
documents (df-fraction compared by integer cross-multiplication — no
division) and the source has enough documents for the fraction to
mean anything. Each document is then scored by the share of its
n-gram POSITIONS covered by its source's boilerplate set — the
curation feature (high share ⇒ template-dominated page), gateable
like quality_keep_expr / domain gates.

Plan shape, sized for 10^12 docs:
  - DETECT: per-doc DISTINCT shingle hashes expand in-row; the one
    content-keyed shuffle aggregates (source, h64) rows — two int64s
    and a short string, never text. Per-source doc totals are a
    narrow groupBy joined back by broadcast (source cardinality ≪
    shingle cardinality).
  - SCORE: the boilerplate table is df-thresholded and therefore
    SMALL (templates are by definition few per source) — broadcast
    by default under the counted auto regime (the lmfilter
    discipline), so the doc side never shuffles on content: the only
    exchange carries (doc_id, partials) map-side-reduced rows.

Hashing: h32_expr (salted md5 prefix) — the repo's cross-engine hash
with an exact DuckDB twin, so the oracle replays detection and
scoring bit-for-bit. A within-source h32 collision would need ~2^16
distinct shingles per source to matter at the birthday bound; the
64-bit xxhash alternative has no DuckDB twin, and detection df-counts
tolerate rare collisions (they only ever INFLATE a df count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._pyworker import python_stage

BOILER_NGRAM = 5
BOILER_MIN_DOCS = 4  # sources smaller than this can't evidence a template
BOILER_FRAC_MICRO = 500_000  # n-gram is boilerplate at >= 50% doc-frequency
BOILER_BROADCAST_MAX_ROWS = 50_000_000  # lmfilter's counted-auto bound


def _doc_shingle_hashes(
    df: DataFrame, n: int, text_col: str, source_col: str
) -> DataFrame:
    """(doc_id, source, hs: array<long>) — every doc's positional
    n-gram hash sequence (tokens lowered, shingles joined by space,
    h32 per shingle).

    Runs as ONE mapInArrow stage: tokenization, shingling and the
    md5-prefix hash are a tight Python/hashlib loop per batch. The
    all-Column form it replaces built every shingle through
    interpreted higher-order lambdas (CodegenFallback) — measured
    4.3 s for a 50k-doc pass where this takes well under 1 s — and
    hashlib's md5 hex matches Spark's md5() byte-for-byte, so h32
    values are bit-identical. Zero shuffle either way: hashes are
    emitted where the text is read, only (ids, int64 arrays) leave
    the stage."""
    base = df.select(
        "doc_id", F.col(source_col).alias("source"), F.col(text_col).alias("t")
    )
    id_type = base.schema["doc_id"].dataType.simpleString()

    def hash_batches(batches):
        import re
        from hashlib import md5

        import pyarrow as pa

        # Java regex \s == [ \t\n\x0b\f\r] (ASCII-only, unlike
        # Python's Unicode-aware \s) — spell it out so tokenization
        # matches tokens_expr exactly
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for batch in batches:
            texts = batch.column("t").to_pylist()
            out: list[list[int]] = []
            for txt in texts:
                toks = [t for t in ws.split(txt.lower()) if t]
                if len(toks) >= n:
                    out.append(
                        [
                            int(
                                md5(
                                    " ".join(toks[i : i + n]).encode()
                                ).hexdigest()[:8],
                                16,
                            )
                            for i in range(len(toks) - n + 1)
                        ]
                    )
                else:
                    out.append([])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),  # caller's id type, verbatim
                    batch.column("source"),
                    pa.array(out, pa.list_(pa.int64())),
                ],
                names=["doc_id", "source", "hs"],
            )

    return base.mapInArrow(
        python_stage(hash_batches),
        schema=f"doc_id {id_type}, source string, hs array<long>",
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = BOILER_NGRAM,
    min_docs: int = BOILER_MIN_DOCS,
    frac_micro: int = BOILER_FRAC_MICRO,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source, sh_h, df_count, n_docs): the per-source boilerplate
    n-gram table — shingle hashes whose document frequency within
    their source clears frac_micro (integer cross-multiply:
    df_count·10^6 ≥ frac_micro·n_docs), restricted to sources with
    ≥ min_docs documents and df_count ≥ 2 (a template needs at least
    a second page). Output is small by construction — it feeds the
    scorer as a broadcast."""
    doc_sh = _doc_shingle_hashes(df, n, text_col, source_col)
    # distinct WITHIN doc first, in-row — df counts are per-document,
    # and the explode volume drops before the shuffle
    per_doc = doc_sh.select(
        "doc_id", "source", F.explode(F.array_distinct("hs")).alias("sh_h")
    )
    df_counts = per_doc.groupBy("source", "sh_h").agg(
        F.count("*").alias("df_count")
    )
    totals = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs")
    )
    return (
        df_counts.join(F.broadcast(totals), "source")
        .filter(
            (F.col("n_docs") >= min_docs)
            & (F.col("df_count") >= 2)
            & (
                F.col("df_count") * F.lit(1_000_000)
                >= F.lit(frac_micro) * F.col("n_docs")
            )
        )
        .select("source", "sh_h", "df_count", "n_docs")
    )


def boilerplate_scores(
    df: DataFrame,
    bp: DataFrame | None = None,
    n: int = BOILER_NGRAM,
    min_docs: int = BOILER_MIN_DOCS,
    frac_micro: int = BOILER_FRAC_MICRO,
    broadcast_bp: bool | None = None,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(doc_id, n_shingles, n_boiler, boiler_score) for EVERY doc —
    n_boiler counts the doc's n-gram positions (occurrences, not
    types) present in its source's boilerplate table; boiler_score is
    the half-up micro-unit position share as a double. Docs shorter
    than n tokens score 0.0 with n_shingles=0. Pass a pre-computed
    `bp` to amortize detection across scoring calls. broadcast_bp
    None = counted auto regime (explicit booleans pass through) —
    templates are few, so broadcast is the normal path and the doc
    side never shuffles; the escape hatch exists for a pathological
    table (same discipline as lmfilter._lm_broadcast_auto)."""
    if bp is None:
        # materialize detection ONCE: the auto-regime count below and
        # the broadcast build would otherwise each re-run the full
        # shingle-hash + df-count pipeline (a second corpus-sized pass
        # for a table that is small by construction)
        bp = boilerplate_ngrams(
            df, n, min_docs, frac_micro, text_col, source_col
        ).localCheckpoint(eager=True)
    if broadcast_bp is None:
        broadcast_bp = bp.count() <= BOILER_BROADCAST_MAX_ROWS
    if broadcast_bp:
        bp = F.broadcast(bp)
    positions = _doc_shingle_hashes(df, n, text_col, source_col).select(
        "doc_id", "source", F.explode_outer("hs").alias("sh_h")
    )
    hits = (
        positions.join(
            bp.select("source", "sh_h", F.lit(1).alias("is_bp")),
            ["source", "sh_h"],
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("sh_h").cast("long").alias("n_shingles"),
            F.coalesce(F.sum("is_bp"), F.lit(0)).cast("long").alias("n_boiler"),
        )
    )
    return hits.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.when(
            F.col("n_shingles") > 0,
            F.expr(
                "(2 * n_boiler * 1000000 + n_shingles) div (2 * n_shingles)"
            ).cast("double")
            / F.lit(1000000.0),
        )
        .otherwise(F.lit(0.0))
        .alias("boiler_score"),
    )
