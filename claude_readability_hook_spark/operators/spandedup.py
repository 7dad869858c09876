"""Duplicated-span removal: scrub token spans that recur across many
documents (C4 removes duplicated three-sentence spans; CCNet /
RefinedWeb drop corpus-frequent lines — the public method family).
Sentence/line structure isn't assumed: documents segment into
fixed-width token windows and any segment appearing in ≥ min_docs
DISTINCT documents is boilerplate, removed from every document.

Scale shape (the point — document text must cross the wire at most in
pieces, and only where unavoidable):

  1. segmentation is IN-ROW: tokens → non-overlapping seg_tokens-wide
     windows (trailing partial kept so text is fully covered), one
     O(tokens) pass per doc
  2. the frequency pass shuffles (md5(segment), doc-distinct) — hashes,
     never segment text, with map-side partial aggregation
  3. the blocklist (segments above threshold — heavy hitters, small by
     construction) BROADCASTS back against the exploded hashes to find
     per-doc drop indexes; the per-doc index sets aggregate on
     (doc_id, int) rows
  4. the final join puts the drop-index side against the docs table
     and reassembly is in-row again (filter the segment array by
     index, re-join). Join regime is explicit: the drop-index table
     has one row per AFFECTED document, so it broadcasts only while
     boilerplate touches a memory-bounded subset of the corpus
     (broadcast_drops=True, the default and the common case for
     targeted scrubs). Corpus-wide boilerplate at 10^12 docs makes
     that side too big to broadcast — broadcast_drops=False lets
     AQE pick, and the segmented text then shuffles ONCE on doc_id
     (the irreducible reassembly cost; co-located/bucketed storage on
     doc_id — sources/catalog.py's bucketed seam — removes even that
     exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._pyworker import python_stage
from .textcommon import tokens_expr

SEG_TOKENS = 10


def segments_expr(text, seg_tokens: int = SEG_TOKENS):
    """In-row segmentation: array of space-joined seg_tokens-wide
    windows (last one may be shorter). DuckDB twin:
      list_transform(range(0, cdiv(len(toks), W)),
                     i -> array_to_string(toks[W*i+1 : W*i+W], ' '))
    """
    def make(ts):
        n_segs = F.ceil(F.size(ts) / seg_tokens).cast("int")
        return F.when(
            F.size(ts) > 0,
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(ts, i * seg_tokens + 1, seg_tokens)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # array+transform let-trick: bind tokens once (CollapseProject would
    # otherwise re-split the text per segment — see textcommon)
    return F.transform(F.array(tokens_expr(text)), make)[0]


def frequent_segments(
    docs: DataFrame,
    min_docs: int = 3,
    seg_tokens: int = SEG_TOKENS,
    text_col: str = "text",
) -> DataFrame:
    """(seg_md5, n_docs) for segments in ≥ min_docs distinct docs —
    the boilerplate blocklist. Shuffle carries hashes only."""
    seg = (
        _doc_segments(docs, seg_tokens, text_col)
        .select("doc_id", F.explode("segs").alias("seg"))
        .select("doc_id", F.md5(F.col("seg")).alias("seg_md5"))
    )
    return (
        seg.groupBy("seg_md5")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_duplicated_spans(
    docs: DataFrame,
    min_docs: int = 3,
    seg_tokens: int = SEG_TOKENS,
    text_col: str = "text",
    broadcast_drops: bool = True,
) -> DataFrame:
    """(doc_id, clean_md5, n_segs, n_dropped): every corpus-frequent
    segment removed from every document, remaining segments re-joined
    in original order. clean_md5 hashes the scrubbed text (narrow
    output for the audit/oracle path; scrub_duplicated_spans below is
    the write-path variant returning the text itself)."""
    kept = _kept_segments(docs, min_docs, seg_tokens, text_col, broadcast_drops)
    return kept.select(
        "doc_id",
        F.md5(F.array_join(F.col("kept"), " ")).alias("clean_md5"),
        F.size("segs").cast("long").alias("n_segs"),
        F.size("di").cast("long").alias("n_dropped"),
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    min_docs: int = 3,
    seg_tokens: int = SEG_TOKENS,
    text_col: str = "text",
    broadcast_drops: bool = True,
) -> DataFrame:
    """(doc_id, text): the scrubbed text itself — the write-path twin
    of remove_duplicated_spans (same plan, same broadcast shape; the
    reassembled text stays on its scan partitions)."""
    kept = _kept_segments(docs, min_docs, seg_tokens, text_col, broadcast_drops)
    return kept.select("doc_id", F.array_join(F.col("kept"), " ").alias(text_col))


def _doc_segments(
    docs: DataFrame, seg_tokens: int, text_col: str
) -> DataFrame:
    """(doc_id, segs array<string>) — segments_expr's windows built in
    ONE mapInArrow stage (exact Java-\\s tokenizer clone, identical
    window arithmetic). The Column form is an interpreted
    higher-order-lambda chain (CodegenFallback) and this frame is
    referenced by three plan consumers (frequency, drops, reassembly),
    so the per-pass cost is paid up to 3× — native batches make each
    pass cheap instead of materializing anything."""
    base = docs.select("doc_id", F.col(text_col).alias("t"))
    id_type = base.schema["doc_id"].dataType.simpleString()

    def seg_batches(batches):
        import re

        import pyarrow as pa

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for batch in batches:
            texts = batch.column("t").to_pylist()
            out: list[list[str]] = []
            for txt in texts:
                toks = [t for t in ws.split(txt) if t]
                out.append(
                    [
                        " ".join(toks[i : i + seg_tokens])
                        for i in range(0, len(toks), seg_tokens)
                    ]
                )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),  # caller's id type, verbatim
                    pa.array(out, pa.list_(pa.string())),
                ],
                names=["doc_id", "segs"],
            )

    return base.mapInArrow(
        python_stage(seg_batches), schema=f"doc_id {id_type}, segs array<string>"
    )


def _kept_segments(
    docs: DataFrame,
    min_docs: int,
    seg_tokens: int,
    text_col: str,
    broadcast_drops: bool = True,
) -> DataFrame:
    with_segs = _doc_segments(docs, seg_tokens, text_col)
    exploded = with_segs.select(
        "doc_id",
        F.posexplode(F.col("segs")).alias("idx", "seg"),
    ).select("doc_id", "idx", F.md5(F.col("seg")).alias("seg_md5"))
    # the frequency pass and the drops pass share this exploded-hash
    # DEFINITION, but as two plan consumers they each re-segment the
    # scan (hashes only — no text moves twice; a persist() would trade
    # executor memory for the second pass and is not worth it at
    # hash-row sizes)
    block = (
        exploded.groupBy("seg_md5")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg_md5")
    )
    drops = (
        exploded.join(F.broadcast(block), "seg_md5")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("idx")).alias("drop_idxs"))
    )
    drops_side = F.broadcast(drops) if broadcast_drops else drops
    joined = with_segs.join(drops_side, "doc_id", "left").select(
        "doc_id",
        "segs",
        F.coalesce(F.col("drop_idxs"), F.array().cast("array<int>")).alias("di"),
    )
    kept = F.filter(
        F.col("segs"), lambda s, i: ~F.array_contains(F.col("di"), i.cast("int"))
    )
    return joined.select("doc_id", "segs", "di", kept.alias("kept"))
