"""Unigram-LM (SentencePiece-style) tokenizer — the second production
tokenizer family next to BPE (operators/bpetrain.py): seed a candidate
vocabulary with substring counts, EM-iterate (Viterbi E-step, count
M-step), and encode with the final piece inventory.

Reference analog: none — the reference repo has no tokenizer
machinery; this is the LLM-data-pipeline brief (Kudo 2018's unigram LM
is the SentencePiece default; pretraining corpora ship with one).

Why this scales (the bpetrain discipline): every stage runs over the
DISTINCT-PRETOKEN table (pretoken, count) — vocabulary-bounded,
millions of rows at 100 TB where the corpus is trillions of tokens.
The piece vocabulary (smaller still) collects to the driver once per
EM round — the documented vocab-bounded collect, same as the BPE merge
table — and broadcasts into an Arrow-batched segmenter; usage counts
come back through one map-side-combined aggregation. Doc text is
scanned exactly once (the pretoken count pass); encode joins the
distinct-pretoken segmentations back by broadcast.

Cross-engine determinism (the oracle enumerates the same objective):
the repo's no-libm rule forbids log-probabilities (ln differs across
engines in the last ulp), so piece scores use the established INVERSE
probability in exact integer micro-units —

    cost_micro(piece) = (2·total·10⁶ + count) div (2·count)

(half-up of total/count, the lm_perplexity term shape) — and Viterbi
MINIMIZES the additive key

    (Σ cost_micro, n_pieces, boundary_mask)

where boundary_mask bit j−1 marks a piece boundary after character j
(1-based, j < len). The mask uniquely identifies a segmentation, so
the key is a total order with no float and no tie ambiguity; it is
also prefix-decomposable (suffix bits are disjoint-higher, costs and
piece counts add), so the DP argmin equals the global argmin an
enumeration oracle computes. Pretokens longer than _MASK_CAP chars
fall back to a char-by-char split (mask would overflow int64) — a
documented honest ceiling; real pretokens are short.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._pyworker import python_stage

MAX_PIECE_LEN = 6
UNK_COST_MICRO = 10**9
_MASK_CAP = 60

UNIGRAM_VOCAB_SCHEMA = "piece string, count long, cost_micro long"


def pretoken_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(pretoken, n): one row per DISTINCT lowercased whitespace
    pretoken with its corpus count — the working set every unigram
    stage iterates on (the word_symbol_table analog)."""
    from .textstats import vocabulary

    return vocabulary(df, min_count=1, lowercase=True, text_col=text_col).select(
        F.col("token").alias("pretoken"), "n"
    )


SEED_MAX_PRETOKEN_LEN = 64


def seed_piece_counts(
    pretokens: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    seed_max_pretoken_len: int = SEED_MAX_PRETOKEN_LEN,
) -> DataFrame:
    """(piece, count): every substring of length 1..max_piece_len of
    every pretoken, counted with OVERLAP and weighted by the
    pretoken's corpus count — the standard unigram seed inventory.
    One in-row expansion + one hash agg; the expansion factor is
    ≤ len·max_piece_len per distinct pretoken, so the intermediate is
    still vocabulary-bounded. Pretokens longer than
    seed_max_pretoken_len are excluded from SEEDING (a 100 KB
    base64 'word' in a crawl would otherwise expand to a
    600k-element in-row array); they still encode later through
    piece composition and the single-char fallback."""
    tok = F.col("pretoken")
    n = F.length(tok)
    pretokens = pretokens.filter(n <= seed_max_pretoken_len)
    pieces = F.filter(
        F.transform(
            F.sequence(F.lit(0), n * max_piece_len - 1),
            lambda x: F.when(
                (x % max_piece_len) + 1 <= n - (x / max_piece_len).cast("int"),
                tok.substr(
                    (x / max_piece_len).cast("int") + 1,
                    (x % max_piece_len) + 1,
                ),
            ),
        ),
        lambda p: p.isNotNull(),
    )
    return (
        pretokens.filter(n > 0)
        .select(F.explode(pieces).alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("count"))
    )


def piece_cost_micro(count: int, total: int) -> int:
    """The exact half-up micro-unit inverse probability — identical
    integer ops in Python, Spark `div` and DuckDB `//`."""
    return (2 * total * 10**6 + count) // (2 * count)


def viterbi_segment(
    pretoken: str,
    costs: dict[str, int],
    max_piece_len: int = MAX_PIECE_LEN,
    unk_cost: int = UNK_COST_MICRO,
) -> list[str]:
    """The canonical segmentation: argmin over all segmentations of
    (n_unks, Σ cost_micro, n_pieces, boundary_mask). Unknown SINGLE
    characters fall back to unk_cost (coverage guarantee on unseen
    input) but the unk COUNT leads the key, so a fully-in-vocab
    segmentation beats any unk-bearing one at ANY cost scale — which
    is exactly the enumeration an oracle replays over valid masks
    only (a trained corpus always has one). Unknown longer pieces are
    not candidates. Over-long pretokens (> _MASK_CAP) split
    char-by-char (the boundary mask would overflow int64)."""
    n = len(pretoken)
    if n == 0:
        return []
    if n > _MASK_CAP:
        return list(pretoken)
    # DP state holds only the 4-scalar comparison key; the winning
    # piece list is rebuilt from backpointers afterwards. Identical
    # output: the pieces never participated in the comparison, and an
    # exact 4-way tie implies the same boundary mask + piece count —
    # i.e. the same segmentation — so tie-keeping order is immaterial.
    best: list[tuple[int, int, int, int] | None] = [None] * (n + 1)
    back: list[int] = [0] * (n + 1)
    best[0] = (0, 0, 0, 0)
    get = costs.get
    for j in range(1, n + 1):
        cand = None
        cand_i = 0
        for i in range(max(0, j - max_piece_len), j):
            prev = best[i]
            if prev is None:
                continue
            c = get(pretoken[i:j])
            unk = 0
            if c is None:
                if j - i > 1:
                    continue
                c, unk = unk_cost, 1
            key = (
                prev[0] + unk,
                prev[1] + c,
                prev[2] + 1,
                prev[3] | ((1 << (i - 1)) if i > 0 else 0),
            )
            if cand is None or key < cand:
                cand = key
                cand_i = i
        best[j] = cand
        back[j] = cand_i
    assert best[n] is not None  # single-char fallback keeps it total
    pieces: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        pieces.append(pretoken[i:j])
        j = i
    pieces.reverse()
    return pieces


def _segment_pretokens(
    pretokens: DataFrame,
    costs: dict[str, int],
    max_piece_len: int,
) -> DataFrame:
    """(pretoken, n, pieces array<string>) via an Arrow-batched
    segmenter over the distinct-pretoken table; `costs` rides the
    task closure (piece-vocabulary-bounded, the BPE merge-ranks
    pattern)."""
    import pandas as pd

    def seg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            out = []
            for tok, n in zip(batch["pretoken"], batch["n"]):
                out.append(
                    {
                        "pretoken": tok,
                        "n": n,
                        "pieces": viterbi_segment(tok, costs, max_piece_len),
                    }
                )
            yield pd.DataFrame.from_records(
                out, columns=["pretoken", "n", "pieces"]
            )

    return pretokens.mapInPandas(
        python_stage(seg), schema="pretoken string, n long, pieces array<string>"
    )


def _collect_vocab(vocab_df: DataFrame) -> dict[str, int]:
    """piece → count; the per-round vocab-bounded driver collect."""
    return {r["piece"]: r["count"] for r in vocab_df.collect()}


def _costs_from_counts(counts: dict[str, int]) -> dict[str, int]:
    total = sum(counts.values())
    return {p: piece_cost_micro(c, total) for p, c in counts.items()}


SEED_TOP_K = 2_000_000  # seed-inventory cap: keeps the pre-EM collect
# genuinely vocabulary-bounded (real SentencePiece caps its seed the
# same way); single characters are always retained for coverage


def train_unigram(
    df: DataFrame,
    iterations: int = 2,
    max_piece_len: int = MAX_PIECE_LEN,
    top_k: int | None = None,
    text_col: str = "text",
    seed_top_k: int | None = SEED_TOP_K,
    pretokens: DataFrame | None = None,
) -> DataFrame:
    """(piece, count, cost_micro) — the trained unigram vocabulary:
    substring seed → `iterations` EM rounds (distributed Viterbi
    E-step over the distinct-pretoken table, usage-count M-step;
    pieces with zero usage drop out, which cannot strand a pretoken —
    its round-k segmentation only uses surviving pieces). top_k
    prunes to the k highest-count pieces by (count DESC, piece ASC)
    while ALWAYS retaining used single characters (coverage).

    seed_top_k caps the SEED collect (the one driver-unbounded spot
    the r8 audit flagged): the seed inventory keeps only the
    seed_top_k highest-count pieces (count DESC, piece ASC — a
    distributed TakeOrdered, never a single-task sort) plus ALL
    single characters, BEFORE anything reaches the driver. At crawl
    scale the uncapped inventory is every ≤max_piece_len substring of
    every distinct pretoken — 10⁸⁺ rows; with the cap the collect is
    ≤ seed_top_k + |alphabet| no matter the corpus. None disables.

    `pretokens` lets a caller that already materialized the distinct
    (pretoken, n) table (e.g. an encode pass over the same corpus)
    share it; ownership of its lifecycle stays with the caller."""
    spark = df.sparkSession
    own_pre = pretokens is None
    if own_pre:
        pre = pretoken_table(df, text_col=text_col).persist()
        pre.count()
    else:
        pre = pretokens
    seeds_df = seed_piece_counts(pre, max_piece_len)
    if seed_top_k is None:
        counts = _collect_vocab(seeds_df)
    else:
        counts = _collect_vocab(
            seeds_df.orderBy(F.col("count").desc(), "piece").limit(seed_top_k)
        )
        if len(counts) >= seed_top_k:
            # the cap actually bound — backfill ALL single characters
            # (coverage guarantee); when it did not bind, the top-k IS
            # the full inventory and the singles job is skipped
            counts.update(
                _collect_vocab(seeds_df.filter(F.length("piece") == 1))
            )
    for _ in range(iterations):
        usage_df = (
            _segment_pretokens(pre, _costs_from_counts(counts), max_piece_len)
            .select(F.explode("pieces").alias("piece"), "n")
            .groupBy("piece")
            .agg(F.sum("n").cast("long").alias("count"))
        )
        counts = _collect_vocab(usage_df)
    if top_k is not None:
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = dict(ranked[:top_k])
        kept.update(
            {p: c for p, c in counts.items() if len(p) == 1}
        )
        counts = kept
    if own_pre:
        pre.unpersist()
    total = sum(counts.values())
    rows = [
        (p, c, piece_cost_micro(c, total)) for p, c in sorted(counts.items())
    ]
    return spark.createDataFrame(rows, UNIGRAM_VOCAB_SCHEMA)


def save_unigram_artifact(
    vocab: DataFrame, root: str, retain_snapshots: int = 1
) -> int:
    """Publish the trained unigram vocabulary as a versioned tokenizer
    artifact — same manifest-snapshot protocol as save_bpe_artifact
    (exclusive-create publish, prior versions readable until expiry),
    kind='unigram' so a loader can tell the families apart. Returns
    the published version."""
    import posixpath

    from .ann_index import (
        _gc_previous_snapshots,
        _new_data_dir,
        _publish_manifest,
    )

    ddir = _new_data_dir()
    vocab.coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(root, ddir)
    )
    published = dict(kind="unigram", dirs=[ddir])
    published["version"] = _publish_manifest(root, published)
    _gc_previous_snapshots(root, published, retain=retain_snapshots)
    return published["version"]


def load_unigram_artifact(
    spark, root: str, version: int | None = None
) -> DataFrame:
    """Load a published unigram vocabulary (current snapshot, or
    `version` for time travel). Raises FileNotFoundError if nothing is
    published; ValueError if the artifact at `root` is a different
    tokenizer family (a BPE merge table is not a piece vocabulary)."""
    from .ann_index import current_manifest, read_index

    m = current_manifest(root, version)
    if m is None:
        raise FileNotFoundError(f"no published tokenizer artifact under {root}")
    if m.get("kind") != "unigram":
        raise ValueError(
            f"artifact under {root} is kind={m.get('kind')!r}, not 'unigram'"
        )
    return read_index(spark, root, m)


def unigram_encode_counts(
    df: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    text_col: str = "text",
    broadcast_segments: bool = True,
    pretokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, pieces_md5): each document's unigram token
    count and the md5 of its space-joined piece stream in document
    word order — the bpe_encode_counts analog.

    Plan shape: segment the DISTINCT pretokens once (Arrow batches,
    vocab in the closure), broadcast-join the segmentations back to
    the posexploded word stream, and fold per doc with an
    order-preserving sort_array — ONE doc_id shuffle carrying narrow
    (doc_id, pos, piece_str) rows, text scanned once. A caller that
    already holds the distinct (pretoken, n) table (e.g. right after
    training on the same corpus) passes it via `pretokens` to skip
    re-deriving it."""
    costs = _costs_from_counts(_collect_vocab(vocab.select("piece", "count")))
    pre = (
        pretokens
        if pretokens is not None
        else pretoken_table(df, text_col=text_col)
    )
    seg = _segment_pretokens(pre, costs, max_piece_len).select(
        F.col("pretoken").alias("w"),
        F.array_join("pieces", " ").alias("piece_str"),
        F.size("pieces").cast("long").alias("n_pieces"),
    )
    if broadcast_segments:
        seg = F.broadcast(seg)
    words = df.select(
        "doc_id",
        F.posexplode(
            F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
        ).alias("pos", "w"),
    )
    return (
        words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "piece_str"))
                        ),
                        lambda s: s["piece_str"],
                    ),
                    " ",
                )
            ).alias("pieces_md5"),
        )
    )


def unigram_fertility(
    df: DataFrame,
    vocab: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(group, n_docs, total_bytes, total_tokens,
    bytes_per_token_micro) — the unigram twin of
    bpetrain.tokenizer_fertility, same exact half-up micro ratio, so
    the two tokenizer families compare row-for-row on the same corpus
    (the merge-budget / data-mixture decision input)."""
    counts = unigram_token_counts(df, vocab, max_piece_len, text_col)
    tagged = df.select(
        "doc_id",
        F.col(group_col).alias("grp"),
        F.octet_length(F.col(text_col)).cast("long").alias("nb"),
    ).join(counts, "doc_id")
    return (
        tagged.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("total_bytes"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_bytes",
            "total_tokens",
            F.when(
                F.col("total_tokens") > 0,
                F.expr(
                    "(2 * total_bytes * 1000000 + total_tokens)"
                    " div (2 * total_tokens)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bytes_per_token_micro"),
        )
    )


def segment_words(
    words: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    word_col: str = "w",
) -> DataFrame:
    """(w, syms array<string>): Viterbi segmentations for a distinct
    word table under `vocab` — the unigram analog of
    bpetrain.trie_encode_word_symbol_arrays, feeding the packed
    symbol-stream exporter."""
    costs = _costs_from_counts(_collect_vocab(vocab.select("piece", "count")))
    pre = words.select(F.col(word_col).alias("pretoken"), F.lit(0).alias("n"))
    return _segment_pretokens(pre, costs, max_piece_len).select(
        F.col("pretoken").alias(word_col), F.col("pieces").alias("syms")
    )


def unigram_token_counts(
    df: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens) — the packing-budget feed (operators/
    packing.py sequence_pack(budget_col=...)): unigram token counts
    without the piece-stream fold, so the only shuffle is the doc_id
    sum."""
    costs = _costs_from_counts(_collect_vocab(vocab.select("piece", "count")))
    pre = pretoken_table(df, text_col=text_col)
    seg = F.broadcast(
        _segment_pretokens(pre, costs, max_piece_len).select(
            F.col("pretoken").alias("w"),
            F.size("pieces").cast("long").alias("n_pieces"),
        )
    )
    words = df.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("w"),
    )
    return (
        words.join(seg, "w")
        .groupBy("doc_id")
        .agg(F.sum("n_pieces").cast("long").alias("n_tokens"))
    )
