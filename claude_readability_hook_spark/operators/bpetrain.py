"""BPE merge-table training (Sennrich-style byte-pair encoding) as a
driver-coordinated iterative Spark job — the tokenizer-training stage
downstream of textstats.vocabulary/bigrams (which SURVEY §11 labels
the "BPE merge-candidate precursor"; this closes the loop and emits
an actual merge table).

Reference analog: none — the reference repo has no tokenizer
machinery; this is the LLM-data-pipeline brief (every pretraining
corpus ships with a tokenizer trained on it).

Why this scales: classic BPE (count pairs → merge argmax → repeat)
looks corpus-sized, but the loop runs over the DISTINCT-WORD table
(word, count) — vocabulary-bounded, shrinking-ish, millions of rows
at 100 TB where the corpus is trillions of tokens. The plan per merge
round is: one in-row pair expansion + a vocab-bounded hash agg + a
driver-side top-1 (k rows total collect to the driver across the
whole run) + an in-row string rewrite. Same driver-coordinated
iterative family as dedup.connected_components; rounds are
corpus-size-independent after the first vocabulary pass.

Cross-engine determinism (the oracle unrolls the same rounds in
DuckDB CTEs): the merge application must be EXACT leftmost
non-overlapping — Sennrich merge order. A plain space-separated
symbol string breaks that: replacing " a b " in " a b a b " consumes
the SHARED middle space, so the second occurrence is missed. Instead
each symbol is wrapped as " sym<TAB>" (space prefix, tab suffix, both
part of the token): occurrences of " a\\t b\\t" never share
characters, so one literal replace() — identical left-to-right
non-overlap semantics in Java and DuckDB — applies the merge exactly
like the reference BPE scan (runs: "aaaaa" + (a,a) → [aa, aa, a]).
Symbols originate from whitespace-split words, so they can never
contain space or tab. Tie-break: highest pair count, then the
lexicographically smallest "lhs rhs" string — total order, no RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._pyworker import python_stage
from .textcommon import tokens_expr
from .textstats import vocabulary

END_OF_WORD = "</w>"


def _wrap_sym_expr(word: F.Column) -> F.Column:
    """word → its wrapped symbol string: ' c\\t' per char + the
    end-of-word marker."""
    chars = F.filter(F.split(word, ""), lambda c: c != F.lit(""))
    with_marker = F.concat(chars, F.array(F.lit(END_OF_WORD)))
    return F.concat_ws(
        "", F.transform(with_marker, lambda c: F.concat(F.lit(" "), c, F.lit("\t")))
    )


def _symbols_expr(sym: F.Column) -> F.Column:
    """Wrapped symbol string → symbol array (drop the wrappers)."""
    # explicit one-arg lambda: F.ltrim has an optional second param, so
    # passing it bare makes transform() feed the array index into it
    return F.transform(
        F.filter(F.split(sym, "\t"), lambda x: x != F.lit("")),
        lambda x: F.ltrim(x),
    )


def _pairs_expr(ts: F.Column) -> F.Column:
    n1 = F.greatest(F.size(ts) - 1, F.lit(0))
    return F.zip_with(
        F.slice(ts, 1, n1),
        F.slice(ts, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(sym, n): one row per DISTINCT lowercased word with its corpus
    count and its wrapped initial symbol string — the working set the
    merge loop iterates on."""
    words = vocabulary(df, min_count=1, lowercase=True, text_col=text_col)
    return words.select(_wrap_sym_expr(F.col("token")).alias("sym"), "n")


def learn_bpe_merges(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    checkpoint_every: int = 3,
) -> DataFrame:
    """Run k merge rounds and return the merge table as a DataFrame
    (merge_rank, lhs, rhs, merged, pair_count) — k driver-side rows
    total (the documented tiny driver collect of this operator; the
    per-round top-1 is a TakeOrdered over the vocab-bounded pair
    agg). localCheckpoint every few rounds keeps the iterative plan
    from re-deriving all prior rewrites (the dedup_clusters lineage
    discipline)."""
    return _learn_merges_loop(
        df.sparkSession, word_symbol_table(df, text_col), k, checkpoint_every
    )


def _learn_merges_loop(
    spark: SparkSession,
    syms: DataFrame,
    k: int,
    checkpoint_every: int,
) -> DataFrame:
    """The symbol-agnostic merge loop shared by the char-level and
    byte-level trainers: syms is any (sym, n) wrapped-symbol table —
    the loop never looks inside a symbol, so the same pair-count /
    top-1 / literal-replace rounds train either alphabet."""
    return _learn_merges_loop_with_table(spark, syms, k, checkpoint_every)[0]


def _learn_merges_loop_with_table(
    spark: SparkSession,
    syms: DataFrame,
    k: int,
    checkpoint_every: int,
) -> tuple[DataFrame, DataFrame]:
    """_learn_merges_loop, plus the trainer's FINAL (sym, n) table —
    every distinct word/pretoken with all k merges already applied.
    Train-then-encode consumers reuse it instead of re-scanning the
    corpus for a distinct table and re-encoding it (r9): the final
    state IS the exact Sennrich apply result, by construction."""
    merges: list[tuple[int, str, str, str, int]] = []
    # materialize the initial symbol table ONCE before round 1: without
    # this, every pre-checkpoint round's collect replays the corpus
    # tokenize + vocabulary agg that derives it (3-4 full corpus scans
    # for the default checkpoint_every=3) — the round loop itself is
    # vocabulary-bounded and should never re-touch the corpus
    syms = syms.localCheckpoint(eager=True)
    for rank in range(1, k + 1):
        pair_counts = (
            syms.select(
                F.explode(_pairs_expr(_symbols_expr(F.col("sym")))).alias("pair"),
                "n",
            )
            .groupBy("pair")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        top = pair_counts.orderBy(F.col("cnt").desc(), "pair").limit(1).collect()
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        lhs, rhs = pair.split(" ", 1)
        merged = lhs + rhs
        merges.append((rank, lhs, rhs, merged, cnt))
        syms = syms.withColumn(
            "sym",
            F.replace(
                F.col("sym"),
                F.lit(f" {lhs}\t {rhs}\t"),
                F.lit(f" {merged}\t"),
            ),
        )
        if rank % checkpoint_every == 0:
            syms = syms.localCheckpoint()
    return (
        spark.createDataFrame(
            merges,
            "merge_rank long, lhs string, rhs string, merged string, pair_count long",
        ),
        syms,
    )


def learn_bpe_merges_and_table(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    checkpoint_every: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """learn_bpe_merges plus the trainer's final (sym, n) table (every
    distinct lowercased word, all merges applied). A train-then-encode
    consumer over the SAME corpus should take the table instead of
    re-deriving a distinct-word frame and re-encoding it: the wrapped
    symbol string is exactly invertible to its word (symbols never
    contain space/tab; the </w> marker is the fixed tail), so the
    extra corpus scan AND the per-word re-encode pass are pure waste —
    the final state is the exact Sennrich apply result already."""
    return _learn_merges_loop_with_table(
        df.sparkSession, word_symbol_table(df, text_col), k, checkpoint_every
    )


def _strip_wrappers_expr(sym: F.Column) -> F.Column:
    """Wrapped symbol string → bare symbol concatenation (drop every
    ' ' prefix and '\\t' suffix — neither can occur inside a symbol)."""
    return F.replace(F.replace(sym, F.lit(" "), F.lit("")), F.lit("\t"), F.lit(""))


def _n_syms_expr(sym: F.Column) -> F.Column:
    """Symbol count of a wrapped symbol string: one '\\t' per symbol."""
    return (
        F.length(sym) - F.length(F.replace(sym, F.lit("\t"), F.lit("")))
    ).cast("long")


def _unwrap_word_expr(sym: F.Column) -> F.Column:
    """Invert _wrap_sym_expr: strip wrappers, drop the trailing
    END_OF_WORD marker. Exact even for words containing '</w>' — the
    marker is always the appended tail."""
    s = _strip_wrappers_expr(sym)
    return F.substr(s, F.lit(1), F.length(s) - F.lit(len(END_OF_WORD)))


def trained_word_counts(final_syms: DataFrame) -> DataFrame:
    """(w, n_sym) from the trainer's final table — the broadcast side
    bpe_encode_counts needs, with zero corpus scans and no re-encode."""
    return final_syms.select(
        _unwrap_word_expr(F.col("sym")).alias("w"),
        _n_syms_expr(F.col("sym")).alias("n_sym"),
    )


def trained_word_symbol_arrays(final_syms: DataFrame) -> DataFrame:
    """(w, syms) from the trainer's final table — what the symbol-
    stream materialization broadcast-joins back to doc words."""
    return final_syms.select(
        _unwrap_word_expr(F.col("sym")).alias("w"),
        _symbols_expr(F.col("sym")).alias("syms"),
    )


def bpe_encode_counts_trained(
    df: DataFrame,
    final_syms: DataFrame,
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """bpe_encode_counts when the merge table was just trained on the
    SAME corpus: identical output, but the (w, n_sym) side comes from
    the trainer's final symbol table instead of a fresh distinct-word
    scan + re-encode (one corpus scan and one Python encode pass
    saved — r9)."""
    return _counts_from_word_symbols(
        _doc_words(df, text_col), trained_word_counts(final_syms), broadcast_vocab
    )


def apply_merges_expr(word: F.Column, merges: list[tuple[str, str]]) -> F.Column:
    """Wrapped-encode `word`, then apply the learned merges IN RANK
    ORDER as chained literal replaces — pure codegen, no Python per
    row; returns the final symbol ARRAY. The merge list is driver-side
    (k entries, the trained artifact) exactly like IVF centroids ride
    as literals."""
    sym = _wrap_sym_expr(word)
    for lhs, rhs in merges:
        sym = F.replace(
            sym, F.lit(f" {lhs}\t {rhs}\t"), F.lit(f" {lhs}{rhs}\t")
        )
    return _symbols_expr(sym)


def _doc_words(df: DataFrame, text_col: str) -> DataFrame:
    toks = F.transform(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")),
        F.lower,
    )
    return df.select("doc_id", toks.alias("ws"))


def _counts_from_word_symbols(
    words: DataFrame, word_syms: DataFrame, broadcast_vocab: bool
) -> DataFrame:
    """Join a (w, n_sym) DISTINCT-word symbol-count table back to the
    exploded doc words and reduce per doc. The doc text never carries
    past the explode; the vocab side broadcasts by default (it is
    vocabulary-bounded, like the LM count tables) with the shuffle-join
    regime behind the knob — the lmfilter broadcast_lm pattern."""
    if broadcast_vocab:
        word_syms = F.broadcast(word_syms)
    exploded = words.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.explode_outer("ws").alias("w"),
    )
    return (
        exploded.join(word_syms, ["w"], "left")
        .groupBy("doc_id", "n_words")
        .agg(F.coalesce(F.sum("n_sym"), F.lit(0)).cast("long").alias("n_bpe_symbols"))
        .select("doc_id", "n_words", "n_bpe_symbols")
    )


def bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(doc_id, n_words, n_bpe_symbols): re-tokenize every doc with the
    learned merge table — the real token budget a BPE tokenizer with
    these merges would charge (n_bpe_symbols counts the end-of-word
    markers, one per word, matching the </w> alphabet convention).

    Scale shape (r5 verdict fix): the merge chain runs over the
    DISTINCT-word table ONCE — vocabulary-bounded, exactly the
    discipline the training loop already proves — and the resulting
    (word, n_sym) table broadcast-joins back to the exploded doc
    words. O(vocab × k) merge work instead of O(corpus tokens × k);
    the per-doc reduction is a map-side-combined (doc_id, partial)
    agg, so document text never shuffles."""
    words = _doc_words(df, text_col)
    word_syms = (
        words.select(F.explode("ws").alias("w"))
        .distinct()
        .select(
            "w",
            F.size(apply_merges_expr(F.col("w"), merges)).cast("long").alias("n_sym"),
        )
    )
    return _counts_from_word_symbols(words, word_syms, broadcast_vocab)


def encode_word_symbols(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Priority-merge BPE encode of ONE word (plus the </w> marker):
    repeatedly pick the lowest-rank adjacent pair present and merge ALL
    its leftmost non-overlapping occurrences — EXACT Sennrich apply
    semantics — via a rank-keyed heap + per-rank candidate positions
    over a linked symbol list. O(len·log len), independent of
    merge-table size (the property the chained-replace expression
    cannot have: its cost and its expression-tree size are both linear
    in k). Candidate entries are lazily invalidated: symbols only ever
    grow, so a stale position can never spuriously re-match its pair.
    Completing each rank's sweep before re-popping the heap reproduces
    the reference's per-iteration re-scan exactly (a merge can never
    create a new occurrence of its own pair: lhs+rhs equals neither
    lhs nor rhs)."""
    syms = list(word)
    syms.append(END_OF_WORD)
    return _heap_merge_symbols(syms, ranks)


def encode_pretoken_byte_symbols(
    pretoken: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """The byte-level twin: heap priority-merge over the pretoken's
    UTF-8 bytes as hex-pair symbols (no end-of-word marker — the
    space marker carries the boundary role, the GPT-2 convention).
    Same any-k property as encode_word_symbols."""
    h = pretoken.encode("utf-8").hex().upper()
    return _heap_merge_symbols(
        [h[i : i + 2] for i in range(0, len(h), 2)], ranks
    )


def _heap_merge_symbols(
    syms: list[str], ranks: dict[tuple[str, str], int]
) -> list[str]:
    import heapq

    n = len(syms)
    if n < 2:
        return syms
    pair_of: dict[int, tuple[str, str]] = {r: p for p, r in ranks.items()}
    nxt = list(range(1, n + 1))
    alive = [True] * n
    heap: list[int] = []
    pending: dict[int, list[int]] = {}  # rank -> candidate left positions

    def push(i: int, j: int) -> None:
        r = ranks.get((syms[i], syms[j]))
        if r is None:
            return
        if r not in pending:
            pending[r] = []
            heapq.heappush(heap, r)
        pending[r].append(i)

    prev = list(range(-1, n - 1))
    for i in range(n - 1):
        push(i, i + 1)
    while heap:
        r = heapq.heappop(heap)
        lhs, rhs = pair_of[r]
        for i in sorted(pending.pop(r)):
            j = nxt[i]
            if not alive[i] or j >= n or not alive[j]:
                continue
            if syms[i] != lhs or syms[j] != rhs:
                continue  # stale candidate
            syms[i] += syms[j]
            alive[j] = False
            k = nxt[j]
            nxt[i] = k
            if k < n:
                prev[k] = i
                push(i, k)
            p = prev[i]
            if p >= 0:
                push(p, i)
    return [syms[i] for i in range(n) if alive[i]]


def merge_ranks(merges: DataFrame) -> dict[tuple[str, str], int]:
    """Driver-side rank dict from the trained merge DataFrame — the
    tokenizer ARTIFACT collect (≤ vocab-size rows, the table you would
    ship as tokenizer.json; same contract as IVF centroids riding the
    manifest)."""
    return {
        (r["lhs"], r["rhs"]): int(r["merge_rank"])
        for r in merges.select("merge_rank", "lhs", "rhs").collect()
    }


def trie_encode_word_counts(
    distinct_words: DataFrame, merges: DataFrame, word_col: str = "w"
) -> DataFrame:
    """(w, n_sym) over a DISTINCT-word table via Arrow-batched
    mapInPandas — the real-merge-table encode path: takes the learned
    merge DataFrame (any k, 30k+ included), ships the rank dict as a
    broadcast variable, and runs the heap encoder per distinct word.
    No Catalyst expression grows with k; differential-tested against
    apply_merges_expr at k=8 and the pure-Python Sennrich reference at
    k=1000 (tests/test_bpetrain.py)."""
    from typing import Iterator

    import pandas as pd

    spark = distinct_words.sparkSession
    bc = spark.sparkContext.broadcast(merge_ranks(merges))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf[word_col],
                    "n_sym": [
                        len(encode_word_symbols(w, ranks)) for w in pdf[word_col]
                    ],
                }
            )

    return distinct_words.mapInPandas(python_stage(enc), "w string, n_sym long")


def trie_encode_word_symbol_arrays(
    distinct_words: DataFrame, merges: DataFrame, word_col: str = "w"
) -> DataFrame:
    """(w, syms: array<string>) — the heap encoder's FULL symbol
    output per distinct word (not just the count): what the
    symbol-stream materialization (packing.pack_bpe_symbol_records)
    broadcast-joins back to doc words. Same mapInPandas shape and the
    same any-k merge-DataFrame contract as trie_encode_word_counts."""
    from typing import Iterator

    import pandas as pd

    spark = distinct_words.sparkSession
    bc = spark.sparkContext.broadcast(merge_ranks(merges))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf[word_col],
                    "syms": [
                        encode_word_symbols(w, ranks) for w in pdf[word_col]
                    ],
                }
            )

    return distinct_words.mapInPandas(python_stage(enc), "w string, syms array<string>")


def save_bpe_artifact(
    merges: DataFrame, root: str, retain_snapshots: int = 1
) -> int:
    """Publish the trained merge table as a versioned tokenizer
    ARTIFACT (the tokenizer.json analog): merge rows as parquet under
    a manifest snapshot, committed through the same exclusive-create
    protocol as the ANN indexes — retraining publishes the next
    version, prior versions stay readable until expiry (time travel
    over tokenizer revisions, the reproducibility story a training
    pipeline needs). Returns the published version."""
    import posixpath

    from .ann_index import (
        _gc_previous_snapshots,
        _new_data_dir,
        _publish_manifest,
    )

    ddir = _new_data_dir()
    merges.coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(root, ddir)
    )
    published = dict(kind="bpe", dirs=[ddir])
    published["version"] = _publish_manifest(root, published)
    _gc_previous_snapshots(root, published, retain=retain_snapshots)
    return published["version"]


def load_bpe_artifact(spark, root: str, version: int | None = None) -> DataFrame:
    """Load a published merge table (current snapshot, or `version`
    for time travel). Raises FileNotFoundError if nothing is
    published — callers treat that as 'train now'."""
    from .ann_index import current_manifest, read_index

    m = current_manifest(root, version)
    if m is None:
        raise FileNotFoundError(f"no published tokenizer artifact under {root}")
    return read_index(spark, root, m)


def bpe_encode_counts_trie(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """bpe_encode_counts for REAL merge-table sizes: same
    (doc_id, n_words, n_bpe_symbols) output, but the distinct-word
    encode runs the heap encoder (mapInPandas) against the merge
    DataFrame instead of chaining k literal replaces — O(len·log len)
    per distinct word, no expression-tree growth in k."""
    words = _doc_words(df, text_col)
    distinct = words.select(F.explode("ws").alias("w")).distinct()
    word_syms = trie_encode_word_counts(distinct, merges)
    return _counts_from_word_symbols(words, word_syms, broadcast_vocab)


def bpe_vocab(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    merges: DataFrame | None = None,
) -> DataFrame:
    """The trained-tokenizer VOCAB artifact (token_id, token, kind):
    base symbols first — the corpus's distinct characters plus the
    end-of-word marker, lexicographically ordered — then the merged
    symbols in merge-rank order (the standard BPE vocab layout:
    id-stable under corpus growth as long as the alphabet and the
    merge table are stable). The alphabet is tiny (≤ a few hundred
    rows), so the id-assigning sort is a deliberate single-partition
    window over the ALPHABET, never the corpus; the alphabet size is
    a documented one-int driver value."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if merges is None:
        merges = learn_bpe_merges(df, k=k, text_col=text_col)
    toks = F.transform(tokens_expr(F.col(text_col)), F.lower)
    chars = (
        df.select(F.explode(toks).alias("w"))
        .select(F.explode(F.filter(F.split("w", ""), lambda c: c != F.lit(""))).alias("token"))
        .distinct()
    )
    base = chars.unionByName(
        spark.createDataFrame([(END_OF_WORD,)], "token string")
    ).distinct()
    w = Window.orderBy("token")  # alphabet-sized, documented
    base_ids = base.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "token",
        F.lit("base").alias("kind"),
    )
    n_base = base.count()  # documented tiny driver value (one int)
    merge_ids = merges.select(
        (F.col("merge_rank") - 1 + n_base).cast("long").alias("token_id"),
        F.col("merged").alias("token"),
        F.lit("merge").alias("kind"),
    )
    return base_ids.unionByName(merge_ids)


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2-style): the same merge machinery over the byte
# alphabet. Pretokens are whitespace words with a LEADING-SPACE marker on
# every non-initial word (so " the" and "the" are distinct pretokens and
# word boundaries are learnable, the GPT-2 convention); each pretoken's
# UTF-8 bytes become two-hex-digit symbols — a printable, space/tab-free
# byte<->symbol bijection the wrapped-replace loop and the DuckDB oracle
# both reproduce exactly (hex(encode(s)) is identical in Spark and
# DuckDB, uppercase). No end-of-word marker: the space marker carries the
# boundary role, as in GPT-2. Case is PRESERVED (byte-level tokenizers
# do not normalize). Closed vocabulary by construction: at most 256 base
# symbols, so unseen text never needs an <unk>.
# ---------------------------------------------------------------------------


def _pretokens_expr(text: F.Column) -> F.Column:
    """Whitespace words, every non-initial word prefixed with the
    space marker: ['the','cat'] -> ['the', ' cat'].

    Pure-codegen form (r9): collapse every whitespace run to one
    space, trim, then split at zero-width lookaheads before each
    space — each non-initial word keeps exactly its one leading
    space marker. Identical to the indexed-transform original (which
    was CodegenFallback — interpreted per element): case-free, and
    the collapsed text's split positions are exactly the token
    boundaries. array_remove('') covers the empty/all-whitespace doc
    (trim leaves '', split returns [''])."""
    norm = F.trim(F.regexp_replace(text, r"\s+", " "))
    return F.array_remove(F.split(norm, r"(?= )"), "")


def _wrap_byte_sym_expr(pretoken: F.Column) -> F.Column:
    """pretoken -> wrapped symbol string of its UTF-8 bytes, one
    ' HH<TAB>' per byte (uppercase hex pairs)."""
    h = F.hex(F.encode(pretoken, "UTF-8"))
    pairs = F.transform(
        F.sequence(F.lit(1), (F.length(h) / 2).cast("int")),
        lambda i: F.substr(h, i * 2 - 1, F.lit(2)),
    )
    return F.concat_ws(
        "", F.transform(pairs, lambda p: F.concat(F.lit(" "), p, F.lit("\t")))
    )


def byte_pretoken_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(sym, n): one row per DISTINCT pretoken with its corpus count
    and wrapped byte-symbol string — the byte-level working set. Same
    vocabulary-bounded discipline as word_symbol_table: the space
    marker at most doubles the distinct-word count."""
    pre = df.select(
        F.explode(_pretokens_expr(F.col(text_col))).alias("pt")
    )
    counts = pre.groupBy("pt").agg(F.count("*").cast("long").alias("n"))
    return counts.select(_wrap_byte_sym_expr(F.col("pt")).alias("sym"), "n")


def learn_byte_bpe_merges(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    checkpoint_every: int = 3,
) -> DataFrame:
    """Byte-level merge table (merge_rank, lhs, rhs, merged,
    pair_count) — the shared _learn_merges_loop over the pretoken
    byte-symbol table. Symbols are hex-pair strings; `merged` is the
    concatenation, so a trained token's byte string is recoverable by
    unhexing."""
    return _learn_merges_loop(
        df.sparkSession, byte_pretoken_table(df, text_col), k, checkpoint_every
    )


def learn_byte_bpe_merges_and_table(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    checkpoint_every: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """learn_byte_bpe_merges plus the trainer's final (sym, n) table —
    the byte twin of learn_bpe_merges_and_table (symbols are hex
    pairs, so the bare concatenation unhexes back to the pretoken)."""
    return _learn_merges_loop_with_table(
        df.sparkSession, byte_pretoken_table(df, text_col), k, checkpoint_every
    )


def _unwrap_pretoken_expr(sym: F.Column) -> F.Column:
    """Invert _wrap_byte_sym_expr: strip wrappers, unhex the pair
    concatenation, decode UTF-8 (pretokens come from strings, so the
    byte sequence is always valid UTF-8)."""
    return F.decode(F.unhex(_strip_wrappers_expr(sym)), "UTF-8")


def trained_pretoken_counts(final_syms: DataFrame) -> DataFrame:
    """(pt, n_sym) from the byte trainer's final table."""
    return final_syms.select(
        _unwrap_pretoken_expr(F.col("sym")).alias("pt"),
        _n_syms_expr(F.col("sym")).alias("n_sym"),
    )


def byte_bpe_encode_counts_trained(
    df: DataFrame,
    final_syms: DataFrame,
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """byte_bpe_encode_counts(_trie) when the merges were just trained
    on the SAME corpus: identical (doc_id, n_pretokens, n_bpe_symbols)
    output, the (pt, n_sym) side taken from the trainer's final table
    (saves the distinct-pretoken corpus scan and the heap re-encode)."""
    pre_syms = trained_pretoken_counts(final_syms)
    if broadcast_vocab:
        pre_syms = F.broadcast(pre_syms)
    docs = df.select("doc_id", _pretokens_expr(F.col(text_col)).alias("pts"))
    exploded = docs.select(
        "doc_id",
        F.size("pts").cast("long").alias("n_pretokens"),
        F.explode_outer("pts").alias("pt"),
    )
    return (
        exploded.join(pre_syms, ["pt"], "left")
        .groupBy("doc_id", "n_pretokens")
        .agg(
            F.coalesce(F.sum("n_sym"), F.lit(0))
            .cast("long")
            .alias("n_bpe_symbols")
        )
        .select("doc_id", "n_pretokens", "n_bpe_symbols")
    )


def apply_byte_merges_expr(
    pretoken: F.Column, merges: list[tuple[str, str]]
) -> F.Column:
    """Byte-encode `pretoken`, apply the learned merges in rank order
    (chained literal replaces, pure codegen), return the final symbol
    array — the byte twin of apply_merges_expr."""
    sym = _wrap_byte_sym_expr(pretoken)
    for lhs, rhs in merges:
        sym = F.replace(
            sym, F.lit(f" {lhs}\t {rhs}\t"), F.lit(f" {lhs}{rhs}\t")
        )
    return _symbols_expr(sym)


def byte_bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(doc_id, n_pretokens, n_bpe_symbols): the byte-level token
    budget — encode the DISTINCT-pretoken table once (vocab-bounded,
    the r5-verdict discipline) and broadcast-join symbol counts back
    to the exploded doc pretokens. Document text never shuffles."""
    docs = df.select(
        "doc_id", _pretokens_expr(F.col(text_col)).alias("pts")
    )
    pre_syms = (
        docs.select(F.explode("pts").alias("pt"))
        .distinct()
        .select(
            "pt",
            F.size(apply_byte_merges_expr(F.col("pt"), merges))
            .cast("long")
            .alias("n_sym"),
        )
    )
    if broadcast_vocab:
        pre_syms = F.broadcast(pre_syms)
    exploded = docs.select(
        "doc_id",
        F.size("pts").cast("long").alias("n_pretokens"),
        F.explode_outer("pts").alias("pt"),
    )
    return (
        exploded.join(pre_syms, ["pt"], "left")
        .groupBy("doc_id", "n_pretokens")
        .agg(
            F.coalesce(F.sum("n_sym"), F.lit(0))
            .cast("long")
            .alias("n_bpe_symbols")
        )
        .select("doc_id", "n_pretokens", "n_bpe_symbols")
    )


def trie_encode_byte_counts(
    distinct_pretokens: DataFrame, merges: DataFrame, pt_col: str = "pt"
) -> DataFrame:
    """(pt, n_sym) over a DISTINCT-pretoken table via the Arrow-batched
    heap encoder on byte symbols — the any-k byte-level encode path
    (trie_encode_word_counts' twin): the merge DataFrame ships as a
    broadcast rank dict, no Catalyst expression grows with k."""
    from typing import Iterator

    import pandas as pd

    spark = distinct_pretokens.sparkSession
    bc = spark.sparkContext.broadcast(merge_ranks(merges))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "pt": pdf[pt_col],
                    "n_sym": [
                        len(encode_pretoken_byte_symbols(p, ranks))
                        for p in pdf[pt_col]
                    ],
                }
            )

    return distinct_pretokens.mapInPandas(python_stage(enc), "pt string, n_sym long")


def byte_bpe_encode_counts_trie(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """byte_bpe_encode_counts for REAL merge-table sizes: same
    (doc_id, n_pretokens, n_bpe_symbols) output, heap encoder over
    the distinct-pretoken table instead of k chained replaces."""
    docs = df.select("doc_id", _pretokens_expr(F.col(text_col)).alias("pts"))
    distinct = docs.select(F.explode("pts").alias("pt")).distinct()
    pre_syms = trie_encode_byte_counts(distinct, merges)
    if broadcast_vocab:
        pre_syms = F.broadcast(pre_syms)
    exploded = docs.select(
        "doc_id",
        F.size("pts").cast("long").alias("n_pretokens"),
        F.explode_outer("pts").alias("pt"),
    )
    return (
        exploded.join(pre_syms, ["pt"], "left")
        .groupBy("doc_id", "n_pretokens")
        .agg(
            F.coalesce(F.sum("n_sym"), F.lit(0))
            .cast("long")
            .alias("n_bpe_symbols")
        )
        .select("doc_id", "n_pretokens", "n_bpe_symbols")
    )


def tokenizer_fertility(
    df: DataFrame,
    merges: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    counts: DataFrame | None = None,
) -> DataFrame:
    """(group, n_docs, total_bytes, total_tokens,
    bytes_per_token_micro): the tokenizer-eval table every production
    tokenizer ships with — UTF-8 bytes per learned byte-BPE token,
    grouped (typically by language). A tokenizer trained mostly on
    ASCII charges CJK text ~3 bytes/char with few merges, so its
    fertility row exposes the languages it underserves — the signal
    that drives merge-budget and data-mixture decisions.

    Cost shape: the heap encode runs once per DISTINCT pretoken
    (byte_bpe_encode_counts_trie), counts broadcast-join back, and
    the fertility agg is one vocab-narrow groupBy — document text is
    scanned once and never shuffles. Ratio in exact half-up integer
    micro-units (the r5 rounding discipline)."""
    if counts is None:
        counts = byte_bpe_encode_counts_trie(df, merges, text_col)
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
            F.sum("n_bpe_symbols").cast("long").alias("total_tokens"),
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
