"""Distributed BPE subword-vocabulary training (Sennrich, Haddow &
Birch 2016, "Neural Machine Translation of Rare Words with Subword
Units") — the learned-tokenizer stage of a pretraining data pipeline,
re-expressed for Spark.

The scale insight is the classic word-histogram reduction: BPE merge
statistics depend only on (word, frequency), so the 100 TB corpus is
touched ONCE (tokenize -> groupBy word), and every merge iteration
then runs over the histogram — a vocab-sized table (10^5..10^7 rows)
whatever the corpus size. Per iteration: one map-side-partial pair
count over the histogram, a 1-row ``orderBy().limit(1)`` argmax
(TakeOrderedAndProject — the single scalar the driver is allowed to
see), and a per-word JVM fold applying the merge. Each round's symbol
table is cut through ``materialize.iterate``, the loop the graph
fixpoints share.

Merge semantics (shared with the pure-Python reference used by tests
and the DuckDB oracle): left-to-right greedy, non-overlapping — the
accumulator fold appends or fuses; a just-fused symbol can never
immediately re-trigger because ``left + right != left`` (right is
non-empty). Ties on pair frequency break lexicographically
(left asc, right asc), so training is deterministic across engines,
partitionings, and runs.

Applying the learned merges to the corpus (``bpe_encode_udf``) is an
Arrow-batched pandas UDF — the sanctioned-Python-site list gains a
6th member: real deployments encode with a native tokenizer; the UDF
shares ``bpe_encode_word`` with the tests so the Python path IS the
reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.analytics import tokens_col
from ..materialize import iterate, release
from ..materialize import materialize as _materialize

END = "</w>"  # end-of-word marker (the published formulation)


# ---------------------------------------------------------------------------
# pure-Python reference (shared by the pandas UDF and the tests)
# ---------------------------------------------------------------------------

def bpe_merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """One merge applied to one symbol sequence: left-to-right greedy,
    non-overlapping."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Encode one word: char symbols + END, then the merges in rank
    order."""
    syms = list(word) + [END]
    for left, right in merges:
        if len(syms) == 1:
            break
        syms = bpe_merge_word(syms, left, right)
    return syms


def bpe_train_reference(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Histogram-level reference trainer (what the distributed loop must
    reproduce exactly): returns [(left, right, pair_freq), ...]."""
    words = {w: list(w) + [END] for w in word_freqs}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((left, right, freq))
        words = {w: bpe_merge_word(s, left, right) for w, s in words.items()}
    return merges


# ---------------------------------------------------------------------------
# distributed trainer
# ---------------------------------------------------------------------------

def word_histogram(df: DataFrame, text_col: str = "text",
                   min_freq: int = 1) -> DataFrame:
    """(word, freq) over the shared lowercase tokenizer — the ONE pass
    that touches the corpus; map-side partial count, the shuffle
    carries one row per distinct word."""
    h = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        h = h.filter(F.col("freq") >= min_freq)
    return h


def _char_symbols(word: Column) -> Column:
    """Initial symbol sequence: characters + the END marker. substr
    per index (not split-by-empty-regex, whose edge behavior differs
    across engines)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END)))


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """The LTR greedy merge as a JVM array fold (see module docstring
    for why a just-fused symbol cannot re-trigger)."""
    fused = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def pair_count_top(words: DataFrame) -> DataFrame:
    """One training iteration's pair count + argmax over a ``(word,
    freq, syms)`` histogram frame: zip-shift pair structs, map-side-
    partial weighted count, ``orderBy().limit(1)``
    (TakeOrderedAndProject — one row, never a global Window). Factored
    out of :func:`bpe_train` so the plan audit and the tests exercise
    the exact DataFrame the trainer runs."""
    m = F.size("syms")
    pair_structs = F.zip_with(
        F.slice("syms", 1, F.greatest(m - 1, F.lit(0))),
        F.slice("syms", 2, F.greatest(m - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        words.select(F.col("freq"), F.explode(pair_structs).alias("p"))
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), F.asc("left"), F.asc("right"))
        .limit(1)
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_freq: int = 1,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    [(left, right, pair_freq), ...] in rank order — a list by nature:
    the merge table is the trained artifact (tokenizers ship it as a
    text file), small enough to broadcast by definition.

    Each iteration: pair counts from a zip-shift explode over the
    histogram's symbol arrays (weighted by word freq, map-side
    partial), argmax via ``orderBy().limit(1)`` (TakeOrderedAndProject,
    one row to the driver), then the merge fold, cut to pin the new
    symbol table and truncate lineage. The next pair's argmax is the
    loop's stop test: it stores the cut in its own job, so a merge
    costs one job.
    """
    words = (
        word_histogram(df, text_col, min_freq)
        .select("word", "freq", _char_symbols(F.col("word")).alias("syms"))
        .transform(_materialize)
    )
    top = pair_count_top(words).collect() if n_merges else []
    merges: list[tuple[str, str, int]] = []

    def merge(words: DataFrame, _: int) -> DataFrame:
        left, right, freq = top[0]["left"], top[0]["right"], \
            top[0]["pair_freq"]
        merges.append((left, right, int(freq)))
        return words.select(
            "word", "freq",
            _merge_fold(F.col("syms"), left, right).alias("syms"),
        )

    def exhausted(words: DataFrame) -> bool:
        top[:] = pair_count_top(words).collect()
        return not top

    release(iterate(words, merge, n_merges if top else 0, 1,
                    until=exhausted))
    return merges


def merges_table(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The trained artifact as a DataFrame: (rank, left, right,
    pair_freq)."""
    return spark.createDataFrame(
        [(i + 1, a, b, f) for i, (a, b, f) in enumerate(merges)],
        "rank int, left string, right string, pair_freq bigint",
    )


# ---------------------------------------------------------------------------
# corpus encoding
# ---------------------------------------------------------------------------

def bpe_encode_col(text: Column, merges: list[tuple[str, str, int]],
                   max_merges: int | None = None) -> Column:
    """BPE-encode a text column entirely in Catalyst: char symbols +
    one merge fold per learned merge, applied per word. Exact — shares
    semantics with ``bpe_encode_word`` — and zero Python; the plan
    grows linearly with the merge count, so this path suits the small
    merge tables the oracle-checked queries train (tens). For
    production vocabularies (10k+ merges) use ``bpe_encode_udf``: the
    fold chain is the same math, but a 10k-deep expression tree is
    where codegen stops being the right tool."""
    use = merges[: max_merges if max_merges is not None else len(merges)]

    def encode_word(w: Column) -> Column:
        syms = _char_symbols(w)
        for left, right, _ in use:
            syms = _merge_fold(syms, left, right)
        return syms

    return F.flatten(F.transform(tokens_col(text), encode_word))


def bpe_encode_udf(merges: list[tuple[str, str, int]]):
    """Arrow-batched pandas UDF encoding a text column with the learned
    merges — the production path for real vocabulary sizes (the 6th
    sanctioned Python site; see module docstring). Shares
    ``bpe_encode_word`` with the tests.

    The merge table ships as a ``SparkContext.broadcast`` handle, NOT a
    closure capture: a closure-captured model is re-pickled into every
    task's serialized UDF, so a production vocabulary (10k-1M merges,
    megabytes) × thousands of tasks is real repeated serialization; the
    broadcast ships once per executor and the closure holds only the
    handle. Falls back to plain capture when no active session exists
    (the factory called before/without Spark — local unit use)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    import re

    from ..operators.analytics import TOKEN_RE

    pairs = [(a, b) for a, b, _ in merges]
    tok_re = re.compile(TOKEN_RE)

    spark = SparkSession.getActiveSession()
    if spark is not None:
        bc = spark.sparkContext.broadcast(pairs)

        def get_pairs():
            return bc.value
    else:  # pragma: no cover - factory used without a session
        def get_pairs():
            return pairs

    @pandas_udf("array<string>")
    def encode(texts):  # pragma: no cover - executed on executors
        model = get_pairs()

        def enc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in tok_re.split(t.lower()):
                if w:
                    out.extend(bpe_encode_word(w, model))
            return out

        return texts.map(enc)

    return encode
