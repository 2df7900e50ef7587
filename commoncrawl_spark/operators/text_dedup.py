"""Document deduplication family: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Design rule: every hash is derived from md5 (a builtin with identical
output in Spark, DuckDB, and Python), never from engine-private hash
functions — so each operator has an exact cross-engine oracle, and the
signatures are reproducible across cluster versions.

Scale shapes:
- exact_duplicates: one hash-shuffle on a 32-byte key (not the text).
- MinHash/SimHash signatures: *narrow* — higher-order array expressions
  per row, no shuffle, no Python. LSH banding then shuffles only
  (doc_id, band, 32-byte bucket) pairs: the join key is tiny regardless
  of document size, and candidate verification touches only
  bucket-colliding pairs (the LSH contract) instead of O(n^2).
- embedding near-dup joins are bucketed by an LSH bit-signature over
  random hyperplanes for the same reason (see similarity.py for the
  ANN variant).

Caching note (the library OWNS the lifecycle): the self-joining
operators cache their slim intermediate (signatures / shingles /
buckets) because both join branches would otherwise recompute the md5
folds. Each such operator eagerly cuts its SLIM output through
``materialize`` and unpersists the fat intermediate before returning —
after the call, the only executor storage is the bounded cut result,
which Spark's ContextCleaner frees when the frame is garbage-collected.
No ``clearCache()`` contract for callers; a long-running ``CrawlJob``
can invoke these in a loop without accumulating blocks. Plan tests and
the SCALE.md audit read the frame each operator cuts, whose plan is not
yet truncated: ``scripts/plan_audit.cut_frames()`` records every frame
cut through the seam while its block runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_col
from ..operators.analytics import tokens_col
from ..materialize import materialize as _materialize


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, sorted (deterministic).

    Shape note: ``arrays_zip`` over ``n`` shifted slices, NOT
    ``transform(sequence(1, k), i -> slice(toks, i, n))`` — a
    non-lambda-bound subexpression inside a higher-order-function lambda
    is re-evaluated PER ELEMENT (codegen does not hoist it), so the
    slice form re-runs the regex tokenizer once per shingle = O(n^2)
    per document (measured 20x slower at ~700 tokens/doc). The zipped
    slices evaluate the tokenizer ``n``+1 times total; the lambda
    touches only its bound struct."""
    toks = tokens_col(text)
    k = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, F.greatest(k, F.lit(0))).alias(f"w{i}")
          for i in range(n)])
    grams = F.when(
        k > 0,
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(grams))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup over the normalized fingerprint: one row per
    duplicate *group* (>=2 docs), keeper = min id. The shuffle carries the
    32-byte fingerprint, never the document text."""
    return (
        df.select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each fingerprint group."""
    w_key = fingerprint_col(F.col(text_col)).alias("fingerprint")
    keepers = (
        df.select(F.col(id_col), w_key)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keepers.select(id_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(text: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """MinHash signature as array<string>: element j = min over shingles of
    md5(shingle || '#j'). Min over md5 hex strings is an order-preserving
    stand-in for min over a random permutation (md5 is uniform). Empty
    shingle sets keep the init sentinel 'z'*32 (sorts after every digest).

    Single fold over the shingle array: each shingle is md5-hashed exactly
    ``num_hashes`` times and merged into the running minima with zip_with —
    one pass, no shingle-expression recomputation per hash seed."""
    sh = shingles_col(text, shingle_n)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    init = F.array_repeat(F.lit("z" * 32), num_hashes)

    def merge(acc: Column, s: Column) -> Column:
        hs = F.transform(
            seeds, lambda j: F.md5(F.concat(s, F.lit("#"), j.cast("string")))
        )
        return F.zip_with(acc, hs, lambda a, b: F.least(a, b))

    return F.aggregate(sh, init, merge)


def minhash_lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket): docs sharing a bucket in any band are near-dup
    candidates. rows-per-band r = num_hashes/bands tunes the similarity
    threshold (~ (1/bands)^(1/r))."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_n)
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(F.concat_ws("|", F.slice(sig, b * r + 1, r))),
            )
        ).alias("band", "bucket"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from LSH bucket collisions — the
    self-join runs on (band, bucket), so only genuine collisions meet.

    Lifecycle (module docstring): the slim pair set is cut eagerly and
    the cached bucket frame is unpersisted before returning — no storage
    outlives the call beyond the bounded result."""
    # cached for the same reason as simhash_near_duplicates: a broadcast
    # self-join recomputes the minhash fold (md5 per shingle x num_hashes)
    # on both branches; the cached frame is (id, band, 32-char bucket).
    bk = minhash_lsh_buckets(df, text_col, id_col, num_hashes, bands,
                             shingle_n).persist()
    a = bk.select(F.col(id_col).alias("a"), "band", "bucket")
    b = bk.select(F.col(id_col).alias("b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    out = pairs.transform(_materialize)
    bk.unpersist()
    return out


def drop_near_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end MinHash near-dedup — what a pipeline user actually
    calls: LSH candidate pairs -> exact Jaccard verification -> drop the
    higher-id side of every confirmed pair.

    The keep rule is the standard greedy min-id-wins: a document is
    dropped iff it is near-duplicate (verified Jaccard >= threshold) of
    ANY lower-id document that collided with it in an LSH band. This is
    one anti-join, deterministic, and — unlike full connected components
    — needs no iteration; for transitive chains a surviving middle
    element can keep a tail alive, which is the usual (and documented)
    LSH-dedup behavior at corpus scale.

    Scale shape: candidates come only from band-bucket collisions (never
    all-pairs), the Jaccard join touches candidates only, and the final
    anti-join key is the slim id column.
    """
    pairs = minhash_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n)
    confirmed = jaccard_pairs(
        df, pairs, text_col, id_col, shingle_n, threshold=threshold)
    losers = confirmed.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| over distinct
    shingle sets. Feed LSH candidates here to confirm near-dups; never run
    it all-pairs at scale.

    Scale shape (r03): documents are semi-joined to the candidate ids
    FIRST, so shingling touches only pair members — never the full
    corpus; the shingle frame is therefore bounded by the candidate set.
    The scored pairs are cut eagerly and the shingle cache is released
    before returning (module docstring)."""
    ids = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # cached: joined twice (a-side and b-side); without the cache the
    # shingle arrays are tokenized twice. Spills to disk if the shingle
    # sets outgrow memory — and this op is candidates-only by contract.
    sh = (
        df.join(ids, id_col, "semi")
        .select(F.col(id_col),
                shingles_col(F.col(text_col), shingle_n).alias("sh"))
        .persist()
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed(id_col, "b").withColumnRenamed("sh", "sh_b"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
                6,
            ),
        )
        .select("a", "b", "jaccard")
    )
    j = j.filter(F.col("jaccard") >= threshold)
    out = j.transform(_materialize)
    sh.unpersist()
    return out


# ---------------------------------------------------------------------------
# within-document line dedup
# ---------------------------------------------------------------------------

def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Drop repeated lines WITHIN each document, keeping the first
    occurrence in order — the boilerplate/repetition trim
    (nav menus, cookie banners, copy-pasted paragraphs) that
    RefinedWeb-style pipelines apply before corpus-level dedup; the
    corpus-level sibling is :func:`dedup_segments`. Returns
    ``(id_col, n_lines, n_unique, text)`` with ``text`` reassembled
    from the survivors.

    Scale shape: entirely per-row array expressions — ZERO shuffle,
    which is the right trade even though first-occurrence filtering is
    O(lines^2) comparisons per document: lines-per-doc is bounded
    (10^3-ish) while the alternative — posexplode + groupBy min(pos) +
    re-assemble — shuffles the corpus's entire line stream. The line
    array is bound to a real column first so the filter lambda reads an
    attribute (an expression referenced inside a higher-order-function
    lambda is re-evaluated per element — the :func:`shingles_col` shape
    note — which would re-split the document once per line).

    ``sep`` is a LITERAL separator: the split quotes it (Java regex
    \\Q...\\E) so it agrees with the literal ``concat_ws`` reassembly —
    a metachar separator like ``"."`` (sentence trim) would otherwise
    split on every character and reassemble garbage."""
    lines = F.col("_lines")
    uniq = F.filter(
        lines, lambda x, i: F.array_position(lines, x) == i + 1)
    return (
        df.select(F.col(id_col),
                  F.split(F.col(text_col),
                          "\\Q" + sep + "\\E").alias("_lines"))
        .select(
            F.col(id_col),
            F.size(lines).alias("n_lines"),
            uniq.alias("_uniq"),
        )
        .select(
            id_col,
            "n_lines",
            F.size("_uniq").alias("n_unique"),
            F.concat_ws(sep, "_uniq").alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# incremental near-dedup against a persisted signature index
# ---------------------------------------------------------------------------

def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Persistable signature index ``(id, sig: array<string>)`` — the
    near-dedup sibling of ``index.build_tf_index``: at 10^10 documents
    you minhash the historical corpus ONCE, persist ~0.5 KB/doc of
    signatures, and every later crawl segment dedups against the
    signatures without ever touching historical text (the expensive
    shingle fold runs only over the new segment). One corpus pass, pure
    scan-stage expressions, no shuffle.

    Reference analog: ``main_merge_and_deduplicate.py:42-53`` dedups
    each new batch against an ``existing_map`` carried between runs —
    this family is that incremental shape with NEAR-dup semantics and
    the carried state shrunk from full records to signatures."""
    return df.select(
        F.col(id_col),
        minhash_signature(F.col(text_col), num_hashes, shingle_n)
        .alias("sig"),
    )


def merge_minhash_index(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    broadcast_new_ids: bool = True,
) -> DataFrame:
    """Fold a new segment's signatures into the persisted index — new
    wins per document (a re-crawled page's text changed, so its old
    signature is stale). Same slim-id anti-join shape as
    ``index.merge_tf_index``: with ``broadcast_new_ids`` (the contract
    default — an increment is orders of magnitude smaller than history)
    the old index filters map-side and keeps its storage partitioning."""
    from .index import _merge_replacing

    return _merge_replacing(
        old, new, new.select(id_col), id_col, broadcast_new_ids
    ).select(id_col, "sig")


def _sig_band_buckets(sig: Column, num_hashes: int, bands: int) -> Column:
    """array<struct<band,bucket>> derived from a STORED signature —
    md5 over each band's slice, the same bucket key
    :func:`minhash_lsh_buckets` computes from raw text (cheap: 4 md5
    calls over 16 short strings; the shingle fold is what the index
    amortizes away)."""
    r = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.concat_ws("|", F.slice(sig, b * r + 1, r)))
            .alias("bucket"),
        ),
    )


def near_duplicates_against_index(
    new_df: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    broadcast_segment: bool = True,
) -> DataFrame:
    """Near-duplicate matches of a NEW crawl segment against the
    persisted signature index: ``(new_id, matched_id, est_jaccard)``
    for every historical document sharing an LSH band with a new
    document and agreeing on >= ``threshold`` of the minhash
    components (the unbiased single-permutation Jaccard estimate —
    history text is gone, so the estimate IS the verification; the
    threshold plays the role exact-Jaccard confirmation plays in
    :func:`drop_near_duplicates`). Self-matches (same id on both
    sides — a re-crawl of a page the index already holds) are
    excluded: replacing your own prior version is not duplication.

    Scale shape: the expensive shingle fold runs ONLY over the new
    segment (cached slim: id + 0.5 KB sig). With ``broadcast_segment``
    (the contract default — an increment is orders of magnitude smaller
    than history) the segment's band buckets broadcast, so the
    PERSISTED INDEX IS NEVER SHUFFLED: its scan derives (band, bucket)
    per row (4 md5 calls over the stored 16-element signature — the
    fold the index amortizes away), probes the broadcast map-side, and
    only (new_id, matched_id, est_jaccard) survivor rows — estimate
    computed and thresholded BEFORE the pair-dedup exchange — ever
    cross a shuffle. Candidates come only from band collisions, never
    all-pairs. Disable ``broadcast_segment`` for a backfill-sized
    segment; AQE then picks the join strategy. The bounded match set is
    cut eagerly and the cache released (module lifecycle)."""
    # the index's signature width is a TABLE property fixed at build
    # time; probing a 32-hash index with 16-hash segment signatures
    # makes buckets silently never collide (100% recall loss, no
    # error) and corrupts the estimate denominator — refuse loudly.
    # One 1-row scan of the persisted index (index-once/search-many:
    # negligible next to the probe)
    probe = index.select(F.size("sig").alias("_n")).first()
    if probe is not None and probe["_n"] != num_hashes:
        raise ValueError(
            f"near_duplicates_against_index: index signatures have "
            f"{probe['_n']} components but num_hashes={num_hashes} — "
            f"pass the num_hashes the index was BUILT with")
    new_sigs = build_minhash_index(
        new_df, text_col, id_col, num_hashes, shingle_n
    ).persist()
    nb = new_sigs.select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("_sig_new"),
        F.explode(_sig_band_buckets(F.col("sig"), num_hashes, bands))
        .alias("_bb"),
    ).select("new_id", "_sig_new", "_bb.band", "_bb.bucket")
    hint = F.broadcast if broadcast_segment else (lambda d: d)
    ib = index.select(
        F.col(id_col).alias("matched_id"), F.col("sig").alias("_sig_old"),
        F.explode(_sig_band_buckets(F.col("sig"), num_hashes, bands))
        .alias("_bb"),
    ).select("matched_id", "_sig_old", "_bb.band", "_bb.bucket")
    est = (
        F.size(F.filter(
            F.zip_with("_sig_new", "_sig_old", lambda a, b: a == b),
            lambda x: x,
        )) / F.lit(num_hashes)
    )
    out = (
        ib.join(hint(nb), ["band", "bucket"])
        .filter(F.col("new_id") != F.col("matched_id"))
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "matched_id", "est_jaccard")
        .distinct()
    )
    ck = out.transform(_materialize)
    new_sigs.unpersist()
    return ck


def drop_near_duplicates_incremental(
    new_df: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    broadcast_segment: bool = True,
) -> DataFrame:
    """The composed incremental-dedup step a crawl pipeline calls per
    segment: drop every new document matching history (per
    :func:`near_duplicates_against_index`), keep the rest. Follow with
    :func:`merge_minhash_index` over ``build_minhash_index`` of the
    SURVIVORS to roll the index forward. ``broadcast_segment`` plumbs
    through to the probe — disable the broadcast for a backfill-sized
    segment (the callee's own guidance has to be reachable from the API
    pipelines actually call)."""
    matches = near_duplicates_against_index(
        new_df, index, threshold, text_col, id_col,
        num_hashes, bands, shingle_n,
        broadcast_segment=broadcast_segment,
    )
    losers = matches.select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32  # fits signed 64-bit everywhere (DuckDB/Spark/parquet)


def simhash_col(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over word tokens (with multiplicity): bit i of the result is
    the sign of sum over tokens of ±1 votes from bit i of md5(token).
    Pure array expressions — per-row, no shuffle. Token hash = first 8 hex
    chars of md5 (32 uniform bits).

    Single fold: one md5 per token; the per-bit vote vector is updated with
    zip_with (bit i extracted as floor(h / 2^i) % 2 — exact for h < 2^32,
    avoiding shiftright whose shift amount must be a literal)."""
    toks = tokens_col(text)
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    pow2 = F.array(*[F.lit(float(2 ** i)) for i in range(bits)])
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)

    def merge(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc, pow2, lambda a, p: a + (F.floor(h / p) % 2) * 2 - 1
        )

    votes = F.aggregate(hashes, zeros, merge)
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    terms = F.zip_with(
        votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, b: a + b)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, found by the
    pigeonhole block trick: split the signature into ``blocks`` chunks; any
    pair within distance max_hamming < blocks agrees exactly on >=1 chunk,
    so the self-join key is (block_idx, chunk_value) — never all-pairs.

    The pair set is cut eagerly and the signature cache is released
    before returning (module docstring)."""
    sims = df.select(
        F.col(id_col), simhash_col(F.col(text_col), bits).alias("simhash")
    )
    return hamming_near_duplicate_pairs(
        sims, sig_col="simhash", id_col=id_col, max_hamming=max_hamming,
        bits=bits, blocks=blocks,
    )


def hamming_near_duplicate_pairs(
    sigs: DataFrame,
    sig_col: str = "sig",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    blocks: int = 4,
) -> DataFrame:
    """Pairs ``(a, b, hamming)`` with Hamming distance <= ``max_hamming``
    between integer bit-signatures (simhash, aHash, any <= 63-bit
    fingerprint), via the pigeonhole block self-join — the signature
    splits into ``blocks`` chunks and any pair within distance
    ``max_hamming < blocks`` agrees exactly on >= 1 chunk, so the join
    key is (block_idx, chunk_value), never all-pairs. Null signatures
    (e.g. empty payloads) are dropped — no bits, no neighbors.

    Scale shape: the only exchange is the (block, chunk) equi-join on
    (id, int64) rows; candidate volume is bounded by chunk-collision
    counts, not n^2. Generic base under :func:`simhash_near_duplicates`
    and the multimodal aHash near-dup."""
    assert max_hamming < blocks
    width = bits // blocks
    # cached: the pigeonhole self-join otherwise recomputes the signature
    # expression (md5-per-token fold / hex byte-sample) on BOTH join
    # branches (no exchange to reuse under a broadcast join — measured 2x
    # the query's CPU). The cached frame is just (id, int64) — 16
    # bytes/row, MEMORY_AND_DISK.
    sims = sigs.select(
        F.col(id_col), F.col(sig_col).alias("_sig")
    ).filter(F.col("_sig").isNotNull()).persist()
    chunked = sims.select(
        id_col,
        "_sig",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("_sig"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                for i in range(blocks)
            ])
        ).alias("block", "chunk"),
    )
    a = chunked.select(
        F.col(id_col).alias("a"), F.col("_sig").alias("sig_a"), "block", "chunk"
    )
    b = chunked.select(
        F.col(id_col).alias("b"), F.col("_sig").alias("sig_b"), "block", "chunk"
    )
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    out = (
        a.join(b, ["block", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(xor).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    cp = out.transform(_materialize)
    sims.unpersist()
    return cp


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM eval-overlap check):
    count, per document, how many of its distinct word ``n``-grams also
    appear in ``benchmark`` — a training corpus must drop (or at least
    audit) documents overlapping the eval sets it will be scored on.
    Returns ``(id_col, n_hits)`` for contaminated documents only
    (``n_hits >= 1``); compose with ``drop_contaminated`` to scrub.

    Scale shape: the benchmark gram set is distinct-md5'd — eval suites
    are ~10^5-10^7 grams, a few hundred MB of 16-byte keys at worst —
    so AQE broadcasts it and the corpus side never shuffles its grams;
    the only exchange is the per-document hit re-aggregation. Gram
    fingerprints are md5 (cross-engine oracle, as everywhere here).
    """
    bench = (
        benchmark.select(
            F.explode(shingles_col(F.col(bench_text_col), n)).alias("g"))
        .select(F.md5("g").alias("_fp"))
        .distinct()
    )
    grams = df.select(
        F.col(id_col), F.explode(shingles_col(F.col(text_col), n)).alias("g")
    ).select(id_col, F.md5("g").alias("_fp"))
    return (
        grams.join(bench, "_fp", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def drop_contaminated(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Scrub: remove every document with >= ``min_hits`` benchmark
    n-gram overlaps. One slim anti-join on the id after the
    contamination count."""
    hits = ngram_contamination(df, benchmark, n, text_col, id_col,
                               bench_text_col)
    bad = hits.filter(F.col("n_hits") >= min_hits).select(id_col)
    return df.join(bad, id_col, "left_anti")


def dedup_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
    keep: str = "first",
) -> DataFrame:
    """Corpus-wide segment-level deduplication (the CCNet/RefinedWeb
    "line dedup" shape): cut every document into consecutive
    ``seg_words``-word segments, fingerprint each, and remove segments
    whose text occurs elsewhere in the corpus. ``keep='first'`` retains
    one canonical occurrence (the globally smallest ``(id, position)``);
    ``keep='none'`` drops every occurrence of any repeated segment
    (classic boilerplate removal: nav bars / disclaimers repeated across
    pages vanish entirely). Returns one row per input document:
    ``(id_col, text, n_segments, n_kept)`` with the surviving segments
    rejoined in original order — a document whose every segment was
    removed keeps an empty string.

    Scale shape: segmentation is a per-row array expression (no
    shuffle); the keep-decision shuffles only 16-byte fingerprints plus
    (id, pos) — never segment text twice; reassembly is one groupBy on
    the document id. Two exchanges total, zero Python. Word documents
    have no newline structure here, but on real web text the same
    operator with a newline split expression is line-level dedup
    verbatim (reference analog: the merge step's content-hash dedup,
    main_merge_and_deduplicate.py, applied at sub-document granularity).
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    # the split is bound to a real column so the window lambda below
    # reads an attribute — an expression referenced inside a
    # higher-order-function lambda is re-evaluated per element (the
    # shingles_col shape note), which here would re-split the document
    # once per segment
    words = F.col("_words")
    n_seg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segments = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * seg_words + 1, seg_words)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    seg = (
        df.select(F.col(id_col),
                  F.split(F.col(text_col), " ").alias("_words"))
        .select(id_col, segments.alias("_segs"))
        .select(id_col, F.posexplode("_segs").alias("pos", "segment"))
        .withColumn("_fp", F.md5(F.col("segment")))
    )
    # one hash exchange on the fingerprint; min/count are partial-agg
    # friendly so the map side pre-combines before the shuffle
    firsts = seg.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col).alias("id"),
                       F.col("pos").alias("pos"))).alias("_first"),
        F.count(F.lit(1)).alias("_n"),
    )
    joined = seg.join(firsts, "_fp")
    if keep == "first":
        kept = joined.filter(
            (F.col(f"_first.id") == F.col(id_col))
            & (F.col("_first.pos") == F.col("pos")))
    else:
        kept = joined.filter(F.col("_n") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "segment"))),
                lambda s: s["segment"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_words"),
    ).select(
        F.col(id_col),
        F.when(n_seg > 0, n_seg).otherwise(F.lit(0)).alias("n_segments"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )

def host_boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
    seg_words: int = 2,
    min_docs: int = 3,
    min_frac: float = 0.1,
) -> DataFrame:
    """Per-host boilerplate detection: a segment is boilerplate on a
    host when it appears on >= ``min_docs`` of that host's documents AND
    on >= ``min_frac`` of them (both gates — the fraction alone would
    flag everything on a two-page host, the count alone would miss
    site-wide nav bars on giant hosts). This is the template-removal
    pass web pipelines run BEFORE corpus-level dedup: nav bars, cookie
    banners, and footers repeat across one site but differ across sites,
    so corpus-global frequency never catches them (reference analog: the
    per-site selector lists in extract_from_warc.py:58-156 exist to cut
    exactly this chrome at extraction time; this operator recovers the
    same effect statistically when no selector list exists).

    Returns one row per boilerplate fingerprint:
    ``(host_col, segment, doc_freq, n_docs)`` where ``doc_freq`` counts
    DISTINCT documents containing the segment (a within-doc repeat
    counts once — repetition is a different signal, see
    gopher_ngram_stats).

    Scale shape: segmentation is a per-row array expression (no
    shuffle); the frequency agg shuffles only (host, 32-byte md5, id)
    triples — never segment text (the representative segment rides the
    partial-agg ``first`` slot); per-host doc totals are one tiny
    groupBy(host) joined back on the host key. At 10^10 pages the
    shuffled bytes are O(corpus segments x ~50 B), and every aggregate
    is map-side-partial-friendly.
    """
    if seg_words < 1:
        raise ValueError(f"seg_words must be >= 1, got {seg_words}")
    seg = _exploded_segments(df, text_col, id_col, seg_words,
                             keep_cols=(host_col,))
    # distinct (host, fp, id) first (partial-agg dedupe), then count:
    # countDistinct would plan the same two-stage shape, but the
    # explicit form lets the segment text ride a min() alongside
    per_doc = seg.groupBy(host_col, "_fp").agg(
        F.count_distinct(F.col(id_col)).alias("doc_freq"),
        F.min("segment").alias("segment"),
    )
    host_totals = df.groupBy(host_col).agg(
        F.count_distinct(F.col(id_col)).alias("n_docs"))
    return (
        per_doc.join(F.broadcast(host_totals), host_col)
        .filter((F.col("doc_freq") >= F.lit(min_docs))
                & (F.col("doc_freq") >= F.lit(min_frac) * F.col("n_docs")))
        .select(host_col, "segment", "doc_freq", "n_docs")
    )


def strip_host_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
    seg_words: int = 2,
    min_docs: int = 3,
    min_frac: float = 0.1,
) -> DataFrame:
    """Remove per-host boilerplate segments (see
    :func:`host_boilerplate_stats` for the gate) and rebuild each
    document from its surviving segments in original order. Returns one
    row per input document:
    ``(id_col, host_col, text, n_segments, n_kept)`` — a document whose
    every segment was boilerplate keeps an empty string (same contract
    as :func:`dedup_segments`).

    Scale shape: the boilerplate set is per-host template lines — tiny
    relative to the corpus (a host has bounded chrome regardless of page
    count) — so the removal is a broadcast LEFT ANTI join on
    (host, fingerprint); reassembly is one groupBy on the document id.
    One segment-key exchange + one id exchange total, zero Python.
    """
    boiler = host_boilerplate_stats(
        df, text_col, id_col, host_col, seg_words, min_docs, min_frac,
    ).withColumn("_fp", F.md5(F.col("segment"))).select(host_col, "_fp")
    seg = _exploded_segments(df, text_col, id_col, seg_words,
                             keep_cols=(host_col,))
    kept = seg.join(F.broadcast(boiler), [host_col, "_fp"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "segment"))),
                lambda s: s["segment"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = _segment_totals(df, text_col, id_col, seg_words,
                             keep_cols=(host_col,))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            host_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def _exploded_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int,
    keep_cols: tuple = (),
) -> DataFrame:
    """One row per ``seg_words``-word segment:
    ``(id_col, *keep_cols, pos, segment, _fp)``. Same segmentation as
    :func:`dedup_segments` (consecutive word windows, last one ragged).
    Per-row array expressions only — no shuffle, no Python."""
    words = F.col("_words")
    n_seg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segments = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * seg_words + 1, seg_words)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), *[F.col(c) for c in keep_cols],
                  F.split(F.col(text_col), " ").alias("_words"))
        .select(id_col, *keep_cols, segments.alias("_segs"))
        .select(id_col, *keep_cols,
                F.posexplode("_segs").alias("pos", "segment"))
        .withColumn("_fp", F.md5(F.col("segment")))
    )


def _segment_totals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int,
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-document segment count ``(id_col, *keep_cols, n_segments)``
    — the left side of the rebuild join, so empty documents survive."""
    words = F.col("_words")
    n_seg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.split(F.col(text_col), " ").alias("_words"),
    ).select(
        F.col(id_col), *keep_cols,
        F.when(n_seg > 0, n_seg).otherwise(F.lit(0)).alias("n_segments"))


def duplicate_span_stats(
    df: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication stats (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, how much of it is covered by ``k``-token windows
    that appear at least ``min_count`` times ANYWHERE in the corpus
    (including within the same document — the paper's suffix-array
    match is position-blind). Output one row per input document:
    ``(id_col, n_tokens, n_dup_grams, dup_tokens, dup_fraction)``
    where ``dup_tokens`` is the size of the UNION of the duplicated
    windows' ``[pos, pos+k)`` intervals — the token mass the paper's
    ExactSubstr pass would cut. Filter ``dup_fraction`` (or subtract
    ``dup_tokens`` from token budgets) instead of re-implementing the
    destructive cut: the stats are the decision signal.

    Scale shape (the suffix array re-expressed as two slim shuffles):
    the window fingerprints are 32-byte md5 of the window text — the
    per-position stream carries (id, pos, 32B), never text; the corpus
    count is a map-side-partial groupBy on the fingerprint, so a
    boilerplate window repeated 10^8 times collapses to one partial
    row per map partition BEFORE the exchange (a window-function count
    would funnel those 10^8 rows through one task — this is why it is
    an agg + join, not ``count().over(partitionBy(gram))``); the join
    back is an equi-join AQE can both broadcast (few duplicated grams)
    and skew-split (boilerplate grams). Interval-union arithmetic is a
    per-doc array fold over sorted positions, bounded by document
    length. The final restore join is slim-on-slim (ints keyed by the
    unique doc id).
    """
    toks = tokens_col(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").alias("n_tokens"))
    n = F.col("n_tokens")
    # one row per window position; _toks is a bound column, so the
    # tokenizer runs once per row, not once per lambda element
    grams = (
        base.where(n >= k)
        .select(
            F.col(id_col),
            F.explode(F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.md5(F.concat_ws(
                        " ", F.slice(F.col("_toks"), p, k))).alias("gram"),
                ))).alias("_g"),
        )
        .select(id_col, "_g.pos", "_g.gram")
    )
    gcnt = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("gram")
    )
    per_doc = (
        grams.join(gcnt, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sort_array(F.collect_list("pos")).alias("_ps"),
        )
    )
    m = F.size("_ps")
    gaps = F.zip_with(
        F.slice("_ps", 1, F.greatest(m - 1, F.lit(0))),
        F.slice("_ps", 2, F.greatest(m - 1, F.lit(0))),
        lambda a, b: F.least(F.lit(k), b - a),
    )
    union_size = (
        F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x) + F.lit(k)
    )
    spans = per_doc.select(
        id_col,
        F.col("n_dup_grams"),
        union_size.cast("long").alias("dup_tokens"),
    )
    return (
        base.select(id_col, "n_tokens")
        .join(spans, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.when(
                n > 0,
                F.round(
                    F.coalesce(F.col("dup_tokens"), F.lit(0))
                    .cast("double") / n, 6),
            ).otherwise(F.lit(0.0)).alias("dup_fraction"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting scheme): hash every
    ``k``-token window, slide a window of ``w`` consecutive hashes, and
    keep the minimum hash of each window. Guarantee: any shared token
    run of length >= ``w + k - 1`` contributes at least one shared
    fingerprint, while the expected density is only ~2/(w+1) of the
    gram stream — a tunable recall/size dial that pure MinHash (global,
    per-doc) does not offer, because winnowing fingerprints are LOCAL:
    they also localize *where* the overlap is. Ties keep the (single)
    minimum hash VALUE per window and the output is the distinct set,
    so the result is engine- and order-independent (the paper's
    rightmost-position rule matters only for positional reporting,
    which this variant does not emit; documented deviation). Documents
    with fewer than ``w`` gram hashes yield the minimum over what
    exists (one window), so every doc with >= ``k`` tokens gets >= 1
    fingerprint.

    Output: one row per distinct ``(id_col, fp)``; ``fp`` is the first
    8 md5 hex digits of the window text as a BIGINT in [0, 2^32) —
    md5-derived like every hash in this module, so DuckDB reproduces it
    exactly.

    Scale shape: fingerprinting is entirely per-row array arithmetic —
    tokenize once, hash m = n-k+1 windows, fold m-w+1 window minima —
    ZERO shuffle, no Python, O(n*w) work per document bounded by
    document length. Only the slim (id, 8-byte fp) stream leaves the
    scan stage. Every array a lambda touches is a BOUND column
    (``_toks``, ``_z``): an unbound subexpression inside a
    higher-order-function lambda re-evaluates per element (the
    shingles_col lesson — a 20x measured regression). The sliding
    minimum is ``arrays_zip`` over ``w`` shifted suffixes + ``least``
    per zipped struct, NOT ``array_min(slice(_hs, i, w))`` per
    position — the zip copies the hash array ``w`` times total where
    the per-position slice allocates an ``w``-element array per WINDOW
    (measured 4.6x slower at ~500 tokens/doc). ``least`` skips the
    nulls ``arrays_zip`` pads trailing rows with, which is exactly the
    clipped-window semantics of the short-document case.
    """
    toks = tokens_col(F.col(text_col))
    base = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(id_col, "_toks", F.size("_toks").alias("_n"))
        .where(F.col("_n") >= k)
    )
    hashes = base.select(
        id_col,
        F.transform(
            F.sequence(F.lit(1), F.col("_n") - k + 1),
            lambda p: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), p, k))),
                    1, 8),
                16, 10).cast("long"),
        ).alias("_hs"),
    )
    zipped = hashes.select(
        id_col,
        F.size("_hs").alias("_m"),
        F.arrays_zip(*[
            F.slice(F.col("_hs"), i + 1, F.size("_hs")).alias(f"_s{i}")
            for i in range(w)
        ]).alias("_z"),
    )
    fps = zipped.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.transform(
            F.slice(F.col("_z"), 1,
                    F.greatest(F.col("_m") - w + 1, F.lit(1))),
            lambda s: F.least(*[s[f"_s{i}"] for i in range(w)]),
        ))).alias("fp"),
    )
    return fps


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_fp: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints: ``(doc_a, doc_b,
    shared, n_a, n_b, overlap)`` with ``doc_a < doc_b`` and ``overlap =
    shared / min(n_a, n_b)`` (containment, rounded to 6) — the MOSS
    match report over :func:`winnow_fingerprints`. Fingerprints on more
    than ``max_docs_per_fp`` documents are boilerplate (a nav bar, a
    license header) and are excluded from ``shared`` but still count in
    ``n_*``; pairs below ``min_shared`` are dropped (one shared
    fingerprint is the noise floor of an 8-hex-digit hash space).

    Scale shape: delegates to the mirror-detection join
    (:func:`~commoncrawl_spark.operators.mirrors.host_content_overlap`)
    with documents as the "hosts" — a rare-fingerprint equi self-join
    whose per-key fan-out the ubiquity cap bounds at
    ``max_docs_per_fp**2``; never all-pairs, never text.
    """
    from .mirrors import host_content_overlap

    fps = winnow_fingerprints(df, k=k, w=w, text_col=text_col,
                              id_col=id_col)
    ov = host_content_overlap(
        fps, host_col=id_col, fp_col="fp",
        max_hosts_per_fp=max_docs_per_fp)
    return (
        ov.where(F.col("shared") >= min_shared)
        .select(
            F.col("host_a").alias("doc_a"),
            F.col("host_b").alias("doc_b"),
            "shared", "n_a", "n_b", "overlap",
        )
    )


# ---------------------------------------------------------------------------
# Gopher n-gram repetition signals (within-document)
# ---------------------------------------------------------------------------

# Published thresholds from Rae et al. 2021 (Gopher), Table A1: a
# document is removed when the fraction of characters in the most
# common {2,3,4}-gram exceeds {0.20, 0.18, 0.16}, or the fraction of
# content inside duplicated {5..10}-grams exceeds {0.15 .. 0.10}.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_ngram_stats(
    df: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    top_max: dict[int, float] | None = None,
    dup_max: dict[int, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher's within-document n-gram repetition filters (Rae et al.
    2021, Table A1) — the other half of ``repetition_signals``'s line
    rules: machine-generated and templated pages repeat short word
    n-grams at rates natural prose never reaches.

    Two signal families, exact semantics:

    - ``top{n}_char_frac`` (n in ``top_ns``): character mass of the most
      frequent word n-gram — occurrences x the gram's word characters —
      over the document's total word characters. Overlapping occurrences
      count independently (the published rule), so a degenerate
      ``a a a a`` page can exceed 1.0; it is removed either way. Only
      grams occurring >= 2 times qualify (a "most common" gram with one
      occurrence is an arbitrary tie among ALL grams and would trip the
      thresholds on every short document — a deliberate divergence from
      implementations that count singletons; repetition requires
      repeats).
    - ``dup{n}_word_frac`` (n in ``dup_ns``): fraction of the document's
      WORDS covered by the union of all n-gram occurrences that appear
      at least twice in the document — the same interval-union fold as
      ``duplicate_span_stats``, word-mass rather than character-mass
      (equal-weight words; the thresholds transfer because the two
      masses differ only by word-length weighting).

    ``repetition_keep`` ANDs every signal against its threshold
    (defaults = the published constants above). Words are raw
    whitespace tokens (surface form, as in ``repetition_signals``);
    grams are 32-byte md5 keys so the shuffle never carries text.

    Scale shape: ONE explode produces the tagged (id, n, pos, gram,
    gram_chars) stream for every n (~ sum_n (L-n+1) rows per L-word
    doc); per-(doc, n, gram) counting is a map-side-partial aggregate;
    the per-(doc, n) reduction (argmax product + flattened sorted
    positions + union fold) is a second partial aggregate; the wide
    row is a conditional-aggregate pivot on the unique doc id; one slim
    restore join brings back docs with no grams. Every fraction is a
    ratio of integers, so both engines compute bit-identical doubles
    and the keep comparisons cannot drift.
    """
    top_max = dict(GOPHER_TOP_NGRAM_MAX if top_max is None else top_max)
    dup_max = dict(GOPHER_DUP_NGRAM_MAX if dup_max is None else dup_max)
    all_ns = sorted(set(top_ns) | set(dup_ns))

    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    base = df.select(F.col(id_col), words.alias("_ws")).select(
        id_col, "_ws",
        F.size("_ws").alias("n_words"),
        F.aggregate("_ws", F.lit(0), lambda a, w: a + F.length(w))
        .alias("_wchars"),
    )

    def gram_structs(n: int) -> Column:
        return F.when(
            F.col("n_words") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("n_words") - n + 1),
                lambda p: F.struct(
                    F.lit(n).alias("n"),
                    p.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(F.col("_ws"), p, n)))
                    .alias("gram"),
                    F.aggregate(
                        F.slice(F.col("_ws"), p, n), F.lit(0),
                        lambda a, w: a + F.length(w)).alias("gchars"),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<n:int,pos:int,gram:string,gchars:int>>"))

    grams = base.select(
        F.col(id_col),
        F.explode(F.concat(*[gram_structs(n) for n in all_ns])).alias("_g"),
    ).select(id_col, "_g.n", "_g.pos", "_g.gram", "_g.gchars")

    counts = grams.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min("gchars").alias("_gchars"),
        F.sort_array(F.collect_list("pos")).alias("_ps"),
    )
    dps = F.array_sort(F.flatten(F.collect_list(
        F.when(F.col("_cnt") >= 2, F.col("_ps")))))
    per_n = counts.groupBy(id_col, "n").agg(
        F.max(F.when(F.col("_cnt") >= 2, F.col("_cnt") * F.col("_gchars")))
        .alias("_top_mass"),
        dps.alias("_dps"),
    )
    m = F.size("_dps")
    gaps = F.zip_with(
        F.slice("_dps", 1, F.greatest(m - 1, F.lit(0))),
        F.slice("_dps", 2, F.greatest(m - 1, F.lit(0))),
        lambda a, b: F.least(F.col("n"), b - a),
    )
    per_n = per_n.select(
        id_col, "n", "_top_mass",
        F.when(m > 0, F.aggregate(gaps, F.lit(0), lambda a, x: a + x)
               + F.col("n")).otherwise(F.lit(0)).alias("_dup_words"),
    )

    wide = per_n.groupBy(id_col).agg(
        *[F.max(F.when(F.col("n") == n, F.col("_top_mass")))
          .alias(f"_top{n}") for n in top_ns],
        *[F.max(F.when(F.col("n") == n, F.col("_dup_words")))
          .alias(f"_dup{n}") for n in dup_ns],
    )

    top_cols = [
        F.round(F.coalesce(F.col(f"_top{n}"), F.lit(0))
                / F.greatest(F.col("_wchars"), F.lit(1)), 6)
        .alias(f"top{n}_char_frac")
        for n in top_ns
    ]
    dup_cols = [
        F.round(F.coalesce(F.col(f"_dup{n}"), F.lit(0))
                / F.greatest(F.col("n_words"), F.lit(1)), 6)
        .alias(f"dup{n}_word_frac")
        for n in dup_ns
    ]
    out = (
        base.select(id_col, "n_words", "_wchars")
        .join(wide, id_col, "left")
        .select(F.col(id_col), F.col("n_words").cast("long").alias("n_words"),
                *top_cols, *dup_cols)
    )
    keep = F.lit(True)
    for n in top_ns:
        keep = keep & (F.col(f"top{n}_char_frac") <= F.lit(top_max[n]))
    for n in dup_ns:
        keep = keep & (F.col(f"dup{n}_word_frac") <= F.lit(dup_max[n]))
    return out.withColumn("repetition_keep", keep)


def strip_duplicate_spans(
    df: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The DESTRUCTIVE ExactSubstr pass (Lee et al. 2021): cut every
    token covered by a ``k``-token window that appears >= ``min_count``
    times anywhere in the corpus (within-doc repeats included — the
    suffix-array match is position-blind), and rebuild each document
    from its surviving tokens in order. Drop-all semantics: every copy
    of a duplicated span is cut, matching the paper's byte-range
    removal; :func:`duplicate_span_stats` is the non-destructive
    measurement twin. Returns one row per input document:
    ``(id_col, text, n_tokens, n_kept)`` — a fully-duplicated document
    keeps an empty string.

    Scale shape: identical skeleton to duplicate_span_stats — the
    per-position stream carries (id, pos, 32-byte md5), never text;
    the corpus count is a map-side-partial groupBy on the fingerprint
    (a boilerplate window repeated 10^8 times collapses to one partial
    row per map partition before the exchange); the duplicated-start
    positions come back as ONE slim array per doc via an id-keyed
    join. The coverage expansion (token i cut iff a flagged window
    STARTS in [i-k+1, i]) is a per-row sliding-window OR computed with
    the winnowing zip-shift trick — k shifted copies + greatest(),
    O(n*k) per document, zero extra shuffle, no Python, no windows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = _strip_base(df, text_col, id_col)
    grams = _positioned_grams(base, id_col, k)
    gcnt = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("gram")
    )
    starts = (
        grams.join(gcnt, "gram")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_ps"))
    )
    return _rebuild_without_spans(base, starts, id_col, k)


def strip_contaminated_spans(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """SURGICAL benchmark decontamination: instead of dropping a whole
    training document that overlaps an eval set
    (:func:`ngram_contamination` + ``drop_contaminated``), cut ONLY the
    tokens covered by a ``k``-gram that appears in ``benchmark`` and
    rebuild the rest — the modern recipe (e.g. the Llama/FineWeb-style
    span scrub) that keeps the uncontaminated 99% of a long page.
    Returns ``(id_col, text, n_tokens, n_kept)``.

    Scale shape: the benchmark gram set is distinct 32-byte md5 keys
    (eval suites are tiny next to the corpus) joined left-semi onto the
    positioned corpus gram stream — AQE broadcasts it, the corpus side
    never shuffles gram text; flagged starts come back as one slim
    array per doc and the coverage/rebuild is the shared per-row
    zip-shift machinery of :func:`strip_duplicate_spans`."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bench = (
        benchmark.select(
            F.explode(shingles_col(F.col(bench_text_col), k)).alias("g"))
        .select(F.md5("g").alias("gram"))
        .distinct()
    )
    base = _strip_base(df, text_col, id_col)
    grams = _positioned_grams(base, id_col, k)
    starts = (
        grams.join(bench, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_ps"))
    )
    return _rebuild_without_spans(base, starts, id_col, k)


def _strip_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, _toks, n_tokens)`` — the tokenized base both strip passes
    and the positioned-gram stream derive from."""
    toks = tokens_col(F.col(text_col))
    return df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").alias("n_tokens"))


def _positioned_grams(base: DataFrame, id_col: str, k: int) -> DataFrame:
    """One row per ``k``-token window: ``(id, pos, gram-md5)`` — 1-based
    start position, 32-byte fingerprint, never gram text."""
    n = F.col("n_tokens")
    return (
        base.where(n >= k)
        .select(
            F.col(id_col),
            F.explode(F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.md5(F.concat_ws(
                        " ", F.slice(F.col("_toks"), p, k))).alias("gram"),
                ))).alias("_g"),
        )
        .select(id_col, "_g.pos", "_g.gram")
    )


def _rebuild_without_spans(
    base: DataFrame, starts: DataFrame, id_col: str, k: int,
) -> DataFrame:
    """Shared coverage expansion + order-preserving rebuild: cut token
    i iff a flagged window starts in ``[i-k+1, i]`` (per-row zip-shift
    sliding OR), keep the rest. ``starts`` is ``(id, _ps array)``."""
    n = F.col("n_tokens")
    joined = base.join(starts, id_col, "left")
    # start flags s[j] (j = 1..n): 1 iff a flagged window starts at j;
    # positions beyond the last window (j > n-k+1) are always 0, so
    # padding s to n entries bakes in the end-of-doc clipping.
    # NOTE: pm is referenced inside the transform lambda, so projection
    # collapse re-builds the map per element — O(n*d) per row, bounded
    # by document length (worst case n^2 for a fully-flagged doc),
    # independent of corpus size. Acceptable: d (flagged starts) is
    # small for real corpora; the ahash-style zip routing cannot carry
    # a MAP through arrays_zip.
    pm = F.map_from_arrays(
        F.col("_ps"), F.array_repeat(F.lit(1), F.size("_ps")))
    s_pad = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: F.when(F.map_contains_key(pm, j), F.lit(1))
        .otherwise(F.lit(0)),
    )
    joined = joined.select(
        id_col, "_toks", "n_tokens",
        F.when(F.col("_ps").isNotNull(), s_pad)
        .otherwise(F.array_repeat(F.lit(0), n)).alias("_s"),
    )
    # removed[i] = OR of s[i-k+1 .. i]: reverse, forward-max via the
    # zip-shift trick (greatest skips arrays_zip's trailing-null
    # padding = clipped windows), reverse back
    rev = F.reverse(F.col("_s"))
    zipped = joined.select(
        id_col, "_toks", "n_tokens",
        F.arrays_zip(*[
            F.slice(rev, i + 1, F.greatest(n - i, F.lit(0))).alias(f"_s{i}")
            for i in range(k)
        ]).alias("_z"),
    )
    removed = F.reverse(F.transform(
        F.col("_z"), lambda s: F.greatest(*[s[f"_s{i}"] for i in range(k)])))
    kept = zipped.select(
        id_col, "n_tokens",
        F.array_compact(F.zip_with(
            F.col("_toks"), removed,
            lambda t, r: F.when(r == 0, t))).alias("_kept"),
    )
    return kept.select(
        id_col,
        F.array_join("_kept", " ").alias("text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size("_kept").cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# exact set-similarity join (prefix filtering)
# ---------------------------------------------------------------------------

def set_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT all-pairs Jaccard join above ``threshold`` via prefix
    filtering (Vernica, Carey & Li, "Efficient Parallel Set-Similarity
    Joins Using MapReduce", SIGMOD 2010) — the lossless complement to
    the probabilistic MinHash-LSH path: LSH trades recall for speed
    (a twin pair can land in no shared band), this join GUARANTEES
    every pair with ``J(A, B) >= threshold`` comes back, with its exact
    score. Use it when dedup must be auditable (legal takedowns,
    benchmark decontamination sign-off) or to measure LSH recall.

    Why it scales without the O(n^2) blowup the guarantee suggests:
    under any single global token ordering, two sets with Jaccard >= t
    MUST share a token inside their first ``|x| - ceil(t*|x|) + 1``
    tokens (if the prefixes were disjoint, the overlap needed to reach
    t cannot fit in the remainder). So:

    1. one pass computes per-shingle document frequency (map-side
       partial count — the frequency table never leaves the cluster);
    2. each doc's shingle set is ordered RAREST-FIRST (df asc, then
       shingle asc for determinism) and only the short prefix — about
       ``(1 - t) * |set|`` shingles — is exploded;
    3. candidates come from an equi-join of prefix rows on the shingle
       key: rare-first ordering deliberately puts the LOW-df shingles
       in prefixes, so join buckets stay small (a stopword shingle with
       df = 10^6 sorts last and almost never enters a prefix);
    4. a size filter (``min(|A|, |B|) >= t * max(|A|, |B|)`` — implied
       by J >= t since J <= min/max) prunes in the join condition;
    5. only surviving candidate pairs are verified with the exact
       intersection/union arithmetic.

    Float guard: ``t * n`` in binary can overshoot an exact integer
    boundary (0.8 * 5 = 4.0000000000000002 -> ceil 5 shortens the
    prefix and LOSES pairs at exactly J = t), so both the prefix length
    and the size filter subtract a 1e-9 epsilon — slack only ever ADDS
    candidates, which the exact verify step then scores.

    Returns ``(a, b, jaccard)`` with ``a < b``, jaccard rounded to 6dp
    (the repo's cross-engine float convention) and ``>= threshold``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    eps = 1e-9
    sets = (
        df.select(
            F.col(id_col).alias("_id"),
            shingles_col(F.col(text_col), shingle_n).alias("sh"))
        .withColumn("n", F.size("sh"))
        .persist()
    )
    ex = sets.select("_id", "n", F.explode("sh").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
    # rare-first global order = sort key (df, g); struct array_sort is
    # deterministic whatever order collect_list saw the rows in
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(eps))
        + F.lit(1)
    ).cast("int")
    pref = (
        ex.join(dfreq, "g")
        .groupBy("_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("os"))
        .select(
            "_id", "n",
            F.explode(
                F.slice(F.transform("os", lambda s: s["g"]),
                        F.lit(1), prefix_len)).alias("g"))
    )
    a, b = pref.alias("pa"), pref.alias("pb")
    cands = (
        a.join(
            b,
            (F.col("pa.g") == F.col("pb.g"))
            & (F.col("pa._id") < F.col("pb._id"))
            & (F.least("pa.n", "pb.n")
               >= F.lit(threshold) * F.greatest("pa.n", "pb.n") - F.lit(eps)),
        )
        .select(F.col("pa._id").alias("a"), F.col("pb._id").alias("b"))
        .distinct()
    )
    j = (
        cands
        .join(sets.select(F.col("_id").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sets.select(F.col("_id").alias("b"), F.col("sh").alias("sh_b")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    out = j.transform(_materialize)
    sets.unpersist()
    return out


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT asymmetric containment join: every ordered pair (a, b)
    with ``C(a->b) = |Sa ∩ Sb| / |Sa| >= threshold`` — quote, excerpt
    and syndication detection, where Jaccard goes blind: a 50-shingle
    quote inside a 5000-shingle article has J ~ 0.01 but containment
    1.0, so :func:`set_similarity_join` (and any symmetric LSH) can
    never surface it.

    Same prefix-filter machinery as the Jaccard join — the bound
    depends only on the PROBE side's required overlap (>= ceil(t*|Sa|)
    shared shingles force one inside Sa's first ``n - ceil(t*n) + 1``
    rarest) — but the INDEX side explodes fully (its size gives no
    pruning power for asymmetric containment beyond ``|Sb| >= t*|Sa|``,
    applied in the join condition). Rare-first prefixes keep the probe
    side out of stopword-shingle buckets; the full index side is the
    same (shingle, id) stream ``build_postings`` ships. Both sides'
    floats carry the 1e-9 epsilon slack (candidates only ever widen;
    the exact verify rescores).

    Returns ``(a, b, containment, jaccard)`` with a != b (BOTH
    directions can appear — mutual containment is near-duplication),
    containment/jaccard 6dp, containment >= threshold.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    eps = 1e-9
    sets = (
        df.select(
            F.col(id_col).alias("_id"),
            shingles_col(F.col(text_col), shingle_n).alias("sh"))
        .withColumn("n", F.size("sh"))
        .persist()
    )
    ex = sets.select("_id", "n", F.explode("sh").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(eps))
        + F.lit(1)
    ).cast("int")
    pref = (
        ex.join(dfreq, "g")
        .groupBy("_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("os"))
        .select(
            "_id", "n",
            F.explode(
                F.slice(F.transform("os", lambda s: s["g"]),
                        F.lit(1), prefix_len)).alias("g"))
    )
    idx = ex.select(F.col("_id").alias("b"), F.col("n").alias("nb"), "g")
    cands = (
        pref.join(idx, "g")
        .filter((F.col("_id") != F.col("b"))
                & (F.col("nb")
                   >= F.lit(threshold) * F.col("n") - F.lit(eps)))
        .select(F.col("_id").alias("a"), "b")
        .distinct()
    )
    out = (
        cands
        .join(sets.select(F.col("_id").alias("a"),
                          F.col("sh").alias("sh_a")), "a")
        .join(sets.select(F.col("_id").alias("b"),
                          F.col("sh").alias("sh_b")), "b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "containment",
            F.round(F.col("_inter")
                    / F.greatest(F.size("sh_a"), F.lit(1)), 6))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")),
                             F.lit(1)), 6))
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment", "jaccard")
    )
    ck = out.transform(_materialize)
    sets.unpersist()
    return ck


def lsh_banding_plan(
    spark,
    num_hashes: int = 128,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH banding planner: for every factorization
    ``num_hashes = bands x rows``, the S-curve collision probability
    ``P(candidate | jaccard=s) = 1 - (1 - s^rows)^bands`` evaluated at
    the target threshold, just below it (threshold - 0.1, the false-
    positive region) and just above (threshold + 0.1, the recall
    region) — the table you read before fixing (bands, rows) instead of
    cargo-culting (16, 8). Sharper knee at the threshold = better
    plan; the conventional pick is the factorization whose knee
    ``(1/bands)^(1/rows)`` lands nearest the threshold.

    Pure math over a generated factorization table — no corpus pass at
    all; 6dp rounding, engine-reproducible.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    facts = (
        spark.range(1, num_hashes + 1)
        .select(F.col("id").alias("bands"))
        .filter(F.lit(num_hashes) % F.col("bands") == 0)
        .select("bands", (F.lit(num_hashes) / F.col("bands"))
                .cast("long").alias("rows"))
    )
    def p_at(s: float):
        return F.round(
            1.0 - F.pow(1.0 - F.pow(F.lit(s), F.col("rows")),
                        F.col("bands")), 6)
    return facts.select(
        "bands", "rows",
        F.round(F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows")), 6)
        .alias("knee"),
        p_at(threshold - 0.1).alias("p_below"),
        p_at(threshold).alias("p_at_threshold"),
        p_at(min(threshold + 0.1, 0.999)).alias("p_above"),
    )


def minhash_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """FUZZY benchmark decontamination — the near-dup complement of
    :func:`ngram_contamination`: exact n-gram overlap misses an eval
    item that was paraphrased, truncated, or lightly edited on its way
    into the crawl, but its shingle set still collides in MinHash-LSH
    space. Per corpus document, every benchmark item sharing an LSH
    band AND agreeing on >= ``threshold`` of the minhash components is
    a fuzzy contamination hit; returns
    ``(id_col, n_bench_matches, max_est_jaccard)`` for hit documents
    only. The GPT-3 appendix-C shape (13-gram exact) upgraded to the
    Llama/FineWeb-era fuzzy check.

    Corpus and benchmark ids may share a namespace — unlike the dedup
    operators there is NO self-exclusion: an eval item byte-identical
    to a corpus document is precisely what must be flagged.

    Scale shape: the corpus side is one scan-stage signature fold plus
    a bands-wide posexplode; the benchmark side (~10^4-10^6 eval
    items) builds the same signatures and BROADCASTS, so the corpus
    never shuffles for the probe — the only exchanges are the pair
    distinct and the per-document aggregate, both over collision
    survivors already thresholded on the estimate. Candidates come
    only from band collisions, never all-pairs. Disable
    ``broadcast_benchmark`` for a corpus-sized benchmark; AQE then
    picks the strategy."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    bsig = benchmark.select(
        F.col(bench_id_col).alias("_bid"),
        minhash_signature(F.col(bench_text_col), num_hashes, shingle_n)
        .alias("_bsig"),
    )
    bb = bsig.select(
        "_bid", "_bsig",
        F.explode(_sig_band_buckets(F.col("_bsig"), num_hashes, bands))
        .alias("_bb"),
    ).select("_bid", "_bsig", "_bb.band", "_bb.bucket")
    csig = df.select(
        F.col(id_col),
        minhash_signature(F.col(text_col), num_hashes, shingle_n)
        .alias("_csig"),
    )
    cb = csig.select(
        id_col, "_csig",
        F.explode(_sig_band_buckets(F.col("_csig"), num_hashes, bands))
        .alias("_bb"),
    ).select(id_col, "_csig", "_bb.band", "_bb.bucket")
    hint = F.broadcast if broadcast_benchmark else (lambda d: d)
    est = (
        F.size(F.filter(
            F.zip_with("_csig", "_bsig", lambda a, b: a == b),
            lambda x: x,
        )) / F.lit(num_hashes)
    )
    pairs = (
        cb.join(hint(bb), ["band", "bucket"])
        .withColumn("_est", F.round(est, 6))
        .filter(F.col("_est") >= threshold)
        .select(id_col, "_bid", "_est")
        .distinct()
    )
    return (
        pairs.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bench_matches"),
            F.max("_est").alias("max_est_jaccard"),
        )
    )
