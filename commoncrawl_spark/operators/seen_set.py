"""URL-seen set: exact anti-join + partitioned filter prefilter.

A5 in the reference is six "skip if key in completed set" sites
(create_tasks.py:62-66, download_and_merge.py:104,
download_warc_segments.py:163-184, extract_from_warc.py:208-216,
get_html.py:107-136, cc_merge_indexes.py:111-114), all driver-memory
Python sets. The engine's key is ``sha1(canonical_punycode_url)``
(north rule), and membership is distributed:

- **exact path**: ``frontier LEFT ANTI JOIN seen ON key`` — one shuffle,
  AQE turns it into a broadcast anti-join when the seen side is small.
- **scale path** (10^10 keys; the seen set dwarfs every frontier batch):
  bucket the seen set by ``pmod(xxhash64(key), P)``, build one filter
  blob per bucket with ``applyInPandas`` (numpy, vectorized), then probe
  by CO-GROUPING candidates with the blob table on the bucket key: each
  task holds exactly ONE bucket's blob (e.g. 1024 buckets x 16 MB of
  Bloom bits covers 10^10 keys at ~1% FP — 16 GB total that never leaves
  the executors; nothing is ever collected to or broadcast from the
  driver). The exact anti-join runs only on the ~1% survivors. Filter
  false positives are then removed exactly; false negatives are
  impossible (property-tested), so the composition is exact while the
  anti-join shuffle shrinks ~100x.

The filter is a per-bucket KERNEL — one blob's numpy code (fresh, fold,
probe, capacity and, where it can delete, remove) plus its schema:
:class:`BloomKernel` here, the cuckoo filter in ``cuckoo.py``. Bucketing,
build, probe and edit cogroups, exact verify and the long-lived
:class:`SeenSet` state are written once, for both.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import url_key_col
from ..materialize import materialize as _materialize
from ..materialize import release as _release

SEEN_SCHEMA = T.StructType([T.StructField("url_sha1", T.StringType(), False)])


def with_url_key(df: DataFrame, url_col: str = "url",
                 out_col: str = "url_sha1") -> DataFrame:
    return df.withColumn(out_col, url_key_col(F.col(url_col)))


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   key: str = "url_sha1") -> DataFrame:
    """Exact resume semantics: keep candidates whose key is not in seen."""
    return candidates.join(seen.select(key).distinct(), key, "left_anti")


# ---------------------------------------------------------------------------
# Bloom kernel
# ---------------------------------------------------------------------------

def _bloom_params(n_keys: int, fp_rate: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for a target false-positive rate."""
    n = max(n_keys, 1)
    m = max(int(-n * math.log(fp_rate) / (math.log(2) ** 2)), 64)
    m = 1 << (m - 1).bit_length()  # power of two -> cheap masking
    k = max(1, min(5, round(m / n * math.log(2))))
    return m, k


_HEX_WEIGHTS = (16 ** np.arange(7, -1, -1)).astype(np.int64)


def _key_indices(keys: pd.Series, m: int, k: int) -> np.ndarray:
    """k bit-indices per key, derived from fixed 32-bit slices of the sha1
    hex itself — no second hash pass needed, identical in build and probe.
    Fully vectorized: the lowercase-hex key decodes via numpy char
    arithmetic (codepoint -> nibble), no per-row Python."""
    n = len(keys)
    width = 8 * k
    codes = (
        keys.str.slice(0, width)
        .to_numpy(dtype=f"U{width}")
        .view(np.uint32)
        .reshape(n, width)
        .astype(np.int64)
    )
    nib = codes - ord("0")
    nib[nib > 9] -= ord("a") - ord("0") - 10
    out = np.empty((n, k), dtype=np.int64)
    for j in range(k):
        out[:, j] = (nib[:, j * 8:(j + 1) * 8] * _HEX_WEIGHTS).sum(axis=1) % m
    return out


def _fold_keys(bits: np.ndarray, keys: pd.Series, m: int, k: int) -> None:
    """OR the k bit positions of every key into ``bits`` in place."""
    idx = _key_indices(keys, m, k).ravel()
    np.bitwise_or.at(bits, idx // 8, (1 << (idx % 8)).astype(np.uint8))


def _blob_row(bucket: int, m: int, k: int, n_keys: int,
              bits: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"bucket": [bucket], "m_bits": [m], "k_hashes": [k],
                         "n_keys": [n_keys], "bloom": [bits.tobytes()]})


BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("k_hashes", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("bloom", T.BinaryType()),
    ]
)


@dataclass(frozen=True)
class BloomKernel:
    """One bucket's Bloom bitmap, sized for ``headroom`` times its keys
    at ``fp_rate``. Its bits are a pure function of (m, k, key set), so
    a fold gives exactly the bits a build of the union at that size
    would. Bits cannot be cleared: no ``remove``."""

    fp_rate: float = 0.01
    headroom: float = 1.0
    schema = BLOOM_SCHEMA
    size_col = "m_bits"
    remove = None

    def fresh(self, bucket: int, keys: pd.Series) -> pd.DataFrame:
        m, k = _bloom_params(int(len(keys) * self.headroom), self.fp_rate)
        bits = np.zeros(m // 8, dtype=np.uint8)
        _fold_keys(bits, keys, m, k)
        return _blob_row(bucket, m, k, len(keys), bits)

    def fold(self, blob: pd.DataFrame, keys: pd.Series) -> pd.DataFrame:
        m, k = int(blob["m_bits"].iloc[0]), int(blob["k_hashes"].iloc[0])
        bits = np.frombuffer(blob["bloom"].iloc[0], np.uint8).copy()
        _fold_keys(bits, keys, m, k)
        return _blob_row(int(blob["bucket"].iloc[0]), m, k,
                         int(blob["n_keys"].iloc[0]) + len(keys), bits)

    def probe(self, blob: pd.DataFrame, keys: pd.Series) -> np.ndarray:
        m, k = int(blob["m_bits"].iloc[0]), int(blob["k_hashes"].iloc[0])
        bits = np.frombuffer(blob["bloom"].iloc[0], np.uint8)
        idx = _key_indices(keys, m, k)
        hit = np.ones(len(keys), dtype=bool)
        for j in range(k):
            hit &= (bits[idx[:, j] // 8] >> (idx[:, j] % 8) & 1).astype(bool)
        return hit

    def capacity(self, m_bits: int) -> int:
        """Keys a blob of ``m_bits`` holds within ``fp_rate`` (the inverse
        of :func:`_bloom_params`' sizing, before its power-of-two
        rounding)."""
        return int(m_bits * math.log(2) ** 2 / -math.log(self.fp_rate))


# ---------------------------------------------------------------------------
# Per-bucket scaffold, shared by every kernel
# ---------------------------------------------------------------------------

def _with_bucket(df: DataFrame, key: str, n_buckets: int,
                 bucket_expr: Column | None = None,
                 out: str = "bucket") -> DataFrame:
    return df.withColumn(
        out,
        (bucket_expr if bucket_expr is not None
         else F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))).cast("int"),
    )


def build_table(seen: DataFrame, kernel, n_buckets: int = 64,
                key: str = "url_sha1",
                bucket_expr: Column | None = None) -> DataFrame:
    """One ``kernel`` blob per hash bucket. Bucketing by xxhash64 spreads
    even a single-host corpus uniformly (keys are sha1 hex — already
    uniform)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel.fresh(int(pdf["bucket"].iloc[0]), pdf[key])

    bucketed = _with_bucket(seen.select(key), key, n_buckets, bucket_expr)
    return bucketed.groupBy("bucket").applyInPandas(build, kernel.schema)


def prefilter(candidates: DataFrame, blobs: DataFrame, kernel,
              n_buckets: int = 64, key: str = "url_sha1",
              bucket_expr: Column | None = None) -> DataFrame:
    """Flag candidates that MAY be in the seen set (``_maybe_seen``).
    Candidates shuffle by the blobs' bucketing and CO-GROUP with the
    one-row-per-bucket blob table, so each task holds one bucket's blob:
    the 10^10-key blob table (~16 GB at 1024 buckets) never reaches the
    driver, by collect or broadcast."""
    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        out = cand.drop(columns=["_bucket"])
        if len(out) == 0:
            out["_maybe_seen"] = pd.Series([], dtype=bool)
        elif len(blob) == 0:  # no blob for this bucket -> definitely unseen
            out["_maybe_seen"] = False
        else:
            out["_maybe_seen"] = kernel.probe(blob, out[key])
        return out

    return (
        _with_bucket(candidates, key, n_buckets, bucket_expr, "_bucket")
        .groupBy("_bucket")
        .cogroup(blobs.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def _verify(flagged: DataFrame, gens: list[DataFrame],
            key: str) -> DataFrame:
    """Exact membership from a prefilter's flags: definitely-new rows
    pass, and the maybe-seen survivors fold through one left-anti join
    per key generation."""
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    survivors = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    for g in gens:
        survivors = survivors.join(g, key, "left_anti")
    return definitely_new.unionByName(survivors)


def anti_join_filtered(candidates: DataFrame, seen: DataFrame, kernel,
                       n_buckets: int, key: str,
                       blobs: DataFrame | None = None) -> DataFrame:
    """Filter prefilter + exact anti-join on survivors: exact overall.
    The probe frame feeds both union branches, so it is persisted (else
    the probe runs twice) and left to LRU eviction; round loops use
    :meth:`SeenSet.unseen`, which releases it on the next call."""
    if blobs is None:
        blobs = build_table(seen, kernel, n_buckets, key)
    flagged = prefilter(candidates, blobs, kernel, n_buckets, key).persist()
    return _verify(flagged, [seen.select(key).distinct()], key)


# ---------------------------------------------------------------------------
# Bloom entry points
# ---------------------------------------------------------------------------

def build_bloom_table(seen: DataFrame, n_buckets: int = 64,
                      fp_rate: float = 0.01,
                      key: str = "url_sha1",
                      bucket_expr: Column | None = None,
                      headroom: float = 1.0) -> DataFrame:
    """One Bloom blob per hash bucket. ``headroom`` > 1 sizes each blob
    for that many times its keys, so later keys can be OR-ed in within
    ``fp_rate`` (``BloomSeenSet.add``).

    ``bucket_expr`` overrides the default ``pmod(xxhash64(key), P)``
    bucket assignment — for callers that already partition their seen
    set some other deterministic way (the FPR audit derives the bucket
    from a hex slice of the key so a SQL oracle can replay it; a crawl
    sharded by host ring can reuse its ring id). Probes MUST use the
    same expression (``bloom_prefilter(bucket_expr=...)``); the
    expression must be a pure function of the key so build and probe
    agree."""
    return build_table(seen, BloomKernel(fp_rate, headroom), n_buckets, key,
                       bucket_expr)


def bloom_prefilter(candidates: DataFrame, bloom_table: DataFrame,
                    n_buckets: int = 64, key: str = "url_sha1",
                    bucket_expr: Column | None = None) -> DataFrame:
    """:func:`prefilter` over Bloom blobs; ``bucket_expr`` must mirror
    the one the blob table was built with."""
    return prefilter(candidates, bloom_table, BloomKernel(), n_buckets, key,
                     bucket_expr)


def anti_join_seen_scalable(candidates: DataFrame, seen: DataFrame,
                            n_buckets: int = 64, fp_rate: float = 0.01,
                            key: str = "url_sha1",
                            blooms: DataFrame | None = None) -> DataFrame:
    """:func:`anti_join_filtered` over Bloom blobs. Nothing touches the
    driver (``test_seen_set.py::test_bloom_no_driver_collect``)."""
    return anti_join_filtered(candidates, seen, BloomKernel(fp_rate),
                              n_buckets, key, blooms)


# ---------------------------------------------------------------------------
# Long-lived state
# ---------------------------------------------------------------------------

def key_generation(keys: DataFrame, key: str, n_partitions: int,
                   stable: bool) -> DataFrame:
    """One generation of seen keys, hash-partitioned on the key and
    pinned (persisted lazily: the first job that reads it caches it).

    ``stable=True`` means ``keys`` reads stable storage — a committed
    table's own files — so recomputing it gives the same keys and it
    needs no lineage cut. Any other delta is cut first: its lineage
    reaches back through the round's fetch (slow to recompute and, for a
    live HTTP transport, nondeterministic). The repartition comes after
    the cut, which erases outputPartitioning (Scan ExistingRDD); the
    partitioned layout is what lets every later verify join reuse the
    generation without an exchange."""
    g = keys.select(key)
    if stable:
        return g.repartition(n_partitions, key).persist()
    cut = g.transform(_materialize)
    g = cut.repartition(n_partitions, key).persist()
    g._pins = cut  # releasing the generation frees its cut too
    return g


class SeenSet:
    """Long-lived seen-set state over one filter ``kernel``: blobs built
    ONCE, extended by deltas, probed every round.

    A crawl probes the seen set thousands of times but extends it
    incrementally, so the steady-state cost that matters is the PROBE,
    not the build. Two pieces of executor-side state make a round cheap:

    * the per-bucket blob table, which drops definitely-new candidates
      before any join. ``add`` folds only the DELTA's keys into it. Only
      a bucket whose key count outgrows its capacity (the keys its size
      holds within the kernel's error budget) is rebuilt from its key
      history — sized with headroom, each key is refolded O(1) times
      over its life. (Rebuilding every *touched* bucket would not be
      delta-sized: a delta above roughly ``n_buckets * ln(n_buckets)``
      keys touches every bucket.)
    * the seen KEYS, held as an LSM-style list of GENERATIONS, each
      persisted pre-partitioned on the key (:func:`key_generation`). A
      hash-partitioned cached frame satisfies the verify join's
      distribution requirement as-is, so the per-round exact check
      exchanges ONLY the filter survivors — the 10^10-key history is
      never reshuffled (pinned by
      ``test_seen_set_verify_never_reshuffles_seen``). ``add`` shuffles
      just the round's delta into a new generation; once
      ``max_generations`` accumulate they compact into one, and the
      blobs are rebuilt fresh from it (a full pass amortized over that
      many rounds).

    Construction runs no Spark job: the base generation and the blobs
    are built by the first probe that reads them. A delta read back from
    the seen table's own commit (``add(..., n_new=...)``) is stable
    storage: no lineage cut and no counting job. Everything stays
    distributed (DataFrames, executor-side persist); only per-bucket key
    counts and blob sizes (``n_buckets`` small rows) reach the driver.
    """

    def __init__(self, seen: DataFrame, kernel, n_buckets: int = 64,
                 key: str = "url_sha1", max_generations: int = 8):
        self.kernel, self.key, self.n_buckets = kernel, key, n_buckets
        self.max_generations = max_generations
        self._P = int(seen.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        # the base generation usually comes from stable storage (a
        # snapshot table) — deterministic lineage, no checkpoint needed
        self._gens = [key_generation(seen, key, self._P, stable=True)]
        self.blobs = self._build(self.seen).persist()
        self._last_probe: DataFrame | None = None

    @property
    def seen(self) -> DataFrame:
        """All generations as one frame (blob rebuilds, callers)."""
        out = self._gens[0]
        for g in self._gens[1:]:
            out = out.unionByName(g)
        return out

    def _build(self, keys: DataFrame) -> DataFrame:
        return build_table(keys, self.kernel, self.n_buckets, self.key)

    def unseen(self, candidates: DataFrame) -> DataFrame:
        """Exact anti-join, filter-accelerated with the prebuilt blobs.

        Verify step: fold the survivors through one left-anti join per
        generation. The first join exchanges the survivors once; a
        sort-merge join preserves its streamed side's partitioning, so
        every later generation joins with ZERO additional exchanges.

        The previous call's probe cache is released here: a round loop
        probing thousands of times holds at most ONE probe frame in
        storage, instead of leaking one per round."""
        if self._last_probe is not None:
            _release(self._last_probe)
        self._last_probe = prefilter(
            candidates, self.blobs, self.kernel, self.n_buckets,
            self.key).persist()
        return _verify(self._last_probe, self._gens, self.key)

    def add(self, new_keys: DataFrame, n_new: int | None = None) -> None:
        """Extend the set with delta-sized work: the delta becomes a new
        generation (only its keys are shuffled) and its keys are folded
        into the blobs; a bucket past its capacity is rebuilt from its
        history. ``n_new`` declares ``new_keys`` a committed table's own
        files holding that many keys (``SnapshotTable.read_added``):
        stable storage, so no lineage cut, and an empty delta is a
        no-op."""
        if n_new == 0:
            return
        gen = key_generation(new_keys, self.key, self._P,
                             stable=n_new is not None)
        self._gens.append(gen)
        if len(self._gens) > self.max_generations:
            self._compact()
            return
        # fold the keys the GENERATION holds, not the raw new_keys plan:
        # a key set that differed between the fold and the stored
        # generation would leave a stored key out of its blob — a filter
        # false negative, the one error class the exactness contract
        # forbids
        folded = self._edit(gen, self.kernel.fold).transform(
            _materialize, eager=False)
        size = self.kernel.size_col
        # the materializing action: per-bucket sizes, n_buckets rows
        full = [r["bucket"] for r in
                folded.select("bucket", size, "n_keys").collect()
                if r["n_keys"] > self.kernel.capacity(r[size])]
        self._swap_blobs(folded)
        if full:
            self._swap_blobs(self._rebuild(folded, full))

    def remove(self, keys: DataFrame) -> None:
        """Recrawl eviction: make ``keys`` crawlable again. Only present
        keys are touched (semi-join: multiset deletion is safe only for
        inserted keys); the generations drop them via partition-aligned
        anti-joins. A kernel that can delete clears them from their
        blobs in place; Bloom rebuilds the touched buckets from the
        remaining history."""
        removed = key_generation(
            keys.select(self.key).distinct()
            .join(self.seen, self.key, "left_semi"),
            self.key, self._P, stable=False)
        if removed.count() == 0:
            _release(removed)
            return
        old, self._gens = self._gens, [
            g.join(removed, self.key, "left_anti").persist()
            for g in self._gens]
        for g, o in zip(self._gens, old):
            g.count()
            _release(o)
        if self.kernel.remove is not None:
            blobs = self._edit(removed, self.kernel.remove).transform(
                _materialize)
        else:
            touched = [r["bucket"] for r in
                       _with_bucket(removed, self.key, self.n_buckets)
                       .select("bucket").distinct().collect()]
            blobs = self._rebuild(self.blobs, touched)
        self._swap_blobs(blobs)
        _release(removed)

    def _edit(self, delta: DataFrame, op) -> DataFrame:
        """(delta x blobs) cogroup: each bucket's delta keys go through
        ``op`` (the kernel's ``fold`` or ``remove``). Buckets without
        delta keys pass through; a bucket without a blob gets a fresh
        one (only a fold meets one: removed keys' buckets hold blobs)."""
        kernel, keycol = self.kernel, self.key

        def fold(dk: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
            if len(dk) == 0:
                return blob
            if len(blob) == 0:
                return kernel.fresh(int(dk["bucket"].iloc[0]), dk[keycol])
            return op(blob, dk[keycol])

        return (
            _with_bucket(delta, self.key, self.n_buckets).groupBy("bucket")
            .cogroup(self.blobs.groupBy("bucket"))
            .applyInPandas(fold, kernel.schema)
        )

    def _rebuild(self, blobs: DataFrame, buckets: list[int]) -> DataFrame:
        """``blobs`` with ``buckets`` rebuilt fresh from the key history
        (a bucket left with no keys drops out), cut."""
        rebuilt = self._build(
            _with_bucket(self.seen, self.key, self.n_buckets)
            .filter(F.col("bucket").isin(buckets)).drop("bucket"))
        return (blobs.filter(~F.col("bucket").isin(buckets))
                .unionByName(rebuilt).transform(_materialize))

    def _swap_blobs(self, blobs: DataFrame) -> None:
        """Adopt ``blobs``, releasing the previous table. Edited blobs
        stay cut, not partition-pinned: the probe cogroups them by
        BUCKET (n_buckets rows — that exchange is noise), and the cut
        stops plan depth and cache-loss recompute growing by one edit
        per round."""
        old, self.blobs = self.blobs, blobs
        _release(old)

    def _compact(self) -> None:
        """Merge all generations into one (one full reshuffle, amortized
        over ``max_generations`` rounds of delta-only adds) and rebuild
        the blobs fresh from it, which resets their headroom. The union
        is cut so the merged generation's lineage is self-contained —
        its ancestors' cached blocks are about to be released."""
        merged = key_generation(self.seen, self.key, self._P, stable=False)
        for g in self._gens:
            _release(g)
        self._gens = [merged]
        self._swap_blobs(self._build(merged).persist())

    def release(self) -> None:
        for g in self._gens:
            _release(g)
        self._gens = []
        _release(self.blobs)
        if self._last_probe is not None:
            _release(self._last_probe)
            self._last_probe = None


# BloomSeenSet sizes blobs for this many times their keys: a bucket is
# rebuilt from its history once its keys double, so each key is refolded
# O(1) times over its life while blob memory stays within 2x
_HEADROOM = 2.0


class BloomSeenSet(SeenSet):
    """:class:`SeenSet` over Bloom blobs (``_HEADROOM`` x their keys at
    ``fp_rate``)."""

    def __init__(self, seen: DataFrame, n_buckets: int = 64,
                 fp_rate: float = 0.01, key: str = "url_sha1",
                 max_generations: int = 8):
        super().__init__(seen, BloomKernel(fp_rate, _HEADROOM), n_buckets,
                         key, max_generations)

    @property
    def blooms(self) -> DataFrame:
        return self.blobs
