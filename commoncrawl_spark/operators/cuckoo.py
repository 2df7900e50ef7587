"""Partitioned cuckoo-filter URL-seen set: the Bloom prefilter's twin
with DELETION support and in-place delta inserts.

The north rule names a "bloom/cuckoo URL-seen set"; ``seen_set.py`` is
the Bloom half. The cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher
— "Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014) stores
16-bit fingerprints in 4-way-associative buckets with two candidate
positions per key (``i2 = i1 XOR mix(fp)``), which buys two things a
crawler wants and Bloom structurally cannot give:

* **deletion** — recrawl eviction: a URL whose TTL lapses is removed
  from the filter IN PLACE (clear one fingerprint slot) instead of
  rebuilding a bitmap from the full key history;
* **in-place delta inserts** — ``CuckooSeenSet.add`` edits only the
  touched buckets' blobs with just the delta keys; the 10^10-key
  history is never rescanned (Bloom's per-bucket rebuild refolds every
  key of a touched bucket).

Distribution shape is identical to the Bloom path (and shares its
tests' invariants): one blob per ``pmod(xxhash64(key), P)`` bucket,
built/edited/probed with ``applyInPandas`` / cogroup — each task holds
exactly ONE bucket's blob, nothing is collected to or broadcast from
the driver. Membership is made EXACT the same way: the filter only
prefilters (false positives fall to an exact anti-join on survivors),
and false negatives are impossible by construction — every inserted
fingerprint lives in one of its two buckets or in the bucket's spill
list (kick chains that exceed ``_MAX_KICKS`` spill the homeless
fingerprint rather than dropping it), and deletion clears exactly one
occurrence of a fingerprint that is actually present (duplicate keys
occupy duplicate slots, multiset-style, so deleting one key never
erases another's copy — the 2014 paper's deletion-safety argument).

Sizing: 4-slot buckets at 16-bit fingerprints cost ~2.5 bytes/key at
95% load — ~25 GB for 10^10 keys across 1024 buckets (~24 MB/bucket),
executor-resident like the Bloom blobs, with ~0.03% false positives
(vs Bloom's 1% at 1.2 bytes/key): the survivors' exact-join shuffle
shrinks another ~30x.

Keys are 40-char lowercase sha1 hex (``with_url_key``); fingerprint and
primary index are fixed hex slices of the key itself — no second hash
pass, bit-identical across build/probe/remove (same trick as
``seen_set._key_indices``).

Reference analog: the same six "skip if key in completed set" sites as
A5 (create_tasks.py:62-66, download_warc_segments.py:163-184, ...), all
driver-memory Python sets there; plus recrawl eviction, which the
reference approximates by deleting output files so the resume scan
re-queues them (download_warc_segments.py:163-171 existence check).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .seen_set import anti_join_seen, key_generation
from ..materialize import materialize as _materialize

_ASSOC = 4            # slots per cuckoo bucket (the 2014 paper's sweet spot)
_FP_MIX = 0x5BD1E995  # odd multiplier: i2 = i1 XOR ((fp * mix) & mask)
_MAX_KICKS = 500      # eviction-chain bound; beyond it the fp spills

CUCKOO_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("n_slots", T.LongType()),
    T.StructField("n_keys", T.LongType()),
    T.StructField("table", T.BinaryType()),
    T.StructField("spill", T.BinaryType()),
])

_HEX_W8 = (16 ** np.arange(7, -1, -1)).astype(np.int64)
_HEX_W4 = (16 ** np.arange(3, -1, -1)).astype(np.int64)


def _n_slots_for(n_keys: int, headroom: float) -> int:
    """Power-of-two cuckoo-bucket count for ``n_keys`` at the given
    capacity headroom (1.6 ~ 62% load: kick chains stay short and
    in-place delta growth has room before a rebuild)."""
    need = max(int(n_keys * headroom) // _ASSOC + 1, 1)
    return 1 << (need - 1).bit_length()


def _fp_index(keys: pd.Series, n_slots: int) -> tuple[np.ndarray, np.ndarray]:
    """(fingerprint, primary index) from fixed slices of the sha1 hex.

    fp = hex[0:4] (16 bits, 0 remapped to 1 — 0 is the empty-slot
    sentinel); i1 = hex[4:12] masked to the table size. Vectorized
    nibble decode, no per-row Python.
    """
    n = len(keys)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    codes = (
        keys.str.slice(0, 12)
        .to_numpy(dtype="U12")
        .view(np.uint32)
        .reshape(n, 12)
        .astype(np.int64)
    )
    nib = codes - ord("0")
    nib[nib > 9] -= ord("a") - ord("0") - 10
    fp = (nib[:, 0:4] * _HEX_W4).sum(axis=1)
    fp[fp == 0] = 1
    i1 = (nib[:, 4:12] * _HEX_W8).sum(axis=1) & (n_slots - 1)
    return fp, i1


def _alt(idx: np.ndarray, fp: np.ndarray, n_slots: int) -> np.ndarray:
    return idx ^ ((fp * _FP_MIX) & (n_slots - 1))


def _group_ranks(idx: np.ndarray) -> np.ndarray:
    """Rank of each element within its equal-value group (stable), so a
    batch of same-bucket inserts claims distinct free slots without a
    Python loop."""
    if idx.size == 0:
        return idx
    order = np.argsort(idx, kind="stable")
    s = idx[order]
    new = np.r_[True, s[1:] != s[:-1]]
    gid = np.cumsum(new) - 1
    starts = np.nonzero(new)[0]
    out = np.empty(len(idx), dtype=np.int64)
    out[order] = np.arange(len(s)) - starts[gid]
    return out


def _insert(table: np.ndarray, fp: np.ndarray, i1: np.ndarray,
            n_slots: int) -> list[int]:
    """Insert fingerprints into ``table`` (mutated); returns spilled
    ``(idx << 16) | fp`` entries. Two vectorized greedy passes (primary
    index, then alternate) place the bulk; only residual collisions walk
    the per-item deterministic kick chain. Robust to deletion holes:
    free slots are located by scan, not by a contiguous-fill counter."""
    spill: list[int] = []
    idx = i1
    for attempt in range(2):
        if fp.size == 0:
            return spill
        t2 = table.reshape(n_slots, _ASSOC)
        free_cnt = (t2 == 0).sum(axis=1)
        fb, fs = np.nonzero(t2 == 0)  # row-major -> fb ascending
        start = np.searchsorted(fb, idx)
        r = _group_ranks(idx)
        take = r < free_cnt[idx]
        pos = start[take] + r[take]
        table[idx[take] * _ASSOC + fs[pos]] = fp[take]
        fp, idx = fp[~take], idx[~take]
        if attempt == 0:
            idx = _alt(idx, fp, n_slots)
    mask = n_slots - 1
    for f0, idx0 in zip(fp.tolist(), idx.tolist()):
        cur, at = int(f0), int(idx0)
        placed = False
        for kick in range(_MAX_KICKS):
            base = at * _ASSOC
            row = table[base:base + _ASSOC]
            e = np.nonzero(row == 0)[0]
            if e.size:
                table[base + e[0]] = cur
                placed = True
                break
            v = kick % _ASSOC  # deterministic victim: reproducible blobs
            cur, table[base + v] = int(table[base + v]), cur
            at = at ^ ((cur * _FP_MIX) & mask)
        if not placed:
            spill.append((at << 16) | cur)
    return spill


def _probe(table: np.ndarray, n_slots: int, spill: np.ndarray,
           keys: pd.Series) -> np.ndarray:
    """Vectorized membership: fp present in either candidate bucket, or
    in the spill list (matched on (index, fp) — for a fixed fp the two
    candidate indices form a closed XOR orbit, so one match suffices)."""
    fp, i1 = _fp_index(keys, n_slots)
    i2 = _alt(i1, fp, n_slots)
    t2 = table.reshape(n_slots, _ASSOC)
    hit = (t2[i1] == fp[:, None]).any(axis=1)
    hit |= (t2[i2] == fp[:, None]).any(axis=1)
    if spill.size:
        c1 = (i1.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
        c2 = (i2.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
        hit |= np.isin(c1, spill) | np.isin(c2, spill)
    return hit


def _remove(table: np.ndarray, n_slots: int, spill: np.ndarray,
            keys: pd.Series) -> np.ndarray:
    """Clear ONE occurrence per key (multiset deletion — safe only for
    keys actually inserted; ``CuckooSeenSet.remove`` enforces that with
    a semi-join). Vectorized pre-check skips absent keys; the clearing
    loop runs only over present ones, i.e. delta-sized work."""
    fp, i1 = _fp_index(keys, n_slots)
    i2 = _alt(i1, fp, n_slots)
    present = _probe(table, n_slots, spill, keys)
    for j in np.nonzero(present)[0]:
        f = int(fp[j])
        cleared = False
        for at in (int(i1[j]), int(i2[j])):
            base = at * _ASSOC
            m = np.nonzero(table[base:base + _ASSOC] == f)[0]
            if m.size:
                table[base + m[0]] = 0
                cleared = True
                break
        if not cleared and spill.size:
            c1 = (np.uint64(i1[j]) << np.uint64(16)) | np.uint64(f)
            c2 = (np.uint64(i2[j]) << np.uint64(16)) | np.uint64(f)
            w = np.nonzero((spill == c1) | (spill == c2))[0]
            if w.size:
                spill = np.delete(spill, w[0])
    return spill


def _blob_row(bucket: int, n_slots: int, n_keys: int, table: np.ndarray,
              spill: np.ndarray | list[int]) -> pd.DataFrame:
    sp = np.asarray(spill, dtype=np.uint64)
    return pd.DataFrame({
        "bucket": [bucket],
        "n_slots": [n_slots],
        "n_keys": [n_keys],
        "table": [table.tobytes()],
        "spill": [sp.tobytes()],
    })


def _with_bucket(df: DataFrame, n_buckets: int, key: str,
                 out: str = "bucket") -> DataFrame:
    return df.withColumn(
        out, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def build_cuckoo_table(seen: DataFrame, n_buckets: int = 64,
                       headroom: float = 1.6,
                       key: str = "url_sha1") -> DataFrame:
    """One cuckoo-filter blob per hash bucket (executor-side build, same
    shape as ``build_bloom_table``)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        ks = pdf[key]
        n_slots = _n_slots_for(len(ks), headroom)
        table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
        fp, i1 = _fp_index(ks, n_slots)
        spill = _insert(table, fp, i1, n_slots)
        return _blob_row(int(pdf["bucket"].iloc[0]), n_slots, len(ks),
                         table, spill)

    bucketed = _with_bucket(seen.select(key), n_buckets, key)
    return bucketed.groupBy("bucket").applyInPandas(build, CUCKOO_SCHEMA)


def cuckoo_prefilter(candidates: DataFrame, cuckoo_table: DataFrame,
                     n_buckets: int = 64, key: str = "url_sha1") -> DataFrame:
    """Flag candidates that MAY be in the seen set (``_maybe_seen``).
    Distribution identical to ``bloom_prefilter``: candidates shuffle by
    the blob bucketing and CO-GROUP with the one-row-per-bucket blob
    table — the blob table never leaves the executors."""
    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        out = cand.drop(columns=["_bucket"])
        if len(out) == 0:
            out["_maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if len(blob) == 0:
            out["_maybe_seen"] = False
            return out
        n_slots = int(blob["n_slots"].iloc[0])
        table = np.frombuffer(blob["table"].iloc[0], np.uint16)
        spill = np.frombuffer(blob["spill"].iloc[0], np.uint64)
        out["_maybe_seen"] = _probe(table, n_slots, spill, out[key])
        return out

    with_b = _with_bucket(candidates, n_buckets, key, "_bucket")
    return (
        with_b.groupBy("_bucket")
        .cogroup(cuckoo_table.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def anti_join_seen_cuckoo(candidates: DataFrame, seen: DataFrame,
                          n_buckets: int = 64, headroom: float = 1.6,
                          key: str = "url_sha1",
                          cuckoos: DataFrame | None = None) -> DataFrame:
    """Cuckoo prefilter + exact anti-join on survivors: exact overall
    (false positives are verified away; false negatives are impossible
    — property-tested like the Bloom path)."""
    if cuckoos is None:
        cuckoos = build_cuckoo_table(seen, n_buckets, headroom, key)
    flagged = cuckoo_prefilter(candidates, cuckoos, n_buckets, key).persist()
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    survivors = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    return definitely_new.unionByName(anti_join_seen(survivors, seen, key))


class CuckooSeenSet:
    """Long-lived seen-set state with DELETION (recrawl eviction).

    Same LSM layout as ``BloomSeenSet`` — key history as hash-partitioned
    persisted GENERATIONS (the verify fold never reshuffles history),
    blobs persisted executor-side — plus the cuckoo capabilities:

    * ``add(delta)`` edits blobs IN PLACE via a (delta x blobs) cogroup:
      only the delta's fingerprints move; history keys are not rescanned
      (Bloom must refold every key of a touched bucket). When cumulative
      inserts push the filter past ~85% of capacity it rebuilds once,
      resized.
    * ``remove(keys)`` evicts URLs so they become crawlable again:
      fingerprints cleared in place (delta-sized cogroup) and the keys
      anti-joined out of each generation — both sides of that join are
      hash-partitioned on the key, so no exchange; membership stays
      exact immediately.
    """

    def __init__(self, seen: DataFrame, n_buckets: int = 64,
                 headroom: float = 1.6, key: str = "url_sha1",
                 max_generations: int = 8):
        self.key, self.n_buckets, self.headroom = key, n_buckets, headroom
        self.max_generations = max_generations
        spark = seen.sparkSession
        self._P = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self._gens = [key_generation(seen, key, self._P, stable=True)]
        self._n_keys = self._gens[0].count()
        self.cuckoos = build_cuckoo_table(
            self.seen, n_buckets, headroom, key).persist()
        self._capacity = self._blob_capacity()
        self._last_probe: DataFrame | None = None

    @property
    def seen(self) -> DataFrame:
        out = self._gens[0]
        for g in self._gens[1:]:
            out = out.unionByName(g)
        return out

    def _blob_capacity(self) -> int:
        row = self.cuckoos.agg(
            (F.sum("n_slots") * _ASSOC).alias("cap")).first()
        return int(row["cap"] or 0)

    def _edit_blobs(self, delta: DataFrame, mode: str) -> DataFrame:
        """(delta x blobs) cogroup: per touched bucket, decode the blob,
        insert or clear the delta's fingerprints, re-encode. Buckets
        without delta rows pass through byte-identical."""
        keycol, headroom = self.key, self.headroom
        cols = [f.name for f in CUCKOO_SCHEMA.fields]

        def edit(dk: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
            if len(dk) == 0:
                return blob[cols]
            ks = dk[keycol]
            if len(blob) == 0:
                if mode == "remove":
                    return blob.reindex(columns=cols)
                n_slots = _n_slots_for(len(ks), headroom)
                table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
                spill = np.empty(0, dtype=np.uint64)
                n_keys, bucket = 0, int(dk["bucket"].iloc[0])
            else:
                n_slots = int(blob["n_slots"].iloc[0])
                table = np.frombuffer(blob["table"].iloc[0], np.uint16).copy()
                spill = np.frombuffer(blob["spill"].iloc[0], np.uint64).copy()
                n_keys = int(blob["n_keys"].iloc[0])
                bucket = int(blob["bucket"].iloc[0])
            fp, i1 = _fp_index(ks, n_slots)
            if mode == "insert":
                new_spill = _insert(table, fp, i1, n_slots)
                if new_spill:
                    spill = np.concatenate(
                        [spill, np.asarray(new_spill, dtype=np.uint64)])
                n_keys += len(ks)
            else:
                spill = _remove(table, n_slots, spill, ks)
                n_keys -= len(ks)
            return _blob_row(bucket, n_slots, n_keys, table, spill)

        bucketed = _with_bucket(
            delta.select(self.key), self.n_buckets, self.key)
        return (
            bucketed.groupBy("bucket")
            .cogroup(self.cuckoos.groupBy("bucket"))
            .applyInPandas(edit, CUCKOO_SCHEMA)
        )

    def _swap_blobs(self, new_blobs: DataFrame) -> None:
        blobs2 = new_blobs.transform(_materialize)
        old = self.cuckoos
        self.cuckoos = blobs2
        old.unpersist()

    def unseen(self, candidates: DataFrame) -> DataFrame:
        """Exact anti-join, cuckoo-accelerated (same fold as
        ``BloomSeenSet.unseen``: survivors exchange once, generations
        join from cache with zero additional exchanges)."""
        if self._last_probe is not None:
            self._last_probe.unpersist()
        flagged = cuckoo_prefilter(
            candidates, self.cuckoos, self.n_buckets, self.key).persist()
        self._last_probe = flagged
        definitely_new = flagged.filter(
            ~F.col("_maybe_seen")).drop("_maybe_seen")
        survivors = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        for g in self._gens:
            survivors = survivors.join(g, self.key, "left_anti")
        return definitely_new.unionByName(survivors)

    def add(self, new_keys: DataFrame, n_new: int | None = None) -> None:
        """Extend the set: the delta becomes a new generation and its
        fingerprints are inserted into the existing blobs in place —
        only delta-sized data moves. Past ~85% load, rebuild resized.
        ``n_new`` declares ``new_keys`` a committed table's own files
        holding that many keys (as ``BloomSeenSet.add``): no lineage
        cut, no counting job, and an empty delta is a no-op."""
        if n_new == 0:
            return
        delta = key_generation(new_keys, self.key, self._P,
                               stable=n_new is not None)
        self._gens.append(delta)
        self._n_keys += n_new if n_new is not None else delta.count()
        if len(self._gens) > self.max_generations:
            self._compact()
        if self._n_keys > 0.85 * self._capacity:
            fresh = build_cuckoo_table(
                self.seen, self.n_buckets, self.headroom, self.key)
            self._swap_blobs(fresh)
            self._capacity = self._blob_capacity()
        else:
            self._swap_blobs(self._edit_blobs(delta, "insert"))

    def remove(self, keys: DataFrame) -> None:
        """Recrawl eviction: make ``keys`` crawlable again. Only keys
        actually present are touched (semi-join — multiset deletion
        safety); blobs are edited in place and the generations drop the
        keys via partition-aligned anti-joins (no exchange)."""
        removed = (
            keys.select(self.key).distinct()
            .join(self.seen, self.key, "left_semi")
            .transform(_materialize)
            .repartition(self._P, self.key)
            .persist()
        )
        n_removed = removed.count()
        if n_removed == 0:
            removed.unpersist()
            return
        new_gens = []
        for g in self._gens:
            ng = g.join(removed, self.key, "left_anti").persist()
            ng.count()
            g.unpersist()
            new_gens.append(ng)
        self._gens = new_gens
        self._n_keys -= n_removed
        self._swap_blobs(self._edit_blobs(removed, "remove"))
        removed.unpersist()

    def _compact(self) -> None:
        merged = key_generation(self.seen, self.key, self._P, stable=False)
        for g in self._gens:
            g.unpersist()
        self._gens = [merged]

    def release(self) -> None:
        for g in self._gens:
            g.unpersist()
        self._gens = []
        self.cuckoos.unpersist()
        if self._last_probe is not None:
            self._last_probe.unpersist()
            self._last_probe = None
