"""Partitioned cuckoo-filter URL-seen set: a second per-bucket kernel
for ``seen_set``'s scaffold, one that can DELETE.

The north rule names a "bloom/cuckoo URL-seen set"; ``seen_set.py``
holds the scaffold (bucketing, build, probe cogroup, (delta x blobs)
edit cogroup, exact verify) and the generational state
(``seen_set.SeenSet``), and this module only the cuckoo kernel. The
cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher — "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014) stores 16-bit fingerprints
in 4-way-associative buckets with two candidate positions per key
(``i2 = i1 XOR mix(fp)``), which buys what a crawler wants and Bloom
structurally cannot give:

* **deletion** — recrawl eviction: a URL whose TTL lapses is removed
  from the filter IN PLACE (clear one fingerprint slot) instead of
  rebuilding a bitmap from the bucket's key history;
* **fewer false positives** — ~0.03% against Bloom's 1%, so the
  survivors' exact-join shuffle shrinks another ~30x.

Membership is made EXACT the same way as with Bloom blobs: the filter
only prefilters (false positives fall to an exact anti-join on
survivors), and false negatives are impossible by construction — every
inserted fingerprint lives in one of its two buckets or in the bucket's
spill list (kick chains that exceed ``_MAX_KICKS`` spill the homeless
fingerprint rather than dropping it), and deletion clears exactly one
occurrence of a fingerprint that is actually present (duplicate keys
occupy duplicate slots, multiset-style, so deleting one key never
erases another's copy — the 2014 paper's deletion-safety argument).

Sizing: 4-slot buckets at 16-bit fingerprints cost ~2.5 bytes/key at
95% load — ~25 GB for 10^10 keys across 1024 buckets (~24 MB/bucket),
executor-resident like the Bloom blobs (1.2 bytes/key).

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

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .seen_set import SeenSet, anti_join_filtered, build_table, prefilter

_ASSOC = 4            # slots per cuckoo bucket (the 2014 paper's sweet spot)
_FP_MIX = 0x5BD1E995  # odd multiplier: i2 = i1 XOR ((fp * mix) & mask)
_MAX_KICKS = 500      # eviction-chain bound; beyond it the fp spills
_MAX_LOAD = 0.85      # a blob past this share of its slots is rebuilt

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


def _decode(blob: pd.DataFrame) -> tuple[int, np.ndarray, np.ndarray]:
    """(n_slots, table, spill) of a one-row blob frame, read-only."""
    return (int(blob["n_slots"].iloc[0]),
            np.frombuffer(blob["table"].iloc[0], np.uint16),
            np.frombuffer(blob["spill"].iloc[0], np.uint64))


@dataclass(frozen=True)
class CuckooKernel:
    """One bucket's cuckoo filter, sized for ``headroom`` times the keys
    it is built from (1.6 ~ 62% load). Fingerprints fold in and clear
    out in place; the blob counts as full past ``_MAX_LOAD`` of its
    slots, where kick chains grow long."""

    headroom: float = 1.6
    schema = CUCKOO_SCHEMA
    size_col = "n_slots"

    def fresh(self, bucket: int, keys: pd.Series) -> pd.DataFrame:
        n_slots = _n_slots_for(len(keys), self.headroom)
        table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
        fp, i1 = _fp_index(keys, n_slots)
        spill = _insert(table, fp, i1, n_slots)
        return _blob_row(bucket, n_slots, len(keys), table, spill)

    def fold(self, blob: pd.DataFrame, keys: pd.Series) -> pd.DataFrame:
        n_slots, table, spill = _decode(blob)
        table = table.copy()
        fp, i1 = _fp_index(keys, n_slots)
        spill = np.concatenate(
            [spill, np.asarray(_insert(table, fp, i1, n_slots), np.uint64)])
        return _blob_row(int(blob["bucket"].iloc[0]), n_slots,
                         int(blob["n_keys"].iloc[0]) + len(keys), table, spill)

    def remove(self, blob: pd.DataFrame, keys: pd.Series) -> pd.DataFrame:
        n_slots, table, spill = _decode(blob)
        table = table.copy()
        spill = _remove(table, n_slots, spill, keys)
        return _blob_row(int(blob["bucket"].iloc[0]), n_slots,
                         int(blob["n_keys"].iloc[0]) - len(keys), table, spill)

    def probe(self, blob: pd.DataFrame, keys: pd.Series) -> np.ndarray:
        n_slots, table, spill = _decode(blob)
        return _probe(table, n_slots, spill, keys)

    def capacity(self, n_slots: int) -> int:
        return int(_MAX_LOAD * n_slots * _ASSOC)


def build_cuckoo_table(seen: DataFrame, n_buckets: int = 64,
                       headroom: float = 1.6,
                       key: str = "url_sha1") -> DataFrame:
    """One cuckoo-filter blob per hash bucket (``seen_set.build_table``)."""
    return build_table(seen, CuckooKernel(headroom), n_buckets, key)


def cuckoo_prefilter(candidates: DataFrame, cuckoo_table: DataFrame,
                     n_buckets: int = 64, key: str = "url_sha1") -> DataFrame:
    """Flag candidates that MAY be in the seen set (``_maybe_seen``):
    ``seen_set.prefilter`` over cuckoo blobs — the blob table never
    leaves the executors."""
    return prefilter(candidates, cuckoo_table, CuckooKernel(), n_buckets, key)


def anti_join_seen_cuckoo(candidates: DataFrame, seen: DataFrame,
                          n_buckets: int = 64, headroom: float = 1.6,
                          key: str = "url_sha1",
                          cuckoos: DataFrame | None = None) -> DataFrame:
    """Cuckoo prefilter + exact anti-join on survivors: exact overall
    (false positives are verified away; false negatives are impossible
    — property-tested like the Bloom path)."""
    return anti_join_filtered(candidates, seen, CuckooKernel(headroom),
                              n_buckets, key, cuckoos)


class CuckooSeenSet(SeenSet):
    """``seen_set.SeenSet`` over cuckoo blobs: ``remove`` (recrawl
    eviction) clears fingerprints in place."""

    def __init__(self, seen: DataFrame, n_buckets: int = 64,
                 headroom: float = 1.6, key: str = "url_sha1",
                 max_generations: int = 8):
        super().__init__(seen, CuckooKernel(headroom), n_buckets, key,
                         max_generations)
