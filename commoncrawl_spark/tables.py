"""Iceberg-style snapshot table layer over partitioned Parquet.

The environment has no Iceberg runtime jar, so this module provides the
subset of table semantics the engine needs — atomic append/overwrite
commits, read-latest, time-travel to a snapshot id, and commit metadata —
behind one small class. A real Iceberg catalog is a drop-in replacement
(same call sites, SURVEY.md section 7).

Layout:
    <root>/data/c<snapshot>-<uuid>/part-*.parquet      data files per commit
    <root>/_snapshots/v<N>.json                        manifest: file list + metadata
    <root>/_snapshots/LATEST                           pointer file (atomic rename)

Like an Iceberg manifest, each manifest also carries the rows its commit
wrote (``added_count``), the snapshot's ``record_count`` and, for the
``bounds_by`` columns, its ``column_bounds`` ([min, max]), summed and
merged from the Parquet footers each commit just wrote — so row counts
and column maxima are answered without a Spark job
(:meth:`SnapshotTable.count`, :meth:`SnapshotTable.column_max`). An
unpartitioned table's manifest also carries the snapshot's Spark
``schema``, from the same footers, so reading it runs no
schema-inference job.

Commit protocol (crash-safe, mirrors the reference's append-only logs +
"scan outputs to rebuild state" resume at download_and_merge.py:83-102):
data dirs are written first, then the manifest, then the LATEST pointer is
swapped with os.replace — a crash at any point leaves either the previous
snapshot fully intact or orphan data dirs that no manifest references
(ignored by readers, removable by maintenance).
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from .materialize import materialize as _materialize


def _spark_cast_string(value: Any) -> str | None:
    """Replicate Spark's ``CAST(x AS STRING)`` rendering driver-side.

    The Bloom build hashes ``F.md5(col.cast("string"))`` JVM-side, so
    the probe must hash the SAME rendering or a file containing the
    value is wrongly skipped — a silent false negative (booleans render
    ``true`` not ``True``; 1.0e7 renders ``1.0E7`` not ``10000000.0``;
    timestamps trim trailing fraction zeros). Returns None for values
    whose rendering is not replicated here (bytes — UTF-8 lossy decode;
    Decimal — needs the column's scale, which the probe is not given;
    tz-aware datetimes — Spark renders the instant in the session
    timezone; doubles outside [1e-290, 9e15) — JDK 17's legacy
    Double.toString emits non-shortest digits there); callers must then
    fall back to keeping all files, never guess. Pass the probe value
    with the Python type matching the column type (int for bigint, float
    for double): the probe does not coerce it for you, and hashing 5
    against a double column (built as "5.0") would miss.
    """
    import datetime
    import math

    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return value
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        # Java Double.toString: shortest round-trip digits; plain form
        # for 1e-3 <= |x| < 1e7, else d.dddEnn scientific.
        # JDK range gate: Spark on JDK 17 uses the LEGACY FloatingDecimal
        # algorithm, which emits non-shortest digits for some values
        # with |v| >= 2^53 and for subnormals (differential fuzz on this
        # host: all mismatches at |v| >= ~1e16 or < ~1e-300; JDK 19+
        # adopted shortest-digits and would match everywhere). Outside
        # the verified-equal range return None -> caller keeps all
        # files, preserving the superset guarantee instead of guessing.
        if math.isnan(value):
            return "NaN"
        if math.isinf(value):
            return "Infinity" if value > 0 else "-Infinity"
        if value == 0.0:
            return "-0.0" if math.copysign(1.0, value) < 0 else "0.0"
        if not 1e-290 <= abs(value) < 9.0e15:
            return None
        import decimal as _dec
        sign = "-" if value < 0 else ""
        d = _dec.Decimal(repr(abs(value))).normalize()
        digits = "".join(map(str, d.as_tuple().digits))
        # exponent E such that |x| = 0.<digits> * 10^E
        e = len(digits) + d.as_tuple().exponent
        if -2 <= e <= 7:  # 1e-3 <= |x| < 1e7
            if e <= 0:
                body = "0." + "0" * (-e) + digits
            elif e >= len(digits):
                body = digits + "0" * (e - len(digits)) + ".0"
            else:
                body = digits[:e] + "." + digits[e:]
        else:
            frac = digits[1:] or "0"
            body = f"{digits[0]}.{frac}E{e - 1}"
        return sign + body
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            # Spark renders the INSTANT in the session timezone; a
            # naive strftime of the aware value's own wall-clock would
            # hash a different key -> silent false negative. Keep-all.
            return None
        s = value.strftime("%Y-%m-%d %H:%M:%S")
        if value.microsecond:
            s += (".%06d" % value.microsecond).rstrip("0")
        return s
    if isinstance(value, datetime.date):
        return value.isoformat()
    return None


def _merge_bounds(a: list, b: list) -> list:
    """[min, max] covering both ranges; None ends are empty sides."""
    lo = [x for x in (a[0], b[0]) if x is not None]
    hi = [x for x in (a[1], b[1]) if x is not None]
    return [min(lo) if lo else None, max(hi) if hi else None]


def _footer_bounds(md, c: str) -> list | None:
    """[min, max] of column ``c`` in one Parquet file, from its footer
    ([None, None] when it holds no non-null value); None when the file
    lacks the column, or a row group holding values lacks min/max
    statistics or they are not JSON numbers/strings."""
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    if c not in names:
        return None
    j, out = names.index(c), [None, None]
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(j).statistics
        if st is not None and st.null_count == md.row_group(g).num_rows:
            continue  # all null: nothing to bound
        if (st is None or not st.has_min_max
                or not isinstance(st.min, (int, float, str))):
            return None
        out = _merge_bounds(out, [st.min, st.max])
    return out


#: the footer key under which Spark's parquet writer stores the Spark
#: schema (JSON) of the rows it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# false-positive rate of the per-file ``bloom_by`` filters
BLOOM_FP_RATE = 0.01


def _schema_field(snap: dict[str, Any], name: str) -> T.StructField | None:
    """Column ``name`` of the schema a snapshot's manifest recorded, or
    None (no recorded schema, or no such column)."""
    if not snap.get("schema"):
        return None
    schema = T.StructType.fromJson(snap["schema"])
    return schema[name] if name in schema.fieldNames() else None


def _merge_types(a: Any, b: Any, where: str = "schema") -> Any:
    """Spark's parquet schema merge (``mergeSchema``) over the JSON form
    of two data types: a struct keeps ``a``'s fields in order, merges
    the ones ``b`` shares and appends the rest of ``b``'s; arrays and
    maps merge their element types; nullability is ORed. Any other
    difference is a type change and raises."""
    if isinstance(a, dict) and isinstance(b, dict) and a["type"] == b["type"]:
        if a["type"] == "struct":
            theirs = {f["name"]: f for f in b["fields"]}
            ours = {f["name"] for f in a["fields"]}
            fields = [
                {**f, "type": _merge_types(f["type"], g["type"],
                                           f"{where}.{f['name']}"),
                 "nullable": f["nullable"] or g["nullable"]}
                if (g := theirs.get(f["name"])) else f
                for f in a["fields"]]
            return {**a, "fields": fields + [f for f in b["fields"]
                                             if f["name"] not in ours]}
        if a["type"] == "array":
            return {**a, "elementType": _merge_types(
                        a["elementType"], b["elementType"], f"{where}[]"),
                    "containsNull": a["containsNull"] or b["containsNull"]}
        if a["type"] == "map":
            return {**a,
                    "keyType": _merge_types(a["keyType"], b["keyType"],
                                            f"{where}.key"),
                    "valueType": _merge_types(a["valueType"], b["valueType"],
                                              f"{where}.value"),
                    "valueContainsNull": (a["valueContainsNull"]
                                          or b["valueContainsNull"])}
    if a != b:
        raise ValueError(f"type of {where} changed: {json.dumps(a)} -> "
                         f"{json.dumps(b)}")
    return a


def _merge_summaries(prev: tuple, new: tuple) -> tuple:
    """Manifest (record_count, column_bounds) of an append: the parent
    snapshot's summary plus the new commit's. A count or a column the
    parent did not record (a manifest from before these fields, or a
    merge-on-read delete since) stays unknown."""
    (n0, b0), (n1, b1) = prev, new
    n = n0 + n1 if n0 is not None else None
    return n, {c: _merge_bounds(b0[c], b1[c]) for c in b1 if c in b0}


class SnapshotTable:
    def __init__(self, root: str, partition_by: tuple[str, ...] = (),
                 stats_by: tuple[str, ...] = (),
                 bloom_by: tuple[str, ...] = (),
                 bounds_by: tuple[str, ...] = ()):
        """``partition_by`` is the table's partition spec (Iceberg's
        identity-transform case): commits lay data out hive-style
        (``col=value/`` directories) so reads that filter on a
        partition column PRUNE whole directories at planning time —
        the property that lets a per-crawl or per-language question
        touch 1/Nth of a 100 TB table. The spec is a TABLE property:
        it is recorded in every manifest and must not change between
        commits (validated), matching Iceberg's spec-per-snapshot
        model in the single-spec case.

        ``bounds_by`` names numeric or string data columns whose
        snapshot-wide [min, max] the manifest records from the Parquet
        footers (no Spark job), for :meth:`column_max`."""
        self.root = root
        self.partition_by = tuple(partition_by)
        self.stats_by = tuple(stats_by)
        self.bloom_by = tuple(bloom_by)
        self.bounds_by = tuple(bounds_by)
        if self.partition_by and (self.stats_by or self.bloom_by):
            raise ValueError(
                "stats_by/bloom_by currently require an unpartitioned "
                "table (hive layout moves the partition column out of "
                "the data files)")
        self._snap_dir = os.path.join(root, "_snapshots")
        self._data_dir = os.path.join(root, "data")

    # -- state ---------------------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(os.path.join(self._snap_dir, "LATEST"))

    def current_snapshot_id(self) -> int | None:
        try:
            with open(os.path.join(self._snap_dir, "LATEST")) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def snapshot(self, snapshot_id: int | None = None) -> dict[str, Any] | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self._snap_dir, f"v{sid}.json")) as fh:
            return json.load(fh)

    def snapshots(self) -> list[dict[str, Any]]:
        out = []
        sid = self.current_snapshot_id()
        while sid is not None and sid >= 0:
            try:
                snap = self.snapshot(sid)
            except FileNotFoundError:
                break  # history ends where expire_snapshots() pruned it
            if snap is None:
                break
            out.append(snap)
            sid = snap.get("parent")
        return list(reversed(out))

    # -- write ---------------------------------------------------------------
    def _commit(self, df: DataFrame, operation: str,
                metadata: dict[str, Any] | None) -> int:
        os.makedirs(self._snap_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)
        parent = self.current_snapshot_id()
        new_id = 0 if parent is None else parent + 1

        commit_dir = f"c{new_id}-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(os.path.join(self._data_dir, commit_dir))
        record_count, column_bounds, file_stats, schema = \
            self._footer_summary(commit_dir)
        added_count = record_count
        file_blooms = (
            self._collect_file_blooms(df.sparkSession, commit_dir)
            if self.bloom_by else {})

        if operation == "append" and parent is not None:
            prev = self.snapshot(parent)
            prev_spec = tuple(prev.get("partition_by", ()))
            if prev_spec != self.partition_by:
                raise ValueError(
                    f"partition spec changed: table has {prev_spec}, "
                    f"writer has {self.partition_by}")
            files = list(prev["files"]) + [commit_dir]
        else:
            files = [commit_dir]

        if operation == "append" and parent is not None and self.stats_by:
            file_stats = {**(prev.get("file_stats") or {}), **file_stats}
        if operation == "append" and parent is not None and self.bloom_by:
            file_blooms = {**(prev.get("file_blooms") or {}),
                           **file_blooms}
        if operation == "append" and parent is not None:
            # merge-on-read deletes accumulated so far still apply to
            # the carried-over ancestor files
            delete_files = list(prev.get("delete_files", ()))
            delete_key = prev.get("delete_key")
            record_count, column_bounds = _merge_summaries(
                (prev.get("record_count"), prev.get("column_bounds") or {}),
                (record_count, column_bounds))
            # a parent without a recorded schema leaves the files it
            # carries over unknown: the snapshot's schema stays unknown
            schema = (_merge_types(prev["schema"], schema)
                      if prev.get("schema") and schema else None)
        else:
            delete_files, delete_key = [], None
        return self._publish(
            parent, operation, metadata,
            files=files,
            partition_by=list(self.partition_by),
            stats_by=list(self.stats_by),
            file_stats=file_stats if self.stats_by else {},
            bloom_by=list(self.bloom_by),
            file_blooms=file_blooms if self.bloom_by else {},
            delete_files=delete_files,
            delete_key=delete_key,
            added_count=added_count,
            record_count=record_count,
            column_bounds=column_bounds,
            schema=schema,
        )

    def _footer_summary(self, commit_dir: str) -> tuple[
            int, dict[str, list], dict[str, Any], dict[str, Any] | None]:
        """(rows, {col: [min, max]}, {file: {col: [min, max]}}, schema)
        of one commit: its row count, the ``bounds_by`` columns' bounds,
        each non-empty file's ``stats_by`` bounds (keyed relative to the
        data dir) and the Spark schema (JSON) of the rows it wrote, read
        from the Parquet footers on the driver with no Spark job. A
        column :func:`_footer_bounds` cannot bound is left out; the
        schema is None for a partitioned table (its footers lack the
        partition columns) or when a file does not record one."""
        import glob as _glob

        import pyarrow.parquet as pq

        rows = 0
        bounds: dict[str, list | None] = {c: [None, None]
                                          for c in self.bounds_by}
        file_stats: dict[str, Any] = {}
        schemas: set[bytes | None] = set()
        for path in _glob.glob(os.path.join(self._data_dir, commit_dir,
                                            "**", "*.parquet"),
                               recursive=True):
            md = pq.read_metadata(path)
            rows += md.num_rows
            schemas.add((md.metadata or {}).get(_SPARK_SCHEMA_KEY))
            for c, b in bounds.items():
                fb = None if b is None else _footer_bounds(md, c)
                bounds[c] = None if fb is None else _merge_bounds(b, fb)
            if self.stats_by and md.num_rows:
                per_file = {c: _footer_bounds(md, c) for c in self.stats_by}
                file_stats[os.path.relpath(path, self._data_dir)] = {
                    c: b for c, b in per_file.items() if b is not None}
        schema = None
        if schemas and None not in schemas and not self.partition_by:
            schema = functools.reduce(_merge_types,
                                      map(json.loads, sorted(schemas)))
        return (rows, {c: b for c, b in bounds.items() if b is not None},
                file_stats, schema)

    def _publish(self, parent: int | None, operation: str,
                 metadata: dict[str, Any] | None, **fields: Any) -> int:
        """Publish snapshot ``parent + 1``: write its manifest
        ``v<N>.json``, then repoint ``LATEST`` at it, each through a tmp
        file and an atomic ``os.replace``. Callers write the data files
        first, so a crash at any point leaves ``LATEST`` on a complete
        snapshot. ``fields`` are the manifest body between ``operation``
        and ``metadata``, in manifest key order."""
        new_id = 0 if parent is None else parent + 1
        manifest = {"id": new_id, "parent": parent, "operation": operation,
                    **fields, "metadata": metadata or {}}
        tmp = os.path.join(self._snap_dir, f".v{new_id}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self._snap_dir, f"v{new_id}.json"))

        tmp_ptr = os.path.join(self._snap_dir, ".LATEST.tmp")
        with open(tmp_ptr, "w") as fh:
            fh.write(str(new_id))
        os.replace(tmp_ptr, os.path.join(self._snap_dir, "LATEST"))
        return new_id

    @staticmethod
    def _carried(prev: dict[str, Any]) -> dict[str, Any]:
        """The manifest body of snapshot ``prev``, carried unchanged into
        a commit that writes no data files (delete, retag)."""
        return {
            "files": list(prev["files"]),
            "partition_by": list(prev.get("partition_by", ())),
            "stats_by": list(prev.get("stats_by", ())),
            "file_stats": prev.get("file_stats") or {},
            "bloom_by": list(prev.get("bloom_by", ())),
            "file_blooms": prev.get("file_blooms") or {},
            "delete_files": list(prev.get("delete_files", ())),
            "delete_key": prev.get("delete_key"),
            "added_count": 0,
            "record_count": prev.get("record_count"),
            "column_bounds": prev.get("column_bounds") or {},
            "schema": prev.get("schema"),
        }

    def _collect_file_blooms(self, spark: SparkSession,
                             commit_dir: str) -> dict[str, Any]:
        """Per-data-file Bloom filters over the ``bloom_by`` columns —
        the Iceberg Puffin-blob / Parquet-column-bloom analog, stored
        base64 in the manifest: an EQUALITY point lookup ("have we
        ever crawled url X?") then opens only the files whose filter
        admits the key, where min/max stats admit nearly everything
        for high-cardinality keys. One grouped applyInPandas per
        column over the just-written commit; blob size ~1.2 bytes/key
        at a 1% fp rate (``BLOOM_FP_RATE``), manifest-bounded.

        Keys are md5-hexed JVM-side so the filter works for any column
        type and reuses the seen-set family's vectorized hex bit-index
        kernel (operators/seen_set._key_indices) on both build and
        probe."""
        import base64

        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        from .operators.seen_set import _bloom_params, _fold_keys

        base = os.path.join(self._data_dir, commit_dir)
        out: dict[str, Any] = {}
        schema = T.StructType([
            T.StructField("_f", T.StringType()),
            T.StructField("m_bits", T.LongType()),
            T.StructField("k_hashes", T.IntegerType()),
            T.StructField("n_keys", T.LongType()),
            T.StructField("bloom", T.BinaryType()),
        ])
        for c in self.bloom_by:
            def build(pdf: pd.DataFrame) -> pd.DataFrame:
                ks = pdf["_h"].dropna()
                m, k = _bloom_params(len(ks), BLOOM_FP_RATE)
                # md5 keys are 32 hex chars = four independent 8-hex
                # slices; _key_indices at k=5 would read zero-padding
                # for the 5th slice (a constant bit — no information,
                # inflated fp rate). Clamp to the slices the key width
                # actually provides; probe reads k from the manifest,
                # so build and probe stay consistent.
                k = min(k, 4)
                bits = np.zeros(m // 8, dtype=np.uint8)
                if len(ks):
                    _fold_keys(bits, ks, m, k)
                return pd.DataFrame({
                    "_f": [pdf["_f"].iloc[0]], "m_bits": [m],
                    "k_hashes": [k], "n_keys": [len(ks)],
                    "bloom": [bits.tobytes()],
                })

            rows = (
                spark.read.parquet(base)
                .select(F.input_file_name().alias("_f"),
                        F.md5(F.col(c).cast("string")).alias("_h"))
                .groupBy("_f").applyInPandas(build, schema)
                .collect()
            )
            for r in rows:
                p = r["_f"]
                p = p[len("file:"):] if p.startswith("file:") else p
                rel = os.path.relpath(p, self._data_dir)
                out.setdefault(rel, {})[c] = {
                    "m": int(r["m_bits"]), "k": int(r["k_hashes"]),
                    "n": int(r["n_keys"]),
                    "b64": base64.b64encode(r["bloom"]).decode(),
                }
        return out

    def bloom_matching_files(self, col: str, value: Any,
                             snapshot_id: int | None = None) -> list[str]:
        """Data files whose Bloom filter ADMITS ``col == value`` — the
        point-lookup file-skipping decision, made from the manifest
        alone (no file opened, no Spark job: the probe is a few bit
        tests per file in the driver). Files without a recorded filter
        are conservatively kept. Superset guarantee: a file containing
        the value is always returned (no false negatives by Bloom
        construction); ~BLOOM_FP_RATE of non-containing files leak through.

        The probe key is rendered through the SAME cast-to-string
        semantics the build used (:func:`_spark_cast_string` — Python
        ``str()`` diverges for booleans/doubles/timestamps and would
        silently skip matching files); a value of a non-replicable type
        (bytes, Decimal) disables pruning for this probe — every live
        file stays a candidate, preserving the superset guarantee."""
        import base64
        import hashlib

        import numpy as np
        import pandas as pd

        from .operators.seen_set import _key_indices

        rendered = _spark_cast_string(value)
        if rendered is None:
            return self._admitted_files(snapshot_id, "file_blooms", None)
        hkey = hashlib.md5(rendered.encode()).hexdigest()

        def admit(cols: dict[str, Any]) -> bool:
            meta = cols.get(col)
            if meta is None:
                return True
            bits = np.frombuffer(base64.b64decode(meta["b64"]), np.uint8)
            idx = _key_indices(pd.Series([hkey]), meta["m"],
                               meta["k"]).ravel()
            return bool(np.all((bits[idx // 8] >> (idx % 8)) & 1))

        return self._admitted_files(snapshot_id, "file_blooms", admit)

    def read_point(self, spark: SparkSession, col: str, value: Any,
                   snapshot_id: int | None = None) -> DataFrame:
        """Equality point lookup through the manifest Bloom filters:
        reads only the files :meth:`bloom_matching_files` admits AND
        applies the exact row predicate (the filters only bound which
        files can contain the key). At 10^10 rows across 10^5 files
        this answers "was this url ever committed?" by opening a
        handful of files instead of scanning the table."""
        from pyspark.sql import functions as F

        paths = self.bloom_matching_files(col, value, snapshot_id)
        return self._read_files(spark, paths, snapshot_id).filter(
            F.col(col) == F.lit(value))

    def matching_files(self, prune: dict[str, tuple],
                       snapshot_id: int | None = None) -> list[str]:
        """Data files whose manifest [min, max] interval intersects
        EVERY ``{col: (lo, hi)}`` bound — the file-skipping decision,
        made from the manifest alone (no file opened). Files without
        recorded stats are conservatively kept."""
        def admit(cols: dict[str, Any]) -> bool:
            for c, (lo, hi) in prune.items():
                if c in cols:
                    mn, mx = cols[c]
                    if mn is None or mx is None or mx < lo or mn > hi:
                        return False
            return True

        return self._admitted_files(snapshot_id, "file_stats", admit)

    def _admitted_files(
            self, snapshot_id: int | None, per_file: str,
            admit: Callable[[dict[str, Any]], bool] | None) -> list[str]:
        """The live data files of a snapshot that ``admit`` accepts, given
        a file's entry in the manifest's ``per_file`` map (``file_stats``
        or ``file_blooms``); ``admit=None`` keeps every live file.
        Conservative keep: every file of a live commit with no entries
        at all (written before ``stats_by`` or ``bloom_by`` was set, or
        by a writer without it) stays a candidate — dropping it would
        silently lose its rows."""
        import glob as _glob

        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        live_dirs = set(snap["files"])
        keep = []
        covered_dirs: set[str] = set()
        entries = {} if admit is None else snap.get(per_file) or {}
        for rel, cols in entries.items():
            d = rel.split(os.sep, 1)[0]
            if d not in live_dirs:
                continue
            covered_dirs.add(d)
            if admit(cols):
                keep.append(os.path.join(self._data_dir, rel))
        for d in live_dirs - covered_dirs:
            keep.extend(_glob.glob(
                os.path.join(self._data_dir, d, "**", "*.parquet"),
                recursive=True))
        return keep

    def read_pruned(self, spark: SparkSession, prune: dict[str, tuple],
                    snapshot_id: int | None = None) -> DataFrame:
        """Read only the files :meth:`matching_files` admits. The
        caller STILL applies its row filter — stats pruning is a
        superset guarantee, not a predicate. Returns an empty frame of
        the table's schema when every file prunes away."""
        return self._read_files(
            spark, self.matching_files(prune, snapshot_id), snapshot_id)

    def _read_files(self, spark: SparkSession, paths: list[str],
                    snapshot_id: int | None) -> DataFrame:
        """The admitted data ``paths`` of a snapshot, in its schema
        (admitted files may span schema-evolution commits), with its
        accumulated equality deletes applied (merge-on-read): a
        tombstoned row must not resurface through a file-skipping read.
        An empty frame of the table's schema when nothing is admitted."""
        if not paths:
            return self.read(spark, snapshot_id).filter("1 = 0")
        snap = self.snapshot(snapshot_id)
        return self._apply_deletes(
            spark, self._reader(spark, snap).parquet(*paths), snap)

    def append(self, df: DataFrame, metadata: dict[str, Any] | None = None) -> int:
        """ST4: incremental checkpoint commit per round."""
        return self._commit(df, "append", metadata)

    def overwrite(self, df: DataFrame, metadata: dict[str, Any] | None = None) -> int:
        return self._commit(df, "overwrite", metadata)

    def delete_where(self, keys: DataFrame, key_col: str,
                     metadata: dict[str, Any] | None = None) -> int:
        """Iceberg-v2 equality-delete commit (merge-on-read): the keys
        to remove are written as their OWN slim parquet file and
        recorded in the manifest — the 100 TB of data files are never
        touched. ``read()`` applies every accumulated delete file as
        one LEFT ANTI join on the key; ``compact()`` materializes them
        (it reads with deletes applied and rewrites) and clears the
        list — exactly Iceberg's merge-on-read -> copy-on-write
        compaction cycle. One key column per table (validated);
        deleting an absent key is a no-op by anti-join semantics.
        Time travel before the delete commit still sees the rows."""
        parent = self.current_snapshot_id()
        if parent is None:
            raise FileNotFoundError(
                f"table {self.root} has no snapshot to delete from")
        prev = self.snapshot(parent)
        prev_key = prev.get("delete_key")
        if prev_key and prev_key != key_col:
            raise ValueError(
                f"delete key changed: table has {prev_key!r}, "
                f"delete uses {key_col!r}")
        new_id = parent + 1
        ddir = f"d{new_id}-{uuid.uuid4().hex[:8]}"
        field = _schema_field(prev, key_col)
        # in the table's key type: reads take the delete files' schema
        # from the manifest (_apply_deletes)
        key = (keys[key_col] if field is None
               else keys[key_col].cast(field.dataType).alias(key_col))
        keys.select(key).distinct().write.mode("overwrite").parquet(
            os.path.join(self._data_dir, ddir))
        fields = self._carried(prev)
        fields["delete_files"].append(ddir)
        fields["delete_key"] = key_col
        # the deleted keys' rows are not known without a scan: the
        # count and the bounds become unknown (readers fall back to Spark)
        fields["record_count"], fields["column_bounds"] = None, {}
        return self._publish(parent, "delete", metadata, **fields)

    def retag(self, metadata: dict[str, Any] | None = None) -> int:
        """Metadata-only commit: a new snapshot REFERENCING the current
        snapshot's data files unchanged — no Spark job, no bytes
        rewritten. The crawl loop's round-clock fast-forward uses this:
        rewriting a 10^9-row frontier just to bump a counter in
        metadata would be a full read-and-write per idle round."""
        parent = self.current_snapshot_id()
        if parent is None:
            raise FileNotFoundError(
                f"table {self.root} has no snapshot to retag")
        return self._publish(parent, "retag", metadata,
                             **self._carried(self.snapshot(parent)))

    # -- read ----------------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        paths = [os.path.join(self._data_dir, f) for f in snap["files"]]
        if snap.get("partition_by"):
            # each commit dir is its own hive-partitioned root (a shared
            # basePath would put the non-partition c<id>-<uuid> level
            # inside the partition spec); the union keeps partition
            # discovery per branch, so a partition-column filter still
            # prunes directories in every commit's scan. Commit count is
            # bounded by compact()/expire_snapshots() maintenance.
            # allowMissingColumns: Iceberg-style add-column schema
            # evolution — a commit written before a column existed
            # reads null for it (same contract as the unpartitioned
            # branch's mergeSchema)
            out = spark.read.parquet(paths[0])
            for p in paths[1:]:
                out = out.unionByName(spark.read.parquet(p),
                                      allowMissingColumns=True)
        else:
            out = self._reader(spark, snap).parquet(*paths)
        return self._apply_deletes(spark, out, snap)

    @staticmethod
    def _reader(spark: SparkSession, snap: dict[str, Any]):
        """A parquet reader for a snapshot's files. It takes the schema
        the manifest recorded (``schema``: the commits' footer schemas,
        merged at commit as Spark's ``mergeSchema`` merges them —
        Iceberg's add-column evolution, so rows from older commits read
        a newer column as null), which spares the read a schema-inference
        job. A manifest without one infers with ``mergeSchema``; a type
        CHANGE fails loudly either way (at commit, or in the merge)."""
        if snap.get("schema"):
            return spark.read.schema(T.StructType.fromJson(snap["schema"]))
        return spark.read.option("mergeSchema", "true")

    def _apply_deletes(self, spark: SparkSession, out: DataFrame,
                       snap: dict[str, Any]) -> DataFrame:
        """``out`` minus every key in the snapshot's accumulated
        equality-delete files (merge-on-read)."""
        dels = snap.get("delete_files") or []
        if not dels:
            return out
        key = snap["delete_key"]
        field = _schema_field(snap, key)
        # delete files hold the key in the snapshot's type (delete_where
        # casts it), so the read takes it instead of inferring it
        reader = (spark.read if field is None
                  else spark.read.schema(T.StructType([field])))
        dkeys = reader.parquet(
            *[os.path.join(self._data_dir, d) for d in dels])
        return out.join(dkeys.select(key).distinct(), key, "left_anti")

    def read_added(self, spark: SparkSession) -> DataFrame:
        """The rows the current snapshot's own commit wrote: its data
        dir only, not the files carried over from its parent (the
        snapshot must be an append or an overwrite), in the snapshot's
        schema. Deletes apply as in :meth:`read`. A delta read this way
        comes from stable storage, so it needs no lineage cut to be
        re-read identically."""
        snap = self.snapshot()
        if snap is None or snap["operation"] not in ("append", "overwrite"):
            raise ValueError(f"table {self.root}: the current snapshot "
                             "wrote no data files")
        path = os.path.join(self._data_dir, snap["files"][-1])
        return self._apply_deletes(
            spark, self._reader(spark, snap).parquet(path), snap)

    def count(self, spark: SparkSession) -> int:
        """Rows in the current snapshot, 0 for a table without one: the
        manifest's ``record_count`` when it recorded one, else a Spark
        count of :meth:`read`."""
        snap = self.snapshot()
        if snap is None:
            return 0
        n = snap.get("record_count")
        return int(n) if n is not None else self.read(spark).count()

    def column_max(self, spark: SparkSession, col: str) -> Any:
        """Max of ``col`` in the current snapshot (None when it holds no
        value): the manifest's ``column_bounds`` when it recorded them
        (``bounds_by``), else a Spark aggregate of :meth:`read`."""
        from pyspark.sql import functions as F

        bounds = (self.snapshot() or {}).get("column_bounds") or {}
        if col in bounds:
            return bounds[col][1]
        return self.read(spark).agg(F.max(col)).first()[0]

    def read_or_empty(self, spark: SparkSession, schema) -> DataFrame:
        if not self.exists():
            return spark.createDataFrame([], schema)
        return self.read(spark)

    # -- maintenance -----------------------------------------------------------
    def compact(self, spark: SparkSession, target_partitions: int = 8) -> int:
        """S9 analog (rewrite_data_files): fold all live files into one commit.
        History before the compaction stays time-travelable."""
        df = self.read(spark).coalesce(target_partitions)
        return self._commit(df, "overwrite", {"compacted_from": self.current_snapshot_id()})

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg ``expire_snapshots`` analog: drop manifests older than
        the ``keep_last`` most recent, returning the expired ids.

        Only manifests go; data files shared with surviving snapshots
        stay (appends share their ancestors' files). Time-travel to an
        expired id then fails fast instead of reading a half-vacuumed
        table. The LATEST pointer is untouched — expiration never
        changes what ``read()`` returns.
        """
        # keep_last < 1 would expire the CURRENT manifest while LATEST
        # still points at it — read()/append() would then crash, which
        # the docstring explicitly rules out; the floor is 1
        keep_last = max(1, keep_last)
        chain = self.snapshots()
        expired = chain[:-keep_last]
        for snap in expired:
            try:
                os.remove(os.path.join(self._snap_dir, f"v{snap['id']}.json"))
            except FileNotFoundError:
                pass
        return [s["id"] for s in expired]

    def vacuum(self) -> list[str]:
        """Iceberg ``remove_orphan_files`` analog: delete data dirs no
        surviving manifest references — crash leftovers (a commit that
        wrote data but died before its manifest) and dirs stranded by
        ``expire_snapshots`` — returning the removed dir names. Safe at
        any time: the commit protocol (data -> manifest -> pointer)
        means unreferenced dirs are invisible to every reader.
        """
        if not os.path.isdir(self._data_dir):
            return []
        live: set[str] = set()
        for name in os.listdir(self._snap_dir):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self._snap_dir, name)) as fh:
                    m = json.load(fh)
                    live.update(m["files"])
                    live.update(m.get("delete_files") or [])
        removed = []
        for d in sorted(os.listdir(self._data_dir)):
            if d not in live:
                shutil.rmtree(os.path.join(self._data_dir, d), ignore_errors=True)
                removed.append(d)
        return removed

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def write_shards(
    df: DataFrame,
    out_dir: str,
    key: str,
    target_bytes: int = 256 * 1024 * 1024,
    size_cols: list[str] | None = None,
    min_shards: int = 1,
) -> dict[str, Any]:
    """Export a curated corpus as size-bounded shards (the
    WebDataset/tar-shard shape training loaders consume): estimate the
    payload bytes per row from the fat columns, derive the shard count
    from ``target_bytes``, assign every row a deterministic shard via
    md5(key) — stable across runs, partitionings, and cluster sizes —
    and write one directory per shard with a JSON manifest (row count +
    byte estimate per shard, totals, and the assignment rule) for
    loader-side integrity checks.

    Scale shape: the byte estimate is one map-side-partial aggregate
    (a single scalar to the driver — the only driver traffic); the
    write is one hash exchange on the shard id; per-shard stats come
    from a second slim aggregate (n_shards rows). md5 sharding means a
    re-export after an upstream fix reproduces the same shard
    membership, so downstream caches invalidate per-shard instead of
    globally.

    ``size_cols`` defaults to all string/binary columns. Returns the
    manifest dict (also written to ``<out_dir>/manifest.json``).
    """
    from pyspark.sql import functions as F

    if size_cols is None:
        size_cols = [f.name for f in df.schema.fields
                     if isinstance(f.dataType, (T.StringType, T.BinaryType))]
    if not size_cols:
        raise ValueError("no string/binary columns to size shards by")

    def row_bytes():
        # octet_length, not length: length counts CHARACTERS, which
        # undercounts non-ASCII payload up to 4x — shards must be sized
        # by real encoded bytes so target_bytes means what it says
        return sum(
            (F.coalesce(F.octet_length(F.col(c)), F.lit(0))
             for c in size_cols),
            F.lit(0),
        ).cast("long")

    # persisted: the byte-estimate aggregate and the write would
    # otherwise run the (possibly expensive) upstream plan twice
    sized = df.withColumn("_bytes", row_bytes()).persist()
    total = sized.agg(F.sum("_bytes")).first()[0] or 0
    n_shards = max(min_shards, -(-int(total) // int(target_bytes)))
    shard = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10)
        .cast("long") % n_shards
    ).cast("int")
    # _bytes is an internal estimator — loaders get the caller's columns
    # plus the shard id, nothing else
    (
        sized.withColumn("_shard", shard).drop("_bytes")
        .repartition(n_shards, "_shard")
        .write.mode("overwrite").partitionBy("_shard")
        .parquet(os.path.join(out_dir, "data"))
    )
    sized.unpersist()
    # stats recount WHAT WAS WRITTEN (not a recompute of the input plan),
    # so the manifest always agrees with the data on disk
    back = read_shards(df.sparkSession, out_dir)
    stats = {
        int(r["_shard"]): {"rows": int(r["rows"]), "bytes": int(r["bytes"])}
        for r in back.withColumn("_bytes", row_bytes())
        .groupBy("_shard").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("_bytes").alias("bytes")).collect()
    }
    manifest = {
        "n_shards": n_shards,
        "target_bytes": int(target_bytes),
        "total_rows": sum(s["rows"] for s in stats.values()),
        "total_bytes": sum(s["bytes"] for s in stats.values()),
        "key": key,
        "assignment": "conv(md5(key)[0:8], 16, 10) % n_shards",
        "size_cols": size_cols,
        "shards": {str(k): stats[k] for k in sorted(stats)},
    }
    tmp = os.path.join(out_dir, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest


def write_tar_shards(
    df: DataFrame,
    out_dir: str,
    key: str,
    text_col: str = "text",
    target_bytes: int = 256 * 1024 * 1024,
    min_shards: int = 1,
) -> dict[str, Any]:
    """The WebDataset TAR variant of :func:`write_shards` (reference
    analog: the tar sink + verify, main_merge_and_deduplicate.py):
    one ``shard-NNNNN.tar`` per shard whose members are
    ``<md5(key)>.txt`` files with the utf-8 text. Tars are
    BYTE-DETERMINISTIC — members sorted by name, mtime/uid/gid zeroed —
    so a re-export of identical data produces identical archives
    (loader caches can hash-check them). Assignment is the same
    ``md5(key) % n_shards`` rule as the parquet export.

    Scale shape: one byte-estimate aggregate, one exchange on the
    shard id (``repartition(n, _shard)`` — each task holds whole
    shards), then each executor streams its shard's members into the
    tar via foreachPartition; nothing but the manifest touches the
    driver. ``out_dir`` must be shared storage in a real cluster."""
    import io
    import tarfile

    from pyspark.sql import functions as F

    data_dir = os.path.join(out_dir, "tars")
    os.makedirs(data_dir, exist_ok=True)
    # the export is a full overwrite (as the parquet variant's
    # mode("overwrite") is): shards from a previous export with a
    # LARGER shard count would otherwise survive past the new range and
    # confuse loaders globbing the directory
    import glob as _glob

    for stale in _glob.glob(os.path.join(data_dir, "shard-*.tar")) \
            + _glob.glob(os.path.join(data_dir, "*.tmp")):
        try:
            os.remove(stale)
        except OSError:
            pass
    sized = df.select(
        F.md5(F.col(key).cast("string")).alias("_name"),
        F.col(text_col).cast("string").alias("_text"),
    ).withColumn(
        # octet_length: tar members hold utf-8 BYTES, so the shard-count
        # estimate and the manifest must count bytes, not characters
        "_bytes",
        F.coalesce(F.octet_length(F.col("_text")), F.lit(0)).cast("long"),
    ).persist()
    total = sized.agg(F.sum("_bytes")).first()[0] or 0
    n_shards = max(min_shards, -(-int(total) // int(target_bytes)))
    shard = (
        F.conv(F.substring(F.col("_name"), 1, 8), 16, 10)
        .cast("long") % n_shards
    ).cast("int")
    assigned = sized.withColumn("_shard", shard)

    def write_partition(rows):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r["_shard"], []).append(
                (r["_name"], r["_text"] or ""))
        for sh, members in by_shard.items():
            path = os.path.join(data_dir, f"shard-{sh:05d}.tar")
            # per-attempt tmp name: a retried/speculative attempt for
            # the same shard must not interleave bytes into one tmp
            # file on shared storage; archives are byte-deterministic,
            # so whichever attempt's os.replace lands last is identical
            tmp = f"{path}.{attempt}.tmp"
            with tarfile.open(tmp, "w") as tf:
                for name, text in sorted(members):
                    payload = text.encode("utf-8")
                    info = tarfile.TarInfo(name=f"{name}.txt")
                    info.size = len(payload)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tf.addfile(info, io.BytesIO(payload))
            os.replace(tmp, path)

    assigned.repartition(n_shards, "_shard").foreachPartition(
        write_partition)
    # killed/failed attempts leave their per-attempt tmp files behind
    # (nothing ever reuses an attempt id, so they would accumulate
    # forever); the job is complete here — every task finished — so the
    # driver can sweep stale partials race-free
    import glob as _glob

    for stale in _glob.glob(os.path.join(data_dir, "*.tmp")):
        try:
            os.remove(stale)
        except OSError:
            pass
    stats = {
        int(r["_shard"]): {"rows": int(r["rows"]), "bytes": int(r["bytes"])}
        for r in assigned.groupBy("_shard").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("_bytes").alias("bytes")).collect()
    }
    sized.unpersist()
    manifest = {
        "n_shards": n_shards,
        "target_bytes": int(target_bytes),
        "total_rows": sum(s["rows"] for s in stats.values()),
        "total_bytes": int(total),
        "key": key,
        "member": "md5(key).txt, utf-8 text, mtime/uid/gid zeroed",
        "assignment": "conv(md5(key)[0:8], 16, 10) % n_shards",
        "shards": {str(k): stats[k] for k in sorted(stats)},
    }
    tmp = os.path.join(out_dir, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest


def _diff_counts(manifest_shards: dict, actual: dict) -> dict[str, Any]:
    """Manifest-vs-actual row-count diff shared by both verifiers —
    one semantics, two sinks."""
    mism = {}
    for k, s in manifest_shards.items():
        if actual.get(k, 0) != s["rows"]:
            mism[k] = {"manifest_rows": s["rows"],
                       "actual_rows": actual.get(k, 0)}
    for k in actual:
        if k not in manifest_shards:
            mism[k] = {"manifest_rows": 0, "actual_rows": actual[k]}
    return {"ok": not mism, "mismatches": mism}


def verify_tar_shards(out_dir: str) -> dict[str, Any]:
    """Recount every tar's members against the manifest (the tar-sink
    verify step). Driver-side file walk — tars are loader artifacts,
    not Spark tables."""
    import glob
    import tarfile

    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    actual: dict[str, int] = {}
    for path in glob.glob(os.path.join(out_dir, "tars", "shard-*.tar")):
        # regex, not a fixed-width slice: shard ids beyond 99999 format
        # to more than five digits and a [6:11] slice would misparse
        m = re.fullmatch(r"shard-(\d+)\.tar", os.path.basename(path))
        if m is None:
            continue
        sh = str(int(m.group(1)))
        with tarfile.open(path) as tf:
            actual[sh] = len(tf.getmembers())
    return _diff_counts(manifest["shards"], actual)


def read_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a shard export back (all shards; filter ``_shard`` for one —
    partition pruning keeps that read to the one directory)."""
    return spark.read.parquet(os.path.join(out_dir, "data"))


def verify_shards(spark: SparkSession, out_dir: str) -> dict[str, Any]:
    """Loader-side integrity check: recount every shard on disk and
    diff against the manifest (the tar-sink verify analog,
    main_merge_and_deduplicate.py's post-write check). Returns
    {ok, mismatches: {shard: {manifest_rows, actual_rows}}}."""
    from pyspark.sql import functions as F

    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    actual = {
        str(int(r["_shard"])): int(r["rows"])
        for r in read_shards(spark, out_dir)
        .groupBy("_shard").agg(F.count(F.lit(1)).alias("rows")).collect()
    }
    return _diff_counts(manifest["shards"], actual)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    key: str = "url",
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Store a table BUCKETED (and per-bucket sorted) on ``key`` — the
    Iceberg ``bucket(key)`` layout via the Spark catalog.

    This is how a 100 TB pages corpus should sit on disk: a join against
    any frame pre-shuffled to the same bucketing needs NO shuffle and no
    sort on the fat side — only the slim probe side moves (pinned by
    ``tests/test_plans.py::test_bucketed_join_fat_side_never_shuffles``).
    The crawl's fetch join, the dedup fold, and the seen-set anti-join
    all key on ``url``/``url_sha1``, so one layout serves them all.

    Bucket count is a TABLE property — fix it per dataset size, never per
    cluster size, so jobs at any parallelism read the identical layout.
    Spark requires bucketed writes to go through ``saveAsTable``; the
    input is pre-repartitioned to one file per bucket so the layout is
    exactly n_buckets files (not tasks x buckets small files).
    """
    spark = df.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # in-memory catalog: a previous process's table leaves its location
    # behind; clear it or saveAsTable fails with LOCATION_ALREADY_EXISTS
    shutil.rmtree(os.path.join(warehouse, table_name), ignore_errors=True)
    (
        df.repartition(n_buckets, key)
        .write.bucketBy(n_buckets, key)
        .sortBy(*(sort_cols or [key]))
        # always a full rebuild: the function DROPs + rmtree's the prior
        # table above, so accepting a mode parameter would be dishonest
        # ("append" could never accumulate)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def write_cdx_index(
    cdx: DataFrame,
    path: str,
    n_shards: int = 8,
    surt: str = "surt",
    ts: str = "cdx_ts",
) -> None:
    """cc-index-style CDX layout: RANGE-partitioned and sorted by
    ``(surt, cdx_ts)``. The SURT key's whole purpose (functions/urls.py)
    is realized here: because subdomain labels reverse into a prefix,
    every registrable domain — with all its subdomains and paths — is
    one contiguous run landing in one (at a boundary, two) shard files,
    each file's parquet footer carrying tight min/max stats on the sort
    key. "Everything under example.com" then reads as a
    pushed StringStartsWith/range predicate + file- and row-group-level
    skipping, instead of a full-index filter — the access pattern a
    cc-index server serves per-prefix.

    Range boundaries come from Spark's sampling RangePartitioner (data-
    dependent, not contractual); the CONTRACT — host-prefix locality +
    pushdown — is pinned in tests/test_warc.py. Shard count is a table
    property: fix it per index size, never per cluster size.
    """
    from pyspark.sql import functions as F

    (
        cdx.repartitionByRange(n_shards, F.col(surt), F.col(ts))
        .sortWithinPartitions(surt, ts)
        .write.mode("overwrite").parquet(path)
    )


def zipnum_cluster_idx(
    cdx: DataFrame,
    lines_per_block: int = 3000,
    blocks_per_shard: int = 300,
    surt: str = "surt",
    ts: str = "cdx_ts",
) -> DataFrame:
    """ZipNum-style secondary index over a CDX table — the artifact the
    real Common Crawl index serves queries through (cc-index's
    ``cluster.idx``): the sorted CDX stream is cut into fixed-size
    blocks of ``lines_per_block`` records, and the secondary index
    keeps ONE row per block — the block's first ``(surt, ts)`` key, its
    sequence number, its shard (``block_seq // blocks_per_shard``, the
    file the block lives in), and its line count. A lookup
    binary-searches these ~n/3000 slim rows to find the one or two
    candidate blocks for a URL prefix instead of scanning the index —
    at 10^10 captures the cluster idx is ~3M rows, broadcastable to
    every executor that needs index routing.

    Scale shape — global rank with NO window at all:
    - one ``repartitionByRange`` on the full sort key puts the stream
      in globally consistent order (partition *i*'s keys all sort
      before partition *i+1*'s — the same contract
      :func:`write_cdx_index` relies on), then a per-partition sort;
    - ``monotonically_increasing_id`` after that sort encodes
      ``(partition << 33) + local_row`` — the zipWithIndex trick as a
      pure column expression, zero extra shuffle, zero Python;
    - per-partition row counts (a tiny map-side-partial aggregate) turn
      local offsets into global ranks via a broadcast theta-join over
      the #partitions-row counts frame — never a partition-less window,
      never a driver loop;
    - blocks then aggregate on the block key: rows of one block are
      contiguous in one (at a boundary, two) partitions, so the final
      exchange moves one partial row per (partition, block).

    Determinism: outputs expose only sort-key VALUES (block starts) and
    counts, so the result is a pure function of the key multiset — ties
    and range-boundary sampling cannot change it.

    Returns ``(block_seq, shard, start_<surt>, start_<ts>, n_lines)``
    sorted semantics (not physically sorted; order with ``orderBy`` at
    the consumer).
    """
    from pyspark.sql import functions as F

    if lines_per_block < 1 or blocks_per_shard < 1:
        raise ValueError("lines_per_block and blocks_per_shard must be >= 1")
    rows = (
        cdx.select(surt, ts)
        .repartitionByRange(F.col(surt), F.col(ts))
        .sortWithinPartitions(surt, ts)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33))
        .withColumn("_loc", F.col("_mid").bitwiseAND((1 << 33) - 1))
        # the frame is consumed twice (partition counts + the rank join)
        # and _mid is nondeterministic: checkpoint so both consumers see
        # ONE materialization (lazy — first action triggers it), the
        # same discipline as BloomSeenSet's generation checkpoint
        .transform(_materialize, eager=False)
    )
    counts = rows.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    prior = counts.select(F.col("_pid").alias("_p2"),
                          F.col("_cnt").alias("_c2"))
    offsets = (
        counts.join(F.broadcast(prior), F.col("_p2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_c2"), F.lit(0)).alias("_off"))
    )
    ranked = (
        rows.join(F.broadcast(offsets), "_pid")
        .withColumn("_grank", F.col("_off") + F.col("_loc"))
        .withColumn(
            "_block",
            F.floor(F.col("_grank") / F.lit(lines_per_block)).cast("long"))
    )
    return (
        ranked.groupBy(F.col("_block").alias("block_seq"))
        .agg(
            F.min(F.struct(surt, ts)).alias("_start"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "block_seq",
            F.floor(F.col("block_seq") / F.lit(blocks_per_shard))
            .cast("long").alias("shard"),
            F.col(f"_start.{surt}").alias(f"start_{surt}"),
            F.col(f"_start.{ts}").alias(f"start_{ts}"),
            "n_lines",
        )
    )


# ---------------------------------------------------------------------------
# Tiered merge planning (LSM/Lucene-style compaction scheduling)
# ---------------------------------------------------------------------------

#: size-doubling tier ladder: tier t holds segments with
#: floor_bytes * 2^t <= bytes < floor_bytes * 2^(t+1); integer CASE
#: thresholds (shared with the oracle) rather than float log2, which
#: disagrees across engines exactly at the power-of-two boundaries
MERGE_TIER_MAX = 40


def plan_tiered_merges(
    segments: DataFrame,
    merge_factor: int = 4,
    floor_bytes: int = 1 << 20,
    id_col: str = "segment_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Which segments to compact next — the LSM/Lucene tiered policy
    the snapshot tables and posting-list deltas both need once
    appends accumulate: segments bucket into size-doubling tiers;
    within a tier, every full group of ``merge_factor`` segments
    (smallest first, ties on id) becomes one merge task, producing a
    segment that graduates toward the next tier. Segments in partial
    groups keep ``merge_group`` null and wait. Output: ``(id, bytes,
    tier, tier_rank, merge_group)`` — group key = (tier, merge_group).

    Write amplification is the point: merging equals-sized segments
    means every byte is rewritten O(log(total/floor)) times over its
    life, vs O(n) for merge-on-every-append; this is why every
    LSM store ships this policy.

    Scale shape: one integer CASE ladder per row for the tier, then a
    window PARTITIONED BY tier (a 10^6-segment table sorts per tier,
    never globally); group assignment is integer arithmetic on the
    rank. Determinism: integer thresholds (no float log2), ties on
    the id."""
    if merge_factor < 2:
        raise ValueError(f"merge_factor must be >= 2, got {merge_factor}")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    b = F.col(bytes_col).cast("long")
    tier = F.lit(MERGE_TIER_MAX)
    for t in range(MERGE_TIER_MAX - 1, -1, -1):
        tier = F.when(b < F.lit(floor_bytes * (1 << (t + 1))),
                      F.lit(t)).otherwise(tier)
    w = Window.partitionBy("tier").orderBy(
        F.col(bytes_col).asc(), F.col(id_col).asc())
    ranked = (
        segments.select(id_col, bytes_col)
        .withColumn("tier", tier)
        .withColumn("tier_rank", F.row_number().over(w))
    )
    n_per_tier = Window.partitionBy("tier")
    grp = F.floor((F.col("tier_rank") - 1) / merge_factor)
    full = (grp + 1) * merge_factor <= F.max("tier_rank").over(n_per_tier)
    return ranked.withColumn(
        "merge_group", F.when(full, grp.cast("int")))


# ---------------------------------------------------------------------------
# Z-order clustering (multi-dimensional file skipping)
# ---------------------------------------------------------------------------


def zorder_key(a, b, bits: int = 16):
    """Morton/Z-curve interleave of two non-negative integer columns
    (bit i of ``a`` lands at position 2i, of ``b`` at 2i+1): points
    close in BOTH dimensions get close z-values, so range-partitioning
    by z clusters 2-D neighborhoods into the same files — the Delta
    ``OPTIMIZE ZORDER BY`` primitive. Callers normalize dimensions to
    [0, 2^bits) first (rank or min-max scale); pure shift/mask
    expressions, exactly replayable in any engine with integer ops."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftright(a.cast("long"), i)
                           .bitwiseAND(F.lit(1)), 2 * i)
             + F.shiftleft(F.shiftright(b.cast("long"), i)
                           .bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


