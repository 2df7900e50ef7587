"""Fetch transports: the injectable seam between the crawl plan and the
network (S5/S6 in SURVEY.md §2.1).

The reference fetches CDX pages over HTTP (download_and_merge.py:23-54)
and WARC segments with ranged GETs verified against Content-Length
(download_warc_segments.py:50-70).  In the sandbox there is no network,
so the default transport is a *lookup join* against a pages table —
semantically a Range-GET is a point lookup by key — but the seam is what
a real deployment swaps: ``CrawlJob(transport=HttpRangeTransport(...))``
turns the same round loop into a live fetcher without touching the plan.

Contract — ``fetch(batch, n_rows_hint) -> DataFrame``:
  input   the polite batch (slim frontier rows incl. ``url``);
  output  one row per batch row with two added columns:
            ``html``          binary, null on failure
            ``_fetch_error``  string,  null on success
  Failures are *rows*, never exceptions: the round loop routes them into
  the retry/backoff path (ST3), exactly like the reference's failed-task
  re-enqueue (download_and_merge.py:118-182).
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Transport(Protocol):
    def fetch(self, batch: DataFrame,
              n_rows_hint: int | None = None) -> DataFrame: ...


class LookupJoinTransport:
    """Fetch = equi-join against a pages table (J2: Range-GET as lookup).

    Size-aware join strategy (VERDICT r01 "What's wrong" #2): the batch is
    broadcast only when its row count is known to be under
    ``broadcast_limit``; above that — a web-shaped corpus at 10^6+ hosts x
    budget — the join runs un-hinted, so AQE picks the strategy and a
    bucketed-on-``url`` pages table (bench.py materialize_tables) joins
    with no shuffle or sort on the fat side at all.
    """

    def __init__(self, pages: DataFrame, broadcast_limit: int = 1_000_000):
        self.pages = pages
        self.broadcast_limit = broadcast_limit

    def fetch(self, batch: DataFrame,
              n_rows_hint: int | None = None) -> DataFrame:
        small = n_rows_hint is not None and n_rows_hint <= self.broadcast_limit
        hint = F.broadcast if small else (lambda df: df)
        hits = (
            self.pages.select("url", "html").join(hint(batch), "url", "inner")
            .select(*batch.columns, F.col("html").alias("html"),
                    F.lit(None).cast("string").alias("_fetch_error"))
        )
        # URLs absent from the pages table: recovered batch-side (an inner
        # join + slim anti-join keeps the fat side un-shuffled; a left
        # join could only broadcast the pages side, which is the 100 TB one)
        miss = (
            batch.join(hint(hits.select("url")), "url", "left_anti")
            .select(
                *batch.columns,
                F.lit(None).cast("binary").alias("html"),
                F.lit("not_found").alias("_fetch_error"),
            )
        )
        return hits.unionByName(miss)


# opener(url, offset, length) -> bytes; offset/length None for a plain GET
Opener = Callable[[str, Optional[int], Optional[int]], bytes]


def _urllib_opener(url: str, offset: int | None, length: int | None) -> bytes:
    """Default live opener: ranged GET via stdlib urllib
    (download_warc_segments.py:50-60's requests.get with a Range header)."""
    import urllib.request

    req = urllib.request.Request(url)
    if offset is not None and length is not None:
        req.add_header("Range", f"bytes={offset}-{offset + length - 1}")
    with urllib.request.urlopen(req, timeout=30) as resp:  # pragma: no cover
        return resp.read()


class HttpRangeTransport:
    """Live ranged-byte fetch inside ``mapInPandas`` partitions, with the
    reference's Content-Length verification: a response whose byte count
    differs from the expected ``length`` is a torn read and fails the row
    (download_warc_segments.py:62-64 — "Content length mismatch"), feeding
    the retry path instead of corrupting the corpus.

    ``opener`` is injectable (tests use a fake that serves fixture bytes
    and injects torn reads; a deployment can swap in an async/pooled HTTP
    stack).  Within each partition, rows fetch through a thread pool of
    ``max_workers`` with a bounded in-flight window of ``max_workers * 4``
    — the reference's IO shape verbatim (MAX_WORKERS=128 /
    MAX_FUTURES_IN_FLIGHT=512, download_warc_segments.py:30-32, ST1
    backpressure), so memory is bounded by the window, not the partition.
    Row order is preserved (results land by index).  Expected
    offset/length come from ``offset_col``/``length_col`` when the batch
    carries them; otherwise rows get a plain GET of ``url`` with no
    verification (nothing to verify against).
    """

    def __init__(self, opener: Opener | None = None,
                 offset_col: str = "offset", length_col: str = "length",
                 max_workers: int = 128):
        self.opener = opener or _urllib_opener
        self.offset_col = offset_col
        self.length_col = length_col
        self.max_workers = max_workers

    def fetch(self, batch: DataFrame,
              n_rows_hint: int | None = None) -> DataFrame:
        import pandas as pd

        schema = T.StructType(
            list(batch.schema.fields)
            + [T.StructField("html", T.BinaryType()),
               T.StructField("_fetch_error", T.StringType())]
        )
        opener = self.opener
        off_c, len_c = self.offset_col, self.length_col
        n_workers = self.max_workers

        def fetch_one(url: str, off, want) -> tuple[bytes | None, str | None]:
            off = int(off) if off is not None and pd.notna(off) else None
            want = int(want) if want is not None and pd.notna(want) else None
            # length verification only applies to an actually-ranged request:
            # a row carrying length but no offset gets a plain GET, and the
            # full response legitimately differs from the CDX segment length
            ranged = off is not None and want is not None
            try:
                data = opener(url, off if ranged else None,
                              want if ranged else None)
            except Exception as exc:  # noqa: BLE001 — error side-channel
                return None, f"{type(exc).__name__}: {exc}"[:200]
            if ranged and data is not None and len(data) != want:
                return None, f"torn_read: got {len(data)} want {want}"
            return data, None

        def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

            with ThreadPoolExecutor(max_workers=n_workers) as pool:
                for pdf in pdfs:
                    offs = pdf[off_c] if off_c in pdf.columns else None
                    lens = pdf[len_c] if len_c in pdf.columns else None
                    blobs: list = [None] * len(pdf)
                    errs: list = [None] * len(pdf)
                    in_flight = {}
                    cap = n_workers * 4  # ST1 bounded in-flight window
                    for i, url in enumerate(pdf["url"]):
                        if len(in_flight) >= cap:
                            done, _ = wait(in_flight, return_when=FIRST_COMPLETED)
                            for fut in done:
                                j = in_flight.pop(fut)
                                blobs[j], errs[j] = fut.result()
                        fut = pool.submit(
                            fetch_one, url,
                            offs.iloc[i] if offs is not None else None,
                            lens.iloc[i] if lens is not None else None,
                        )
                        in_flight[fut] = i
                    for fut, j in in_flight.items():
                        blobs[j], errs[j] = fut.result()
                    out = pdf.copy()
                    out["html"] = pd.Series(blobs, index=pdf.index, dtype=object)
                    out["_fetch_error"] = pd.Series(errs, index=pdf.index,
                                                    dtype=object)
                    yield out

        return batch.mapInPandas(gen, schema)
