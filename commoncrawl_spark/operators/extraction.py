"""Extraction operator: pages(url, html, ...) -> articles + error side-channel.

Spark-first shape of the reference's extraction stage
(extract_from_warc.py:158-258): the multiprocessing.Pool becomes the
executor's Arrow-batched pandas UDF; the chunked JSONL writer becomes a
table append; the extraction_failed.log becomes an error side-output
DataFrame (never silently dropped — F4 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import extract_from_warc_bytes
from ..functions.udfs import ARTICLE_STRUCT
from ..functions.urls import page_id_col


def extract_articles(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Attach the extracted article struct; drops the fat ``html_col``.

    Implemented as ``mapInPandas`` rather than a pandas_udf *expression* on
    purpose: an expression that only reads pages-side columns gets pushed
    by Catalyst below the fetch join, which (a) extracts pages the frontier
    never selected and (b) shuffles fat html+article rows instead of the
    slim frontier side (measured: the 32-core leg ran 1.8x SLOWER than the
    8-core leg on the bench corpus). A MapInPandas plan node is a placement
    barrier — it runs exactly where the plan says, fused after the join,
    narrow (no shuffle) — and its output no longer carries the html bytes,
    so only slim article structs flow downstream.
    """
    import pandas as pd

    passthrough = [f for f in pages.schema.fields if f.name != html_col]
    pass_names = [f.name for f in passthrough]
    # flat `_a_`-prefixed fields over the wire (a pandas column of dicts
    # costs ~2x in Arrow conversion); the struct is rebuilt JVM-side below.
    out_schema = T.StructType(
        passthrough
        + [T.StructField(f"_a_{f.name}", f.dataType) for f in ARTICLE_STRUCT.fields]
    )

    a_names = [f.name for f in ARTICLE_STRUCT.fields]

    def _map_batches(batches):
        for pdf in batches:
            recs = [extract_from_warc_bytes(v) for v in pdf[html_col]]
            data = {n: pdf[n].to_numpy() for n in pass_names}
            for c in a_names:
                data[f"_a_{c}"] = [r[c] for r in recs]
            yield pd.DataFrame(data)

    flat = pages.mapInPandas(_map_batches, out_schema)
    article = F.struct(
        *[F.col(f"_a_{f.name}").alias(f.name) for f in ARTICLE_STRUCT.fields]
    ).alias("article")
    return flat.select(*pass_names, article)


def article_rows(with_struct: DataFrame, *extra: str) -> DataFrame:
    """The rows whose extraction succeeded, as articles: ``id``, ``url``,
    the article's fields, then the ``extra`` columns. Article id =
    md5(url) for reference parity (download_warc_segments.py:46-48 names
    files md5(url).warc.gz and extract_from_warc.py:164,179 carries that
    stem as the record id)."""
    fields = [f"article.{f.name}" for f in ARTICLE_STRUCT.fields
              if f.name != "error"]
    return with_struct.filter(F.col("article.error").isNull()).select(
        page_id_col(F.col("url")).alias("id"), "url", *fields, *extra)


def split_articles(with_struct: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(articles, failures): :func:`article_rows`, and the url and
    extraction error of every other row."""
    failed = (
        with_struct.filter(F.col("article.error").isNotNull())
        .select("url", F.col("article.error").alias("reason"))
    )
    return article_rows(with_struct), failed
