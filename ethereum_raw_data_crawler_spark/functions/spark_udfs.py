"""Arrow-batched UDFs over the shared pure functions.

All Python on the executor path is vectorized (ArrowEvalPython /
MapInPandas / MapInArrow — never row-at-a-time BatchEvalPython, enforced by
tests/test_plan_hygiene.py), per the input_hint "no per-row Python".
The UDF bodies delegate to the exact pure functions the oracle uses,
which is what makes canonical URLs and extracted text identical between
the two paths (SURVEY.md §2.9).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ethereum_raw_data_crawler_spark.functions.extract import (
    extract_page,
    extract_text,
)
from ethereum_raw_data_crawler_spark.functions.urls import canonicalize_url, url_hash64


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url, na_action="ignore")


# Nondeterministic only to the optimizer: it then keeps a filter on the
# result (``url_canon IS NOT NULL``) above the projection instead of
# pushing it below with the UDF inlined, which planned a second
# ArrowEvalPython that canonicalized every url again on a second worker.
canonicalize_udf = canonicalize_udf.asNondeterministic()


@F.pandas_udf(T.LongType())
def url_hash_udf(canon: pd.Series) -> pd.Series:
    return canon.map(url_hash64, na_action="ignore")


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


#: the corpus columns a fetch reads; the columns it adds to a popped row
FETCH_CORPUS_COLS = ("warc_ts", "html", "lang")
FETCH_ADDS = (
    "found boolean not null, warc_ts timestamp, html binary, lang string, "
    "ext struct<text: string, links: array<string>>"
)


def fetch_buckets(
    batches: Iterator[pa.RecordBatch],
    files: dict[str, list[str]],
    n_buckets: int,
    schema: pa.Schema,
    max_rows: int,
) -> Iterator[pa.RecordBatch]:
    """One task of the bucket-aligned fetch (``mapInArrow``): popped rows
    in, partitioned by ``pmod(url_hash, n_buckets)``; each out once per
    corpus copy (or once as a miss) with ``found``, the corpus columns and
    the parse ``ext``, cast to ``schema`` in batches of at most ``max_rows``.
    The task's bucket ``files`` are scanned once, filtered to its keys, and
    each ``max_rows`` of hits is joined and parsed before the scan goes on,
    so a task holds at most two such batches of html. Spark writes
    ``warc_ts`` as INT96, which pyarrow reads as ``timestamp[ns]``."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    popped = pa.Table.from_batches(batches)
    keys = popped.column("url_canon")
    buckets = np.unique(np.mod(popped.column("url_hash").to_numpy(), n_buckets))  # pmod
    paths = [p for b in buckets for p in files.get(str(b), [])]
    max_rows = max_rows if max_rows > 0 else 1 << 17  # <= 0: Spark's no limit

    def joined(hits: list[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        hit_rows = pa.Table.from_batches(hits)
        rows = popped.join(hit_rows, "url_canon", join_type="inner", use_threads=False)
        return _parsed(rows, np.ones(len(rows), bool), schema, max_rows)

    scan = (
        ds.dataset(paths, format="parquet").to_batches(
            columns=["url_canon", *FETCH_CORPUS_COLS],
            filter=pc.field("url_canon").isin(keys),
            batch_size=max_rows,
            use_threads=False,
        )
        if paths
        else ()
    )
    hits, hit_keys = [], [pa.array([], pa.string())]
    for batch in scan:
        hits.append(batch)
        hit_keys.append(batch.column("url_canon"))
        if sum(b.num_rows for b in hits) >= max_rows:
            yield from joined(hits)
            hits = []
    if hits:
        yield from joined(hits)
    missed = popped.filter(pc.invert(pc.is_in(keys, pa.concat_arrays(hit_keys))))
    for c in FETCH_CORPUS_COLS:
        missed = missed.append_column(c, pa.nulls(len(missed), schema.field(c).type))
    yield from _parsed(missed, np.zeros(len(missed), bool), schema, max_rows)


def _parsed(
    rows: pa.Table, found: np.ndarray, schema: pa.Schema, max_rows: int
) -> Iterator[pa.RecordBatch]:
    """``rows`` with ``found`` and the parse ``ext`` of its found, not
    ``fetch_failed`` rows, cast to ``schema``."""
    parse = found & ~rows.column("fetch_failed").to_numpy()
    idx = np.flatnonzero(parse)
    html = rows.column("html").take(idx).to_pylist()
    canon = rows.column("url_canon").take(idx).to_pylist()
    texts, links = [None] * len(rows), [None] * len(rows)
    for i, h, c in zip(idx, html, canon):
        texts[i], links[i] = extract_page(h, c)
    ext = pa.StructArray.from_arrays(
        [pa.array(texts, pa.string()), pa.array(links, pa.list_(pa.string()))],
        fields=list(schema.field("ext").type),
        mask=pa.array(~parse),
    )
    out = rows.append_column("found", pa.array(found)).append_column("ext", ext)
    return out.select(schema.names).cast(schema).to_batches(max_chunksize=max_rows)


def with_host_and_path(df, canon_col: str = "url_canon"):
    """host (netloc incl. non-default port) and path of a CANONICAL url —
    JVM-side regexes, no Python (canonical form guarantees the shape)."""
    return df.withColumn(
        "host", F.regexp_extract(F.col(canon_col), r"^https?://([^/]+)/", 1)
    ).withColumn("path", F.regexp_extract(F.col(canon_col), r"^https?://[^/]+(/.*)$", 1))
