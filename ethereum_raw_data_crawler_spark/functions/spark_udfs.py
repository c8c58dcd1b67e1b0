"""Arrow-batched pandas UDFs over the shared pure functions.

All Python on the executor path is vectorized (ArrowEvalPython /
MapInPandas — never row-at-a-time BatchEvalPython, enforced by
tests/test_plan_hygiene.py), per the input_hint "no per-row Python".
The UDF bodies delegate to the exact pure functions the oracle uses,
which is what makes canonical URLs and extracted text identical between
the two paths (SURVEY.md §2.9).
"""

from __future__ import annotations

import pandas as pd
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


@F.pandas_udf(T.LongType())
def url_hash_udf(canon: pd.Series) -> pd.Series:
    return canon.map(url_hash64, na_action="ignore")


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("text", T.StringType(), False),
            T.StructField("links", T.ArrayType(T.StringType()), False),
        ]
    )
)
def extract_page_udf(html: pd.Series, base: pd.Series) -> pd.DataFrame:
    """Single-pass extraction: the html bytes cross the JVM->Python Arrow
    socket ONCE per round (text + canonical links together) — the socket
    transfer, not the parse, dominated the profile at 1M pages/round."""
    texts, links = [], []
    for h, b in zip(html, base):
        t, ls = extract_page(h, b)
        texts.append(t)
        links.append(ls)
    return pd.DataFrame({"text": texts, "links": links}, index=html.index)


def with_host_and_path(df, canon_col: str = "url_canon"):
    """host (netloc incl. non-default port) and path of a CANONICAL url —
    JVM-side regexes, no Python (canonical form guarantees the shape)."""
    return df.withColumn(
        "host", F.regexp_extract(F.col(canon_col), r"^https?://([^/]+)/", 1)
    ).withColumn("path", F.regexp_extract(F.col(canon_col), r"^https?://[^/]+(/.*)$", 1))
