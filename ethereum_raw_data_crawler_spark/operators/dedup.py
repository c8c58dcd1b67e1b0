"""Deduplication operators for the training-data pipeline.

Five families over the ``documents`` table, each the set-based analogue of
the reference's unique-index dedup (reference: mongodb.go:86-92,111-115)
generalized from exact keys to near-duplicate content:

  exact           hash-groupBy (queries.py::dedup_exact — SQL-paired)
  minhash_lsh     word-shingle MinHash -> banded LSH -> bucket self-join
                  -> signature-similarity verify
  simhash         64-bit SimHash fingerprints -> chunk-banded candidate
                  pairs -> Hamming verify
  ngram_jaccard   exact word-3-gram Jaccard over blocked pairs
                  (queries.py SQL-paired variant lives in queries registry)
  embedding_cos   near-dup pairs by cosine over the embedding column

Scale notes (10^10 docs): LSH banding turns the O(n^2) pair problem into
per-bucket self-joins; bucket sizes are bounded by hash dispersion, and
AQE skew-join splitting covers pathological buckets. Signatures are
computed in one Arrow-batched mapInPandas pass, vectorized at BATCH
granularity: token/shingle hashing, segmented-min MinHash, band keys and
simhash bit votes are all whole-batch numpy ops — the only per-document
Python left is the token split.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ethereum_raw_data_crawler_spark.functions.hashing import (
    band_keys,
    band_keys_batch,
    hamming64,
    minhash_signature_batch,
    shingle_hashes_concat,
    shingle_hashes_vec,
    simhash64_batch,
    token_hash64_vec,
)


def _spread(df: DataFrame) -> DataFrame:
    """Rebalance a narrow scan before an expensive per-row pass.

    A corpus that arrives as one unsplittable file (or a parquet file
    with a single row group) pins the whole signature stage to ONE task
    no matter how wide the cluster is (guide: input skew — repartition
    immediately after the read). The shuffle moves only the slim
    (id, text) projection and only fires when the source's parallelism
    is actually below the cluster's."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df

# ---------------------------------------------------------------------------
# pure per-document signature functions (shared with the pytest oracles —
# thin single-document wrappers over the SAME vectorized batch primitives
# the executors run, so oracle equality is structural)
# ---------------------------------------------------------------------------


def _doc_tokens(text: str) -> list[str]:
    return [t for t in text.split(" ") if t]


def doc_minhash(text: str, k: int = 64) -> np.ndarray:
    sh = shingle_hashes_vec(token_hash64_vec(_doc_tokens(text)), 3)
    return minhash_signature_batch(sh, np.array([len(sh)]), k)[0]


def doc_simhash(text: str) -> int:
    th = token_hash64_vec(_doc_tokens(text))
    return int(simhash64_batch(th, np.array([len(th)]))[0])


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_doc_sigs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 64,
                     bands: int = 16) -> DataFrame:
    """(id, sig, band_keys) — ONE row per document across the Arrow
    boundary. A per-(doc, band) layout would repeat the k-long signature
    ``bands`` times (k x bands x 8 bytes of redundant Arrow traffic per
    doc — ~400 MB at 50k docs); here the signature crosses once and the
    band explode happens JVM-side."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("sig", T.ArrayType(T.LongType()), False),
            T.StructField("band_keys", T.ArrayType(T.LongType()), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            tok_lists = [_doc_tokens(t) for t in pdf[text_col]]
            tok_counts = np.array([len(t) for t in tok_lists], dtype=np.int64)
            all_hashes = token_hash64_vec(
                [w for toks in tok_lists for w in toks]
            )
            flat, counts = shingle_hashes_concat(all_hashes, tok_counts, 3)
            sigs = minhash_signature_batch(flat, counts, k)  # (n, k)
            keys = band_keys_batch(sigs, bands)  # (n, bands) int64
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "sig": sigs.view(np.int64).tolist(),
                    "band_keys": keys.tolist(),
                }
            )

    return _spread(df.select(id_col, text_col)).mapInPandas(compute, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature
    similarity (fraction of equal MinHash entries — the unbiased Jaccard
    estimate). Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    Execution shape: the signature pass is materialized ONCE
    (localCheckpoint) — the band self-join references it on both sides
    and the signature-verify joins twice more, so the lazy plan would
    re-run the Python signature pass 4x (measured as the bulk of the
    operator's wall at 50k docs). Band rows entering the self-join are
    slim (id, band_idx, band_key); signatures are attached to the
    surviving candidate pairs only."""
    per_doc = minhash_doc_sigs(df, text_col, id_col, k, bands).localCheckpoint(
        eager=True
    )
    b = per_doc.select(
        F.col(id_col), F.posexplode("band_keys").alias("band_idx", "band_key")
    )
    left = b.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    right = b.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    pairs = (
        left.join(right, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = per_doc.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = per_doc.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(k)
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs_oracle(
    pdf: pd.DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> set[tuple[int, int, float]]:
    """Single-threaded reference for the pytest oracle."""
    sigs = {int(r[id_col]): doc_minhash(r[text_col], k) for _, r in pdf.iterrows()}
    buckets: dict[tuple[int, int], list[int]] = {}
    for did, sig in sigs.items():
        for bi, bk in enumerate(band_keys(sig, bands)):
            buckets.setdefault((bi, bk), []).append(did)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = set()
    for a, b in cand:
        est = round(float((sigs[a] == sigs[b]).mean()), 6)
        if est >= threshold:
            out.add((a, b, est))
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash, 4x16-bit chunk keys) in one Arrow pass."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
            T.StructField("chunk_idx", T.IntegerType(), False),
            T.StructField("chunk_key", T.IntegerType(), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            tok_lists = [_doc_tokens(t) for t in pdf[text_col]]
            counts = np.array([len(t) for t in tok_lists], dtype=np.int64)
            flat = token_hash64_vec([w for toks in tok_lists for w in toks])
            sh = simhash64_batch(flat, counts)  # (n,) int64
            n = len(pdf)
            chunk_idx = np.tile(np.arange(4, dtype=np.int32), n)
            rep = np.repeat(sh, 4)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), 4),
                    "simhash": rep,
                    "chunk_idx": chunk_idx,
                    "chunk_key": (
                        (rep >> (16 * chunk_idx.astype(np.int64))) & 0xFFFF
                    ).astype(np.int32),
                }
            )

    return _spread(df.select(id_col, text_col)).mapInPandas(compute, out_schema)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Pigeonhole
    blocking: distance <=3 over 4 chunks implies at least one identical
    16-bit chunk, so the candidate join is per-(chunk_idx, chunk_key)."""
    fp = simhash_fingerprints(df, text_col, id_col)
    left = fp.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "chunk_idx",
        "chunk_key",
    )
    right = fp.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "chunk_idx",
        "chunk_key",
    )
    return (
        left.join(right, ["chunk_idx", "chunk_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_oracle(
    pdf: pd.DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> set[tuple[int, int, int]]:
    fps = {int(r[id_col]): doc_simhash(r[text_col]) for _, r in pdf.iterrows()}
    ids = sorted(fps)
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = hamming64(fps[ids[i]], fps[ids[j]])
            if d <= max_hamming:
                out.add((ids[i], ids[j], d))
    return out
