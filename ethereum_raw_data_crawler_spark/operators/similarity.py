"""Similarity search over the embedding column (array<float>).

Two paths, as a 100-TB pipeline needs both:

  brute_force_topk   exact cosine top-k — the correctness baseline
                     (SQL-paired variant: queries.py::embedding_topk).
                     Built-in higher-order functions only (zip_with +
                     aggregate), whole-stage-codegen'd, no Python.

  lsh_topk           random-hyperplane LSH: bucket by sign bits, multi-
                     probe neighboring buckets (Hamming<=1), exact cosine
                     on the candidate set only. The scale path: candidate
                     count is ~n/2^p per probe instead of n.

Hyperplanes are seeded — the bucketing is deterministic, so results are
reproducible and the pytest recall check is stable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )


def cosine_col(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            id_col, F.round(cosine_col(F.col(vec_col), q), 5).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), id_col)
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _bucket_of(vecs: np.ndarray, planes: np.ndarray) -> np.ndarray:
    bits = (vecs @ planes.T) > 0
    return (bits * (1 << np.arange(planes.shape[0]))[None, :]).sum(axis=1)


def with_lsh_bucket(
    embeddings: DataFrame,
    planes: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add the sign-bit bucket id — one vectorized Arrow pass."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(planes)
    schema = T.StructType(
        list(embeddings.schema.fields) + [T.StructField("bucket", T.LongType(), False)]
    )

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy())
            yield pdf.assign(bucket=_bucket_of(vecs, bc.value))

    return embeddings.mapInPandas(tag, schema)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: exact cosine restricted to the query's LSH bucket plus
    all Hamming-1 neighbor buckets (multi-probe). At scale the bucket
    column is a partition/bucketing key, so this is a partition-pruned
    scan + a small exact top-k instead of a full-corpus pass."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qb = int(_bucket_of(q[None, :], planes)[0])
    probes = [qb] + [qb ^ (1 << i) for i in range(n_planes)]
    tagged = with_lsh_bucket(embeddings, planes, id_col, vec_col)
    cand = tagged.where(F.col("bucket").isin(probes))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select(
            id_col, F.round(cosine_col(F.col(vec_col), qcol), 5).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), id_col)
        .limit(k)
    )


def kmeans_centroids(
    vectors: np.ndarray, k: int = 16, iters: int = 10, seed: int = 13
) -> np.ndarray:
    """Deterministic Lloyd's k-means (numpy) — the IVF coarse quantizer.
    Trained on a driver-side sample; at 10^10 scale the sample is a
    bounded `.sample().toPandas()` (quantizer quality needs thousands of
    points, not the corpus)."""
    rng = np.random.default_rng(seed)
    cents = vectors[rng.choice(len(vectors), size=min(k, len(vectors)), replace=False)]
    for _ in range(iters):
        d = ((vectors[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = vectors[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2000,
    seed: int = 13,
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer -> assign every vector to its
    nearest centroid list (one Arrow pass) -> exact cosine only over the
    query's ``n_probe`` nearest lists. The scale path partitions/buckets
    the corpus by ``list_id`` so a query reads n_probe/n_lists of the
    data; here the assignment happens inline."""
    # deterministic sample: ordered prefix (limit without order is not)
    pdf_sample = (
        embeddings.orderBy(id_col).select(vec_col).limit(sample).toPandas()
    )
    train = np.stack(pdf_sample[vec_col].to_numpy()).astype(np.float64)
    cents = kmeans_centroids(train, k=n_lists, seed=seed)
    q = np.asarray(query_vec, dtype=np.float64)
    probes = (
        ((cents - q[None, :]) ** 2).sum(axis=1).argsort()[:n_probe].tolist()
    )

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(cents)
    schema = T.StructType(
        list(embeddings.schema.fields)
        + [T.StructField("list_id", T.IntegerType(), False)]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = ((vecs[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
            yield pdf.assign(list_id=d.argmin(axis=1).astype(np.int32))

    listed = embeddings.mapInPandas(assign, schema)
    cand = listed.where(F.col("list_id").isin([int(p) for p in probes]))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select(
            id_col, F.round(cosine_col(F.col(vec_col), qcol), 5).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), id_col)
        .limit(k)
    )


class AnnIndex:
    """ANN index AT REST: tag once, partition by the tag, prune per query.

    The inline helpers above (``lsh_topk`` / ``ivf_topk``) re-tag the
    whole corpus per query — fine for a one-off, wrong as the serving
    path at 10^10 vectors. This class is the scale path their docstrings
    promise: ``build_lsh``/``build_ivf`` run the tagging job ONCE and
    write the corpus hive-partitioned by the tag (``bucket=<b>/`` /
    ``list_id=<l>/`` directories), with the tiny model state (hyperplanes
    or centroids) saved beside the data. ``topk`` computes the probe set
    driver-side from that state (a numpy op over ≤ KBs) and issues a
    partition-pruned read — Catalyst prunes to the probed directories at
    planning time, so a query scans ~n_probe/n_lists of the data — then
    exact-cosine reranks only those candidates.

    Same probe logic and seeds as the inline helpers, so results are
    bit-identical to ``lsh_topk``/``ivf_topk`` on the same input
    (asserted in tests/test_ann_index.py, alongside the plan assertion
    that the scan touches only probed partitions).

    Rebuilds follow the same snapshot commit protocol as every table in
    the store (sources/tablestore.py:143, operators/bloom.py): each
    build writes a fresh ``v-NNNNNN/`` directory (data + model + meta)
    and only then swaps the ``current.json`` pointer into place with an
    atomic temp + ``os.replace``. A crash anywhere mid-rebuild leaves at
    worst an orphaned half-written version directory; the pointer — and
    therefore every reader — still sees the previous complete index.
    Old versions stay readable via ``AnnIndex(root, version=k)`` (time
    travel), mirroring the store's manifest history."""

    POINTER = "current.json"

    def __init__(self, root: str, version: int | None = None) -> None:
        import json
        import os

        self.root = root
        if version is None:
            ptr = os.path.join(root, self.POINTER)
            if not os.path.exists(ptr) and os.path.exists(
                os.path.join(root, "meta.json")
            ):
                # legacy flat layout (pre-versioning): auto-migrate into
                # v-000001 + pointer so persisted indexes stay readable
                self._migrate_flat(root)
            with open(ptr) as fh:
                version = int(json.load(fh)["version"])
        self.version = version
        self.vdir = os.path.join(root, f"v-{version:06d}")
        with open(os.path.join(self.vdir, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.model = np.load(os.path.join(self.vdir, "model.npy"))

    # ---- commit protocol (shared by both builders) ----------------------
    @classmethod
    def _migrate_flat(cls, root: str) -> None:
        """One-time upgrade of a pre-versioning flat index (meta.json /
        model.npy / data at the root) into v-000001 + pointer."""
        import os
        import shutil

        vdir = os.path.join(root, "v-000001")
        os.makedirs(vdir, exist_ok=True)
        for name in ("data", "meta.json", "model.npy"):
            src = os.path.join(root, name)
            if os.path.exists(src):
                shutil.move(src, os.path.join(vdir, name))
        cls._publish(root, 1)

    @classmethod
    def _begin_version(cls, root: str) -> tuple[int, str]:
        """Allocate the next version directory. Nothing a reader can see
        changes until ``_publish`` swaps the pointer. A leftover directory
        at this version number is an orphan from a crashed build — its
        contents are garbage by definition (never published), so it is
        cleared before reuse."""
        import json
        import os
        import shutil

        os.makedirs(root, exist_ok=True)
        try:
            with open(os.path.join(root, cls.POINTER)) as fh:
                cur = int(json.load(fh)["version"])
        except FileNotFoundError:
            cur = 0
        v = cur + 1
        vdir = os.path.join(root, f"v-{v:06d}")
        if os.path.exists(vdir):
            shutil.rmtree(vdir)
        os.makedirs(vdir)
        return v, vdir

    @classmethod
    def _publish(cls, root: str, version: int) -> None:
        """The commit point: one atomic rename, same as the store's
        manifest swap. GC runs after the swap (same placement as
        PartitionedBloom.commit -> _gc, operators/bloom.py)."""
        import json
        import os
        import uuid

        tmp = os.path.join(root, f".current.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": version}, fh)
        os.replace(tmp, os.path.join(root, cls.POINTER))
        cls._gc(root)

    @classmethod
    def _gc(cls, root: str, keep: int = 2) -> None:
        """Reclaim version directories nothing can read anymore — the
        mirror of ``PartitionedBloom._gc``
        (operators/bloom.py): keep the newest ``keep``
        PUBLISHED versions (pointer + one step of time travel) and drop
        (a) published versions older than that and
        (b) unpublished orphans ABOVE the pointer left by a crashed
        build. At 100 TB an index version is the corpus — leaking one per
        crash/rebuild is the difference between bounded and unbounded
        storage. Numeric sort on the parsed version (same rationale as
        the filter meta sort: zero padding eventually overflows)."""
        import json
        import os
        import re
        import shutil

        try:
            with open(os.path.join(root, cls.POINTER)) as fh:
                cur = int(json.load(fh)["version"])
        except FileNotFoundError:
            return  # nothing published yet — a build may be in flight
        versions = sorted(
            int(m.group(1))
            for f in os.listdir(root)
            if (m := re.fullmatch(r"v-(\d+)", f))
        )
        published = [v for v in versions if v <= cur]
        live = set(published[-keep:])
        for v in versions:
            if v not in live:
                shutil.rmtree(os.path.join(root, f"v-{v:06d}"), ignore_errors=True)

    # ---- build (once per corpus version) --------------------------------
    @classmethod
    def build_lsh(
        cls,
        embeddings: DataFrame,
        root: str,
        dim: int,
        n_planes: int = 12,
        seed: int = 7,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "AnnIndex":
        import json
        import os

        planes = hyperplanes(dim, n_planes, seed)
        tagged = with_lsh_bucket(embeddings, planes, id_col, vec_col)
        version, vdir = cls._begin_version(root)
        tagged.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(vdir, "data")
        )
        np.save(os.path.join(vdir, "model.npy"), planes)
        with open(os.path.join(vdir, "meta.json"), "w") as fh:
            json.dump(
                {
                    "kind": "lsh",
                    "n_planes": n_planes,
                    "tag_col": "bucket",
                    "id_col": id_col,
                    "vec_col": vec_col,
                },
                fh,
            )
        cls._publish(root, version)
        return cls(root)

    @classmethod
    def build_ivf(
        cls,
        embeddings: DataFrame,
        root: str,
        n_lists: int = 16,
        sample: int = 2000,
        seed: int = 13,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        centroids: "np.ndarray | None" = None,
    ) -> "AnnIndex":
        import json
        import os

        if centroids is not None:
            # caller-supplied quantizer (e.g. the per-label-mean centroids
            # the SQL-oracled ann_ivf_topk uses): list_id = row index of
            # the nearest centroid, ties to the lower index — identical
            # assignment + probe semantics to the sampled-kmeans default
            cents = np.asarray(centroids, dtype=np.float64)
            n_lists = cents.shape[0]
        else:
            # deterministic quantizer sample: ordered prefix (same rule as
            # ivf_topk, so the two paths assign identical list ids)
            pdf_sample = (
                embeddings.orderBy(id_col).select(vec_col).limit(sample).toPandas()
            )
            train = np.stack(pdf_sample[vec_col].to_numpy()).astype(np.float64)
            cents = kmeans_centroids(train, k=n_lists, seed=seed)

        spark = embeddings.sparkSession
        bc = spark.sparkContext.broadcast(cents)
        schema = T.StructType(
            list(embeddings.schema.fields)
            + [T.StructField("list_id", T.IntegerType(), False)]
        )

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d = ((vecs[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
                yield pdf.assign(list_id=d.argmin(axis=1).astype(np.int32))

        version, vdir = cls._begin_version(root)
        embeddings.mapInPandas(assign, schema).write.mode(
            "overwrite"
        ).partitionBy("list_id").parquet(os.path.join(vdir, "data"))
        np.save(os.path.join(vdir, "model.npy"), cents)
        with open(os.path.join(vdir, "meta.json"), "w") as fh:
            json.dump(
                {
                    "kind": "ivf",
                    "n_lists": n_lists,
                    "tag_col": "list_id",
                    "id_col": id_col,
                    "vec_col": vec_col,
                },
                fh,
            )
        cls._publish(root, version)
        return cls(root)

    # ---- incremental refresh (O(batch), not O(corpus)) ------------------
    def append(self, new_embeddings: DataFrame) -> "AnnIndex":
        """Add a batch of vectors WITHOUT rewriting the corpus — the
        index analogue of the reference's per-batch upsert
        (transaction_repository_impl.go:109-172: each crawl batch lands
        incrementally, nothing reprocesses history).

        Protocol: allocate the next version dir, HARD-LINK the current
        version's immutable parquet files into it (metadata-only — the
        single-filesystem stand-in for manifest/file reuse in Iceberg,
        where a new snapshot lists old data files instead of copying
        them), tag ONLY the new vectors with the SAVED quantizer
        (model.npy — the model is frozen, so old assignments stay valid
        by construction), append those delta files under the same
        hive-partition layout, then republish the pointer. Cost is
        O(batch) data + O(#files) metadata; a full rebuild is O(corpus).

        Readers are never disturbed: the pointer flips atomically from
        one complete version to the next, and time travel to the
        pre-append version keeps working."""
        import json
        import os
        import shutil

        version, vdir = self._begin_version(self.root)
        src_data = os.path.join(self.vdir, "data")
        dst_data = os.path.join(vdir, "data")
        for dirpath, _dirnames, filenames in os.walk(src_data):
            rel = os.path.relpath(dirpath, src_data)
            tgt = os.path.join(dst_data, rel) if rel != "." else dst_data
            os.makedirs(tgt, exist_ok=True)
            for fn in filenames:
                try:
                    os.link(os.path.join(dirpath, fn), os.path.join(tgt, fn))
                except OSError:
                    shutil.copy2(os.path.join(dirpath, fn), os.path.join(tgt, fn))

        tag = self.meta["tag_col"]
        if self.meta["kind"] == "lsh":
            tagged = with_lsh_bucket(
                new_embeddings, self.model, self.meta["id_col"], self.meta["vec_col"]
            )
        else:
            spark = new_embeddings.sparkSession
            bc = spark.sparkContext.broadcast(self.model)
            vec_col = self.meta["vec_col"]
            schema = T.StructType(
                list(new_embeddings.schema.fields)
                + [T.StructField("list_id", T.IntegerType(), False)]
            )

            def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if not len(pdf):
                        continue
                    vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                    d = ((vecs[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
                    yield pdf.assign(list_id=d.argmin(axis=1).astype(np.int32))

            tagged = new_embeddings.mapInPandas(assign, schema)
        tagged.write.mode("append").partitionBy(tag).parquet(dst_data)

        np.save(os.path.join(vdir, "model.npy"), self.model)
        with open(os.path.join(vdir, "meta.json"), "w") as fh:
            json.dump(self.meta, fh)
        self._publish(self.root, version)
        return AnnIndex(self.root)

    # ---- query (partition-pruned read + exact rerank) -------------------
    def probes(self, query_vec: list[float], n_probe: int = 4) -> list[int]:
        q = np.asarray(query_vec, dtype=np.float64)
        if self.meta["kind"] == "lsh":
            qb = int(_bucket_of(q[None, :], self.model)[0])
            return [qb] + [qb ^ (1 << i) for i in range(self.meta["n_planes"])]
        d = ((self.model - q[None, :]) ** 2).sum(axis=1)
        # stable sort: equal distances resolve to the lower list id, the
        # same (distance, label) order the SQL oracle's ORDER BY uses
        return [int(p) for p in np.argsort(d, kind="stable")[:n_probe]]

    def candidates(self, spark, query_vec: list[float], n_probe: int = 4) -> DataFrame:
        """The partition-pruned candidate scan (exposed for plan tests)."""
        import os

        tag = self.meta["tag_col"]
        df = spark.read.parquet(os.path.join(self.vdir, "data"))
        # NO cast on the partition column: Catalyst prunes partitions on
        # the raw attribute; literals coerce to the inferred column type
        return df.where(
            F.col(tag).isin([int(p) for p in self.probes(query_vec, n_probe)])
        )

    def topk(
        self, spark, query_vec: list[float], k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        cand = self.candidates(spark, query_vec, n_probe)
        id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            cand.select(
                id_col,
                F.round(cosine_col(F.col(vec_col), qcol), 5).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), id_col)
            .limit(k)
        )


def lsh_topk_oracle(
    pdf: pd.DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[tuple[int, float]]:
    """Single-threaded reference of the same LSH procedure."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qb = int(_bucket_of(q[None, :], planes)[0])
    probes = {qb} | {qb ^ (1 << i) for i in range(n_planes)}
    out = []
    for _, r in pdf.iterrows():
        v = np.asarray(r[vec_col], dtype=np.float64)
        if int(_bucket_of(v[None, :], planes)[0]) not in probes:
            continue
        # float32-faithful dot (mirror Spark's float->double elementwise cast)
        v32 = np.asarray(r[vec_col])
        cos = float(
            sum(float(a) * float(b) for a, b in zip(v32, q))
            / (
                np.sqrt(sum(float(a) * float(a) for a in v32))
                * np.sqrt(sum(float(b) * float(b) for b in q))
            )
        )
        out.append((int(r[id_col]), round(cos, 5)))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]
