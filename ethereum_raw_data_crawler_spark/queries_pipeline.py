"""SQL-paired driver-contract variants of the UDF/dedup/ANN/multimodal
operators, re-targeted at the driver's ``documents``/``embeddings`` tables
so every one of them gets a full rows+schema+value-hash DuckDB check
(round-1 verdict item #2: these eight were previously rows-only).

The trick used throughout: the *inputs* the non-SQL operator needs (dirty
URLs, raw HTML, media payloads) are constructed ANALYTICALLY from the
table columns inside the query, identically in Spark and in the oracle
SQL — so the oracle can state the operator's expected output in closed
form while the Spark side still exercises the real production code path
(pandas-UDF canonicalizer, HTMLParser extractor, Arrow mapInPandas media
decoder, banded-LSH candidate join).

Numeric discipline (driver hash-compares rendered values):
  * every DuckDB integer ``sum()`` is CAST to BIGINT (HUGEINT renders
    differently from Spark's long);
  * doubles are rounded on both sides;
  * float32 features are converted back to their exact uint16 seeds
    rather than compared as floats.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from ethereum_raw_data_crawler_spark.queries import REGISTRY, _q, _t

# --------------------------------------------------------------------------
# canonicalize_urls — the RFC 3986 canonicalizer vs an analytic expectation
# --------------------------------------------------------------------------

# one dirty URL per document, exercising: scheme+host case, userinfo drop,
# default-port strip, dot-segment removal, percent-decode of unreserved
# (%2d -> '-'), percent-uppercase of reserved (%2f -> %2F), tracking-param
# strip (utm_*), query sort incl. a valueless key, fragment drop.
_DIRTY_PREFIX = "HTTP://u:p@Crawl.EXAMPLE.org:80/a/b/../c/./doc%2d"
_DIRTY_SUFFIX = "/%2fx?utm_source=feed&b=2&a=1&z#frag"
_CANON_PREFIX = "http://crawl.example.org/a/c/doc-"
_CANON_SUFFIX = "/%2Fx?a=1&b=2&z"


@_q(
    "canonicalize_urls",
    f"SELECT doc_id, '{_CANON_PREFIX}' || doc_id || '{_CANON_SUFFIX}' AS url_canon "
    "FROM documents",
)
def canonicalize_urls(spark, sf):
    """The production pandas-UDF canonicalizer (functions/urls.py,
    reference: ethereum_service.go:421-456 normalization) run over
    analytically-constructed dirty URLs; the oracle states the canonical
    form in closed form per RFC 3986."""
    from ethereum_raw_data_crawler_spark.functions.spark_udfs import canonicalize_udf

    d = _t(spark, sf, "documents")
    dirty = F.concat(
        F.lit(_DIRTY_PREFIX), F.col("doc_id").cast("string"), F.lit(_DIRTY_SUFFIX)
    )
    return d.select("doc_id", canonicalize_udf(dirty).alias("url_canon"))


# --------------------------------------------------------------------------
# extract_text — the HTMLParser extractor vs an analytic expectation
# --------------------------------------------------------------------------

_HTML_PRE = (
    '<html><head><title>T</title><script>var x = 1;</script></head>'
    "<body><h1>Doc "
)
_HTML_MID = "</h1><p>"
_HTML_POST = '</p> &amp; <a href="/next">next</a></body></html>'


@_q(
    "extract_text",
    "SELECT doc_id, 'T Doc ' || doc_id || ' ' || text || ' & next' AS extracted "
    "FROM documents",
)
def extract_text_q(spark, sf):
    """The production extractor (functions/extract.py — script dropped,
    entities decoded, whitespace collapsed; reference: sanitizeData,
    ethereum_service.go:318-325) over HTML wrapped around each document;
    the oracle predicts the exact visible text."""
    from ethereum_raw_data_crawler_spark.functions.spark_udfs import extract_text_udf

    d = _t(spark, sf, "documents")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.col("text"),
        F.lit(_HTML_POST),
    )
    return d.select("doc_id", extract_text_udf(html).alias("extracted"))


# --------------------------------------------------------------------------
# dedup_minhash_lsh — LSH candidates, exact-Jaccard verified
# --------------------------------------------------------------------------

_GRAMS_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),"
    "i -> string_split(text,' ')[i] || ' ' || "
    "coalesce(string_split(text,' ')[i+1], '') || ' ' || "
    "coalesce(string_split(text,' ')[i+2], '')))"
)


def _grams_col():
    w = F.split("text", " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.coalesce(F.element_at(w, i + 2), F.lit("")),
                F.coalesce(F.element_at(w, i + 3), F.lit("")),
            ),
        )
    )


@_q(
    "dedup_minhash_lsh",
    "WITH grams AS MATERIALIZED ("
    f"  SELECT doc_id, {_GRAMS_SQL} AS gs FROM documents) "
    "SELECT id_a, id_b, jaccard FROM ("
    "  SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  round(len(list_intersect(a.gs, b.gs)) * 1.0 / "
    "        len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jaccard "
    "  FROM grams a JOIN grams b ON a.doc_id < b.doc_id) "
    "WHERE jaccard >= 0.5",
)
def dedup_minhash_lsh(spark, sf):
    """Production near-dup pattern: banded MinHash-LSH proposes candidate
    pairs (never an all-pairs join — operators/dedup.py), then the exact
    word-3-gram Jaccard verifies each candidate. The oracle is the
    brute-force all-pairs Jaccard: equality *is* the recall check (at the
    corpus's near-dup similarity ~0.98, the 16x4 banding misses a pair
    with probability ~1e-18)."""
    docs = _t(spark, sf, "documents")
    return _verified_near_dup_pairs(docs)


def _verified_near_dup_pairs(docs):
    """LSH candidates verified by exact word-3-gram Jaccard >= 0.5 —
    shared by dedup_minhash_lsh (pair output) and dedup_groups (the
    component-resolution stage consuming those pairs)."""
    from ethereum_raw_data_crawler_spark.operators.dedup import minhash_lsh_pairs

    # Candidates first, materialized once (they are LSH output — tiny
    # relative to the corpus); the exact-Jaccard verify then computes the
    # expensive word-3-gram arrays ONLY for documents that appear in some
    # candidate pair (semi-join prefilter, guide §3.2) instead of for the
    # whole corpus on BOTH sides of the join. Below the size gate the
    # gram table is materialized once and broadcast into both pair joins
    # (no shuffle); above it the joins fall back to shuffles, still over
    # the prefiltered gram table. Results are identical either way: the
    # verify join is inner on candidate ids, so non-candidate documents
    # never contribute.
    cands = (
        minhash_lsh_pairs(docs, threshold=0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_pairs = cands.count()
    ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    member = docs.join(ids, "doc_id", "left_semi").select("doc_id", "text")
    if n_pairs <= 100_000:
        # <= 200k member docs; gram arrays are KB-scale -> broadcastable.
        # The explicit repartition spreads the gram compute across the
        # cluster — the broadcast semi-join otherwise leaves it at the
        # scan's parallelism (one task for a single-row-group corpus file)
        # and the shuffle moves only the few surviving (id, text) rows.
        par = docs.sparkSession.sparkContext.defaultParallelism
        g = (
            member.repartition(par)
            .select("doc_id", _grams_col().alias("gs"))
            .localCheckpoint(eager=True)
        )
        ga = F.broadcast(
            g.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("gs_a"))
        )
        gb = F.broadcast(
            g.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gs_b"))
        )
    else:
        g = member.select("doc_id", _grams_col().alias("gs"))
        ga = g.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("gs_a"))
        gb = g.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gs_b"))
    jac = F.round(
        F.size(F.array_intersect("gs_a", "gs_b"))
        * 1.0
        / F.size(F.array_union("gs_a", "gs_b")),
        6,
    )
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# dedup_groups — near-dup pairs resolved into canonical dup GROUPS
# --------------------------------------------------------------------------

_PAIRS_SQL = (
    "SELECT id_a, id_b FROM ("
    "  SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  round(len(list_intersect(a.gs, b.gs)) * 1.0 / "
    "        len(list_distinct(list_concat(a.gs, b.gs))), 6) AS jaccard "
    "  FROM grams a JOIN grams b ON a.doc_id < b.doc_id) "
    "WHERE jaccard >= 0.5"
)


@_q(
    "dedup_groups",
    "WITH RECURSIVE grams AS MATERIALIZED ("
    f"  SELECT doc_id, {_GRAMS_SQL} AS gs FROM documents), "
    f"pairs AS MATERIALIZED ({_PAIRS_SQL}), "
    "edges AS (SELECT id_a AS s, id_b AS d FROM pairs "
    "          UNION ALL SELECT id_b AS s, id_a AS d FROM pairs), "
    "reach AS ("
    "  SELECT s AS node, s AS lbl FROM edges "
    "  UNION "
    "  SELECT e.d AS node, r.lbl AS lbl FROM reach r JOIN edges e ON r.node = e.s), "
    "labeled AS (SELECT node AS doc_id, min(lbl) AS group_id FROM reach GROUP BY node) "
    "SELECT doc_id, group_id, "
    "CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size, "
    "CAST(CASE WHEN doc_id = group_id THEN 1 ELSE 0 END AS INT) AS keep "
    "FROM labeled ORDER BY doc_id",
)
def dedup_groups(spark, sf):
    """The missing final stage of the dedup pipeline: verified near-dup
    PAIRS (same LSH + exact-Jaccard stage as dedup_minhash_lsh) resolved
    into connected-component GROUPS via alternating large-star/small-star
    (operators/components.py — O(log n) shuffle rounds, no adjacency
    lists, no driver-side graph). Output: one row per document that
    appears in any near-dup pair, its group id (= min doc_id reachable
    through near-dup edges), the group size, and keep=1 on the canonical
    representative. The oracle computes the same transitive closure with
    a DuckDB recursive CTE (min-label reachability)."""
    from ethereum_raw_data_crawler_spark.operators.components import (
        connected_components,
    )
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    pairs = _verified_near_dup_pairs(docs).select("id_a", "id_b")
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return (
        cc.select(
            F.col("node").alias("doc_id"), F.col("component").alias("group_id")
        )
        .withColumn(
            "group_size", F.count(F.lit(1)).over(Window.partitionBy("group_id"))
        )
        .withColumn(
            "keep", (F.col("doc_id") == F.col("group_id")).cast("int")
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_simhash — 64-bit SimHash computed FULLY JVM-side (scale variant)
# --------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex chars of sha256 -> 60-bit token hash, signed-safe

_HEX15_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(sha256(tok), i, 1)) - 1 AS BIGINT) "
    "* (CAST(1 AS BIGINT) << ((15 - i) * 4)))) AS BIGINT)"
)

_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_COMBINE = " + ".join(
    f"CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END"
    for b in range(_SIMHASH_BITS)
)


@_q(
    "dedup_simhash",
    "WITH th AS MATERIALIZED ("
    f"  SELECT doc_id, {_HEX15_SQL} AS h FROM ("
    "    SELECT doc_id, unnest(list_filter(string_split(text, ' '), "
    "    t -> t <> '')) AS tok FROM documents)), "
    f"v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM th GROUP BY doc_id) "
    f"SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash FROM v",
)
def dedup_simhash(spark, sf):
    """SimHash fingerprints with ZERO Python on the executor path: token
    hash = first 15 hex chars of sha256 (bit-identical in both engines),
    bit votes via built-in higher-order functions inside whole-stage
    codegen, so the fingerprint pass never crosses the Arrow boundary."""
    from ethereum_raw_data_crawler_spark.operators.dedup import _spread

    d = _t(spark, sf, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    hs = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 15), 16, 10).cast("long"),
    )
    # sha256-per-token over the whole corpus is the expensive part; spread
    # it past a single-row-group scan's 1-task parallelism
    d2 = (
        _spread(d.select("doc_id", "text"))
        .select("doc_id", hs.alias("hs"))
        .where(F.size("hs") > 0)
    )

    def _vote_fn(b):
        # two-arg lambda required by F.aggregate's arity check
        return lambda acc, h: acc + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("long")

    bits = []
    for b in range(_SIMHASH_BITS):
        vote = F.aggregate(F.col("hs"), F.lit(0).cast("long"), _vote_fn(b))
        bits.append(
            F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    simhash = reduce(lambda a, b: a + b, bits)
    return d2.select("doc_id", simhash.alias("simhash"))


# --------------------------------------------------------------------------
# ann_lsh_topk — random-hyperplane LSH ANN with literal (seeded) planes
# --------------------------------------------------------------------------

_EMB_DIM = 64  # driver testdata embeddings are 64-wide at every sf
_N_PLANES = 4


def _planes():
    from ethereum_raw_data_crawler_spark.operators.similarity import hyperplanes

    return hyperplanes(_EMB_DIM, _N_PLANES, seed=7)


def _bucket_sql(vec_expr: str) -> str:
    planes = _planes()
    terms = []
    for i in range(_N_PLANES):
        lit = "[" + ",".join(repr(float(v)) for v in planes[i]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), {lit}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_LSH_TOPK_SQL = (
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
    f"qb AS (SELECT {_bucket_sql('qv')} AS qb FROM q), "
    "tagged AS (SELECT vec_id, embedding, "
    f"{_bucket_sql('embedding')} AS bucket FROM embeddings WHERE vec_id <> 0) "
    "SELECT vec_id, round(CAST(list_cosine_similarity(embedding, "
    "(SELECT qv FROM q)) AS DOUBLE), 5) AS cos_sim "
    "FROM tagged WHERE bucket = (SELECT qb FROM qb) "
    "OR xor(bucket, (SELECT qb FROM qb)) IN (1, 2, 4, 8) "
    "ORDER BY cos_sim DESC, vec_id LIMIT 10"
)


@_q("ann_lsh_topk", _LSH_TOPK_SQL)
def ann_lsh_topk(spark, sf):
    """Multi-probe (Hamming<=1) hyperplane-LSH ANN — the oracle recomputes
    the same seeded planes as SQL literals, so bucketing AND the pruned
    exact top-k are value-checked end to end. At scale ``bucket`` is the
    partition key: a query reads 5 of 2^p buckets, not the corpus."""
    from ethereum_raw_data_crawler_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    return lsh_topk(
        emb.where(F.col("vec_id") != 0), qv, k=10, n_planes=_N_PLANES, seed=7
    )


@_q("ann_lsh_indexed_topk", _LSH_TOPK_SQL)
def ann_lsh_indexed_topk(spark, sf):
    """The AT-REST serving path of ``ann_lsh_topk``: the corpus is tagged
    ONCE and written hive-partitioned by ``bucket`` (a per-corpus-version
    artifact), and the query is a partition-pruned read of the 5 probed
    buckets + exact rerank — never a full re-tagging scan. Same planes,
    same probe set, bit-identical result, same DuckDB oracle."""
    import tempfile

    from ethereum_raw_data_crawler_spark.operators.similarity import AnnIndex

    emb = _t(spark, sf, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    with tempfile.TemporaryDirectory(prefix="ann_lsh_idx_") as root:
        idx = AnnIndex.build_lsh(
            emb.where(F.col("vec_id") != 0),
            root,
            dim=_EMB_DIM,
            n_planes=_N_PLANES,
            seed=7,
        )
        # topk is lazy: hold its rows before the index files go
        return idx.topk(spark, qv, k=10).localCheckpoint()


# --------------------------------------------------------------------------
# ann_ivf_topk — IVF ANN with a deterministic per-label-mean quantizer
# --------------------------------------------------------------------------

_N_PROBE = 3

_CENTS_SQL = (
    "cents AS MATERIALIZED (SELECT label, list(c ORDER BY i) AS centroid FROM ("
    "  SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c "
    f"  FROM embeddings, range(1, {_EMB_DIM + 1}) t(i) GROUP BY label, i) "
    "GROUP BY label)"
)


_IVF_TOPK_SQL = (
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
    f"{_CENTS_SQL}, "
    "probe AS (SELECT label FROM cents "
    "  ORDER BY list_distance(centroid, (SELECT CAST(qv AS DOUBLE[]) FROM q)), label "
    f"  LIMIT {_N_PROBE}), "
    "assigned AS (SELECT vec_id, embedding, label AS list_id FROM ("
    "  SELECT e.vec_id, e.embedding, c.label, row_number() OVER ("
    "    PARTITION BY e.vec_id "
    "    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid), c.label"
    "  ) AS rn FROM embeddings e CROSS JOIN cents c WHERE e.vec_id <> 0) "
    "  WHERE rn = 1) "
    "SELECT vec_id, round(CAST(list_cosine_similarity(embedding, "
    "(SELECT qv FROM q)) AS DOUBLE), 5) AS cos_sim "
    "FROM assigned WHERE list_id IN (SELECT label FROM probe) "
    "ORDER BY cos_sim DESC, vec_id LIMIT 10"
)


def _label_mean_centroids(emb):
    """Per-label mean embeddings, rounded like the SQL oracle's
    ``round(avg(x), 6)`` — the deterministic coarse quantizer both IVF
    variants share. Returns a (n_labels, dim) float64 matrix whose row
    index IS the label (labels are contiguous from 0)."""
    cent_rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
        .collect()
    )
    cents: dict[int, list[float]] = {}
    for r in cent_rows:
        cents.setdefault(int(r["label"]), [0.0] * _EMB_DIM)[int(r["pos"])] = float(
            r["c"]
        )
    import numpy as np

    # row index IS the label downstream (build_ivf list_id = row index);
    # a gap would silently desynchronize list ids from the SQL oracle
    assert sorted(cents) == list(range(len(cents))), (
        f"labels must be contiguous from 0, got {sorted(cents)}"
    )
    return np.asarray([cents[l] for l in sorted(cents)], dtype=np.float64)


@_q("ann_ivf_topk", _IVF_TOPK_SQL)
def ann_ivf_topk(spark, sf):
    """IVF ANN, JVM-only: the coarse quantizer is the per-label mean
    embedding (deterministic, SQL-expressible — the k-means sibling with
    a driver-side sampled quantizer lives in operators/similarity.py),
    every vector is assigned to its nearest centroid, and the exact
    cosine top-k runs over the ``n_probe`` nearest lists only. At scale
    ``list_id`` partitions the corpus: n_probe/n_lists of the data is
    read, nothing else."""
    emb = _t(spark, sf, "embeddings")
    cents = {
        l: list(row) for l, row in enumerate(_label_mean_centroids(emb))
    }
    qv = [
        float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    # n_probe nearest lists to the query (driver-side: n_lists values)
    probes = sorted(
        cents, key=lambda l: (sum((q - c) ** 2 for q, c in zip(qv, cents[l])), l)
    )[:_N_PROBE]

    def sqdist(vec, cent):
        arr = F.array(*[F.lit(float(c)) for c in cent])
        return F.aggregate(
            F.zip_with(vec, arr, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    choices = F.array(
        *[
            F.struct(
                sqdist(F.col("embedding"), cents[l]).alias("d"),
                F.lit(l).alias("l"),
            )
            for l in sorted(cents)
        ]
    )
    assigned = emb.where(F.col("vec_id") != 0).withColumn(
        "list_id", F.array_min(choices)["l"]
    )
    cand = assigned.where(F.col("list_id").isin([int(p) for p in probes]))
    q = F.array(*[F.lit(float(x)) for x in qv])

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )

    cos = dot(F.col("embedding"), q) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.sqrt(dot(q, q))
    )
    return (
        cand.select("vec_id", F.round(cos, 5).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@_q("ann_ivf_indexed_topk", _IVF_TOPK_SQL)
def ann_ivf_indexed_topk(spark, sf):
    """The AT-REST serving path of ``ann_ivf_topk``: AnnIndex.build_ivf
    assigns every vector to its nearest per-label-mean centroid ONCE and
    writes the corpus hive-partitioned by ``list_id``; the query computes
    the ``n_probe`` nearest lists driver-side from the saved centroid
    matrix (KBs of numpy) and issues a partition-pruned read + exact
    cosine rerank. Same quantizer, same probe order, bit-identical to
    ``ann_ivf_topk``, same DuckDB oracle — the IVF twin of
    ``ann_lsh_indexed_topk``."""
    import tempfile

    from ethereum_raw_data_crawler_spark.operators.similarity import AnnIndex

    emb = _t(spark, sf, "embeddings")
    cents = _label_mean_centroids(emb)
    qv = [
        float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    with tempfile.TemporaryDirectory(prefix="ann_ivf_idx_") as root:
        idx = AnnIndex.build_ivf(
            emb.where(F.col("vec_id") != 0), root, centroids=cents
        )
        # topk is lazy: hold its rows before the index files go
        return idx.topk(spark, qv, k=10, n_probe=_N_PROBE).localCheckpoint()


# --------------------------------------------------------------------------
# media_features — real Arrow mapInPandas decode plumbing, analytic oracle
# --------------------------------------------------------------------------


def _u16_sql(i: int) -> str:
    def byte(j: int) -> str:
        return (
            f"(CAST(strpos('0123456789abcdef', substr(hx, {2 * j + 1}, 1)) - 1 "
            f"AS BIGINT) * 16 + (strpos('0123456789abcdef', substr(hx, {2 * j + 2}, 1)) - 1))"
        )

    return f"CAST({byte(2 * i)} + 256 * {byte(2 * i + 1)} AS VARCHAR)"


_FEATURE_DIM = 16
_FPRINT_SQL = "concat_ws('-', " + ", ".join(
    _u16_sql(i) for i in range(_FEATURE_DIM)
) + ")"


@_q(
    "media_features",
    "WITH m AS MATERIALIZED (SELECT doc_id AS media_id, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END AS kind, text FROM documents), "
    "h AS (SELECT media_id, kind, CAST(octet_length(encode(text)) AS BIGINT) "
    "AS n_bytes, sha256(text || kind) AS hx FROM m) "
    f"SELECT media_id, kind, n_bytes, {_FPRINT_SQL} AS fingerprint FROM h",
)
def media_features(spark, sf):
    """Multimodal plumbing, value-checked: media payloads are the UTF-8
    bytes of each document, the REAL Arrow mapInPandas feature extractor
    (functions/multimodal.py — binary column never shuffles) runs the
    deterministic fake decoder (sha256-derived uint16 features), and the
    oracle recomputes those features from sha256 hex in closed form. The
    float32 features are mapped back to their exact uint16 seeds so the
    hash comparison is integer-exact."""
    from ethereum_raw_data_crawler_spark.functions.multimodal import (
        extract_media_features,
    )

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.pmod("doc_id", 3) == 0, "image")
        .when(F.pmod("doc_id", 3) == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("codec"), F.lit("fake")).alias("meta"),
    )
    feats = extract_media_features(media)
    fingerprint = F.concat_ws(
        "-",
        F.transform(
            "features",
            lambda x: F.round(x * 65535).cast("int").cast("string"),
        ),
    )
    return feats.select(
        "media_id", "kind", "n_bytes", fingerprint.alias("fingerprint")
    )


# --------------------------------------------------------------------------
# link_pagerank — link-authority scoring over an analytic link graph
# --------------------------------------------------------------------------

_PR_DAMP = "CAST(0.85 AS DOUBLE)"
_PR_ITERS = 8
_PR_N = "(SELECT n FROM params)"


def _pagerank_oracle_sql(iters: int) -> str:
    """Unrolled damped power iteration (K fixed CTE stages — recursive
    CTEs can't aggregate in the recursive term, so the oracle unrolls).
    All arithmetic is explicit DOUBLE so both engines run the identical
    IEEE ops; the output is integer parts-per-billion so the driver's
    value-hash compare never touches float rendering."""
    ctes = [
        "params AS (SELECT count(*) AS n FROM documents)",
        "edges AS ("
        f"  SELECT doc_id AS src, (doc_id * 2 + 1) % {_PR_N} AS dst FROM documents"
        "  UNION ALL"
        f"  SELECT doc_id AS src, (doc_id * 3 + 2) % {_PR_N} AS dst FROM documents)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"pr0 AS (SELECT node, CAST(1 AS DOUBLE) / {_PR_N} AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"pr{i} AS (SELECT nd.node, "
            f"(1 - {_PR_DAMP}) / {_PR_N} + {_PR_DAMP} * "
            "coalesce(s.m, CAST(0 AS DOUBLE)) AS rank "
            "FROM nodes nd LEFT JOIN ("
            "  SELECT e.dst AS node, sum(p.rank / dg.outdeg) AS m "
            f"  FROM edges e JOIN pr{i - 1} p ON p.node = e.src "
            "  JOIN deg dg ON dg.src = e.src GROUP BY e.dst) s "
            "ON nd.node = s.node)",
        )
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT node AS doc_id, CAST(round(rank * 1e9) AS BIGINT) AS rank_ppb "
        f"FROM pr{iters} ORDER BY doc_id"
    )


@_q("link_pagerank", _pagerank_oracle_sql(_PR_ITERS))
def link_pagerank(spark, sf):
    """Crawl-priority / quality-weighting signal: 8 damped power-iteration
    steps (operators/linkrank.py — edges joined with out-degrees once and
    cached; each iteration shuffles only the slim rank table) over a
    deterministic link graph derived from doc ids (every doc links to
    (2d+1) mod N and (3d+2) mod N — synthetic-at-small-scale per the
    input-table contract; the crawl engine feeds its real outlink graph
    to the same operator). The reference analogue is the frontier
    priority field this score would populate (SURVEY §2.3). Output in
    integer parts-per-billion: float rendering never reaches the driver's
    hash compare."""
    from ethereum_raw_data_crawler_spark.operators.linkrank import pagerank

    docs = _t(spark, sf, "documents").select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    edges = docs.select(
        d.alias("src"), ((d * 2 + 1) % n).alias("dst")
    ).union(docs.select(d.alias("src"), ((d * 3 + 2) % n).alias("dst")))
    pr = pagerank(edges, damping=0.85, iterations=_PR_ITERS)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.round(F.col("rank") * 1e9).cast("bigint").alias("rank_ppb"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# pii_scrub — regex PII detection + redaction (training-data hygiene)
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# the synthetic documents are clean word-soup, so the query CONSTRUCTS
# deterministic contamination from doc_id (identical expression in both
# engines — synthesize-at-small-scale per the input contract) and then
# detects + scrubs it; 2/3 of docs get one email + one phone + one IPv4
_PII_RAW_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text ELSE concat(text, ' reach user', "
    "CAST(doc_id AS {s}), '@example.com or +1 ', "
    "CAST(doc_id % 900 + 100 AS {s}), '-', "
    "CAST(doc_id % 900 + 100 AS {s}), '-', "
    "CAST(doc_id % 9000 + 1000 AS {s}), "
    "' from 10.', CAST(doc_id % 256 AS {s}), '.', "
    "CAST((doc_id {div} 256) % 256 AS {s}), '.', "
    "CAST(doc_id % 254 + 1 AS {s})) END"
)


@_q(
    "pii_scrub",
    "WITH contaminated AS (SELECT doc_id, "
    + _PII_RAW_SQL.format(s="VARCHAR", div="//")
    + " AS raw FROM documents) "
    "SELECT doc_id, "
    f"CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails, "
    f"CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones, "
    f"CAST(len(regexp_extract_all(raw, '{_PII_IPV4}')) AS BIGINT) AS n_ips, "
    "regexp_replace(regexp_replace(regexp_replace(raw, "
    f"'{_PII_EMAIL}', '[EMAIL]', 'g'), "
    f"'{_PII_PHONE}', '[PHONE]', 'g'), "
    f"'{_PII_IPV4}', '[IP]', 'g') AS text_clean "
    "FROM contaminated ORDER BY doc_id",
)
def pii_scrub(spark, sf):
    """PII detection + redaction over documents — the pre-training
    hygiene pass (emails / phone numbers / IPv4 scrubbed to typed
    placeholders, per-type counts kept for audit). Entirely JVM-side
    regex (regexp_extract_all + chained regexp_replace inside
    whole-stage codegen — no Python in the hot path), so at 100 TB it is
    a pure map over the corpus scan: no shuffle, no UDF socket. Scrub
    order (email before phone before IP) is pinned so placeholders never
    overlap. The reference has no analogue (blocks carry no prose); this
    extends §2.6's scalar-function family to the web-text payload."""
    docs = _t(spark, sf, "documents")
    raw = F.expr(_PII_RAW_SQL.format(s="STRING", div="DIV"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IPV4,
        "[IP]",
    )
    return (
        docs.select("doc_id", raw.alias("raw"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("raw", F.lit(_PII_EMAIL), 0))
            .cast("bigint")
            .alias("n_emails"),
            F.size(F.regexp_extract_all("raw", F.lit(_PII_PHONE), 0))
            .cast("bigint")
            .alias("n_phones"),
            F.size(F.regexp_extract_all("raw", F.lit(_PII_IPV4), 0))
            .cast("bigint")
            .alias("n_ips"),
            scrubbed.alias("text_clean"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# chunk_dedup — paragraph/chunk-level exact dedup across documents
# --------------------------------------------------------------------------


@_q(
    "chunk_dedup",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents), "
    "idx AS (SELECT doc_id, arr, "
    "unnest(range(CAST(ceil(len(arr)/16.0) AS BIGINT))) AS i FROM w), "
    "chunks AS (SELECT doc_id, "
    "md5(array_to_string(arr[(i*16+1):(i*16+16)], ' ')) AS chunk_hash FROM idx) "
    "SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs "
    "FROM chunks GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1 "
    "ORDER BY chunk_hash",
)
def chunk_dedup(spark, sf):
    """Sub-document exact dedup: split each document into fixed 16-word
    chunks (the paragraph stand-in for the synthetic corpus — real HTML
    would split on block boundaries), hash each chunk, and report chunks
    shared by more than one document — the boilerplate/quotation detector
    that document-level dedup cannot see (C4/RefinedWeb-style line-level
    dedup, done set-wise). Scale shape: explode is map-side (no pre-
    shuffle), the only exchange is the hash groupBy with map-side
    partial aggregation; chunk hashes (16 B) shuffle, never chunk text.
    md5 is used (not xxhash) because both engines render it identically
    as lowercase hex for the driver's value compare."""
    docs = _t(spark, sf, "documents")
    return (
        docs.selectExpr(
            "doc_id",
            "split(text, ' ') AS arr",
        )
        .selectExpr(
            "doc_id",
            "explode(sequence(0, CAST(ceil(size(arr)/16.0) AS INT) - 1)) AS i",
            "arr",
        )
        .selectExpr(
            "doc_id",
            "md5(array_join(slice(arr, i*16+1, 16), ' ')) AS chunk_hash",
        )
        .groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") > 1)
        .orderBy("chunk_hash")
    )


# --------------------------------------------------------------------------
# repetition_filter — Gopher-style within-document repetition metrics
# --------------------------------------------------------------------------


@_q(
    "repetition_filter",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents "
    "WHERE len(string_split(text, ' ')) >= 2), "
    "g AS (SELECT doc_id, arr, "
    "list_transform(range(1, len(arr)), i -> arr[i] || ' ' || arr[i+1]) AS g2 "
    "FROM w), "
    "top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_2gram_count FROM ("
    "SELECT doc_id, gram, count(*) AS c FROM ("
    "SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY doc_id, gram) "
    "GROUP BY doc_id) "
    "SELECT g.doc_id, "
    "round((len(arr) - len(list_distinct(arr))) / len(arr), 6) AS dup_word_frac, "
    "round((len(g2) - len(list_distinct(g2))) / len(g2), 6) AS dup_2gram_frac, "
    "top.top_2gram_count "
    "FROM g JOIN top USING (doc_id) ORDER BY doc_id",
)
def repetition_filter(spark, sf):
    """Gopher-style within-document repetition metrics (Rae et al. 2021
    §A1.1: documents dominated by repeated lines/n-grams are low-quality
    training data): per document, the fraction of duplicate words, the
    fraction of duplicate word 2-grams, and the multiplicity of the most
    repeated 2-gram. Joins the quality_score / lang_id family (§2.6 text
    analysis) with the repetition axis those filters lack.

    Scale shape: a pure map over the corpus scan — every metric is
    computed WITHIN a row by JVM higher-order functions (transform /
    array_distinct / aggregate over sort_array), so there is no explode,
    no shuffle, and no Python in the path at 100 TB. The most-repeated-
    2-gram count uses sort + longest-equal-run (O(n log n) per doc)
    instead of a per-distinct-gram rescan (O(n^2))."""
    docs = _t(spark, sf, "documents")
    return (
        docs.where("size(split(text, ' ')) >= 2")
        .selectExpr("doc_id", "split(text, ' ') AS arr")
        .selectExpr(
            "doc_id",
            "arr",
            "transform(sequence(1, size(arr) - 1), "
            "i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1))) AS g2",
        )
        .selectExpr(
            "doc_id",
            "round((size(arr) - size(array_distinct(arr))) / size(arr), 6)"
            " AS dup_word_frac",
            "round((size(g2) - size(array_distinct(g2))) / size(g2), 6)"
            " AS dup_2gram_frac",
            "CAST(aggregate(sort_array(g2), "
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
            "(a, x) -> named_struct("
            "'prev', x, "
            "'run', IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1), "
            "'best', GREATEST(a.best, IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1))), "
            "a -> a.best) AS BIGINT) AS top_2gram_count",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# decontaminate — eval-set n-gram overlap (test-set contamination scan)
# --------------------------------------------------------------------------

# every 53rd document plays the held-out benchmark; 3-grams because the
# synthetic corpus draws from a ~30-word vocabulary (real deployments use
# 13-grams per the public decontamination recipes — the plan shape is
# identical, only the literal changes)
_DECON_N = 3
_DECON_MOD = 53


@_q(
    "decontaminate",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents "
    f"WHERE len(string_split(text, ' ')) >= {_DECON_N}), "
    "g AS (SELECT doc_id, unnest(list_transform("
    f"range(1, len(arr) - {_DECON_N - 2}), "
    f"i -> array_to_string(arr[i:i+{_DECON_N - 1}], ' '))) AS gram FROM w), "
    f"ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_DECON_MOD} = 0) "
    "SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_grams "
    f"FROM g JOIN ev USING (gram) WHERE g.doc_id % {_DECON_MOD} <> 0 "
    "GROUP BY g.doc_id ORDER BY g.doc_id",
)
def decontaminate(spark, sf):
    """Test-set decontamination: flag training documents that share any
    word n-gram with a held-out benchmark set (here: every 53rd doc),
    reporting the number of distinct shared n-grams per contaminated
    document — the standard pre-training hygiene pass that prevents
    benchmark leakage.

    Scale shape (the part that matters at 100 TB): the benchmark side is
    tiny and corpus-independent, so its distinct n-gram set is
    **broadcast** — the corpus side never shuffles its grams; the only
    exchange is the per-doc count aggregation AFTER the broadcast
    semi-join has discarded every clean gram map-side. Gram explosion is
    map-side (whole-stage codegen, no UDF)."""
    docs = _t(spark, sf, "documents").where(
        f"size(split(text, ' ')) >= {_DECON_N}"
    )
    grams = docs.selectExpr("doc_id", "split(text, ' ') AS arr").selectExpr(
        "doc_id",
        f"explode(transform(sequence(1, size(arr) - {_DECON_N - 1}), "
        "i -> concat_ws(' ', "
        + ", ".join(f"element_at(arr, i + {j})" for j in range(_DECON_N))
        + "))) AS gram",
    )
    ev = (
        grams.where(f"doc_id % {_DECON_MOD} = 0")
        .select("gram")
        .distinct()
    )
    return (
        grams.where(f"doc_id % {_DECON_MOD} <> 0")
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").cast("bigint").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# stratified_sample — deterministic per-stratum sampling (data mixing)
# --------------------------------------------------------------------------

# per-language keep rates (the training-mix knob); permille so the
# comparison is integer-exact in both engines
_MIX_PERMILLE = {"en": 500, "fr": 200, "de": 200, "es": 200, "zh": 100}
_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_PERMILLE.items())
    + " ELSE 0 END"
)
# Knuth multiplicative hash of the doc key, mod 1000 — a uniform permille
# draw both engines compute bit-identically in BIGINT arithmetic
_MIX_DRAW = "(doc_id * 2654435761) % 1000"


@_q(
    "stratified_sample",
    f"SELECT doc_id, lang, CAST({_MIX_DRAW} AS BIGINT) AS draw "
    f"FROM documents WHERE {_MIX_DRAW} < {_MIX_CASE} ORDER BY doc_id",
)
def stratified_sample(spark, sf):
    """Deterministic stratified sampling — the data-mixing primitive that
    turns a raw corpus into a training mixture (per-language keep rates
    here; per-source/per-quality-band in production). Selection is a pure
    function of the row key (Knuth multiplicative hash mod 1000 vs the
    stratum's permille rate), so the sample is reproducible across runs,
    engines, and resumes — no RNG state, no ``TABLESAMPLE``
    nondeterminism.

    Scale shape: a map-side filter over the corpus scan — no shuffle, no
    UDF, no driver participation; the rate table is a CASE literal here
    and would be a broadcast dim-join if strata came from a table. At
    100 TB this is exactly a predicate-pushdown-friendly scan. Production
    would key the draw on xxhash64 of a stable content key
    (functions/urls.py xxhash64 parity); the arithmetic hash here is the
    cross-engine-oracle-exact stand-in with the same plan shape."""
    docs = _t(spark, sf, "documents")
    return (
        docs.selectExpr(
            "doc_id",
            "lang",
            f"CAST({_MIX_DRAW} AS BIGINT) AS draw",
            f"{_MIX_CASE} AS rate",
        )
        .where("draw < rate")
        .select("doc_id", "lang", "draw")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# seq_pack — sequence packing into fixed token-budget bins
# --------------------------------------------------------------------------

_PACK_L = 256  # tokens per packed training sequence
_PACK_SHARDS = 8  # independent pack streams (per-worker in production)


@_q(
    "seq_pack",
    "WITH t AS (SELECT doc_id, doc_id % "
    f"{_PACK_SHARDS} AS shard, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents) "
    "SELECT doc_id, shard, n_tokens, "
    "CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) "
    f"- n_tokens) / {_PACK_L}) AS BIGINT) AS pack_id "
    "FROM t ORDER BY doc_id",
)
def seq_pack(spark, sf):
    """Sequence packing: assign each document to the fixed-size training
    sequence (``pack_id``) where its first token lands under
    concat-and-chunk packing — the standard pre-training step that turns
    variable-length documents into dense fixed-length sequences (docs
    are concatenated in key order and split every L=256 tokens;
    GPT-style packing, no padding waste).

    Scale shape: packing is inherently sequential within one output
    stream, so parallelism comes from SHARDING — each of the 8 shards
    (one per writer/worker in production) packs independently via a
    window partitioned by shard. The plan is one hash exchange on shard
    + an in-partition sort: no global ORDER BY single-partition
    bottleneck, and shard count scales with the cluster, not the data.
    Token counts are whitespace tokens here (token_count family); a BPE
    tokenizer would swap in via the same vectorized counting UDF."""
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.selectExpr(
            "doc_id",
            f"doc_id % {_PACK_SHARDS} AS shard",
            "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        )
        .withColumn(
            "pack_id",
            F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_L).cast(
                "bigint"
            ),
        )
        .orderBy("doc_id")
    )


__all__ = ["REGISTRY"]
