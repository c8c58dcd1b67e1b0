"""Training-data operator tests: MinHash+LSH and LSH ANN are
checked EXACTLY against their single-threaded reference implementations
(shared pure hash functions make this deterministic), plus recall checks
for the ANN path against brute force."""

import numpy as np
import pandas as pd
import pytest

from ethereum_raw_data_crawler_spark.operators.dedup import (
    doc_minhash,
    minhash_lsh_pairs,
    minhash_lsh_pairs_oracle,
)
from ethereum_raw_data_crawler_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    lsh_topk_oracle,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def near_dup_docs():
    """Documents with planted near-duplicates (the testdata docs are all
    unique, so plant controlled mutations)."""
    rng = np.random.default_rng(11)
    words = "the quick brown fox jumps over lazy dog spark crawl data".split()
    rows = []
    for i in range(60):
        base = " ".join(rng.choice(words, 40))
        rows.append((i * 3, base))
        # near-dup: one word changed
        toks = base.split()
        toks[5] = "MUTATED"
        rows.append((i * 3 + 1, " ".join(toks)))
        # unrelated
        rows.append((i * 3 + 2, " ".join(rng.choice(words, 40))))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_minhash_lsh_matches_oracle(spark, near_dup_docs):
    got = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(
            spark.createDataFrame(near_dup_docs), threshold=0.5
        ).collect()
    }
    want = minhash_lsh_pairs_oracle(near_dup_docs, threshold=0.5)
    assert got == want
    # the planted near-dups are found
    planted = {(i * 3, i * 3 + 1) for i in range(60)}
    found = {(a, b) for a, b, _ in got}
    assert len(planted & found) >= 50  # LSH banding recall on 0.85+ jaccard


def test_signatures_deterministic():
    a = doc_minhash("spark crawl frontier fetch page host queue batch")
    b = doc_minhash("spark crawl frontier fetch page host queue batch")
    assert (a == b).all()


def test_lsh_ann_matches_oracle_and_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    query = [float(x) for x in pdf.loc[pdf["vec_id"] == 0, "embedding"].iloc[0]]
    # 4 planes -> 16 buckets for 500 vectors (bucket count must track corpus
    # size; at 10^10 scale this is the partition key with ~2^16 buckets)
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in lsh_topk(emb, query, k=10, n_planes=4).collect()
    ]
    want = lsh_topk_oracle(pdf, query, k=10, n_planes=4)
    assert got == want
    # recall vs brute force (multi-probe LSH should catch most true top-k)
    exact = {r["vec_id"] for r in brute_force_topk(emb, query, k=10).collect()}
    approx = {v for v, _ in got}
    assert len(exact & approx) >= 5, (exact, approx)


def test_ivf_ann_recall_and_determinism(spark):
    from ethereum_raw_data_crawler_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    query = [float(x) for x in pdf.loc[pdf["vec_id"] == 0, "embedding"].iloc[0]]
    got1 = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_topk(emb, query, k=10, n_probe=6).collect()
    ]
    got2 = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_topk(emb, query, k=10, n_probe=6).collect()
    ]
    assert got1 == got2  # deterministic quantizer + assignment
    assert len(got1) == 10
    exact = {r["vec_id"] for r in brute_force_topk(emb, query, k=10).collect()}
    approx = {v for v, _ in got1}
    # probing 6/16 lists catches most true neighbors (measured: 8/10 here,
    # 9/10 at n_probe=8 — the fixture's label clusters are weak)
    assert len(exact & approx) >= 6, (exact, approx)


def test_snapshot_time_travel(spark, t1_tables, tmp_path):
    """as_of(round k) returns exactly the state committed at round k
    (Iceberg snapshot reads over retained manifests)."""
    import pandas as pd

    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.schemas import FRONTIER, SEEN

    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        None,
        CrawlConfig(batch_size=400),
    )
    eng.run(max_rounds=3)
    seen_now = eng.seen().count()
    seen_r1 = eng.as_of(1, "seen", SEEN).count()
    seen_r2 = eng.as_of(2, "seen", SEEN).count()
    assert seen_r1 < seen_r2 < seen_now
    # frontier as of round 1: exactly the rows fetched in round 1
    fro_r1 = eng.as_of(1, "frontier", FRONTIER)
    fetched_r1 = {r["url_canon"] for r in fro_r1.where("status = 'fetched'").collect()}
    trace_r1 = {
        r["url_canon"] for r in eng.read_trace().where("round = 1").collect()
    }
    assert fetched_r1 == trace_r1


def test_brute_force_topk_is_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    query = [float(x) for x in pdf.loc[pdf["vec_id"] == 0, "embedding"].iloc[0]]
    got = [(r["vec_id"], r["cos_sim"]) for r in brute_force_topk(emb, query, 5).collect()]
    # numpy reference
    import numpy as np

    q = np.array(query)
    sims = []
    for _, r in pdf.iterrows():
        v = np.array([float(x) for x in r["embedding"]])
        sims.append(
            (int(r["vec_id"]), round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 5))
        )
    sims.sort(key=lambda t: (-t[1], t[0]))
    assert got == sims[:5]
