"""Approximate-ANN quality gates (SURVEY.md §5.2 item 2): recall vs the
exact brute-force baseline — the check no row-count smoke test gives."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from recipes_spark.io import load
from recipes_spark.operators.similarity import (
    brute_force_topk,
    lsh_neardup_pairs,
)


@pytest.fixture(scope="module")
def topk_inputs(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    return emb, queries, exact


def _recall(approx_rows, exact: set) -> float:
    hits = sum(1 for r in approx_rows if (r.query_id, r.vec_id) in exact)
    return hits / len(exact)


def test_lsh_neardup_recall_is_complete(spark, sf_dir):
    """embedding_neardup's LSH candidate stage must be recall-complete at
    the 0.95 threshold, so its exact-verify output EQUALS the all-pairs
    answer (that equality is what lets the query keep the all-pairs
    DuckDB oracle). The corpus has no natural ≥0.95 pairs, so plant
    near-duplicates: each planted vector = original + small noise."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    rng = np.random.default_rng(7)
    planted = [
        (
            int(r.vec_id) + 1_000_000,
            int(r.label),
            [float(x) for x in (np.asarray(r.embedding) + rng.normal(0, 0.02, 64))],
        )
        for r in emb.filter(F.col("vec_id") < 40).collect()
    ]
    both = emb.unionByName(
        spark.createDataFrame(planted, "vec_id long, label int, embedding array<float>")
    )

    got = {
        (r.id_a, r.id_b)
        for r in lsh_neardup_pairs(
            both, block_cols=("label",), threshold=0.95, dim=64
        ).collect()
    }

    # All-pairs ground truth via brute force within label blocks.
    from recipes_spark.functions.vectors import as_double, cosine

    a = both.select(F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("ea"))
    b = both.select(F.col("vec_id").alias("id_b"), "label", F.col("embedding").alias("eb"))
    cos = cosine(as_double(F.col("ea")), as_double(F.col("eb")))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= 0.95)
        .select("id_a", "id_b")
        .collect()
    }
    assert len(truth) >= 40  # the plant worked
    assert got == truth, (
        f"LSH near-dup diverged from all-pairs: missing={truth - got}, "
        f"extra={got - truth}"
    )


def test_ivf_pq_recall_vs_brute_force(spark, oracle_sf_dir):
    """The composed IVF→PQ/ADC→exact-rerank plan (x3_ivf_pq_topk's
    operator, same params: m=4 × 256 byte codes) must hold mean
    recall@10 >= 0.9 against brute force at the DRIVER's scale factor
    — the quality gate that lets the billion-vector shape stand in for
    exact search. Run on near-uniform synthetic vectors, IVF's weakest
    case (no cluster structure), hence the generous nprobe; measured at
    sf0.01: 1.0."""
    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk_int,
    )

    e = load(spark, oracle_sf_dir, "embeddings").cache()
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(e, queries, k=10).collect()
    }
    got = ivf_pq_topk_int(
        e, queries, k=10, n_centroids=16, nprobe=14, refine=16,
        m=4, k_codes=256, code_bits=8,
    ).collect()
    r = sum(1 for row in got if (row.query_id, row.vec_id) in exact) / len(exact)
    assert r >= 0.9, f"IVF+PQ recall@10 {r:.2f} < 0.9"



def test_fused_assign_encode_matches_two_pass(spark, sf_dir):
    """pq_encode_int(coarse_milli=...) fuses the IVF cell assignment
    into the encode kernel (one Arrow pass over the vectors instead of
    two). The fusion is a pure execution change: (cell, codes, sse)
    must be BIT-identical to two separate encodes — the m=1 coarse
    book (whose packed code IS the cell id) and the PQ books."""
    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        pq_encode_int,
        train_pq_codebooks_int,
    )

    e = load(spark, sf_dir, "embeddings")
    cents = train_pq_codebooks_int(e, m=1, k=16)[0]
    books = train_pq_codebooks_int(e, m=8, k=16)
    cells = {r.vec_id: r.codes_packed for r in pq_encode_int(e, cents[None]).collect()}
    two = {
        r.vec_id: (cells[r.vec_id], r.codes_packed, r.sse_milli2)
        for r in pq_encode_int(e, books).collect()
    }
    fused = {
        r.vec_id: (r["__list"], r.codes_packed, r.sse_milli2)
        for r in pq_encode_int(e, books, coarse_milli=cents).collect()
    }
    assert fused == two
    assert len(set(cells.values())) == 16  # every cell is exercised



def test_mmr_diversifies_and_stays_relevant(spark, sf_dir):
    """MMR contracts: (1) deterministic — identical output at 3 vs 32
    shuffle partitions (greedy runs on a deterministically-ordered
    shortlist); (2) redundancy drops — mean pairwise cosine within the
    MMR selection is <= that of the plain top-k for every query;
    (3) relevance retained — rank-1 equals the plain top-1 (the first
    greedy pick has no redundancy term)."""
    import numpy as np
    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    e = load(spark, sf_dir, "embeddings").cache()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def run():
        return [tuple(r) for r in mmr_rerank(e, q, k=10, shortlist=50).collect()]

    default = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        low = run()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        high = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    assert sorted(low) == sorted(high)

    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in e.collect()}

    def mean_pairwise(ids):
        sims = []
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                va, vb = vecs[a], vecs[b]
                sims.append(
                    float(va @ vb)
                    / (np.linalg.norm(va) * np.linalg.norm(vb))
                )
        return sum(sims) / len(sims)

    plain = {}
    for r in brute_force_topk(e, q, k=10).collect():
        plain.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    mmr = {}
    for qid, vid, _, rnk in high:
        mmr.setdefault(qid, []).append((rnk, vid))
    assert set(plain) == set(mmr)
    for qid in plain:
        p_ids = [v for _, v in sorted(plain[qid])]
        m_ids = [v for _, v in sorted(mmr[qid])]
        assert m_ids[0] == p_ids[0]  # relevance retained at rank 1
        assert mean_pairwise(m_ids) <= mean_pairwise(p_ids) + 1e-9, qid


def test_pq_int_distortion_and_determinism(spark, sf_dir):
    """The integer milli-grid PQ path (x3_pq_codes' round-12 oracled
    form): reconstruction distortion well under the data's own energy
    (the codebooks are useful), the packed codes carry valid nibbles,
    and two full train+encode runs are bit-identical — the determinism
    the oracle replay depends on."""
    import numpy as np

    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        pq_encode_int,
        train_pq_codebooks_int,
    )

    def mean_mse(rows):
        # Integer SSE (milli² over 64 dims) → per-dim MSE in data units.
        sse = np.asarray([r.sse_milli2 for r in rows], dtype=np.float64)
        return sse.mean() / (64 * 1e6)

    e = load(spark, sf_dir, "embeddings")
    books = train_pq_codebooks_int(e, m=8, k=16)
    out = pq_encode_int(e, books).collect()
    packed = np.asarray([r.codes_packed for r in out], dtype=np.int64)
    assert packed.min() >= 0 and packed.max() < (1 << 32)
    mse_int = mean_mse(out)
    X = np.asarray([np.asarray(r.embedding, dtype=np.float64)
                    for r in e.select("embedding").collect()])
    energy = (X ** 2).mean()
    assert mse_int < energy, (mse_int, energy)
    # Principled gate: 16 centroids/subspace must strictly beat the
    # degenerate 1-centroid (mean-only) codebook. Near-random synthetic
    # vectors are barely compressible, so the margin is modest but must
    # exist if k-means learned anything.
    mean_books = train_pq_codebooks_int(e, m=8, k=1, iters=1)
    mse1 = mean_mse(pq_encode_int(e, mean_books).collect())
    assert mse_int < 0.75 * mse1, (mse_int, mse1)
    again = {
        r.vec_id: (r.codes_packed, r.sse_milli2)
        for r in pq_encode_int(e, train_pq_codebooks_int(e, m=8, k=16)).collect()
    }
    first = {r.vec_id: (r.codes_packed, r.sse_milli2) for r in out}
    assert first == again


def test_pq_adc_int_recall_vs_brute_force(spark, sf_dir):
    """x3_pq_adc_topk's operator must recover most of the true top-10
    (recall@10 >= 0.6 on near-random synthetic vectors at refine=8; the
    registered query's refine=4 is the oracle's exact-replay target,
    this gate is the quality floor)."""
    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk_int,
        train_pq_codebooks_int,
    )

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    truth = {}
    for r in brute_force_topk(e, queries, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    books = train_pq_codebooks_int(e, m=8, k=16)
    got = {}
    for r in pq_adc_topk_int(e, queries, books, k=10, refine=8).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_int_ann_legs_recall_and_exactness(topk_inputs):
    """Round-12 integer ANN legs (the oracled forms behind
    x3_lsh_topk / x3_ivf_topk / x3_ivf_pq_topk): each must hold its
    recall floor against brute force, and int-IVF at
    nprobe == n_centroids must equal brute force exactly (pruning is
    the ONLY approximation)."""
    from recipes_spark.operators.similarity import (
        ivf_pq_topk_int,
        ivf_topk_int,
        lsh_topk_int,
    )

    emb, queries, exact = topk_inputs
    r_lsh = _recall(lsh_topk_int(emb, queries, k=10).collect(), exact)
    assert r_lsh >= 0.5, f"int LSH recall@10 {r_lsh:.2f} < 0.5"
    r_ivf = _recall(
        ivf_topk_int(emb, queries, k=10, n_centroids=16, nprobe=4).collect(),
        exact,
    )
    assert r_ivf >= 0.5, f"int IVF recall@10 {r_ivf:.2f} < 0.5"
    full = ivf_topk_int(
        emb, queries, k=10, n_centroids=8, nprobe=8
    ).collect()
    assert {(r.query_id, r.vec_id) for r in full} == exact
    r_ivfpq = _recall(
        ivf_pq_topk_int(
            emb, queries, k=10, n_centroids=16, nprobe=14, refine=16
        ).collect(),
        exact,
    )
    assert r_ivfpq >= 0.8, f"int IVF-PQ recall@10 {r_ivfpq:.2f} < 0.8"
