"""Round-14 intent gates: byte-packed PQ codes (k = 256 per subspace,
the faiss-production width), the exact norm-expansion distance kernel,
and the distributed IVF-PQ composition."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from recipes_spark.io import load


def test_d2_int_exact_and_bounded():
    """The norm-expansion kernel (r13 ADVICE medium) must equal the
    broadcast-difference form bit-for-bit on milli-grid magnitudes, on
    the >2^53 int64 fallback path, and refuse magnitudes whose d2
    would overflow int64."""
    from recipes_spark.operators.similarity import _d2_int

    rng = np.random.default_rng(14)
    X = rng.integers(-4000, 4000, size=(300, 64)).astype(np.int64)
    C = rng.integers(-4000, 4000, size=(50, 64)).astype(np.int64)
    ref = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    got = _d2_int(X, C)
    assert got.dtype == np.int64 and (got == ref).all()
    # int64 fallback (products exceed 2^53 but d2 fits int64)
    Xb = rng.integers(-(2**26), 2**26, size=(20, 8)).astype(np.int64)
    Cb = rng.integers(-(2**26), 2**26, size=(7, 8)).astype(np.int64)
    refb = ((Xb[:, None, :] - Cb[None, :, :]) ** 2).sum(axis=2)
    assert (_d2_int(Xb, Cb) == refb).all()
    with pytest.raises(ValueError, match="int64"):
        _d2_int(
            np.full((2, 8), 2**31, dtype=np.int64),
            np.full((2, 8), -(2**31), dtype=np.int64),
        )


def test_pq_byte_codes_pack_and_determinism(spark, sf_dir):
    """x3_pq_codes' r14 byte layout: m=4 × k=256 codes pack big-endian
    into 32 bits of one BIGINT, every unpacked byte indexes a real
    centroid, the code assignment matches a direct numpy argmin per
    subspace, and two train+encode runs are bit-identical."""
    from recipes_spark.operators.similarity import (
        _d2_int,
        pq_encode_int,
        train_pq_codebooks_int,
    )

    e = load(spark, sf_dir, "embeddings")
    books = train_pq_codebooks_int(e, m=4, k=256)
    assert books.shape == (4, 256, 16)
    out = pq_encode_int(e, books, code_bits=8).collect()
    packed = np.asarray([r.codes_packed for r in out], dtype=np.int64)
    assert packed.min() >= 0 and packed.max() < (1 << 32)
    vecs = {
        r["vec_id"]: np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * 1000.0
        ).astype(np.int64)
        for r in e.limit(100).collect()
    }
    checked = 0
    for r in out:
        v = vecs.get(r["vec_id"])
        if v is None:
            continue
        want = 0
        for j in range(4):
            d2 = _d2_int(v[None, j * 16 : (j + 1) * 16], books[j])[0]
            want = (want << 8) + int(np.argmin(d2))
        assert int(r["codes_packed"]) == want
        checked += 1
    assert checked >= 50
    again = {
        (r.vec_id, r.codes_packed, r.sse_milli2)
        for r in pq_encode_int(
            e, train_pq_codebooks_int(e, m=4, k=256), code_bits=8
        ).collect()
    }
    assert {(r.vec_id, r.codes_packed, r.sse_milli2) for r in out} == again


def test_pq_packing_guards(spark, sf_dir):
    """The packing contract at every boundary: a k=256 book cannot
    nibble-pack, m=8 byte codes overflow the signed BIGINT, and the
    ADC scan REFUSES books wider than its unpack mask instead of
    silently truncating codes (r13 ADVICE low #2)."""
    from recipes_spark.operators.similarity import (
        ivf_pq_topk_int,
        pq_adc_topk_int,
        pq_encode_int,
    )

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    wide = np.zeros((4, 256, 16), dtype=np.int64)
    with pytest.raises(ValueError, match="nibble-pack"):
        pq_encode_int(e, wide)  # default code_bits=4
    deep = np.zeros((8, 256, 8), dtype=np.int64)
    with pytest.raises(ValueError, match="BIGINT"):
        pq_encode_int(e, deep, code_bits=8)
    coarse_as_book = np.zeros((1, 20, 64), dtype=np.int64)
    with pytest.raises(ValueError, match="code_bits"):
        pq_adc_topk_int(e, q, coarse_as_book, k=5)  # 20 > 2^4
    with pytest.raises(ValueError, match="exceeds"):
        ivf_pq_topk_int(e, q, k=5, m=4, k_codes=256)  # default 4-bit


def test_pq_byte_adc_recall_vs_brute_force(topk_pair):
    """The registered byte-width configs re-pass the recall gates,
    HIGHER than the nibble era's floors because byte codes quantize
    finer: m=4 × k=256 ADC at refine=4 (the x3_pq_adc_topk shape)
    holds recall@10 ≥ 0.85 (measured 0.86 @ sf0.001, 0.92 @ sf0.01 —
    the nibble layout read 0.62 at the same knobs) and the composed
    IVF-PQ at the x3_ivf_pq_topk knobs holds ≥ 0.9 (measured 0.98 /
    1.00)."""
    from recipes_spark.operators.similarity import (
        ivf_pq_topk_int,
        pq_adc_topk_int,
        train_pq_codebooks_int,
    )

    emb, queries, exact = topk_pair
    books = train_pq_codebooks_int(emb, m=4, k=256)
    adc = pq_adc_topk_int(
        emb, queries, books, k=10, refine=4, code_bits=8
    ).collect()
    r_adc = sum(1 for r in adc if (r.query_id, r.vec_id) in exact) / len(
        exact
    )
    assert r_adc >= 0.85, f"byte-ADC recall@10 {r_adc:.2f} < 0.85"
    ivfpq = ivf_pq_topk_int(
        emb, queries, k=10, n_centroids=16, nprobe=14, refine=16,
        m=4, k_codes=256, code_bits=8,
    ).collect()
    r_ivfpq = sum(
        1 for r in ivfpq if (r.query_id, r.vec_id) in exact
    ) / len(exact)
    assert r_ivfpq >= 0.9, f"byte IVF-PQ recall@10 {r_ivfpq:.2f} < 0.9"


def test_ivf_pq_distrib_recall_and_equivalence(topk_pair):
    """x3_ivf_pq_distrib_topk's composed chain (distributed coarse
    book threaded through the full IVF-PQ plan): recall@10 ≥ 0.9 at
    the registered knobs, and the coarse_milli path must equal the
    internal-trainer path bit-for-bit when handed the SAME book —
    threading the book through changes where training runs, never
    what serving computes."""
    from recipes_spark.operators.similarity import (
        ivf_pq_topk_int,
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )

    emb, queries, exact = topk_pair
    cents = train_coarse_centroids_int(emb, k=16, iters=3)
    got = ivf_pq_topk_int(
        emb, queries, k=10, n_centroids=16, nprobe=14, refine=16,
        m=4, k_codes=256, code_bits=8, coarse_milli=cents,
    ).collect()
    r = sum(1 for x in got if (x.query_id, x.vec_id) in exact) / len(
        exact
    )
    assert r >= 0.9, f"distrib IVF-PQ recall@10 {r:.2f} < 0.9"
    sampled_book = train_pq_codebooks_int(emb, m=1, k=16)[0]
    via_param = ivf_pq_topk_int(
        emb, queries, k=10, n_centroids=16, nprobe=14, refine=16,
        m=4, k_codes=256, code_bits=8, coarse_milli=sampled_book,
    ).collect()
    internal = ivf_pq_topk_int(
        emb, queries, k=10, n_centroids=16, nprobe=14, refine=16,
        m=4, k_codes=256, code_bits=8,
    ).collect()
    key = lambda rows: sorted(
        (x.query_id, x.vec_id, x.cosine_sim, x.rank) for x in rows
    )
    assert key(via_param) == key(internal)


def _top2_quality(spark, sf_dir):
    """cos-vs-LAPACK for both fixed-point components at one SF."""
    from recipes_spark.io import load
    from recipes_spark.queries.dataops import (
        _embedding_gram,
        _powit_top2_vectors,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    merged = _embedding_gram(emb).collect()
    v, u, mu, d = _powit_top2_vectors(merged)
    n = 0
    S = np.zeros(d)
    G = np.zeros((d, d))
    for r in merged:
        i, j, sij = int(r["i"]), int(r["j"]), float(r["sij"])
        if j == 0:
            S[i - 1] = sij
        else:
            G[i - 1, j - 1] = sij
            G[j - 1, i - 1] = sij
            if i == 1 and j == 1:
                n = int(r["n"])
    M = n * G - np.outer(S, S)
    _, evecs = np.linalg.eigh(M)
    vf = np.asarray(v, dtype=np.float64)
    uf = np.asarray(u, dtype=np.float64)
    c1 = abs(vf @ evecs[:, -1]) / np.linalg.norm(vf)
    c2 = abs(uf @ evecs[:, -2]) / np.linalg.norm(uf)
    ortho = abs(vf @ uf) / (np.linalg.norm(vf) * np.linalg.norm(uf))
    return c1, c2, ortho


def test_power_iteration_top2_quality(spark, sf_dir, oracle_sf_dir):
    """The r14 two-component leg's fixed-point vectors must agree with
    LAPACK's top-2 eigenvectors (cosine ≥ 0.99 each) and be nearly
    orthogonal — at the local SF and at the driver's oracle SF, the
    regime where the r13 sizing analysis was done (λ3/λ2 ≈ 0.98, the
    binding rate). The signed init makes this hold at sf0.1 too,
    where the all-ones start's e₁ overlap is an accidental 2.5e-4
    (measured: cosines ≥ 0.9966 at every SF)."""
    for sf in (sf_dir, oracle_sf_dir):
        c1, c2, ortho = _top2_quality(spark, sf)
        assert c1 >= 0.99, f"{sf}: cos(v1, e1) {c1:.4f} < 0.99"
        assert c2 >= 0.99, f"{sf}: cos(u, e2) {c2:.4f} < 0.99"
        assert ortho <= 0.1, f"{sf}: |cos(v1, u)| {ortho:.4f} > 0.1"


def test_power_iteration_top2_projection_exact(spark, sf_dir):
    """The Catalyst projection fold must equal a direct integer dot
    product over mean-centered micro coordinates for every vector —
    the engine-side half of the exactness claim."""
    from recipes_spark.io import load
    from recipes_spark.queries.dataops import (
        _embedding_gram,
        _powit_top2_vectors,
    )
    from recipes_spark.registry import all_queries

    out = {
        r["vec_id"]: (int(r["pc1_fixed"]), int(r["pc2_fixed"]))
        for r in all_queries()["x3_power_iteration_top2"](
            spark, sf_dir
        ).collect()
    }
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v, u, mu, d = _powit_top2_vectors(_embedding_gram(emb).collect())
    for r in emb.limit(40).collect():
        q = np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * 1e6
        ).astype(np.int64)
        c = [int(q[j]) - mu[j] for j in range(d)]
        want = (
            sum(c[j] * v[j] for j in range(d)),
            sum(c[j] * u[j] for j in range(d)),
        )
        assert out[r["vec_id"]] == want


def test_release_increment_physical_append(spark, sf_dir):
    """x6_release_increment's physical contract: every shard verifies
    from files at BOTH versions, the digest changes exactly on touched
    shards (and the fixture genuinely exercises both directions), the
    v2 data directory contains ONLY delta-touched shard partitions,
    and v2's manifest references v1's untouched files byte-identically
    (the append never rewrites them)."""
    import os

    from recipes_spark.registry import all_queries
    from recipes_spark.session import LATEST

    pdf = (
        all_queries()["x6_release_increment"](spark, sf_dir)
        .toPandas()
        .sort_values("shard")
        .reset_index(drop=True)
    )
    assert pdf["v1_files_match"].all(), pdf
    assert pdf["v2_files_match"].all(), pdf
    assert pdf["digest_changed_iff_touched"].all(), pdf
    assert pdf["touched"].sum() >= 1
    assert (pdf["n_seqs_v2"] >= pdf["n_seqs_v1"].fillna(0)).all()
    store = LATEST["release_incr"]
    touched = {int(s) for s in pdf[pdf["touched"] == 1]["shard"]}
    v2_dirs = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(store, "data", "v2"))
        if d.startswith("shard_key=")
    }
    assert v2_dirs == touched, (v2_dirs, touched)
    man = {
        v: {
            r["file"]
            for r in spark.read.parquet(
                os.path.join(store, "_manifests", f"v{v}")
            ).collect()
        }
        for v in (1, 2)
    }
    assert man[1] < man[2]
    assert all("/data/v2/" in f for f in man[2] - man[1])


def test_st29_classifier_state_telescopes_and_retries(
    spark, sf_dir, tmp_path
):
    """st29's two structural claims, exercised directly: (a) SUM-merge
    telescoping — the (bucket → pos, tot) state after N ordered
    batches equals the batch trainer's one-pass aggregate over the
    whole corpus (the exactness the shared oracle stands on); (b) the
    family retry contract — an at-least-once redelivery of a middle
    batch rewrites its persisted state byte-identically."""
    import os

    from recipes_spark.io import load
    from recipes_spark.queries.corpus_ops import (
        _QTA_DIM,
        _bucket,
        _gopher_keep_expr,
    )
    from recipes_spark.streaming.ingest import (
        classifier_stats_advance_factory,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [d.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    state_dir = str(tmp_path / "st29_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = classifier_stats_advance_factory(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    def state(bid):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, f"s_{bid}")
            ).collect()
        )

    one_pass = sorted(
        tuple(r)
        for r in d.select("text", _gopher_keep_expr().alias("lbl"))
        .select("lbl", F.explode(F.split("text", " ")).alias("tok"))
        .select(
            "lbl",
            _bucket(F.concat(F.lit("qf:"), F.col("tok")), _QTA_DIM).alias(
                "b"
            ),
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("lbl"), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
            F.count(F.lit(1)).cast("long").alias("tot"),
        )
        .collect()
    )
    assert state(2) == one_pass  # telescoping

    before = [state(b) for b in range(3)]
    fn(batches[1], 1)  # at-least-once redelivery
    assert [state(b) for b in range(3)] == before


def test_crosseval_fires_all_cells(spark, sf_dir, oracle_sf_dir):
    """The cross-labeler confusion must populate all four cells at
    both gate SFs (both signals genuinely bidirectional — the
    readability threshold sits at the corpus median by construction),
    and its agreement must stay FAR from perfect: a Gopher-trained
    filter agreeing ≥ 90% with an independent readability signal on
    this corpus would mean the labeler is not independent (the
    measured value is ~53-59%, the honest near-chance number the
    query exists to expose)."""
    from recipes_spark.registry import all_queries

    qs = all_queries()
    for sf in (sf_dir, oracle_sf_dir):
        row = qs["x4_quality_classifier_crosseval"](spark, sf).collect()[0]
        for cell in ("tp", "fp", "fn", "tn"):
            assert int(row[cell]) > 0, (sf, cell, row)
        assert 200_000 <= int(row["accuracy_micro"]) <= 900_000, row


def test_residual_pq_cuts_distortion_and_holds_recall(topk_pair):
    """Residual encoding's whole point, measured: with the SAME
    coarse book and the SAME m × k_codes budget, quantizing
    x − C[cell] must yield strictly lower mean reconstruction SSE
    than quantizing raw vectors (the faiss IVFPQ rationale), and the
    composed search must hold recall@10 ≥ 0.9 at the registered
    knobs."""
    from recipes_spark.operators.similarity import (
        _d2_int,
        _train_books_from_milli,
        ivf_pq_residual_topk_int,
        pq_encode_int,
        train_coarse_centroids_int,
    )

    emb, queries, exact = topk_pair
    coarse = train_coarse_centroids_int(emb, k=16, iters=3)
    rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(2048)
        .collect()
    )
    ids = [int(r[0]) for r in rows]
    Sm = np.floor(
        np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
        * 1000.0
    ).astype(np.int64)
    cells = np.argmin(_d2_int(Sm, coarse), axis=1)
    raw_books = _train_books_from_milli(ids, Sm, m=4, k=256, iters=5)
    res_books = _train_books_from_milli(
        ids, Sm - coarse[cells], m=4, k=256, iters=5
    )
    raw_sse = [
        r.sse_milli2
        for r in pq_encode_int(emb, raw_books, code_bits=8).collect()
    ]
    res_sse = [
        r.sse_milli2
        for r in pq_encode_int(
            emb, res_books, code_bits=8, coarse_milli=coarse, residual=True
        ).collect()
    ]
    mean_raw = sum(raw_sse) / len(raw_sse)
    mean_res = sum(res_sse) / len(res_sse)
    assert mean_res < mean_raw, (mean_res, mean_raw)
    got = ivf_pq_residual_topk_int(
        emb, queries, k=10, n_centroids=16, nprobe=14, refine=16,
        m=4, k_codes=256, code_bits=8, coarse_milli=coarse,
    ).collect()
    r = sum(1 for x in got if (x.query_id, x.vec_id) in exact) / len(
        exact
    )
    assert r >= 0.9, f"residual IVF-PQ recall@10 {r:.2f} < 0.9"


def test_st30_packing_carry_telescopes_and_retries(
    spark, sf_dir, tmp_path
):
    """st30's structural claims, exercised directly on 3 contiguous
    batches: (a) the carry + per-sequence partial merges telescope to
    the ONE-PASS packing (same seq ids, token counts, and ID STREAMS
    — including the sequences that straddle batch boundaries, which
    MUST exist in the fixture for the test to mean anything); (b) an
    at-least-once redelivery of a middle batch rewrites its state
    byte-identically."""
    import os

    from recipes_spark.io import load
    from recipes_spark.operators.prefix import partitioned_prefix_sum
    from recipes_spark.queries.corpus_ops import (
        _BPE_MERGES,
        _BPE_VOCAB,
        bpe_greedy_ids_kernel,
    )
    from recipes_spark.streaming.ingest import packing_advance_factory

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = d.count()
    span = (n + 2) // 3
    batches = [
        d.filter(F.floor(F.col("doc_id") / span) == i) for i in range(3)
    ]
    state_dir = str(tmp_path / "st30_state")
    os.makedirs(state_dir, exist_ok=True)
    fn = packing_advance_factory(spark, state_dir)
    for bid, bdf in enumerate(batches):
        fn(bdf, bid)

    def state(bid):
        return sorted(
            (int(r["seq_id"]), int(r["n_tokens"]), tuple(r["ids"]))
            for r in spark.read.parquet(
                os.path.join(state_dir, f"s_{bid}")
            ).collect()
        )

    # one-pass reference
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    toks = d.mapInPandas(gen, "doc_id bigint, n bigint, ids array<int>")
    packed = partitioned_prefix_sum(
        toks, order_col="doc_id", value_col="n", out_col="cum", shards=8
    )
    flat = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("doc_id").alias("d"), F.col("ids").alias("i")
                    )
                )
            ),
            lambda s: s["i"],
        )
    )
    one_pass = sorted(
        (int(r["seq_id"]), int(r["n_tokens"]), tuple(r["ids"]))
        for r in packed.select(
            F.floor((F.col("cum") - F.col("n")) / 512)
            .cast("long")
            .alias("seq_id"),
            "doc_id",
            "n",
            "ids",
        )
        .groupBy("seq_id")
        .agg(F.sum("n").cast("long").alias("n_tokens"), flat.alias("ids"))
        .collect()
    )
    assert state(2) == one_pass  # telescoping, id streams included

    # the fixture genuinely exercises a boundary-straddling sequence
    # at SOME batch boundary: a seq already in state(b) whose row
    # changed in state(b+1) (more tokens appended by the next batch)
    grew = set()
    for b in (0, 1):
        prev_rows = state(b)
        prev_ids = {s for s, _, _ in prev_rows}
        for row in state(b + 1):
            if row[0] in prev_ids and row not in prev_rows:
                grew.add((b, row[0]))
    assert grew, "no sequence straddled any batch boundary"

    before = [state(b) for b in range(3)]
    fn(batches[1], 1)  # at-least-once redelivery
    assert [state(b) for b in range(3)] == before


def test_classifier_calibration_separates(spark, sf_dir, oracle_sf_dir):
    """The calibration curve must show the score actually RANKS the
    label at both gate SFs: the pooled label-keep rate of the
    above-threshold bins (score ≥ 2000 micro) beats the pooled rate
    of the below-prior bins (score < 0) by at least 2× — per-bin
    monotonicity is noise at small n, pooled separation is the
    signal a threshold decision needs."""
    from recipes_spark.registry import all_queries

    qs = all_queries()
    for sf in (sf_dir, oracle_sf_dir):
        rows = qs["x4_classifier_calibration"](spark, sf).collect()
        hi_n = sum(int(r["n_docs"]) for r in rows if int(r["bin"]) >= 1)
        hi_k = sum(
            int(r["n_label_keep"]) for r in rows if int(r["bin"]) >= 1
        )
        lo_n = sum(int(r["n_docs"]) for r in rows if int(r["bin"]) < 0)
        lo_k = sum(
            int(r["n_label_keep"]) for r in rows if int(r["bin"]) < 0
        )
        assert hi_n > 0 and lo_n > 0, rows
        assert hi_k * lo_n >= 2 * lo_k * hi_n, (sf, rows)


def test_pca_project_pinned_by_exact_sibling(spark, sf_dir):
    """Round 15 inverted this gate: x3_pca_project now SERVES from the
    exact fixed-point components (fully oracled), and LAPACK is the
    demoted test-side cross-check. Two pins: (a) the projection is
    EXACTLY the top-2 sibling's, scaled by each component's max-|entry|
    truncating division; (b) quality — |corr| ≥ 0.99 per axis against
    an independent LAPACK eigh projection over the same micro-quantized
    matrix (the r13 'pin both axes' gate, direction reversed)."""
    from recipes_spark.registry import all_queries

    qs = all_queries()
    got = {
        int(r["vec_id"]): (float(r["pc1_micro"]), float(r["pc2_micro"]))
        for r in qs["x3_pca_project"](spark, sf_dir).collect()
    }
    fix = {
        int(r["vec_id"]): (float(r["pc1_fixed"]), float(r["pc2_fixed"]))
        for r in qs["x3_power_iteration_top2"](spark, sf_dir).collect()
    }
    assert set(got) == set(fix)
    ids = sorted(got)
    # (a) exact derivation: corr vs the sibling is 1 up to the
    # truncating rescale — assert near-perfect agreement per axis.
    for axis in (0, 1):
        a = np.asarray([got[i][axis] for i in ids])
        b = np.asarray([fix[i][axis] for i in ids])
        corr = abs(
            float(
                ((a - a.mean()) * (b - b.mean())).sum()
                / (np.linalg.norm(a - a.mean()) * np.linalg.norm(b - b.mean()))
            )
        )
        assert corr >= 0.999999, (axis, corr)
    # (b) LAPACK cross-check on the identical quantized matrix.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    Q = np.floor(
        np.asarray(
            [np.asarray(r["embedding"], dtype=np.float64) for r in emb]
        )
        * 1e6
    )
    vid = [int(r["vec_id"]) for r in emb]
    n = Q.shape[0]
    C = np.cov(Q, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    P = (Q - Q.mean(0)) @ evecs[:, [-1, -2]]
    lap = {vid[i]: (P[i, 0], P[i, 1]) for i in range(n)}
    for axis in (0, 1):
        a = np.asarray([got[i][axis] for i in ids])
        b = np.asarray([lap[i][axis] for i in ids])
        corr = abs(
            float(
                ((a - a.mean()) * (b - b.mean())).sum()
                / (np.linalg.norm(a - a.mean()) * np.linalg.norm(b - b.mean()))
            )
        )
        assert corr >= 0.99, (axis, corr)


def test_release_resume_bounds_verification(spark, sf_dir):
    """x6_release_resume's contract: every remaining chunk verifies
    from the real store re-read, and the cursor genuinely BOUNDS the
    work — the remainder is non-empty but strictly smaller than the
    full release (chunks below the cursor are never read or
    digested), per shard."""
    from recipes_spark.registry import all_queries
    from recipes_spark.session import LATEST

    qs = all_queries()
    rows = qs["x6_release_resume"](spark, sf_dir).collect()
    assert rows and all(bool(r["chunks_verified"]) for r in rows), rows
    assert all(int(r["n_chunks_rem"]) >= 1 for r in rows)
    # full release for comparison: total chunks per shard from the
    # store the query just committed
    import os

    import pyspark.sql.functions as FF

    store = LATEST["release_resume"]
    full = (
        spark.read.parquet(os.path.join(store, "data", "v1"))
        .select("shard", "chunk")
        .distinct()
        .groupBy("shard")
        .agg(FF.count(FF.lit(1)).alias("n_chunks"))
        .collect()
    )
    total = {int(r["shard"]): int(r["n_chunks"]) for r in full}
    for r in rows:
        assert int(r["n_chunks_rem"]) < total[int(r["shard"])], (
            r,
            total,
        )


def test_knn_graph_ivf_edge_recall(spark, sf_dir):
    """The IVF-accelerated graph must recover the exact graph's edges
    at the MEASURED registered knobs (r14 verdict task 6 — raised from
    the r14 0.5 floor): nprobe=8 of 16 cells reads 0.848/0.839/0.816
    at sf0.001/0.01/0.1 (tools/graph_recall_probe.py), so the gate
    pins mean per-node top-3 overlap ≥ 0.8; every node must still get
    a full top-3 (probed cells always hold ≥ 3 other vectors at these
    SFs)."""
    from recipes_spark.registry import all_queries

    qs = all_queries()
    exact = {}
    for r in qs["x3_knn_graph"](spark, sf_dir).collect():
        exact.setdefault(int(r["qid"]), set()).add(int(r["cid"]))
    approx = {}
    for r in qs["x3_knn_graph_ivf"](spark, sf_dir).collect():
        approx.setdefault(int(r["qid"]), set()).add(int(r["cid"]))
    assert set(approx) == set(exact)
    assert all(len(v) == 3 for v in approx.values())
    recall = sum(
        len(exact[q] & approx[q]) / len(exact[q]) for q in exact
    ) / len(exact)
    assert recall >= 0.8, f"graph edge recall {recall:.3f} < 0.8"


@pytest.fixture(scope="module")
def topk_pair(spark, sf_dir):
    from recipes_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    return emb, queries, exact
