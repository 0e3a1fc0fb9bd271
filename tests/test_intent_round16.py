"""Round-16 intent gates: index DELETION (r15 verdict task 1),
drift-triggered gen-2 retrain + blue/green cutover (task 2), hybrid
RRF fusion (task 3), MMR served from the committed store (task 4),
the cell-stats monitor (task 6), the release→index e2e chain (task
7), and the round's hygiene fixes (persisted index meta, empty-delta
commits, books_bc validation)."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from recipes_spark.io import load
from recipes_spark.registry import all_queries


# ---------------------------------------------------------------- delete

def test_index_delete_contract_and_layout(spark, sf_dir):
    """Every file-side flag holds; untouched cells carry v1 files BY
    REFERENCE in the v2 manifest (zero new bytes); v2's data dir holds
    only touched-cell partitions; some cells were actually touched
    (the dedup fixture has non-survivors at every SF)."""
    from recipes_spark.session import LATEST

    rows = all_queries()["x3_index_delete"](spark, sf_dir).collect()
    assert rows and any(r["touched"] == 1 for r in rows)
    for flag in (
        "v1_files_match", "v2_files_match", "files_frozen_iff_untouched",
        "deleted_absent", "digest_changed_iff_touched",
    ):
        assert all(bool(r[flag]) for r in rows), (flag, rows)
    # deletions shrink exactly the touched cells
    for r in rows:
        assert r["n_v2"] == r["n_v1"] - r["n_deleted"]
        assert (r["n_deleted"] > 0) == (r["touched"] == 1)
    store = LATEST["ann_index_delete"]
    v2_cells = {
        d
        for d in os.listdir(os.path.join(store, "codes", "data", "v2"))
        if d.startswith("cell_key=")
    }
    touched = {f"cell_key={r['cell']}" for r in rows if r["touched"] == 1}
    assert v2_cells == touched


def test_index_delete_absent_from_every_serve(spark, sf_dir):
    """The done-bar: a deleted id can NEVER appear in any serve path —
    top-k, filtered (denormalized attrs ride the rewrite), or radius —
    all answered from the post-delete version."""
    from recipes_spark.operators.similarity import (
        ivf_pq_search_coded,
        pq_encode_int,
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )
    from recipes_spark.plans.ann_index import (
        ann_index_codes,
        ann_index_commit,
        ann_index_delete,
        ann_index_load_books,
    )
    from recipes_spark.queries.dataops import x2_best_survivor
    from recipes_spark.session import scratch_dir

    emb = load(spark, sf_dir, "embeddings")
    cents = train_coarse_centroids_int(emb, k=16, iters=3, hash_tag="pq:0")
    books = train_pq_codebooks_int(emb, m=4, k=256)
    store = scratch_dir("ann_index_delete_serve_test")
    ann_index_commit(
        spark, emb, store, 1, cents, books, code_bits=8,
        attrs=emb.select("vec_id", "label"),
    )
    tomb = (
        x2_best_survivor(spark, sf_dir)
        .filter(~F.col("keep"))
        .select(F.col("doc_id").alias("vec_id"))
        .localCheckpoint(eager=True)
    )
    tomb_ids = {int(r["vec_id"]) for r in tomb.collect()}
    assert tomb_ids
    ann_index_delete(spark, store, 2, tomb)
    coarse_l, books_l = ann_index_load_books(spark, store)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    coded = ann_index_codes(spark, store, 2, extra=("label",))
    # top-k serve
    topk = ivf_pq_search_coded(
        coded.drop("label"), emb, queries, coarse_l, books_l,
        k=10, nprobe=14, refine=16, code_bits=8,
    ).collect()
    assert topk and not {int(r["vec_id"]) for r in topk} & tomb_ids
    # filtered serve (attrs survived the rewrite)
    filt = ivf_pq_search_coded(
        coded.filter(F.col("label").isin(2, 5)).drop("label"),
        emb, queries, coarse_l, books_l,
        k=10, nprobe=14, refine=16, code_bits=8,
    ).collect()
    assert filt and not {int(r["vec_id"]) for r in filt} & tomb_ids
    # radius-style serve: ALL probed-cell members at v2
    members = {int(r["vec_id"]) for r in coded.select("vec_id").collect()}
    assert not members & tomb_ids
    # time travel across the delete still works: v1 still holds them
    v1_members = {
        int(r["vec_id"])
        for r in ann_index_codes(spark, store, 1).select("vec_id").collect()
    }
    assert tomb_ids <= v1_members


def test_index_delete_no_matching_tombstones(spark, sf_dir):
    """An empty/no-op tombstone set degrades to manifest carry-forward:
    v2 reads identical to v1, zero new data files."""
    from recipes_spark.operators.similarity import (
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )
    from recipes_spark.plans.ann_index import (
        ann_index_codes,
        ann_index_commit,
        ann_index_delete,
    )
    from recipes_spark.session import scratch_dir

    emb = load(spark, sf_dir, "embeddings")
    cents = train_coarse_centroids_int(emb, k=16, iters=3, hash_tag="pq:0")
    books = train_pq_codebooks_int(emb, m=4, k=256)
    store = scratch_dir("ann_index_delete_noop_test")
    ann_index_commit(spark, emb, store, 1, cents, books, code_bits=8)
    ghost = spark.createDataFrame([(10**9,)], "vec_id long")
    touched = ann_index_delete(spark, store, 2, ghost)
    assert touched == []
    v1 = ann_index_codes(spark, store, 1).collect()
    v2 = ann_index_codes(spark, store, 2).collect()
    assert sorted(map(tuple, v1)) == sorted(map(tuple, v2))


def test_snapshot_drop_where_validation(spark, tmp_path):
    """drop_where is a partial REWRITE of a prior manifest — rejected
    loudly at v1 and with replace=True."""
    from recipes_spark.plans.catalog import snapshot_commit

    df = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("cell_key")
    )
    store = str(tmp_path / "s")
    with pytest.raises(ValueError, match="drop_where"):
        snapshot_commit(spark, df, store, 1, drop_where="file LIKE '%x%'")
    snapshot_commit(spark, df, store, 1, partition_by=("cell_key",))
    with pytest.raises(ValueError, match="drop_where"):
        snapshot_commit(
            spark, df, store, 2, replace=True,
            drop_where="file LIKE '%x%'",
        )


def test_index_delete_where_purges_predicate(spark, sf_dir):
    """Delete-by-predicate: after the rewrite, NO row matching the
    predicate survives anywhere in v2, attrs still ride (a filtered
    search on v2 still works), and the report flags all hold."""
    from recipes_spark.plans.ann_index import ann_index_codes
    from recipes_spark.session import LATEST

    rows = all_queries()["x3_index_delete_where"](spark, sf_dir).collect()
    assert rows and any(r["touched"] == 1 for r in rows)
    for flag in (
        "v1_files_match", "v2_files_match", "files_frozen_iff_untouched",
        "deleted_absent", "digest_changed_iff_touched",
    ):
        assert all(bool(r[flag]) for r in rows), (flag, rows)
    store = LATEST["ann_index_delete_where"]
    v2 = ann_index_codes(spark, store, 2, extra=("label",))
    assert v2.filter(F.col("label").isin(2, 5)).count() == 0
    assert v2.filter(F.col("label") == 0).count() > 0


def test_index_delete_mor_serve_equivalence(spark, sf_dir):
    """Merge-on-read: the PRE-fold live view serves top-k
    BIT-IDENTICALLY to the POST-fold rewrite (deletion vectors and
    copy-on-write are the same table), and no tombstoned id appears
    in either serve."""
    from recipes_spark.operators.similarity import ivf_pq_search_coded
    from recipes_spark.plans.ann_index import (
        ann_index_codes,
        ann_index_codes_live,
        ann_index_load_books,
        ann_index_tombstones,
    )
    from recipes_spark.session import LATEST

    rows = all_queries()["x3_index_delete_mor"](spark, sf_dir).collect()
    assert rows and any(r["touched"] == 1 for r in rows)
    for flag in ("sidecar_match", "mor_equals_fold", "fold_files_match"):
        assert all(bool(r[flag]) for r in rows), (flag, rows)
    store = LATEST["ann_index_delete_mor"]
    emb = load(spark, sf_dir, "embeddings")
    coarse_l, books_l = ann_index_load_books(spark, store)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def serve(codes):
        return sorted(
            tuple(r)
            for r in ivf_pq_search_coded(
                codes, emb, queries, coarse_l, books_l,
                k=10, nprobe=14, refine=16, code_bits=8,
            ).collect()
        )

    mor = serve(ann_index_codes_live(spark, store, 1, 1))
    folded = serve(ann_index_codes(spark, store, 2))
    assert mor == folded
    tomb_ids = {
        int(r["vec_id"])
        for r in ann_index_tombstones(spark, store, 1).collect()
    }
    assert tomb_ids and not {t[1] for t in mor} & tomb_ids


def test_index_upsert_currency_and_flow(spark, sf_dir):
    """Upsert semantics: every flag holds; flow conserves
    (Σn_in == Σn_out == |changed| and n_v2 = n_v1 + in − out per
    cell); the v2 read serves exactly the NEW codes for changed ids
    (currency) while v1 still time-travels to the old ones."""
    from recipes_spark.operators.similarity import (
        pq_encode_int,
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )
    from recipes_spark.plans.ann_index import ann_index_codes
    from recipes_spark.session import LATEST

    rows = all_queries()["x3_index_upsert"](spark, sf_dir).collect()
    assert rows and any(r["touched"] == 1 for r in rows)
    for flag in (
        "v1_files_match", "v2_files_match", "digest_frozen_if_untouched",
    ):
        assert all(bool(r[flag]) for r in rows), (flag, rows)
    emb = load(spark, sf_dir, "embeddings")
    n_changed = emb.filter(F.col("vec_id") % 7 == 3).count()
    assert sum(r["n_in"] for r in rows) == n_changed
    assert sum(r["n_out"] for r in rows) == n_changed
    for r in rows:
        assert r["n_v2"] == r["n_v1"] + r["n_in"] - r["n_out"]
    # currency: the v2 rows for changed ids carry the REVERSED
    # vectors' codes, and v1 still holds the originals
    store = LATEST["ann_index_upsert"]
    cents = train_coarse_centroids_int(emb, k=16, iters=3, hash_tag="pq:0")
    books = train_pq_codebooks_int(emb, m=4, k=256)
    changed = emb.filter(F.col("vec_id") % 7 == 3)
    want_new = {
        (int(r["vec_id"]), int(r["codes_packed"]), int(r["__list"]))
        for r in pq_encode_int(
            changed.select(
                "vec_id", F.reverse("embedding").alias("embedding")
            ),
            books, coarse_milli=cents, code_bits=8,
        ).collect()
    }
    want_old = {
        (int(r["vec_id"]), int(r["codes_packed"]), int(r["__list"]))
        for r in pq_encode_int(
            changed, books, coarse_milli=cents, code_bits=8
        ).collect()
    }

    def got(version):
        return {
            (int(r["vec_id"]), int(r["codes_packed"]), int(r["__list"]))
            for r in ann_index_codes(spark, store, version)
            .filter(F.col("vec_id") % 7 == 3)
            .collect()
        }

    assert got(2) == want_new
    assert got(1) == want_old


# ------------------------------------------------------- hygiene fixes

def test_empty_delta_append_carries_manifest_forward(spark, tmp_path):
    """An empty delta commit (a realistic ingest edge) must not crash
    schema inference; the new manifest equals the prior version's."""
    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read

    store = str(tmp_path / "s")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("cell_key")
    )
    snapshot_commit(spark, df, store, 1, partition_by=("cell_key",))
    snapshot_commit(
        spark, df.filter(F.lit(False)), store, 2,
        partition_by=("cell_key",),
    )
    assert snapshot_read(spark, store, 2).count() == 10


def test_index_meta_persisted_and_validated(spark, sf_dir, tmp_path):
    """The commit-time encoding parameters persist with the model;
    re-supplying different values on a later commit fails loudly; the
    append path defaults to the stored code_bits."""
    from recipes_spark.operators.similarity import (
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )
    from recipes_spark.plans.ann_index import (
        ann_index_append,
        ann_index_codes,
        ann_index_commit,
        ann_index_meta,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    cents = train_coarse_centroids_int(base, k=8, iters=1, hash_tag="pq:0")
    books = train_pq_codebooks_int(base, m=4, k=16, sample=256, iters=1)
    store = str(tmp_path / "ix")
    ann_index_commit(spark, base, store, 1, cents, books, code_bits=4)
    meta = ann_index_meta(spark, store)
    assert meta == {
        "code_bits": 4, "m": 4, "k_codes": 16,
        "n_centroids": 8, "dim": 64,
    }
    with pytest.raises(ValueError, match="encoding parameters"):
        ann_index_commit(spark, delta, store, 2, cents, books, code_bits=8)
    # default path picks the stored width
    ann_index_append(spark, delta, store, 2)
    assert (
        ann_index_codes(spark, store, 2).count() == emb.count()
    )


def test_pq_encode_rejects_mismatched_books_bc(spark, sf_dir):
    """A books broadcast inconsistent with the validated arguments
    must fail before the plan is built."""
    from recipes_spark.operators.similarity import (
        pq_encode_int,
        train_pq_codebooks_int,
    )

    emb = load(spark, sf_dir, "embeddings")
    books = train_pq_codebooks_int(emb, m=4, k=16, sample=256, iters=1)
    bad = spark.sparkContext.broadcast((books[:, :8, :], None))
    with pytest.raises(ValueError, match="books_bc"):
        pq_encode_int(emb, books, books_bc=bad)
    bad.unpersist()


# ------------------------------------------------------------- retrain

def test_index_retrain_cutover(spark, sf_dir):
    """Blue/green mechanics: the promotion verdict matches the recall
    comparison (new wins ties), exactly one generation is promoted,
    both served from their committed stores, and the losing family is
    physically reclaimed with a fenced read."""
    from recipes_spark.session import LATEST

    rows = {
        r["gen"]: r
        for r in all_queries()["x3_index_retrain"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2}
    g1, g2 = rows[1], rows[2]
    assert bool(g2["promoted"]) == (g2["recall_bp"] >= g1["recall_bp"])
    assert bool(g1["promoted"]) != bool(g2["promoted"])
    assert bool(g1["served_from_store"]) and bool(g2["served_from_store"])
    assert bool(g1["loser_fenced"]) and bool(g2["loser_fenced"])
    assert g1["n_train"] < g2["n_train"]
    root = LATEST["ann_index_retrain"]
    loser = "gen1" if g2["promoted"] else "gen2"
    winner = "gen2" if g2["promoted"] else "gen1"
    assert not os.path.isdir(os.path.join(root, loser))
    assert os.path.isdir(os.path.join(root, winner, "codes"))


def test_index_retrain_gen2_wins_on_fixture(spark, sf_dir):
    """On this corpus the full-corpus retrain must not lose to the
    half-corpus gen-1 books on the drifted queries — the measured
    promotion the blue/green arc exists for."""
    rows = {
        r["gen"]: r
        for r in all_queries()["x3_index_retrain"](spark, sf_dir).collect()
    }
    assert rows[2]["recall_bp"] >= rows[1]["recall_bp"]
    assert bool(rows[2]["promoted"])


# ----------------------------------------------------------- rrf / mmr

def test_hybrid_rrf_provenance(spark, sf_dir):
    """Fusion provenance: every in_dense row is in the dense top-10,
    every in_sparse row in the BM25 top-20; scores decompose exactly
    into the integer ppb contributions; both-list docs outrank either
    single contribution alone."""
    from recipes_spark.queries.corpus_ops import x4_bm25_search

    qs = all_queries()
    fused = qs["x4_hybrid_rrf"](spark, sf_dir).collect()
    assert fused
    dense = {
        (int(r["query_id"]), int(r["vec_id"])): int(r["rnk"])
        for r in qs["x3_index_search"](spark, sf_dir).collect()
    }
    sparse_rows = x4_bm25_search(spark, sf_dir).collect()
    sparse = {
        int(r["doc_id"]): i + 1 for i, r in enumerate(sparse_rows)
    }
    for r in fused:
        key = (int(r["query_id"]), int(r["vec_id"]))
        want = 0
        if r["in_dense"]:
            assert key in dense
            want += 1000000000 // (60 + dense[key])
        if r["in_sparse"]:
            assert int(r["vec_id"]) in sparse
            want += 1000000000 // (60 + sparse[int(r["vec_id"])])
        assert int(r["rrf_ppb"]) == want and want > 0
    # per query exactly k rows, ranks 1..k
    by_q: dict = {}
    for r in fused:
        by_q.setdefault(int(r["query_id"]), []).append(int(r["rnk"]))
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, 11)), (q, rnks)


def test_rrf_oracle_bm25_leg_pinned_to_attested(oracle_sf_dir):
    """The RRF oracle's hand-maintained BM25 twin (_bm25_rank_ctes —
    a module-level import would cycle at decoration time) must rank
    EXACTLY like the attested x4_bm25_search oracle: any drift in
    either text fails here, not as a later re-sync hunt."""
    import duckdb

    from recipes_spark.queries.corpus_ops import _BM25_ORACLE
    from recipes_spark.queries.dataops import _bm25_rank_ctes

    con = duckdb.connect()
    con.execute(
        "create view documents as select * from"
        f" read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    attested = con.execute(_BM25_ORACLE).df()
    twin = con.execute(
        "WITH " + ",\n".join(_bm25_rank_ctes())
        + "\nSELECT doc_id, rnk_s FROM bmr ORDER BY rnk_s"
    ).df()
    assert list(twin["doc_id"]) == list(attested["doc_id"])
    assert list(twin["rnk_s"]) == list(range(1, len(attested) + 1))


def test_index_mmr_rank1_is_served_top1(spark, sf_dir):
    """The rank-1 contract on the STORE-SERVED shortlist: MMR's first
    pick per query equals the committed index's top-1 (λ-weighting
    cannot change pick 1), and picks are distinct per query."""
    qs = all_queries()
    mmr = qs["x3_index_mmr_search"](spark, sf_dir).collect()
    top1 = {
        int(r["query_id"]): int(r["vec_id"])
        for r in qs["x3_index_search"](spark, sf_dir).collect()
        if int(r["rnk"]) == 1
    }
    picks: dict = {}
    for r in mmr:
        picks.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
        if int(r["rnk"]) == 1:
            assert int(r["vec_id"]) == top1[int(r["query_id"])]
    for q, ids in picks.items():
        assert len(ids) == len(set(ids)) == 10


# ------------------------------------------------------ cell stats / e2e

def test_index_cell_stats_arithmetic(spark, sf_dir):
    """Shares sum to ~1e6, salt factors are ceil(n/mean), heaviest
    first — and the counts total the corpus."""
    rows = all_queries()["x3_index_cell_stats"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n
    mean = n // len(rows)
    for r in rows:
        assert r["salt_factor"] == -(-r["n_vecs"] // mean)
        assert r["share_ppm"] == 1000000 * r["n_vecs"] // n
    counts = [r["n_vecs"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_release_index_e2e_chain(spark, sf_dir):
    """All three stages present and internally consistent: every ok
    flag true; the release packs only kept docs' tokens; the index
    holds exactly the kept vectors; every serve row returns 10 kept
    results."""
    from recipes_spark.queries.dataops import x2_best_survivor

    rows = all_queries()["x6_release_index_e2e"](spark, sf_dir).collect()
    stages = {r["stage"] for r in rows}
    assert stages == {"release", "index", "serve"}
    assert all(bool(r["ok"]) for r in rows), rows
    kept = x2_best_survivor(spark, sf_dir).filter(F.col("keep")).count()
    assert (
        sum(r["n_items"] for r in rows if r["stage"] == "index") == kept
    )
    serve = [r for r in rows if r["stage"] == "serve"]
    assert len(serve) == 5 and all(r["n_items"] == 10 for r in serve)
