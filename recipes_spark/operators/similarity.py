"""Similarity search over embedding columns (SURVEY.md §2.12 X3):
brute-force cosine top-k as the exact baseline; LSH, IVF, PQ/ADC and
IVF-PQ as the approximate scale paths; MMR as the diversity rerank.

Every approximate operator works on the INTEGER MILLI GRID
(floor(x · 1000) int64) — the ``*_int`` operators: hyperplane signs,
k-means training, code assignment and ADC distances are exact integer
arithmetic, so the candidate set (the only approximate stage) is
deterministic and a DuckDB oracle replays it bit for bit. Exact cosine
math on the shortlist decides the final order (_exact_rerank).

Scale design: brute-force is a broadcast of the (small) query set against
the corpus — no corpus shuffle, embarrassingly parallel. The LSH
operators bucket the corpus once (row-local sign-bit sketch), then probe
only matching buckets — turning top-k into an equi-join, the same
banding trick as MinHash. IVF prunes to the probed coarse cells; PQ
scans m small codes per vector instead of the float vector.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from recipes_spark.functions.vectors import as_double, cosine
from recipes_spark.io import scale_partitions


def _collect_queries(
    queries: DataFrame, query_id_col: str, query_vec_col: str
):
    """(qids int64[Q], Q float64[Q, dim]) or None when the query side
    is empty — the bounded driver-side collect every top-k operator
    starts with (the probe side is small by construction). ONE
    definition so the empty-result short-circuit and the dtype
    conventions cannot drift between operators."""
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        return None
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.asarray([np.asarray(r[1], dtype=np.float64) for r in qrows])
    return qids, Q


def _d2_int(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """EXACT int64 squared L2 distances between integer-grid rows of
    ``X`` (n, d) and ``C`` (k, d) via the norm expansion
    |x|² − 2·x·cᵀ + |c|² — memory O(n·k) where the broadcast-difference
    form ((X[:,None,:] − C[None,:,:])²).sum(-1) materializes O(n·k·d)
    int64 (hundreds of GB per 10k-row Arrow batch once k reaches the
    tens of thousands the coarse trainer targets — r13 ADVICE).

    Exactness: when every |x·c| partial sum stays below 2⁵³ the float64
    BLAS matmul is EXACT (each product and every intermediate integer
    sum is exactly representable), so the fast path casts back to int64
    losslessly; otherwise fall back to numpy's int64 matmul (exact by
    definition, modular overflow impossible under the same bound on
    d·max|X|·max|C|). Milli/micro-grid vectors here are ≤ ~10⁴ per
    coordinate at d = 64 — 2³⁰ of headroom — but the guard keeps the
    contract honest for any caller."""
    X = np.ascontiguousarray(X, dtype=np.int64)
    C = np.ascontiguousarray(C, dtype=np.int64)
    d = X.shape[1]
    mx = int(np.abs(X).max(initial=0))
    mc = int(np.abs(C).max(initial=0))
    xn = (X * X).sum(axis=1)
    cn = (C * C).sum(axis=1)
    # |d2| ≤ d·(mx+mc)² — when that also clears 2⁵³ the whole combine
    # can stay in ONE float64 buffer (in-place, no int64 temporaries)
    # before a single exact cast back.
    if d * (mx + mc) * (mx + mc) < 2**53:
        acc = X.astype(np.float64) @ C.astype(np.float64).T
        acc *= -2.0
        acc += xn[:, None].astype(np.float64)
        acc += cn[None, :].astype(np.float64)
        return acc.astype(np.int64)
    if d * (mx + mc) * (mx + mc) >= 2**63:
        raise ValueError(
            "_d2_int: d*(max|X|+max|C|)^2 exceeds int64 — quantize to a "
            "coarser grid before computing exact distances"
        )
    dot = X @ C.T
    dot *= -2
    dot += xn[:, None]
    dot += cn[None, :]
    return dot


def _empty_topk(spark, query_id_col: str, id_col: str) -> DataFrame:
    return spark.createDataFrame(
        [], f"{query_id_col} long, {id_col} long, cosine_sim double, rank int"
    )


def _rank_topk(
    scored: DataFrame, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """Final top-k ordering shared by every similarity tail: per query,
    (cosine_sim desc, id asc) — the deterministic total order the
    partial-selection stages must also use for their merge to be
    exact."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine re-rank of an (id, query_id) shortlist against the
    float vectors (broadcast query side) — the tail shared by the
    approximate operators (lsh_topk_int, ivf_topk_int, pq_adc_topk_int,
    ivf_pq_search_coded, ivf_pq_residual_topk_int): the approximate
    stage only CHOOSES candidates, exact math always decides the
    final order."""
    qdf = queries.select(
        F.col(query_id_col), F.col(query_vec_col).alias("__qv")
    )
    joined = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(
                cosine(as_double(F.col(vec_col)), as_double(F.col("__qv"))), 4
            ),
        )
    )
    return _rank_topk(joined, query_id_col, id_col, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k, two-phase: each Arrow batch computes all
    query similarities with ONE numpy matmul and keeps only its local
    top-k per query, so the final ranking window sees
    O(partitions · Q · k) rows instead of O(N · Q) — at corpus scale
    the shuffle is constant-size while the compute stays embarrassingly
    parallel. Both phases order by (rounded sim desc, id asc); partial
    selection under the same total order as the final makes the merge
    exact, not approximate. The query set is collected to the driver
    (bounded — it's the probe side, like IVF's training sample) and
    ships inside the UDF closure."""
    collected = _collect_queries(queries, query_id_col, query_vec_col)
    if collected is None:
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    qids, Q = collected
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    out_schema = f"{id_col} long, {query_id_col} long, cosine_sim double"

    def partial_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-300
            )
            S = np.round(Xn @ Qn.T, 4)  # (n, Q)
            frames = []
            for j, qid in enumerate(qids):
                sims = S[:, j]
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], sims[mask]
                # Partial select under the FINAL order (sim desc, id asc):
                # lexsort on (-sim, id), take k.
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: cand_ids[order],
                            query_id_col: qid,
                            "cosine_sim": cand_sims[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partial = scale_partitions(corpus.select(id_col, vec_col)).mapInPandas(
        partial_topk, out_schema
    )
    return _rank_topk(partial, query_id_col, id_col, k)


def _hyperplane_buckets(
    df: DataFrame,
    *,
    tables: list[np.ndarray],
    vec_col: str,
    keep_cols: list[str],
) -> DataFrame:
    """(keep_cols…, bucket) rows: `len(tables)` sign-bit buckets per
    vector, assigned with ONE numpy einsum per Arrow batch — all
    n_tables × n_planes dot products vectorized, vs that many
    interpreted HOF expression evaluations per row in the Catalyst
    form. Buckets only drive candidate RECALL (an exact re-rank/verify
    decides membership downstream), so float-summation-order
    differences vs the JVM are immaterial."""
    T = np.stack(tables)  # (n_tables, n_planes, dim)
    n_tables, n_planes, dim = T.shape
    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    # Backtick-quote names in the DDL string so a column needing quoting
    # fails here (schema parse) rather than deep inside the Arrow task.
    schema = ", ".join(
        [f"`{c}` {in_fields[c]}" for c in keep_cols] + ["`bucket` string"]
    )

    def assign(batches):
        pow2 = 1 << np.arange(n_planes - 1, -1, -1)
        prefixes = np.array([f"t{t}:" for t in range(n_tables)])
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                # np.stack (not asarray) so ragged vectors raise a clear
                # shape error instead of building an object array that
                # einsum rejects with an opaque executor-side message.
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            except ValueError as exc:
                raise ValueError(
                    f"{vec_col!r} must be fixed-length numeric vectors "
                    f"(expected dim={dim}): {exc}"
                ) from exc
            if V.shape[1] != dim:
                raise ValueError(
                    f"{vec_col!r} vectors have dim {V.shape[1]}, but the "
                    f"hyperplane tables were drawn for dim {dim}"
                )
            signs = np.einsum("tpd,nd->ntp", T, V) > 0  # (n, tables, planes)
            codes = (signs * pow2).sum(axis=2)  # (n, tables)
            yield pd.DataFrame(
                {
                    **{
                        c: pdf[c].to_numpy().repeat(n_tables)
                        for c in keep_cols
                    },
                    "bucket": np.char.add(
                        np.tile(prefixes, len(pdf)),
                        codes.astype(np.int64).ravel().astype(str),
                    ),
                }
            )

    return df.mapInPandas(assign, schema=schema)


def lsh_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: tuple[str, ...] = (),
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """All-pairs embedding near-dup via hyperplane-LSH candidates +
    exact cosine verify — the semantic-dedup scale path.

    Candidates = pairs sharing a (table, bucket) in ANY of `n_tables`
    independent sign-bit sketches; the quadratic work happens only
    inside buckets (expected size N/2^n_planes per table), then the
    exact cosine filter keeps pairs ≥ threshold. `block_cols` adds
    equality keys to the candidate join (e.g. a cluster label), further
    bounding buckets. Miss probability per true pair at cos=c is
    (1-p^n_planes)^n_tables with p = 1-arccos(c)/π; the defaults give
    p≈0.899 at c=0.95 → miss ≈ 0.35^16 ≈ 5e-8, i.e. recall ≈ 1 —
    tests/test_similarity.py asserts recall == 1.0 against the
    all-pairs answer on planted duplicates."""
    rng = np.random.default_rng(seed)
    tables = [rng.standard_normal((n_planes, dim)) for _ in range(n_tables)]
    blocks = list(block_cols)
    base = scale_partitions(df)

    # Banding rows carry (id, blocks, bucket) ONLY — the vector payload
    # stays out of the n_tables-times-exploded candidate shuffle (the
    # same never-shuffle-the-corpus-16× rule as MinHash banding) and
    # re-joins just for the surviving distinct pairs.
    bucketed_df = _hyperplane_buckets(
        base, tables=tables, vec_col=vec_col, keep_cols=[id_col, *blocks]
    )
    a = bucketed_df.select(F.col(id_col).alias("id_a"), *blocks, "bucket")
    b = bucketed_df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in blocks],
        "bucket",
    )
    cond = a["bucket"] == b["bucket"]
    for c in blocks:
        cond = cond & (a[c] == b[f"__b_{c}"])
    cand = (
        a.join(b, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])  # pair may collide in >1 table
        # The candidate list is BYTE-small (two ids/row) so AQE coalesces
        # it to ~1 partition, which would serialize the CPU-heavy cosine
        # verify below (the vector joins are broadcasts — they inherit
        # this partitioning). An explicit round-robin repartition is
        # exempt from AQE coalescing; it shuffles only id pairs.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = cosine(as_double(F.col("__va")), as_double(F.col("__vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine_sim", F.round(cos, 4))
        .filter(cos >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def train_pq_codebooks_int(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample: int = 2048,
    iters: int = 5,
) -> np.ndarray:
    """Product-quantization codebooks on the INTEGER MILLI GRID: split
    the vector into ``m`` contiguous subspaces and k-means each on a
    bounded driver-side sample (training never reads the corpus).
    Every arithmetic step is exact and engine-portable, so a SQL
    oracle can replay the whole training loop (the BPE train→apply
    discipline applied to vectors):

    - sample: the ``sample`` LOWEST ids (orderBy + limit — a
      deterministic prefix, where .limit(sample) alone is
      partition-order dependent);
    - values: floor(x · 1000) int64 (float→double exact, one IEEE
      multiply, floor — the embedding_centroids convention);
    - init (per subspace j): the k sample vectors ranked smallest by
      the portable sha-slice of 'pq:<j>:<vec_id>' — deterministic,
      hash-spread, replayable as a SQL row_number;
    - assignment: argmin of the INTEGER squared distance, ties to the
      lowest centroid index;
    - update: floor(sum / n) per dimension — the float division is
      provably exact-floor for |sum| < 2^53 (a non-integer true
      quotient has fractional part ≥ 1/n ≫ double epsilon, so
      rounding can never cross the floor boundary); empty clusters
      keep their previous centroid.

    The 0.001-per-dim-per-round grid quantization is noise relative
    to PQ's own distortion (16 centroids per 8-dim subspace);
    distortion/recall gates re-assert quality in tests. Returns int64
    (m, k, dim/m) milli-unit centroids."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    if not rows:
        raise ValueError("train_pq_codebooks_int: empty training sample")
    ids = [int(r[0]) for r in rows]
    X = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    Xm = np.floor(X * 1000.0).astype(np.int64)
    return _train_books_from_milli(ids, Xm, m=m, k=k, iters=iters)


def _train_books_from_milli(
    ids: list[int], Xm: np.ndarray, *, m: int, k: int, iters: int
) -> np.ndarray:
    """The integer k-means core of train_pq_codebooks_int on
    PRECOMPUTED milli-grid vectors — factored out so the residual
    IVF-PQ path can train books on residual vectors (Xm − C[cell])
    with the IDENTICAL arithmetic (same hash-ranked init family, same
    lowest-index argmin, same exact-floor mean, same empty-cluster
    carry)."""
    import hashlib

    dim = Xm.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, k, sub), dtype=np.int64)
    for j in range(m):
        S = Xm[:, j * sub : (j + 1) * sub]

        def h(vid: int) -> int:
            return int(
                hashlib.sha256(f"pq:{j}:{vid}".encode()).hexdigest()[:15], 16
            )

        order = sorted(range(len(ids)), key=lambda i: (h(ids[i]), ids[i]))
        cents = S[order[:k]].copy()
        for _ in range(iters):
            d2 = _d2_int(S, cents)
            assign = np.argmin(d2, axis=1)  # first occurrence = lowest c
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    cents[c] = np.floor(
                        members.sum(axis=0) / len(members)
                    ).astype(np.int64)
        books[j] = cents
    return books


def train_coarse_centroids_int(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 5,
    hash_tag: str = "pq:0",
) -> np.ndarray:
    """DISTRIBUTED integer Lloyd trainer for the IVF coarse quantizer
    (r12 verdict task 5): train_pq_codebooks_int collects a bounded
    2048-row sample — right for PQ subspace codebooks, but a
    production IVF coarse quantizer wants n_centroids in the tens of
    thousands trained on far more than 2048 points. This trainer keeps
    the IDENTICAL integer arithmetic (same milli grid, same sha-slice
    init ranking, same lowest-index argmin tie-break, same exact
    floor(sum/n) update, same empty-cluster carry) but runs every
    round DISTRIBUTED:

    - init: the k corpus vectors ranked smallest by (sha-slice-60 of
      '<hash_tag>:<vec_id>', vec_id) — a TakeOrdered over the corpus
      (k rows collected), not a sample prefix;
    - assignment + partial update in ONE Arrow kernel pass: each batch
      assigns its vectors to the nearest centroid (exact int64 L2,
      first-minimum = lowest index) and emits per-(centroid, dim)
      PARTIAL sums + member counts — the map-side combine that bounds
      the shuffle at batches × k × dim rows regardless of corpus size;
    - update: one hash agg on (centroid, dim) + a k·dim-row collect;
      new centroid dim = floor(sum / n) (exact: |sum| < 2^53), empty
      clusters keep their previous centroid.

    Per-round driver state is the k×dim int64 centroid matrix itself
    (the model — bounded by construction), so lineage resets at every
    round's collect (contrast the iterative-JOIN algorithms, whose
    state is a DataFrame). The (id, vec) projection is STAGED once
    (scale_partitions + eager localCheckpoint — the MLlib-KMeans
    cache-the-input pattern): rounds then scan staged blocks instead
    of re-reading and re-partitioning the source per round; at 100 TB
    stage to a table instead, exactly like the CC edge checkpoint.
    Gated
    BIT-IDENTICAL to train_pq_codebooks_int(m=1) on the shared config
    (same 2048-prefix corpus, same k/iters/hash family) in
    tests/test_intent_round13.py; centroid-count scaling measured in
    SCALE.md (coarse_kmeans_scaling). Returns (k, dim) int64
    milli-unit centroids.

    100 TB: per round = one corpus scan + one k·dim-bounded exchange;
    serving composes with pq_encode_int(coarse_milli=...) /
    ivf_topk_int unchanged (they take the centroid matrix, not the
    trainer). Reference scale pattern: faiss trains IVF coarse
    quantizers on bounded samples too, but the distributed form is
    what removes the sample-size ceiling when k itself is large."""
    import hashlib

    # Deterministic init: rank by the portable 60-bit sha slice of the
    # tagged id (identical string family to train_pq_codebooks_int's
    # per-subspace init for hash_tag='pq:<j>').
    hx = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.lit(f"{hash_tag}:"), F.col(id_col).cast("string")
                ),
                256,
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    init_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(hx.asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"train_coarse_centroids_int: k={k} exceeds corpus size "
            f"{len(init_rows)}"
        )
    # Python-side hash must agree with the Catalyst ranking (both are
    # the 60-bit slice) — re-sort defensively in exact arithmetic so a
    # Catalyst collation quirk can never reorder equal-hash ids.
    def h(vid: int) -> int:
        return int(
            hashlib.sha256(f"{hash_tag}:{vid}".encode()).hexdigest()[:15],
            16,
        )

    init_rows = sorted(init_rows, key=lambda r: (h(int(r[0])), int(r[0])))
    cents = np.asarray(
        [
            np.floor(np.asarray(r[1], dtype=np.float64) * 1000.0)
            for r in init_rows
        ]
    ).astype(np.int64)

    from recipes_spark.io import scale_partitions

    vecs = scale_partitions(corpus.select(id_col, vec_col)).localCheckpoint(
        eager=True
    )
    sc = corpus.sparkSession.sparkContext
    for _ in range(iters):
        # Per-round book through a Spark broadcast (shipped once per
        # executor, not once per task via the closure) — released
        # after the round's collect since the next round re-broadcasts.
        c_bc = sc.broadcast(cents.copy())

        def partials(batches, _bc=c_bc):
            _c = _bc.value
            kk, dd = _c.shape
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                Xm = np.floor(X * 1000.0).astype(np.int64)
                # Exact norm-expansion kernel: O(batch × k) memory, so
                # k in the tens of thousands costs FLOPs, not an
                # O(batch·k·dim) int64 temp (r13 ADVICE — the broadcast
                # difference was ~1.3 GB per 10k batch at k=256 alone).
                d2 = _d2_int(Xm, _c)
                assign = np.argmin(d2, axis=1)  # first min = lowest c
                sums = np.zeros((kk, dd), dtype=np.int64)
                np.add.at(sums, assign, Xm)
                counts = np.bincount(assign, minlength=kk).astype(np.int64)
                nz = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "c": np.repeat(nz, dd).astype(np.int32),
                        "pos": np.tile(np.arange(dd, dtype=np.int32), len(nz)),
                        "s": sums[nz].reshape(-1),
                        "n": np.repeat(counts[nz], dd),
                    }
                )

        agg = (
            vecs.mapInPandas(partials, "c int, pos int, s long, n long")
            .groupBy("c", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new_cents = cents.copy()  # empty clusters keep previous
        for r in agg:
            # exact floor on ints (Python //), matching the PQ
            # trainer's provably-exact np.floor(sum/n)
            new_cents[int(r["c"]), int(r["pos"])] = int(r["s"]) // int(
                r["n"]
            )
        cents = new_cents
        c_bc.unpersist()
    return cents


def pq_encode_int(
    corpus: DataFrame,
    books_milli: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_milli: np.ndarray | None = None,
    code_bits: int = 4,
    residual: bool = False,
    books_bc=None,
) -> DataFrame:
    """Assign PQ codes against milli-grid integer codebooks
    (train_pq_codebooks_int), emitting (id, codes_packed BIGINT,
    sse_milli2 BIGINT): big-endian ``code_bits``-per-subspace packed
    codes (the x3_pq_codes driver shape) and the EXACT integer squared
    reconstruction error in milli² units — both bit-portable, so the
    full corpus encode hash-matches a SQL replay. One Arrow batch =
    one exact integer distance matrix per subspace (vectorized across
    rows and centroids).

    ``code_bits`` = 4 (nibble, k ≤ 16) or 8 (byte, k ≤ 256 — the faiss
    production default of 8-bit codes, r13 verdict task 1); any width
    with m·code_bits ≤ 63 packs losslessly into the one BIGINT.

    ``coarse_milli`` (an m=1 book's (k, dim) centroid matrix) fuses
    the IVF coarse cell assignment — integer-L2 argmin, lowest index
    on ties — into the same pass as an extra ``__list int`` column:
    one corpus read + Arrow transfer builds the whole IVF-PQ index —
    at 100 TB the index build is a real job and the vector column is
    its dominant byte volume.

    ``residual=True`` (requires coarse_milli) encodes the RESIDUAL
    Xm − C[cell] instead of the raw vector — true faiss IVFPQ:
    residual magnitudes are cell-local, so the same m × k books spend
    their codes on the within-cell geometry and distortion drops;
    the books must then be trained on residuals
    (_train_books_from_milli over Xm − C[cell] of the sample) and the
    query-side ADC tables built per (query, probed cell)."""
    if residual and coarse_milli is None:
        raise ValueError("pq_encode_int: residual=True needs coarse_milli")
    m, k, sub = books_milli.shape
    # Books ride a Spark BROADCAST variable, not the task closure: at
    # the registered knobs the difference is noise (~128 KB), but a
    # production book (k·dim in the tens of MB) pickled into the
    # closure would ship once PER TASK; the broadcast ships once per
    # executor (r14 verdict note on the kNN-graph kernel, applied to
    # the shared encoder). Lifetime: the broadcast lives exactly as
    # long as the returned plan references it — Spark's ContextCleaner
    # reclaims it once the DataFrame is released. A loop that encodes
    # MANY batches against the SAME frozen books (st31's micro-batch
    # advance) should hoist ONE broadcast of (books, coarse) and pass
    # it as ``books_bc`` instead of paying a fresh broadcast per call.
    _bc = books_bc
    if _bc is None:
        _bc = corpus.sparkSession.sparkContext.broadcast(
            (books_milli, coarse_milli)
        )
    else:
        # Driver-side shape checks below run on the ARGUMENTS while
        # executors encode from the broadcast — an inconsistent pair
        # would silently validate one model and encode with another
        # (r15 ADVICE). Shapes + coarse presence must agree.
        bc_books, bc_coarse = _bc.value
        if bc_books.shape != books_milli.shape or (
            (bc_coarse is None) != (coarse_milli is None)
        ) or (
            bc_coarse is not None and bc_coarse.shape != coarse_milli.shape
        ):
            raise ValueError(
                "pq_encode_int: books_bc payload shapes "
                f"(books {bc_books.shape}, coarse "
                f"{None if bc_coarse is None else bc_coarse.shape}) do not "
                f"match the validated arguments (books {books_milli.shape}, "
                "coarse "
                f"{None if coarse_milli is None else coarse_milli.shape})"
            )
    # codes_packed carries code_bits per subspace: at m > 1, k beyond
    # the width would silently corrupt the packing (and every
    # downstream masked unpack in pq_adc_topk_int / ivf_pq_topk_int).
    # train_pq_codebooks_int accepts arbitrary k, so the contract is
    # enforced at the packing boundary. m == 1 is explicitly EXEMPT:
    # with one subspace, codes_packed IS the single code (no shift
    # ever happens), which is how the IVF coarse path serves
    # arbitrarily large books from the distributed trainer.
    if m > 1:
        if k > (1 << code_bits):
            raise ValueError(
                f"pq_encode_int: k={k} codes cannot nibble-pack into "
                f"{code_bits}-bit fields (max {1 << code_bits} "
                "centroids per subspace for this codes_packed layout)"
            )
        if m * code_bits > 63:
            raise ValueError(
                f"pq_encode_int: m={m} subspaces at {code_bits} bits "
                "overflow the signed BIGINT codes_packed column"
            )

    def encode(batches):
        bks, crs = _bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Xm = np.floor(X * 1000.0).astype(np.int64)
            n = len(Xm)
            lists = None
            if crs is not None:
                cd2 = _d2_int(Xm, crs)
                lists = np.argmin(cd2, axis=1)
            # Residual mode quantizes Xm − C[cell]; raw mode Xm itself.
            Em = Xm - crs[lists] if residual else Xm
            codes = np.empty((n, m), dtype=np.int64)
            sse = np.zeros(n, dtype=np.int64)
            for j in range(m):
                S = Em[:, j * sub : (j + 1) * sub]
                d2 = _d2_int(S, bks[j])
                codes[:, j] = np.argmin(d2, axis=1)
                sse += d2[np.arange(n), codes[:, j]]
            packed = np.zeros(n, dtype=np.int64)
            for j in range(m):
                packed = (packed << code_bits) + codes[:, j]
            out = {
                id_col: pdf[id_col].to_numpy(),
                "codes_packed": packed,
                "sse_milli2": sse,
            }
            if lists is not None:
                out["__list"] = lists.astype(np.int32)
            yield pd.DataFrame(out)

    list_ddl = ", __list int" if coarse_milli is not None else ""
    return scale_partitions(corpus.select(id_col, vec_col)).mapInPandas(
        encode, f"{id_col} long, codes_packed long, sse_milli2 long{list_ddl}"
    )


def lsh_planes_int(
    n_tables: int = 8, n_planes: int = 4, dim: int = 64
) -> np.ndarray:
    """±1 hyperplane tables, signs from the portable sha-slice of
    'lsh:<table>:<plane>:<dim>' (odd → +1) — the deterministic,
    SQL-replayable analog of rng.standard_normal hyperplanes. For
    sign-bucket LSH a Rademacher (±1) projection is as good a random
    hyperplane as a Gaussian one (only the direction matters, and
    ±1 directions are uniform enough at dim ≫ n_planes); on the
    integer milli grid the dot products — hence every bucket bit —
    are exact int64."""
    import hashlib

    W = np.empty((n_tables, n_planes, dim), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = int(
                    hashlib.sha256(
                        f"lsh:{t}:{p}:{d}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                W[t, p, d] = 1 if h % 2 == 1 else -1
    return W


def _hyperplane_buckets_int(
    df: DataFrame,
    *,
    W: np.ndarray,
    vec_col: str,
    id_out: str,
    id_col: str,
) -> DataFrame:
    """(id_out, bucket) rows — n_tables integer sign-buckets per
    vector: bucket = table · 2^n_planes + Σ (Σ_d W[t,p,d]·mv_d ≥ 0)
    · 2^p, all int64 milli-grid arithmetic (one integer einsum per
    Arrow batch)."""
    n_tables, n_planes, dim = W.shape

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Xm = np.floor(X * 1000.0).astype(np.int64)
            S = np.einsum("nd,tpd->ntp", Xm, W)  # (n, tables, planes)
            bits = (S >= 0).astype(np.int64)
            weights = (1 << np.arange(n_planes, dtype=np.int64))
            codes = (bits * weights[None, None, :]).sum(axis=2)
            buckets = (
                np.arange(n_tables, dtype=np.int64)[None, :]
                * (1 << n_planes)
                + codes
            )
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    id_out: np.repeat(ids, n_tables),
                    "bucket": buckets.reshape(-1),
                }
            )

    return scale_partitions(df.select(id_col, vec_col)).mapInPandas(
        assign, f"{id_out} long, bucket long"
    )


def lsh_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k over ``n_tables`` hyperplane sketches on the
    INTEGER milli grid with hash-signed ±1 hyperplanes (lsh_planes_int):
    candidates = corpus rows sharing a bucket with the query in ANY
    table. Candidate buckets, the only approximate stage, are exact
    int64 arithmetic and therefore deterministic + SQL-replayable; the
    re-rank is the sequential-fold exact cosine. Bucket rows carry ids
    only, candidates dedupe, vectors re-join for the shortlist. Recall
    grows with n_tables; bucket fan-out is 2^n_planes per table."""
    W = lsh_planes_int(n_tables, n_planes, dim)
    cb = _hyperplane_buckets_int(
        corpus, W=W, vec_col=vec_col, id_out=id_col, id_col=id_col
    )
    qb = _hyperplane_buckets_int(
        queries, W=W, vec_col=query_vec_col, id_out=query_id_col,
        id_col=query_id_col,
    )
    cand_ids = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    return _exact_rerank(
        cand_ids,
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
    )


def ivf_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    sample: int = 2048,
    iters: int = 5,
    coarse_milli: np.ndarray | None = None,
) -> DataFrame:
    """IVF top-k on the INTEGER milli grid: coarse-quantize the corpus
    into ``n_centroids`` inverted lists, probe the ``nprobe`` lists
    nearest each query, exact cosine re-rank inside the probed lists
    only. The coarse quantizer IS the m=1 case of the
    integer PQ trainer (one subspace spanning the whole vector), so
    training, corpus cell assignment (pq_encode_int's packed code =
    the cell id) and the per-query probe ranking are all exact int64
    arithmetic; cell pruning — the only approximation — is therefore
    deterministic and SQL-replayable, and the in-cell re-rank is the
    sequential-fold exact cosine. The coarse metric is milli-grid L2,
    not cosine: for cell PRUNING the two agree on which cells are near
    unless vector norms vary wildly (recall gates re-assert quality on
    this corpus).

    ``coarse_milli`` (a (n_centroids, dim) int64 matrix, e.g. from
    train_coarse_centroids_int's distributed trainer) serves the index
    from an externally trained coarse book instead of the internal
    2048-sample trainer — the trainer→index→search composition
    x3_ivf_distrib_topk registers."""
    if coarse_milli is not None:
        if coarse_milli.shape[0] != n_centroids:
            raise ValueError(
                f"coarse_milli has {coarse_milli.shape[0]} centroids, "
                f"expected n_centroids={n_centroids}"
            )
        books = coarse_milli[None, :, :]
    else:
        books = train_pq_codebooks_int(
            corpus, id_col=id_col, vec_col=vec_col, m=1, k=n_centroids,
            sample=sample, iters=iters,
        )
    collected = _collect_queries(queries, query_id_col, query_vec_col)
    if collected is None:
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    qids, Q = collected
    Qm = np.floor(np.asarray(Q, dtype=np.float64) * 1000.0).astype(np.int64)
    C = books[0]  # (n_centroids, dim)
    qd2 = _d2_int(Qm, C)
    probes = []
    for qi, qid in enumerate(qids):
        order = np.lexsort((np.arange(n_centroids), qd2[qi]))[:nprobe]
        probes.extend((int(qid), int(c)) for c in order)
    spark = corpus.sparkSession
    probe_df = spark.createDataFrame(
        probes, f"{query_id_col} long, __list int"
    )
    assigned = pq_encode_int(
        corpus, books, id_col=id_col, vec_col=vec_col
    ).select(id_col, F.col("codes_packed").cast("int").alias("__list"))
    cand_ids = (
        assigned.join(F.broadcast(probe_df), "__list")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
    )
    return _exact_rerank(
        cand_ids,
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
    )


def pq_adc_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    books_milli: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    refine: int = 4,
    code_bits: int = 4,
) -> DataFrame:
    """Product-quantization asymmetric-distance (ADC) search on the
    INTEGER milli grid — the billion-vector production shape: per-query
    distance table, m-lookup ADC scan over the codes, shortlist,
    exact-cosine re-rank of the shortlist only. The ADC distances are
    exact int64 milli² sums against train_pq_codebooks_int books, so
    the SHORTLIST — the only approximate stage — is bit-deterministic
    and SQL-replayable; with
    the sequential-fold cosine of the re-rank (bit-comparable to
    DuckDB's list_dot_product) the whole query is oracle-checkable.
    The scan reads ONE packed BIGINT per vector (pq_encode_int's
    emission — m·code_bits bits, the honest PQ memory story) and
    unpacks the fields in the kernel. ``code_bits`` must match the
    encode side's layout."""
    m, kc, sub = books_milli.shape
    # Unpacking masks with (1 << code_bits) − 1: a book wider than the
    # field (e.g. an m=1, k>16 coarse book from the distributed
    # trainer fed into a nibble-layout scan) would silently truncate
    # codes and return wrong neighbors — the same corruption class the
    # encode-side guard stops (r13 ADVICE).
    if kc > (1 << code_bits):
        raise ValueError(
            f"pq_adc_topk_int: books carry k={kc} centroids per "
            f"subspace but the scan unpacks {code_bits}-bit fields "
            f"(max {1 << code_bits}) — pass the encode-side code_bits"
        )
    collected = _collect_queries(queries, query_id_col, query_vec_col)
    if collected is None:
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    qids, Q = collected
    Qm = np.floor(np.asarray(Q, dtype=np.float64) * 1000.0).astype(np.int64)
    tables = np.empty((len(Qm), m, kc), dtype=np.int64)
    for j in range(m):
        tables[:, j, :] = _d2_int(
            Qm[:, j * sub : (j + 1) * sub], books_milli[j]
        )
    n_keep = refine * k

    def partial(batches):
        shifts = np.array(
            [code_bits * (m - 1 - j) for j in range(m)], dtype=np.int64
        )
        mask = (1 << code_bits) - 1
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            packed = pdf["codes_packed"].to_numpy(dtype=np.int64)
            codes = (packed[:, None] >> shifts[None, :]) & mask  # (n, m)
            frames = []
            for qi, qid in enumerate(qids):
                dist = tables[qi, np.arange(m)[None, :], codes].sum(axis=1)
                mask = ids != qid
                cids, cd = ids[mask], dist[mask]
                order = np.lexsort((cids, cd))[:n_keep]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: cids[order],
                            query_id_col: qid,
                            "adc_dist": cd[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    coded = pq_encode_int(
        corpus, books_milli, id_col=id_col, vec_col=vec_col,
        code_bits=code_bits,
    ).select(id_col, "codes_packed")
    cand = coded.mapInPandas(
        partial, f"{id_col} long, {query_id_col} long, adc_dist long"
    )
    wq = Window.partitionBy(query_id_col).orderBy("adc_dist", F.col(id_col))
    shortlist = (
        cand.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_keep)
        .select(id_col, query_id_col)
    )
    return _exact_rerank(
        shortlist,
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
    )


def ivf_pq_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 14,
    refine: int = 16,
    m: int = 8,
    k_codes: int = 16,
    sample: int = 2048,
    iters: int = 5,
    code_bits: int = 4,
    coarse_milli: np.ndarray | None = None,
    probe_side: str = "literal",
) -> DataFrame:
    """IVF + PQ/ADC + exact re-rank composed on the INTEGER milli grid
    — the billion-vector plan (coarse cell prune → m-byte ADC scan
    inside probed cells → exact math on the refine·k shortlist), every
    approximate stage exact-integer and therefore
    SQL-replayable. One fused encode pass builds the index (cell +
    packed codes, pq_encode_int coarse_milli); the ADC scan is PURE
    CATALYST: each query ships its (m × k_codes) integer distance
    table as array literals on the broadcast probe row, and the score
    is m element_at lookups on the unpacked code fields — no second
    Python island, whole-stage-codegen all the way to the shortlist
    window.

    ``code_bits`` selects the packed layout (4 = nibble/k ≤ 16, 8 =
    byte/k ≤ 256 — the faiss-default production shape); pq_encode_int
    enforces the packing contract. ``coarse_milli`` serves the coarse
    stage from an externally trained (n_centroids, dim) book — e.g.
    train_coarse_centroids_int's distributed trainer — so the FULL
    production chain (distributed coarse train → fused encode →
    pure-Catalyst ADC probe → exact re-rank) composes with no
    2048-sample ceiling anywhere (r13 verdict task 3). ``probe_side``
    picks the physical ADC shape ('literal' broadcast tables /
    'table' rows / 'auto' — see ivf_pq_search_coded, which this
    wrapper delegates its search tail to; results are bit-identical
    across shapes)."""
    if k_codes > (1 << code_bits):
        raise ValueError(
            f"ivf_pq_topk_int: k_codes={k_codes} exceeds the "
            f"{code_bits}-bit packed field (max {1 << code_bits})"
        )
    if coarse_milli is not None:
        if coarse_milli.shape[0] != n_centroids:
            raise ValueError(
                f"coarse_milli has {coarse_milli.shape[0]} centroids, "
                f"expected n_centroids={n_centroids}"
            )
        coarse = coarse_milli
    else:
        coarse = train_pq_codebooks_int(
            corpus, id_col=id_col, vec_col=vec_col, m=1, k=n_centroids,
            sample=sample, iters=iters,
        )[0]
    books = train_pq_codebooks_int(
        corpus, id_col=id_col, vec_col=vec_col, m=m, k=k_codes,
        sample=sample, iters=iters,
    )
    coded = pq_encode_int(
        corpus, books, id_col=id_col, vec_col=vec_col, coarse_milli=coarse,
        code_bits=code_bits,
    ).select(id_col, "codes_packed", "__list")
    return ivf_pq_search_coded(
        coded,
        corpus,
        queries,
        coarse,
        books,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
        nprobe=nprobe,
        refine=refine,
        code_bits=code_bits,
        probe_side=probe_side,
    )


#: Above this many bytes of per-query ADC distance-table literals the
#: 'auto' probe side flips from broadcast literals to a shuffled probe
#: TABLE — the flattening point SCALE.md adc_table_broadcast measured
#: (linear through Q≈10²; hundreds of MB of literals at Q≈10³–10⁴ is
#: where executors pay real memory per core). 64 MB ≈ Q=570 at the
#: registered m=4 × k=256 × nprobe=14 knobs.
_ADC_LITERAL_MAX_BYTES = 64 << 20


def ivf_pq_search_coded(
    coded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    coarse_milli: np.ndarray,
    books_milli: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    nprobe: int = 14,
    refine: int = 16,
    code_bits: int = 4,
    probe_side: str = "literal",
) -> DataFrame:
    """SERVE IVF-PQ top-k from an ALREADY-ENCODED index — the search
    tail of ivf_pq_topk_int factored out so a committed index artifact
    (plans/ann_index.py: coarse book + PQ books + packed codes trained
    once, snapshot-committed, served many times) runs the identical
    plan as the inline train→encode→search chain. ``coded`` carries
    (id_col, codes_packed, __list) — pq_encode_int's emission, whether
    fresh or re-read through a snapshot manifest.

    ``probe_side`` picks the physical shape of the ADC lookup (r14
    verdict task 3 — both produce BIT-IDENTICAL results, gated in
    tests/test_intent_round15.py):

    - 'literal': each probe row ships its (m × k_codes) integer
      distance table as broadcast array literals; the score is m
      element_at lookups on the unpacked code fields — zero extra
      exchange, whole-stage codegen to the shortlist window. Right
      through Q≈10²–10³ (SCALE.md adc_table_broadcast).
    - 'table': the SAME join shape with tables as ROWS — a
      (query_id, j, code, d2) DataFrame of Q·m·k_codes rows joined on
      (query_id, subspace, code) against the posexploded candidate
      codes, then one (query_id, id) SUM. The table side is data, so
      Spark broadcasts it while small and shuffles it when Q grows —
      the plan that survives Q≈10⁴ query batches.
    - 'auto': 'literal' until the literal payload
      (Q·nprobe·m·k_codes·8 B) crosses _ADC_LITERAL_MAX_BYTES, then
      'table'.

    100 TB: search = one broadcast probe join (cell pruning) + the ADC
    lookup in the chosen shape + a windowed shortlist + exact re-rank
    of refine·k rows per query — never a corpus self-join."""
    if probe_side not in ("literal", "table", "auto"):
        raise ValueError(
            f"ivf_pq_search_coded: unknown probe_side={probe_side!r}"
        )
    m, k_codes, sub_b = books_milli.shape
    n_centroids = coarse_milli.shape[0]
    if k_codes > (1 << code_bits):
        raise ValueError(
            f"ivf_pq_search_coded: books carry k={k_codes} centroids per "
            f"subspace but the scan unpacks {code_bits}-bit fields "
            f"(max {1 << code_bits}) — pass the encode-side code_bits"
        )
    collected = _collect_queries(queries, query_id_col, query_vec_col)
    if collected is None:
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    qids, Q = collected
    if probe_side == "auto":
        payload = len(qids) * nprobe * m * k_codes * 8
        probe_side = "table" if payload > _ADC_LITERAL_MAX_BYTES else "literal"
    Qm = np.floor(np.asarray(Q, dtype=np.float64) * 1000.0).astype(np.int64)
    sub = Qm.shape[1] // m
    qcd2 = _d2_int(Qm, coarse_milli)
    qtab = np.stack(
        [
            _d2_int(Qm[:, j * sub : (j + 1) * sub], books_milli[j])
            for j in range(m)
        ],
        axis=1,
    )  # (Q, m, k_codes)
    spark = corpus.sparkSession
    n_keep = refine * k
    fmask = (1 << code_bits) - 1
    wq = Window.partitionBy(query_id_col).orderBy("adc_dist", F.col(id_col))
    if probe_side == "literal":
        probe_rows = []
        for qi, qid in enumerate(qids):
            cells = np.lexsort((np.arange(n_centroids), qcd2[qi]))[:nprobe]
            tables = [[int(x) for x in qtab[qi, j]] for j in range(m)]
            for c in cells:
                probe_rows.append((int(qid), int(c), *tables))
        t_ddl = ", ".join(f"__t{j} array<long>" for j in range(m))
        probe_df = spark.createDataFrame(
            probe_rows, f"{query_id_col} long, __list int, {t_ddl}"
        )
        adc = sum(
            F.element_at(
                f"__t{j}",
                (
                    F.shiftright(
                        "codes_packed", code_bits * (m - 1 - j)
                    ).bitwiseAND(fmask)
                    + 1
                ).cast("int"),
            )
            for j in range(m)
        )
        shortlist = (
            coded.join(F.broadcast(probe_df), "__list")
            .filter(F.col(id_col) != F.col(query_id_col))
            .withColumn("adc_dist", adc)
            .withColumn("__r", F.row_number().over(wq))
            .filter(F.col("__r") <= n_keep)
            .select(id_col, query_id_col)
        )
    else:
        probe_rows = []
        table_rows = []
        for qi, qid in enumerate(qids):
            cells = np.lexsort((np.arange(n_centroids), qcd2[qi]))[:nprobe]
            probe_rows.extend((int(qid), int(c)) for c in cells)
            # ONE row per query carrying its m×k_codes table flattened
            # row-major; the (query, subspace, code, d2) long form is
            # posexploded on EXECUTORS — the driver materializes Q
            # arrays, not Q·m·k_codes Python tuples (r15 ADVICE: at
            # the Q≈10⁴ batches this shape exists for, the old literal
            # long-form was ~10M driver tuples).
            table_rows.append(
                (int(qid), [int(x) for x in qtab[qi].ravel()])
            )
        probe_df = spark.createDataFrame(
            probe_rows, f"{query_id_col} long, __list int"
        )
        tab_df = (
            spark.createDataFrame(
                table_rows, f"{query_id_col} long, __tab array<long>"
            )
            .select(
                query_id_col, F.posexplode("__tab").alias("__i", "__d2")
            )
            .select(
                query_id_col,
                F.expr(f"CAST(__i div {k_codes} AS INT)").alias("__j"),
                F.expr(f"CAST(__i % {k_codes} AS INT)").alias("__c"),
                "__d2",
            )
        )
        codes_arr = F.array(
            *[
                F.shiftright("codes_packed", code_bits * (m - 1 - j))
                .bitwiseAND(fmask)
                .cast("int")
                for j in range(m)
            ]
        )
        cand = (
            coded.join(F.broadcast(probe_df), "__list")
            .filter(F.col(id_col) != F.col(query_id_col))
            .select(
                id_col,
                query_id_col,
                F.posexplode(codes_arr).alias("__j", "__c"),
            )
        )
        shortlist = (
            cand.join(tab_df, [query_id_col, "__j", "__c"])
            .groupBy(query_id_col, id_col)
            .agg(F.sum("__d2").alias("adc_dist"))
            .withColumn("__r", F.row_number().over(wq))
            .filter(F.col("__r") <= n_keep)
            .select(id_col, query_id_col)
        )
    return _exact_rerank(
        shortlist,
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
    )


def ivf_pq_residual_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 14,
    refine: int = 16,
    m: int = 4,
    k_codes: int = 256,
    sample: int = 2048,
    iters: int = 5,
    code_bits: int = 8,
    coarse_milli: np.ndarray | None = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ — the true faiss IVFPQ composition: the PQ
    books quantize the RESIDUAL x − C[cell(x)] instead of the raw
    vector, so the m × k_codes codes spend their precision on the
    within-cell geometry (coarse structure is already carried by the
    cell id) and reconstruction distortion drops at identical index
    bytes. All integer milli-grid arithmetic, end-to-end
    SQL-replayable:

    - coarse: externally trained book (``coarse_milli``, e.g. the
      distributed trainer) or the internal m=1 sampled trainer;
    - book training: the SAME deterministic id-prefix sample, cells
      assigned and residuals formed driver-side in exact int64, then
      _train_books_from_milli — bit-identical k-means arithmetic to
      the raw trainer, different input vectors;
    - index: ONE fused encode pass (pq_encode_int residual=True):
      cell id + byte-packed residual codes + exact residual SSE;
    - search: per (query, probed cell) ADC tables — the faiss detail
      residual encoding forces: the query's table against cell L is
      built from (Qm − C[L]), so each probe row carries its OWN m
      table arrays (nprobe × m × k_codes int64 per query, measured in
      SCALE.md adc_table_broadcast) — then the pure-Catalyst ADC scan
      joins on (query, cell) and unpacks code fields exactly as the
      raw path;
    - exact round-4 cosine re-rank of the refine·k shortlist on RAW
      vectors (residuals exist only inside the index).

    100 TB: identical exchanges to ivf_pq_topk_int — residual
    formation is row-local inside the one encode pass, and the
    query-side tables grow by the nprobe factor the probe rows
    already carried."""
    if k_codes > (1 << code_bits):
        raise ValueError(
            f"ivf_pq_residual_topk_int: k_codes={k_codes} exceeds the "
            f"{code_bits}-bit packed field (max {1 << code_bits})"
        )
    if coarse_milli is not None:
        if coarse_milli.shape[0] != n_centroids:
            raise ValueError(
                f"coarse_milli has {coarse_milli.shape[0]} centroids, "
                f"expected n_centroids={n_centroids}"
            )
        coarse = coarse_milli
    else:
        coarse = train_pq_codebooks_int(
            corpus, id_col=id_col, vec_col=vec_col, m=1, k=n_centroids,
            sample=sample, iters=iters,
        )[0]
    # Train the books on the SAMPLE's residuals — same deterministic
    # lowest-id prefix and arithmetic as train_pq_codebooks_int, with
    # the cell assignment + subtraction applied before k-means.
    srows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    if not srows:
        raise ValueError("ivf_pq_residual_topk_int: empty training sample")
    sids = [int(r[0]) for r in srows]
    Sm = np.floor(
        np.asarray(
            [np.asarray(r[1], dtype=np.float64) for r in srows]
        )
        * 1000.0
    ).astype(np.int64)
    s_cells = np.argmin(_d2_int(Sm, coarse), axis=1)
    books = _train_books_from_milli(
        sids, Sm - coarse[s_cells], m=m, k=k_codes, iters=iters
    )
    collected = _collect_queries(queries, query_id_col, query_vec_col)
    if collected is None:
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    qids, Q = collected
    Qm = np.floor(np.asarray(Q, dtype=np.float64) * 1000.0).astype(np.int64)
    sub = Qm.shape[1] // m
    qcd2 = _d2_int(Qm, coarse)
    probe_rows = []
    for qi, qid in enumerate(qids):
        cells = np.lexsort((np.arange(n_centroids), qcd2[qi]))[:nprobe]
        for c in cells:
            qr = Qm[qi] - coarse[c]
            tables = [
                [
                    int(x)
                    for x in _d2_int(
                        qr[None, j * sub : (j + 1) * sub], books[j]
                    )[0]
                ]
                for j in range(m)
            ]
            probe_rows.append((int(qid), int(c), *tables))
    spark = corpus.sparkSession
    t_ddl = ", ".join(f"__t{j} array<long>" for j in range(m))
    probe_df = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, __list int, {t_ddl}"
    )
    coded = pq_encode_int(
        corpus, books, id_col=id_col, vec_col=vec_col, coarse_milli=coarse,
        code_bits=code_bits, residual=True,
    ).select(id_col, "codes_packed", "__list")
    fmask = (1 << code_bits) - 1
    adc = sum(
        F.element_at(
            f"__t{j}",
            (
                F.shiftright(
                    "codes_packed", code_bits * (m - 1 - j)
                ).bitwiseAND(fmask)
                + 1
            ).cast("int"),
        )
        for j in range(m)
    )
    n_keep = refine * k
    wq = Window.partitionBy(query_id_col).orderBy("adc_dist", F.col(id_col))
    shortlist = (
        coded.join(F.broadcast(probe_df), "__list")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("adc_dist", adc)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_keep)
        .select(id_col, query_id_col)
    )
    return _exact_rerank(
        shortlist,
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    shortlist: int = 50,
    lambda_tenths: int = 7,
    shortlist_df: DataFrame | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversity rerank (Carbonell &
    Goldstein 1998) — the standard post-retrieval step that trades
    relevance against redundancy: greedily pick the candidate
    maximizing λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s).

    Architecture note, deliberate: retrieval (brute/IVF-PQ/LSH) is the
    distributed stage; MMR operates on the RETRIEVED SHORTLIST
    (Q × `shortlist` rows) and is inherently sequential-greedy, so it
    runs driver-side on the collected shortlist + its vectors —
    bounded by construction, exactly where every production vector
    store runs it.

    PORTABLE SCORING (round 12 — what made the query oracleable):
    score = λ_tenths·simq_bp − (10−λ_tenths)·red_bp, integers, ties to
    the lowest id, where
    - simq_bp = the shortlist's OWN round(cos, 4) relevance in basis
      points — the identical quantization brute_force_topk ranks by,
      so the first greedy pick equals the plain top-1 EXACTLY (the
      rank-1 contract), and cross-engine parity rides the already
      attested round-4 cosine arithmetic;
    - red_bp = floor(10⁴ · cos_milli(a, b)) on the integer MILLI-GRID
      vectors: dot and norms are exact int64 sums, so the only doubles
      are sqrt/divide/multiply of integer-derived values through ONE
      fixed op sequence — both engines compute the identical value,
      no summation-order surface (the old form floored UNROUNDED
      float cosines at 1e-6, whose ulp-level engine differences sat
      right on boundary density 100× higher)."""
    # ``shortlist_df`` swaps the retrieval stage: any (query_id, id,
    # cosine_sim round-4) ranked list — e.g. ivf_pq_search_coded over a
    # COMMITTED index — re-ranks through the identical greedy
    # arithmetic, making diversity a store-serving capability instead
    # of a brute-force-only tail (r15 verdict task 4).
    cand = (
        shortlist_df
        if shortlist_df is not None
        else brute_force_topk(
            corpus,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            k=shortlist,
        )
    )
    rows = cand.select(query_id_col, id_col, "cosine_sim").collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r[query_id_col], {})[r[id_col]] = int(
            round(r["cosine_sim"] * 10000)
        )
    need_ids = sorted({i for ids in by_q.values() for i in ids})
    spark = corpus.sparkSession
    vec_rows = (
        corpus.join(
            F.broadcast(
                spark.createDataFrame([(i,) for i in need_ids], f"{id_col} long")
            ),
            id_col,
        )
        .select(id_col, vec_col)
        .collect()
    )
    import math

    milli = {
        r[0]: [math.floor(float(x) * 1000.0) for x in r[1]] for r in vec_rows
    }
    # max(·, 1): a vector whose every component floors to 0 on the
    # milli grid has integer norm 0 — its redundancy against anything
    # is defined as the 0-numerator/unit-denominator value 0 instead
    # of a ZeroDivisionError (the float form clamped at 1e-300; the
    # oracle's pred CTE applies the identical greatest(n2, 1)).
    norms2 = {i: max(sum(v * v for v in m), 1) for i, m in milli.items()}

    def red_bp(a: int, b: int) -> int:
        dm = sum(x * y for x, y in zip(milli[a], milli[b]))
        return math.floor(
            10000.0 * dm / (math.sqrt(norms2[a]) * math.sqrt(norms2[b]))
        )

    out = []
    for q, simq in sorted(by_q.items()):
        selected: list = []
        remaining = sorted(simq)
        # Incremental MMR: carry each candidate's running max
        # redundancy and fold in only the newly selected item —
        # O(k·shortlist) pair sims, not O(k²·shortlist). None (not 0)
        # before the first fold: red_bp can be NEGATIVE (anti-aligned
        # vectors), and a zero floor would silently clamp the max —
        # the first pick has NO redundancy term at all.
        red: dict = dict.fromkeys(remaining, None)
        while remaining and len(selected) < k:
            best_id, best_score = None, None
            for i in remaining:
                penalty = (10 - lambda_tenths) * red[i] if red[i] is not None else 0
                score = lambda_tenths * simq[i] - penalty
                # Deterministic: strict improvement wins; ties keep the
                # LOWEST id (remaining is sorted ascending).
                if best_score is None or score > best_score:
                    best_id, best_score = i, score
            selected.append(best_id)
            remaining.remove(best_id)
            out.append((int(q), int(best_id), int(best_score), len(selected)))
            for i in remaining:
                r2 = red_bp(i, best_id)
                red[i] = r2 if red[i] is None else max(red[i], r2)
    return spark.createDataFrame(
        out, f"{query_id_col} long, {id_col} long, mmr_score long, rank int"
    )
