"""Deduplication operators (SURVEY.md §2.12 X1/X2 + north-star): exact,
MinHash+LSH, SimHash, n-gram Jaccard. Designed for 100 TB:

- Exact dedup is a hash-groupBy (one shuffle on the digest).
- MinHash+LSH avoids the O(n²) pairwise comparison: signatures and
  band hashes are computed row-local (one JVM-side xxhash64 per
  shingle, then a vectorized Arrow/numpy kernel — no explode of the
  corpus, no pre-join shuffle), banding turns near-dup search into an
  equi-join on the band hash — candidates per bucket only — and the
  exact Jaccard verify runs only on candidates.
- SimHash gives a 64-bit row-local sketch; hamming-distance candidate
  pairing joins on band bytes of the sketch.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from recipes_spark.functions.text import word_shingles
from recipes_spark.io import scale_partitions


def _splitmix64(x):
    """SplitMix64 finalizer (Steele et al., public domain) over a numpy
    uint64 array — the bijective mixer behind the banding kernel's lane
    permutations. Vectorized, wraparound-exact."""
    import numpy as np

    z = x.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X1: keep the lowest-id row per sha256(text). One shuffle on the
    256-bit digest — uniform keys, no skew, fully streamable at scale."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _band_rows(
    df: DataFrame,
    *,
    id_col: str,
    set_col: str,
    num_hashes: int,
    bands: int,
    carry_cols: tuple[str, ...] = (),
    portable: bool = False,
) -> DataFrame:
    """(id, bhash) banding rows, ROW-LOCAL: one xxhash64 per shingle
    JVM-side, then every lane minimum and band hash computed in one
    Arrow-batched numpy kernel — zero exchange before the band join.

    Genealogy (both prior shapes measured at sf0.1): one groupBy(id)
    with `num_hashes` min-agg columns generates a Janino method whose
    compile dominates runtime (5-20 s/run); the round-3 two-narrow-agg
    form was a stable ~2 s but paid a num_hashes× explode through the
    partial aggregate and ran at interpreter speed until the JVM's JIT
    warmed — 6-8 s cold, which is what a bounded-run benchmark (and a
    short-lived job) actually observes. MinHash is row-local math, so
    this version keeps it on the row: per Arrow batch the shingle
    hashes are flattened once, each lane applies a splitmix64-finalized
    xor-permutation and takes per-row minima via minimum.reduceat
    (vectorized, no JIT ramp), and each band folds its `r` lane minima
    with a lane-keyed remix + XOR — the xor equals iff the ordered
    lane-min tuple equals (up to ~2^-64), exactly the banding-collision
    condition. Peak memory is one flat-batch temp per lane, not a
    (lanes × batch) matrix.

    Scale shape: NO shuffle here at all (the round-3 form shuffled
    per-lane minima); the only exchange in a near-dup pipeline is the
    downstream (bhash) equi-join. Documents with an EMPTY set column
    produce no banding rows (same exclusion as the explode-based forms).
    Set elements must be non-null (xxhash64 of the element is taken
    JVM-side; a null element would surface as a null lane hash).

    ``portable=True`` swaps the per-element base hash from xxhash64 to
    the repo's portable sha-slice family (60-bit
    ``conv(substr(sha2(s, 256), 1, 15), 16, 10)`` — the x2_substring
    anchor convention), which DuckDB replays bit-for-bit; combined
    with the DETERMINISTIC lane/band keys and the splitmix64 mixer
    (exactly expressible in DuckDB HUGEINT arithmetic), the ENTIRE
    banding stage — lane minima, band fold, candidate set — becomes
    oracle-replayable, converting MinHash-LSH from a rows-only check
    to a full value-hash one. Cost: one sha256 per element instead of
    one xxhash64 (~3× the hash arithmetic on a scan that is usually
    I/O- or shingle-bound); keep the default for throughput-critical
    paths whose candidate set is verified downstream anyway."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    carry = list(carry_cols)

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # Deterministic per-lane xor keys for the permutation and the band
    # combine: fixed seeds → identical bhash values across batches,
    # runs, and the streaming accumulated index (st12).
    lane_keys = _splitmix64(
        np.arange(1, num_hashes + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    )
    band_keys = _splitmix64(lane_keys ^ np.uint64(0xA5A5A5A55A5A5A5A))

    # No `size(__hs) > 0` Catalyst filter here: a filter on the transform
    # output gets pushed below the projection and the whole shingle+hash
    # expression tree evaluates TWICE per row (once in the Filter, once
    # in the Project — verified in the executed plan). Empty sets are
    # skipped inside the kernel instead, same exclusion semantics.
    if portable:
        def _elem_hash(s):
            return F.conv(
                F.substring(F.sha2(s, 256), 1, 15), 16, 10
            ).cast("long")
    else:
        def _elem_hash(s):
            return F.xxhash64(s)

    base = df.select(
        id_col,
        *carry,
        F.transform(set_col, _elem_hash).alias("__hs"),
    )

    out_schema = StructType(
        [base.schema[id_col]]
        + [base.schema[c] for c in carry]
        + [StructField("bhash", LongType())]
    )
    out_cols = [id_col, *carry]

    def bands_kernel(batches):
        for pdf in batches:
            # None = NULL set column (e.g. null text upstream): same
            # exclusion as an empty set, matching the explode-based
            # forms which produced no rows for NULL arrays.
            arrs = [
                np.asarray(a if a is not None else (), dtype=np.int64)
                for a in pdf["__hs"]
            ]
            keep = np.fromiter((len(a) > 0 for a in arrs), count=len(arrs), dtype=bool)
            if not keep.all():
                pdf = pdf[keep]
                arrs = [a for a in arrs if len(a)]
            n = len(arrs)
            if n == 0:
                continue
            lens = np.fromiter((len(a) for a in arrs), count=n, dtype=np.int64)
            offs = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            flat = np.concatenate(arrs).view(np.uint64)
            mins = np.empty((num_hashes, n), dtype=np.uint64)
            for lane in range(num_hashes):
                mins[lane] = np.minimum.reduceat(
                    _splitmix64(flat ^ lane_keys[lane]), offs
                )
                # remix in place: band equality must hinge on the ordered
                # lane-min tuple, so each lane re-keys its min before XOR
                mins[lane] = _splitmix64(mins[lane] ^ band_keys[lane])
            bh = np.bitwise_xor.reduce(mins.reshape(bands, r, n), axis=1)
            out = {c: np.repeat(pdf[c].to_numpy(), bands) for c in out_cols}
            out["bhash"] = bh.T.reshape(-1).view(np.int64)
            yield pd.DataFrame(out)

    # Eager materialization, because every caller SELF-JOINS the banding
    # rows: without it the whole pipeline (shingle scan → xxhash64 →
    # kernel) executes once per join side — ReuseExchange does not
    # collapse the two sides of a Python map node (verified: two full
    # Exchange subtrees in the executed plan). The checkpointed rows are
    # the narrow (id, carry, bhash) set — num_docs × bands rows, no
    # payload — so executor storage is bounded; at 100 TB stage them to
    # a table instead, exactly like the CC edge checkpoint below.
    return base.mapInPandas(bands_kernel, out_schema).localCheckpoint(eager=True)


def band_hashes(
    df: DataFrame,
    *,
    id_col: str,
    set_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    carry_cols: tuple[str, ...] = (),
    portable: bool = False,
) -> DataFrame:
    """(id, *carry_cols, bhash) MinHash banding rows from a string-array
    column — the candidate-generation stage shared by every Jaccard
    near-dup verify.

    A pair with Jaccard j collides in ANY band with probability
    1-(1-j^r)^b (r = num_hashes/bands); the 128/32 defaults give miss
    ≈ (1-0.8^4)^32 ≈ 5e-8 at j=0.8, i.e. recall-complete in practice
    for a 0.8-threshold verify.

    When the downstream pair-filter includes blocking-key equality
    (same language, same source, …), pass those keys as `carry_cols`
    and include them in the candidate join: banding's s-curve admits
    every pair above ≈ (1/bands)^(1/r) ≈ 0.42 Jaccard, so on a corpus
    with high baseline similarity the bhash join alone degenerates
    toward all-pairs; blocking bounds each join group by the block
    size instead. Results are EXACTLY unchanged — the equality filter
    moves from post-verify to candidate generation."""
    return _band_rows(
        df,
        id_col=id_col,
        set_col=set_col,
        num_hashes=num_hashes,
        bands=bands,
        carry_cols=carry_cols,
        portable=portable,
    )


def jaccard_verify(
    cand: DataFrame,
    sets: DataFrame,
    *,
    id_col: str = "doc_id",
    set_col: str = "s",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact set-Jaccard verify over candidate (id_a, id_b) pairs: join
    each side's set array back from `sets` and keep pairs with Jaccard
    ≥ threshold, emitting (id_a, id_b, jaccard rounded to 4 digits).

    The ONE definition of the near-dup verify contract — shared by the
    batch (near_dup_wordset) and streaming (st12_stream_neardup) paths
    so threshold/rounding/join semantics cannot drift between them.

    Join shape: the first-join result (candidate-pair-sized — one set
    array attached per surviving pair) is broadcast-hinted as the
    BUILD side of the second join, so the corpus-sized `sets` frame
    only ever STREAMS — it is never shuffled by the verify at any
    scale. Callers whose candidate set is bounded (every banding
    consumer) should pass ``F.broadcast(cand)`` for the same property
    on the first join; an unbounded candidate set can omit it and the
    planner shuffles the pairs, not the sets."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("__sa"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("__sb"))
    jac = F.size(F.array_intersect("__sa", "__sb")) / F.size(
        F.array_union("__sa", "__sb")
    )
    return (
        F.broadcast(cand.join(a, "id_a"))
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    rare_df_max: int = 10,
    threshold: float = 0.9,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Subset-containment near-dups: pairs where the SMALLER document's
    shingle set is ≥ `threshold` contained in the larger's —
    |Sa ∩ Sb| / min(|Sa|, |Sb|). Symmetric Jaccard misses these when the
    lengths differ (a doc quoted inside a 10× longer one has Jaccard
    ≈ 0.1 but containment ≈ 1.0), and they are exactly the
    quote/boilerplate/wrapper duplicates a training corpus wants found.

    Candidate generation blocks on RARE shingles: a shingle appearing in
    ≤ rare_df_max documents (within the blocking keys) is a candidate
    key; documents sharing one become a pair to verify. Frequent
    shingles ("in the course of") generate no candidates, so the join
    fan-out per gram is bounded by rare_df_max² — no all-pairs blow-up.
    This is a recall heuristic with a sharp guarantee: a contained doc
    whose shared shingles are ALL high-frequency is missed; in practice
    contained text carries the containee's rare shingles verbatim.
    Containment is reported in floor basis points so both engines
    compute the identical integer (same IEEE divide/multiply/floor).

    100 TB: two narrow shuffles (gram df count, candidate equi-join on
    gram) over (id, gram) rows — never the corpus; the verify join
    carries shingle arrays for candidate ids only. The shingle table is
    computed ONCE — scale_partitions fans the (possibly single-split)
    input across cores before the CPU-heavy shingling, and the eager
    localCheckpoint stops the three consumers (gram explode, both
    verify sides) from re-running it; at 100 TB swap the checkpoint for
    a persisted/staged table of (id, blocks, shingles)."""
    blocks = list(block_cols)
    sets = (
        scale_partitions(
            df.select(F.col(id_col).alias("__id"), *blocks, text_col)
        )
        .select(
            "__id",
            *blocks,
            word_shingles(text_col, shingle_n).alias("__s"),
        )
        .localCheckpoint(eager=True)
    )
    grams = sets.select("__id", *blocks, F.explode("__s").alias("__g"))
    rare = (
        grams.groupBy("__g", *blocks)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= rare_df_max)
        .select("__g", *blocks)
    )
    rare_grams = grams.join(rare, ["__g", *blocks])
    a = rare_grams.select(
        F.col("__id").alias("id_a"), *[F.col(c) for c in blocks], "__g"
    )
    b = rare_grams.select(
        F.col("__id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in blocks],
        F.col("__g").alias("__gb"),
    )
    cond = [a["__g"] == b["__gb"]] + [
        a[c] == b[f"__b_{c}"] for c in blocks
    ]
    cand = (
        a.join(b, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    cont = F.size(F.array_intersect("__sa", "__sb")) / F.least(
        F.size("__sa"), F.size("__sb")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment_bp", F.floor(cont * 10000).cast("long"))
        .filter(F.col("containment_bp") >= int(threshold * 10000))
        .select("id_a", "id_b", "containment_bp")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    portable: bool = False,
) -> DataFrame:
    """X2: near-duplicate pairs (id_a < id_b) with exact shingle-Jaccard
    ≥ threshold, found via MinHash banding.

    Plan shape: signature projection (narrow) → explode to `bands` rows
    per doc → self-equi-join on (band, band_hash) → distinct candidate
    pairs → exact Jaccard verify on the candidates only. At 100 TB the
    join key (band_hash) is uniform 64-bit, so the shuffle is balanced;
    banding parameters trade recall vs candidate volume (b=16, r=4 ⇒
    s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5).
    """
    # SHARED-SCAN FUSION (guide §2.4/§8: tokenize once, decide on
    # lightweight proxies, re-attach cheaply): the shingle projection
    # materializes ONCE as a doc-keyed store that feeds BOTH banding
    # and the exact verify. Repartition BEFORE shingling so the
    # CPU-heavy tokenization uses every core even on a single-split
    # input. The r16 shape re-SCANNED the corpus and re-tokenized the
    # candidate rows for the verify (a second full corpus read at any
    # scale, plus a third materialization barrier); now the corpus is
    # scanned and tokenized exactly once per run. The store holds
    # (id, shingle array) — corpus-sized; at 100 TB stage it to a
    # table instead of a localCheckpoint (the tokenization is the
    # expensive step and every near-dup consumer — banding, verify,
    # CC grouping — reuses it), the containment_pairs convention.
    shingled = (
        scale_partitions(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        )
        .select("__id", word_shingles("__t", shingle_n).alias("__sh"))
        .localCheckpoint(eager=True)
    )

    # Banding carries ONLY (id, bhash) into the candidate shuffle — the
    # shingle arrays (the wide payload) never enter it. At 100 TB this
    # is the difference between shuffling ids and shuffling the corpus
    # 16×. Signature+banding run in _band_rows' row-local numpy kernel
    # — see its docstring for the genealogy.
    banded = _band_rows(
        shingled,
        id_col="__id",
        set_col="__sh",
        num_hashes=num_hashes,
        bands=bands,
        portable=portable,
    )

    # Single consumer now (the verify chain below), so the pair set
    # needs no materialization of its own — the r16 checkpoint existed
    # because the candidate-id broadcast AND the verify both read it.
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "bhash")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # Verify joins the STORE — no re-scan, no re-tokenize. Broadcast
    # hints pin the candidate-proportional frames as the BUILD sides,
    # so the corpus-sized store only ever STREAMS through the two hash
    # joins and is never shuffled by the verify (the scale property
    # the r16 candidate-id semi-join bought, kept without the extra
    # corpus read). Candidate sets outgrowing the broadcast cap should
    # drop the hints and let the planner shuffle the PAIRS, not the
    # store.
    sh_a = shingled.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")
    )
    sh_b = shingled.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        F.broadcast(F.broadcast(cand).join(sh_a, "id_a"))
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Dedup-group assignment: min-label propagation to a fixpoint over
    the near-dup pair graph. Returns DataFrame[node, component] where
    component = min node id reachable from `node` (isolated nodes map to
    themselves) — the canonical-survivor id of each duplicate cluster.

    ``initial_labels`` (DataFrame[node, component]) seeds the
    propagation instead of the identity labeling — the INCREMENTAL
    form: pass a previous run's output (new nodes default to their own
    id) and the fixpoint is provably the same as a full recompute
    (each seed label is a node id inside its own component, and min
    propagation is confluent: any upper-bound seed within the
    component converges to the component minimum) while rounds shrink
    to roughly the diameter of the NEW structure, because old
    components are already collapsed to their minimum.

    PRECONDITION: every edge endpoint must appear in `nodes`. The
    union+min round materializes label rows for any endpoint it sees,
    so an out-of-set endpoint would (a) gain an output row of its own
    and (b) relay labels between its neighbors — and if its id is the
    component minimum, the "canonical survivor" would not be a `nodes`
    row at all. Callers derive edges from the node set (pair output of
    the banding stages), so this holds by construction; it is a
    contract, not an incidental detail.

    This is the stage that turns X2 pair output into droppable rows:
    keep one doc per component. Iterative (no SQL equivalent in Spark;
    the DuckDB oracle uses a recursive CTE): each round joins labels to
    edges, takes the min neighbor label, and stops when no label
    changed. Rounds = graph diameter; dedup clusters are near-cliques,
    so 2-3 rounds in practice. Per round: one shuffle on node id +
    one on src — both uniform keys. localCheckpoint truncates the
    lineage so plans don't grow with iterations (at 100 TB use a
    reliable checkpoint dir instead). For adversarial long-chain graphs,
    swap in large-star/small-star (Kiveris et al.) — same contract.
    """
    # Materialize the (usually expensive) edge plan ONCE, before the
    # symmetrizing union references it twice and before the loop joins
    # it every round: without this checkpoint the full upstream
    # candidate-generation (e.g. MinHash banding + Jaccard verify)
    # re-executes 2× for the union and once more per round.
    e0 = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).localCheckpoint(eager=True)
    und = (
        e0.union(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if initial_labels is not None:
        seeds = initial_labels.select(
            F.col("node").alias("n"), F.col("component").alias("__seed")
        )
        labels = (
            nodes.select(F.col(node_col).alias("n"))
            .join(seeds, "n", "left")
            .select(
                "n", F.coalesce("__seed", F.col("n")).alias("comp")
            )
            .localCheckpoint(eager=True)
        )
    else:
        labels = nodes.select(
            F.col(node_col).alias("n"), F.col(node_col).alias("comp")
        ).localCheckpoint(eager=True)

    def label_sig(df: DataFrame) -> int:
        # Labels only ever DECREASE, so the xor-hash of (n, comp)
        # changes whenever any label moves — fixpoint ⟺ signature
        # stable. (A plain sum(comp) signature would risk silent
        # precision loss at corpus scale; same construction as
        # connected_components_star's edge signature.)
        return int(
            df.agg(
                F.coalesce(F.expr("bit_xor(xxhash64(n, comp))"), F.lit(0)).alias(
                    "h"
                )
            ).first()["h"]
        )

    sig = label_sig(labels)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # One round = a node's new label is min(own, neighbors'): the
        # union-then-min form needs ONE join + ONE groupBy per round
        # (the join-neighbor-min-then-rejoin form costs an extra join
        # shuffle and a separate changed-count pass).
        contrib = und.join(labels, und.d == labels.n).select(
            F.col("s").alias("n"), "comp"
        )
        labels = (
            labels.unionByName(contrib)
            .groupBy("n")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        new_sig = label_sig(labels)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        warnings.warn(
            f"connected_components hit max_iter={max_iter} before the "
            "label-propagation fixpoint (graph diameter exceeds max_iter); "
            "component labels may be wrong — raise max_iter or switch to "
            "large-star/small-star for long-chain graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        # Diagnostic out-param (stress probes / SCALE.md measurements):
        # rounds-to-fixpoint is the scale-critical number for an
        # iterative op, and it is invisible from the returned plan.
        stats["rounds"] = rounds
        stats["converged"] = converged
    return labels.select(F.col("n").alias(node_col), F.col("comp").alias("component"))


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the adversarial-graph-safe scale path. Same contract
    as connected_components: DataFrame[node, component] with
    component = min reachable id.

    Label propagation needs O(diameter) rounds — fine for near-clique
    dedup clusters, quadratic-work-prone on long chains. The star
    rounds instead rewire edges toward each neighborhood's minimum:
      large-star: every neighbor v > u attaches to min(Γ(u) ∪ {u})
      small-star: every neighbor v ≤ u attaches to min(Γ(u) ∪ {u})
    which contracts any graph in O(log² n) rounds (O(log n) in
    practice), independent of diameter. Each half-round is one
    groupBy(min) + one join on the node key — uniform-key shuffles of
    the edge list, never materializing neighborhoods as arrays.
    Convergence = (count, hash-sum) of the oriented edge set stable;
    at the fixpoint the edges form stars (child → component min).
    localCheckpoint truncates lineage per round (reliable checkpoint
    dir at cluster scale)."""
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def edge_sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["c"]), int(row["h"])

    sig = edge_sig(e)
    converged = e.isEmpty()
    rounds = 0
    for _ in range(max_iter):
        if converged:
            break
        rounds += 1
        # Large-star: symmetrize, attach strictly-greater neighbors to
        # the neighborhood min.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("minv"))
        m = F.least(F.col("u"), F.col("minv"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: orient toward the smaller endpoint, attach every
        # smaller neighbor (and u itself) to the neighborhood min.
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        omins = oriented.groupBy("u").agg(F.min("v").alias("minv"))
        small = (
            oriented.join(omins, "u")
            .select(
                F.explode(F.array(F.col("v"), F.col("u"))).alias("u"),
                F.col("minv").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = edge_sig(small)
        e = small
        if new_sig == sig:
            converged = True
        sig = new_sig
    if not converged:
        warnings.warn(
            f"connected_components_star hit max_iter={max_iter} before the "
            "edge-set fixpoint; component labels may be wrong",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        # See connected_components: rounds-to-fixpoint for SCALE probes.
        stats["rounds"] = rounds
        stats["converged"] = converged
    # At the fixpoint e holds (child, root) star edges; roots and
    # isolated nodes label themselves.
    return nodes.select(F.col(node_col).alias("n")).join(
        e.select(F.col("u").alias("n"), F.col("v").alias("__root")), "n", "left"
    ).select(
        F.col("n").alias(node_col),
        F.coalesce(F.col("__root"), F.col("n")).alias("component"),
    )


SIMHASH_BITS = 60


def simhash_sketch(
    df: DataFrame, *, id_col: str, text_col: str, shingle_n: int = 2
) -> DataFrame:
    """(id, sketch) — SimHash as ONE BIGINT: majority vote per bit
    position over the PORTABLE 60-bit sha-slice hash of each shingle
    (``conv(substr(sha2(s, 256), 1, 15), 16, 10)`` — the same family
    as the substring-dedup anchors and the portable MinHash base), bit
    b set iff more shingle hashes have bit b set than clear. 60 bits
    instead of 64 (the sha-slice fits signed BIGINT with headroom);
    the family is chosen so a SQL oracle can replay the ENTIRE sketch
    — votes, majority, band split, hamming — value-exactly (round 12;
    the xxhash64-seeded form was permanently rows-only).

    Same two-narrow-agg shape as MinHash banding (_band_rows) and for
    the same reason: the row-local form (64 HOF aggregate expressions
    per row) evaluates interpreted per element — measured 53 s at sf0.1
    vs ~2 s for this plan. Stage 1 counts set bits per (id, bit) with
    map-side combine; stage 2 folds the 64 majority votes into the
    sketch with a single sum of distinct powers of two.

    Documents whose shingle set is EMPTY (text shorter than the shingle
    width) produce no lanes and are excluded from the output — they
    cannot be near-dup candidates. (The row-local form gave them an
    all-zero sketch, silently pairing every empty/short doc at hamming
    0; exclusion is the intended semantics — route empty docs to an
    exact-dedup pass instead.)"""
    shingled = scale_partitions(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    ).select("__id", word_shingles("__t", shingle_n).alias("__sh"))
    lanes = shingled.select(
        "__id",
        F.explode(
            F.transform(
                "__sh",
                lambda s: F.conv(
                    F.substring(F.sha2(s, 256), 1, 15), 16, 10
                ).cast("long"),
            )
        ).alias("__h"),
    ).select(
        "__id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("__bit"),
        "__h",
    )
    # shiftright by the bit COLUMN (shiftright(col, int) only takes a
    # literal int in the DSL) — use expr for the column-shift form.
    votes = lanes.groupBy("__id", "__bit").agg(
        F.sum(F.expr("(__h >> __bit) & 1")).alias("__nset"),
        F.count(F.lit(1)).alias("__n"),
    )
    return votes.groupBy("__id").agg(
        F.sum(
            F.when(
                F.col("__nset") * 2 > F.col("__n"),
                F.expr("CAST(1 AS BIGINT) << __bit"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("sketch")
    ).select(F.col("__id").alias(id_col), "sketch")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidates by SimHash: split the SIMHASH_BITS-bit
    sketch into `bands` chunks; pairs agreeing on ≥1 chunk are
    candidates (pigeonhole: guaranteed complete for hamming < bands,
    used as a recall heuristic beyond); verify by exact hamming =
    bit_count(a XOR b) — single-instruction popcount on the BIGINT
    sketch, no array comparison."""
    chunk = SIMHASH_BITS // bands
    base = simhash_sketch(df, id_col=id_col, text_col=text_col)
    banded = base.select(
        F.col(id_col).alias("__id"),
        "sketch",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(sketch >> {b * chunk}) & {(1 << chunk) - 1}"
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "sketch", "bb.band", "bb.bhash")

    left = banded.select(
        F.col("__id").alias("id_a"), F.col("sketch").alias("sk_a"), "band", "bhash"
    )
    right = banded.select(
        F.col("__id").alias("id_b"), F.col("sketch").alias("sk_b"), "band", "bhash"
    )
    return (
        left.join(right, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.expr("bit_count(sk_a ^ sk_b)").cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> bytes:
    """Build a Bloom filter over sha256(key_col) as a packed little-endian
    bitmap of `m_bits` bits — the mergeable membership sketch an
    incremental-dedup ingest keeps per corpus shard.

    Bit positions are PORTABLE: position_i = int(hex_digest[8i+1 .. 8i+8],
    16) % m_bits for i in 0..k-1 (1-based hex offsets) — byte-identical
    to DuckDB's CAST('0x' || substr(sha256(x), 1+8*i, 8) AS BIGINT) %
    m_bits, so an exact SQL oracle can replay membership decisions.

    Scale: the distinct-positions collect is bounded by m_bits (≤ m/8
    bytes of bitmap state regardless of corpus size — that IS the bloom
    property); the position dedup is one hash agg on a uniform key. The
    returned bitmap is driver-held and meant for sparkContext.broadcast;
    merging shards = bitwise OR of bitmaps."""
    import numpy as np

    rows = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.explode(F.array(*_bloom_positions(key_col, m_bits, k))).alias("p")
        )
        .distinct()
        .collect()
    )
    bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
    pos = np.fromiter((r["p"] for r in rows), dtype=np.int64, count=len(rows))
    np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bitmap.tobytes()


def bloom_members(
    df: DataFrame,
    key_col: str,
    bitmap: bytes,
    *,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Rows of `df` whose sha256(key_col) tests POSITIVE against the
    `bloom_build` bitmap (all k bits set) — i.e. candidate duplicates
    against the indexed corpus: every true duplicate passes (no false
    negatives), a tunable fraction of non-duplicates passes (false
    positives; size m_bits for the target rate, ~n*k/ln(2) bits for
    ~1.6% at k=4). Downstream exact verify (digest anti-join) removes
    the false positives; the bloom's job is to shrink that join's probe
    side from the whole batch to the candidates.

    The k positions are computed JVM-side (same portable construction
    as bloom_build); the bit test is a scalar pandas UDF over those k
    LONG columns — a filter predicate, so ONLY k longs per row cross
    the Arrow boundary (a mapInPandas filter would round-trip every
    payload column, e.g. the full document text). No shuffle."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap)
    pos_cols = _bloom_positions(key_col, m_bits, k)

    # Built lazily (inside the call): pandas_udf resolves its return
    # type against the active session at decoration time. Un-annotated
    # + explicit returnType because k is a runtime parameter and the
    # type-hint path rejects *args signatures.
    def _hit(*ps):
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        hit = np.ones(len(ps[0]), dtype=bool)
        for p_ser in ps:
            p = p_ser.to_numpy()
            # Defensive in-kernel guard: the JVM-side isNotNull filter
            # below should keep NULL positions out, but that relies on
            # ExtractPythonUDFs placing the filter under the UDF — an
            # optimizer-dependent invariant. If a null ever leaks in it
            # arrives as float64 NaN; treat any non-integer/non-finite
            # position as a miss instead of crashing (NaN) or silently
            # truncating (a finite 5.5 would otherwise test bit 5).
            if p.dtype.kind == "f":
                valid = np.isfinite(p)
                valid &= np.where(valid, p == np.floor(p), False)
                # Negative finite positions would wrap-index the bitmap
                # (Python negative indexing reads a bit from the END) —
                # treat them as a miss like every other invalid leak.
                valid &= np.where(valid, p >= 0, False)
                hit &= valid
                p = np.where(valid, p, 0).astype(np.int64)
            hit &= (bm[p >> 3] >> (p & 7).astype(np.uint8) & 1).astype(bool)
        return pd.Series(hit)

    bloom_hit = F.pandas_udf(_hit, "boolean")
    # NULL keys test negative by definition (bloom_build excludes them,
    # so their positions were never set) and are filtered JVM-side —
    # they must not reach the kernel, where a null position column
    # arrives as float64 NaN and the bit math fails.
    return df.filter(F.col(key_col).isNotNull()).filter(bloom_hit(*pos_cols))


def bloom_build_longs(
    df: DataFrame, key_col: str, *, m_bits: int = 1 << 17, k: int = 4
) -> list[int]:
    """Bloom filter over a LONG key column, packed as a list of
    m_bits/64 int64 words suitable for a Catalyst array LITERAL — the
    engine-internal pre-filter form (never oracle-replayed: a bloom
    that only gates work cannot change output, so the cheap xxhash64
    lane family is fine here where bloom_build needs the portable
    sha-slice). Returns the signed-int64 view of the bitmap; the
    distinct-positions collect is bounded by m_bits regardless of
    input size. Merging shards = elementwise OR."""
    import numpy as np

    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    rows = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.explode(
                F.array(*_bloom_positions_long(F.col(key_col), m_bits, k))
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in rows:
        p = int(r["p"])
        words[p >> 6] |= np.uint64(1) << np.uint64(p & 63)
    return [int(x) for x in words.view(np.int64)]


def bloom_hit_expr(
    key: Column, words: list[int], *, m_bits: int, k: int
) -> Column:
    """Row-local membership test of a LONG key expression against a
    bloom_build_longs bitmap: TRUE iff all k bits are set. Pure
    Catalyst (element_at + bit_get over the words literal — the
    literal array constant-folds once), so the test composes into
    higher-order-function lambdas: e.g.
    ``F.exists(grams, lambda g: bloom_hit_expr(g["gh"], ...))`` gives
    a zero-shuffle per-DOCUMENT pre-filter over a gram array. No
    false negatives by the bloom property, so gating an exact join on
    this cannot change its output — only skip provably-missing work."""
    arr = F.array(*[F.lit(int(w)) for w in words])
    hit = F.lit(True)
    for i, p in enumerate(_bloom_positions_long(key, m_bits, k)):
        word = F.element_at(arr, F.shiftright(p, 6).cast("int") + 1)
        bit = F.call_function(
            "bit_get", word, F.pmod(p, F.lit(64)).cast("int")
        )
        hit = hit & (bit == 1) if i else (bit == 1)
    return hit


def _bloom_positions_long(key: Column, m_bits: int, k: int) -> list:
    """The ONE definition of the long-key bloom lanes — shared by
    bloom_build_longs and bloom_hit_expr so build and probe cannot
    drift (the no-false-negative guarantee depends on it):
    position_i = pmod(xxhash64(key, seed=i), m_bits)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def _bloom_positions(key_col: str, m_bits: int, k: int) -> list:
    """The ONE definition of the portable bloom bit positions —
    position_i = int(sha256_hex[8i+1 .. 8i+8], 16) % m_bits, the
    construction DuckDB replays as CAST('0x' || substr(sha256(x),
    1+8*i, 8) AS BIGINT) % m_bits. Shared by bloom_build and
    bloom_members so build and probe can never drift apart (a silent
    disagreement would break the no-false-negative guarantee with no
    error)."""
    if k * 8 > 64:
        raise ValueError("k slices of 8 hex chars must fit sha256's first 64")
    if m_bits % 8:
        # Every bitmap consumer (bloom_build, st13's prior-state OR)
        # sizes state as exactly m_bits//8 bytes; a non-multiple of 8
        # would make build and merge disagree on length and fail with a
        # shape error far from the cause. Fail loudly at the API edge.
        raise ValueError(f"m_bits must be a multiple of 8, got {m_bits}")
    hexd = F.sha2(F.col(key_col), 256)
    return [
        (F.conv(F.substring(hexd, 1 + 8 * i, 8), 16, 10).cast("long") % m_bits)
        for i in range(k)
    ]
