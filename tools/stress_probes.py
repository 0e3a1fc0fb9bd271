"""Stress probes backing SCALE.md's beyond-test-SF claims.

Each probe scales one iterative/stateful operator family ~10x past the
bench scale factor (or onto an adversarial graph shape) and prints ONE
JSON line with the measured numbers that SCALE.md records. Run on
demand (not part of pytest — minutes, not seconds):

    python tools/stress_probes.py [probe ...]    # default: all

Probes:
  cc_chain        star-CC rounds/time on a 100k-node path graph — the
                  diameter-adversarial shape where label propagation
                  needs 100k rounds; large/small-star must stay O(log n).
  cc_skew         star-CC on a graph whose single giant component holds
                  50% of all nodes (random recursive tree) — the skew
                  shape where the component minimum becomes a hub during
                  contraction.
  bloom_10x       bloom_build + bloom_members over documents x10
                  (shifted ids): build/probe wall time, measured
                  false-positive rate vs the analytic rate, and the
                  bitmap staying m/8 bytes regardless of corpus size.
  epoch_shuffle   the x6_epoch_shuffle plan shape at 1x and 10x corpus:
                  wall times + the scaling exponent
                  log(t10/t1)/log(10) (1.0 = linear).
  skew_join       hot-key join (50% of fact rows on ONE key) under
                  sort-merge+AQE vs shuffled-hash unsalted vs 8-way
                  salted_join — all three legs must agree on the
                  answer; wall times show where salting pays.
  zorder_pruning  the SAME rows written random vs z-ordered, a 2-D
                  selective predicate checked against every parquet
                  footer (files an engine could skip) and timed as a
                  real filtered scan on both layouts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from pyspark.sql import SparkSession, Window

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark() -> SparkSession:
    from recipes_spark.session import get_session

    return get_session(
        "recipes-stress-probes", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )


def probe_cc_chain(spark: SparkSession, n: int = 100_000) -> dict:
    from recipes_spark.operators.dedup import connected_components_star

    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats: dict = {}
    t0 = time.perf_counter()
    comp = connected_components_star(nodes, edges, stats=stats)
    n_components = comp.select("component").distinct().count()
    dt = time.perf_counter() - t0
    return {
        "probe": "cc_chain",
        "nodes": n,
        "diameter": n - 1,
        "rounds": stats.get("rounds"),
        "converged": stats.get("converged"),
        "n_components": n_components,
        "sec": round(dt, 2),
    }


def probe_cc_skew(spark: SparkSession, n: int = 100_000) -> dict:
    """One component = 50% of all nodes: nodes 1..n/2-1 each attach to a
    pseudo-random earlier node (xxhash64-derived parent — a random
    recursive tree over half the node set); the other half stays
    isolated. During star contraction node 0 becomes a hub with ~n/2
    neighbors — the skew condition under which per-node label
    propagation degrades and groupBy-min must carry the giant key via
    map-side partial aggregation."""
    from recipes_spark.operators.dedup import connected_components_star

    half = n // 2
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = (
        spark.range(1, half)
        .select(
            F.col("id").alias("src"),
            F.pmod(F.xxhash64("id"), F.col("id")).alias("dst"),
        )
    )
    stats: dict = {}
    t0 = time.perf_counter()
    comp = connected_components_star(nodes, edges, stats=stats)
    sizes = (
        comp.groupBy("component")
        .count()
        .agg(
            F.max("count").alias("giant"),
            F.count(F.lit(1)).alias("n_components"),
        )
        .first()
    )
    dt = time.perf_counter() - t0
    return {
        "probe": "cc_skew",
        "nodes": n,
        "giant_component": int(sizes["giant"]),
        "giant_frac": round(sizes["giant"] / n, 3),
        "n_components": int(sizes["n_components"]),
        "rounds": stats.get("rounds"),
        "converged": stats.get("converged"),
        "sec": round(dt, 2),
    }


def _docs_10x(spark: SparkSession, reps_n: int = 10):
    from recipes_spark.io import load, scale_partitions

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    reps = spark.range(reps_n).select(F.col("id").alias("rep"))
    return scale_partitions(
        d.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            # Perturb the copies so keys are distinct (dedup text would
            # collapse the bloom key space and undercount the build).
            F.concat_ws("#", "text", F.col("rep").cast("string")).alias("text"),
        )
    )


def probe_bloom_10x(spark: SparkSession) -> dict:
    from recipes_spark.operators.dedup import bloom_build, bloom_members

    corpus = _docs_10x(spark).cache()
    n_rows = corpus.count()
    # The FP/load arithmetic is over DISTINCT keys: the testdata plants
    # duplicate texts (for the dedup queries), so replicated copies
    # share keys and row counts would overstate both the load factor
    # and the probe denominator.
    n_keys = corpus.select("text").distinct().count()
    m_bits, k = 1 << 20, 4
    t0 = time.perf_counter()
    bitmap = bloom_build(corpus, "text", m_bits=m_bits, k=k)
    t_build = time.perf_counter() - t0
    # Probe side: entirely FRESH keys — every distinct hit is a false
    # positive, so fp/n_fresh_keys is the measured FP rate.
    fresh = corpus.select(
        F.concat_ws("!", "text", F.lit("fresh")).alias("text")
    ).distinct()
    n_fresh = fresh.count()
    t0 = time.perf_counter()
    fp = bloom_members(fresh, "text", bitmap, m_bits=m_bits, k=k).count()
    t_probe = time.perf_counter() - t0
    # Members must all hit (no false negatives — the bloom contract).
    hits = (
        bloom_members(corpus, "text", bitmap, m_bits=m_bits, k=k)
        .select("text")
        .distinct()
        .count()
    )
    load_factor = n_keys * k / m_bits
    analytic_fp = (1 - 2.718281828 ** (-load_factor)) ** k
    corpus.unpersist()
    return {
        "probe": "bloom_10x",
        "rows": n_rows,
        "distinct_keys": n_keys,
        "m_bits": m_bits,
        "bitmap_bytes": len(bitmap),
        "build_sec": round(t_build, 2),
        "probe_sec": round(t_probe, 2),
        "false_negatives": n_keys - hits,
        "fp_rate": round(fp / n_fresh, 5),
        "analytic_fp_rate": round(analytic_fp, 5),
    }


def _epoch_shuffle_time(df) -> float:
    hv = F.conv(
        F.substring(
            F.sha2(
                F.concat_ws(
                    ":",
                    F.col("epoch").cast("string"),
                    F.col("doc_id").cast("string"),
                ),
                256,
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    spark = df.sparkSession
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    w = Window.partitionBy("epoch", "shard").orderBy("hv", "doc_id")
    t0 = time.perf_counter()
    (
        df.select("doc_id")
        .crossJoin(F.broadcast(epochs))
        .withColumn("hv", hv)
        .withColumn("shard", F.pmod("hv", F.lit(16)))
        .select("epoch", "shard", F.row_number().over(w).alias("pos"))
        .agg(F.count(F.lit(1)), F.max("pos"))
        .collect()
    )
    return time.perf_counter() - t0


def probe_epoch_shuffle(spark: SparkSession) -> dict:
    import math

    from recipes_spark.io import load, scale_partitions

    one = scale_partitions(
        load(spark, SF_DIR, "documents").select("doc_id")
    ).cache()
    n1 = one.count()
    ten = _docs_10x(spark).select("doc_id").cache()
    n10 = ten.count()
    hundred = _docs_10x(spark, reps_n=100).select("doc_id").cache()
    n100 = hundred.count()
    t1 = min(_epoch_shuffle_time(one) for _ in range(3))
    t10 = min(_epoch_shuffle_time(ten) for _ in range(3))
    t100 = min(_epoch_shuffle_time(hundred) for _ in range(3))
    one.unpersist()
    ten.unpersist()
    hundred.unpersist()
    return {
        "probe": "epoch_shuffle",
        "rows_1x": n1,
        "rows_10x": n10,
        "rows_100x": n100,
        "sec_1x": round(t1, 2),
        "sec_10x": round(t10, 2),
        "sec_100x": round(t100, 2),
        # 10x->100x exponent: the 1x point is job-overhead-dominated
        # (sub-second), so the data-cost slope only shows past it.
        "scaling_exponent_10_to_100": round(
            math.log(t100 / t10) / math.log(n100 / n10), 2
        ),
    }


def probe_ann_10x(spark: SparkSession) -> dict:
    """Integer IVF-PQ index build + query at 1x and 10x the vector
    corpus (embeddings replicated with shifted ids; one distributed-
    trained coarse book serves build and query): the build (fused
    assign+encode Arrow pass) should scale linearly; query latency
    should grow sub-linearly because the probe only scans nprobe/n_c
    of the lists and the ADC scan reads m codes per candidate."""
    import math

    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        ivf_pq_topk_int,
        pq_encode_int,
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )

    e1 = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").cache()
    n1 = e1.count()
    reps = spark.range(10).select(F.col("id").alias("rep"))
    e10 = (
        e1.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            "embedding",
        )
        .cache()
    )
    n10 = e10.count()
    out = {"probe": "ann_10x", "vectors_1x": n1, "vectors_10x": n10}
    for tag, corpus in (("1x", e1), ("10x", e10)):
        cents = train_coarse_centroids_int(corpus, k=16)
        books = train_pq_codebooks_int(corpus, m=8, k=16)
        t = min(
            _timed(
                lambda: pq_encode_int(
                    corpus, books, coarse_milli=cents
                ).count()
            )
            for _ in range(3)
        )
        out[f"build_sec_{tag}"] = round(t, 2)
        queries = corpus.limit(5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        t = min(
            _timed(
                lambda: ivf_pq_topk_int(
                    corpus, queries, k=10, n_centroids=16, nprobe=4, refine=4,
                    coarse_milli=cents,
                ).count()
            )
            for _ in range(3)
        )
        out[f"query_sec_{tag}"] = round(t, 2)
    out["build_scaling_exponent"] = round(
        math.log(out["build_sec_10x"] / out["build_sec_1x"])
        / math.log(n10 / n1),
        2,
    )
    e1.unpersist()
    e10.unpersist()
    return out


def probe_pagerank(spark: SparkSession) -> dict:
    """x7's fixed-point PageRank loop (queries/dataops.py
    pagerank_fixed_point) at 1x/10x/100x the sf0.1 graph (5k docs →
    up to 500k nodes / 1M edges, 10 iterations each), plus a
    power-law-skew leg at 10x where one edge family maps dst =
    floor(u^3 · n) — a Zipf-ish in-degree distribution whose hub
    node absorbs ~1% of ALL edges, the adversarial shape for the
    per-iteration dst aggregation (map-side partial agg must carry the
    hub key, same skew condition as cc_skew). Reports wall per scale,
    the 1x→100x scaling exponent (1.0 = linear; rounds are fixed at
    10 so the exponent isolates per-round cost), and the measured max
    in-degree of the skew graph."""
    import math

    from recipes_spark.io import load
    from recipes_spark.queries.dataops import pagerank_fixed_point

    base_n = load(spark, SF_DIR, "documents").count()

    def graph(n: int, skew: bool):
        nodes = spark.range(n).select(F.col("id").alias("node"))
        fam1 = nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * F.col("node") + 1) % n).alias("dst"),
        )
        if skew:
            u = (
                F.pmod(F.xxhash64("node"), F.lit(1_000_000)).cast("double")
                / 1e6
            )
            fam2 = nodes.select(
                F.col("node").alias("src"),
                F.least(
                    F.lit(n - 1), F.floor(F.pow(u, F.lit(3.0)) * n)
                ).cast("long").alias("dst"),
            )
        else:
            fam2 = nodes.select(
                F.col("node").alias("src"),
                ((F.col("node") * 7 + 1) % n).alias("dst"),
            )
        return nodes, fam1.unionByName(fam2).localCheckpoint(eager=True)

    out: dict = {"probe": "pagerank", "nodes_1x": base_n, "iters": 10}
    for tag, mult in (("1x", 1), ("10x", 10), ("100x", 100)):
        n = base_n * mult
        nodes, edges = graph(n, skew=False)
        # min-of-2: the first 1x run otherwise absorbs the session's
        # cold-JIT ramp and inverts the 1x/10x ordering (SCALE.md
        # "Measuring on a shared/noisy host").
        out[f"sec_{tag}"] = round(
            min(
                _timed(
                    lambda: pagerank_fixed_point(nodes, edges, n=n).count()
                )
                for _ in range(2)
            ),
            2,
        )
    out["scaling_exponent"] = round(
        math.log(out["sec_100x"] / out["sec_1x"]) / math.log(100), 2
    )
    n = base_n * 10
    nodes, edges = graph(n, skew=True)
    out["skew_max_in_degree"] = (
        edges.groupBy("dst").count().agg(F.max("count")).first()[0]
    )
    out["sec_skew_10x"] = round(
        _timed(lambda: pagerank_fixed_point(nodes, edges, n=n).count()), 2
    )
    return out


def probe_skew_join(
    spark: SparkSession, n: int = 16_000_000, k: int = 100_000
) -> dict:
    """Hot-key join under the three physical strategies the 100 TB
    design names (operators/skew.py docstring): sort-merge + AQE (AQE's
    skew splitter owns this case), shuffled-hash UNSALTED (the
    straggler case AQE cannot split — one task probes the whole hot
    key), and shuffled-hash SALTED 8-way (the engine's salted_join).
    Fact: n rows, 50% on ONE key, rest uniform over k keys; dim: k
    rows. All three legs must agree on count and payload sum — the
    probe is a correctness check as well as a wall-time comparison."""
    from recipes_spark.operators.skew import salted_join

    fact = spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 2 == 0, F.lit(0).cast("long"))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(k)))
        .alias("key"),
    )
    dim = spark.range(k).select(
        F.col("id").alias("dkey"), (F.col("id") % 997).alias("payload")
    )

    def run(df) -> tuple[int, int]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
        ).collect()[0]
        return r["n"], r["s"]

    legs = {
        "smj_aqe": fact.join(dim.hint("merge"), fact.key == dim.dkey),
        "shuffle_hash_unsalted": fact.join(
            dim.hint("shuffle_hash"), fact.key == dim.dkey
        ),
        "shuffle_hash_salted8": salted_join(
            fact, dim.hint("shuffle_hash"), fact_key="key", dim_key="dkey",
            salt=8, unique_col="row_id",
        ),
    }
    answers = {name: run(df) for name, df in legs.items()}  # warm + verify
    assert len(set(answers.values())) == 1, f"legs disagree: {answers}"
    times = {
        name: round(min(_timed(lambda d=df: run(d)) for _ in range(3)), 2)
        for name, df in legs.items()
    }
    return {
        "probe": "skew_join",
        "n_fact": n,
        "n_dim": k,
        "hot_share": 0.5,
        "rows_joined": answers["smj_aqe"][0],
        "wall_s": times,
    }


def probe_zorder_pruning(spark: SparkSession, n_files: int = 32) -> dict:
    """Data-skipping payoff of the z-order layout (x6_zorder_layout
    computes the assignment; this measures what it BUYS): events
    written to n_files twice — hash-random vs repartitionByRange on
    the Morton value — then a 2-D selective predicate
    (vq BETWEEN 10 AND 14 AND hq = 7) is checked against every file's
    parquet footer min/max (the skip decision an engine makes) and
    timed as an actual filtered scan on both layouts. Both layouts
    must return the same row count."""
    import glob as _glob
    import shutil

    import pyarrow.parquet as _pq

    from recipes_spark.io import load
    from recipes_spark.session import scratch_dir

    ev = load(spark, SF_DIR, "events")
    vq = F.least(F.lit(255), F.floor(F.col("value") / 2)).cast("long")
    hq = F.hour("ts").cast("long")
    q = ev.select(vq.alias("vq"), hq.alias("hq"), "event_id", "value")
    zval = None
    for i in range(8):
        v_bit = F.shiftleft(
            F.shiftright(F.col("vq"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        h_bit = F.shiftleft(
            F.shiftright(F.col("hq"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = v_bit + h_bit
        zval = term if zval is None else zval + term
    q = q.withColumn("zval", zval)

    root = scratch_dir("zorder_probe")
    paths = {"random": f"{root}/random", "zorder": f"{root}/zorder"}
    q.repartition(n_files).drop("zval").write.parquet(paths["random"])
    q.repartitionByRange(n_files, "zval").drop("zval").write.parquet(
        paths["zorder"]
    )

    def prunable(path: str) -> tuple[int, int]:
        kept = total = 0
        for f in _glob.glob(f"{path}/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            names = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            lo_v = hi_v = lo_h = hi_h = None
            for rg in range(md.num_row_groups):
                sv = md.row_group(rg).column(names["vq"]).statistics
                sh = md.row_group(rg).column(names["hq"]).statistics
                lo_v = sv.min if lo_v is None else min(lo_v, sv.min)
                hi_v = sv.max if hi_v is None else max(hi_v, sv.max)
                lo_h = sh.min if lo_h is None else min(lo_h, sh.min)
                hi_h = sh.max if hi_h is None else max(hi_h, sh.max)
            total += 1
            # file must be READ iff [lo,hi] intersects the predicate
            if not (hi_v < 10 or lo_v > 14 or hi_h < 7 or lo_h > 7):
                kept += 1
        return kept, total

    stats: dict = {"probe": "zorder_pruning", "n_files": n_files}
    counts = {}
    for name, path in paths.items():
        kept, total = prunable(path)
        df = spark.read.parquet(path).filter(
            "vq BETWEEN 10 AND 14 AND hq = 7"
        )
        counts[name] = df.count()
        wall = min(_timed(df.count) for _ in range(3))
        stats[name] = {
            "files_scanned": kept,
            "files_total": total,
            "wall_s": round(wall, 3),
        }
    assert counts["random"] == counts["zorder"], counts
    stats["rows_selected"] = counts["zorder"]
    shutil.rmtree(root, ignore_errors=True)
    return stats


def probe_interval_join(
    spark: SparkSession, n1: int = 200_000, n10: int = 2_000_000
) -> dict:
    """The bucketed interval-overlap join (operators/joins.py
    interval_overlap_join, registered as join_interval_overlap) beyond
    the bench SF, three legs:

    1. width-independence: at n1 per side (uniform starts over 30
       days, 30-min intervals), widths 900 s / 1800 s / 7200 s must
       produce the IDENTICAL (pair count, total overlap) — independent
       parameterizations agreeing is the correctness check a single
       oracle run cannot give at this scale.
    2. uniform 1x/10x: count-only wall time at n1 and n10 per side →
       scaling exponent (candidate pairs grow ~linearly when density
       per bucket is constant-bounded... here density grows 10x too, so
       the honest exponent includes the quadratic in-bucket term —
       that's the point of measuring).
    3. storm: n10 A-side with 50% of intervals starting inside ONE
       hour against a uniform B side — the hot-bucket shape. Measured
       with the SAME width and with a 16x finer width. MEASURED
       OUTCOME (recorded in SCALE.md): the finer grid is ~9x SLOWER —
       buckets narrower than the interval length replicate every
       interval into more buckets without shrinking the candidate
       product. The correct hot-bucket mitigation is salting the
       bucket key, not refining the grid; this probe is the evidence.
    """
    from recipes_spark.operators.joins import interval_overlap_join

    span_us = 30 * 24 * 3600 * 1_000_000
    ilen_us = 1800 * 1_000_000

    def uniform(n: int):
        return spark.range(n).select(
            F.col("id"),
            (F.pmod(F.xxhash64("id"), F.lit(span_us))).alias("s_us"),
        ).select("id", "s_us", (F.col("s_us") + ilen_us).alias("e_us"))

    def storm(n: int):
        hour_us = 3600 * 1_000_000
        return spark.range(n).select(
            F.col("id"),
            F.when(
                F.col("id") % 2 == 0,
                F.pmod(F.xxhash64("id"), F.lit(hour_us)),
            )
            .otherwise(F.pmod(F.xxhash64("id", "id"), F.lit(span_us)))
            .alias("s_us"),
        ).select("id", "s_us", (F.col("s_us") + ilen_us).alias("e_us"))

    def run(a, b, width_us: int) -> tuple[int, int]:
        r = (
            interval_overlap_join(a, b, width_us=width_us)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("overlap_us").alias("s"),
            )
            .collect()[0]
        )
        return r["n"], r["s"]

    a1, b1 = uniform(n1), uniform(n1 + 1)
    answers = {
        w: run(a1, b1, w * 1_000_000) for w in (900, 1800, 7200)
    }
    assert len(set(answers.values())) == 1, f"widths disagree: {answers}"

    a10, b10 = uniform(n10), uniform(n10 + 1)
    t1 = min(_timed(lambda: run(a1, b1, ilen_us)) for _ in range(3))
    t10 = min(_timed(lambda: run(a10, b10, ilen_us)) for _ in range(3))

    sa = storm(n10)
    ts_coarse = min(_timed(lambda: run(sa, b10, ilen_us)) for _ in range(2))
    ts_fine = min(
        _timed(lambda: run(sa, b10, ilen_us // 16)) for _ in range(2)
    )
    import math

    return {
        "probe": "interval_join",
        "n_1x": n1,
        "n_10x": n10,
        "pairs_1x": answers[1800][0],
        "wall_s_1x": round(t1, 2),
        "wall_s_10x": round(t10, 2),
        "exponent": round(math.log(t10 / t1) / math.log(n10 / n1), 2),
        "storm_wall_s": round(ts_coarse, 2),
        "storm_wall_s_fine16": round(ts_fine, 2),
    }


def probe_incremental_cc(spark: SparkSession, n: int = 400_000) -> dict:
    """The seeded (incremental) connected_components path vs a full
    recompute on a chain-heavy graph (runs of 40 — deliberately
    diameter-adversarial for min propagation): phase 1 = the first 90%
    of nodes in 40-chains; phase 2 ingests the last 10% as ATTACHMENTS
    to existing clusters (one edge each to an old node — the realistic
    nightly shape: new documents are near-dups of existing ones, not
    whole new deep structures). Measures rounds-to-fixpoint and wall
    for (a) full CC from identity labels over everything — which must
    re-propagate every 40-chain — vs (b) CC seeded with phase 1's
    labels, where old components start collapsed and only the 1-edge
    attachments iterate. Rounds is the scale-critical number for an
    iterative op. Both label sets are asserted identical first
    (confluence is a correctness property, not a hope)."""
    from recipes_spark.operators.dedup import connected_components

    run = 40
    nodes = spark.range(n).select(F.col("id").alias("node"))
    cut = int(n * 0.9)
    old_nodes = nodes.filter(F.col("node") < cut)
    old_edges = (
        old_nodes.filter((F.col("node") % run) != (run - 1))
        .select(
            F.col("node").alias("src"), (F.col("node") + 1).alias("dst")
        )
        .filter(F.col("dst") < cut)
    )
    new_edges = nodes.filter(F.col("node") >= cut).select(
        (F.col("node") % cut).alias("src"), F.col("node").alias("dst")
    )
    edges = old_edges.unionByName(new_edges)

    prior_stats: dict = {}
    prior = connected_components(
        old_nodes, old_edges, max_iter=100, stats=prior_stats
    ).localCheckpoint(eager=True)

    full_stats: dict = {}
    t_full = _timed(
        lambda: connected_components(
            nodes, edges, max_iter=100, stats=full_stats
        ).count()
    )
    inc_stats: dict = {}
    t_inc = _timed(
        lambda: connected_components(
            nodes, edges, max_iter=100, stats=inc_stats,
            initial_labels=prior,
        ).count()
    )
    a = connected_components(nodes, edges, max_iter=100)
    b = connected_components(nodes, edges, max_iter=100, initial_labels=prior)
    mismatch = (
        a.withColumnRenamed("component", "ca")
        .join(b.withColumnRenamed("component", "cb"), "node")
        .filter(F.col("ca") != F.col("cb"))
        .count()
    )
    assert mismatch == 0, f"{mismatch} label mismatches"
    return {
        "probe": "incremental_cc",
        "n_nodes": n,
        "run_len": run,
        "rounds_full": full_stats["rounds"],
        "rounds_incremental": inc_stats["rounds"],
        "wall_s_full": round(t_full, 2),
        "wall_s_incremental": round(t_inc, 2),
    }


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0




def probe_spatial_knn(spark: SparkSession) -> dict:
    """grid_nearest_neighbor (g6_grid_knn's core) at 1x and 10x:
    100k -> 1M sites over a 100k x 100k integer plane (hash-scattered
    from spark.range), 500 / 5000 queries, cell = 2500 (~constant
    per-cell density at 1x; 10x densifies the same grid). Reports wall
    per scale, the certified fraction (queries the 3x3 block proves
    without the brute leg), the scaling exponent, and — the
    correctness leg — exact agreement of the 1x grid result with a
    broadcast brute-force over all 50M pairs."""
    import math

    from recipes_spark.operators.geometry import grid_nearest_neighbor

    def pts(n, is_query, shift):
        base = spark.range(n).select(
            (F.col("id") * 1000003 + shift).alias("pid"),
            ((F.col("id") * 48271 + shift) % 100_000).alias("px"),
            ((F.col("id") * 16807 + shift * 7) % 100_000).alias("py"),
        )
        name = "query_id" if is_query else "site_id"
        cols = ("px", "py") if is_query else ("sx", "sy")
        return base.select(
            F.col("pid").alias(name),
            F.col("px").alias(cols[0]),
            F.col("py").alias(cols[1]),
        )

    out = {"probe": "spatial_knn", "cell": 2500}
    for tag, n_sites, n_queries in (("1x", 100_000, 500), ("10x", 1_000_000, 5000)):
        st = pts(n_sites, False, 17).cache()
        qs = pts(n_queries, True, 5).cache()
        st.count(), qs.count()
        res = grid_nearest_neighbor(qs, st, cell=2500)
        t = min(_timed(lambda: res.count()) for _ in range(2))
        certified = (
            grid_nearest_neighbor(qs, st, cell=2500)
            .filter(F.col("d2") <= 2500 * 2500)
            .count()
        )
        out[f"wall_sec_{tag}"] = round(t, 2)
        out[f"certified_frac_{tag}"] = round(certified / n_queries, 4)
        if tag == "1x":
            d2 = (F.col("px") - F.col("sx")) * (F.col("px") - F.col("sx")) + (
                F.col("py") - F.col("sy")
            ) * (F.col("py") - F.col("sy"))
            brute = (
                F.broadcast(qs)
                .crossJoin(st)
                .select("query_id", d2.alias("d2"), "site_id")
                .groupBy("query_id")
                .agg(F.min(F.struct("d2", "site_id")).alias("b"))
                .select("query_id", F.col("b.d2").alias("d2"),
                        F.col("b.site_id").alias("site_id"))
            )
            diff = (
                res.unionByName(brute)
                .groupBy("query_id", "d2", "site_id")
                .count()
                .filter(F.col("count") != 2)
                .count()
            )
            out["brute_mismatches_1x"] = diff
        st.unpersist(), qs.unpersist()
    out["scaling_exponent"] = round(
        math.log(out["wall_sec_10x"] / out["wall_sec_1x"]) / math.log(10), 2
    )
    return out




def probe_partition_pruning(spark: SparkSession) -> dict:
    """Hive-style partition pruning measured end to end: the SAME 1.5M
    rows written twice — flat vs partitionBy(day) (30 day dirs) — and
    a one-day aggregate run on both layouts. Asserts the partitioned
    plan carries a PartitionFilters entry (the pruning actually
    engaged, not just a fast scan), counts the files under the
    matching partition dir vs the whole store, and reports the walls
    of THREE layouts: flat, naively partitioned (write tasks x
    partitions = small-files fragmentation), and tidily partitioned
    (repartition BY the partition column first, one file per dir).
    The partition-level complement of zorder_pruning's file-level
    footer skipping: at 100 TB this is the first and cheapest pruning
    layer (directory listing, no footer reads at all) — IF the writer
    controlled fragmentation."""
    import glob
    import shutil

    from recipes_spark.session import scratch_dir

    n = 1_500_000
    rows = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 30).alias("day"),
        ((F.col("id") * 48271) % 10_000).alias("v"),
    )
    flat = scratch_dir("prune_flat")
    part = scratch_dir("prune_part")
    rows.repartition(32).write.mode("overwrite").parquet(flat)
    rows.repartition(32).write.mode("overwrite").partitionBy("day").parquet(
        part
    )
    tidy = scratch_dir("prune_tidy")
    rows.repartition("day").write.mode("overwrite").partitionBy("day").parquet(
        tidy
    )

    def one_day(path):
        df = (
            spark.read.parquet(path)
            .filter(F.col("day") == 7)
            .agg(F.sum("v").alias("s"))
        )
        return df

    expected = one_day(flat).collect()[0]["s"]
    assert one_day(part).collect()[0]["s"] == expected
    assert one_day(tidy).collect()[0]["s"] == expected
    plan = one_day(part)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    t_flat = min(_timed(lambda: one_day(flat).collect()) for _ in range(3))
    t_part = min(_timed(lambda: one_day(part).collect()) for _ in range(3))
    t_tidy = min(_timed(lambda: one_day(tidy).collect()) for _ in range(3))
    out = {
        "probe": "partition_pruning",
        "rows": n,
        "files_total_naive": len(
            glob.glob(os.path.join(part, "day=*", "*.parquet"))
        ),
        "files_touched_naive": len(
            glob.glob(os.path.join(part, "day=7", "*.parquet"))
        ),
        "files_total_tidy": len(
            glob.glob(os.path.join(tidy, "day=*", "*.parquet"))
        ),
        "files_touched_tidy": len(
            glob.glob(os.path.join(tidy, "day=7", "*.parquet"))
        ),
        "wall_flat_sec": round(t_flat, 3),
        "wall_naive_partitioned_sec": round(t_part, 3),
        "wall_tidy_partitioned_sec": round(t_tidy, 3),
        "partition_filter_in_plan": True,
    }
    shutil.rmtree(flat, ignore_errors=True)
    shutil.rmtree(part, ignore_errors=True)
    shutil.rmtree(tidy, ignore_errors=True)
    return out




def probe_gram_block(spark: SparkSession) -> dict:
    """The integer Gram-block kernel (x3_embedding_covariance /
    x3_triplet_mining's mapInPandas path) at 1x and 10x the vector
    corpus: per-partition numpy Q^T Q over floor-quantized micros,
    d^2 rows shuffled per partition regardless of row count. Scaling
    should be ~linear in rows (one pass, no shuffle growth); the probe
    also re-asserts the merged Gram equals a driver-side numpy
    computation at 1x (bit-exact integers)."""
    import math

    import numpy as np

    from recipes_spark.io import load
    from recipes_spark.queries.dataops import _embedding_gram

    e1 = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").cache()
    n1 = e1.count()
    reps = spark.range(10).select(F.col("id").alias("rep"))
    e10 = (
        e1.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            "embedding",
        )
        .cache()
    )
    n10 = e10.count()
    out = {"probe": "gram_block", "vectors_1x": n1, "vectors_10x": n10}
    t1 = min(_timed(lambda: _embedding_gram(e1).count()) for _ in range(3))
    t10 = min(_timed(lambda: _embedding_gram(e10).count()) for _ in range(3))
    out["wall_sec_1x"] = round(t1, 2)
    out["wall_sec_10x"] = round(t10, 2)
    out["scaling_exponent"] = round(math.log(t10 / t1) / math.log(n10 / n1), 2)
    rows = e1.orderBy("vec_id").collect()
    Q = np.floor(
        np.asarray(
            [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
        )
        * 1e6
    ).astype(np.int64)
    G = Q.T @ Q
    mism = 0
    for r in _embedding_gram(e1).filter(F.col("j") > 0).collect():
        if G[r["i"] - 1, r["j"] - 1] != r["sij"]:
            mism += 1
    out["gram_mismatches_1x"] = mism
    e1.unpersist(), e10.unpersist()
    return out



def probe_global_rank(spark: SparkSession) -> dict:
    """event_rfm_segments' round-8 rewrite, measured: exact global
    row-number via the sharded two-pass (operators/prefix.
    partitioned_row_number — range shuffle + partitioned window +
    S-row offset scan) vs the single-task unpartitioned-window rank it
    replaced, at 1M and 10M key rows. Reports wall per scale for both
    plans, the sharded plan's scaling exponent, and the correctness
    leg: ntile-from-rank agrees EXACTLY with the window ntile at both
    scales (count of disagreeing rows must be 0)."""
    from recipes_spark.operators.prefix import partitioned_row_number

    def users(n: int):
        return spark.range(n).select(
            F.col("id").alias("user_id"),
            ((F.col("id") * 48271) % 997).alias("metric"),
        )

    def ntile5_from_rn(rn, n_total: int):
        q5, r5 = divmod(n_total, 5)
        p0 = rn - F.lit(1)
        head = r5 * (q5 + 1)
        return (
            F.when(p0 < head, F.floor(p0 / (q5 + 1))).otherwise(
                r5 + F.floor((p0 - head) / q5)
            )
            + 1
        ).cast("long")

    out = {"probe": "global_rank"}
    order = [F.col("metric").asc(), F.col("user_id").asc()]
    walls = {}
    for tag, n in (("1x", 1_000_000), ("10x", 10_000_000)):
        df = users(n).cache()
        df.count()

        def sharded():
            s, tot = partitioned_row_number(df, order_exprs=order, out_col="rn")
            assert tot == n
            s.groupBy(ntile5_from_rn(F.col("rn"), n).alias("s")).count().collect()

        def naive():
            w = Window.orderBy(*order)
            df.select(F.ntile(5).over(w).alias("s")).groupBy("s").count().collect()

        walls[tag] = min(_timed(sharded) for _ in range(2))
        out[f"wall_sec_sharded_{tag}"] = round(walls[tag], 2)
        out[f"wall_sec_global_window_{tag}"] = round(
            min(_timed(naive) for _ in range(2)), 2
        )
        s, tot = partitioned_row_number(df, order_exprs=order, out_col="rn")
        w = Window.orderBy(*order)
        both = df.select(
            "user_id", F.ntile(5).over(w).cast("long").alias("want")
        ).join(
            s.select("user_id", ntile5_from_rn(F.col("rn"), tot).alias("got")),
            "user_id",
        )
        out[f"mismatches_{tag}"] = both.filter(
            F.col("want") != F.col("got")
        ).count()
        df.unpersist()
    import math

    out["exponent_sharded"] = round(
        math.log(walls["10x"] / walls["1x"]) / math.log(10), 2
    )
    return out


def probe_per_key_rank(spark: SparkSession) -> dict:
    """Round-9 leg of the global_rank probe: PER-KEY ranking over a HOT
    key (5 distinct values — the event_type shape that motivated the
    agg_spearman/window_twap reshapes). Compares
    partitioned_row_number(partition_by=['k']) — range shuffle on
    (k, order) + (k, shard)-local window + windowed offset scan over
    the (keys × shards)-row count table — against the naive
    Window.partitionBy(k).orderBy(...), which funnels each key's whole
    history (n/5 rows here) through ONE task. Reports walls at 1M/10M,
    the sharded exponent, and exact-agreement counts (must be 0
    mismatches: (k, order) is unique by construction)."""
    from recipes_spark.operators.prefix import partitioned_row_number

    def rows(n: int):
        return spark.range(n).select(
            (F.col("id") % 5).cast("string").alias("k"),
            ((F.col("id") * 48271) % 9999991).alias("m"),
            F.col("id").alias("uid"),
        )

    out = {"probe": "per_key_rank"}
    order = [F.col("m").asc(), F.col("uid").asc()]
    walls = {}
    for tag, n in (("1x", 1_000_000), ("10x", 10_000_000)):
        df = rows(n).cache()
        df.count()

        def sharded():
            s, _ = partitioned_row_number(
                df, order_exprs=order, partition_by=["k"], out_col="rn",
                with_total=False,
            )
            s.groupBy("k").agg(F.sum("rn")).collect()

        def naive():
            w = Window.partitionBy("k").orderBy(*order)
            df.select(
                "k", F.row_number().over(w).cast("long").alias("rn")
            ).groupBy("k").agg(F.sum("rn")).collect()

        walls[tag] = min(_timed(sharded) for _ in range(2))
        out[f"wall_sec_sharded_{tag}"] = round(walls[tag], 2)
        out[f"wall_sec_hot_key_window_{tag}"] = round(
            min(_timed(naive) for _ in range(2)), 2
        )
        s, _ = partitioned_row_number(
            df, order_exprs=order, partition_by=["k"], out_col="rn",
            with_total=False,
        )
        w = Window.partitionBy("k").orderBy(*order)
        both = df.select(
            "k", "uid", F.row_number().over(w).cast("long").alias("want")
        ).join(s.select("k", "uid", F.col("rn").alias("got")), ["k", "uid"])
        out[f"mismatches_{tag}"] = both.filter(
            F.col("want") != F.col("got")
        ).count()
        df.unpersist()
    import math

    out["exponent_sharded"] = round(
        math.log(walls["10x"] / walls["1x"]) / math.log(10), 2
    )
    return out


def probe_ann_recall_10x(spark: SparkSession) -> dict:
    """Round-10 leg of ann_10x: RECALL@10 economics at 1x and 10x the
    vector corpus. The suite gates IVF recall >= 0.9 at the driver SF;
    this measures how a FIXED (n_centroids=16, nprobe) budget holds at
    10x density and what each extra probed list buys — the
    nprobe/n_centroids pricing a 100 TB deployment does, measured
    rather than asserted. Replicas are perturbed with a deterministic
    per-(rep, dim) ripple (±~1%) so duplicates don't tie-break the
    exact ground truth ambiguously; queries are 5 UNperturbed
    originals, so their perturbed twins crowd the true top-10 at 10x —
    the adversarial densification case for list pruning."""
    from recipes_spark.io import load
    from recipes_spark.operators.similarity import brute_force_topk, ivf_topk_int

    e1 = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").cache()
    n1 = e1.count()
    reps = spark.range(10).select(F.col("id").cast("int").alias("rep"))
    e10 = (
        e1.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                * (
                    F.lit(1.0)
                    + F.col("rep") * F.lit(0.003) * ((i % 7) - F.lit(3))
                ),
            ).alias("embedding"),
        )
        .cache()
    )
    n10 = e10.count()
    out = {"probe": "ann_recall_10x", "vectors_1x": n1, "vectors_10x": n10}
    for tag, corpus in (("1x", e1), ("10x", e10)):
        queries = e1.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(corpus, queries, k=10).collect()
        }
        for nprobe in (1, 2, 4, 8):
            t0 = time.perf_counter()
            got = ivf_topk_int(
                corpus, queries, k=10, n_centroids=16, nprobe=nprobe
            ).collect()
            wall = time.perf_counter() - t0
            hits = sum(1 for r in got if (r.query_id, r.vec_id) in exact)
            out[f"recall_{tag}_np{nprobe}"] = round(hits / len(exact), 3)
            out[f"query_sec_{tag}_np{nprobe}"] = round(wall, 2)
    e1.unpersist()
    e10.unpersist()
    return out


def _stage_docs_sfdir(
    spark: SparkSession, reps_n: int = 10, mode: str = "suffix"
) -> str:
    """Write a reps_n× documents table (shifted ids) into a tmp dir
    shaped like an sf_dir, so registered queries run on it unmodified.
    mode='suffix' appends '#rep' to the text — replicas share almost
    every n-gram (the adversarial near-total-duplication corpus);
    mode='mutate' prefixes every TOKEN with r<rep>x — cross-replica
    duplication vanishes while each replica keeps the 1x corpus's OWN
    duplicate structure, so per-stage WORK scales 10× without the
    dedup stages degenerately emptying the corpus."""
    from recipes_spark.io import load
    from recipes_spark.session import scratch_dir

    d = load(spark, SF_DIR, "documents")
    reps = spark.range(reps_n).select(F.col("id").cast("long").alias("rep"))
    if mode == "suffix":
        text = F.concat_ws("#", "text", F.col("rep").cast("string"))
    else:
        tag = F.concat(F.lit("r"), F.col("rep").cast("string"), F.lit("x"))
        text = F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.split("text", " "), lambda x: F.concat(tag, x)
                ),
            )
        )
    big = d.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = scratch_dir("docs10x")
    big.repartition(32).write.mode("overwrite").parquet(
        out + "/documents.parquet"
    )
    return out


def probe_corpus_pipeline_10x(spark: SparkSession) -> dict:
    """x6_corpus_pipeline_e2e (8 chained stages, 4 data-sized
    exchanges) at 1x vs 10x the corpus — the composition claim under
    load: wall should scale ~linearly (no stage is quadratic or
    single-task). The 10x corpus uses mode='mutate' (per-replica token
    prefixes): each replica carries the 1x corpus's OWN duplicate
    structure, so every stage does 10x the work — a '#rep'-suffix
    replication was measured first and the C4 line rule CORRECTLY
    emptied the corpus (every cross-replica-shared line >= 3 → all
    text dropped → quality floor kills every doc), which validates the
    pipeline's semantics but measures nothing."""
    import math

    from recipes_spark.registry import all_queries

    q = all_queries()["x6_corpus_pipeline_e2e"]
    out = {"probe": "corpus_pipeline_10x"}
    big_dir = _stage_docs_sfdir(spark, mode="mutate")
    for tag, sfd in (("1x", SF_DIR), ("10x", big_dir)):
        rows = None

        def run():
            nonlocal rows
            rows = q(spark, sfd).collect()

        out[f"wall_sec_{tag}"] = round(min(_timed(run) for _ in range(2)), 2)
        out[f"shards_{tag}"] = len(rows)
        out[f"docs_packed_{tag}"] = sum(r["n_docs"] for r in rows)
    out["exponent"] = round(
        math.log(out["wall_sec_10x"] / out["wall_sec_1x"]) / math.log(10), 2
    )
    return out


def probe_packing_tail_100x(spark: SparkSession) -> dict:
    """The newest composition stages TWO decades past bench SF (r12
    verdict task 7): real id-stream packing (x6_packing_ids), the
    two-level shard manifests (x6_packing_shards), the physical
    release write→reread→verify (x6_release_materialize), and the full
    e2e composition, each at 1× vs 100× docs (mode='mutate' — every
    replica carries the 1× corpus's own duplicate structure, so the
    stages do genuine 100× work). Per-stage exponent =
    log(w_100x/w_1x)/log(100); anything > ~1.1 is a named follow-up."""
    import math

    from recipes_spark.registry import all_queries

    q = all_queries()
    out = {"probe": "packing_tail_100x"}
    big_dir = _stage_docs_sfdir(spark, reps_n=100, mode="mutate")
    for name, label in (
        ("x6_packing_ids", "packing_ids"),
        ("x6_packing_shards", "packing_shards"),
        ("x6_release_materialize", "release"),
        ("x6_corpus_pipeline_e2e", "e2e"),
    ):
        for tag, sfd in (("1x", SF_DIR), ("100x", big_dir)):
            rows = None

            def run(name=name, sfd=sfd):
                nonlocal rows
                rows = q[name](spark, sfd).collect()

            out[f"{label}_wall_{tag}"] = round(
                min(_timed(run) for _ in range(2)), 2
            )
            out[f"{label}_rows_{tag}"] = len(rows)
        out[f"{label}_exponent"] = round(
            math.log(out[f"{label}_wall_100x"] / out[f"{label}_wall_1x"])
            / math.log(100),
            2,
        )
    return out


def probe_substring_dedup_10x(spark: SparkSession) -> dict:
    """x2_substring_dedup at 1x vs 10x under NEAR-TOTAL duplication
    (every replica shares every 8-gram not touching its suffixed last
    token — the adversarial case for the anchor join: almost no gram
    dies at the >= 2-docs filter). Wall + reported-span volume; the
    anchor shuffle is the only corpus-sized exchange, so the exponent
    prices exactly that."""
    import math

    from recipes_spark.registry import all_queries

    q = all_queries()["x2_substring_dedup"]
    out = {"probe": "substring_dedup_10x"}
    big_dir = _stage_docs_sfdir(spark)
    for tag, sfd in (("1x", SF_DIR), ("10x", big_dir)):
        n = None

        def run():
            nonlocal n
            n = q(spark, sfd).count()

        out[f"wall_sec_{tag}"] = round(min(_timed(run) for _ in range(2)), 2)
        out[f"spans_{tag}"] = n
    out["exponent"] = round(
        math.log(out["wall_sec_10x"] / out["wall_sec_1x"]) / math.log(10), 2
    )
    return out


def probe_bpe_greedy_1k(spark: SparkSession) -> dict:
    """bpe_greedy_kernel throughput at PRODUCTION table sizes: encode
    the sf corpus with the 12-merge table (literal fold vs Arrow
    greedy, same output) and with a synthetic VALID 1000-merge table
    (greedy only — a 1000-deep replace() chain per row is the cost
    class the island exists to avoid). Reports wall, corpus MB/s and
    output tokens/s; the greedy pass must be table-size-insensitive
    (per-word cost is rounds-applied, not table-scan — the unique-word
    cache makes repeat words O(1))."""
    import itertools

    from recipes_spark.io import load
    from recipes_spark.queries.corpus_ops import (
        _BPE_MERGES,
        _BPE_VOCAB,
        bpe_greedy_kernel,
    )
    from recipes_spark.registry import all_queries

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    mb = (
        d.agg(F.sum(F.length("text"))).collect()[0][0] or 0
    ) / 1e6
    letters = "abcdefghijklmnopqrstuvwxyz"
    gen1 = [(a, b) for a, b in itertools.product(letters, repeat=2)][:676]
    gen2 = [(a + b, c + d2) for (a, b), (c, d2) in zip(gen1, gen1[1:])]
    big = (gen1 + gen2)[:1000]
    big_vocab = [a + b for a, b in big] + list(letters + "0123456789")
    schema = (
        "doc_id bigint, n_tokens bigint, n_merges bigint,"
        " n_oov bigint, ids_checksum bigint"
    )
    out = {"probe": "bpe_greedy_1k", "corpus_mb": round(mb, 1)}
    toks = {}

    def run_kernel(merges, vocab, tag):
        gen = bpe_greedy_kernel(merges, vocab)
        df = d.repartition(32).mapInPandas(gen, schema=schema)

        def run():
            toks[tag] = df.agg(F.sum("n_tokens")).collect()[0][0]

        out[f"wall_sec_{tag}"] = round(min(_timed(run) for _ in range(3)), 2)
        out[f"tokens_{tag}"] = toks[tag]
        out[f"mb_per_sec_{tag}"] = round(mb / out[f"wall_sec_{tag}"], 1)

    run_kernel(_BPE_MERGES, _BPE_VOCAB, "greedy_12")
    run_kernel(big, big_vocab, "greedy_1000")
    fold = all_queries()["x4_bpe_apply"]

    def run_fold():
        toks["fold"] = (
            fold(spark, SF_DIR).agg(F.sum("n_tokens")).collect()[0][0]
        )

    out["wall_sec_fold_12"] = round(min(_timed(run_fold) for _ in range(3)), 2)
    assert toks["fold"] == toks["greedy_12"]
    out["table_size_ratio_1000_vs_12"] = round(
        out["wall_sec_greedy_1000"] / out["wall_sec_greedy_12"], 2
    )
    return out


def probe_decontaminate_bloom(spark: SparkSession) -> dict:
    """x4_decontaminate_spans' round-12 claim measured: the 16 KiB
    benchmark-gram bloom gates the corpus at the DOCUMENT level, so on
    a low-contamination corpus (the realistic regime — an eval suite
    overlaps ~nothing) almost no doc explodes into the candidate join.
    Reports docs/grams entering the join with and without the gate,
    the reduction factors, end-to-end walls both ways, and asserts the
    two variants' outputs are IDENTICAL (the no-false-negative
    contract)."""
    from recipes_spark.queries.dataops import _decontaminate_spans_plan

    out = {"probe": "decontaminate_bloom"}
    gated = _decontaminate_spans_plan(spark, SF_DIR, use_bloom=True)
    ungated = _decontaminate_spans_plan(spark, SF_DIR, use_bloom=False)
    rows_g = sorted(tuple(r) for r in gated.collect())
    rows_u = sorted(tuple(r) for r in ungated.collect())
    assert rows_g == rows_u, "bloom gate changed decontamination output"
    out["docs"] = len(rows_g)
    out["contaminated_docs"] = sum(1 for r in rows_g if r[3] > 0)
    out["wall_sec_gated"] = round(
        min(_timed(lambda: gated.count()) for _ in range(3)), 2
    )
    out["wall_sec_ungated"] = round(
        min(_timed(lambda: ungated.count()) for _ in range(3)), 2
    )
    # Join-input volume: gram rows surviving to the candidate join.
    # Rebuild just the occ legs (the plan helper keeps them internal).
    from recipes_spark.operators.dedup import (
        bloom_build_longs,
        bloom_hit_expr,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size("w") - 7),
        lambda i: F.struct(
            i.alias("i"),
            F.conv(
                F.substring(
                    F.sha2(F.concat_ws(" ", F.slice("w", i, 8)), 256), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias("gh"),
        ),
    )
    bgrams = (
        words.filter((F.col("doc_id") < 20) & (F.size("w") >= 8))
        .select(F.explode(gram_structs).alias("g"))
        .select("g.gh")
        .distinct()
    )
    bw = bloom_build_longs(bgrams, "gh", m_bits=1 << 17, k=4)
    corpus = words.filter((F.col("doc_id") >= 20) & (F.size("w") >= 8))
    hit = corpus.filter(
        F.exists(
            gram_structs,
            lambda g: bloom_hit_expr(g["gh"], bw, m_bits=1 << 17, k=4),
        )
    )
    out["join_docs_ungated"] = corpus.count()
    out["join_docs_gated"] = hit.count()
    out["join_grams_ungated"] = corpus.select(
        F.sum(F.size("w") - 7)
    ).collect()[0][0]
    out["join_grams_gated"] = (
        hit.select(F.sum(F.size("w") - 7)).collect()[0][0] or 0
    )
    out["doc_reduction"] = (
        round(out["join_docs_ungated"] / max(out["join_docs_gated"], 1), 1)
    )
    out["gram_reduction"] = round(
        out["join_grams_ungated"] / max(out["join_grams_gated"], 1), 1
    )
    return out


def probe_quality_classifier_dim(spark: SparkSession) -> dict:
    """x4_quality_classifier_trained's 100 TB claim measured: scoring
    cost is corpus-scan-bound and INSENSITIVE to the weight-vector
    dimensionality — dim enters only the closure size and the
    per-unique-token hash, never the per-token cost. Runs the SAME
    Arrow kernel over the sf corpus at dim 64 (the literal form's
    toy config) and dim 50k (the trained serving shape) and reports
    both walls; if dim leaked into the hot loop the 50k run would
    blow up ~800x."""
    from recipes_spark.io import load
    from recipes_spark.queries.corpus_ops import (
        _QF_BAD,
        _QF_DIM,
        _QF_GOOD,
        _QF_THRESHOLD_MICRO,
        _QFT_BAD,
        _QFT_BASE_MICRO,
        _QFT_DIM,
        _QFT_GOOD,
        _QFT_THRESHOLD_MICRO,
        _qft_weight_rows,
        quality_score_kernel,
    )

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    mb = (d.agg(F.sum(F.length("text"))).collect()[0][0] or 0) / 1e6
    out = {"probe": "quality_classifier_dim", "corpus_mb": round(mb, 1)}
    schema = "doc_id bigint, n_tok bigint, score_micro bigint, keep int"
    configs = {
        "dim_64": (
            _qft_weight_rows(_QF_DIM, _QF_GOOD, _QF_BAD, _QF_THRESHOLD_MICRO),
            _QF_DIM,
            _QF_THRESHOLD_MICRO,
            _QF_THRESHOLD_MICRO,
        ),
        "dim_50k": (
            _qft_weight_rows(
                _QFT_DIM, _QFT_GOOD, _QFT_BAD, _QFT_BASE_MICRO
            ),
            _QFT_DIM,
            _QFT_BASE_MICRO,
            _QFT_THRESHOLD_MICRO,
        ),
    }
    for tag, cfg in configs.items():
        df = d.repartition(32).mapInPandas(
            quality_score_kernel(*cfg), schema=schema
        )
        out[f"wall_sec_{tag}"] = round(
            min(_timed(lambda: df.agg(F.sum("n_tok")).collect())
                for _ in range(3)),
            2,
        )
        out[f"mb_per_sec_{tag}"] = round(mb / out[f"wall_sec_{tag}"], 1)
    out["dim_ratio_50k_vs_64"] = round(
        out["wall_sec_dim_50k"] / out["wall_sec_dim_64"], 2
    )
    return out


def probe_stream_pipeline_batches(spark: SparkSession) -> dict:
    """st28's 100 TB claim measured: per-batch ingest work stays
    BATCH-sized while the carried state grows — run the advance body
    over 8 equal batches (twice the query's 4) at 1× and a mutated
    10× corpus and report the first/last batch walls. If the
    state-merge outer join were corpus-sized (or the clean stage
    re-ran history), late batches would grow ~linearly with
    accumulated state; vocabulary-scaled state keeps the tail batch
    near the head batch."""
    from recipes_spark.io import load
    from recipes_spark.session import scratch_dir
    from recipes_spark.streaming.ingest import (
        corpus_pipeline_advance_factory,
        st28_final_report,
    )

    out = {"probe": "stream_pipeline_batches"}
    big_dir = _stage_docs_sfdir(spark, mode="mutate")
    for tag, sfd in (("1x", SF_DIR), ("10x", big_dir)):
        d = load(spark, sfd, "documents").select(
            "doc_id", "source", "text", "n_chars"
        )
        state_dir = scratch_dir("probe_st28")
        fn = corpus_pipeline_advance_factory(spark, state_dir)
        walls = []
        for bid in range(8):
            bdf = d.filter(F.pmod("doc_id", F.lit(8)) == bid)
            walls.append(_timed(lambda: fn(bdf, bid)))
        out[f"wall_batch0_{tag}"] = round(walls[0], 2)
        out[f"wall_batch7_{tag}"] = round(walls[7], 2)
        out[f"tail_over_head_{tag}"] = round(walls[7] / walls[0], 2)
        # Final serve over 8 accumulated batches through the REGISTERED
        # serve path (round 12: st28_final_report derives the final
        # state generation from the dir — no more per-batch-count
        # workaround here).
        t0 = time.perf_counter()
        n = st28_final_report(spark, state_dir).count()
        out[f"wall_serve_{tag}"] = round(time.perf_counter() - t0, 2)
        out[f"shards_{tag}"] = n
    return out


def probe_bpe_train_50round(spark: SparkSession) -> dict:
    """x4_bpe_train_rounds' 100 TB claim measured: training cost is
    rounds × VOCAB, never rounds × corpus — one corpus-sized word
    count up front, then every round is a pair explode + hash agg +
    1-row TakeOrdered + broadcast apply over the DISTINCT vocabulary.
    Runs 50 data-dependent rounds (the query ships 3) with the same
    double-marked primitives and reports wall for rounds 1-10 vs
    41-50: if per-round cost grew with accumulated merges or corpus
    size, the tail decade would blow up; vocabulary-sized work keeps
    it flat-ish."""
    from recipes_spark.queries.corpus_ops import _BPE_END, _BPE_SEP

    sep, end = _BPE_SEP, _BPE_END
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    t0 = time.perf_counter()
    cur = wc.select(
        F.regexp_replace("w", "(.)", sep + "$1" + end).alias("m"), "cnt"
    ).localCheckpoint(eager=True)
    wall_wc = time.perf_counter() - t0
    rep = F.concat(
        F.lit(sep),
        F.replace(F.replace(F.col("pat"), F.lit(sep)), F.lit(end)),
        F.lit(end),
    )
    decade = {}
    merges = 0
    t_dec = time.perf_counter()
    for r in range(1, 51):
        sy = F.filter(
            F.split("m", f"[{sep}{end}]"), lambda x: x != F.lit("")
        )
        pairs = (
            cur.select(F.col("cnt"), sy.alias("sy"))
            .filter(F.size("sy") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("sy") - 1),
                        lambda i: F.concat(
                            F.lit(sep),
                            F.element_at("sy", i),
                            F.lit(end),
                            F.lit(sep),
                            F.element_at("sy", i + 1),
                            F.lit(end),
                        ),
                    )
                ).alias("pat"),
            )
        )
        win = (
            pairs.groupBy("pat")
            .agg(F.sum("cnt").cast("long").alias("freq"))
            .orderBy(F.desc("freq"), "pat")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        if win.count() == 0:
            break
        merges = r
        cur = (
            cur.crossJoin(F.broadcast(win))
            .select(F.replace("m", F.col("pat"), rep).alias("m"), "cnt")
            .localCheckpoint(eager=True)
        )
        if r % 10 == 0:
            decade[f"wall_rounds_{r - 9}_{r}"] = round(
                time.perf_counter() - t_dec, 2
            )
            t_dec = time.perf_counter()
    return {
        "probe": "bpe_train_50round",
        "wall_wordcount_sec": round(wall_wc, 2),
        "rounds_completed": merges,
        **decade,
    }


def probe_minhash_portable(spark: SparkSession) -> dict:
    """The price of oracle-replayability on the MinHash banding stage
    (round 12): band_hashes with the default xxhash64 base vs the
    portable sha-slice base (x2_minhash_lsh's oracled form), at 1x and
    a 10x mutated corpus. The two differ ONLY in the per-shingle base
    hash (one sha256+conv vs one xxhash64, both JVM-side before the
    identical numpy kernel), so the wall ratio isolates the hash
    premium; row counts are asserted equal (both emit docs x bands
    rows)."""
    from recipes_spark.io import load, scale_partitions
    from recipes_spark.functions.text import word_shingles
    from recipes_spark.operators.dedup import band_hashes

    out = {"probe": "minhash_portable"}
    big_dir = _stage_docs_sfdir(spark, mode="mutate")
    for tag, sfd in (("1x", SF_DIR), ("10x", big_dir)):
        d = scale_partitions(load(spark, sfd, "documents")).select(
            "doc_id", word_shingles("text", 3).alias("sh")
        )
        counts = {}
        for fam, portable in (("xxh", False), ("sha", True)):
            n = None

            def run():
                nonlocal n
                n = band_hashes(
                    d, id_col="doc_id", set_col="sh",
                    num_hashes=64, bands=16, portable=portable,
                ).count()

            out[f"wall_sec_{fam}_{tag}"] = round(
                min(_timed(run) for _ in range(3)), 2
            )
            counts[fam] = n
        assert counts["xxh"] == counts["sha"], counts
        out[f"rows_{tag}"] = counts["sha"]
        out[f"sha_over_xxh_{tag}"] = round(
            out[f"wall_sec_sha_{tag}"] / out[f"wall_sec_xxh_{tag}"], 2
        )
    return out


def probe_dp_grid_10x(spark: SparkSession) -> dict:
    """g1_trajectory_simplify (round-12 integer-grid DP) at 1× vs 10×
    POINTS PER USER — trajectory LENGTH, the dimension that stresses
    DP: the mask is row-local but worst-case O(n·splits) per
    trajectory, and the kept-vertex count grows with the wiggle the
    extra points add. Replicas get fresh event_ids (fresh
    pseudo-random grid coords) under the same user, so every
    trajectory genuinely densifies 10×."""
    import os

    from recipes_spark.io import load
    from recipes_spark.registry import all_queries
    from recipes_spark.session import scratch_dir

    q = all_queries()["g1_trajectory_simplify"]
    out = {"probe": "dp_grid_10x"}
    ev = load(spark, SF_DIR, "events")
    big_dir = scratch_dir("dp10x")
    reps = spark.range(10).select(F.col("id").alias("rep"))
    big = (
        ev.crossJoin(reps)
        .withColumn(
            "event_id", F.col("event_id") * F.lit(1000003) + F.col("rep")
        )
        .drop("rep")
    )
    big.write.mode("overwrite").parquet(
        os.path.join(big_dir, "events.parquet")
    )
    for tag, sfd in (("1x", SF_DIR), ("10x", big_dir)):
        n_out = None

        def run():
            nonlocal n_out
            n_out = (
                q(spark, sfd)
                .agg(F.sum("n_out").alias("s"))
                .collect()[0]["s"]
            )

        out[f"wall_sec_{tag}"] = round(min(_timed(run) for _ in range(2)), 2)
        out[f"kept_vertices_{tag}"] = int(n_out)
    import math

    out["exponent"] = round(
        math.log(out["wall_sec_10x"] / out["wall_sec_1x"]) / math.log(10), 2
    )
    return out


def probe_dp_chunked_dense(spark: SparkSession, reps_n: int = 100) -> dict:
    """g1 vs g1_trajectory_simplify_chunked at 100× POINTS PER USER
    (r12 verdict task 4's probe): the unchunked form assembles one
    user's whole point array in one task (collect_list) — fine at
    thousands of points, the documented bound at millions; the chunked
    form holds ≤ chunk+1 points per task whatever the trajectory
    length. Same densification protocol as dp_grid_10x (fresh
    pseudo-random grid coords per replica under the same user)."""
    import os

    from recipes_spark.io import load
    from recipes_spark.registry import all_queries
    from recipes_spark.session import scratch_dir

    q = all_queries()
    ev = load(spark, SF_DIR, "events")
    big_dir = scratch_dir("dpchunk")
    reps = spark.range(reps_n).select(F.col("id").alias("rep"))
    (
        ev.crossJoin(reps)
        .withColumn(
            "event_id", F.col("event_id") * F.lit(1000003) + F.col("rep")
        )
        .drop("rep")
        .write.mode("overwrite")
        .parquet(os.path.join(big_dir, "events.parquet"))
    )
    out = {"probe": "dp_chunked_dense", "reps": reps_n}
    for tag, name in (
        ("unchunked", "g1_trajectory_simplify"),
        ("chunked", "g1_trajectory_simplify_chunked"),
    ):
        kept = None

        def run():
            nonlocal kept
            kept = (
                q[name](spark, big_dir)
                .agg(F.sum("n_out").alias("s"))
                .collect()[0]["s"]
            )

        out[f"wall_sec_{tag}"] = round(min(_timed(run) for _ in range(2)), 2)
        out[f"kept_vertices_{tag}"] = int(kept)
    out["wall_ratio_chunked"] = round(
        out["wall_sec_chunked"] / out["wall_sec_unchunked"], 2
    )
    return out


def probe_coarse_kmeans_scaling(spark: SparkSession) -> dict:
    """train_coarse_centroids_int centroid-count scaling (r12 verdict
    task 5's SCALE row): the 100 TB claim is that k enters kernel
    FLOPs and the k·dim collect, NOT the shuffle structure — per round
    the exchange carries batches × k × dim partial rows whatever the
    corpus size. Train 2 rounds on the sf0.1 embeddings at k=16 vs
    k=128 (8×) and k=256 (16×) and report the wall ratios; a ratio
    tracking k would mean the update shuffle (not the vectorized
    distance kernel) dominates and a bigger k needs a different
    update path."""
    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        train_coarse_centroids_int,
    )

    e = load(spark, SF_DIR, "embeddings")
    out = {"probe": "coarse_kmeans_scaling", "n_vectors": e.count()}
    for k in (16, 128, 256):
        def run(k=k):
            train_coarse_centroids_int(e, k=k, iters=2)

        out[f"wall_sec_k{k}"] = round(min(_timed(run) for _ in range(2)), 2)
    out["ratio_k128_over_k16"] = round(
        out["wall_sec_k128"] / out["wall_sec_k16"], 2
    )
    out["ratio_k256_over_k16"] = round(
        out["wall_sec_k256"] / out["wall_sec_k16"], 2
    )
    return out


def probe_coarse_trainer_r14(spark: SparkSession) -> dict:
    """The two axes the r13 verdict asked the distributed trainer to
    prove past its measured edge, on the NEW exact norm-expansion
    kernel:

    - CORPUS axis: k=64 fixed, vectors ×1/×10/×100 (replicated with
      distinct ids — the mutate protocol); the claim is one staged
      scan per round, so the exponent should read ~1.0 and anything
      past ~1.1 means the update exchange or the staging repartition
      grew super-linearly.
    - CENTROID axis, extended two doublings past r13's k=256: on the
      ×10 corpus (20k vectors — k must stay below corpus size for the
      hash-ranked init), k 256 → 1024 → 4096. The r13 kernel would
      materialize batch×k×dim int64 here (~21 GB per 10k-row batch at
      k=4096); the expansion kernel holds O(batch×k)."""
    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        train_coarse_centroids_int,
    )

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = e.count()
    out = {"probe": "coarse_trainer_r14", "n_vectors_1x": n}

    def reps(r: int):
        return (
            e.crossJoin(
                spark.range(r).select(F.col("id").alias("__r"))
            )
            .select(
                (F.col("vec_id") + F.col("__r") * n).alias("vec_id"),
                "embedding",
            )
        )

    for r in (1, 10, 100):
        def run(r=r):
            train_coarse_centroids_int(reps(r), k=64, iters=2)

        out[f"wall_sec_corpus_{r}x"] = round(
            min(_timed(run) for _ in range(2)), 2
        )
    import math

    out["corpus_exponent_10x_100x"] = round(
        math.log(
            out["wall_sec_corpus_100x"] / out["wall_sec_corpus_10x"]
        )
        / math.log(10),
        2,
    )
    big = reps(10).localCheckpoint(eager=True)
    for k in (256, 1024, 4096):
        def run(k=k):
            train_coarse_centroids_int(big, k=k, iters=2)

        out[f"wall_sec_k{k}_10x"] = round(
            min(_timed(run) for _ in range(2)), 2
        )
    out["ratio_k4096_over_k256"] = round(
        out["wall_sec_k4096_10x"] / out["wall_sec_k256_10x"], 2
    )
    return out


def probe_adc_table_broadcast(spark: SparkSession) -> dict:
    """Where the byte-width ADC's literal-table plan stops being the
    right shape (r13 verdict task 1's SCALE ask): ivf_pq_topk_int
    ships each query's m × k_codes integer distance table as array
    literals on the broadcast probe rows — at m=4 × k=256 that is
    8 KB per probe row (nprobe rows per query), so the broadcast
    payload grows as Q·nprobe·m·k_codes·8 B. Sweep the query count
    and report wall + payload; the flattening point is where a real
    deployment flips the probe side from broadcast literals to a
    shuffled probe TABLE (same join, no literal arrays)."""
    from recipes_spark.io import load
    from recipes_spark.operators.similarity import ivf_pq_topk_int

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    out = {"probe": "adc_table_broadcast", "n_vectors": e.count()}
    nprobe, m, k_codes = 14, 4, 256
    for nq in (5, 25, 100):
        q = e.filter(F.col("vec_id") < nq).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

        def run(q=q):
            ivf_pq_topk_int(
                e, q, k=10, n_centroids=16, nprobe=nprobe, refine=16,
                m=m, k_codes=k_codes, code_bits=8,
            ).count()

        out[f"wall_sec_q{nq}"] = round(
            min(_timed(run) for _ in range(2)), 2
        )
        out[f"payload_mb_q{nq}"] = round(
            nq * nprobe * m * k_codes * 8 / 1e6, 2
        )
    return out


def probe_residual_pq_10x(spark: SparkSession) -> dict:
    """Residual vs raw IVF-PQ at 1× and 10× vectors (id-shifted
    replication), same knobs (m=4 × k=256 byte codes, n_centroids=16,
    nprobe=14, refine=16): recall@10 vs brute force and wall per leg,
    plus the mean reconstruction-SSE ratio (residual ÷ raw) — the
    number the residual claim stands on as the corpus grows."""
    import numpy as np
    import pyspark.sql.functions as FF

    from recipes_spark.io import load
    from recipes_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_residual_topk_int,
        ivf_pq_topk_int,
        pq_encode_int,
        train_coarse_centroids_int,
        train_pq_codebooks_int,
        _d2_int,
        _train_books_from_milli,
    )

    e0 = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = e0.count()
    out = {"probe": "residual_pq_10x", "n_vectors_1x": n}
    for r in (1, 10):
        e = (
            e0.crossJoin(spark.range(r).select(FF.col("id").alias("__r")))
            .select(
                (FF.col("vec_id") + FF.col("__r") * n).alias("vec_id"),
                "embedding",
            )
            .localCheckpoint(eager=True)
        )
        q = e.filter(FF.col("vec_id") < 5).select(
            FF.col("vec_id").alias("query_id"),
            FF.col("embedding").alias("query_vec"),
        )
        exact = {
            (x.query_id, x.vec_id)
            for x in brute_force_topk(e, q, k=10).collect()
        }
        coarse = train_coarse_centroids_int(e, k=16, iters=3)

        def rec(rows):
            return round(
                sum(1 for x in rows if (x.query_id, x.vec_id) in exact)
                / len(exact),
                3,
            )

        def raw():
            return ivf_pq_topk_int(
                e, q, k=10, n_centroids=16, nprobe=14, refine=16,
                m=4, k_codes=256, code_bits=8, coarse_milli=coarse,
            ).collect()

        def res():
            return ivf_pq_residual_topk_int(
                e, q, k=10, n_centroids=16, nprobe=14, refine=16,
                m=4, k_codes=256, code_bits=8, coarse_milli=coarse,
            ).collect()

        t0 = time.time(); raw_rows = raw(); t_raw = time.time() - t0
        t0 = time.time(); res_rows = res(); t_res = time.time() - t0
        out[f"recall_raw_{r}x"] = rec(raw_rows)
        out[f"recall_residual_{r}x"] = rec(res_rows)
        out[f"wall_sec_raw_{r}x"] = round(t_raw, 2)
        out[f"wall_sec_residual_{r}x"] = round(t_res, 2)
        # distortion ratio on the shared sample-trained books
        srows = (
            e.select("vec_id", "embedding").orderBy("vec_id")
            .limit(2048).collect()
        )
        sids = [int(x[0]) for x in srows]
        Sm = np.floor(
            np.asarray(
                [np.asarray(x[1], dtype=np.float64) for x in srows]
            )
            * 1000.0
        ).astype(np.int64)
        cells = np.argmin(_d2_int(Sm, coarse), axis=1)
        rb = _train_books_from_milli(sids, Sm, m=4, k=256, iters=5)
        eb = _train_books_from_milli(
            sids, Sm - coarse[cells], m=4, k=256, iters=5
        )
        sse_raw = (
            pq_encode_int(e, rb, code_bits=8)
            .agg(FF.avg("sse_milli2"))
            .collect()[0][0]
        )
        sse_res = (
            pq_encode_int(
                e, eb, code_bits=8, coarse_milli=coarse, residual=True
            )
            .agg(FF.avg("sse_milli2"))
            .collect()[0][0]
        )
        out[f"sse_ratio_residual_over_raw_{r}x"] = round(
            float(sse_res) / float(sse_raw), 3
        )
    return out


PROBES = {
    "minhash_portable": probe_minhash_portable,
    "coarse_kmeans_scaling": probe_coarse_kmeans_scaling,
    "coarse_trainer_r14": probe_coarse_trainer_r14,
    "adc_table_broadcast": probe_adc_table_broadcast,
    "residual_pq_10x": probe_residual_pq_10x,
    "dp_chunked_dense": probe_dp_chunked_dense,
    "packing_tail_100x": probe_packing_tail_100x,
    "dp_grid_10x": probe_dp_grid_10x,
    "cc_chain": probe_cc_chain,
    "bpe_greedy_1k": probe_bpe_greedy_1k,
    "bpe_train_50round": probe_bpe_train_50round,
    "stream_pipeline_batches": probe_stream_pipeline_batches,
    "cc_skew": probe_cc_skew,
    "bloom_10x": probe_bloom_10x,
    "epoch_shuffle": probe_epoch_shuffle,
    "ann_10x": probe_ann_10x,
    "ann_recall_10x": probe_ann_recall_10x,
    "corpus_pipeline_10x": probe_corpus_pipeline_10x,
    "substring_dedup_10x": probe_substring_dedup_10x,
    "pagerank": probe_pagerank,
    "skew_join": probe_skew_join,
    "zorder_pruning": probe_zorder_pruning,
    "interval_join": probe_interval_join,
    "incremental_cc": probe_incremental_cc,
    "spatial_knn": probe_spatial_knn,
    "partition_pruning": probe_partition_pruning,
    "gram_block": probe_gram_block,
    "global_rank": probe_global_rank,
    "per_key_rank": probe_per_key_rank,
    "quality_classifier_dim": probe_quality_classifier_dim,
    "decontaminate_bloom": probe_decontaminate_bloom,
}


if __name__ == "__main__":
    names = sys.argv[1:] or list(PROBES)
    spark = _spark()
    for name in names:
        print(json.dumps(PROBES[name](spark)), flush=True)
