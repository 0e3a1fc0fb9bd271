"""Training-corpus preparation operators (north star, SURVEY.md §2.12
X4 extensions): PII scrubbing, within-document repetition scoring,
benchmark-contamination detection, and token-length histograms — the
cleaning passes a 100 TB pretraining pipeline runs between dedup and
tokenization. All pure Catalyst (regexp/array/join machinery), each
replayed exactly by the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from recipes_spark.io import load, scale_partitions
from recipes_spark.registry import query
from recipes_spark.session import scratch_dir

# Deterministic synthetic PII injection: the corpus text is clean, so
# every 5th doc gets an email and every 7th a phone appended — the same
# injection expression on both sides keeps the oracle exact.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"\d{3}-\d{3}-\d{4}"


@query(
    "x4_pii_scrub",
    oracle=f"""
WITH dirty AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call 555-867-5309' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM dirty
ORDER BY doc_id
""",
)
def x4_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact email/phone patterns. regexp_count
    and regexp_replace are JVM-side codegen — at 100 TB this pass is
    scan-bound, not CPU-bound."""
    d = load(spark, sf_dir, "documents")
    dirty = scale_partitions(d).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-867-5309"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return dirty.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean_text"),
    ).orderBy("doc_id")


@query(
    "x4_repetition_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 4) AS repetition
FROM toks
ORDER BY doc_id
""",
)
def x4_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (1 - distinct/total tokens): the
    boilerplate/spam signal used to drop template-generated text. Pure
    array ops, row-local."""
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
        F.round(1.0 - F.size(F.array_distinct(t)) / F.size(t), 4).alias(
            "repetition"
        ),
    ).orderBy("doc_id")


@query(
    "x4_contamination",
    oracle="""
WITH bench_sh AS (
  SELECT DISTINCT unnest([array_to_string(t[i:i+7], ' ')
                          FOR i IN range(1, greatest(len(t) - 6, 1))]) AS shingle
  FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 10)
), corpus_sh AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+7], ' ')
                 FOR i IN range(1, greatest(len(t) - 6, 1))])) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id >= 10)
)
SELECT c.doc_id, count(DISTINCT c.shingle) AS n_hits
FROM corpus_sh c JOIN bench_sh b ON c.shingle = b.shingle
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def x4_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 8-gram collision join between the
    corpus and a held-out set (docs 0-9 stand in for the benchmark).
    Plan shape at 100 TB: benchmark shingles are a few million rows →
    BROADCAST; the corpus side explodes shingles but aggregates
    per-doc before any shuffle. Docs sharing ≥1 8-gram with the
    benchmark are flagged with their hit count."""
    d = load(spark, sf_dir, "documents")

    # Guard short docs: sequence(1, 0) DESCENDS ([1, 0]) rather than
    # returning empty, and slice(_, 0, _) then errors. One expression
    # string for the whole shingle projection (single parse round trip
    # per build — the round-16 driver-chatter pass; the SQL lambda `i`
    # is a fixed name, as fingerprint-stable as the Column form's
    # normalizer-masked x_<n>).
    _SH = (
        "CASE WHEN size(split(text, ' ')) >= 8 THEN"
        " array_distinct(transform(sequence(1, size(split(text, ' ')) - 7),"
        " i -> concat_ws(' ', slice(split(text, ' '), i, 8))))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )

    def shingles(df: DataFrame) -> DataFrame:
        return df.selectExpr("doc_id", f"explode({_SH}) AS shingle")

    bench = (
        shingles(d.filter(F.col("doc_id") < 10))
        .select("shingle")
        .distinct()
    )
    # Fan the corpus out BEFORE shingling: the single-file testdata scan
    # is one task, and 8-gram assembly is the CPU cost of this query.
    corpus = shingles(scale_partitions(d.filter(F.col("doc_id") >= 10)))
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
        .orderBy("doc_id")
    )


@query(
    "x6_packing_plan",
    oracle="""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
), packed AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM packed
GROUP BY seq_id
ORDER BY seq_id
""",
)
def x6_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan (concat-and-split at 512 tokens): each doc
    is assigned to the training sequence where its first token lands —
    running cumsum over a global doc order, the same computation a
    pretraining dataloader does. The cumsum runs shard-parallel via
    operators/prefix.partitioned_prefix_sum (range shuffle + partitioned
    window + broadcast shard offsets), NOT an unpartitioned window —
    the plan has no single-task stage (tests/test_plans.py asserts)."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum

    d = load(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    packed = partitioned_prefix_sum(
        d.select(F.col("doc_id"), n.alias("n")),
        order_col="doc_id",
        value_col="n",
        out_col="cum",
        shards=32,
    )
    return (
        packed.select(
            F.floor((F.col("cum") - F.col("n")) / 512).cast("long").alias(
                "seq_id"
            ),
            "n",
            "doc_id",
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("seq_id")
    )


@query("x6_stratified_sample")
def x6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling (per-language quotas — the data-mix
    rebalancing step). sampleBy is seeded per-row Bernoulli: exact
    fractions are random, so rows-only; tests/test_corpus.py asserts
    per-stratum proportion bounds. At 100 TB this is the one-pass
    alternative to per-stratum sort+limit quotas. This is the
    documented RNG alternative — x6_stratified_hash_sample is the
    deterministic, exactly-oracled primary (portable hash-threshold
    keep, reproducible across engines/runs/partitionings)."""
    d = load(spark, sf_dir, "documents")
    langs = [r[0] for r in d.select("lang").distinct().collect()]
    fractions = {l: (0.5 if i % 2 == 0 else 0.2) for i, l in enumerate(sorted(langs))}
    sample = d.sampleBy("lang", fractions=fractions, seed=42)
    return (
        sample.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


@query(
    "x4_length_histogram",
    oracle="""
SELECT CAST(least(floor(len(string_split(text, ' ')) / 10), 9) AS BIGINT)
         AS bucket,
       count(*) AS n_docs,
       CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY bucket
ORDER BY bucket
""",
)
def x4_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (10-token buckets, capped): the corpus
    length profile that drives packing/truncation decisions. One hash
    agg; at scale identical."""
    d = load(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    bucket = F.least(F.floor(n / 10), F.lit(9)).cast("long")
    return (
        d.select(bucket.alias("bucket"), n.alias("n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
        .orderBy("bucket")
    )


@query(
    "x6_hash_sample",
    oracle="""
SELECT doc_id, lang,
       CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         % 100 AS bucket
FROM documents
WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 100 < 30
""",
)
def x6_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~30% sample: bucket = first 8 hex chars of
    sha256(doc_id) mod 100. Unlike rand()-based sampling this is
    reproducible across runs/engines/partitionings, composable (bucket
    ranges = disjoint samples, grow a sample by widening the range),
    and needs no shuffle — row-local projection + filter, the only
    sound way to cut eval/holdout splits from a 100 TB corpus."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return d.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < 30
    )


@query(
    "x6_corpus_clean_e2e",
    oracle="""
WITH dedup AS (
  SELECT *, row_number() OVER (PARTITION BY sha256(text)
                               ORDER BY doc_id) AS rn
  FROM documents
), survivors AS (
  SELECT doc_id, text, lang, source, n_chars
  FROM dedup WHERE rn = 1
), quality AS (
  SELECT * FROM survivors
  WHERE len(string_split(text, ' ')) >= 30 AND n_chars >= 100
), sampled AS (
  SELECT * FROM quality
  WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 100 < 50
)
SELECT lang, source,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_chars) AS BIGINT)  AS total_chars,
       CAST(sum(CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT))
            AS BIGINT)               AS text_checksum,
       min(doc_id)                   AS min_id,
       max(doc_id)                   AS max_id
FROM sampled
GROUP BY lang, source
ORDER BY lang, source
""",
)
def x6_corpus_clean_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus cleaning as ONE composed plan — the proof the
    pipeline pieces COMPOSE, not just pass in isolation: exact dedup
    (sha256 group, min-id survivor — x1's rule), quality filtering
    (token and char floors — the x4 family's signal shape), and the
    deterministic 50% hash sample (x6_hash_sample's bucket rule), then
    a per-(lang, source) audit whose portable text checksum makes any
    dropped, duplicated, or mutated doc break the hash. The oracle
    replays every stage, so a stage-ordering bug (sampling before
    dedup changes survivors), an off-by-one in a floor, or a
    nondeterministic survivor all surface as a value mismatch.

    100 TB: the CORPUS moves through exactly one shuffle (the dedup
    window on uniform sha keys); the filters and the sample are
    row-local in the same stage, and the audit's own exchange ships
    only partial-aggregated (lang, source) rows — group-count-sized,
    not corpus-sized. One DataFrame instead of three materialized
    passes is the point."""
    from recipes_spark.functions.portable_hash import sha_slice_bucket

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    survivors = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    quality = survivors.filter(
        (F.size(F.split("text", " ")) >= 30) & (F.col("n_chars") >= 100)
    )
    sampled = quality.filter(
        sha_slice_bucket(F.col("doc_id").cast("string"), 100) < 50
    )
    checksum = F.conv(
        F.substring(F.sha2("text", 256), 1, 8), 16, 10
    ).cast("long")
    return (
        sampled.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(checksum).cast("long").alias("text_checksum"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang", "source")
    )


@query(
    "x6_interleave_schedule",
    oracle="""
WITH w AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS wt
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(wt) AS BIGINT) AS total FROM w
), quota AS (
  SELECT source, wt,
         greatest(1, (wt * 200) // (SELECT total FROM tot)) AS q
  FROM w
), slots AS (
  SELECT source, wt, CAST(unnest(range(0, q)) AS BIGINT) AS k
  FROM quota
), keyed AS (
  SELECT source, k,
         ((k + 1) * 1000000000000) // wt AS vkey
  FROM slots
)
SELECT CAST(row_number() OVER (ORDER BY vkey, source, k) AS BIGINT)
         AS position,
       source, k, vkey
FROM keyed
ORDER BY position
""",
)
def x6_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED-FAIR INTERLEAVE — the schedule a training
    data loader follows when mixing sources by weight (the consumer of
    x6_mixture_weights): source s's k-th item is scheduled at virtual
    time (k+1)/w_s, and the global order sorts those times — standard
    weighted fair queueing, so heavier sources both appear earlier and
    recur more often, with NO long same-source runs (the failure mode
    of naive concatenation) and no RNG (reproducible across runs,
    engines, and partitionings). Virtual times are scaled-integer
    division, so both engines sort identical keys; (source, k) breaks
    the remaining ties totally.

    100 TB: the schedule is quota-sized metadata (~one row per emitted
    shard slot), not corpus-sized — compute it once, broadcast it, and
    let each reader task binary-search its slot range; the corpus
    itself is never globally sorted."""
    d = load(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("wt")
    )
    total = w.agg(F.sum("wt").cast("long").alias("total"))
    quota = w.crossJoin(F.broadcast(total)).select(
        "source",
        "wt",
        F.greatest(F.lit(1), F.expr("(wt * 200) div total")).alias("q"),
    )
    slots = quota.select(
        "source",
        "wt",
        F.explode(F.sequence(F.lit(0), F.col("q") - 1)).alias("k"),
    ).select(
        "source",
        F.col("k").cast("long").alias("k"),
        F.expr("((k + 1) * 1000000000000) div wt").alias("vkey"),
    )
    return (
        slots.select(
            F.row_number()
            .over(Window.orderBy("vkey", "source", "k"))
            .cast("long")
            .alias("position"),
            "source",
            "k",
            "vkey",
        )
        .orderBy("position")
    )


@query(
    "x4_zipf_fit",
    oracle="""
WITH tc AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r
  FROM tc
), pts AS (
  SELECT CAST(floor(ln(r) * 1000000) AS BIGINT) AS x,
         CAST(floor(ln(c) * 1000000) AS BIGINT) AS y
  FROM ranked WHERE r <= 1000
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM pts
)
SELECT n,
       CAST(floor(1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx))
            AS BIGINT) AS slope_micro,
       CAST(floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                  / n) AS BIGINT) AS intercept_micro
FROM s
""",
)
def x4_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT over the corpus vocabulary — the log-log regression
    slope of frequency against rank for the top 1000 terms, the
    corpus-health diagnostic (natural text sits near slope −1;
    template/boilerplate-heavy corpora flatten, spam steepens).
    Exactness discipline = agg_corr_regression's: each point's log
    coordinates are FLOORED to integer micro-units (ln of
    integer-valued doubles — the same accepted per-term libm class as
    the NLL/KL family), the co-moment sums accumulate as exact
    integers, and one fixed-shape double expression emits floor-scaled
    slope/intercept — the regression itself cannot float-flake.

    100 TB: term counts are the usual map-side-combining shuffle; the
    top-1000 selection is TakeOrderedAndProject (k-row heap per
    partition — a web-scale vocabulary of typo/URL singletons NEVER
    sorts globally; the round-9 shape ranked the whole distinct-term
    table in one task and then discarded 99.99% of it), and only the
    1000 survivors see the rank window (bounded single partition,
    deliberate — the x4_vocab_encode shape). The fit reads 1000 rows —
    metadata-sized after the first aggregation."""
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tc.orderBy(F.desc("c"), F.asc("term")).limit(1000)
    ranked = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "term"))
        .alias("r"),
    )
    pts = ranked.select(
        F.floor(F.log("r") * 1_000_000).cast("long").alias("x"),
        F.floor(F.log("c") * 1_000_000).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "n",
        F.floor(1000000.0 * cov_n / varx_n).cast("long").alias("slope_micro"),
        F.floor(
            (F.col("sy") - (cov_n / varx_n) * F.col("sx")) / F.col("n")
        )
        .cast("long")
        .alias("intercept_micro"),
    )


@query(
    "x4_source_kl",
    oracle="""
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), c AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM t GROUP BY 1, 2
), m AS (
  SELECT source, term, c,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ns,
         CAST(sum(c) OVER (PARTITION BY term) AS BIGINT)   AS cw,
         CAST(sum(c) OVER () AS BIGINT)                    AS n
  FROM c
)
SELECT source,
       CAST(sum(CAST(floor(
         (c * 1.0 / ns) * log2((c * 1.0 * n) / (ns * 1.0 * cw)) * 1000000
       ) AS BIGINT)) AS BIGINT) AS kl_micro
FROM m
GROUP BY source
ORDER BY source
""",
)
def x4_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    D(P_source || P_corpus) = Σ p_s(w)·log2(p_s(w)/p(w)) — the
    domain-shift / contamination-drift signal mixture tuning reads
    (a source whose token distribution diverges is over-specialized or
    polluted). Follows x4_unigram_nll's exactness discipline: every
    per-term contribution is FLOORED to integer micro-units before the
    sum, so the aggregate is an order-free integer SUM — summation
    order, the float-aggregate flake class, cannot differ between
    engines. All count ratios are exact-integer-valued doubles
    (products < 2^53) fed to the same log2 expression shape on both
    sides.

    100 TB: one shuffle to (source, term) counts — the token stream
    collapses map-side; the three marginals are windows over the
    counts frame (term-partition, source-partition, global), each
    vocabulary-sized, never token-sized."""
    d = load(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = c.select(
        "source",
        "term",
        "c",
        F.sum("c").over(Window.partitionBy("source")).alias("ns"),
        F.sum("c").over(Window.partitionBy("term")).alias("cw"),
        F.sum("c").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    term_kl = F.floor(
        (F.col("c") / F.col("ns"))
        * F.log2((F.col("c") * F.col("n")) / (F.col("ns") * F.col("cw")))
        * 1_000_000
    ).cast("long")
    return (
        m.groupBy("source")
        .agg(F.sum(term_kl).cast("long").alias("kl_micro"))
        .orderBy("source")
    )


@query(
    "x4_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 4, 1) + 1),
           i -> array_to_string(t[i:i+4], ' ')
         ))) AS gram
  FROM toks
), firsts AS (
  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(CASE WHEN f.first_doc = g.doc_id THEN 1 END)
            AS BIGINT) AS n_novel,
       CAST((count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) * 10000)
            // count(*) AS BIGINT) AS novelty_bp
FROM g JOIN firsts f USING (gram)
GROUP BY g.doc_id
ORDER BY doc_id
""",
)
def x4_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY per document — for each doc, the fraction of its
    distinct word 5-grams whose FIRST occurrence (min doc_id over the
    corpus) is this doc: the memorization/novelty signal train-set
    curation uses to find boilerplate-heavy docs (low novelty = mostly
    n-grams already seen earlier) and is the per-doc complement of
    x2_span_scrub's span removal. Basis points via integer floor, so
    both engines agree exactly.

    100 TB: distinct grams stay row-local until ONE exchange on the
    gram key (the window's partition), which is near-uniform (natural
    text n-grams are heavy-tailed but the window's min is
    partial-aggregatable map-side); the per-doc rollup reuses the
    doc_id exchange. At real scale ship xxhash64(gram) through the
    shuffle instead of the string — equality is all the min needs —
    and accept the 2^-64 collision rate."""
    from recipes_spark.functions.text import word_shingles

    d = load(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.explode(word_shingles("text", 5)).alias("gram")
    )
    first = Window.partitionBy("gram")
    marked = g.select(
        "doc_id",
        (F.min("doc_id").over(first) == F.col("doc_id")).alias("is_novel"),
    )
    novel = F.sum(F.when(F.col("is_novel"), 1).otherwise(0))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 10000) div n_grams").alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


@query(
    "x6_weighted_sample",
    oracle="""
SELECT source, doc_id, n_chars, priority
FROM (
  SELECT source, doc_id, n_chars,
         CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) // n_chars AS priority,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) // n_chars, doc_id) AS rn
  FROM documents
  WHERE n_chars > 0
)
WHERE rn <= 5
ORDER BY source, doc_id
""",
)
def x6_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED deterministic sampling — hash-priority selection where
    a doc's chance of making the sample scales with its weight
    (n_chars here; quality score in production): priority =
    portable_hash(doc_id) div weight, keep the 5 LOWEST priorities per
    source. A doc with 2x the weight halves its priority, exactly the
    A-ES weighted-reservoir idea (rank by u^(1/w)) carried out in
    integer arithmetic so both engines agree bit-for-bit — rand()-based
    weighted sampling is neither reproducible nor cross-engine
    checkable.

    Complements x6_hash_sample (uniform) and x6_temperature_sample
    (source-level rates) with ROW-level weights. 100 TB: priority is a
    row-local projection; per-source top-5 is one TakeOrdered-style
    window — at scale swap the window for a per-partition partial top-k
    then merge (brute_force_topk's two-phase shape), same total order."""
    from recipes_spark.functions.portable_hash import weighted_priority

    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    prio = d.select(
        "source",
        "doc_id",
        "n_chars",
        weighted_priority("doc_id", "n_chars").alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        prio.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("source", "doc_id")
    )


@query(
    "udtf_chunk_text",
    oracle="""
SELECT doc_id, u.chunk_id AS chunk_id, u.start_tok AS start_tok,
       u.chunk AS chunk, u.n_tokens AS n_tokens
FROM (
  SELECT doc_id,
         unnest([{'chunk_id': s // 15, 'start_tok': s,
                  'chunk': array_to_string(t[s+1:s+20], ' '),
                  'n_tokens': len(t[s+1:s+20])}
                 FOR s IN range(0, len(t), 15)]) AS u
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
""",
)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 UDTF surface: one-row→many-rows expansion through a Python
    user-defined TABLE function joined LATERALly — overlapping 20-token
    chunks with stride 15, the doc→chunk expansion an embedding pipeline
    runs before ANN indexing. Arrow-optimized (useArrow): batches cross
    the Python boundary columnar. The UDTF is the extension point for
    expansions no builtin expresses (the reference's one-file→many-items
    shape, e.g. per-variable NetCDF unpacking); for pure token windows a
    Catalyst transform(sequence(...)) also works — the UDTF variant is
    verified against the same oracle."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_id: bigint, start_tok: bigint, chunk: string, n_tokens: bigint",
        useArrow=True,
    )
    class ChunkText:
        def eval(self, text: str):
            toks = text.split(" ")
            for start in range(0, len(toks), 15):
                window = toks[start : start + 20]
                yield start // 15, start, " ".join(window), len(window)

    spark.udtf.register("recipes_chunk_text", ChunkText)
    d = load(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("udtf_chunk_src")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.start_tok, c.chunk, c.n_tokens
        FROM udtf_chunk_src d,
             LATERAL recipes_chunk_text(d.text) c
        """
    )


_SW_EN_SQL = None  # built lazily below from functions.text.STOPWORDS


def _sw_en_sql() -> str:
    from recipes_spark.functions.text import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


def _quality_sql() -> str:
    return f"""round(greatest(least(
           0.4 * (len(list_filter(string_split(text, ' '),
                                  t -> list_contains({_sw_en_sql()}, t))) * 1.0
                  / len(string_split(text, ' ')))
           + 0.3 * (1.0 - len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / length(text))
           + 0.3 * (1.0 - len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text)),
           1.0), 0.0), 4)"""


def _register_prune_funnel() -> None:
    oracle = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {_quality_sql()} AS q,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM documents
), f AS (
  SELECT n_tokens,
         (rn = 1)                                    AS k2,
         (rn = 1 AND q >= 0.45)                      AS k3,
         (rn = 1 AND q >= 0.45 AND lang = 'en')      AS k4
  FROM t
)
SELECT 's1_raw' AS stage, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM f
UNION ALL
SELECT 's2_exact_dedup', count(*) FILTER (k2),
       CAST(sum(n_tokens) FILTER (k2) AS BIGINT) FROM f
UNION ALL
SELECT 's3_quality', count(*) FILTER (k3),
       CAST(sum(n_tokens) FILTER (k3) AS BIGINT) FROM f
UNION ALL
SELECT 's4_lang_en', count(*) FILTER (k4),
       CAST(sum(n_tokens) FILTER (k4) AS BIGINT) FROM f
"""

    @query("corpus_prune_funnel", oracle=oracle)
    def corpus_prune_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end corpus-pruning funnel: raw -> exact dedup (keep
        lowest doc_id per sha256(text)) -> quality threshold -> language
        filter, reported as cumulative (docs, tokens) survival per stage.
        One scan: the text column is hashed and scored map-side, so the
        only shuffle (the dedup window) carries just (doc_id, lang,
        n_tokens, q, hash) — never text; all four stage counts come from
        conditional aggregation on the same pass, the audit shape a
        100 TB cleaning pipeline needs without re-scanning per stage."""
        from pyspark.sql import Window

        from recipes_spark.functions.text import STOPWORDS

        d = load(spark, sf_dir, "documents")
        tok_arr = F.split("text", " ")
        sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        swr = F.size(F.filter(tok_arr, lambda t: F.array_contains(sw, t))) / F.size(
            tok_arr
        )
        punct = F.regexp_count("text", F.lit(r"[^\w\s]")) / F.length("text")
        digit = F.regexp_count("text", F.lit(r"[0-9]")) / F.length("text")
        q = F.round(
            F.greatest(
                F.least(
                    0.4 * swr + 0.3 * (1.0 - punct) + 0.3 * (1.0 - digit), F.lit(1.0)
                ),
                F.lit(0.0),
            ),
            4,
        )
        narrow = d.select(
            "doc_id",
            "lang",
            F.size(tok_arr).cast("long").alias("n_tokens"),
            q.alias("q"),
            F.sha2("text", 256).alias("h"),
        )
        rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
        t = narrow.select("lang", "n_tokens", "q", rn.alias("rn"))
        k2 = F.col("rn") == 1
        k3 = k2 & (F.col("q") >= 0.45)
        k4 = k3 & (F.col("lang") == "en")
        agg = t.agg(
            F.count(F.lit(1)).alias("c1"),
            F.sum("n_tokens").alias("t1"),
            F.sum(F.when(k2, 1).otherwise(0)).alias("c2"),
            F.sum(F.when(k2, F.col("n_tokens")).otherwise(0)).alias("t2"),
            F.sum(F.when(k3, 1).otherwise(0)).alias("c3"),
            F.sum(F.when(k3, F.col("n_tokens")).otherwise(0)).alias("t3"),
            F.sum(F.when(k4, 1).otherwise(0)).alias("c4"),
            F.sum(F.when(k4, F.col("n_tokens")).otherwise(0)).alias("t4"),
        )
        return agg.select(
            F.expr(
                "stack(4, 's1_raw', c1, t1, 's2_exact_dedup', c2, t2, "
                "'s3_quality', c3, t3, 's4_lang_en', c4, t4) "
                "AS (stage, n_docs, total_tokens)"
            )
        )


_register_prune_funnel()


# ---------------------------------------------------------------------------
# Vocabulary building, shard export, exact sampling, percentile filters —
# the tokenizer-prep / export-planning tail of the corpus pipeline.
# ---------------------------------------------------------------------------

# Portable deterministic bucket hash (the only construction that hashes
# identically in Spark and DuckDB — see x6_hash_sample):
#   Spark : conv(substring(sha2(s, 256), 1, 8), 16, 10) % m
#   DuckDB: CAST('0x' || substr(sha256(s), 1, 8) AS BIGINT) % m
def _bucket(col, m: int):
    from recipes_spark.functions.portable_hash import sha_slice_bucket

    return sha_slice_bucket(col, m)


@query(
    "vocab_top_bigrams",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM words
)
SELECT bigram, count(*) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 100
""",
)
def vocab_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary scan: top-100 word bigrams by corpus
    frequency — the counting pass a BPE/wordpiece trainer runs first.
    Bigram assembly is row-local (transform over an index sequence, no
    explode until the 2-column (bigram) projection), the count is a
    partial+final hash agg on the bigram key, and the top-k is
    TakeOrderedAndProject — at 100 TB the shuffle carries (bigram,
    partial count) pairs, bounded by vocabulary size, not corpus size."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    # Split ONCE into a column; bigrams via zip_with over the two
    # offset slices (w[0:n-1] ⨯ w[1:n-1]) — measured 2× faster than
    # transform-over-index-sequence, and inlining F.split in a lambda
    # would re-split the text per element (O(words²) per doc). Slice
    # lengths degrade to 0 for single-word docs, so no guard needed.
    words = d.select(F.split("text", " ").alias("w"))
    grams = F.zip_with(
        F.slice("w", 1, F.size("w") - 1),
        F.slice("w", 2, F.size("w") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        words.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(100)
    )


@query(
    "x6_shard_export",
    oracle="""
WITH assigned AS (
  SELECT CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16
           AS shard,
         doc_id,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM assigned
GROUP BY shard
ORDER BY shard
""",
)
def x6_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export plan: every doc lands in one of 16 shards
    via the portable sha256 bucket hash — reproducible across engines,
    partitionings, and re-runs (re-export = identical shards, the
    property a resumable dataloader needs). The audited projection is
    the per-shard manifest (docs, tokens, id range); the write itself
    is `repartition(shard).write.partitionBy(shard)` — uniform 64-bit
    hash ⇒ balanced shards at any scale."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            _bucket(F.col("doc_id").cast("string"), 16).alias("shard"),
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@query(
    "x6_stratified_topk",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT),
                    doc_id
         ) AS rn
  FROM documents
)
SELECT lang, doc_id FROM ranked WHERE rn <= 20
""",
)
def x6_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-stratum quota sampling: the 20 docs with the smallest
    portable hash per language — deterministic (unlike sampleBy's
    seeded Bernoulli, x6_stratified_sample) and exactly k per stratum,
    the contract a reproducible data-mix spec needs. One shuffle on
    lang; per-partition top-k heap would replace row_number at extreme
    stratum sizes (rank data is (lang, hash, id) triples, not text)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8), 16, 10).cast("long")
    rn = F.row_number().over(Window.partitionBy("lang").orderBy(h, F.col("doc_id")))
    return (
        d.select("lang", "doc_id", rn.alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id")
    )


@query(
    "x4_length_percentile_filter",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*)    OVER (PARTITION BY lang) AS cnt
  FROM documents
), cutoffs AS (
  SELECT lang, max(n_chars) AS cutoff
  FROM ranked WHERE rn = CAST(ceil(0.95 * cnt) AS BIGINT)
  GROUP BY lang
)
SELECT d.lang, c.cutoff,
       count(*) AS n_kept,
       CAST(sum(CASE WHEN d.n_chars > c.cutoff THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_check
FROM documents d JOIN cutoffs c ON d.lang = c.lang
WHERE d.n_chars <= c.cutoff
GROUP BY d.lang, c.cutoff
ORDER BY d.lang
""",
)
def x4_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-length pruning at an EXACT per-language p95 cutoff (the
    rank-ceil(0.95·n) value — identical arithmetic in both engines,
    unlike approx_percentile whose sketch is engine-specific). Cutoff
    derivation is one narrow (lang, n_chars, id) shuffle; the filter
    join broadcasts the per-lang cutoffs. n_dropped_check is 0 by
    construction (kept rows never exceed the cutoff) — it pins the
    filter direction under oracle watch."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    wl = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.row_number().over(wl.orderBy("n_chars", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wl).alias("cnt"),
    )
    cutoffs = (
        ranked.filter(F.col("rn") == F.ceil(0.95 * F.col("cnt")).cast("long"))
        .groupBy("lang")
        .agg(F.max("n_chars").alias("cutoff"))
    )
    return (
        d.join(F.broadcast(cutoffs), "lang")
        .filter(F.col("n_chars") <= F.col("cutoff"))
        .groupBy("lang", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(
                F.when(F.col("n_chars") > F.col("cutoff"), 1).otherwise(0)
            ).cast("long").alias("n_dropped_check"),
        )
        .orderBy("lang")
    )


@query(
    "x4_word_commonness",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w, count(*) AS freq FROM words GROUP BY w
)
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(v.freq) AS BIGINT) AS sum_word_freq
FROM words d JOIN vocab v ON d.w = v.w
GROUP BY d.doc_id
""",
)
def x4_word_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM-style quality signal, made cross-engine exact: each
    doc scores the INTEGER sum of its words' corpus frequencies (mean
    commonness = sum/n at the consumer; rare-vocabulary docs score
    low). The classic two-pass corpus-statistics pattern: pass 1
    aggregates the vocabulary (partial+final agg, shuffle bounded by
    |V|), pass 2 joins the stats back per word occurrence. Integer
    frequencies instead of log-probs because ln() differs between
    engines in the last ulp — the log-prob variant is this query with
    floor-scaled logs, same plan.

    ONE tokenize pass (guide §2.4, the x4_unigram_nll base shape): the
    corpus explodes once into a per-(doc, word) COUNT base —
    checkpointed, since both the vocabulary agg and the score join
    consume it; the r16 shape re-scanned and re-tokenized the corpus
    for the probe side of the join. Every occurrence of w in doc
    contributes 1 to n_words and freq(w) to the sum, so counts
    compose: n_words = Σc, sum_word_freq = Σ c·freq — exact
    integers."""
    d = load(spark, sf_dir, "documents")
    base = (
        scale_partitions(d)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    vocab = base.groupBy("w").agg(F.sum("c").alias("freq"))
    return (
        base.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("freq")).cast("long")
            .alias("sum_word_freq"),
        )
    )


_BLOCKED_DOMAINS = [
    "src0-0.example.com",
    "src1-1.example.com",
    "src2-2.example.com",
    "src3-3.example.com",
    "src4-4.example.com",
]


@query(
    "domain_blocklist_filter",
    oracle="""
WITH urls AS (
  SELECT doc_id, source,
         'https://' || source || '-' || CAST(doc_id % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), tagged AS (
  SELECT source,
         regexp_extract(url, 'https://([^/]+)/', 1) AS domain
  FROM urls
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN domain IN (
         'src0-0.example.com', 'src1-1.example.com', 'src2-2.example.com',
         'src3-3.example.com', 'src4-4.example.com') THEN 1 ELSE 0 END)
         AS BIGINT) AS n_blocked,
       CAST(sum(CASE WHEN domain IN (
         'src0-0.example.com', 'src1-1.example.com', 'src2-2.example.com',
         'src3-3.example.com', 'src4-4.example.com') THEN 0 ELSE 1 END)
         AS BIGINT) AS n_kept
FROM tagged
GROUP BY source
ORDER BY source
""",
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-domain curation: derive each doc's source URL (synthetic but
    deterministic — the corpus has no URL column), extract the domain
    with one regexp, tag against a broadcast blocklist, report
    kept/blocked per source. At 100 TB the blocklist is a broadcast
    left join + null-flag (here IN-list folded by Catalyst — same
    pushdown-friendly shape); the regexp is the only per-row work and
    stays in codegen."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    domain = F.regexp_extract(url, r"https://([^/]+)/", 1)
    blocked = domain.isin(_BLOCKED_DOMAINS)
    return (
        d.select("source", blocked.alias("b"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("b"), 1).otherwise(0)).cast("long").alias("n_blocked"),
            F.sum(F.when(F.col("b"), 0).otherwise(1)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "x4_dup_span_fraction",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest([array_to_string(w[i:i+7], ' ')
                   FOR i IN range(1, len(w) - 6)]) AS gram
    FROM t WHERE len(w) >= 8
  )
), df AS (
  SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram
)
SELECT g.doc_id,
       count(*) AS n_grams,
       count(CASE WHEN df.n_docs >= 2 THEN 1 END) AS n_dup,
       CAST(floor(count(CASE WHEN df.n_docs >= 2 THEN 1 END) * 10000.0
                  / count(*)) AS BIGINT) AS dup_bps
FROM grams g JOIN df ON g.gram = df.gram
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def x4_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: share of a doc's distinct
    8-word shingles that also occur in some other document (basis
    points). The doc-level filter signal derived from
    x2_dup_ngram_spans — pipelines drop or down-weight docs above a
    dup_bps threshold.

    100 TB: two shuffles — (gram → distinct-doc count) then the
    gram-keyed join back to (doc, gram) pairs, both on uniformly
    distributed span keys; per-doc aggregation map-side combines. The
    gram join input would be the 64-bit hashed key in production."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 8
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 7),
                lambda i: F.concat_ws(" ", F.slice("w", i, 8)),
            )
        ).alias("gram"),
    ).distinct()
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.count(F.when(F.col("n_docs") >= 2, 1))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.alias("n_dup"),
            F.floor(dup * 10000.0 / F.count(F.lit(1))).alias("dup_bps"),
        )
        .orderBy("doc_id")
    )


@query(
    "x6_mixture_weights",
    oracle="""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM s
), pw AS (
  SELECT source, n_docs, n_tokens,
         power(n_tokens / t, 0.7) AS pwr, n_tokens / t AS p
  FROM s, tot
), z AS (
  SELECT sum(pwr) AS z FROM pw
)
SELECT source, n_docs, n_tokens,
       CAST(floor(pwr / z * 1000000) AS BIGINT) AS weight_ppm,
       CAST(floor(pwr / z / p * 1000) AS BIGINT) AS repeat_millis
FROM pw, z
ORDER BY source
""",
)
def x6_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (alpha = 0.7): each source's
    sampling weight is its token share raised to 0.7, renormalized —
    the standard up-weighting of small high-quality sources when
    composing a training mixture. repeat_millis is the implied
    epochs-per-source (weight / natural share, ×1000).

    100 TB: one map-side-combined aggregate over the corpus; the
    power/normalize math runs on a |sources|-row table with two 1-row
    broadcast joins. Output is floor-scaled to integer ppm so both
    engines agree exactly."""
    d = load(spark, sf_dir, "documents")
    # |sources|-sized base, materialized once (r17 aggregate-reuse
    # sweep): the total, the power table and the normalizer each
    # re-derived it — the executed plan scanned documents 6× per run.
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    ).localCheckpoint(eager=True)
    tot = s.agg(F.sum("n_tokens").cast("double").alias("t"))
    pw = (
        s.join(F.broadcast(tot))
        .withColumn("p", F.col("n_tokens") / F.col("t"))
        .withColumn("pwr", F.pow(F.col("p"), F.lit(0.7)))
    )
    z = pw.agg(F.sum("pwr").alias("z"))
    return (
        pw.join(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(F.col("pwr") / F.col("z") * 1000000).alias("weight_ppm"),
            F.floor(F.col("pwr") / F.col("z") / F.col("p") * 1000).alias(
                "repeat_millis"
            ),
        )
        .orderBy("source")
    )


@query(
    "x4_unigram_entropy",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents
)
SELECT doc_id,
       round(log2(len(ws)) -
             list_sum([len(list_filter(ws, y -> y = x)) *
                       log2(len(list_filter(ws, y -> y = x)))
                       FOR x IN list_sort(list_distinct(ws))]) / len(ws),
             4) AS entropy
FROM d
""",
)
def x4_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy H = log2(N) − Σ c·log2(c) / N — the
    Gopher-style repetitiveness signal (low entropy = copy-pasted /
    template text, filtered before training). Entirely row-local higher-
    order-function arithmetic: no explode, no shuffle, the whole thing
    is one narrow projection over the corpus scan.

    Counts come from RUN LENGTHS of the sorted word array (boundary
    indices → adjacent differences), which is O(N) HOF work per doc —
    the naive per-distinct-word filter scan is O(distinct·N) and
    measured 14 s vs ~1 s at sf0.1 (HOFs evaluate interpreted, so the
    constant matters). Runs of a sorted array enumerate distinct words
    in sorted order, so the c·log2(c) fold visits terms in EXACTLY the
    oracle's list_sort(list_distinct(...)) order — the double summation
    stays bit-identical and round(…, 4) cannot flake."""
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    s = F.array_sort(ws)
    n_int = F.size(ws)
    # CRITICAL: `s` only ever appears as a direct HOF ARGUMENT, never
    # inside a lambda body — a lambda-body subexpression re-evaluates
    # per ELEMENT (no CSE inside HOFs), which turns the per-row sort
    # into O(N² log N); an element_at(s, i) formulation of the
    # boundaries was measured at 34 s vs ~1 s at sf0.1 for this reason.
    nxt = F.concat(
        F.slice(s, 2, n_int - 1), F.array(F.lit(None).cast("string"))
    )
    # 1-based positions where a run of equal words ends
    ends = F.filter(
        F.zip_with(
            F.zip_with(s, nxt, lambda a, b: b.isNull() | (a != b)),
            F.sequence(F.lit(1), n_int),
            lambda flag, i: F.when(flag, i),
        ),
        lambda x: x.isNotNull(),
    )
    # run length = this run's end − previous run's end
    counts = F.zip_with(
        ends,
        F.concat(F.array(F.lit(0)), F.slice(ends, 1, F.size(ends) - 1)),
        lambda e, p: (e - p).cast("double"),
    )
    clogc = F.aggregate(
        counts, F.lit(0.0), lambda acc, c: acc + c * F.log2(c)
    )
    n = n_int.cast("double")
    return d.select(
        "doc_id", F.round(F.log2(n) - clogc / n, 4).alias("entropy")
    )


@query(
    "x4_source_overlap",
    oracle="""
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS word
  FROM documents
), sizes AS (
  SELECT source, count(*) AS n FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
  FROM vocab a JOIN vocab b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_inter,
       sa.n + sb.n - n_inter AS n_union,
       CAST(floor(n_inter * 10000.0 / (sa.n + sb.n - n_inter)) AS BIGINT)
         AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
""",
)
def x4_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix (Jaccard in basis points)
    — the corpus-mixing diagnostic for "how much does source A's
    vocabulary duplicate source B's". The self-join runs on the
    DISTINCT (source, word) vocabulary, never the corpus: each word
    appears at most n_sources times, so the join fan-out is bounded by
    sources² per word and the output matrix is sources² rows."""
    d = load(spark, sf_dir, "documents")
    # Vocabulary-sized base, materialized once (r17 aggregate-reuse
    # sweep): sizes and both self-join sides re-derived it — the
    # executed plan tokenized the corpus 3× per run.
    vocab = d.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).distinct().localCheckpoint(eager=True)
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("source_a"), "word")
    b = vocab.select(F.col("source").alias("source_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
            F.floor(
                F.col("n_inter")
                * 10000.0
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            )
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


@query(
    "x6_inference_batching",
    oracle="""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
), bucketed AS (
  SELECT doc_id, n_tok,
         CAST(ceil(n_tok / 32.0) AS BIGINT) AS bucket,
         row_number() OVER (PARTITION BY CAST(ceil(n_tok / 32.0) AS BIGINT)
                            ORDER BY doc_id) AS rn
  FROM toks
), batched AS (
  SELECT bucket, CAST(floor((rn - 1) / 16) AS BIGINT) AS batch_id,
         n_tok
  FROM bucketed
)
SELECT bucket, batch_id,
       count(*) AS n_docs,
       max(n_tok) AS max_tok,
       CAST(sum(n_tok) AS BIGINT) AS actual_tok,
       CAST(floor(sum(n_tok) * 10000.0 / (max(n_tok) * count(*)))
            AS BIGINT) AS fill_bp
FROM batched
GROUP BY bucket, batch_id
""",
)
def x6_inference_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching: docs bucket by token length
    (32-token granularity), fixed-size batches of 16 form inside each
    bucket, and fill_bp reports padding efficiency (actual tokens /
    padded capacity, in basis points) — batching similar lengths
    together is what keeps that number near 10000 instead of the
    ~50% waste of random batching. The ranking window partitions by
    bucket; with few buckets and a huge corpus, sub-shard the window
    key (bucket, pmod(hash(id), k)) and offset ranks per shard the way
    operators/prefix.partitioned_prefix_sum does — the demo keeps the
    single-key form for oracle clarity."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    bucketed = toks.select(
        "doc_id",
        "n_tok",
        F.ceil(F.col("n_tok") / 32.0).cast("long").alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    batched = bucketed.select(
        "bucket",
        "n_tok",
        F.floor((F.row_number().over(w) - 1) / 16).cast("long").alias(
            "batch_id"
        ),
    )
    return batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tok").alias("max_tok"),
        F.sum("n_tok").cast("long").alias("actual_tok"),
        F.floor(
            F.sum("n_tok") * 10000.0 / (F.max("n_tok") * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("fill_bp"),
    )


@query(
    "x4_vocab_encode",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), freq AS (
  SELECT term, count(*) AS n FROM tok GROUP BY term
), vocab AS (
  SELECT term, row_number() OVER (ORDER BY n DESC, term) AS id
  FROM freq ORDER BY n DESC, term LIMIT 1000
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       count(*) FILTER (WHERE v.id IS NULL) AS n_oov,
       CAST(sum(coalesce(v.id, 0)) AS BIGINT) AS ids_checksum
FROM tok t LEFT JOIN vocab v USING (term)
GROUP BY t.doc_id
""",
)
def x4_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary application: build a frequency-ranked
    top-1000 vocab (id = rank), then encode every document's tokens to
    ids via a BROADCAST join — the apply-a-trained-tokenizer shape of a
    training-data pipeline. Output is per-doc (token count, OOV count,
    id checksum): aggregation makes the contract order-insensitive and
    oracle-friendly while still proving every token went through the
    vocab lookup.

    Scale shape: the frequency agg shuffles (term, partial count) —
    bounded by vocabulary, not corpus; top-1000 selection is
    TakeOrderedAndProject (k-row heap per partition, NO global sort);
    the rank window then runs on 1000 rows (bounded single partition,
    deliberate); encoding is a broadcast hash join, zero corpus
    shuffle. Two corpus tokenize passes (vocab build + encode) — at
    100 TB persist the tokenized view or train on a sample instead."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = freq.orderBy(F.desc("n"), F.asc("term")).limit(1000)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    vocab = top.withColumn("id", F.row_number().over(w)).select("term", "id")
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.sum(F.coalesce("id", F.lit(0))).cast("long").alias("ids_checksum"),
        )
    )


@query(
    "x6_jsonl_roundtrip",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS total_chars,
       CAST(sum(CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT)) AS BIGINT)
         AS text_checksum,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def x6_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL shard export + re-ingest: write `documents` as sharded
    JSON-lines (the lingua franca of LLM corpora), read the shards back
    with an EXPLICIT schema, and audit integrity per language — doc
    count, character count, a portable per-doc text checksum
    (sha256-prefix sum), and the id range. The oracle computes the same
    audit from the ORIGINAL parquet, so any doc the round trip drops,
    duplicates, or mutates (JSON escaping, unicode, embedded newlines)
    breaks the value hash.

    Scale shape: the write is embarrassingly parallel (one JSONL shard
    per task, zero shuffle); the read-back is a schema'd json scan —
    the explicit schema matters at 100 TB because schema INFERENCE is a
    full extra pass over the data; the audit is one hash agg on lang."""
    import os

    d = load(spark, sf_dir, "documents")
    out = os.path.join(scratch_dir("jsonl"), "docs")
    d.repartition(8).write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.sum(
                F.conv(F.substring(F.sha2("text", 256), 1, 8), 16, 10).cast("long")
            )
            .cast("long")
            .alias("text_checksum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@query(
    "x6_csv_roundtrip",
    oracle="""
SELECT doc_id,
       'a,"' || text[1:15] || '"' || chr(10) || lang AS gnarly,
       n_chars
FROM documents
""",
)
def x6_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV shard export + re-ingest under ADVERSARIAL field content:
    every row carries a field with an embedded comma, double quote, and
    newline — the three things that break naive CSV pipelines — written
    with Spark's csv sink (quoted + escaped), read back with an
    EXPLICIT schema and multiLine=true (an embedded newline otherwise
    splits the record), and returned per-doc so the driver's value hash
    attests byte-exact survival against the ORIGINAL parquet-derived
    oracle. multiLine is the scale caveat worth knowing: it makes each
    CSV FILE single-task (records can span line boundaries, so Spark
    cannot split on newlines) — shard-count = parallelism, set by the
    repartition(8) at write time; without embedded newlines the normal
    splittable reader applies.

    Scale shape: embarrassingly-parallel write (one shard per task,
    zero shuffle), schema'd read-back (inference would be a full extra
    pass at 100 TB)."""
    import os

    d = load(spark, sf_dir, "documents")
    gnarly = F.concat(
        F.lit('a,"'),
        F.substring("text", 1, 15),
        F.lit('"'),
        F.lit(chr(10)),
        F.col("lang"),
    )
    out = os.path.join(scratch_dir("csv"), "docs")
    (
        d.select("doc_id", gnarly.alias("gnarly"), "n_chars")
        .repartition(8)
        .write.mode("overwrite")
        .option("header", True)
        .csv(out)
    )
    return spark.read.schema("doc_id BIGINT, gnarly STRING, n_chars BIGINT").option(
        "header", True
    ).option("multiLine", True).csv(out)


@query(
    "x4_unigram_nll",
    oracle="""
WITH dt AS (
  SELECT doc_id, w AS term, count(*) AS k
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
),
cnt AS (SELECT term, CAST(sum(k) AS BIGINT) AS c FROM dt GROUP BY term),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt)
SELECT doc_id,
       CAST(sum(k * CAST(floor(-ln(c * 1.0 / t) * 1e6) AS BIGINT))
            // CAST(sum(k) AS BIGINT) AS BIGINT) AS nll_micro
FROM dt JOIN cnt USING (term) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
""",
)
def x4_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (the CCNet/C4 perplexity-filter shape):
    train token counts over the corpus, score every document by its
    mean negative log-likelihood under that LM (low = common
    boilerplate, high = rare-token gibberish) — the column a
    perplexity-based quality gate thresholds on.

    Scale shape: tokens collapse to per-doc (term, k) counts FIRST (one
    hash agg with map-side combine), so the LM join carries
    distinct-terms-per-doc rows, not the raw token stream — and the
    stopword skew of a term-keyed token join collapses with it (a
    stopword contributes ONE row per doc, weighted by k, instead of k
    rows); the unigram table derives from that same aggregate (no
    second corpus pass); the grand total is a 1-row broadcast.
    The score follows FIXTURES.md's integer-exact convention taken all
    the way: each term's -ln(p) is floor-scaled to integer micro-units
    BEFORE the weighted sum, and the per-doc mean is integer division —
    so the aggregation is pure integer math, order-insensitive by
    construction (distributed vs sequential summation cannot diverge,
    and partition count cannot change the result). What floor buys over
    round(,4): round diverges between engines even on BIT-IDENTICAL
    doubles (Spark BigDecimal HALF_UP vs DuckDB float-scaling); floor
    on the same double is the same IEEE operation everywhere. The only
    residual cross-engine risk is the ln() implementation itself
    (Java Math.log vs libm, each correct to ~1 ulp) landing exactly on
    a 1e-6 floor boundary for some term — ~1e-9 per distinct term,
    with no amplification through the sum."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    # Per-doc (term, k) base, materialized once (r17 aggregate-reuse
    # sweep): the LM build AND the scoring join re-derived it — the
    # executed plan tokenized the corpus 3× per run. The barrier holds
    # the aggregate the query already declares as its shuffle object.
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)
    )
    cnt = dt.groupBy("term").agg(F.sum("k").cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    return (
        dt.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("k")
                * F.floor(-F.log(F.col("c") / F.col("t")) * F.lit(1e6)).cast(
                    "long"
                )
            ).alias("__num"),
            F.sum("k").alias("__den"),
        )
        .select(
            "doc_id",
            F.expr("CAST(__num div __den AS BIGINT)").alias("nll_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "x4_unicode_normalize",
    oracle="""
WITH dirty AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0
                      THEN ' cafe' || chr(769) || ' A' || chr(778)
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       (nfc_normalize(t) <> t) AS changed,
       CAST(len(nfc_normalize(t)) AS BIGINT) AS nfc_len,
       CAST('0x' || substr(sha256(nfc_normalize(t)), 1, 8) AS BIGINT) AS nfc_hash
FROM dirty
ORDER BY doc_id
""",
)
def x4_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization pass a corpus
    needs BEFORE exact dedup and tokenization (decomposed 'e'+U+0301
    and composed 'é' must hash identically or every dedup stage
    under-merges). The corpus text is clean, so every 4th doc gets
    deterministic decomposed sequences appended (same injection
    expression both engines, the x4_pii_scrub pattern); output audits
    the normalization per doc: changed flag, post-NFC codepoint count,
    portable sha256-prefix hash of the normalized text — the oracle
    replays it with DuckDB's nfc_normalize, pinning Python
    unicodedata.normalize('NFC') to an independent implementation.

    Spark has no built-in NFC, so this is an Arrow-batched pandas UDF
    (string in, string out, row-local) — zero shuffle; the length/hash
    audit stays JVM-side on the UDF output. At 100 TB this pass runs
    once at ingest and persists, not per-query."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(" cafe" + chr(769) + " A" + chr(778)),
        ).otherwise(F.lit("")),
    )

    # Built lazily (active-session return-type resolution); explicit
    # un-annotated form because this module stringifies annotations
    # (future-annotations) without a module-level pandas import.
    def _nfc(s):
        import unicodedata

        return s.map(lambda t: unicodedata.normalize("NFC", t))

    nfc = F.pandas_udf(_nfc, "string")

    return (
        d.select("doc_id", dirty.alias("t"))
        .select("doc_id", "t", nfc("t").alias("n"))
        .select(
            "doc_id",
            (F.col("n") != F.col("t")).alias("changed"),
            F.length("n").cast("long").alias("nfc_len"),
            F.conv(F.substring(F.sha2("n", 256), 1, 8), 16, 10)
            .cast("long")
            .alias("nfc_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "x6_epoch_shuffle",
    oracle="""
WITH e AS (SELECT * FROM (VALUES (0), (1)) t(epoch)),
h AS (
  SELECT epoch, doc_id,
         CAST('0x' || substr(sha256(CAST(epoch AS VARCHAR) || ':' ||
                                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
  FROM documents CROSS JOIN e
)
SELECT epoch, hv % 16 AS shard, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch, hv % 16
                               ORDER BY hv, doc_id) AS BIGINT) AS pos
FROM h
ORDER BY epoch, shard, pos
""",
)
def x6_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded epoch shuffling — the dataloader-order primitive: every
    (epoch, doc) gets a portable hash, docs land in the shard the hash
    selects, and the shard-local rank IS the read order. Reproducible
    (same epoch → same order on any engine, any partitioning, any
    re-run — the resumable-training contract) yet decorrelated across
    epochs (epoch is in the hash). Two epochs materialized here; the
    oracle replays both orders exactly.

    Scale shape: the epoch dimension is a 2-row broadcast cross join;
    ranking partitions on (epoch, shard) — 32 windows of n/16 rows
    each, never a global sort; a dataloader consumes shard files
    independently, so the full ordered corpus is never assembled in
    one place. More epochs = more rows, same per-window size."""
    d = load(spark, sf_dir, "documents")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
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
    w = Window.partitionBy("epoch", "shard").orderBy("hv", "doc_id")
    return (
        d.select("doc_id")
        .crossJoin(F.broadcast(epochs))
        .withColumn("hv", hv)
        .withColumn("shard", F.pmod("hv", F.lit(16)))
        .select(
            "epoch",
            "shard",
            "doc_id",
            F.row_number().over(w).cast("long").alias("pos"),
            "hv",
        )
        .drop("hv")
        .orderBy("epoch", "shard", "pos")
    )


@query(
    "x4_bpe_merge_step",
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
  SELECT w, count(*) AS cnt FROM w WHERE len(w) >= 2 GROUP BY w
), pairs AS (
  SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair, cnt
  FROM wc
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq
FROM pairs
GROUP BY pair
ORDER BY freq DESC, pair
LIMIT 20
""",
)
def x4_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge round (Sennrich et al. 2016, the
    tokenizer-training core): count adjacent symbol pairs across the
    corpus and emit the top merge candidates — iterate this and each
    round's winner becomes a new vocabulary symbol.

    Scale shape — THE trick that makes corpus-scale BPE feasible: pairs
    are enumerated over the DISTINCT word vocabulary weighted by word
    frequency, never over the token stream (a vocab is ~10⁶ rows
    regardless of corpus size; the stream is the corpus itself). So one
    merge round = one word-count hash agg (map-side combinable, the
    only corpus-sized shuffle) + a vocab-local pair explode + a
    pair-count agg + TakeOrderedAndProject(20). Later rounds reuse the
    materialized word counts — cost per round is vocab-sized.
    Char-level pairs here (round 1 from a char alphabet); the
    symbol-sequence generalization changes the explode expression, not
    the plan shape."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.char_length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wc.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(20)
    )


# Fixed BPE merge table for x4_bpe_apply — priority-ordered, later
# merges consume earlier outputs (t+h → th, th+e → the; an → and).
# Shared Python-generated literals: the Spark fold and the DuckDB
# oracle are BOTH rendered from this list, so the engines cannot
# disagree on the table.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("e", "n"),
    ("a", "t"), ("e", "s"),
]
#: id = 1-based position: merge outputs first, then the base alphabet;
#: anything else (never occurs in the lowercase corpus) is OOV → 0.
_BPE_VOCAB = [a + b for a, b in _BPE_MERGES] + list(
    "abcdefghijklmnopqrstuvwxyz0123456789"
)


def _bpe_fold_sql(expr: str, upto: int | None = None) -> str:
    """Render the merge fold (optionally only the first ``upto``
    merges) as nested DuckDB replace() calls over the double-marked
    symbol string (see _bpe_marked for why both markers)."""
    for a, b in _BPE_MERGES[: len(_BPE_MERGES) if upto is None else upto]:
        pat = f"chr(31)||'{a}'||chr(30)||chr(31)||'{b}'||chr(30)"
        rep = f"chr(31)||'{a}{b}'||chr(30)"
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


_BPE_VOCAB_SQL = "[" + ", ".join(f"'{v}'" for v in _BPE_VOCAB) + "]"

#: Symbol markers (see x4_bpe_apply) — module constants so every BPE
#: consumer marks/folds identically: each symbol is WRAPPED
#: \x1f<symbol>\x1e, so a merge pattern can only ever match two
#: complete adjacent symbols.
_BPE_SEP = "\x1f"
_BPE_END = "\x1e"


def _bpe_marked_sql(expr: str = "text") -> str:
    """DuckDB twin of _bpe_marked — INCLUDING the fail-closed marker
    guard (round-10 ADVICE: the guard was Spark-side only, so an
    attestation run on marker-bearing text would have recorded an
    asymmetric engine error instead of a clean refusal on both
    sides)."""
    return (
        f"CASE WHEN contains({expr}, chr(31)) OR contains({expr}, chr(30))"
        " THEN error('bpe: text contains a symbol marker')"
        f" ELSE regexp_replace({expr}, '([^ ])', e'\\x1f\\\\1\\x1e', 'g')"
        " END"
    )


def _bpe_marked(col="text"):
    """Column: ``col`` with every non-space char wrapped
    \\x1f<char>\\x1e — the DOUBLE marking that makes each merge one
    plain replace whose pattern can only match two complete adjacent
    symbols. (Round 10 used prefix-only marking, whose pattern
    "\\x1fa\\x1fb" also matches symbol `a` followed by any symbol
    whose NAME starts with `b` — e.g. after r+e→re, the (o,r) pattern
    matched INSIDE "m\\x1fo\\x1fre" and folded "more" to [m, ore]
    instead of BPE's [m, o, re]. The 31-word synthetic vocabulary
    never reaches the collision, but the claim was false in general;
    with both ends marked, \\x1fa\\x1e matches exactly the complete
    symbol `a`, so the fold is sound for ANY merge table and provably
    equals symbol-level rank-greedy BPE — the x4_bpe_apply_greedy
    gate.) FAILS CLOSED (raise_error) on text already containing
    either marker: a spoofed boundary would silently corrupt every
    downstream token count/id — the hydrate.DO_NOT_MERGE discipline.
    Two contains() per row."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.contains(c, F.lit(_BPE_SEP)) | F.contains(c, F.lit(_BPE_END)),
        F.raise_error(
            F.lit(
                "bpe: text contains a symbol marker (U+001F/U+001E) — "
                "strip or re-encode control characters upstream (the "
                "marking invariant cannot hold)"
            )
        ).cast("string"),
    ).otherwise(
        F.regexp_replace(c, "([^ ])", _BPE_SEP + "$1" + _BPE_END)
    )


def _bpe_folded(upto: int | None = None, col="text"):
    """Column: the marked text after the (first ``upto``) merges."""
    folded = _bpe_marked(col)
    for a, b in _BPE_MERGES[: len(_BPE_MERGES) if upto is None else upto]:
        folded = F.replace(
            folded,
            F.lit(f"{_BPE_SEP}{a}{_BPE_END}{_BPE_SEP}{b}{_BPE_END}"),
            F.lit(f"{_BPE_SEP}{a}{b}{_BPE_END}"),
        )
    return folded


def _bpe_symbol_count(col) -> "F.Column":
    """Column: symbol count of a marked/folded string = its U+001F
    count (length minus marker-stripped length)."""
    return F.length(col) - F.length(F.replace(col, F.lit(_BPE_SEP)))


#: Shared by x4_bpe_apply AND x4_bpe_apply_greedy: the two engines'
#: encoders are provably output-identical (see x4_bpe_apply's
#: docstring), so the sound-fold replay attests both.
_BPE_APPLY_ORACLE = f"""
WITH m AS (
  SELECT doc_id, {_bpe_marked_sql("text")} AS marked
  FROM documents
), f AS (
  SELECT doc_id, marked, {_bpe_fold_sql("marked")} AS folded FROM m
), sy AS (
  SELECT doc_id,
         length(marked) - length(replace(marked, chr(31), '')) AS n_base,
         length(folded) - length(replace(folded, chr(31), '')) AS n_tokens,
         list_transform(
           list_filter(string_split_regex(folded, e'[ \\x1f\\x1e]'),
                       x -> x != ''),
           x -> coalesce(list_position({_BPE_VOCAB_SQL}, x), 0)
         ) AS ids
  FROM f
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_base - n_tokens AS BIGINT) AS n_merges,
       CAST(len(list_filter(ids, i -> i = 0)) AS BIGINT) AS n_oov,
       CAST(coalesce(list_sum(ids), 0) AS BIGINT) AS ids_checksum
FROM sy
"""


@query("x4_bpe_apply", oracle=_BPE_APPLY_ORACLE)
def x4_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the inverse of x4_bpe_merge_step's
    training round: apply a FIXED priority-ordered merge table to every
    document and emit token ids + per-doc token counts, the unit every
    mixing/packing operator otherwise approximates with whitespace
    tokens. Spec: words start char-level; merges apply sequentially in
    table order, each one replacing every (leftmost, non-overlapping)
    adjacent symbol pair in the corpus — the deterministic fold both
    engines replay literally. Encoding trick: every symbol is WRAPPED
    \\x1f<symbol>\\x1e, so the pair (a, b) is the plain substring
    "\\x1fa\\x1e\\x1fb\\x1e" and each merge round is ONE replace() —
    \\x1f occurs only at symbol starts and \\x1e only at symbol ends,
    so the pattern matches exactly two complete adjacent symbols,
    never inside a longer symbol or across the un-marked word-boundary
    space (round 10's prefix-only marking violated this — see
    _bpe_marked), and both engines' replace() scans
    leftmost-non-overlapping. This makes the fold provably identical
    to symbol-level rank-greedy BPE for any VALID table (every merge's
    operands predate it): a later merge's output symbol cannot appear
    in an earlier merge's pattern, so one pass per merge in table
    order leaves no table pair behind — the x4_bpe_apply_greedy
    equivalence gate. Ids are 1-based positions in the shared vocab
    literal (array_position == list_position, OOV → 0), summed into
    an order-free checksum that proves every token went through the
    lookup.

    100 TB: ZERO shuffle — marking, the 12-replace fold, symbol split,
    id lookup and checksum are all row-local Catalyst string/HOF
    expressions (no UDF, no explode, no join: the vocab lives in the
    expression tree, the token stream never leaves its row). Contrast
    x4_vocab_encode, which broadcast-joins because its vocab is
    corpus-derived; for a REAL 50k-merge GPT-style table the literal
    fold is replaced by x4_bpe_apply_greedy's Arrow-batched
    mapInPandas rank-greedy pass — same zero-shuffle shape, different
    island, same output by the equivalence above. Reference for the
    algorithm class: Sennrich et al. 2016."""
    sep, end = _BPE_SEP, _BPE_END
    d = scale_partitions(load(spark, sf_dir, "documents"))
    marked = _bpe_marked()
    folded = _bpe_folded()
    vocab = F.array(*[F.lit(v) for v in _BPE_VOCAB])
    base = d.select(
        "doc_id",
        _bpe_symbol_count(marked).alias("n_base"),
        _bpe_symbol_count(folded).alias("n_tokens"),
        F.transform(
            F.filter(
                F.split(folded, f"[ {sep}{end}]"), lambda x: x != F.lit("")
            ),
            lambda x: F.array_position(vocab, x),
        ).alias("ids"),
    )
    return base.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_base") - F.col("n_tokens")).cast("long").alias("n_merges"),
        F.size(F.filter("ids", lambda i: i == F.lit(0)))
        .cast("long")
        .alias("n_oov"),
        F.aggregate(
            "ids", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("ids_checksum"),
    )


def _greedy_syms(word, rank, merges):
    """Rank-greedy BPE over one word: repeatedly merge every
    leftmost-non-overlapping occurrence of the lowest-rank adjacent
    pair until no table pair remains; returns the symbol list. The ONE
    merge loop behind bpe_greedy_kernel (counts) and
    bpe_greedy_ids_kernel (id sequences) so the two emissions cannot
    drift."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        for ab in zip(syms, syms[1:]):
            r = rank.get(ab)
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        a, b = merges[best]
        out, i, n = [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_greedy_kernel(merges, vocab_list):
    """mapInPandas generator for rank-greedy BPE encoding — the
    PRODUCTION encode island x4_bpe_apply's docstring promises for
    large merge tables. Per unique word (cached across the batch
    iterator — Zipf makes the cache hit rate ~99% on natural text):
    repeatedly find the lowest-rank merge-table pair adjacent in the
    symbol sequence and merge every leftmost-non-overlapping
    occurrence, until no table pair remains — the GPT-2 encode loop.
    O(|word| × rounds) per MISS, O(1) per hit; no per-merge scan of
    the text, so a 50k-entry table costs the same corpus pass as a
    12-entry one (the literal fold is O(merges × |text|) per row —
    the economics that force this island at real vocab sizes). The
    merge table and vocab ride the closure (Spark broadcasts the
    serialized function to every executor once)."""
    rank = {pair: r for r, pair in enumerate(merges)}
    vocab = {v: i + 1 for i, v in enumerate(vocab_list)}
    merges = list(merges)

    def encode_word(word, cache):
        hit = cache.get(word)
        if hit is not None:
            return hit
        ids = [vocab.get(s, 0) for s in _greedy_syms(word, rank, merges)]
        res = (len(ids), sum(ids), sum(1 for x in ids if x == 0))
        cache[word] = res
        return res

    def gen(batches):
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            # Fail closed on marker bytes — the _bpe_marked guard,
            # mirrored so the two encode paths refuse identically.
            if pdf["text"].str.contains("[\x1f\x1e]", regex=True).any():
                raise ValueError(
                    "bpe: text contains a symbol marker (U+001F/U+001E)"
                    " — strip or re-encode control characters upstream"
                )
            n_tokens, n_merges, n_oov, checksum = [], [], [], []
            for t in pdf["text"]:
                nt = ck = ov = nb = 0
                for w in t.split(" "):
                    if not w:
                        continue
                    nb += len(w)
                    s, c, o = encode_word(w, cache)
                    nt += s
                    ck += c
                    ov += o
                n_tokens.append(nt)
                n_merges.append(nb - nt)
                n_oov.append(ov)
                checksum.append(ck)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_tokens,
                    "n_merges": n_merges,
                    "n_oov": n_oov,
                    "ids_checksum": checksum,
                }
            )

    return gen


@query("x4_bpe_apply_greedy", oracle=_BPE_APPLY_ORACLE)
def x4_bpe_apply_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application, PRODUCTION form — one Arrow-batched
    mapInPandas rank-greedy pass (bpe_greedy_kernel) instead of
    x4_bpe_apply's literal replace() fold. Same output by theorem: for
    a valid merge table (every pair's operands predate it) the
    double-marked sequential fold and symbol-level rank-greedy produce
    identical symbol sequences — a later merge's output cannot appear
    in an earlier pattern, so each table pair is eliminated exactly
    once in rank order by both procedures. The equivalence is gated
    bit-identical against x4_bpe_apply at sf0.001/0.01/0.1
    (tests/test_intent_round11.py) and both share ONE oracle; a
    ≥1k-merge synthetic table rides the same kernel in the
    bpe_greedy_1k stress probe, where the fold's O(merges × text)
    per-row cost is the thing this island exists to avoid.

    100 TB: same ZERO-shuffle shape as the fold — one corpus scan, the
    merge table broadcast inside the serialized closure, Arrow batch
    transfer in/out, per-batch unique-word caching (Zipf → ~99% hits).
    The plan is a single ArrowEvalPython-free mapInPandas island over
    the scan (plan-asserted: no exchange, no join)."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = bpe_greedy_kernel(_BPE_MERGES, _BPE_VOCAB)
    return d.select("doc_id", "text").mapInPandas(
        gen,
        schema=(
            "doc_id bigint, n_tokens bigint, n_merges bigint,"
            " n_oov bigint, ids_checksum bigint"
        ),
    )


def _bpe_curve_oracle_sql() -> str:
    """Oracle for x4_bpe_compression_curve: one corpus aggregate with a
    token-count column per merge prefix, unpivoted into 13 rows."""
    m = len(_BPE_MERGES)
    cols = ", ".join(
        "CAST(sum(length({f}) - length(replace({f}, chr(31), ''))) AS "
        "BIGINT) AS s{k}".format(f=_bpe_fold_sql("marked", upto=k), k=k)
        for k in range(m + 1)
    )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS k, s{k} AS total_tokens FROM agg"
        for k in range(m + 1)
    )
    return (
        f"WITH m AS (SELECT {_bpe_marked_sql('text')} AS marked"
        " FROM documents),\n"
        f"agg AS (SELECT {cols} FROM m)\n{rows}\nORDER BY k"
    )


@query("x4_bpe_compression_curve", oracle=_bpe_curve_oracle_sql())
def x4_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE COMPRESSION CURVE — corpus token count after the first k
    merges, k = 0..12: the marginal-value-per-merge economics a
    tokenizer designer reads before spending vocabulary slots (the
    empirical face of x4_bpe_train_rounds' freq column: each merge
    saves exactly its application count). Every prefix fold is a
    row-local expression evaluated in ONE scan; the 13 sums partial-agg
    map-side and the unpivot is a stack over the single aggregate row —
    no per-k pass, no shuffle beyond the 1-row agg.

    100 TB: one corpus pass however long the curve; the k² replace
    chain is per-row CPU inside codegen (78 calls at 12 merges). For a
    50k-merge production table compute the curve from the trainer's
    per-round application counts instead (train once, subtract
    cumulatively) — this operator is the direct-measurement form that
    validates that arithmetic."""
    m = len(_BPE_MERGES)
    d = scale_partitions(load(spark, sf_dir, "documents"))
    agg = d.agg(
        *[
            F.sum(_bpe_symbol_count(_bpe_folded(upto=k)))
            .cast("long")
            .alias(f"s{k}")
            for k in range(m + 1)
        ]
    )
    stack = ", ".join(f"CAST({k} AS BIGINT), s{k}" for k in range(m + 1))
    return agg.selectExpr(
        f"stack({m + 1}, {stack}) AS (k, total_tokens)"
    ).orderBy("k")


@query(
    "x4_bpe_fertility",
    oracle=f"""
WITH m AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         {_bpe_marked_sql("text")} AS marked
  FROM documents
), f AS (
  SELECT lang, n_words, {_bpe_fold_sql("marked")} AS folded FROM m
), per AS (
  SELECT lang, n_words,
         length(folded) - length(replace(folded, chr(31), '')) AS n_tok
  FROM f
)
SELECT lang,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(floor(1000000.0 * sum(n_tok) / sum(n_words)) AS BIGINT)
         AS fertility_micro
FROM per GROUP BY lang ORDER BY lang
""",
)
def x4_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language — BPE tokens emitted per
    whitespace word, the standard fairness metric for a shared
    vocabulary (a language the merge table underserves pays more
    tokens per word, hence more compute per sentence — the mBERT/XLM-R
    literature's tokens-per-word curve). Reuses x4_bpe_apply's fold:
    token and word counts are row-local expressions in one scan, the
    rollup is a lang-keyed hash agg, and the ratio floors exact
    integer sums to micros — one fixed double division per GROUP, not
    per row, so no summation-order surface exists.

    100 TB: one corpus pass, one group-count-sized exchange."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    per = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        _bpe_symbol_count(_bpe_folded()).cast("long").alias("n_tok"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.floor(
                1000000.0 * F.sum("n_tok") / F.sum("n_words")
            )
            .cast("long")
            .alias("fertility_micro"),
        )
        .orderBy("lang")
    )


def _bpe_train_ctes(rounds: int) -> tuple[list[str], list[str]]:
    """The unrolled ``rounds``-round training CTE chain (shared by the
    train oracle and the train→apply composition oracle): each round
    enumerates adjacent symbol pairs over the double-marked DISTINCT
    vocabulary, picks the (freq DESC, pattern ASC) winner w<r>, and
    applies it with the same replace() arithmetic the engine uses.
    Returns (ctes, per-round SELECTs of the winner table).

    Every chained CTE is AS MATERIALIZED: round r's vocabulary m{r} is
    referenced twice downstream (by round r+1's pair count AND its own
    apply), and DuckDB 1.0 INLINES multiply-referenced CTEs by default
    — without the hint the evaluation tree re-derives the whole prior
    chain per reference, doubling work per round (the 3-round form
    quietly paid 2³; a 12-round chain would pay 2¹² and never finish).
    Materialization makes the oracle rounds-LINEAR, matching the
    engine's per-round localCheckpoint discipline."""
    sep = "chr(31)"
    pair_list = (
        f"[{sep}||sy[i]||chr(30)||{sep}||sy[i+1]||chr(30)"
        " FOR i IN range(1, len(sy))]"
    )
    end = "chr(30)"
    guard = (
        "CASE WHEN contains(w, chr(31)) OR contains(w, chr(30))"
        " THEN error('bpe: word contains a symbol marker')"
        " ELSE regexp_replace(w, '(.)', e'\\x1f\\\\1\\x1e', 'g') END"
    )
    ctes = [
        "wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM ("
        "SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        " GROUP BY w)",
        f"m0 AS MATERIALIZED (SELECT {guard} AS m, cnt FROM wc)",
    ]
    selects = []
    for r in range(1, rounds + 1):
        prev = f"m{r - 1}"
        ctes.append(
            f"p{r} AS MATERIALIZED"
            f" (SELECT pat, CAST(sum(cnt) AS BIGINT) AS freq FROM ("
            f"SELECT unnest({pair_list}) AS pat, cnt FROM ("
            f"SELECT list_filter(string_split_regex(m, e'[\\x1f\\x1e]'),"
            f" x -> x != '')"
            f" AS sy, cnt FROM {prev}) WHERE len(sy) >= 2) GROUP BY pat)"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT pat, freq FROM p{r}"
            f" ORDER BY freq DESC, pat LIMIT 1)"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT replace({prev}.m, w{r}.pat, "
            f"{sep} || replace(replace(w{r}.pat, {sep}, ''), {end}, '')"
            f" || {end}) AS m, cnt"
            f" FROM {prev}, w{r})"
        )
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round, "
            f"replace(replace(replace(pat, {end} || {sep}, ' '),"
            f" {sep}, ''), {end}, '') AS pair, freq FROM w{r}"
        )
    return ctes, selects


def _bpe_train_oracle_sql(rounds: int) -> str:
    """The unrolled training oracle: the winner of each round."""
    ctes, selects = _bpe_train_ctes(rounds)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects) + "\nORDER BY round"
    )


def _bpe_train_apply_oracle_sql(rounds: int) -> str:
    """Train→apply composition oracle: the same training CTE chain,
    then the TRAINED winners applied sequentially (rank order, the
    same double-marked replace) to every document's marked text."""
    ctes, _ = _bpe_train_ctes(rounds)
    ctes.append(
        f"docm AS MATERIALIZED (SELECT doc_id, {_bpe_marked_sql('text')}"
        " AS f0 FROM documents)"
    )
    sep, end = "chr(31)", "chr(30)"
    for r in range(1, rounds + 1):
        # Scalar subqueries (not a cross join) so an EMPTY winner round
        # — a degenerate corpus that trains fewer than `rounds` merges
        # — degrades to a no-op replace (chr(0) never occurs in marked
        # text), matching the Spark side, which simply encodes with the
        # shorter table.
        pat = f"coalesce((SELECT pat FROM w{r}), chr(0))"
        rep = (
            f"coalesce((SELECT {sep} ||"
            f" replace(replace(pat, {sep}, ''), {end}, '') || {end}"
            f" FROM w{r}), '')"
        )
        ctes.append(
            f"docf{r} AS MATERIALIZED"
            f" (SELECT doc_id, replace(f, {pat}, {rep}) AS f"
            f" FROM (SELECT doc_id, f{'0' if r == 1 else ''} AS f FROM "
            f"{'docm' if r == 1 else f'docf{r - 1}'}) AS docf)"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT d.doc_id,\n"
        "  CAST(length(f.f) - length(replace(f.f, chr(31), '')) AS BIGINT)"
        " AS n_tokens,\n"
        "  CAST((length(d.f0) - length(replace(d.f0, chr(31), '')))"
        " - (length(f.f) - length(replace(f.f, chr(31), ''))) AS BIGINT)"
        " AS n_merges\n"
        f"FROM docm d JOIN docf{rounds} f USING (doc_id)"
    )


@query("x4_bpe_train_rounds", oracle=_bpe_train_oracle_sql(3))
def x4_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE training (Sennrich et al. 2016) — three
    DATA-DEPENDENT merge rounds, where x4_bpe_merge_step stops after
    counting round one's candidates: each round enumerates adjacent
    symbol pairs over the marked distinct vocabulary, the
    (freq DESC, pattern ASC) winner is applied as ONE replace() whose
    search pattern is a COLUMN (both engines' replace accept
    expressions), and the merged vocabulary feeds the next round.
    The winner never touches the driver: it flows into the apply step
    through a broadcast of a 1-row aggregate — the whole training loop
    is plan-side. Output: (round, pair, freq) — the merge table a
    tokenizer trainer would persist, and exactly what x4_bpe_apply
    consumes.

    100 TB: one corpus-sized shuffle TOTAL (the word count); every
    round after that is vocabulary-sized — pair explode (row-local
    over distinct words), a pair-count hash agg, a 1-row
    TakeOrdered winner, a broadcast apply. The per-round vocabulary is
    checkpointed (pagerank's convention) so round r's lineage doesn't
    re-derive rounds 1..r-1 for each of the winner's two consumers.
    Real trainers run ~50k rounds with the identical per-round shape —
    the constant is rounds × vocab, never rounds × corpus (measured to
    50 rounds by the bpe_train_50round probe: per-decade wall FALLS)."""
    return _bpe_train_winners(spark, sf_dir, rounds=3).orderBy("round")


def _bpe_train_winners(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """The training loop behind x4_bpe_train_rounds and
    x4_bpe_train_apply: ``rounds`` data-dependent merge rounds over the
    double-marked distinct vocabulary; returns (round, pair, freq)."""
    sep, end = _BPE_SEP, _BPE_END
    d = scale_partitions(load(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # Same fail-closed marker guard as _bpe_marked, over the word dim.
    marked_w = F.when(
        F.contains("w", F.lit(sep)) | F.contains("w", F.lit(end)),
        F.raise_error(
            F.lit("bpe: word contains a symbol marker (U+001F/U+001E)")
        ).cast("string"),
    ).otherwise(F.regexp_replace("w", "(.)", sep + "$1" + end))
    cur = wc.select(marked_w.alias("m"), "cnt").localCheckpoint(eager=True)
    rep = F.concat(
        F.lit(sep),
        F.replace(F.replace(F.col("pat"), F.lit(sep)), F.lit(end)),
        F.lit(end),
    )
    winners = []
    for r in range(1, rounds + 1):
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
        winners.append(
            win.select(
                F.lit(r).cast("long").alias("round"),
                F.replace(
                    F.replace(
                        F.replace(
                            F.col("pat"), F.lit(end + sep), F.lit(" ")
                        ),
                        F.lit(sep),
                    ),
                    F.lit(end),
                ).alias("pair"),
                "freq",
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(win))
            .select(F.replace("m", F.col("pat"), rep).alias("m"), "cnt")
            .localCheckpoint(eager=True)
        )
    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    return out.orderBy("round")


@query("x4_bpe_train_apply", oracle=_bpe_train_apply_oracle_sql(3))
def x4_bpe_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN → APPLY, composed: the three data-dependent merges
    x4_bpe_train_rounds learns flow into the PRODUCTION encoder
    (bpe_greedy_kernel, x4_bpe_apply_greedy's Arrow island) and every
    document is re-encoded with the trained table — the full tokenizer
    lifecycle as one verified pair of plans. The oracle replays BOTH
    halves: the unrolled training CTE chain picks the same winners,
    then applies them sequentially to each doc's double-marked text
    (fold ≡ rank-greedy holds for the trained table too: winners are
    built from symbols that exist when they are picked, so the table
    is valid by construction). A stage-coupling bug — training on a
    different segmentation than the encoder consumes, a rank-order
    swap, a marking mismatch — shifts every per-doc token count.

    100 TB: training is one corpus-sized word count + rounds ×
    vocab-sized work (bpe_train_50round probe); the learned table
    crosses to the encoder as a 3-row bounded collect — exactly the
    production seam, where the trainer PERSISTS the merge table and
    the encode fleet loads it into its closure — and the encode pass
    is the same zero-shuffle Arrow island as x4_bpe_apply_greedy.
    Degenerate corpora that train FEWER than 3 merges (all single-char
    words) are handled on both sides: Spark encodes with the shorter
    table; the oracle's per-round doc fold reads each winner through a
    scalar subquery that degrades to a no-op replace when the round is
    empty (intent-tested)."""
    return _bpe_train_apply(spark, sf_dir, rounds=3)


def _bpe_train_apply(
    spark: SparkSession, sf_dir: str, rounds: int
) -> DataFrame:
    """The train→apply composition behind x4_bpe_train_apply (3 rounds)
    and x4_bpe_train_apply_deep (12): train ``rounds`` data-dependent
    merges, collect the bounded table, re-encode every document with
    the rank-greedy Arrow kernel."""
    winners = _bpe_train_winners(spark, sf_dir, rounds=rounds).orderBy(
        "round"
    ).collect()  # bounded: exactly `rounds` rows — the persisted table
    merges = [tuple(r["pair"].split(" ", 1)) for r in winners]
    vocab = [a + b for a, b in merges] + list(
        "abcdefghijklmnopqrstuvwxyz0123456789"
    )
    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = bpe_greedy_kernel(merges, vocab)
    return d.select("doc_id", "text").mapInPandas(
        gen,
        schema=(
            "doc_id bigint, n_tokens bigint, n_merges bigint,"
            " n_oov bigint, ids_checksum bigint"
        ),
    ).select("doc_id", "n_tokens", "n_merges")


@query("x4_bpe_train_apply_deep", oracle=_bpe_train_apply_oracle_sql(12))
def x4_bpe_train_apply_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN → APPLY at DEPTH — 12 data-dependent merge rounds through
    the same composition as x4_bpe_train_apply, still fully oracled by
    the unrolled training CTE chain + per-doc sequential fold. The
    point of the depth: round-12 winners are built from round-1..11
    OUTPUT symbols (generation chaining), so the oracle now exercises
    merges whose operands are themselves merged symbols end-to-end
    through BOTH the trainer and the greedy encoder — and demonstrates
    the oracle construction scales with training depth (the CTE chain
    is rounds-linear, not exponential: each round is one replace over
    the previous round's vocabulary/doc fold).

    100 TB: identical shape to the 3-round form — ONE corpus-sized
    word-count shuffle, then 12 × vocabulary-sized rounds (the
    bpe_train_50round probe measured per-decade wall FALLING to 50
    rounds as the vocabulary shrinks), a 12-row collect across the
    production seam, and the zero-shuffle Arrow encode island."""
    return _bpe_train_apply(spark, sf_dir, rounds=12)


@query(
    "x6_packing_bpe",
    oracle=f"""
WITH m AS (
  SELECT doc_id, {_bpe_marked_sql("text")} AS marked
  FROM documents
), f AS (
  SELECT doc_id, {_bpe_fold_sql("marked")} AS folded FROM m
), toks AS (
  SELECT doc_id,
         length(folded) - length(replace(folded, chr(31), '')) AS n
  FROM f
), packed AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM packed
GROUP BY seq_id
ORDER BY seq_id
""",
)
def x6_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on REAL tokenizer counts — x6_packing_plan's
    concat-and-split-at-512 plan, with each document's length taken
    from the x4_bpe_apply merge fold instead of the whitespace proxy
    (the round-9 verdict's point: every packing/mixing operator was
    approximating with whitespace tokens; this one packs what the
    trainer actually consumes). Same scale discipline: the token count
    is a row-local zero-shuffle expression computed IN the same scan
    that feeds the prefix sum, and the global running cumsum runs
    shard-parallel via operators/prefix.partitioned_prefix_sum — range
    shuffle + partitioned window + broadcast shard offsets, no
    single-task stage (plan-asserted alongside x6_packing_plan's).

    BPE tokens run ~4-5x the whitespace count on this corpus (symbols
    start char-level), so the plan's seq_ids, doc-per-seq fill and
    boundaries all genuinely differ from x6_packing_plan — the oracle
    would catch a silent fallback to whitespace counting."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum

    d = load(spark, sf_dir, "documents")
    packed = partitioned_prefix_sum(
        d.select(
            F.col("doc_id"),
            _bpe_symbol_count(_bpe_folded()).alias("n"),
        ),
        order_col="doc_id",
        value_col="n",
        out_col="cum",
        shards=32,
    )
    return (
        packed.select(
            F.floor((F.col("cum") - F.col("n")) / 512)
            .cast("long")
            .alias("seq_id"),
            "n",
            "doc_id",
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("seq_id")
    )


def bpe_greedy_ids_kernel(merges, vocab_list):
    """mapInPandas generator emitting the ACTUAL token-id sequence per
    document — (doc_id, n, ids array<int>) — through the same
    rank-greedy merge loop as bpe_greedy_kernel (shared _greedy_syms,
    shared per-batch unique-word cache, shared fail-closed marker
    guard). This is the trainer-facing emission: packing on counts
    proves boundaries, but what a pretraining run reads is the id
    stream itself."""
    rank = {pair: r for r, pair in enumerate(merges)}
    vocab = {v: i + 1 for i, v in enumerate(vocab_list)}
    merges = list(merges)

    def gen(batches):
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            if pdf["text"].str.contains("[\x1f\x1e]", regex=True).any():
                raise ValueError(
                    "bpe: text contains a symbol marker (U+001F/U+001E)"
                    " — strip or re-encode control characters upstream"
                )
            out_n, out_ids = [], []
            for t in pdf["text"]:
                ids: list = []
                for w in t.split(" "):
                    if not w:
                        continue
                    hit = cache.get(w)
                    if hit is None:
                        hit = [
                            vocab.get(s, 0)
                            for s in _greedy_syms(w, rank, merges)
                        ]
                        cache[w] = hit
                    ids.extend(hit)
                out_n.append(len(ids))
                out_ids.append(ids)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n": out_n, "ids": out_ids}
            )

    return gen


_PACKING_IDS_ORACLE = f"""
WITH m AS (
  SELECT doc_id, {_bpe_marked_sql("text")} AS marked
  FROM documents
), f AS (
  SELECT doc_id, {_bpe_fold_sql("marked")} AS folded FROM m
), tok AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(folded, e'[ \\x1f\\x1e]'),
                       x -> x != ''),
           x -> coalesce(list_position({_BPE_VOCAB_SQL}, x), 0)
         ) AS ids
  FROM f
), packed AS (
  SELECT doc_id, len(ids) AS n, ids,
         sum(len(ids)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM tok
), per AS (
  SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id, doc_id, n, ids
  FROM packed
)
SELECT seq_id,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       sha256(array_to_string(flatten(list(ids ORDER BY doc_id)), ','))
         AS ids_sha
FROM per GROUP BY seq_id ORDER BY seq_id
"""


@query("x6_packing_ids", oracle=_PACKING_IDS_ORACLE)
def x6_packing_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing that MATERIALIZES the token-id stream — the
    production emission x6_packing_bpe's count-only plan stops short
    of: each document's ids come from the rank-greedy Arrow kernel
    (bpe_greedy_ids_kernel — the x4_bpe_apply_greedy island, now
    emitting the sequence, not its summary), boundaries from the same
    shard-parallel prefix sum at 512 tokens, and each packed sequence
    reports (n_docs, n_tokens, first_doc, ids_sha) where ids_sha is
    sha256 over the doc-ordered concatenated id stream. The oracle
    replays the FOLD's id sequence (fold ≡ rank-greedy, the round-11
    theorem) plus the same pack boundaries — so the check proves the
    id STREAM (values and order), not just its length, survives the
    composition; a vocab-lookup swap, a word-order scramble inside the
    pack, or a boundary off-by-one all flip the sha.

    100 TB: the kernel is the same zero-shuffle Arrow island (ids add
    ~4 bytes/token to the Arrow transfer — the unavoidable payload of
    actually emitting tokens); ONE range exchange for the prefix sum
    (partitioned_prefix_sum, no single-task window), one hash exchange
    for the seq_id assembly — identical exchange count to
    x6_packing_bpe. Per-sequence state is bounded by the 512-token
    pack size, and the output is a digest, so nothing corpus-sized
    ever concentrates. A real emitter would write (seq_id, ids) shards
    to parquet instead of digesting — same plan minus the agg."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum

    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    toks = d.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, n bigint, ids array<int>"
    )
    packed = partitioned_prefix_sum(
        toks, order_col="doc_id", value_col="n", out_col="cum", shards=32
    )
    per = packed.select(
        F.floor((F.col("cum") - F.col("n")) / 512)
        .cast("long")
        .alias("seq_id"),
        "doc_id",
        "n",
        "ids",
    )
    flat_ids = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("doc_id").alias("d"), F.col("ids").alias("i"))
                )
            ),
            lambda s: s["i"],
        )
    )
    return (
        per.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.sha2(
                F.concat_ws(
                    ",", F.transform(flat_ids, lambda x: x.cast("string"))
                ),
                256,
            ).alias("ids_sha"),
        )
        .orderBy("seq_id")
    )


def _ordered_sha(key_col: str, sha_col: str):
    """Order-sensitive digest of a group's (key, sha) rows: sha256 over
    the key-sorted comma-joined shas — the chunk/shard manifest
    aggregate shared by x6_packing_shards and the physical release
    verification (x6_release_materialize)."""
    return F.sha2(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(key_col).alias("k"),
                            F.col(sha_col).alias("h"),
                        )
                    )
                ),
                lambda x: x["h"],
            ),
        ),
        256,
    )


_PACKING_SHARDS_ORACLE = f"""
WITH m AS (
  SELECT doc_id, {_bpe_marked_sql("text")} AS marked
  FROM documents
), f AS (
  SELECT doc_id, {_bpe_fold_sql("marked")} AS folded FROM m
), tok AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(folded, e'[ \\x1f\\x1e]'),
                       x -> x != ''),
           x -> coalesce(list_position({_BPE_VOCAB_SQL}, x), 0)
         ) AS ids
  FROM f
), packed AS (
  SELECT doc_id, len(ids) AS n, ids,
         sum(len(ids)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM tok
), per AS (
  SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id, doc_id, n, ids
  FROM packed
), seqs AS (
  SELECT seq_id,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         sha256(array_to_string(flatten(list(ids ORDER BY doc_id)), ','))
           AS ids_sha
  FROM per GROUP BY seq_id
), assigned AS (
  SELECT CAST('0x' || substr(sha256(CAST(seq_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 8 AS shard,
         CAST(floor(seq_id / 64) AS BIGINT) AS chunk,
         seq_id, n_tokens, ids_sha
  FROM seqs
), chunks AS (
  SELECT shard, chunk,
         count(*) AS c_seqs,
         CAST(sum(n_tokens) AS BIGINT) AS c_tokens,
         sha256(string_agg(ids_sha, ',' ORDER BY seq_id)) AS chunk_sha
  FROM assigned GROUP BY shard, chunk
)
SELECT shard,
       CAST(sum(c_seqs) AS BIGINT) AS n_seqs,
       CAST(sum(c_tokens) AS BIGINT) AS n_tokens,
       sha256(string_agg(chunk_sha, ',' ORDER BY chunk)) AS shard_sha
FROM chunks GROUP BY shard ORDER BY shard
"""


@query("x6_packing_shards", oracle=_PACKING_SHARDS_ORACLE)
def x6_packing_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMIT tail of the packing pipeline: packed SEQUENCES (not
    docs — what a trainer actually loads) assign to 8 training shards
    by the portable sha bucket of seq_id, and each shard's manifest
    digests its sequences' id-stream shas in seq_id order — the
    record a resumable dataloader verifies before trusting a shard
    (order matters for mid-epoch resume, so the digest is
    order-sensitive by construction). The digest is TWO-LEVEL
    (Merkle-style): sequences chain into fixed-size CHUNK digests
    (64 sequences here so the level demonstrably fires at every test
    SF; production sizes it in the thousands), then each shard
    chains its chunk digests in chunk order — same
    tamper-sensitivity (a wrong route, a dropped sequence, or any
    reorder flips shard_sha through its chunk), but no aggregate
    ever concentrates a shard's full manifest. Composes
    x6_packing_ids' verified id streams with x6_shard_export's
    portable sharding; the oracle replays both digest levels.

    100 TB: identical exchanges to x6_packing_ids plus two bounded
    hash aggs — per-(shard, chunk) state ≤ chunk-size digests,
    per-shard state = chunks/shard (add a third level if that ever
    matters); the physical write this audits is
    ``repartition(shard).write.partitionBy(shard)`` of the (seq_id,
    ids) rows — uniform hash ⇒ balanced shards at any scale."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum

    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    toks = d.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, n bigint, ids array<int>"
    )
    packed = partitioned_prefix_sum(
        toks, order_col="doc_id", value_col="n", out_col="cum", shards=32
    )
    per = packed.select(
        F.floor((F.col("cum") - F.col("n")) / 512)
        .cast("long")
        .alias("seq_id"),
        "doc_id",
        "n",
        "ids",
    )
    flat_ids = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("doc_id").alias("d"), F.col("ids").alias("i"))
                )
            ),
            lambda s: s["i"],
        )
    )
    seqs = per.groupBy("seq_id").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.sha2(
            F.concat_ws(
                ",", F.transform(flat_ids, lambda x: x.cast("string"))
            ),
            256,
        ).alias("ids_sha"),
    )
    chunks = (
        seqs.select(
            _bucket(F.col("seq_id").cast("string"), 8).alias("shard"),
            F.floor(F.col("seq_id") / 64).cast("long").alias("chunk"),
            "seq_id",
            "n_tokens",
            "ids_sha",
        )
        .groupBy("shard", "chunk")
        .agg(
            F.count(F.lit(1)).alias("c_seqs"),
            F.sum("n_tokens").cast("long").alias("c_tokens"),
            _ordered_sha("seq_id", "ids_sha").alias("chunk_sha"),
        )
    )
    return (
        chunks.groupBy("shard")
        .agg(
            F.sum("c_seqs").cast("long").alias("n_seqs"),
            F.sum("c_tokens").cast("long").alias("n_tokens"),
            _ordered_sha("chunk", "chunk_sha").alias("shard_sha"),
        )
        .orderBy("shard")
    )


def _two_level_shard_digest(seq_rows: DataFrame, suffix: str = "") -> DataFrame:
    """(shard, n_seqs, n_tokens, shard_sha) from (shard, chunk, seq_id,
    n_tokens, ids_sha) rows — the two-level Merkle-style manifest agg,
    shared by the plan side and the files side of
    x6_release_materialize so the two digests cannot drift by
    construction of anything EXCEPT the data they read."""
    chunks = seq_rows.groupBy("shard", "chunk").agg(
        F.count(F.lit(1)).alias("c_seqs"),
        F.sum("n_tokens").cast("long").alias("c_tokens"),
        _ordered_sha("seq_id", "ids_sha").alias("chunk_sha"),
    )
    return chunks.groupBy("shard").agg(
        F.sum("c_seqs").cast("long").alias(f"n_seqs{suffix}"),
        F.sum("c_tokens").cast("long").alias(f"n_tokens{suffix}"),
        _ordered_sha("chunk", "chunk_sha").alias(f"shard_sha{suffix}"),
    )


_RELEASE_ORACLE = f"""
WITH base AS ({_PACKING_SHARDS_ORACLE})
SELECT shard, n_seqs, n_tokens, shard_sha,
       shard_sha AS shard_sha_files,
       true AS digests_match
FROM base
ORDER BY shard
"""


@query("x6_release_materialize", oracle=_RELEASE_ORACLE)
def x6_release_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHYSICAL training release, end-to-end (r12 verdict task 3):
    x6_packing_shards computes shard manifests plan-side; this query
    WRITES the release and proves the manifests hold on what a trainer
    would actually read back. The packed (seq_id, ids) rows land as
    per-shard hive-partitioned parquet under a committed SNAPSHOT
    (snapshot_commit — the manifest-pinned table format, so the
    release is versioned, time-travelable, and safely vacuumable like
    any other table here); the committed version is re-read THROUGH
    its snapshot manifest (snapshot_read — leaf-file scan, nothing
    later is visible), both digest levels are recomputed FROM THE
    FILES (ids_sha from the id arrays as read, chunk digests, shard
    digests — the identical _two_level_shard_digest agg), and each
    shard row reports manifest-vs-files equality. This is the
    resumable-dataloader contract made physical: `digests_match` false
    on any shard means the bytes on disk no longer carry the id
    streams the manifest promised (wrong route, dropped/duplicated
    sequence, reorder, or value corruption through the write→read
    round-trip). The oracle replays the plan-side digests and expects
    files ≡ manifest; idempotency of the re-run (fresh store per
    invocation + overwrite-latest-version commit semantics) is gated
    in tests/test_intent_round13.py.

    100 TB: the id-emission/packing stages are x6_packing_ids'
    exchanges unchanged; the release write is ONE repartition(shard)
    + partitioned write (uniform sha bucket ⇒ balanced shards); the
    verification re-read is corpus-sequential with per-(shard, chunk)
    digest state bounded at chunk size — a trainer-side verifier can
    run it per shard independently. localCheckpoint makes ONE packing
    computation feed both the manifest and the write (the mapInPandas
    self-join rule); at 100 TB that materialization is the release
    staging table itself."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum
    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read

    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    toks = d.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, n bigint, ids array<int>"
    )
    packed = partitioned_prefix_sum(
        toks, order_col="doc_id", value_col="n", out_col="cum", shards=32
    )
    per = packed.select(
        F.floor((F.col("cum") - F.col("n")) / 512)
        .cast("long")
        .alias("seq_id"),
        "doc_id",
        "n",
        "ids",
    )
    flat_ids = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("doc_id").alias("d"), F.col("ids").alias("i"))
                )
            ),
            lambda s: s["i"],
        )
    )
    seqs = (
        per.groupBy("seq_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            flat_ids.alias("ids"),
        )
        .select(
            _bucket(F.col("seq_id").cast("string"), 8).alias("shard"),
            F.floor(F.col("seq_id") / 64).cast("long").alias("chunk"),
            "seq_id",
            "n_tokens",
            "ids",
        )
        .localCheckpoint(eager=True)
    )

    def ids_sha(df: DataFrame) -> DataFrame:
        return df.select(
            "shard",
            "chunk",
            "seq_id",
            "n_tokens",
            F.sha2(
                F.concat_ws(
                    ",",
                    F.transform(F.col("ids"), lambda x: x.cast("string")),
                ),
                256,
            ).alias("ids_sha"),
        )

    manifest = _two_level_shard_digest(ids_sha(seqs))

    store = scratch_dir("release")
    snapshot_commit(
        spark,
        # shard duplicated as the partition key: partitionBy consumes
        # its column, and snapshot_read's leaf-file scan does not
        # re-infer partition directories (see snapshot_commit).
        seqs.withColumn("shard_key", F.col("shard")).repartition(
            "shard_key"
        ),
        store,
        1,
        partition_by=("shard_key",),
    )
    reread = snapshot_read(spark, store, 1).select(
        "shard", "chunk", "seq_id", "n_tokens", "ids"
    )
    files_side = _two_level_shard_digest(ids_sha(reread), suffix="_files")
    return (
        manifest.join(files_side, "shard")
        .select(
            "shard",
            "n_seqs",
            "n_tokens",
            "shard_sha",
            "shard_sha_files",
            (
                (F.col("shard_sha") == F.col("shard_sha_files"))
                & (F.col("n_seqs") == F.col("n_seqs_files"))
                & (F.col("n_tokens") == F.col("n_tokens_files"))
            ).alias("digests_match"),
        )
        .orderBy("shard")
    )


def _seq_ids_sha(df: DataFrame) -> DataFrame:
    """(shard, chunk, seq_id, n_tokens, ids_sha) from packed sequence
    rows — the per-sequence digest both release queries feed into
    _two_level_shard_digest (module-level twin of
    x6_release_materialize's inline closure)."""
    return df.select(
        "shard",
        "chunk",
        "seq_id",
        "n_tokens",
        F.sha2(
            F.concat_ws(
                ",",
                F.transform(F.col("ids"), lambda x: x.cast("string")),
            ),
            256,
        ).alias("ids_sha"),
    )


def _incr_two_level_sql(src: str, suffix: str) -> str:
    """SQL body of the two-level shard digest over assigned sequence
    rows ``src`` (shard, chunk, seq_id, n_tokens, ids_sha)."""
    return (
        f"SELECT shard, CAST(sum(c_seqs) AS BIGINT) AS n_seqs{suffix},"
        f" CAST(sum(c_tokens) AS BIGINT) AS n_tokens{suffix},"
        f" sha256(string_agg(chunk_sha, ',' ORDER BY chunk))"
        f" AS shard_sha{suffix} FROM ("
        "SELECT shard, chunk, count(*) AS c_seqs,"
        " CAST(sum(n_tokens) AS BIGINT) AS c_tokens,"
        " sha256(string_agg(ids_sha, ',' ORDER BY seq_id)) AS chunk_sha"
        f" FROM {src} GROUP BY shard, chunk) GROUP BY shard"
    )


_RELEASE_INCR_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(folded, e'[ \\x1f\\x1e]'),
                       x -> x != ''),
           x -> coalesce(list_position({_BPE_VOCAB_SQL}, x), 0)
         ) AS ids
  FROM (SELECT doc_id, {_bpe_fold_sql("marked")} AS folded
        FROM (SELECT doc_id, {_bpe_marked_sql("text")} AS marked
              FROM documents))
), lbl AS (
  SELECT doc_id,
         CAST(('0x' || substr(sha256('relsplit:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) % 10 < 8 AS is_base
  FROM documents
), bper AS MATERIALIZED (
  SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id, doc_id, n, ids
  FROM (SELECT t.doc_id, len(t.ids) AS n, t.ids,
               sum(len(t.ids)) OVER (ORDER BY t.doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
        FROM tok t JOIN lbl USING (doc_id) WHERE is_base)
), off AS (SELECT max(seq_id) + 1 AS o FROM bper),
dper AS MATERIALIZED (
  SELECT (SELECT o FROM off) + CAST(floor((cum - n) / 512) AS BIGINT)
           AS seq_id, doc_id, n, ids
  FROM (SELECT t.doc_id, len(t.ids) AS n, t.ids,
               sum(len(t.ids)) OVER (ORDER BY t.doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
        FROM tok t JOIN lbl USING (doc_id) WHERE NOT is_base)
), bseq AS MATERIALIZED (
  SELECT CAST('0x' || substr(sha256(CAST(seq_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 8 AS shard,
         CAST(floor(seq_id / 64) AS BIGINT) AS chunk,
         seq_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         sha256(array_to_string(flatten(list(ids ORDER BY doc_id)), ','))
           AS ids_sha
  FROM bper GROUP BY seq_id
), dseq AS MATERIALIZED (
  SELECT CAST('0x' || substr(sha256(CAST(seq_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 8 AS shard,
         CAST(floor(seq_id / 64) AS BIGINT) AS chunk,
         seq_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         sha256(array_to_string(flatten(list(ids ORDER BY doc_id)), ','))
           AS ids_sha
  FROM dper GROUP BY seq_id
), allseq AS MATERIALIZED (
  SELECT * FROM bseq UNION ALL SELECT * FROM dseq
), v1 AS ({_incr_two_level_sql("bseq", "_v1")}),
v2 AS ({_incr_two_level_sql("allseq", "_v2")}),
tch AS (SELECT DISTINCT shard FROM dseq)
SELECT v2.shard, v1.n_seqs_v1, v1.n_tokens_v1, v2.n_seqs_v2,
       v2.n_tokens_v2,
       CAST(CASE WHEN tch.shard IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS touched,
       v1.shard_sha_v1, v2.shard_sha_v2,
       true AS v1_files_match, true AS v2_files_match,
       ((v1.shard_sha_v1 IS DISTINCT FROM v2.shard_sha_v2)
        = (tch.shard IS NOT NULL)) AS digest_changed_iff_touched
FROM v2 LEFT JOIN v1 ON v1.shard = v2.shard
LEFT JOIN tch ON tch.shard = v2.shard
ORDER BY v2.shard
"""


@query("x6_release_increment", oracle=_RELEASE_INCR_ORACLE)
def x6_release_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL training release — append a corpus batch WITHOUT
    re-digesting the world (r13 verdict task 5, the production
    dataloader story: releases evolve, trainers resume). The corpus
    splits deterministically (sha bucket of 'relsplit:<doc_id>',
    80/20) into the BASE release and an arriving DELTA batch. Base
    docs pack into sequences exactly as x6_release_materialize
    (prefix-sum token packing, 512-token sequences, sha-bucketed
    shards) and commit as snapshot v1; the delta batch packs into NEW
    sequence ids starting past the base's maximum (the epoch
    arithmetic — existing sequences are immutable), routes to shards
    by the same seq-id hash, and commits as snapshot v2 — an APPEND
    commit whose data files hold ONLY the delta rows, hive-partitioned
    by shard, so untouched shards get no new bytes and v2's manifest
    is v1's files plus the delta files.

    Each shard row then proves the contract three ways, all from real
    re-reads: v1 re-read through its manifest re-digests to the
    plan-side v1 manifest (v1_files_match); v2 re-read — base files
    AND delta files via the manifest union — re-digests to the
    plan-side v2 manifest (v2_files_match); and the shard digest
    changed across versions IFF the shard was touched by delta
    sequences (digest_changed_iff_touched — untouched shards'
    manifests are byte-identical across versions, so a resuming
    trainer revalidates only touched shards). The oracle replays the
    split, both packings, the offset arithmetic, and both two-level
    digest pyramids; the file-side equalities it asserts as true —
    exactly the _RELEASE_ORACLE convention.

    100 TB: the append cost is proportional to the DELTA (tokenize +
    prefix-sum + one repartition(shard) write of delta rows only);
    verification of untouched shards is a manifest-digest string
    compare, not a data read. The base's digest pyramid is computed
    once and reused — in production it would be read back from the
    v1 manifest table rather than recomputed."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum
    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read

    d = load(spark, sf_dir, "documents")
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    is_base = (
        _bucket(
            F.concat(F.lit("relsplit:"), F.col("doc_id").cast("string")), 10
        )
        < 8
    )

    def pack(docs: DataFrame, offset: int) -> DataFrame:
        toks = scale_partitions(docs).select("doc_id", "text").mapInPandas(
            gen, "doc_id bigint, n bigint, ids array<int>"
        )
        packed = partitioned_prefix_sum(
            toks, order_col="doc_id", value_col="n", out_col="cum",
            shards=32,
        )
        per = packed.select(
            (
                F.lit(offset)
                + F.floor((F.col("cum") - F.col("n")) / 512).cast("long")
            ).alias("seq_id"),
            "doc_id",
            "n",
            "ids",
        )
        flat_ids = F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id").alias("d"),
                            F.col("ids").alias("i"),
                        )
                    )
                ),
                lambda s: s["i"],
            )
        )
        return (
            per.groupBy("seq_id")
            .agg(
                F.sum("n").cast("long").alias("n_tokens"),
                flat_ids.alias("ids"),
            )
            .select(
                _bucket(F.col("seq_id").cast("string"), 8).alias("shard"),
                F.floor(F.col("seq_id") / 64).cast("long").alias("chunk"),
                "seq_id",
                "n_tokens",
                "ids",
            )
            .localCheckpoint(eager=True)
        )

    base_seqs = pack(d.filter(is_base), 0)
    offset = base_seqs.agg(F.max("seq_id")).collect()[0][0] + 1
    delta_seqs = pack(d.filter(~is_base), int(offset))

    store = scratch_dir("release_incr")
    for version, seqs in ((1, base_seqs), (2, delta_seqs)):
        snapshot_commit(
            spark,
            seqs.withColumn("shard_key", F.col("shard")).repartition(
                "shard_key"
            ),
            store,
            version,
            partition_by=("shard_key",),
        )

    plan_v1 = _two_level_shard_digest(_seq_ids_sha(base_seqs), "_v1")
    plan_v2 = _two_level_shard_digest(
        _seq_ids_sha(base_seqs.unionByName(delta_seqs)), "_v2"
    )
    cols = ["shard", "chunk", "seq_id", "n_tokens", "ids"]
    f1 = _two_level_shard_digest(
        _seq_ids_sha(snapshot_read(spark, store, 1).select(*cols)),
        "_f1",
    )
    f2 = _two_level_shard_digest(
        _seq_ids_sha(snapshot_read(spark, store, 2).select(*cols)),
        "_f2",
    )
    touched = (
        delta_seqs.select("shard").distinct().withColumn("t", F.lit(1))
    )
    return (
        plan_v2.join(plan_v1, "shard", "left")
        .join(f1, "shard", "left")
        .join(f2, "shard", "left")
        .join(touched, "shard", "left")
        .select(
            "shard",
            "n_seqs_v1",
            "n_tokens_v1",
            "n_seqs_v2",
            "n_tokens_v2",
            F.coalesce(F.col("t"), F.lit(0)).cast("int").alias("touched"),
            "shard_sha_v1",
            "shard_sha_v2",
            (
                F.col("shard_sha_v1").eqNullSafe(F.col("shard_sha_f1"))
                & F.col("n_seqs_v1").eqNullSafe(F.col("n_seqs_f1"))
                & F.col("n_tokens_v1").eqNullSafe(F.col("n_tokens_f1"))
            ).alias("v1_files_match"),
            (
                (F.col("shard_sha_v2") == F.col("shard_sha_f2"))
                & (F.col("n_seqs_v2") == F.col("n_seqs_f2"))
                & (F.col("n_tokens_v2") == F.col("n_tokens_f2"))
            ).alias("v2_files_match"),
            (
                (~F.col("shard_sha_v1").eqNullSafe(F.col("shard_sha_v2")))
                == (F.coalesce(F.col("t"), F.lit(0)) == 1)
            ).alias("digest_changed_iff_touched"),
        )
        .orderBy("shard")
    )


_RELEASE_RESUME_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(folded, e'[ \\x1f\\x1e]'),
                       x -> x != ''),
           x -> coalesce(list_position({_BPE_VOCAB_SQL}, x), 0)
         ) AS ids
  FROM (SELECT doc_id, {_bpe_fold_sql("marked")} AS folded
        FROM (SELECT doc_id, {_bpe_marked_sql("text")} AS marked
              FROM documents))
), per AS MATERIALIZED (
  SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id, doc_id, n, ids
  FROM (SELECT doc_id, len(ids) AS n, ids,
               sum(len(ids)) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM tok)
), seqs AS MATERIALIZED (
  SELECT CAST('0x' || substr(sha256(CAST(seq_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 8 AS shard,
         CAST(floor(seq_id / 64) AS BIGINT) AS chunk,
         seq_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         sha256(array_to_string(flatten(list(ids ORDER BY doc_id)), ','))
           AS ids_sha
  FROM per GROUP BY seq_id
), cur AS (SELECT (max(chunk) + 1) // 2 AS c FROM seqs),
rem AS MATERIALIZED (
  SELECT shard, chunk, count(*) AS c_seqs,
         CAST(sum(n_tokens) AS BIGINT) AS c_tokens,
         sha256(string_agg(ids_sha, ',' ORDER BY seq_id)) AS chunk_sha
  FROM seqs WHERE chunk >= (SELECT c FROM cur)
  GROUP BY shard, chunk
)
SELECT shard,
       CAST((SELECT c FROM cur) AS BIGINT) AS cursor_chunk,
       CAST(count(*) AS BIGINT) AS n_chunks_rem,
       CAST(sum(c_seqs) AS BIGINT) AS n_seqs_rem,
       CAST(sum(c_tokens) AS BIGINT) AS n_tokens_rem,
       true AS chunks_verified
FROM rem GROUP BY shard ORDER BY shard
"""


@query("x6_release_resume", oracle=_RELEASE_RESUME_ORACLE)
def x6_release_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATALOADER RESUME from a committed release — the read-side
    contract the physical release exists for: a trainer that died
    mid-epoch restarts at a (chunk) cursor and must (a) know exactly
    how much work remains per shard and (b) re-verify ONLY the
    chunks it will actually read — never the whole release (that is
    the point of the two-level manifest: chunk digests localize
    trust). The corpus packs and commits exactly as
    x6_release_materialize (snapshot v1, per-shard hive partitions);
    the cursor is the deterministic mid-chunk ((max_chunk + 1) div 2,
    so both sides of the boundary are non-empty at every SF); the
    remainder is re-read THROUGH THE MANIFEST, its per-chunk digests
    recomputed FROM FILES and compared chunk-by-chunk against the
    plan-side manifest — the output row per shard carries the
    remaining chunk/sequence/token counts and the per-shard AND of
    the chunk-digest equalities. The oracle replays the packing, the
    cursor arithmetic, and the remainder aggregation; the file-side
    equality it asserts as true (the _RELEASE_ORACLE convention).

    100 TB: resume cost is proportional to the REMAINDER (manifest
    scan is metadata-sized; only chunks ≥ cursor are read and
    digested), and each shard verifies independently — the property
    that lets a 1000-worker training job restart without a full
    release audit."""
    from recipes_spark.operators.prefix import partitioned_prefix_sum
    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read

    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    toks = d.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, n bigint, ids array<int>"
    )
    packed = partitioned_prefix_sum(
        toks, order_col="doc_id", value_col="n", out_col="cum", shards=32
    )
    per = packed.select(
        F.floor((F.col("cum") - F.col("n")) / 512)
        .cast("long")
        .alias("seq_id"),
        "doc_id",
        "n",
        "ids",
    )
    flat_ids = F.flatten(
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
    seqs = (
        per.groupBy("seq_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            flat_ids.alias("ids"),
        )
        .select(
            _bucket(F.col("seq_id").cast("string"), 8).alias("shard"),
            F.floor(F.col("seq_id") / 64).cast("long").alias("chunk"),
            "seq_id",
            "n_tokens",
            "ids",
        )
        .localCheckpoint(eager=True)
    )
    store = scratch_dir("release_resume")
    snapshot_commit(
        spark,
        seqs.withColumn("shard_key", F.col("shard")).repartition(
            "shard_key"
        ),
        store,
        1,
        partition_by=("shard_key",),
    )
    cursor = (
        seqs.agg(((F.max("chunk") + 1) / 2).cast("long")).collect()[0][0]
    )

    def chunk_digests(df: DataFrame, suffix: str) -> DataFrame:
        return (
            _seq_ids_sha(df)
            .filter(F.col("chunk") >= cursor)
            .groupBy("shard", "chunk")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"c_seqs{suffix}"),
                F.sum("n_tokens").cast("long").alias(f"c_tokens{suffix}"),
                _ordered_sha("seq_id", "ids_sha").alias(
                    f"chunk_sha{suffix}"
                ),
            )
        )

    plan = chunk_digests(seqs, "")
    files = chunk_digests(
        snapshot_read(spark, store, 1).select(
            "shard", "chunk", "seq_id", "n_tokens", "ids"
        ),
        "_f",
    )
    return (
        plan.join(files, ["shard", "chunk"], "full")
        .groupBy("shard")
        .agg(
            F.lit(int(cursor)).cast("long").alias("cursor_chunk"),
            F.count(F.lit(1)).cast("long").alias("n_chunks_rem"),
            F.sum("c_seqs").cast("long").alias("n_seqs_rem"),
            F.sum("c_tokens").cast("long").alias("n_tokens_rem"),
            F.min(
                F.col("chunk_sha").eqNullSafe(F.col("chunk_sha_f"))
                & F.col("c_seqs").eqNullSafe(F.col("c_seqs_f"))
                & F.col("c_tokens").eqNullSafe(F.col("c_tokens_f"))
            ).alias("chunks_verified"),
        )
        .orderBy("shard")
    )


# Hashed-feature linear quality classifier (the fastText shape of the
# GPT-3/LLaMA quality-filter stage, public): token -> sha-slice bucket
# in [0, _QF_DIM), score = mean of per-bucket integer-micro weights.
# The weight table is Python-GENERATED from seed-word lists and
# rendered as a literal into BOTH engines (the BPE merge-table
# discipline), so the engines cannot disagree on the model.
_QF_DIM = 64
_QF_GOOD = [
    "the", "a", "and", "of", "to", "in", "is", "it", "on", "for",
]
_QF_BAD = [
    "click", "buy", "free", "winner", "casino", "subscribe",
    "lottery", "prize", "congratulations", "unsubscribe",
]
#: Keep docs whose mean token weight beats the unboosted background
#: bucket weight (-40000): on the sf corpus this keeps ~25-30% (p75),
#: a realistic quality-filter pass rate, and the boundary demonstrably
#: fires in both directions.
_QF_THRESHOLD_MICRO = -40_000


def _qf_bucket_py(tok: str) -> int:
    import hashlib

    return int(
        hashlib.sha256(f"qf:{tok}".encode()).hexdigest()[:8], 16
    ) % _QF_DIM


def _qf_weights() -> list[int]:
    w = [-40_000] * _QF_DIM
    for t in _QF_GOOD:
        w[_qf_bucket_py(t)] += 90_000
    for t in _QF_BAD:
        w[_qf_bucket_py(t)] -= 150_000
    return w


_QF_WEIGHTS = _qf_weights()


@query(
    "x4_quality_classifier",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tok,
         CAST(list_sum(list_transform(t, x ->
           ([{", ".join(str(w) for w in _QF_WEIGHTS)}])[
             CAST(('0x' || substr(sha256('qf:' || x), 1, 8)) AS BIGINT)
             % {_QF_DIM} + 1]
         )) AS BIGINT) AS total
  FROM toks
)
SELECT doc_id, n_tok,
       CAST(floor(total / n_tok) AS BIGINT) AS score_micro,
       CAST(CASE WHEN floor(total / n_tok) >= {_QF_THRESHOLD_MICRO}
            THEN 1 ELSE 0 END AS INT) AS keep
FROM s
""",
)
def x4_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR QUALITY CLASSIFIER over hashed n-gram features — the
    famous pipeline stage (GPT-3's logistic quality filter, LLaMA/
    CCNet's fastText classifier, both public) as a first-class
    operator: every token hashes to one of _QF_DIM=64 feature buckets
    (sha-slice, the portable hash family), the doc score is the MEAN
    of the bucket weights in integer micros, and keep is a threshold
    decision. Weights here are seed-list-generated literals (stopword
    buckets up, spam-vocabulary buckets down) standing in for trained
    coefficients — the SERVING shape is exactly what a trained
    fastText/logistic model ships as: a dense weight vector indexed by
    feature hash. floor(total/n_tok) is exact on both engines (both
    operands < 2^53; an exactly-divisible quotient is exactly
    representable, a non-divisible one sits >> 1 ulp from the
    boundary).

    100 TB: ZERO shuffle — tokenize, hash, weight lookup (the vector
    lives in the expression tree) and mean are row-local; scoring a
    corpus costs one scan, exactly like the production stage. A real
    50k-bucket trained vector would ride a broadcast + Arrow kernel
    (the bpe_greedy_kernel pattern) instead of a literal array."""
    w = F.array(*[F.lit(x) for x in _QF_WEIGHTS])
    toks = F.split("text", " ")
    total = F.aggregate(
        F.transform(
            toks,
            lambda x: F.element_at(
                w,
                (
                    F.conv(
                        F.substring(
                            F.sha2(F.concat(F.lit("qf:"), x), 256), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _QF_DIM
                    + 1
                ).cast("int"),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = scale_partitions(load(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        total.alias("total"),
    ).select(
        "doc_id",
        "n_tok",
        F.floor(F.col("total") / F.col("n_tok"))
        .cast("long")
        .alias("score_micro"),
    )
    return scored.withColumn(
        "keep",
        F.when(
            F.col("score_micro") >= _QF_THRESHOLD_MICRO, F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


# Trained-vector form of the quality classifier (round 12 — the
# production dimensionality x4_quality_classifier's docstring names):
# a ~50k-bucket weight vector shipped to executors inside an Arrow
# kernel's closure (the bpe_greedy_kernel pattern), NOT a 50k-literal
# Catalyst array. Seed lists expand the literal form's 10+10 words
# with deterministic generated vocabulary standing in for trained
# coefficients — the serving shape is what a trained fastText /
# logistic model ships: a dense hash-indexed weight vector.
_QFT_DIM = 50_000
#: Background (un-updated) bucket weight.
_QFT_BASE_MICRO = -40_000
#: Keep threshold: base + 1. At 64 buckets every bucket carries some
#: seed mass (collisions smear it), so threshold == base splits the
#: corpus; at 50k buckets a no-seed-word doc scores EXACTLY base, so
#: the trained form keeps only docs with strictly more good-mass than
#: bad-mass — and the boundary demonstrably fires in both directions.
_QFT_THRESHOLD_MICRO = _QFT_BASE_MICRO + 1
_QFT_GOOD = _QF_GOOD + [f"useful{i:03d}" for i in range(240)]
_QFT_BAD = _QF_BAD + [f"spamtok{i:03d}" for i in range(240)]


def _qft_weight_rows(
    dim: int, good: list[str], bad: list[str], base: int
) -> dict[int, int]:
    """FINAL weights of the non-base buckets only: bucket -> weight
    after every seed-word update (+90k good / -150k bad, accumulated
    on hash collisions) — the compact relation the DuckDB oracle joins
    instead of materializing a dim-sized literal array."""
    import hashlib

    w: dict[int, int] = {}
    for toks, delta in ((good, 90_000), (bad, -150_000)):
        for t in toks:
            b = int(
                hashlib.sha256(f"qf:{t}".encode()).hexdigest()[:8], 16
            ) % dim
            w[b] = w.get(b, base) + delta
    return w


def quality_score_kernel(
    weights: dict[int, int],
    dim: int,
    base: int,
    threshold: int,
    passthrough: tuple[str, ...] = (),
):
    """mapInPandas generator for the hashed-feature linear scorer —
    the PRODUCTION serving island: the (sparse) trained weight map
    rides the closure (Spark broadcasts the serialized function to
    every executor once), tokens hash to buckets with the portable
    sha-slice (identical to the Catalyst/DuckDB expression), and the
    doc score is the exact integer mean in micros. Per-unique-token
    caching across the batch iterator (Zipf → ~99% hits), so scoring
    cost is corpus-scan-bound and INSENSITIVE to dim — a 50k-bucket
    vector costs the same pass as a 64-bucket one (measured:
    SCALE.md quality_classifier_dim probe). floor division on exact
    ints == both engines' floor(total/n_tok) by the literal form's
    exactness argument. ``passthrough`` names extra input columns
    copied verbatim to the output (the eval composition rides its
    label through the island instead of re-joining it)."""
    import hashlib

    def tok_weight(tok: str, cache: dict) -> int:
        w = cache.get(tok)
        if w is None:
            b = int(
                hashlib.sha256(b"qf:" + tok.encode()).hexdigest()[:8], 16
            ) % dim
            w = weights.get(b, base)
            cache[tok] = w
        return w

    def gen(batches):
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            n_tok, score, keep = [], [], []
            for t in pdf["text"]:
                toks = t.split(" ")
                total = 0
                for tok in toks:
                    total += tok_weight(tok, cache)
                n = len(toks)
                s = total // n  # floor division, exact ints
                n_tok.append(n)
                score.append(s)
                keep.append(1 if s >= threshold else 0)
            out = {
                "doc_id": pdf["doc_id"],
                "n_tok": pd.Series(n_tok, dtype="int64"),
                "score_micro": pd.Series(score, dtype="int64"),
                "keep": pd.Series(keep, dtype="int32"),
            }
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return gen


def _qft_oracle_sql() -> str:
    rows = ", ".join(
        f"({b}, {w})"
        for b, w in sorted(
            _qft_weight_rows(
                _QFT_DIM, _QFT_GOOD, _QFT_BAD, _QFT_BASE_MICRO
            ).items()
        )
    )
    return f"""
WITH wt(b, w) AS (VALUES {rows}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), bt AS (
  SELECT doc_id,
         CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
           % {_QFT_DIM} AS b
  FROM toks
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(coalesce(w, {_QFT_BASE_MICRO})) AS BIGINT) AS total
  FROM bt LEFT JOIN wt USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_tok,
       CAST(floor(total / n_tok) AS BIGINT) AS score_micro,
       CAST(CASE WHEN floor(total / n_tok) >= {_QFT_THRESHOLD_MICRO}
            THEN 1 ELSE 0 END AS INT) AS keep
FROM s
"""


@query("x4_quality_classifier_trained", oracle=_qft_oracle_sql())
def x4_quality_classifier_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality classifier at PRODUCTION dimensionality — the 50k-bucket
    trained-vector form x4_quality_classifier's docstring names (and
    the r11 verdict's task 1): the weight vector no longer fits the
    expression tree as a literal array, so it ships to executors
    inside an Arrow mapInPandas kernel's closure (bpe_greedy_kernel's
    pattern — Spark broadcasts the serialized function once per
    executor) and scoring is one zero-shuffle corpus pass with
    per-unique-token caching. Weights are Python-generated from seed
    word lists (deterministic, shared-seed) standing in for trained
    coefficients; the DuckDB oracle joins the ~500 NON-base buckets as
    a compact weight relation (VALUES table + COALESCE to the base
    weight) — fully oracled without a 50k-literal array, and any
    bucket-math or accumulation drift between the engines shifts
    doc scores. Gated bit-identical to the 64-bucket literal form on a
    shared-seed config (tests/test_intent_round12.py), and the
    threshold fires in both directions on the sf corpus.

    100 TB: ZERO shuffle — one scan through one Arrow island; dim
    enters only closure size (50k × 8 B ≈ 400 KB serialized once per
    executor) and the per-MISS hash cost, not the per-token cost
    (measured dim-insensitive: SCALE.md quality_classifier_dim)."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    gen = quality_score_kernel(
        _qft_weight_rows(_QFT_DIM, _QFT_GOOD, _QFT_BAD, _QFT_BASE_MICRO),
        _QFT_DIM,
        _QFT_BASE_MICRO,
        _QFT_THRESHOLD_MICRO,
    )
    return d.select("doc_id", "text").mapInPandas(
        gen,
        schema="doc_id bigint, n_tok bigint, score_micro bigint, keep int",
    )


#: The published Gopher stopword list (Rae et al. 2021 §A1.1) — a doc
#: must contain at least two of these to pass the natural-language
#: heuristic. Deployment swaps in the corpus language's list.
#: (Defined here, above its two consumers: x4_gopher_filter and the
#: classifier-training label below.)
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


# TRAIN→APPLY composition for the quality classifier (round 13 — the
# classification twin of x4_bpe_train_apply): the weight vector is no
# longer seed-list synthetic — it is TRAINED on-corpus from weak
# supervision (the Gopher rule set's composite keep flag), as
# integer-exact per-bucket odds in micros, then served through the
# SAME Arrow kernel as x4_quality_classifier_trained.
_QTA_DIM = 50_000
#: Unseen-bucket weight: a token never observed in training carries
#: the corpus PRIOR, i.e. centered weight 0 (never fires when the
#: training corpus equals the scoring corpus; the kernel needs the
#: convention anyway for held-out application).
_QTA_BASE_MICRO = 0
#: keep ⇔ the doc's mean token odds beat the corpus prior STRICTLY —
#: centering on the prior is what makes the boundary fire in both
#: directions at every SF regardless of the label base rate.
_QTA_THRESHOLD_MICRO = 1


def _gopher_keep_expr():
    """The weak-supervision training label: x4_gopher_filter's three
    CONTENT rules (length band, mean-word-length band, duplicate-token
    cap) — the stopword rule is deliberately excluded because it is
    vocabulary-specific (its own docstring: "deployment swaps in the
    corpus language's list") and the synthetic corpus contains no
    English stopwords, so including it makes the label constant-False
    (observed) and the training degenerate. The three rules' arithmetic
    is IDENTICAL to the attested x4_gopher_filter pair (same double op
    sequence, same bounds), so label parity between the engines is
    already attested ground."""
    w = F.split("text", " ")
    nw = F.size(w).cast("long")
    nc = F.length("text").cast("long")
    mwl = F.floor(F.lit(1000000.0) * (nc - nw + 1) / nw).cast("long")
    dup = F.floor(
        F.lit(1000000.0)
        * (1.0 - F.size(F.array_distinct(w)) / F.size(w))
    ).cast("long")
    return (
        nw.between(30, 80)
        & mwl.between(4000000, 5500000)
        & (dup <= 400000)
    )



def _qta_weights_from_stats(stats) -> dict:
    """Prior-shrunk integer posterior-odds weights from collected
    (b, pos, tot) training rows: w(b) = (2·10⁶·(pos·TOT + POS)) div
    (TOT·(tot + 1)) − q0 with q0 = (2·10⁶·POS) div TOT — shrinkage
    toward the corpus PRIOR, not ½ (see the train_apply docstring for
    why Laplace smoothing classifies everything keep below a ½ base
    rate). ONE definition for the five classifier queries
    (train_apply, eval, crosseval, calibration, st29) so the exact
    arithmetic their five oracles replay cannot drift between them."""
    pos_all = sum(int(r["pos"]) for r in stats)
    tot_all = sum(int(r["tot"]) for r in stats)
    q0 = (2_000_000 * pos_all) // tot_all
    return {
        int(r["b"]): (
            2_000_000 * (int(r["pos"]) * tot_all + pos_all)
        )
        // (tot_all * (int(r["tot"]) + 1))
        - q0
        for r in stats
    }


_QTA_ORACLE = f"""
WITH lbl AS MATERIALIZED (
  SELECT doc_id, text,
         ((len(w) BETWEEN 30 AND 80)
          AND (floor(1000000.0 * (nc - len(w) + 1) / len(w))
               BETWEEN 4000000 AND 5500000)
          AND (floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
               <= 400000)) AS keep_lbl
  FROM (SELECT doc_id, text, len(text) AS nc, string_split(text, ' ') AS w
        FROM documents)
), bt AS MATERIALIZED (
  SELECT doc_id, keep_lbl,
         CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
           % {_QTA_DIM} AS b
  FROM (SELECT doc_id, keep_lbl, unnest(string_split(text, ' ')) AS tok
        FROM lbl)
), stats AS MATERIALIZED (
  SELECT b,
         sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot
  FROM bt GROUP BY b
), prior AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0
  FROM stats
), wt AS MATERIALIZED (
  SELECT b,
         (2000000 * (pos * (SELECT totall FROM prior)
                     + (SELECT posall FROM prior)))
           // ((SELECT totall FROM prior) * (tot + 1))
           - (SELECT q0 FROM prior) AS w
  FROM stats
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(w) AS BIGINT) AS total
  FROM bt JOIN wt USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_tok,
       CAST(floor(total / n_tok) AS BIGINT) AS score_micro,
       CAST(CASE WHEN floor(total / n_tok) >= {_QTA_THRESHOLD_MICRO}
            THEN 1 ELSE 0 END AS INT) AS keep
FROM s
"""


@query("x4_quality_classifier_train_apply", oracle=_QTA_ORACLE)
def x4_quality_classifier_train_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality classifier TRAINED FROM LABELED DATA — the full
    train→apply composition (r12 verdict task 1), doing for
    classification what x4_bpe_train_apply did for tokenization.
    Labels are weak supervision: the Gopher rule set's three content
    rules (x4_gopher_filter minus the vocabulary-specific stopword
    rule — see _gopher_keep_expr; the standard bootstrap for a learned
    quality filter when no human labels exist — CCNet/LLaMA seed their
    fastText classifiers the same way from rule-filtered positives).
    Training is ONE hash aggregate, no float SGD: every token
    occurrence hashes to a bucket (portable sha-slice, dim 50k) and
    the bucket's weight is its exact integer posterior-vs-prior odds
    in micros,
        w(b) = 2·10⁶·(pos_b + p₀) / (tot_b + 1) − q0
             = (2·10⁶·(pos_b·TOT + POS)) div (TOT·(tot_b + 1)) − q0,
    i.e. P(keep|b) shrunk toward the corpus prior p₀ = POS/TOT by one
    pseudo-count AT THE PRIOR RATE (integer-exact via the common-
    denominator form; monotone in the log-odds — the fastText-shaped
    analog). Shrinking toward the PRIOR, not toward ½ (Laplace +1/+2),
    matters: with a base rate below ½, uniform smoothing pulls every
    low-count bucket ABOVE the prior and the whole corpus classifies
    keep (observed — the first cut did exactly that); prior-rate
    shrinkage leaves rare evidence neutral, so doc scores straddle q0
    = 2·10⁶·p₀ by construction. Serving reuses quality_score_kernel
    unchanged: the trained sparse weight map rides the Arrow kernel's
    closure, score = floor-mean of token weights, keep ⇔ score ≥ 1
    (strictly beats the prior — so the boundary fires in both
    directions at every SF regardless of the label base rate). The
    DuckDB oracle replays BOTH halves — the label derivation, the
    training aggregate chain (AS MATERIALIZED, the BPE lesson), and
    the scoring join — so a drift anywhere in label math, bucket
    hash, smoothing, centering, or mean shifts doc scores and fails
    the hash.

    100 TB: training is one corpus scan + ONE bucket-keyed exchange
    whose reduce state is bounded by dim (50k rows of two int64
    partials — map-side combine collapses the token stream before the
    shuffle), then a ≤dim-row collect (the bounded-model-state
    pattern, same class as the PQ codebook sample); serving is the
    same zero-shuffle Arrow island as x4_quality_classifier_trained
    (closure ≈ 400 KB, per-unique-token cache, corpus-scan-bound)."""
    d = load(spark, sf_dir, "documents")
    labeled = scale_partitions(d).select(
        "doc_id", "text", _gopher_keep_expr().alias("lbl")
    )
    toks = labeled.select(
        "lbl", F.explode(F.split("text", " ")).alias("tok")
    )
    stats = (
        toks.select(
            "lbl",
            _bucket(F.concat(F.lit("qf:"), F.col("tok")), _QTA_DIM).alias("b"),
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
    weights = _qta_weights_from_stats(stats)
    gen = quality_score_kernel(
        weights, _QTA_DIM, _QTA_BASE_MICRO, _QTA_THRESHOLD_MICRO
    )
    return scale_partitions(d).select("doc_id", "text").mapInPandas(
        gen,
        schema="doc_id bigint, n_tok bigint, score_micro bigint, keep int",
    )


_QTA_EVAL_ORACLE = f"""
WITH lbl AS MATERIALIZED (
  SELECT doc_id, text,
         ((len(w) BETWEEN 30 AND 80)
          AND (floor(1000000.0 * (nc - len(w) + 1) / len(w))
               BETWEEN 4000000 AND 5500000)
          AND (floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
               <= 400000)) AS keep_lbl,
         (CAST(('0x' || substr(sha256('qsplit:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) % 10 < 8) AS is_train
  FROM (SELECT doc_id, text, len(text) AS nc, string_split(text, ' ') AS w
        FROM documents)
), bt AS MATERIALIZED (
  SELECT doc_id, is_train, keep_lbl,
         CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
           % {_QTA_DIM} AS b
  FROM (SELECT doc_id, is_train, keep_lbl,
               unnest(string_split(text, ' ')) AS tok
        FROM lbl)
), stats AS MATERIALIZED (
  SELECT b,
         sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot
  FROM bt WHERE is_train GROUP BY b
), prior AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0
  FROM stats
), wt AS MATERIALIZED (
  SELECT b,
         (2000000 * (pos * (SELECT totall FROM prior)
                     + (SELECT posall FROM prior)))
           // ((SELECT totall FROM prior) * (tot + 1))
           - (SELECT q0 FROM prior) AS w
  FROM stats
), s AS (
  SELECT doc_id, keep_lbl,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(coalesce(w, 0)) AS BIGINT) AS total
  FROM (SELECT * FROM bt WHERE NOT is_train) h LEFT JOIN wt USING (b)
  GROUP BY doc_id, keep_lbl
), pred AS (
  SELECT keep_lbl, (floor(total / n_tok) >= {_QTA_THRESHOLD_MICRO}) AS p
  FROM s
), c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN p AND keep_lbl THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(sum(CASE WHEN p AND NOT keep_lbl THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(sum(CASE WHEN NOT p AND keep_lbl THEN 1 ELSE 0 END) AS BIGINT)
           AS fn,
         CAST(sum(CASE WHEN NOT p AND NOT keep_lbl THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM pred
), m AS (
  SELECT n_eval, tp, fp, fn, tn,
         CAST(floor(1000000.0 * tp / greatest(tp + fp, 1)) AS BIGINT)
           AS precision_micro,
         CAST(floor(1000000.0 * tp / greatest(tp + fn, 1)) AS BIGINT)
           AS recall_micro,
         CAST(floor(1000000.0 * (tp + tn) / greatest(n_eval, 1)) AS BIGINT)
           AS accuracy_micro
  FROM c
)
SELECT n_eval, tp, fp, fn, tn, precision_micro, recall_micro,
       accuracy_micro,
       CAST(floor(2.0 * precision_micro * recall_micro /
            greatest(precision_micro + recall_micro, 1)) AS BIGINT)
         AS f1_micro
FROM m
"""


@query("x4_quality_classifier_eval", oracle=_QTA_EVAL_ORACLE)
def x4_quality_classifier_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EVALUATION leg completing the classifier lifecycle —
    train→apply→evaluate with an honest HELD-OUT split: docs split
    80/20 by the portable hash of 'qsplit:<doc_id>' (deterministic,
    engine-replayable — never a seeded RNG), the weight vector trains
    on the 80% exactly as x4_quality_classifier_train_apply does, the
    held-out 20% scores through the same Arrow kernel (its label rides
    the island via the kernel's passthrough — no re-join), and the
    output is the confusion matrix plus precision / recall / accuracy
    / F1 in floor-scaled integer micros. Held-out scoring genuinely
    exercises the UNSEEN-bucket path (tokens absent from the training
    split take the prior, base 0) — the serving condition the
    train==apply corpus of the sibling query can never reach. The
    oracle replays the split, both training halves, the held-out
    scoring join, and every metric in the same integer arithmetic.

    100 TB: identical shape to the train_apply sibling (one training
    scan + dim-bounded exchange + ≤dim collect; one held-out Arrow
    scan) plus a single 1-row aggregate — evaluation adds no new
    data-sized exchange."""
    d = load(spark, sf_dir, "documents")
    labeled = scale_partitions(d).select(
        "doc_id",
        "text",
        _gopher_keep_expr().alias("lbl"),
        (
            _bucket(
                F.concat(F.lit("qsplit:"), F.col("doc_id").cast("string")),
                10,
            )
            < 8
        ).alias("is_train"),
    )
    stats = (
        labeled.filter(F.col("is_train"))
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
    weights = _qta_weights_from_stats(stats)
    gen = quality_score_kernel(
        weights,
        _QTA_DIM,
        _QTA_BASE_MICRO,
        _QTA_THRESHOLD_MICRO,
        passthrough=("lbl",),
    )
    scored = (
        labeled.filter(~F.col("is_train"))
        .select("doc_id", "text", "lbl")
        .mapInPandas(
            gen,
            schema="doc_id bigint, n_tok bigint, score_micro bigint,"
            " keep int, lbl boolean",
        )
    )
    p = F.col("keep") == 1
    lb = F.col("lbl")
    c = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.when(p & lb, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(p & ~lb, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~p & lb, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~p & ~lb, 1).otherwise(0)).cast("long").alias("tn"),
    )
    m = c.select(
        "*",
        F.floor(
            F.lit(1000000.0)
            * F.col("tp")
            / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
        )
        .cast("long")
        .alias("precision_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.col("tp")
            / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
        )
        .cast("long")
        .alias("recall_micro"),
        F.floor(
            F.lit(1000000.0)
            * (F.col("tp") + F.col("tn"))
            # Clamped like precision/recall/f1: an empty 20% hash split
            # must yield a defined 0, not null (ADVICE r13).
            / F.greatest(F.col("n_eval"), F.lit(1))
        )
        .cast("long")
        .alias("accuracy_micro"),
    )
    return m.select(
        "*",
        F.floor(
            F.lit(2.0)
            * F.col("precision_micro")
            * F.col("recall_micro")
            / F.greatest(
                F.col("precision_micro") + F.col("recall_micro"), F.lit(1)
            )
        )
        .cast("long")
        .alias("f1_micro"),
    )


_QTA_CALIBRATION_ORACLE = f"""
WITH lbl AS MATERIALIZED (
  SELECT doc_id, text,
         ((len(w) BETWEEN 30 AND 80)
          AND (floor(1000000.0 * (nc - len(w) + 1) / len(w))
               BETWEEN 4000000 AND 5500000)
          AND (floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
               <= 400000)) AS keep_lbl
  FROM (SELECT doc_id, text, len(text) AS nc, string_split(text, ' ') AS w
        FROM documents)
), bt AS MATERIALIZED (
  SELECT doc_id, keep_lbl,
         CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
           % {_QTA_DIM} AS b
  FROM (SELECT doc_id, keep_lbl, unnest(string_split(text, ' ')) AS tok
        FROM lbl)
), stats AS MATERIALIZED (
  SELECT b,
         sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot
  FROM bt GROUP BY b
), prior AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0
  FROM stats
), wt AS MATERIALIZED (
  SELECT b,
         (2000000 * (pos * (SELECT totall FROM prior)
                     + (SELECT posall FROM prior)))
           // ((SELECT totall FROM prior) * (tot + 1))
           - (SELECT q0 FROM prior) AS w
  FROM stats
), s AS (
  SELECT doc_id, any_value(keep_lbl) AS keep_lbl,
         CAST(floor(sum(w) / count(*)) AS BIGINT) AS score_micro
  FROM bt JOIN wt USING (b)
  GROUP BY doc_id
), binned AS (
  SELECT greatest(least(CAST(floor(score_micro / 2000.0) AS BIGINT),
                        4), -5) AS bin,
         keep_lbl
  FROM s
)
SELECT bin,
       CAST(bin * 2000 AS BIGINT) AS bin_lo_micro,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_label_keep,
       CAST(floor(1000000.0 * sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END)
            / count(*)) AS BIGINT) AS label_keep_rate_micro
FROM binned GROUP BY bin ORDER BY bin
"""


@query("x4_classifier_calibration", oracle=_QTA_CALIBRATION_ORACLE)
def x4_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CALIBRATION CURVE (reliability diagram) for the trained quality
    classifier — the artifact a data team reads before choosing a
    filter threshold: docs binned by classifier score (fixed 0.002
    bands around the prior-centered zero, outer bands clamped so the
    grid is bounded), each bin reporting how often the weak label
    actually says keep. A monotone curve means the score RANKS
    quality even where the hard threshold is debatable; a flat curve
    means the classifier adds nothing over the prior — with this
    corpus the curve rises steeply through zero, which is why the
    keep ⇔ score ≥ 1 boundary works at every SF. Training and
    scoring replay the attested train_apply chain; binning and rates
    are exact integers (floor(score/2000) with clamped edges, rate
    in floor micros), so the whole diagram is oracle-replayed.

    100 TB: one training exchange (dim-bounded) + one scoring scan +
    a ≤10-row aggregate — the curve costs nothing beyond the
    classifier itself."""
    d = load(spark, sf_dir, "documents")
    labeled = scale_partitions(d).select(
        "doc_id", "text", _gopher_keep_expr().alias("lbl")
    )
    stats = (
        labeled.select("lbl", F.explode(F.split("text", " ")).alias("tok"))
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
    weights = _qta_weights_from_stats(stats)
    gen = quality_score_kernel(
        weights,
        _QTA_DIM,
        _QTA_BASE_MICRO,
        _QTA_THRESHOLD_MICRO,
        passthrough=("lbl",),
    )
    scored = labeled.mapInPandas(
        gen,
        schema="doc_id bigint, n_tok bigint, score_micro bigint,"
        " keep int, lbl boolean",
    )
    binned = scored.select(
        F.greatest(
            F.least(
                F.floor(F.col("score_micro") / 2000.0).cast("long"),
                F.lit(4),
            ),
            F.lit(-5),
        ).alias("bin"),
        "lbl",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("lbl"), 1).otherwise(0))
            .cast("long")
            .alias("n_label_keep"),
            F.floor(
                F.lit(1000000.0)
                * F.sum(F.when(F.col("lbl"), 1).otherwise(0))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("label_keep_rate_micro"),
        )
        .select(
            "bin",
            (F.col("bin") * 2000).cast("long").alias("bin_lo_micro"),
            "n_docs",
            "n_label_keep",
            "label_keep_rate_micro",
        )
        .orderBy("bin")
    )


#: Second weak labeler for the cross-labeler evaluation: Flesch
#: reading-ease ≥ 77.0 (milli units — ~the corpus median at every SF,
#: so the signal demonstrably fires in both directions). Deliberately a
#: DIFFERENT heuristic family from the Gopher content rules the
#: classifier trains on.
_QTA_FLESCH_KEEP_MILLI = 77_000

_QTA_CROSSEVAL_ORACLE = f"""
WITH lbl AS MATERIALIZED (
  SELECT doc_id, text,
         ((len(w) BETWEEN 30 AND 80)
          AND (floor(1000000.0 * (nc - len(w) + 1) / len(w))
               BETWEEN 4000000 AND 5500000)
          AND (floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
               <= 400000)) AS keep_lbl
  FROM (SELECT doc_id, text, len(text) AS nc, string_split(text, ' ') AS w
        FROM documents)
), bt AS MATERIALIZED (
  SELECT doc_id, keep_lbl,
         CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
           % {_QTA_DIM} AS b
  FROM (SELECT doc_id, keep_lbl, unnest(string_split(text, ' ')) AS tok
        FROM lbl)
), stats AS MATERIALIZED (
  SELECT b,
         sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot
  FROM bt GROUP BY b
), prior AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0
  FROM stats
), wt AS MATERIALIZED (
  SELECT b,
         (2000000 * (pos * (SELECT totall FROM prior)
                     + (SELECT posall FROM prior)))
           // ((SELECT totall FROM prior) * (tot + 1))
           - (SELECT q0 FROM prior) AS w
  FROM stats
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(w) AS BIGINT) AS total
  FROM bt JOIN wt USING (b)
  GROUP BY doc_id
), rd AS (
  SELECT doc_id,
         floor(1000.0 * (206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)))
           >= {_QTA_FLESCH_KEEP_MILLI} AS readable
  FROM (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST((len(string_split(text, ' ')) + 11) // 12 AS BIGINT)
                 AS n_sentences,
               CAST(len(regexp_split_to_array(text, '[aeiou]+')) - 1
                    AS BIGINT) AS n_syllables
        FROM documents)
), pred AS (
  SELECT (floor(s.total / s.n_tok) >= {_QTA_THRESHOLD_MICRO}) AS p,
         rd.readable
  FROM s JOIN rd USING (doc_id)
), c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN p AND readable THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(sum(CASE WHEN p AND NOT readable THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT p AND readable THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT p AND NOT readable THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM pred
), m AS (
  SELECT n_eval, tp, fp, fn, tn,
         CAST(floor(1000000.0 * tp / greatest(tp + fp, 1)) AS BIGINT)
           AS precision_micro,
         CAST(floor(1000000.0 * tp / greatest(tp + fn, 1)) AS BIGINT)
           AS recall_micro,
         CAST(floor(1000000.0 * (tp + tn) / greatest(n_eval, 1)) AS BIGINT)
           AS accuracy_micro
  FROM c
)
SELECT n_eval, tp, fp, fn, tn, precision_micro, recall_micro,
       accuracy_micro,
       CAST(floor(2.0 * precision_micro * recall_micro /
            greatest(precision_micro + recall_micro, 1)) AS BIGINT)
         AS f1_micro
FROM m
"""


@query("x4_quality_classifier_crosseval", oracle=_QTA_CROSSEVAL_ORACLE)
def x4_quality_classifier_crosseval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Evaluate the trained classifier against a DISAGREEING labeler
    (r13 verdict task 7): x4_quality_classifier_eval scores the model
    on held-out labels from the SAME Gopher rule family it trained on
    — self-consistency, not generalization. Here the trained
    classifier's keep decision is scored against an INDEPENDENT weak
    signal from a different heuristic family: Flesch reading-ease ≥
    77.0 (x4_reading_level's exact arithmetic, thresholded at ~the
    corpus median so the signal fires in both directions at every
    SF). The output is the cross-labeler confusion matrix plus
    precision / recall / accuracy / F1 in floor-scaled integer micros
    — the honest generalization number a data team demands before
    letting a filter loose on 100 TB: high self-consistency with low
    cross-labeler agreement means the model memorized its rule
    family, not "quality". The oracle replays the training chain, the
    scoring join, the Flesch labeler, and every metric in identical
    integer arithmetic.

    100 TB: the classifier side is the train_apply plan unchanged
    (one training exchange bounded by dim, one scoring scan); the
    Flesch labeler is row-local; the confusion is a single 1-row
    aggregate — cross-labeler evaluation adds no data-sized
    exchange."""
    d = load(spark, sf_dir, "documents")
    labeled = scale_partitions(d).select(
        "doc_id", "text", _gopher_keep_expr().alias("lbl")
    )
    # Round 15 folded this query onto the SHARED classifier helpers
    # (_train_bucket_weights / _readable_expr_df / _confusion_metrics —
    # one definition for the arithmetic every classifier oracle
    # replays); the emitted expressions, output, and oracle text are
    # unchanged (re-attested: _RECHECK 15).
    weights = _train_bucket_weights(labeled, "lbl")
    gen = quality_score_kernel(
        weights, _QTA_DIM, _QTA_BASE_MICRO, _QTA_THRESHOLD_MICRO
    )
    scored = scale_partitions(d).select("doc_id", "text").mapInPandas(
        gen,
        schema="doc_id bigint, n_tok bigint, score_micro bigint, keep int",
    )
    readable = _readable_expr_df(d)
    p = F.col("keep") == 1
    rb = F.col("readable")
    c = scored.join(readable, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.when(p & rb, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(p & ~rb, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~p & rb, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~p & ~rb, 1).otherwise(0)).cast("long").alias("tn"),
    )
    return _confusion_metrics(c)


_QTA_TRANSFER_ORACLE = f"""
WITH lbl AS MATERIALIZED (
  SELECT doc_id, text,
         ((len(w) BETWEEN 30 AND 80)
          AND (floor(1000000.0 * (nc - len(w) + 1) / len(w))
               BETWEEN 4000000 AND 5500000)
          AND (floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
               <= 400000)) AS keep_lbl
  FROM (SELECT doc_id, text, len(text) AS nc, string_split(text, ' ') AS w
        FROM documents)
), rd AS MATERIALIZED (
  SELECT doc_id,
         floor(1000.0 * (206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)))
           >= {_QTA_FLESCH_KEEP_MILLI} AS readable
  FROM (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST((len(string_split(text, ' ')) + 11) // 12 AS BIGINT)
                 AS n_sentences,
               CAST(len(regexp_split_to_array(text, '[aeiou]+')) - 1
                    AS BIGINT) AS n_syllables
        FROM documents)
), bt AS MATERIALIZED (
  SELECT t.doc_id, t.keep_lbl, rd.readable, t.b
  FROM (SELECT doc_id, keep_lbl,
               CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
                 % {_QTA_DIM} AS b
        FROM (SELECT doc_id, keep_lbl,
                     unnest(string_split(text, ' ')) AS tok
              FROM lbl)) t
  JOIN rd USING (doc_id)
), sa AS MATERIALIZED (
  SELECT b, sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot FROM bt GROUP BY b
), pa AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0 FROM sa
), wa AS MATERIALIZED (
  SELECT b, (2000000 * (pos * (SELECT totall FROM pa)
                        + (SELECT posall FROM pa)))
              // ((SELECT totall FROM pa) * (tot + 1))
              - (SELECT q0 FROM pa) AS w
  FROM sa
), sb AS MATERIALIZED (
  SELECT b, sum(CASE WHEN readable THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot FROM bt GROUP BY b
), pb AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0 FROM sb
), wb AS MATERIALIZED (
  SELECT b, (2000000 * (pos * (SELECT totall FROM pb)
                        + (SELECT posall FROM pb)))
              // ((SELECT totall FROM pb) * (tot + 1))
              - (SELECT q0 FROM pb) AS w
  FROM sb
), da AS (
  SELECT doc_id, any_value(readable) AS readable,
         (floor(sum(w.w) * 1.0 / count(*)) >= {_QTA_THRESHOLD_MICRO}) AS p
  FROM bt JOIN wa w USING (b) GROUP BY doc_id
), db AS (
  SELECT doc_id, any_value(keep_lbl) AS keep_lbl,
         (floor(sum(w.w) * 1.0 / count(*)) >= {_QTA_THRESHOLD_MICRO}) AS p
  FROM bt JOIN wb w USING (b) GROUP BY doc_id
), ca AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN p AND readable THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(sum(CASE WHEN p AND NOT readable THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT p AND readable THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT p AND NOT readable THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM da
), cb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN p AND keep_lbl THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(sum(CASE WHEN p AND NOT keep_lbl THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT p AND keep_lbl THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT p AND NOT keep_lbl THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM db
), u AS (
  SELECT 'gopher_to_flesch' AS direction, * FROM ca
  UNION ALL
  SELECT 'flesch_to_gopher' AS direction, * FROM cb
), m AS (
  SELECT direction, n_eval, tp, fp, fn, tn,
         CAST(floor(1000000.0 * tp / greatest(tp + fp, 1)) AS BIGINT)
           AS precision_micro,
         CAST(floor(1000000.0 * tp / greatest(tp + fn, 1)) AS BIGINT)
           AS recall_micro,
         CAST(floor(1000000.0 * (tp + tn) / greatest(n_eval, 1)) AS BIGINT)
           AS accuracy_micro
  FROM u
)
SELECT direction, n_eval, tp, fp, fn, tn, precision_micro, recall_micro,
       accuracy_micro,
       CAST(floor(2.0 * precision_micro * recall_micro /
            greatest(precision_micro + recall_micro, 1)) AS BIGINT)
         AS f1_micro
FROM m ORDER BY direction
"""


def _confusion_metrics(c):
    """Confusion counts -> floor-micro precision/recall/accuracy/F1 —
    the exact integer metric tail shared by the eval / crosseval /
    transfer queries (one definition so the arithmetic their oracles
    replay cannot drift)."""
    m = c.select(
        "*",
        F.floor(
            F.lit(1000000.0)
            * F.col("tp")
            / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
        )
        .cast("long")
        .alias("precision_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.col("tp")
            / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
        )
        .cast("long")
        .alias("recall_micro"),
        F.floor(
            F.lit(1000000.0)
            * (F.col("tp") + F.col("tn"))
            / F.greatest(F.col("n_eval"), F.lit(1))
        )
        .cast("long")
        .alias("accuracy_micro"),
    )
    return m.select(
        "*",
        F.floor(
            F.lit(2.0)
            * F.col("precision_micro")
            * F.col("recall_micro")
            / F.greatest(
                F.col("precision_micro") + F.col("recall_micro"), F.lit(1)
            )
        )
        .cast("long")
        .alias("f1_micro"),
    )


def _readable_expr_df(d: DataFrame) -> DataFrame:
    """(doc_id, readable) — the Flesch reading-ease weak labeler at the
    corpus-median threshold, x4_quality_classifier_crosseval's exact
    arithmetic factored for reuse by the transfer query."""
    n_words = F.size(F.split("text", " ")).cast("long")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.expr(
            "CAST((size(split(text, ' ')) + 11) div 12 AS BIGINT)"
        ).alias("n_sentences"),
        (F.size(F.split("text", "[aeiou]+")) - 1)
        .cast("long")
        .alias("n_syllables"),
    ).select(
        "doc_id",
        (
            F.floor(F.lit(1000.0) * flesch).cast("long")
            >= _QTA_FLESCH_KEEP_MILLI
        ).alias("readable"),
    )


def _train_bucket_weights(labeled: DataFrame, label_col: str) -> dict:
    """Train the hashed-feature prior-shrunk weight map on
    (text, <label_col>) rows — ONE bucket-keyed exchange + a dim-bounded
    collect, the x4_quality_classifier_train_apply training half with
    the label column parameterized (the transfer query trains the SAME
    kernel on two different weak labelers)."""
    stats = (
        labeled.select(
            F.col(label_col).alias("lbl"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
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
    return _qta_weights_from_stats(stats)


@query("x4_classifier_transfer", oracle=_QTA_TRANSFER_ORACLE)
def x4_classifier_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER TRANSFER, both directions (r14 verdict task 5 —
    putting the crosseval's honest negative to work): round 14 proved
    the Gopher-trained filter is near-chance against readability; this
    query completes the experiment by training the SAME hashed-feature
    kernel on the READABILITY labels (Flesch >= the corpus-median
    threshold, x4_reading_level's exact arithmetic) and evaluating
    each model against the OTHER labeler — the two cross-labeler
    confusion matrices side by side. If transfer failure were an
    artifact of the Gopher rules, the reverse direction would
    transfer; both directions near chance (observed: accuracy ~0.5 in
    each) is the measured conclusion that these two weak-supervision
    families capture genuinely different notions of "quality", and
    that a 100 TB filter built on either one must not be validated
    against itself. Training both models is the attested train_apply
    chain with the label column swapped (_train_bucket_weights);
    scoring runs the unchanged serving kernel; every metric is the
    shared floor-micro arithmetic (_confusion_metrics). The oracle
    replays both trainings, both scoring joins, and both confusion
    pyramids from one shared token-bucket CTE.

    100 TB: two dim-bounded training exchanges + two corpus-scan
    scoring islands — transfer evaluation costs two classifier runs,
    nothing more."""
    d = load(spark, sf_dir, "documents")
    readable = _readable_expr_df(d)
    labeled = (
        scale_partitions(d)
        .select("doc_id", "text", _gopher_keep_expr().alias("lbl"))
        .join(readable, "doc_id")
        # Materialized once: both trainings' collects AND both scoring
        # islands reuse these rows — without the checkpoint the Gopher
        # expr + regex-heavy Flesch labeler re-evaluate four times.
        .localCheckpoint(eager=True)
    )
    wa = _train_bucket_weights(labeled, "lbl")
    wb = _train_bucket_weights(labeled, "readable")

    def direction(weights, passthrough, other_col, tag):
        gen = quality_score_kernel(
            weights,
            _QTA_DIM,
            _QTA_BASE_MICRO,
            _QTA_THRESHOLD_MICRO,
            passthrough=(passthrough,),
        )
        scored = labeled.select("doc_id", "text", passthrough).mapInPandas(
            gen,
            schema="doc_id bigint, n_tok bigint, score_micro bigint,"
            f" keep int, {passthrough} boolean",
        )
        p = F.col("keep") == 1
        o = F.col(other_col)
        return scored.agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.when(p & o, 1).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(p & ~o, 1).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(~p & o, 1).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(~p & ~o, 1).otherwise(0)).cast("long").alias("tn"),
        ).select(F.lit(tag).alias("direction"), "*")
    a = direction(wa, "readable", "readable", "gopher_to_flesch")
    b = direction(wb, "lbl", "lbl", "flesch_to_gopher")
    return _confusion_metrics(a.unionByName(b)).orderBy("direction")


_QTA_KEEPRATE_ORACLE = f"""
WITH lbl AS MATERIALIZED (
  SELECT doc_id, text,
         ((len(w) BETWEEN 30 AND 80)
          AND (floor(1000000.0 * (nc - len(w) + 1) / len(w))
               BETWEEN 4000000 AND 5500000)
          AND (floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
               <= 400000)) AS keep_lbl
  FROM (SELECT doc_id, text, len(text) AS nc, string_split(text, ' ') AS w
        FROM documents)
), bt AS MATERIALIZED (
  SELECT doc_id, keep_lbl,
         CAST(('0x' || substr(sha256('qf:' || tok), 1, 8)) AS BIGINT)
           % {_QTA_DIM} AS b
  FROM (SELECT doc_id, keep_lbl, unnest(string_split(text, ' ')) AS tok
        FROM lbl)
), stats AS MATERIALIZED (
  SELECT b,
         sum(CASE WHEN keep_lbl THEN 1 ELSE 0 END) AS pos,
         count(*) AS tot
  FROM bt GROUP BY b
), prior AS MATERIALIZED (
  SELECT sum(pos) AS posall, sum(tot) AS totall,
         (2000000 * sum(pos)) // sum(tot) AS q0
  FROM stats
), wt AS MATERIALIZED (
  SELECT b,
         (2000000 * (pos * (SELECT totall FROM prior)
                     + (SELECT posall FROM prior)))
           // ((SELECT totall FROM prior) * (tot + 1))
           - (SELECT q0 FROM prior) AS w
  FROM stats
), s AS MATERIALIZED (
  SELECT doc_id, any_value(keep_lbl) AS keep_lbl,
         CAST(floor(sum(w) / count(*)) AS BIGINT) AS score_micro
  FROM bt JOIN wt USING (b)
  GROUP BY doc_id
), nn AS (SELECT count(*) AS n FROM s),
rk AS (SELECT score_micro,
              row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rn
       FROM s),
thr AS (SELECT score_micro AS t FROM rk
        WHERE rn = (SELECT greatest((n * 2) // 5, 1) FROM nn))
SELECT CAST(400000 AS BIGINT) AS target_keep_micro,
       (SELECT CAST(n AS BIGINT) FROM nn) AS n_docs,
       (SELECT CAST(t AS BIGINT) FROM thr) AS threshold_micro,
       CAST(sum(CASE WHEN score_micro >= (SELECT t FROM thr)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(floor(1000000.0 * sum(CASE WHEN score_micro >=
            (SELECT t FROM thr) THEN 1 ELSE 0 END)
            / greatest(count(*), 1)) AS BIGINT)
         AS actual_keep_rate_micro,
       CAST(floor(1000000.0 * sum(CASE WHEN score_micro >=
            (SELECT t FROM thr) AND keep_lbl THEN 1 ELSE 0 END)
            / greatest(sum(CASE WHEN score_micro >= (SELECT t FROM thr)
                           THEN 1 ELSE 0 END), 1)) AS BIGINT)
         AS label_keep_rate_above_micro,
       CAST(floor(1000000.0 * sum(CASE WHEN score_micro <
            (SELECT t FROM thr) AND keep_lbl THEN 1 ELSE 0 END)
            / greatest(sum(CASE WHEN score_micro < (SELECT t FROM thr)
                           THEN 1 ELSE 0 END), 1)) AS BIGINT)
         AS label_keep_rate_below_micro
FROM s
"""


@query("x4_threshold_from_keep_rate", oracle=_QTA_KEEPRATE_ORACLE)
def x4_threshold_from_keep_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THRESHOLD CHOSEN FROM A TARGET KEEP-RATE (r14 verdict task 5's
    second half): x4_quality_classifier_train_apply keeps at the
    hardcoded prior boundary (score ≥ 1); a production data team
    instead states a BUDGET — "keep the best 40% of the corpus" — and
    derives the threshold from the score distribution:
    the k-th highest doc score for k = max(floor(0.4·N), 1) (the
    deterministic (score desc, doc_id) order both engines share), via
    a TakeOrdered k-row heap, never a global sort. The one-row report
    carries the chosen threshold, the realized keep count/rate (ties
    at the boundary may keep slightly more than k — reported, not
    hidden), and the calibration evidence for the choice: the weak
    label's keep rate ABOVE vs BELOW the threshold
    (x4_classifier_calibration's separation argument collapsed to the
    operating point). The oracle replays training, scoring, the
    rank-k selection, and every rate in floor-micro integers.

    100 TB: one dim-bounded training exchange, one scoring scan
    (checkpointed once, feeding the heap and the aggregate), a k-row
    heap for the threshold, one 1-row aggregate. At petabyte N the
    heap's k grows with the corpus — swap the exact selection for a
    t-digest/exact-histogram quantile over score_micro (the
    agg_histogram_quantile machinery) without touching anything
    downstream."""
    d = load(spark, sf_dir, "documents")
    labeled = scale_partitions(d).select(
        "doc_id", "text", _gopher_keep_expr().alias("lbl")
    )
    weights = _train_bucket_weights(labeled, "lbl")
    gen = quality_score_kernel(
        weights,
        _QTA_DIM,
        _QTA_BASE_MICRO,
        _QTA_THRESHOLD_MICRO,
        passthrough=("lbl",),
    )
    scored = labeled.mapInPandas(
        gen,
        schema="doc_id bigint, n_tok bigint, score_micro bigint,"
        " keep int, lbl boolean",
    ).localCheckpoint(eager=True)
    n_docs = scored.count()
    k = max((n_docs * 2) // 5, 1)
    # An empty corpus yields a NULL k-th score — keep it NULL (the
    # oracle's scalar subquery does too): every `kept` predicate is
    # then NULL → counted 0, and the report row carries a NULL
    # threshold instead of crashing on int(None) (the r14
    # empty-split-hardening convention).
    raw_thr = (
        scored.orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
        .agg(F.min("score_micro"))
        .collect()[0][0]
    )
    thr = int(raw_thr) if raw_thr is not None else None
    kept = F.col("score_micro") >= F.lit(thr).cast("long")
    return scored.agg(
        F.lit(400000).cast("long").alias("target_keep_micro"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.lit(thr).cast("long").alias("threshold_micro"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_keep"),
        F.floor(
            F.lit(1000000.0)
            * F.sum(F.when(kept, 1).otherwise(0))
            / F.greatest(F.count(F.lit(1)), F.lit(1))
        )
        .cast("long")
        .alias("actual_keep_rate_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.sum(F.when(kept & F.col("lbl"), 1).otherwise(0))
            / F.greatest(F.sum(F.when(kept, 1).otherwise(0)), F.lit(1))
        )
        .cast("long")
        .alias("label_keep_rate_above_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.sum(F.when(~kept & F.col("lbl"), 1).otherwise(0))
            / F.greatest(F.sum(F.when(~kept, 1).otherwise(0)), F.lit(1))
        )
        .cast("long")
        .alias("label_keep_rate_below_micro"),
    )




@query(
    "x6_stratified_hash_sample",
    oracle="""
WITH langs AS (
  SELECT lang, row_number() OVER (ORDER BY lang) AS li
  FROM (SELECT DISTINCT lang FROM documents)
), thr AS (
  SELECT lang,
         CAST(CASE WHEN li % 2 = 1 THEN 500000 ELSE 200000 END AS BIGINT)
           AS frac_micro
  FROM langs
), marked AS (
  SELECT d.lang, t.frac_micro,
         CASE WHEN CAST(('0x' || substr(sha256(
                  'strat:' || d.lang || ':' || CAST(d.doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) % 1000000 < t.frac_micro
              THEN 1 ELSE 0 END AS k
  FROM documents d JOIN thr t USING (lang)
)
SELECT lang, frac_micro,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(k) AS BIGINT) AS n_sampled
FROM marked GROUP BY lang, frac_micro ORDER BY lang
""",
)
def x6_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC stratified sampling — x6_stratified_sample's
    per-language quotas with the portable hash-threshold keep decision
    (x6_temperature_sample's mechanism) in place of sampleBy's
    seeded-RNG Bernoulli: keep doc ⇔ sha-slice('strat:'||lang||':'||
    doc_id) mod 1e6 < floor(fraction·1e6). Reproducible across
    engines, runs, and partitionings (the property that keeps a
    training mixture stable across pipeline re-executions), exactly
    oracled — the deterministic PRIMARY; sampleBy remains as the
    documented rows-only alternative with its per-stratum proportion
    tests. Fractions alternate 0.5/0.2 by the stratum's rank in the
    sorted language list, mirroring the sampleBy form.

    100 TB: the language rank is a window over the DISTINCT-lang table
    (dozens of rows — a bounded grid window, not a data window),
    broadcast back; the keep test is row-local; the rollup is a
    lang-keyed hash agg. One pass."""
    d = load(spark, sf_dir, "documents")
    wl = Window.orderBy("lang")
    thr = (
        d.select("lang")
        .distinct()
        .withColumn("li", F.row_number().over(wl))
        .select(
            "lang",
            F.when(F.pmod("li", F.lit(2)) == 1, F.lit(500_000))
            .otherwise(F.lit(200_000))
            .cast("long")
            .alias("frac_micro"),
        )
    )
    hv = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit("strat:"),
                        F.col("lang"),
                        F.lit(":"),
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
        % 1_000_000
    )
    return (
        d.join(F.broadcast(thr), "lang")
        .select(
            "lang",
            "frac_micro",
            F.when(hv < F.col("frac_micro"), 1).otherwise(0).alias("k"),
        )
        .groupBy("lang", "frac_micro")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_sampled"),
        )
        .orderBy("lang")
    )


def pipeline_clean_lines(d: DataFrame) -> DataFrame:
    """Stages 1–2a of the corpus pipeline, shared VERBATIM by the
    batch composition (x6_corpus_pipeline_e2e) and its streaming twin
    (st28_stream_corpus_pipeline): quality pre-clean (>= 30 whitespace
    words, >= 100 chars) and the deterministic 3-token line
    segmentation, source carried. Row-local throughout, so it commutes
    with ANY partitioning of the corpus — the property st28's
    telescoping argument rests on (clean lines of a union = union of
    per-batch clean lines)."""
    base = d.filter(
        (F.size(F.split("text", " ")) >= 30) & (F.col("n_chars") >= 100)
    ).select("doc_id", "source", "text")
    toks = base.select("doc_id", "source", F.split("text", " ").alias("t"))
    return toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(3)),
                lambda i: F.struct(
                    i.alias("idx"),
                    F.array_join(F.slice("t", i + 1, 3), " ").alias("line"),
                ),
            )
        ).alias("u"),
    ).select(
        "doc_id",
        "source",
        F.col("u.idx").alias("idx"),
        F.col("u.line").alias("line"),
    )


def pipeline_line_freq(lines: DataFrame) -> DataFrame:
    """(line, c): the C4 count table over segmented lines — one
    map-side-combining hash agg. Counts SUM-merge, so st28 can carry
    this as accumulated state: freq(batch 1..k lines) = the SUM-merge
    of per-batch freqs, with no seam logic (st27's argument)."""
    return lines.groupBy("line").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def pipeline_reassemble(lines: DataFrame, freq: DataFrame) -> DataFrame:
    """Stage 2b: apply C4's >= 3-occurrence drop against a (line, c)
    count table and reassemble each doc's survivors in order —
    (doc_id, source, kept)."""
    return (
        lines.join(freq, "line")
        .groupBy("doc_id", "source")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("c") < 3, F.struct("idx", "line")
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept")
        )
    )


def pipeline_serve(reasm: DataFrame) -> DataFrame:
    """Stages 3–8 over the reassembled corpus: BPE-count quality floor
    → exact survivor pick over the scrubbed text → UniMax temperature
    mixture → hash shard + deterministic epoch order → TOKEN-BUDGET
    packing (2048 BPE tokens per sequence) → per-shard order-sensitive
    manifest. Round-11 changes vs the round-10 composition: (1) the
    floor and packing run on _bpe_symbol_count's REAL tokenizer counts
    — the unit the trainer consumes — not the whitespace proxy
    (x6_packing_bpe proved the count rides the same scan; now the
    shipped pipeline uses it); (2) the floor runs BEFORE the survivor
    window — every doc in a sha-group shares kept, hence shares n_tok,
    so the move is output-identical, and it keeps fully-scrubbed
    (kept='') docs out of the sha-keyed exchange where a
    boilerplate-heavy corpus would funnel them onto ONE key (ADVICE
    r10); (3) sequences are token-budget islands within the shard
    (floor((cum - n_tok) / 2048) over the pack window's own exchange)
    instead of fixed 4-doc groups."""
    from recipes_spark.functions.portable_hash import sha_slice_bucket

    qf = reasm.withColumn(
        "n_tok", _bpe_symbol_count(_bpe_folded(col="kept")).cast("long")
    ).filter(F.col("n_tok") >= 80)
    wdup = Window.partitionBy(F.sha2("kept", 256)).orderBy("doc_id")
    # The cleaned corpus feeds TWO consumers (the source-count
    # aggregate and the mixture join) — materialize it once or Spark
    # re-runs the whole clean→dedup chain per join side (ReuseExchange
    # does not collapse sibling subtrees). At cluster scale this is
    # the checkpoint/persist a production pipeline places between its
    # clean and serve phases anyway.
    q = (
        qf.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    thr = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    ).withColumn(
        "thr",
        F.floor(
            F.least(F.lit(1.0), F.lit(8.0) / F.sqrt("n_src")) * F.lit(1e6)
        ).cast("long"),
    )
    mixed = (
        q.join(F.broadcast(thr), "source")
        .filter(
            _bucket(F.col("doc_id").cast("string"), 1_000_000)
            < F.col("thr")
        )
        .select("doc_id", "kept", "n_tok")
    )
    sh = mixed.select(
        "doc_id",
        "kept",
        "n_tok",
        sha_slice_bucket(
            F.concat(F.lit("shard:"), F.col("doc_id").cast("string")), 16
        ).alias("shard"),
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(F.lit("pos:"), F.col("doc_id").cast("string")),
                    256,
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv2"),
    )
    wpack = Window.partitionBy("shard").orderBy("hv2", "doc_id")
    ranked = sh.withColumn(
        "pos", F.row_number().over(wpack).cast("long")
    ).withColumn(
        "cum",
        F.sum("n_tok")
        .over(
            wpack.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long"),
    )
    return (
        ranked.select(
            "shard",
            "kept",
            "n_tok",
            "pos",
            F.floor((F.col("cum") - F.col("n_tok")) / 2048)
            .cast("long")
            .alias("seq"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("seq").cast("long").alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sha2(
                F.concat_ws(
                    chr(30),
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "kept"))),
                        lambda r: r["kept"],
                    ),
                ),
                256,
            ).alias("checksum"),
        )
        .orderBy("shard")
    )


def _corpus_pipeline_oracle_sql() -> str:
    """The 8-stage replay, shared VERBATIM by x6_corpus_pipeline_e2e
    and st28_stream_corpus_pipeline (the telescoping argument: the
    stream's SUM-merged line counts and unioned clean-line store equal
    the batch quantities, so one oracle attests both)."""
    kept_fold = _bpe_fold_sql(_bpe_marked_sql("kept"))
    return f"""
WITH base AS (
  SELECT doc_id, source, text FROM documents
  WHERE len(string_split(text, ' ')) >= 30 AND n_chars >= 100
), l0 AS (
  SELECT doc_id, source,
         unnest([struct_pack(idx := i,
                             line := array_to_string(t[i+1:i+3], ' '))
                 FOR i IN range(0, len(t), 3)]) AS u
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM base)
), lines AS (
  SELECT doc_id, source, u.idx AS idx, u.line AS line FROM l0
), freq AS (
  SELECT line, CAST(count(*) AS BIGINT) AS c FROM lines GROUP BY line
), reasm AS (
  SELECT doc_id, source,
         coalesce(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE c < 3),
                  '') AS kept
  FROM lines JOIN freq USING (line)
  GROUP BY doc_id, source
), qf AS (
  SELECT doc_id, source, kept,
         CAST(length(fold) - length(replace(fold, chr(31), ''))
              AS BIGINT) AS n_tok
  FROM (SELECT doc_id, source, kept, {kept_fold} AS fold FROM reasm)
), ql AS (
  SELECT * FROM qf WHERE n_tok >= 80
), surv AS (
  SELECT doc_id, source, kept, n_tok,
         row_number() OVER (PARTITION BY sha256(kept) ORDER BY doc_id)
           AS rn
  FROM ql
), q AS (
  SELECT doc_id, source, kept, n_tok FROM surv WHERE rn = 1
), cnts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM q GROUP BY source
), mixed AS (
  SELECT q.doc_id, q.kept, q.n_tok
  FROM q JOIN cnts USING (source)
  WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 1000000
        < CAST(floor(least(1.0, 8.0 / sqrt(n_src)) * 1e6) AS BIGINT)
), sh AS (
  SELECT doc_id, kept, n_tok,
         CAST(('0x' || substr(sha256('shard:' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 16 AS shard,
         CAST(('0x' || substr(sha256('pos:' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) AS hv2
  FROM mixed
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY shard ORDER BY hv2, doc_id)
           AS pos,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY hv2, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM sh
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT (cum - n_tok) // 2048) AS BIGINT) AS n_seqs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       sha256(string_agg(kept, chr(30) ORDER BY pos)) AS checksum
FROM ranked GROUP BY shard ORDER BY shard
"""


CORPUS_PIPELINE_E2E_ORACLE = _corpus_pipeline_oracle_sql()


@query("x6_corpus_pipeline_e2e", oracle=CORPUS_PIPELINE_E2E_ORACLE)
def x6_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as ONE composed plan — the LLM
    twin of stac_e2e_pipeline: quality pre-clean (token/char floors) →
    corpus-global line dedup (C4's >=3-occurrence rule, in-order
    reassembly) → BPE-token quality floor → exact near-dup survivor
    pick over the SCRUBBED text (sha-group, min-doc_id — scrubbing
    first is what makes boilerplate-differing copies collapse) →
    temperature mixture (UniMax tau=0.5 hash threshold per source) →
    hash-shard + deterministic epoch-shuffle order → 2048-BPE-token
    sequence packing → per-shard content manifest. Every stage is an
    already-attested operator; the composition proves they CHAIN — a
    stage-ordering bug (sampling before dedup, packing before mixing)
    or a survivor flake changes the 16 order-sensitive shard digests.
    The oracle replays all eight stages, so the digest pins doc set
    AND pack order. Round 11: the floor and packing consume
    _bpe_symbol_count's REAL tokenizer counts (was the whitespace
    proxy), and the floor runs BEFORE the survivor window (see
    pipeline_serve — output-identical per sha-group, kills the
    kept='' hot key).

    100 TB: the corpus crosses exactly four data-sized exchanges —
    line-frequency count (map-side combining), doc reassembly, the
    dedup window on uniform sha keys (empty docs pre-filtered), and
    the shard/pack window (whose exchange the cumsum, the rank AND the
    final manifest agg all REUSE — plan-asserted) — everything else is
    row-local or metadata-sized (source counts broadcast back). The
    cleaned corpus is checkpointed once between the clean and serve
    phases so its two consumers share one computation. The per-shard
    rank window is bounded by the SHARDING PARAMETER (shard count
    scales with corpus size; the epoch-shuffle argument), so no
    hot-key funnel; with few-but-huge shards swap in
    operators/prefix.partitioned_row_number(partition_by=['shard'])."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    lines = pipeline_clean_lines(d)
    return pipeline_serve(
        pipeline_reassemble(lines, pipeline_line_freq(lines))
    )


@query(
    "x4_cms_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), tc AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term
), deps AS (SELECT unnest(range(0, 4)) AS dep),
counters AS (
  SELECT dep,
         CAST('0x' || substr(sha256(CAST(dep AS VARCHAR) || ':' || term), 1, 8)
              AS BIGINT) % 1024 AS b,
         CAST(sum(cnt) AS BIGINT) AS c
  FROM tc CROSS JOIN deps
  GROUP BY 1, 2
), probe AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < 20
), pb AS (
  SELECT p.term, d.dep,
         CAST('0x' || substr(sha256(CAST(d.dep AS VARCHAR) || ':' || p.term), 1, 8)
              AS BIGINT) % 1024 AS b
  FROM probe p CROSS JOIN deps d
)
SELECT pb.term, min(c.c) AS est
FROM pb JOIN counters c ON pb.dep = c.dep AND pb.b = c.b
GROUP BY pb.term
ORDER BY est DESC, term
LIMIT 30
""",
)
def x4_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection through a count-min sketch
    (operators/sketches.py): corpus token frequencies collapse into
    4×1024 sum-mergeable counters, and candidate terms (the distinct
    vocabulary of a 20-doc probe sample) are ranked by their estimated
    corpus frequency — the "which n-grams are boilerplate" query a
    cleaning pipeline asks WITHOUT materializing the full term
    dictionary.

    Scale shape: one per-term hash agg (the only corpus shuffle) →
    fixed depth·width counter state → broadcast-join estimation that
    never rescans the corpus; per-shard sketches merge by summing
    counters (property-tested), so the 100 TB form keeps daily shard
    sketches and answers global questions by merging kilobytes. The
    sha256-slice buckets are portable, so the DuckDB oracle replays
    the counters AND the estimates bit-for-bit — the estimate's
    +collision inflation is deterministic, not noise; the
    overestimate-bound contract (est ≥ exact, est ≤ exact + ~e/width·N)
    is asserted separately in tests/test_corpus.py."""
    from recipes_spark.operators.sketches import cms_counters, cms_estimate

    d = scale_partitions(load(spark, sf_dir, "documents"))
    tc = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    counters = cms_counters(tc, depth=4, width=1024)
    probes = (
        d.filter(F.col("doc_id") < 20)
        .select(F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    return (
        cms_estimate(probes, counters, depth=4, width=1024)
        .orderBy(F.desc("est"), "term")
        .limit(30)
    )


@query(
    "x6_temperature_sample",
    oracle="""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), thr AS (
  SELECT source, n_docs,
         CAST(floor(least(1.0, 8.0 / sqrt(n_docs)) * 1e6) AS BIGINT)
           AS threshold_micro
  FROM counts
), hashed AS (
  SELECT d.source, t.n_docs, t.threshold_micro,
         CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 1000000 AS hv
  FROM documents d JOIN thr t USING (source)
)
SELECT source, n_docs, threshold_micro,
       CAST(sum(CASE WHEN hv < threshold_micro THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM hashed
GROUP BY source, n_docs, threshold_micro
ORDER BY source
""",
)
def x6_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-balancing (the UniMax / multilingual
    sampling shape, tau = 0.5): each source's keep-probability is
    min(1, C / n_s^(1-tau)) so small sources survive whole while large
    ones are downsampled toward a flatter mixture; per-doc keep
    decisions are a PORTABLE hash threshold (sha256-slice of doc_id vs
    floor(p*1e6)), so the sample is reproducible across engines, runs,
    and partitionings — the property that keeps a training mixture
    stable across pipeline re-executions — and the oracle replays every
    decision exactly. Float safety: sqrt and divide are IEEE-exact and
    the threshold lands as floor(p*1e6) BIGINT on both engines (the
    repo's floor-scaled convention); no pow(), whose libm rounding
    differs.

    Scale shape: source counts are a group-count broadcast (sources ≈
    dozens); the keep test is row-local (scan-bound, no shuffle); the
    rollup is a source-keyed hash agg. At 100 TB this is one pass."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    thr = counts.withColumn(
        "threshold_micro",
        F.floor(
            F.least(F.lit(1.0), F.lit(8.0) / F.sqrt("n_docs")) * F.lit(1e6)
        ).cast("long"),
    )
    hv = _bucket(F.col("doc_id").cast("string"), 1_000_000)
    return (
        d.join(F.broadcast(thr), "source")
        .withColumn("hv", hv)
        .groupBy("source", "n_docs", "threshold_micro")
        .agg(
            F.sum(F.when(F.col("hv") < F.col("threshold_micro"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
        .select("source", "n_docs", "threshold_micro", "n_kept")
        .orderBy("source")
    )


# Literal unicode ranges (not \p{Script=...} classes, whose semantics
# differ between Java regex and RE2): identical character-range
# patterns evaluate identically in both engines.
_LATIN_RE = "[A-Za-zÀ-ɏ]"
_CJK_RE = "[一-鿿]"
_CYR_RE = "[Ѐ-ӿ]"


@query(
    "x4_script_mix",
    oracle=f"""
WITH dirty AS (
  -- The synthetic corpus is ASCII-only even for lang='zh' docs, so the
  -- script signal is INJECTED deterministically (the x4_pii_scrub
  -- pattern): every 4th doc gains a CJK run, every 6th a Cyrillic run,
  -- sized relative to the doc so the 10% mixing threshold is exercised
  -- in both directions. Identical expression on both engines.
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
                 THEN repeat(' 世界和平与发展', CAST(doc_id % 3 + 1 AS INT) * 8)
                 ELSE '' END
         || CASE WHEN doc_id % 6 = 0
                 THEN repeat(' мир и дружба', CAST(doc_id % 2 + 1 AS INT) * 8)
                 ELSE '' END AS text
  FROM documents
), counts AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '{_LATIN_RE}')) AS BIGINT) AS n_latin,
         CAST(len(regexp_extract_all(text, '{_CJK_RE}')) AS BIGINT) AS n_cjk,
         CAST(len(regexp_extract_all(text, '{_CYR_RE}')) AS BIGINT) AS n_cyr,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
  FROM dirty
)
SELECT doc_id, n_chars, n_latin, n_cjk, n_cyr, n_digit,
       CAST(CASE WHEN (CASE WHEN n_latin * 10 >= n_chars THEN 1 ELSE 0 END
                     + CASE WHEN n_cjk * 10 >= n_chars THEN 1 ELSE 0 END
                     + CASE WHEN n_cyr * 10 >= n_chars THEN 1 ELSE 0 END) >= 2
            THEN 1 ELSE 0 END AS INT) AS is_mixed
FROM counts
ORDER BY doc_id
""",
)
def x4_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition per document — the mixed-language
    signal `lang_id` (which picks ONE label) cannot express: per-doc
    counts of Latin / CJK / Cyrillic / digit codepoints, plus an
    integer is_mixed flag (≥2 script families each covering ≥10% of
    characters — the docs a monolingual pipeline mis-handles and a
    multilingual one routes to segmentation). Patterns are literal
    codepoint RANGES, not \\p{Script=...} classes, because Java regex
    and RE2 disagree on class semantics but evaluate identical ranges
    identically; the thresholds are integer cross-multiplications (no
    float shares to flake).

    Scale shape: four regexp_count projections, row-local — scan-bound
    whole-stage codegen, zero shuffle before the (orderBy-only) sink.

    The synthetic corpus is ASCII-only, so CJK/Cyrillic runs are
    injected deterministically (same expression both engines) — the
    thresholds and the mixed flag are then exercised non-degenerately
    at every SF."""
    base = scale_partitions(load(spark, sf_dir, "documents"))
    d = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.expr(
                    "repeat(' 世界和平与发展', CAST(doc_id % 3 + 1 AS INT) * 8)"
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.expr(
                    "repeat(' мир и дружба', CAST(doc_id % 2 + 1 AS INT) * 8)"
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    n = F.char_length("text").cast("long")
    lat = F.regexp_count("text", F.lit(_LATIN_RE)).cast("long")
    cjk = F.regexp_count("text", F.lit(_CJK_RE)).cast("long")
    cyr = F.regexp_count("text", F.lit(_CYR_RE)).cast("long")
    dig = F.regexp_count("text", F.lit("[0-9]")).cast("long")
    big = lambda c: F.when(c * 10 >= F.col("n_chars"), 1).otherwise(0)  # noqa: E731
    return (
        d.select(
            "doc_id",
            n.alias("n_chars"),
            lat.alias("n_latin"),
            cjk.alias("n_cjk"),
            cyr.alias("n_cyr"),
            dig.alias("n_digit"),
        )
        .withColumn(
            "is_mixed",
            F.when(
                big(F.col("n_latin")) + big(F.col("n_cjk")) + big(F.col("n_cyr"))
                >= 2,
                1,
            )
            .otherwise(0)
            .cast("int"),
        )
        .orderBy("doc_id")
    )


@query(
    "x4_bigram_nll",
    oracle="""
WITH dirty AS (
  -- Held-out docs (doc_id % 10 = 0) gain two NOVEL tokens — the tiny
  -- synthetic vocabulary is otherwise fully covered by the 90% train
  -- split, leaving the backoff branches near-dead (1 OOV bigram at
  -- sf0.01). The injection is deterministic and identical on both
  -- engines; train tables read the ORIGINAL text of train docs only,
  -- so the LM itself is unaffected.
  SELECT doc_id,
         text || CASE WHEN doc_id % 10 = 0
                      THEN ' zz' || CAST(doc_id AS VARCHAR)
                           || ' qq' || CAST(doc_id % 7 AS VARCHAR)
                      ELSE '' END AS text
  FROM documents
), w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM dirty
  WHERE len(string_split(text, ' ')) >= 2
), dt2 AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
  FROM (
    SELECT doc_id,
           unnest([w[i] FOR i IN range(1, len(w))]) AS w1,
           unnest([w[i + 1] FOR i IN range(1, len(w))]) AS w2
    FROM w
  )
  GROUP BY doc_id, w1, w2
), train2 AS (
  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c2
  FROM dt2 WHERE doc_id % 10 != 0 GROUP BY w1, w2
), train1 AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE doc_id % 10 != 0)
  GROUP BY term
), n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM train1),
scored AS (
  SELECT d.doc_id, d.k,
         CASE WHEN t2.c2 IS NOT NULL THEN t2.c2 * 1.0 / h.c1
              WHEN t1.c1 IS NOT NULL THEN 0.4 * t1.c1 / n1.n
              ELSE 0.4 / n1.n END AS s,
         CASE WHEN t2.c2 IS NULL THEN d.k ELSE 0 END AS oov_k
  FROM dt2 d
  LEFT JOIN train2 t2 ON d.w1 = t2.w1 AND d.w2 = t2.w2
  LEFT JOIN train1 h ON d.w1 = h.term
  LEFT JOIN train1 t1 ON d.w2 = t1.term
  CROSS JOIN n1
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(sum(oov_k) AS BIGINT) AS oov_bigrams,
       CAST(sum(k * CAST(floor(-ln(s) * 1e6) AS BIGINT))
            // CAST(sum(k) AS BIGINT) AS BIGINT) AS nll2_micro
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
)
def x4_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality score with stupid backoff (Brants et al. 2007)
    on an honest train/held-out split — the next rung above
    x4_unigram_nll toward the KenLM perplexity filter: the LM trains on
    90% of docs (doc_id % 10 != 0) and scores EVERY doc, so held-out
    docs contain genuinely unseen bigrams and the backoff path
    (0.4 · unigram, or 0.4/N for unseen words) actually executes —
    scoring a corpus with its own LM would leave backoff dead code.

    Scale shape mirrors the unigram query, one level up: bigram
    positions collapse to per-doc (w1, w2, k) FIRST (hash agg with
    map-side combine), so the LM joins carry distinct-bigrams-per-doc
    rows, never the position stream; the bigram and unigram tables
    derive from those aggregates; the train-total is a 1-row
    broadcast. At 100 TB the bigram table is the big object — it
    shuffles once at build and the score join is bigram-keyed
    (uniform). Output follows the FIXTURES.md integer-exact
    convention (per-term floor-scale before the weighted sum, integer
    division for the mean — order-insensitive by construction) plus
    exact integer bigram/OOV counts."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    # Deterministic held-out-only novel tokens (see oracle comment):
    # exercises BOTH backoff branches (unseen bigram with known w2;
    # unseen w2 entirely) without touching the train split.
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" zz"),
                    F.col("doc_id").cast("string"),
                    F.lit(" qq"),
                    (F.col("doc_id") % 7).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    w = F.split("text", " ")
    docs = dirty.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS w1,"
                "             element_at(w, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    # Materialized once each (r17 aggregate-reuse sweep): dt2 feeds the
    # bigram LM build AND the scoring join, train1 feeds two LM joins
    # AND the train-total — branch-specific pruning defeats
    # ReuseExchange and the executed plan re-tokenized the corpus 8×
    # per run (executed-plan scan count, measured in r17). After the barriers
    # the corpus tokenizes exactly twice (bigram pass + unigram pass),
    # the query's declared shape; at 100 TB stage dt2 to a table (it
    # is the big object — the same caveat as the near-dup store).
    dt2 = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    ).localCheckpoint(eager=True)
    train2 = (
        dt2.filter(F.col("doc_id") % 10 != 0)
        .groupBy("w1", "w2")
        .agg(F.sum("k").cast("long").alias("c2"))
    )
    train1 = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .localCheckpoint(eager=True)
    )
    n1 = train1.agg(F.sum("c1").cast("long").alias("n"))
    scored = (
        dt2.join(train2, ["w1", "w2"], "left")
        .join(
            train1.select(F.col("term").alias("w1"), F.col("c1").alias("c1_w1")),
            "w1",
            "left",
        )
        .join(
            train1.select(F.col("term").alias("w2"), F.col("c1").alias("c1_w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(n1))
        .withColumn(
            "s",
            F.when(
                F.col("c2").isNotNull(), F.col("c2") * 1.0 / F.col("c1_w1")
            )
            .when(
                F.col("c1_w2").isNotNull(),
                0.4 * F.col("c1_w2") / F.col("n"),
            )
            .otherwise(0.4 / F.col("n")),
        )
        .withColumn(
            "oov_k",
            F.when(F.col("c2").isNull(), F.col("k")).otherwise(F.lit(0)),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum("oov_k").cast("long").alias("oov_bigrams"),
            # FIXTURES.md integer-exact convention: per-term floor to
            # micro-units BEFORE the weighted sum, integer division for
            # the mean — the aggregation is pure integer math, so
            # summation order / partition count cannot move the result.
            F.sum(
                F.col("k")
                * F.floor(-F.log("s") * F.lit(1e6)).cast("long")
            ).alias("__num"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "oov_bigrams",
            F.expr("CAST(__num div n_bigrams AS BIGINT)").alias("nll2_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "x6_orc_roundtrip",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, lang, n_chars
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks[1:3], ' ') AS tok3,
       lang,
       n_chars
FROM t
""",
)
def x6_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC shard export + re-ingest with a NESTED column — the
    columnar-sink counterpart of x6_csv_roundtrip that CSV cannot
    express: the token array survives as a real list<string> (no
    stringly encoding), written with Spark's built-in ORC sink and
    read back with an explicit schema. Scalars derived AFTER the
    read-back (token count, first-3 join) feed the driver's value
    hash, attesting the array's order and content survived the format
    boundary against the parquet-derived oracle.

    Scale shape: embarrassingly-parallel write (one shard per task,
    zero shuffle), schema'd splittable read-back (ORC stripes split
    like parquet row groups; no multiLine single-task caveat), column
    pruning and predicate pushdown work on read exactly as for
    parquet — the interchange path when the downstream stack is
    Hive/Trino-flavored."""
    import os

    d = load(spark, sf_dir, "documents")
    out = os.path.join(scratch_dir("orc"), "docs")
    (
        d.select(
            "doc_id",
            F.split("text", " ").alias("toks"),
            "lang",
            "n_chars",
        )
        .repartition(8)
        .write.mode("overwrite")
        .orc(out)
    )
    back = spark.read.schema(
        "doc_id BIGINT, toks ARRAY<STRING>, lang STRING, n_chars BIGINT"
    ).orc(out)
    return back.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice("toks", 1, 3)).alias("tok3"),
        "lang",
        "n_chars",
    )


@query(
    "x4_source_gini",
    oracle="""
WITH r AS (
  SELECT source, n_chars AS x,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS i
  FROM documents
), s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM r GROUP BY source
)
SELECT source, n,
       CAST(floor(1000000.0 * (2 * six - (n + 1) * sx)
            / (CAST(n AS DOUBLE) * sx)) AS BIGINT) AS gini_micro
FROM s ORDER BY source
""",
)
def x4_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source — the
    concentration diagnostic a mixture designer reads before weighting
    (a source whose token mass sits in a few giant documents behaves
    very differently from its doc count): G = (2*SUM(i*x_i) - (n+1)*
    SUM(x)) / (n*SUM(x)) over the ascending-sorted lengths, EXACT via
    the rank-sum form — one ordered window pass for the ranks
    ((n_chars, doc_id) total order so ties are deterministic), one
    hash agg for the three integer sums, one fixed double expression,
    floor-scaled micros. SUM(i*x) passes int64 around ~1e9 docs per
    source at these lengths — switch that one accumulator to
    decimal(38,0)/HUGEINT beyond.

    100 TB: window and agg both cluster on source (one exchange,
    chained same-key rule); the skew-salted-window shape applies if
    one source dominates the corpus."""
    d = load(spark, sf_dir, "documents")
    r = d.select(
        "source",
        F.col("n_chars").alias("x"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("i"),
    )
    s = r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    return s.select(
        "source", "n",
        F.floor(
            F.lit(1000000.0)
            * (2 * F.col("six") - (F.col("n") + 1) * F.col("sx"))
            / (F.col("n").cast("double") * F.col("sx"))
        ).alias("gini_micro"),
    ).orderBy("source")


@query(
    "x6_shard_checksums",
    oracle="""
WITH s AS (
  SELECT CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 8 AS shard,
         doc_id, text
  FROM documents
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       sha256(string_agg(text, chr(30) ORDER BY doc_id)) AS checksum
FROM s GROUP BY shard ORDER BY shard
""",
)
def x6_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-ADDRESSED shard manifest — the integrity audit a
    training-data pipeline publishes next to its shards: per portable-
    hash shard, the sha256 of every document's text concatenated in
    doc_id order (record-separator joined, so adjacent docs cannot
    splice into a colliding stream). Any dropped, duplicated,
    reordered, or bit-flipped document changes the digest — this is
    how a consumer verifies a shard set end to end without comparing
    rows, and how two exports are proven identical by k digests
    instead of a full diff. Shard assignment is the same sha-slice
    bucket as x6_shard_export, so this manifest audits exactly those
    shards.

    100 TB: one shuffle on shard; the per-shard digest folds inside
    each group (collect_list is shard-sized — at production scale use
    a streaming hash via mapInPandas per sorted shard partition or a
    Merkle tree of per-file digests, same contract); the output is k
    rows however large the corpus."""
    from recipes_spark.functions.portable_hash import sha_slice_bucket

    d = load(spark, sf_dir, "documents")
    s = d.select(
        sha_slice_bucket(F.col("doc_id").cast("string"), 8).alias("shard"),
        "doc_id", "text",
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sha2(
                F.concat_ws(
                    chr(30),
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "text"))
                        ),
                        lambda r: r["text"],
                    ),
                ),
                256,
            ).alias("checksum"),
        )
        .orderBy("shard")
    )


@query(
    "x4_html_strip",
    oracle="""
WITH h AS (
  SELECT doc_id, text,
         '<div id="d">A&amp;B<br/>' || replace(text, ' ', '&nbsp;')
           || '</div>' AS html
  FROM documents
), s AS (
  SELECT doc_id, text, html,
         CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
         trim(replace(replace(
             regexp_replace(html, '<[^>]+>', ' ', 'g'),
             '&nbsp;', ' '), '&amp;', '&')) AS clean
  FROM h
)
SELECT doc_id, n_tags, clean,
       CAST(CASE WHEN clean = 'A&B ' || text THEN 1 ELSE 0 END AS INT)
         AS roundtrip_ok
FROM s ORDER BY doc_id
""",
)
def x4_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML TAG STRIPPING + entity decoding — the first transform of
    every web-corpus pipeline, exercised as a verifiable round trip:
    each document is wrapped into markup (attributes, a self-closing
    tag, &nbsp;-encoded spaces, and the decode-order trap 'A&amp;B'),
    then stripped with tags-to-space regex and entities decoded with
    &amp; LAST — decoding &amp; first would turn '&amp;nbsp;' into a
    spurious space, the classic double-decode bug; roundtrip_ok
    attests per row that strip(wrap(text)) restored the content
    exactly. Encodes a second dialect trap alongside scalar_regex's:
    DuckDB regexp_replace needs the 'g' flag where Spark's is global
    by default.

    100 TB: pure row-local JVM regex/replace projection, scan-bound,
    zero shuffles before the presentation sort; real HTML adds an
    entity table and script/style excision, same shape."""
    d = load(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "text",
        F.concat(
            F.lit('<div id="d">A&amp;B<br/>'),
            F.regexp_replace("text", " ", "&nbsp;"),
            F.lit("</div>"),
        ).alias("html"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("html", "<[^>]+>", " "),
                "&nbsp;", " ",
            ),
            "&amp;", "&",
        )
    )
    s = h.select(
        "doc_id", "text",
        F.size(F.expr("regexp_extract_all(html, '<[^>]+>', 0)"))
        .cast("long").alias("n_tags"),
        clean.alias("clean"),
    )
    return s.select(
        "doc_id", "n_tags", "clean",
        F.when(F.col("clean") == F.concat(F.lit("A&B "), F.col("text")), 1)
        .otherwise(0).cast("int").alias("roundtrip_ok"),
    ).orderBy("doc_id")


@query(
    "x6_balanced_resample",
    oracle="""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
), t AS (SELECT max(n) AS target FROM c),
r AS (
  SELECT d.doc_id, d.lang, c.n, t.target,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY CAST(('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)),
                                         1, 8)) AS BIGINT), d.doc_id
         ) AS hrank
  FROM documents d JOIN c ON c.lang = d.lang CROSS JOIN t
), copies AS (
  SELECT doc_id, lang,
         target // n + CASE WHEN hrank <= target % n THEN 1 ELSE 0 END AS k
  FROM r
)
SELECT lang,
       CAST(sum(k) AS BIGINT) AS n_after,
       CAST(count_if(k > 1) AS BIGINT) AS n_duplicated,
       CAST(max(k) AS BIGINT) AS max_copies
FROM copies GROUP BY lang ORDER BY lang
""",
)
def x6_balanced_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED oversampling plan: every language is brought to
    EXACTLY the majority class's count — each doc replicates
    floor(target/n) times, and the target mod n remainder goes to the
    docs ranked first by the portable sha-slice hash (then doc_id), so
    the choice of which docs get the extra copy is deterministic,
    uniform-ish, and SQL-replayable — no rand(), no approximate
    fractions that leave classes off by a few rows (the subtle bug in
    weight-based oversamplers). The output audits the plan: n_after
    equals the target for every class, bit-exact.

    100 TB: counts are one hash agg; the rank window clusters on the
    class key; the actual replication (explode(sequence(1, k)))
    multiplies only the minority classes and shuffles nothing — at
    training time the k column rides into the dataloader instead of
    materializing copies."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    # Checkpointed (langs-sized): c feeds BOTH the broadcast join and
    # the target max — un-materialized, the corpus count subtree
    # executed once per consumer (3 fact passes per run, r17 probe).
    c = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    target = c.agg(F.max("n").alias("target"))
    h = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8), 16, 10
    ).cast("long")
    r = (
        d.join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(target))
        .select(
            "doc_id", "lang", "n", "target",
            F.row_number()
            .over(Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id")))
            .alias("hrank"),
        )
    )
    k = F.expr("target div n") + F.when(
        F.col("hrank") <= F.col("target") % F.col("n"), 1
    ).otherwise(0)
    return (
        r.select("doc_id", "lang", k.alias("k"))
        .groupBy("lang")
        .agg(
            F.sum("k").cast("long").alias("n_after"),
            F.count_if(F.col("k") > 1).alias("n_duplicated"),
            F.max("k").cast("long").alias("max_copies"),
        )
        .orderBy("lang")
    )


@query(
    "x4_source_theil",
    oracle="""
WITH b AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
  WHERE n_chars > 0
), s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
  FROM b GROUP BY source
), terms AS (
  SELECT b.source, b.x, s.n, s.sx,
         CAST(floor(1000000.0 * ln(b.x * 1.0 * s.n / s.sx)) AS BIGINT)
           AS lterm
  FROM b JOIN s ON s.source = b.source
)
SELECT source, CAST(max(n) AS BIGINT) AS n,
       CAST(sum(x * lterm) // max(sx) AS BIGINT) AS theil_micro
FROM terms GROUP BY source ORDER BY source
""",
)
def x4_source_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL inequality index of document length per source — Gini's
    entropy-based sibling (x4_source_gini), and the one that
    DECOMPOSES additively into between-group + within-group terms
    when sources nest (the property mixture analyses actually use):
    T = (1/S) Σ x·ln(x·n/S). Exactness follows x4_unigram_nll's
    discipline for the one libm call: each row's log term is floored
    to integer micros FIRST (identical doubles in, so both engines
    floor the same value), then weighted by integer x and summed in
    int64, one integer division at the end — the float summation
    order never matters.

    100 TB: two hash aggs and a broadcast-back join, all on the
    source key (one exchange + a metadata broadcast); zero-length
    docs are excluded (ln 0) as the contract, not a silent skip."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    b = d.select("source", F.col("n_chars").cast("long").alias("x"))
    s = b.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").cast("long").alias("sx")
    )
    terms = b.join(F.broadcast(s), "source").select(
        "source", "x", "n", "sx",
        F.floor(
            F.lit(1000000.0)
            * F.log(F.col("x") * F.lit(1.0) * F.col("n") / F.col("sx"))
        ).alias("lterm"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.expr("sum(x * lterm) div max(sx)").cast("long")
            .alias("theil_micro"),
        )
        .orderBy("source")
    )


@query(
    "x6_dataset_card",
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(*) - count(DISTINCT sha256(text)) AS BIGINT)
           AS n_exact_dups
  FROM documents
), h AS (
  SELECT n_chars // 100 AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
), cum AS (
  SELECT bucket, c,
         sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS n
  FROM h
), p AS (
  SELECT CAST(max(CASE WHEN cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2
               THEN bucket * 100
                    + (((n + 1) // 2 - (cum - c)) * 100) // c END)
              AS BIGINT) AS p50_chars_est
  FROM cum
)
SELECT s.n_docs, s.n_tokens, s.total_chars, s.n_langs, s.n_sources,
       s.n_exact_dups,
       CAST((1000000 * s.total_chars) // s.n_docs AS BIGINT)
         AS mean_chars_micro,
       p.p50_chars_est
FROM s, p
""",
)
def x6_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the one-row summary a corpus release publishes:
    document/token/char counts, language and source cardinalities,
    exact-duplicate count (docs minus distinct content hashes), exact
    integer mean length, and a p50 length from the mergeable
    equi-width histogram (agg_histogram_quantile's integer
    interpolation — scale-safe where an exact global median would
    need a full sort; the bucket table is #buckets rows whatever the
    corpus). Every number is an exact integer or an integer-derived
    estimate, so two engines — or two releases — can be compared by
    equality.

    100 TB: one scan feeds the count/sum/distinct agg (distinct
    lang/source are low-cardinality; the sha distinct is the one
    genuinely heavy term — swap in the HLL sketch when +-2% is
    acceptable) and the histogram; the quantile pass runs over
    buckets only."""
    d = load(spark, sf_dir, "documents")
    s = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct(F.sha2("text", 256)))
        .cast("long").alias("n_exact_dups"),
    )
    h = (
        d.select(F.expr("n_chars div 100").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = h.select(
        "bucket", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    need = "((n + 1) div 2)"
    p = cum.agg(
        F.max(
            F.expr(
                f"CASE WHEN cum >= {need} AND cum - c < {need} "
                f"THEN bucket * 100 + (({need} - (cum - c)) * 100) div c END"
            )
        ).cast("long").alias("p50_chars_est")
    )
    return s.crossJoin(F.broadcast(p)).select(
        "n_docs", "n_tokens", "total_chars", "n_langs", "n_sources",
        "n_exact_dups",
        F.expr("(1000000 * total_chars) div n_docs").cast("long")
        .alias("mean_chars_micro"),
        "p50_chars_est",
    )


@query(
    "x4_vocab_coverage_curve",
    oracle="""
WITH terms AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), cnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM terms GROUP BY term
), ranked AS (
  SELECT term, c,
         row_number() OVER (ORDER BY c DESC, term) AS rnk,
         sum(c) OVER (ORDER BY c DESC, term
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS total
  FROM cnt
), cuts AS (
  SELECT unnest([5, 10, 15, 20, 25, 30]) AS k
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(max(cum) * 10000 // max(total) AS BIGINT) AS coverage_bp,
       CAST(max(total) AS BIGINT) AS total_tokens
FROM cuts JOIN ranked ON ranked.rnk <= cuts.k
GROUP BY k ORDER BY k
""",
)
def x4_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE — what fraction of the token stream a
    top-k vocabulary captures, at a ladder of k's: the design curve
    behind vocab-size/OOV-rate decisions (and the empirical face of
    x4_zipf_fit's power law — a heavy tail means the curve flattens
    late). Terms rank by (count desc, term) — the deterministic total
    order — and each cutoff reads max(cum) over ranks <= k, which also
    clamps cutoffs beyond the vocabulary to full mass instead of
    NULLing out. Coverage in floored basis points of exact integer
    counts.

    100 TB: term counts are one map-side-combining agg; total mass is
    a scalar aggregate over that table (1 row, broadcast back); only
    the top-max(k) terms are selected — TakeOrderedAndProject, a k-row
    heap per partition — before the rank/cumsum window touches them
    (bounded max(k) rows; a cumulative sum over rank r only reads rows
    ranked above r, all inside the top-k slice, so restricting the
    window to the survivors is exact). The round-9 shape ranked and
    cumsum-scanned the ENTIRE distinct vocabulary in one task to read
    6 cutoffs ≤ 30 — the single-task funnel this reshape removes. The
    cutoff join is a 6-row broadcast."""
    d = load(spark, sf_dir, "documents")
    cuts_k = (5, 10, 15, 20, 25, 30)
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total_df = cnt.agg(F.sum("c").cast("long").alias("total"))
    top = cnt.orderBy(F.desc("c"), F.asc("term")).limit(max(cuts_k))
    worder = Window.orderBy(F.desc("c"), "term")
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.select(
        "term", "c",
        F.row_number().over(worder).alias("rnk"),
        F.sum("c").over(wcum).alias("cum"),
    ).crossJoin(F.broadcast(total_df))
    cuts = d.sparkSession.createDataFrame(
        [(k,) for k in cuts_k], "k long"
    )
    return (
        F.broadcast(cuts)
        .join(ranked, ranked.rnk <= cuts.k)
        .groupBy("k")
        .agg(
            F.expr("max(cum) * 10000 div max(total)").cast("long")
            .alias("coverage_bp"),
            F.max("total").cast("long").alias("total_tokens"),
        )
        .orderBy("k")
    )


@query(
    "agg_anova_f",
    oracle="""
WITH b AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents
), g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS s,
         CAST(sum(x * x) AS DOUBLE) AS q
  FROM b GROUP BY lang
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
         sum(s) AS st, sum(q) AS qt,
         CAST(sum(CAST(floor(1000000.0 * s * s / n) AS BIGINT))
              AS DOUBLE) / 1000000.0 AS sg
  FROM g
)
SELECT nt, k,
       CAST(floor(1000000.0 * ((sg - st * st / nt) / (k - 1))
            / ((qt - sg) / (nt - k))) AS BIGINT) AS f_micro,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(nt - k AS BIGINT) AS df_within
FROM t
""",
)
def agg_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across language groups (are document lengths
    the same distribution per language?) — the k-sample completion of
    the inference family (Welch t = 2 samples, chi-square =
    categorical, this = k means): SSB = Σ s_g²/n_g − S²/N and
    SSW = Q − Σ s_g²/n_g from per-group exact integer sums, then
    F = (SSB/(k−1)) / (SSW/(N−k)) as one fixed double tree, floored
    micros. The Σ s_g²/n_g term is the one
    summation-order surface (inexact doubles), so each group's term
    is FLOORED TO INTEGER MICROS first and integer-summed — the
    x4_unigram_nll discipline — making the aggregate order-free; st
    and qt sum integer-valued doubles, exact at any order.

    100 TB: two chained hash aggs (per-group, then the k-row total) —
    the corr shape; the statistic is O(1) scalar math."""
    d = load(spark, sf_dir, "documents")
    b = d.select("lang", F.col("n_chars").cast("long").alias("x"))
    g = b.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("q"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        (
            F.sum(
                F.floor(
                    F.lit(1000000.0) * F.col("s") * F.col("s") / F.col("n")
                )
            ).cast("double")
            / 1000000.0
        ).alias("sg"),
    )
    nt, k, st, qt, sg = (F.col(c) for c in ("nt", "k", "st", "qt", "sg"))
    return t.select(
        "nt", "k",
        F.floor(
            F.lit(1000000.0)
            * ((sg - st * st / nt) / (k - 1))
            / ((qt - sg) / (nt - k))
        ).alias("f_micro"),
        (k - 1).cast("long").alias("df_between"),
        (nt - k).cast("long").alias("df_within"),
    )


@query(
    "x6_quality_mixture",
    oracle="""
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count_if(n_chars >= 200
                       AND len(string_split(text, ' ')) >= 40) AS BIGINT)
           AS n_pass,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), adj AS (
  SELECT source, n_docs, n_pass, n_tokens,
         n_tokens * n_pass // n_docs AS adj_tokens
  FROM s
), tot AS (
  SELECT CAST(sum(adj_tokens) AS DOUBLE) AS t FROM adj
), pw AS (
  SELECT source, n_docs, n_pass, adj_tokens,
         power(adj_tokens / t, 0.7) AS pwr
  FROM adj, tot
), z AS (
  SELECT sum(pwr) AS z FROM pw
)
SELECT source, n_docs, n_pass, adj_tokens,
       CAST(floor(pwr / z * 1000000) AS BIGINT) AS weight_ppm
FROM pw, z
ORDER BY source
""",
)
def x6_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED mixture: x6_mixture_weights' temperature
    re-balancing applied to quality-ADJUSTED token masses — each
    source's tokens scale by its quality pass rate (docs >= 200 chars
    AND >= 40 tokens, the quality_score family's bar) as the EXACT
    integer n_tokens * n_pass div n_docs, then the 0.7-power
    renormalization runs over the |sources|-row table (the one libm
    power() site, same contract as x6_mixture_weights: identical
    doubles in, k-row math). The composition every mixture designer
    actually ships — up-weight small sources only to the extent their
    content passes the bar, instead of rewarding volume of junk.

    100 TB: one map-side-combining agg per source; everything after
    is k-row scalar math with two 1-row broadcasts."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    # |sources|-sized base, materialized once — see x6_mixture_weights
    # (r17): the executed plan re-scanned documents per derived branch.
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if((F.col("n_chars") >= 200) & (n_tok >= 40)).alias("n_pass"),
        F.sum(n_tok).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    adj = s.select(
        "source", "n_docs", "n_pass",
        F.expr("n_tokens * n_pass div n_docs").alias("adj_tokens"),
    )
    tot = adj.agg(F.sum("adj_tokens").cast("double").alias("t"))
    pw = adj.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_pass", "adj_tokens",
        F.pow(F.col("adj_tokens") / F.col("t"), 0.7).alias("pwr"),
    )
    z = pw.agg(F.sum("pwr").alias("z"))
    return (
        pw.crossJoin(F.broadcast(z))
        .select(
            "source", "n_docs", "n_pass", "adj_tokens",
            F.floor(F.col("pwr") / F.col("z") * 1000000).alias("weight_ppm"),
        )
        .orderBy("source")
    )


_BM25_TERMS = ("spark", "join", "window", "vector")

_BM25_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl
  FROM dl
), tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w IN {_BM25_TERMS!r}
  GROUP BY doc_id, w
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), sc AS (
  SELECT t.doc_id,
         CAST(floor(
           1000000.0
           * ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75
              * (CAST(l.dl * s.n AS DOUBLE) / s.sumdl)))
         ) AS BIGINT) AS sm
  FROM tf t
  JOIN df d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(sm) AS BIGINT) AS score_micro
FROM sc GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT 20
"""


@query("x4_bm25_search", oracle=_BM25_ORACLE)
def x4_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Okapi, Lucene's +1 idf form, k1=1.2,
    b=0.75) for a fixed query-term set — the sparse ranking leg a
    hybrid RAG stack runs next to the dense x3 family. Exactness: tf,
    df, doc length, corpus size, and total length are pure integers;
    each (doc, term) partial score is ONE fixed-shape double tree over
    those integers (identical literal order both engines — float
    multiplication is non-associative, so the parenthesization IS the
    contract), floored to micros per term before the ≤|Q|-term integer
    sum; top-20 cut orders by the integer score with a doc_id
    tiebreak.

    Scale shape: tokens collapse to per-doc (term, tf) FIRST with the
    IN-filter pushed inside the explode (the scan carries only query
    terms, stopword skew never materializes); df derives from that
    same aggregate; doc-length join is per-doc-sized; stats broadcast
    as one row. 100 TB: one map-side-combining shuffle on doc_id plus
    a TakeOrderedAndProject."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    # Both per-doc aggregates materialize ONCE (r17 aggregate-reuse
    # sweep): dl feeds the stats agg AND the score join, tf feeds the
    # df agg AND the score join, and branch-specific pruning defeats
    # ReuseExchange — the executed plan scanned documents 7× per run
    # (executed-plan scan count, measured in r17). Both frames are doc-count /
    # (doc × query-term)-sized metadata, never corpus text; after the
    # barriers the corpus is tokenized exactly twice (lengths pass +
    # the IN-filtered term pass), its declared two-pass shape.
    dl = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    ).localCheckpoint(eager=True)
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sumdl"),
    )
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (
        0.25
        + 0.75 * ((F.col("dl") * F.col("n")).cast("double") / F.col("sumdl"))
    )
    sc = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.lit(1000000.0) * idf * (F.col("tf") * 2.2) / denom
            ).alias("sm"),
        )
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("sm").cast("long").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
    )


@query(
    "x4_top_ngram_fraction",
    oracle="""
WITH toks AS (
  SELECT doc_id, len(text) AS n_chars, string_split(text, ' ') AS t
  FROM documents
), grams AS (
  SELECT doc_id, n_chars, n,
         unnest([array_to_string(t[i:i+n-1], ' ')
                 FOR i IN range(1, len(t) - n + 2)]) AS g
  FROM toks CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) ns
  WHERE len(t) >= n
), counted AS (
  SELECT doc_id, n, g,
         max(n_chars) AS n_chars,
         CAST(count(*) AS BIGINT) AS c
  FROM grams GROUP BY doc_id, n, g
), marked AS (
  SELECT *, max(c) OVER (PARTITION BY doc_id, n) AS mc FROM counted
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n,
       min(CASE WHEN c = mc THEN g END) AS top_gram,
       max(mc) AS top_count,
       CAST(floor(1000000.0 * max(mc)
                  * len(min(CASE WHEN c = mc THEN g END))
                  / max(n_chars)) AS BIGINT) AS top_frac_micro,
       CAST(floor(1000000.0
                  * coalesce(sum(c * len(g)) FILTER (WHERE c > 1), 0)
                  / max(n_chars)) AS BIGINT) AS dup_frac_micro
FROM marked
GROUP BY doc_id, n
ORDER BY doc_id, n
""",
)
def x4_top_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style n-gram repetition filters (Rae et al.
    2021 §A1.1, public): per document and n in {2,3,4}, (a) the
    fraction of characters covered by the single most frequent n-gram
    (ties broken to the lexicographically smallest gram, so both
    engines pick the same one) and (b) the count-weighted character
    mass of all n-grams occurring more than once, relative to doc
    length — an upper bound on duplicated-character coverage that can
    exceed 1 because overlapping occurrences double-count, which is
    what keeps it one exact integer sum instead of a position-union
    pass. The two signals catch
    template/boilerplate docs that distinct-token repetition
    (x4_repetition_score) misses — a doc can have high vocabulary
    diversity yet loop one phrase. Fractions ship floor-scaled to
    micro BIGINT (the cross-engine double-rounding rule).

    100 TB shape: n-grams explode row-locally, then ONE shuffle keyed
    (doc_id, n, gram) with map-side combine; the per-(doc, n) argmax
    rides the same exchange via a partitioned window feeding the final
    hash agg. Nothing global, nothing driver-side."""
    d = scale_partitions(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.split("text", " ").alias("t"),
    )
    exploded = (
        d.select(
            "doc_id",
            "n_chars",
            "t",
            F.explode(F.array(F.lit(2), F.lit(3), F.lit(4))).alias("n"),
        )
        .filter(F.size("t") >= F.col("n"))
        .select(
            "doc_id",
            "n_chars",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - n + 1),"
                    " i -> array_join(slice(t, i, n), ' '))"
                )
            ).alias("g"),
        )
    )
    counted = exploded.groupBy("doc_id", "n", "g").agg(
        F.max("n_chars").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    w = Window.partitionBy("doc_id", "n")
    marked = counted.withColumn("mc", F.max("c").over(w))
    top_gram = F.min(F.when(F.col("c") == F.col("mc"), F.col("g")))
    return (
        marked.groupBy("doc_id", "n")
        .agg(
            top_gram.alias("top_gram"),
            F.max("mc").alias("top_count"),
            F.floor(
                F.lit(1000000.0)
                * F.max("mc")
                * F.length(top_gram)
                / F.max("n_chars")
            )
            .cast("long")
            .alias("top_frac_micro"),
            F.floor(
                F.lit(1000000.0)
                * F.coalesce(
                    F.sum(
                        F.when(
                            F.col("c") > 1, F.col("c") * F.length("g")
                        )
                    ),
                    F.lit(0),
                )
                / F.max("n_chars")
            )
            .cast("long")
            .alias("dup_frac_micro"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n"),
            "top_gram",
            "top_count",
            "top_frac_micro",
            "dup_frac_micro",
        )
        .orderBy("doc_id", "n")
    )


@query(
    "x4_gopher_filter",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(text) AS nc, string_split(text, ' ') AS w
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(floor(1000000.0 * (nc - len(w) + 1) / len(w)) AS BIGINT)
           AS mean_word_len_micro,
         CAST(floor(1000000.0 * (1.0 - len(list_distinct(w)) * 1.0 / len(w)))
              AS BIGINT) AS dup_frac_micro,
         CAST(len(list_intersect(list_distinct(w),
              {list(_GOPHER_STOPS)!r})) AS BIGINT) AS n_stops
  FROM t
)
SELECT doc_id, n_words, mean_word_len_micro, dup_frac_micro, n_stops,
       (n_words BETWEEN 30 AND 80)                       AS ok_length,
       (mean_word_len_micro BETWEEN 4000000 AND 5500000) AS ok_word_len,
       (dup_frac_micro <= 400000)                        AS ok_repetition,
       (n_stops >= 2)                                    AS ok_stopwords,
       ((n_words BETWEEN 30 AND 80)
        AND (mean_word_len_micro BETWEEN 4000000 AND 5500000)
        AND (dup_frac_micro <= 400000)
        AND (n_stops >= 2))                              AS keep
FROM m
ORDER BY doc_id
""",
)
def x4_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021 §A1.1,
    public) as one row-local pass: word-count bounds, mean word length
    bounds, duplicate-token fraction cap, and the ≥2-distinct-stopwords
    natural-language heuristic — emitted as per-rule booleans plus the
    composite keep flag, so a pipeline can audit WHICH rule dropped
    each document (the filter-sweep companion to x4_filter_sweep's
    threshold grid). Ratios ship floor-scaled micro BIGINT; mean word
    length is derived exactly from char count and word count
    ((nc - nw + 1) / nw — spaces removed), so both engines compare the
    same integers.

    100 TB: pure Catalyst projection over the scan — no shuffle, no
    UDF; composes with the quarantine pattern by filtering on any rule
    column."""
    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    nw = F.size(w).cast("long")
    nc = F.length("text").cast("long")
    mwl = F.floor(F.lit(1000000.0) * (nc - nw + 1) / nw).cast("long")
    dup = F.floor(
        F.lit(1000000.0)
        * (1.0 - F.size(F.array_distinct(w)) / F.size(w))
    ).cast("long")
    nstops = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
        )
    ).cast("long")
    m = d.select(
        "doc_id",
        nw.alias("n_words"),
        mwl.alias("mean_word_len_micro"),
        dup.alias("dup_frac_micro"),
        nstops.alias("n_stops"),
    )
    ok_len = F.col("n_words").between(30, 80)
    ok_mwl = F.col("mean_word_len_micro").between(4000000, 5500000)
    ok_dup = F.col("dup_frac_micro") <= 400000
    ok_stop = F.col("n_stops") >= 2
    return m.select(
        "*",
        ok_len.alias("ok_length"),
        ok_mwl.alias("ok_word_len"),
        ok_dup.alias("ok_repetition"),
        ok_stop.alias("ok_stopwords"),
        (ok_len & ok_mwl & ok_dup & ok_stop).alias("keep"),
    ).orderBy("doc_id")


@query(
    "x6_kanon_release",
    oracle="""
WITH g AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_chars, false AS pooled
FROM g WHERE n_docs >= 5
UNION ALL
SELECT '*' AS lang, '*' AS source,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       true AS pooled
FROM g WHERE n_docs < 5
HAVING count(*) > 0
ORDER BY pooled, lang, source
""",
)
def x6_kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous aggregate release (k=5) over the quasi-identifier
    pair (lang, source): cells with fewer than k members are never
    published individually — they pool into one starred residual row
    whose totals still reconcile with the corpus (sum of released +
    pooled = whole table). The suppression rule every dataset-card /
    usage-report pipeline applies before publishing per-slice counts;
    composes with x6_dataset_card's summary block.

    100 TB: one map-side-combining agg on the quasi-identifier key;
    the release decision is a filter over the (tiny) group table, and
    the residual pool is a second agg over that same table — nothing
    rescans the corpus."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    released = g.filter(F.col("n_docs") >= 5).select(
        "lang", "source", "n_docs", "n_chars",
        F.lit(False).alias("pooled"),
    )
    small = g.filter(F.col("n_docs") < 5)
    pooled = (
        small.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .filter(F.col("n_cells") > 0)
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            "n_docs",
            "n_chars",
            F.lit(True).alias("pooled"),
        )
    )
    return released.unionByName(pooled).orderBy("pooled", "lang", "source")


@query(
    "x6_drop_provenance",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, n_chars,
         string_split(text, ' ') AS w,
         row_number() OVER (PARTITION BY sha256(text)
                            ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_words,
       CASE
         WHEN rn > 1 THEN 'exact_dup'
         WHEN len(w) < 30 THEN 'too_short'
         WHEN len(list_intersect(list_distinct(w),
              {list(_GOPHER_STOPS)!r})) < 2 THEN 'no_stopwords'
         WHEN CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 >= 50 THEN 'sampled_out'
         ELSE 'kept'
       END AS reason
FROM d
ORDER BY doc_id
""",
)
def x6_drop_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DROP PROVENANCE — for every input doc, the FIRST
    rule in the cleaning chain that removes it (exact-dup loser →
    too-short → no-stopwords → sampled-out) or 'kept': the audit table
    a data-governance review asks for, complementing
    corpus_prune_funnel's stage counts (how many) and
    x6_corpus_clean_e2e's survivor rollup (what remains) with WHY for
    each individual document. Rule order is the pipeline's execution
    order, so reasons are mutually exclusive by construction and the
    funnel counts are exactly this table's GROUP BY.

    100 TB: one sha2-keyed window for dup losers (uniform keys), then
    a row-local CASE — nothing else shuffles; the table is one row per
    input doc and partitions by any downstream key for serving."""
    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    rn = F.row_number().over(
        Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    )
    nstops = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
        )
    )
    sampled_out = (
        F.expr(
            "conv(substring(sha2(cast(doc_id as string), 256), 1, 8), 16, 10)"
        ).cast("long")
        % 100
        >= 50
    )
    reason = (
        F.when(F.col("rn") > 1, "exact_dup")
        .when(F.size(w) < 30, "too_short")
        .when(nstops < 2, "no_stopwords")
        .when(sampled_out, "sampled_out")
        .otherwise("kept")
    )
    return (
        d.select("doc_id", F.size(w).cast("long").alias("n_words"), "text")
        .withColumn("rn", rn)
        .select("doc_id", "n_words", reason.alias("reason"))
        .orderBy("doc_id")
    )


@query(
    "x6_budget_apportion",
    oracle="""
WITH m AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY source
), t AS (
  SELECT sum(mass) AS total, count(*) AS ns FROM m
), q AS (
  SELECT m.source, m.mass,
         CAST((1000000 * m.mass) // t.total AS BIGINT) AS base,
         CAST((1000000 * m.mass) % t.total AS BIGINT) AS rem,
         CAST(1000000 - sum((1000000 * m.mass) // t.total) OVER ()
              AS BIGINT) AS leftover
  FROM m CROSS JOIN t
), r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q
)
SELECT source, mass, base,
       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM r
ORDER BY source
""",
)
def x6_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) BUDGET APPORTIONMENT of a 1M-token
    training budget across sources, proportional to character mass:
    integer floor quotas plus one extra token-unit to the largest
    remainders until the budget is exact — the allocator behind every
    "sample exactly B tokens with these mixture weights" step, where
    naive rounding of quotas over- or under-shoots by up to
    n_sources/2. Everything is exact integer arithmetic (remainders
    compared as B·mass mod total — never as floats), ties to the
    smaller source name, so allocations are deterministic and sum to
    the budget BY CONSTRUCTION.

    100 TB: the per-source reduce is one map-side-combining agg; the
    apportionment itself runs over the SOURCES table (metadata-sized
    — the windows over it are bounded by the mixture's arity, not the
    corpus)."""
    d = load(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("mass")
    )
    t = m.agg(F.sum("mass").alias("total"))
    q = m.crossJoin(F.broadcast(t)).select(
        "source",
        "mass",
        F.expr("(1000000 * mass) div total").cast("long").alias("base"),
        F.expr("(1000000 * mass) % total").cast("long").alias("rem"),
    )
    wall = Window.partitionBy()
    q = q.withColumn(
        "leftover",
        (F.lit(1000000) - F.sum("base").over(wall)).cast("long"),
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("source"))
    extra = F.when(
        F.row_number().over(wr) <= F.col("leftover"), 1
    ).otherwise(0)
    return (
        q.select(
            "source", "mass", "base",
            extra.cast("long").alias("extra"),
            (F.col("base") + extra).cast("long").alias("alloc"),
        )
        .orderBy("source")
    )


#: Shared by x4_line_dedup and its streaming twin st27 (the
#: OHLC_ORACLE convention): the stream's SUM-merged line-count state
#: telescopes to the whole-corpus counts, so the final report equals
#: the one-pass batch form and both attest against this one oracle.
LINE_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), l0 AS (
  SELECT doc_id,
         unnest([struct_pack(idx := i,
                             line := array_to_string(t[i+1:i+3], ' '))
                 FOR i IN range(0, len(t), 3)]) AS u
  FROM toks
), lines AS (
  SELECT doc_id, u.idx AS idx, u.line AS line FROM l0
), freq AS (
  SELECT line, CAST(count(*) AS BIGINT) AS c FROM lines GROUP BY line
), marked AS (
  SELECT l.doc_id, l.idx, l.line, f.c >= 3 AS drop
  FROM lines l JOIN freq f USING (line)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE drop) AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(len(line)) FILTER (WHERE drop), 0) AS BIGINT)
         AS chars_dropped,
       coalesce(string_agg(line, ' ' ORDER BY idx)
                FILTER (WHERE NOT drop), '') AS kept_text
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


def doc_lines(d: DataFrame) -> DataFrame:
    """(doc_id, idx, line): the deterministic 3-token segmentation both
    the batch line dedup and the st27 stream state are built on."""
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(3)),
                lambda i: F.struct(
                    i.alias("idx"),
                    F.array_join(F.slice("t", i + 1, 3), " ").alias("line"),
                ),
            )
        ).alias("u"),
    ).select(
        "doc_id", F.col("u.idx").alias("idx"), F.col("u.line").alias("line")
    )


def line_dedup_report(lines: DataFrame, freq: DataFrame) -> DataFrame:
    """Apply the C4 rule (count >= 3 drops) to a segmented corpus and a
    (line, c) count table, reassembling each doc in order — shared by
    the batch query and st27's final read."""
    marked = lines.join(freq, "line").withColumn("drop", F.col("c") >= 3)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count_if("drop").cast("long").alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("drop"), F.length("line"))), F.lit(0)
            )
            .cast("long")
            .alias("chars_dropped"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("drop"),
                                    F.struct("idx", "line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


@query(
    "x4_intradoc_line_dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), l0 AS (
  SELECT doc_id,
         unnest([struct_pack(idx := i,
                             line := array_to_string(t[i+1:i+3], ' '))
                 FOR i IN range(0, len(t), 3)]) AS u
  FROM toks
), lines AS (
  SELECT doc_id, u.idx AS idx, u.line AS line,
         row_number() OVER (PARTITION BY doc_id, u.line
                            ORDER BY u.idx) AS rn
  FROM l0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
       coalesce(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE rn = 1),
                '') AS kept_text
FROM lines
GROUP BY doc_id
ORDER BY doc_id
""",
)
def x4_intradoc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document line dedup — dolma's paragraph self-dedup rule,
    the intra-doc complement of the corpus-global C4 pass: a line
    REPEATED inside one document keeps only its FIRST occurrence
    (generated boilerplate, scraper echo loops, chorus repetition),
    regardless of how rare the line is corpus-wide. Same deterministic
    3-token segmentation as x4_line_dedup (queries compose: run this
    first, then the corpus-global rule on the survivors).

    100 TB: ONE exchange — the (doc_id, line) window key is
    corpus-unique-ish so no hot key exists, and the reassembly agg
    reuses the same doc_id clustering. Everything else is row-local;
    contrast the corpus-global pass, whose count table is the shared
    state this one deliberately avoids."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    lines = doc_lines(d)
    w = Window.partitionBy("doc_id", "line").orderBy("idx")
    marked = lines.withColumn("rn", F.row_number().over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count_if(F.col("rn") > 1).cast("long").alias("n_dropped"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct("idx", "line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


@query("x4_line_dedup", oracle=LINE_DEDUP_ORACLE)
def x4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-GLOBAL line deduplication (the C4 cleaning rule, Raffel
    et al. 2020 §2.2, public: discard any line occurring >= 3 times in
    the corpus — boilerplate nav bars, cookie banners, license
    footers). The synthetic corpus has no newlines, so 'lines' are the
    deterministic 3-token segmentation (the same fixed-injection
    convention x4_pii_scrub uses); each document is reassembled IN
    ORDER from its surviving lines, with dropped-line counts and
    character volume reported per doc.

    100 TB shape: segmentation is row-local; the global frequency
    table is ONE map-side-combining count keyed on the line (dedup's
    exact-hash shuffle, X1's shape); the verdict joins back on the
    same key (AQE broadcasts it when small, shuffles when not), and
    reassembly is one doc_id-keyed agg over struct-sorted surviving
    segments — sort_array over a per-doc array, never a global sort.
    A production pass keys on sha2(line) instead of the text to keep
    shuffle payloads fixed-width; the text key here keeps the oracle
    byte-comparable.

    The segmentation MATERIALIZES once (eager localCheckpoint — stage
    to a table at 100 TB, the near-dup shingle-store convention): both
    the frequency agg and the report's join-back consume it, and
    without the barrier the corpus was scanned AND re-segmented once
    per consumer (r17 executed probe: 2 documents scans). The
    segmentation is the expensive projection here, exactly the
    tokenize-once trade VERDICT item 3 established."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    lines = doc_lines(d).localCheckpoint(eager=True)
    freq = lines.groupBy("line").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return line_dedup_report(lines, freq)


#: Positions 1..10 discounted as floor(1e6 / log2(pos+1)) — computed
#: ONCE in Python and injected as literals on BOTH engines, so no
#: runtime libm log ever has to agree across engines.
_NDCG_DISCOUNT = [
    (p, int(1_000_000 // __import__("math").log2(p + 1)))
    for p in range(1, 11)
]

_NDCG_TERMS = ("spark", "join", "window", "vector")


@query(
    "x4_ndcg_eval",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w IN {_NDCG_TERMS!r}
  GROUP BY doc_id, w
), cand AS (
  SELECT term, doc_id, tf,
         CAST((doc_id + len(term)) % 4 AS BIGINT) AS rel
  FROM tf
), ranked AS (
  SELECT term, rel,
         row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id ASC) AS pos
  FROM cand
), ideal AS (
  SELECT term, rel,
         row_number() OVER (PARTITION BY term
                            ORDER BY rel DESC, doc_id ASC) AS pos
  FROM cand
), disc(pos, dm) AS (
  VALUES {", ".join(f"({p}, {d})" for p, d in _NDCG_DISCOUNT)}
), dcg AS (
  SELECT term,
         CAST(sum(((1 << rel) - 1) * dm) AS BIGINT) AS dcg_micro
  FROM ranked JOIN disc USING (pos) GROUP BY term
), idcg AS (
  SELECT term,
         CAST(sum(((1 << rel) - 1) * dm) AS BIGINT) AS idcg_micro
  FROM ideal JOIN disc USING (pos) GROUP BY term
), n AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY term
)
SELECT term, n_candidates, dcg_micro, idcg_micro,
       CAST(1000000 * dcg_micro // idcg_micro AS BIGINT) AS ndcg_ppm
FROM n JOIN dcg USING (term) JOIN idcg USING (term)
ORDER BY term
""",
)
def x4_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: nDCG@10 of the term-frequency
    ranking against synthetic graded relevance labels, per query term
    — the eval loop every search/RAG pipeline runs next to x4_bm25.
    rel = (doc_id + |term|) % 4 is deliberately INDEPENDENT of the
    ranking signal so nDCG lands strictly inside (0,1). Exactness: the
    position discounts 1/log2(pos+1) are floor-scaled to micros ONCE
    in Python and injected as literals on both engines (no runtime
    libm); gains (2^rel − 1), DCG, IDCG and the final ppm ratio are
    then pure int64.

    100 TB: tokens collapse to (doc, term, tf) with the IN-filter
    inside the explode (x4_bm25's scan shape); both top-10 cuts are
    TWO-PHASE — partition-local top-10 per term under the final total
    order, then a rank over the ≤ partitions×terms×10 survivors — so
    the handful-of-terms key never funnels a posting list through one
    task (the same partial-selection-under-final-order argument as
    brute_force_topk, and the reshape discipline window_twap set);
    the discount join is a 10-row broadcast."""
    d = scale_partitions(load(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*_NDCG_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # (doc × query-term)-sized base, materialized once (r17
    # aggregate-reuse sweep): both top-10 cuts and the candidate count
    # re-derived it — the executed plan tokenized the corpus 3× per
    # run. Result is partitioning-invariant by the two-phase top-10
    # argument (and pinned by test_partition_invariance), so the
    # checkpoint's partitioning is free to differ from the agg's.
    cand = tf.withColumn(
        "rel",
        ((F.col("doc_id") + F.length("term")) % 4).cast("long"),
    ).localCheckpoint(eager=True)
    disc = F.broadcast(
        load(spark, sf_dir, "documents")
        .sparkSession.createDataFrame(_NDCG_DISCOUNT, "pos int, dm bigint")
    )
    gain = F.expr("CAST(shiftleft(1, CAST(rel AS INT)) - 1 AS BIGINT)")

    def top10(order_exprs):
        """Two-phase per-term top-10: term has FOUR values, so a plain
        PARTITION BY term window would sort each term's whole posting
        list in one task. Phase 1 keeps each partition's local top-10
        per term under the SAME total order as the final (the
        brute_force_topk argument: partial selection under the final
        order makes the merge exact); phase 2 ranks the surviving
        ≤ partitions×terms×10 rows — metadata-sized."""
        local = Window.partitionBy(
            "term", F.spark_partition_id()
        ).orderBy(*order_exprs)
        survivors = cand.withColumn(
            "__lr", F.row_number().over(local)
        ).filter(F.col("__lr") <= 10).drop("__lr")
        final = Window.partitionBy("term").orderBy(*order_exprs)
        return survivors.withColumn("pos", F.row_number().over(final))

    dcg = (
        top10([F.col("tf").desc(), F.col("doc_id")])
        .join(disc, "pos")
        .groupBy("term")
        .agg(F.sum(gain * F.col("dm")).cast("long").alias("dcg_micro"))
    )
    idcg = (
        top10([F.col("rel").desc(), F.col("doc_id")])
        .join(disc, "pos")
        .groupBy("term")
        .agg(F.sum(gain * F.col("dm")).cast("long").alias("idcg_micro"))
    )
    n = cand.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    return (
        n.join(dcg, "term")
        .join(idcg, "term")
        .select(
            "term", "n_candidates", "dcg_micro", "idcg_micro",
            F.expr("1000000 * dcg_micro div idcg_micro")
            .cast("long")
            .alias("ndcg_ppm"),
        )
        .orderBy("term")
    )


@query(
    "x4_url_canonicalize",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://Example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.COM:443/p/' || CAST(doc_id % 7 AS VARCHAR)
                       || '/?b=2&a=1&utm_source=x'
           WHEN 1 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/p/' || CAST(doc_id % 7 AS VARCHAR)
                       || '?a=1&b=2'
           WHEN 2 THEN 'HTTPS://EXAMPLE' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com:443/p/' || CAST(doc_id % 7 AS VARCHAR)
                       || '?utm_campaign=y&b=2&a=1'
           ELSE 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/p/' || CAST(doc_id % 7 AS VARCHAR)
                       || '/?a=1&b=2&c=3'
         END AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(split_part(url, '://', 1)) AS scheme,
         split_part(url, '://', 2) AS rest
  FROM raw
), hp AS (
  SELECT *, split_part(rest, '/', 1) AS hostport,
         substr(rest, len(split_part(rest, '/', 1)) + 1) AS pathq
  FROM parts
), pieces AS (
  SELECT doc_id, url, scheme,
         lower(split_part(hostport, ':', 1)) AS host,
         split_part(hostport, ':', 2) AS port,
         split_part(pathq, '?', 1) AS path,
         CASE WHEN contains(pathq, '?')
              THEN split_part(pathq, '?', 2) ELSE '' END AS qs
  FROM hp
), canon AS (
  SELECT doc_id, url,
         scheme || '://' || host
         || CASE WHEN port <> ''
                  AND NOT (scheme = 'https' AND port = '443')
                  AND NOT (scheme = 'http' AND port = '80')
                 THEN ':' || port ELSE '' END
         || CASE WHEN path LIKE '%/' AND len(path) > 1
                 THEN substr(path, 1, len(path) - 1) ELSE path END
         || CASE WHEN array_to_string(list_sort(list_filter(
                        string_split(qs, '&'),
                        x -> NOT starts_with(x, 'utm_'))), '&') <> ''
                 THEN '?' || array_to_string(list_sort(list_filter(
                        string_split(qs, '&'),
                        x -> NOT starts_with(x, 'utm_'))), '&')
                 ELSE '' END AS canonical_url
  FROM pieces
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM canon
GROUP BY canonical_url
ORDER BY canonical_url
""",
)
def x4_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the normalization every web-crawl
    pipeline runs BEFORE exact dedup, because raw URLs split one page
    across scheme-case, default-port, trailing-slash, query-order and
    tracking-param variants (the synthesis plants exactly those four
    variant classes per doc): lowercase scheme+host, strip the
    scheme's default port, strip one trailing slash, drop utm_*
    params, sort what remains. Three of the four planted variants
    collapse to one canonical URL; the c=3 variant stays distinct —
    the group sizes prove both directions.

    100 TB: canonicalization is pure row-local string/array Catalyst
    (no UDF, no regex backtracking), then ONE map-side-combining count
    keyed on the canonical string — X1 exact dedup's shuffle with the
    key fixed up front. The param sort is per-URL-sized (HOF over a
    <10-element array)."""
    d = scale_partitions(load(spark, sf_dir, "documents")).select("doc_id")
    dom = (F.col("doc_id") % 50).cast("string")
    pth = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://Example"), dom, F.lit(".COM:443/p/"),
                     pth, F.lit("/?b=2&a=1&utm_source=x")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://example"), dom, F.lit(".com/p/"),
                     pth, F.lit("?a=1&b=2")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("HTTPS://EXAMPLE"), dom, F.lit(".com:443/p/"),
                     pth, F.lit("?utm_campaign=y&b=2&a=1")),
        )
        .otherwise(
            F.concat(F.lit("https://example"), dom, F.lit(".com/p/"),
                     pth, F.lit("/?a=1&b=2&c=3")),
        )
    )
    raw = d.select("doc_id", url.alias("url"))
    scheme = F.lower(F.substring_index("url", "://", 1))
    rest = F.substring_index("url", "://", -1)
    hostport = F.substring_index(rest, "/", 1)
    pathq = F.expr(
        "substring(substring_index(url, '://', -1),"
        " length(substring_index(substring_index(url, '://', -1), '/', 1)) + 1)"
    )
    pieces = raw.select(
        "doc_id",
        "url",
        scheme.alias("scheme"),
        F.lower(F.substring_index(hostport, ":", 1)).alias("host"),
        F.when(
            hostport.contains(":"), F.substring_index(hostport, ":", -1)
        ).otherwise(F.lit("")).alias("port"),
        F.substring_index(pathq, "?", 1).alias("path"),
        F.when(
            pathq.contains("?"), F.substring_index(pathq, "?", -1)
        ).otherwise(F.lit("")).alias("qs"),
    )
    keep_port = (
        (F.col("port") != "")
        & ~((F.col("scheme") == "https") & (F.col("port") == "443"))
        & ~((F.col("scheme") == "http") & (F.col("port") == "80"))
    )
    path_c = F.when(
        F.col("path").endswith("/") & (F.length("path") > 1),
        F.expr("substring(path, 1, length(path) - 1)"),
    ).otherwise(F.col("path"))
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split("qs", "&"), lambda x: ~x.startswith("utm_")
            )
        ),
        "&",
    )
    canon = pieces.select(
        "doc_id",
        "url",
        F.concat(
            F.col("scheme"), F.lit("://"), F.col("host"),
            F.when(keep_port, F.concat(F.lit(":"), F.col("port")))
            .otherwise(F.lit("")),
            path_c,
            F.when(params != "", F.concat(F.lit("?"), params))
            .otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.countDistinct("url").cast("long").alias("n_distinct_raw"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("canonical_url")
    )


@query(
    "x4_reading_level",
    oracle="""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST((len(string_split(text, ' ')) + 11) // 12 AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_split_to_array(text, '[aeiou]+')) - 1 AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(floor(1000.0 * (206.835
            - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
            - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)))
         AS BIGINT) AS flesch_milli
FROM m
ORDER BY doc_id
""",
)
def x4_reading_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (Flesch 1948, public; the pile of heuristics C4/
    Gopher-style filters sit next to). The corpus has no sentence
    punctuation, so sentences are the deterministic 12-word
    segmentation (the fixed-injection convention), and syllables are
    the vowel-run proxy (count of [aeiou]+ groups — the standard
    cheap estimator). Counts are exact integers; the score is ONE
    fixed-shape double tree over them (identical literal order both
    engines), floored to milli.

    100 TB: entirely row-local — a narrow projection over the scan,
    no shuffle at all; composes with x4_gopher_filter's rule table as
    one more AND-able column."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.expr(
            "CAST((size(split(text, ' ')) + 11) div 12 AS BIGINT)"
        ).alias("n_sentences"),
        (F.size(F.split("text", "[aeiou]+")) - 1)
        .cast("long")
        .alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(F.lit(1000.0) * flesch).cast("long").alias("flesch_milli"),
    ).orderBy("doc_id")


@query(
    "x6_skew_report",
    oracle="""
WITH keyed AS (
  SELECT 'k' || CASE WHEN event_id % 2 = 0 THEN '0'
                     ELSE CAST(event_id % 100 AS VARCHAR) END AS k
  FROM events
), counts AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n FROM keyed GROUP BY k
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) // count(*) AS BIGINT) AS mean_n
  FROM counts
)
SELECT k, n,
       CAST(1000000 * n // total AS BIGINT) AS share_ppm,
       CAST((n + mean_n - 1) // mean_n AS BIGINT) AS salt_factor
FROM counts, tot
ORDER BY n DESC, k
LIMIT 10
""",
)
def x6_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostics — the operational report a 100 TB
    pipeline runs BEFORE choosing a join strategy: per-key row counts
    for the top heavy hitters, each key's corpus share (exact integer
    ppm) and the salt factor that would level its partition back to
    the mean key's size (ceil(n/mean) — the replication factor
    operators/bucketing.salted_join takes). The probe key plants a
    50% hot key (even event_ids → k0) over the 50 ODD residues of
    event_id % 100 (51 distinct keys total), so the mean key holds
    ~1/51 of the rows and the report must surface k0 at ~500000 ppm
    with a ceil(51/2) = 26x salt while the tail sits at salt 1 — the
    skew_join stress probe's shape, turned into a queryable
    operator.

    100 TB: ONE map-side-combining count on the key (the same
    aggregate the real join would shuffle anyway, so the report costs
    one pass), a 1-row total broadcast, and a top-10 heap. For
    sketch-budget scans swap the exact count for the CMS heavy-hitter
    pass (x4_cms_heavy_hitters) and keep the same report columns."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.concat(
            F.lit("k"),
            F.when(F.col("event_id") % 2 == 0, F.lit("0")).otherwise(
                (F.col("event_id") % 100).cast("string")
            ),
        ).alias("k")
    )
    counts = keyed.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.expr("sum(n) div count(1)").cast("long").alias("mean_n"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n",
            F.expr("1000000 * n div total").cast("long").alias("share_ppm"),
            F.expr("(n + mean_n - 1) div mean_n")
            .cast("long")
            .alias("salt_factor"),
        )
        .orderBy(F.col("n").desc(), "k")
        .limit(10)
    )


def _release_index_e2e_oracle_sql() -> str:
    """x6_release_index_e2e oracle: the dedup-survivor chain (tomb →
    keep), the packing/release digest pyramid over the KEPT documents
    (the x6_packing_shards arithmetic, r-prefixed), the index digest
    pyramid over the KEPT embeddings (coarse + PQ trained on AND
    indexing the released subset — assign_src=train_src), and the
    top-10 serve for the five lowest released ids, each section
    reduced to the shared (stage, key, n_items, total, sha, ok) report
    row. File-side equalities asserted true (release convention)."""
    from recipes_spark.queries.dataops import (
        _dedup_tombstone_ctes,
        _ivf_pq_distrib_ctes,
    )

    ctes = _dedup_tombstone_ctes()
    ctes += [
        "keep AS MATERIALIZED (SELECT doc_id FROM documents"
        " WHERE doc_id NOT IN (SELECT vec_id FROM tomb))",
        "kdocs AS MATERIALIZED (SELECT dd.* FROM documents dd"
        " JOIN keep k USING (doc_id))",
        "kemb AS MATERIALIZED (SELECT e.* FROM embeddings e"
        " JOIN keep k ON k.doc_id = e.vec_id)",
        "kq AS (SELECT doc_id FROM keep ORDER BY doc_id LIMIT 5)",
        f"rm AS (SELECT doc_id, {_bpe_marked_sql('text')} AS marked"
        " FROM kdocs)",
        f"rf AS (SELECT doc_id, {_bpe_fold_sql('marked')} AS folded"
        " FROM rm)",
        "rtok AS MATERIALIZED (SELECT doc_id,"
        " list_transform("
        " list_filter(string_split_regex(folded, e'[ \\x1f\\x1e]'),"
        " x -> x != ''),"
        f" x -> coalesce(list_position({_BPE_VOCAB_SQL}, x), 0)"
        ") AS ids FROM rf)",
        "rpacked AS (SELECT doc_id, len(ids) AS n, ids,"
        " sum(len(ids)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)"
        " AS cum FROM rtok)",
        "rper AS (SELECT CAST(floor((cum - n) / 512) AS BIGINT) AS seq_id,"
        " doc_id, n, ids FROM rpacked)",
        "rseqs AS (SELECT seq_id, CAST(sum(n) AS BIGINT) AS n_tokens,"
        " sha256(array_to_string(flatten(list(ids ORDER BY doc_id)), ','))"
        " AS ids_sha FROM rper GROUP BY seq_id)",
        "rassigned AS (SELECT CAST('0x' ||"
        " substr(sha256(CAST(seq_id AS VARCHAR)), 1, 8) AS BIGINT) % 8"
        " AS shard, CAST(floor(seq_id / 64) AS BIGINT) AS chunk,"
        " seq_id, n_tokens, ids_sha FROM rseqs)",
        "rchunks AS (SELECT shard, chunk, count(*) AS c_seqs,"
        " CAST(sum(n_tokens) AS BIGINT) AS c_tokens,"
        " sha256(string_agg(ids_sha, ',' ORDER BY seq_id)) AS chunk_sha"
        " FROM rassigned GROUP BY shard, chunk)",
        "rshards AS (SELECT shard, CAST(sum(c_seqs) AS BIGINT) AS n_seqs,"
        " CAST(sum(c_tokens) AS BIGINT) AS n_tokens,"
        " sha256(string_agg(chunk_sha, ',' ORDER BY chunk)) AS shard_sha"
        " FROM rchunks GROUP BY shard)",
    ]
    c, final = _ivf_pq_distrib_ctes(
        prefix="ix_", train_src="kemb", assign_src="kemb",
        q_pred="{v} IN (SELECT doc_id FROM kq)", k_codes=64,
    )
    ctes += c
    ctes += [
        f"ixr AS MATERIALIZED ({final})",
        "ix_pk AS (SELECT vec_id, CAST(sum(c * (CAST(1 AS BIGINT) <<"
        " (8 * (3 - j)))) AS BIGINT) AS cp"
        " FROM ix_fa GROUP BY vec_id)",
        "rrows AS (SELECT 'release' AS stage, CAST(shard AS BIGINT)"
        " AS key, n_seqs AS n_items, n_tokens AS total,"
        " shard_sha AS sha, true AS ok FROM rshards)",
        "irows AS (SELECT 'index' AS stage, CAST(a.cid AS BIGINT) AS key,"
        " CAST(count(*) AS BIGINT) AS n_items,"
        " CAST(sum(p.cp) AS BIGINT) AS total,"
        " sha256(string_agg(CAST(p.cp AS VARCHAR), ',' ORDER BY p.vec_id))"
        " AS sha, true AS ok"
        " FROM ix_cq_fa a JOIN ix_pk p USING (vec_id) GROUP BY a.cid)",
        "srows AS (SELECT 'serve' AS stage, CAST(query_id AS BIGINT)"
        " AS key, CAST(count(*) AS BIGINT) AS n_items,"
        " CAST(sum(CAST(round(cosine_sim * 10000) AS BIGINT)) AS BIGINT)"
        " AS total,"
        " sha256(string_agg(CAST(vec_id AS VARCHAR) || ':' ||"
        " CAST(CAST(round(cosine_sim * 10000) AS BIGINT) AS VARCHAR),"
        " ',' ORDER BY rnk)) AS sha, true AS ok"
        " FROM ixr GROUP BY query_id)",
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(ctes) + "\n"
        "SELECT stage, key, n_items, total, sha, ok FROM rrows\n"
        "UNION ALL SELECT stage, key, n_items, total, sha, ok FROM irows\n"
        "UNION ALL SELECT stage, key, n_items, total, sha, ok FROM srows\n"
        "ORDER BY stage, key"
    )


@query("x6_release_index_e2e", oracle=_release_index_e2e_oracle_sql())
def x6_release_index_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TWO NORTH-STAR ARCS MEET (r15 verdict task 7): corpus clean
    → physical training release → index commit over the released
    vectors → serve, as ONE chain with provenance from document sha to
    served vector. The dedup survivor decision (x2_best_survivor
    keep=true) defines the RELEASED corpus; the kept documents pack
    into 512-token sequences and 8 hive-partitioned shards committed
    as a snapshot whose two-level Merkle digests are recomputed FROM
    the re-read files (the x6_release_materialize contract); the kept
    ids' EMBEDDINGS train and build the companion ANN index (coarse +
    m=4 × k=64 byte-width PQ — trained on and indexing exactly the
    release, so the trainer loads what the index indexes), committed
    to the same store root and re-digested per cell from ITS manifest;
    and the five lowest released ids query the committed index top-10.
    One report schema spans the chain — (stage, key, n_items, total,
    sha, ok): per-shard release rows (sequences, tokens, shard digest,
    files-match), per-cell index rows (vectors, packed-code checksum,
    code digest, files-match), and per-query serve rows (results,
    basis-point relevance mass, the rank-ordered result digest, and
    every served id verified to be IN the release). The oracle replays
    the dedup chain, the packing pyramid over kept docs, both index
    trainings + assignment over kept embeddings, the serve, and all
    three report reductions.

    100 TB: each stage keeps its attested scale shape; the chain adds
    only the keep-join (broadcast of the survivor table) in front of
    the two pipelines and shares one snapshot store root — the
    provenance is carried by the digests, not by extra passes."""
    import os

    from recipes_spark.operators.prefix import partitioned_prefix_sum
    from recipes_spark.operators.similarity import (
        ivf_pq_search_coded,
        pq_encode_int,
        train_coarse_centroids_int,
        train_pq_codebooks_int,
    )
    from recipes_spark.plans.ann_index import (
        ann_index_codes,
        ann_index_commit,
        ann_index_load_books,
    )
    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read
    from recipes_spark.queries.dataops import x2_best_survivor

    keep = (
        x2_best_survivor(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    root = scratch_dir("ann_index_e2e")
    # --- release pyramid over the KEPT documents -------------------
    d = scale_partitions(load(spark, sf_dir, "documents")).join(
        F.broadcast(keep), "doc_id"
    )
    gen = bpe_greedy_ids_kernel(_BPE_MERGES, _BPE_VOCAB)
    toks = d.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, n bigint, ids array<int>"
    )
    packed = partitioned_prefix_sum(
        toks, order_col="doc_id", value_col="n", out_col="cum", shards=32
    )
    per = packed.select(
        F.floor((F.col("cum") - F.col("n")) / 512)
        .cast("long")
        .alias("seq_id"),
        "doc_id",
        "n",
        "ids",
    )
    flat_ids = F.flatten(
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
    seqs = (
        per.groupBy("seq_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            flat_ids.alias("ids"),
        )
        .select(
            _bucket(F.col("seq_id").cast("string"), 8).alias("shard"),
            F.floor(F.col("seq_id") / 64).cast("long").alias("chunk"),
            "seq_id",
            "n_tokens",
            "ids",
        )
        .localCheckpoint(eager=True)
    )
    rstore = os.path.join(root, "release")
    snapshot_commit(
        spark,
        seqs.withColumn("shard_key", F.col("shard")).repartition(
            "shard_key"
        ),
        rstore,
        1,
        partition_by=("shard_key",),
    )
    manifest = _two_level_shard_digest(_seq_ids_sha(seqs))
    files_side = _two_level_shard_digest(
        _seq_ids_sha(
            snapshot_read(spark, rstore, 1).select(
                "shard", "chunk", "seq_id", "n_tokens", "ids"
            )
        ),
        suffix="_files",
    )
    rrows = (
        manifest.join(files_side, "shard", "left")
        .select(
            F.lit("release").alias("stage"),
            F.col("shard").cast("long").alias("key"),
            F.col("n_seqs").alias("n_items"),
            F.col("n_tokens").alias("total"),
            F.col("shard_sha").alias("sha"),
            (
                F.col("shard_sha").eqNullSafe(F.col("shard_sha_files"))
                & F.col("n_seqs").eqNullSafe(F.col("n_seqs_files"))
                & F.col("n_tokens").eqNullSafe(F.col("n_tokens_files"))
            ).alias("ok"),
        )
    )
    # --- index pyramid over the KEPT embeddings --------------------
    kemb = load(spark, sf_dir, "embeddings").join(
        F.broadcast(keep.select(F.col("doc_id").alias("vec_id"))),
        "vec_id",
    )
    cents = train_coarse_centroids_int(kemb, k=16, iters=3, hash_tag="pq:0")
    books = train_pq_codebooks_int(kemb, m=4, k=64)
    coded = pq_encode_int(
        kemb, books, coarse_milli=cents, code_bits=8
    ).localCheckpoint(eager=True)
    istore = os.path.join(root, "index")
    ann_index_commit(
        spark, kemb, istore, 1, cents, books, code_bits=8, coded=coded
    )

    def cell_rows(df: DataFrame, suffix: str = "") -> DataFrame:
        # _ordered_sha over (vec_id, stringified packed code) — the
        # same ordered-digest aggregate the release pyramid uses, so
        # one convention spans both pyramids.
        return (
            df.select(
                F.col("__list").cast("long").alias("key"),
                "vec_id",
                "codes_packed",
                F.col("codes_packed").cast("string").alias("cp"),
            )
            .groupBy("key")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_items{suffix}"),
                F.sum("codes_packed").cast("long").alias(f"total{suffix}"),
                _ordered_sha("vec_id", "cp").alias(f"sha{suffix}"),
            )
        )

    ip = cell_rows(coded)
    iff = cell_rows(ann_index_codes(spark, istore, 1), "_f")
    irows = ip.join(iff, "key", "left").select(
        F.lit("index").alias("stage"),
        "key",
        "n_items",
        "total",
        "sha",
        (
            F.col("sha").eqNullSafe(F.col("sha_f"))
            & F.col("n_items").eqNullSafe(F.col("n_items_f"))
            & F.col("total").eqNullSafe(F.col("total_f"))
        ).alias("ok"),
    )
    # --- serve from the committed index ----------------------------
    coarse_l, books_l = ann_index_load_books(spark, istore)
    kq = keep.orderBy("doc_id").limit(5)
    queries = kemb.join(
        F.broadcast(kq.select(F.col("doc_id").alias("vec_id"))), "vec_id"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    served = ivf_pq_search_coded(
        ann_index_codes(spark, istore, 1), kemb, queries,
        coarse_l, books_l, k=10, nprobe=14, refine=16, code_bits=8,
    )
    bp = F.expr("CAST(round(cosine_sim * 10000) AS BIGINT)")
    srows = (
        served.join(
            F.broadcast(
                keep.select(
                    F.col("doc_id").alias("vec_id"), F.lit(1).alias("ink")
                )
            ),
            "vec_id",
            "left",
        )
        .select(
            "query_id",
            "rank",
            "ink",
            bp.alias("bp"),
            F.concat(
                F.col("vec_id").cast("string"),
                F.lit(":"),
                bp.cast("string"),
            ).alias("vh"),
        )
        .groupBy(F.col("query_id").cast("long").alias("key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("bp").cast("long").alias("total"),
            _ordered_sha("rank", "vh").alias("sha"),
            (F.count_if(F.col("ink").isNull()) == 0).alias("ok"),
        )
        .select(
            F.lit("serve").alias("stage"),
            "key", "n_items", "total", "sha", "ok",
        )
    )
    return (
        rrows.unionByName(irows)
        .unionByName(srows)
        .orderBy("stage", "key")
    )
