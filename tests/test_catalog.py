"""S12 catalog-sink idempotency + catalog_search pruning behavior
(SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from recipes_spark.plans.catalog import catalog_search, compact_catalog, upsert_items
from recipes_spark.plans.merge import merge_into
from recipes_spark.streaming.ingest import ingest_events


def _items(spark, n=50, collection="c-a"):
    return spark.range(n).select(
        F.concat(F.lit("item-"), F.col("id")).alias("id"),
        F.lit(collection).alias("collection_id"),
        F.array(
            (F.col("id") % 360 - 180.0).cast("double"),
            F.lit(-10.0),
            (F.col("id") % 360 - 170.0).cast("double"),
            F.lit(10.0),
        ).alias("bbox"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600).alias(
            "start_datetime"
        ),
        F.timestamp_seconds(F.lit(1700003600) + F.col("id") * 3600).alias(
            "end_datetime"
        ),
    )


def test_upsert_idempotent(spark):
    path = tempfile.mkdtemp(prefix="recipes_test_stac_") + "/catalog"
    items = _items(spark)
    upsert_items(spark, items, path)
    first = spark.read.parquet(path).count()
    upsert_items(spark, items, path)  # exact re-run: no-op
    assert spark.read.parquet(path).count() == first == 50


def test_upsert_new_version_wins(spark):
    path = tempfile.mkdtemp(prefix="recipes_test_stac_") + "/catalog"
    upsert_items(spark, _items(spark), path)
    updated = _items(spark, n=10).withColumn(
        "bbox", F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(1.0))
    )
    upsert_items(spark, updated, path)
    store = spark.read.parquet(path)
    assert store.count() == 50
    assert store.filter(F.col("bbox")[2] == 1.0).count() == 10


def test_upsert_untouched_partition_preserved(spark):
    path = tempfile.mkdtemp(prefix="recipes_test_stac_") + "/catalog"
    upsert_items(spark, _items(spark, collection="c-a"), path)
    other = _items(spark, n=20, collection="c-b").withColumn(
        "id", F.concat(F.lit("other-"), F.col("id"))
    )
    upsert_items(spark, other, path)
    store = spark.read.parquet(path)
    assert store.filter(F.col("collection_id") == "c-a").count() == 50
    assert store.filter(F.col("collection_id") == "c-b").count() == 20


def _store_files(path):
    """{relative path: size} of every data file in the store."""
    return {
        os.path.relpath(os.path.join(d, f), path): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }


def _rows(spark, path):
    return sorted(spark.read.parquet(path).collect(), key=lambda r: r.id)


def _changed(spark, n=10):
    return _items(spark, n=n).withColumn(
        "bbox", F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(1.0))
    )


def test_upsert_delta_rewrites_only_hit_files(spark):
    """Copy-on-write at file granularity: upserting one changed id into
    a multi-file store rewrites only the file that held it. Every other
    file keeps its name and size, and the rows written are at most the
    changed row plus the hit file's other rows."""
    path = tempfile.mkdtemp(prefix="recipes_test_stac_") + "/catalog"
    for lo in (0, 50, 100):  # one new file per batch of new ids
        ids = [f"item-{i}" for i in range(lo, lo + 50)]
        upsert_items(spark, _items(spark, n=150).filter(F.col("id").isin(ids)), path)
    other = _items(spark, n=20, collection="c-b").withColumn(
        "id", F.concat(F.lit("other-"), F.col("id"))
    )
    upsert_items(spark, other, path)
    before = _store_files(path)
    assert len(before) == 4
    holding = {
        f for f in before
        if spark.read.parquet(f"{path}/{f}").filter(F.col("id") == "item-60").count()
    }
    assert len(holding) == 1

    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        upsert_items(spark, _changed(spark, n=61).filter(F.col("id") == "item-60"), path)
        assert spark.conf.get(key) == "static"  # no session side effect
    finally:
        spark.conf.set(key, prior)

    after = _store_files(path)
    assert {f: before[f] for f in before if f not in holding} == {
        f: after[f] for f in before if f not in holding
    }
    assert not holding & after.keys()
    written = [f for f in after if f not in before]
    assert len(written) == 1
    # The changed row plus the 50 rows of the file that held it.
    assert spark.read.parquet(f"{path}/{written[0]}").count() <= 1 + 50
    store = spark.read.parquet(path)
    assert store.count() == 170 == store.select("id").distinct().count()
    assert store.filter(F.col("bbox")[2] == 1.0).collect()[0].id == "item-60"


def _row_set(rows):
    return {str(r) for r in rows}


def _two_file_store(spark):
    """50 items of collection c-a in two files (item-0..24, the rest)."""
    first = F.col("id").isin([f"item-{i}" for i in range(25)])
    path = tempfile.mkdtemp(prefix="recipes_test_stac_") + "/catalog"
    upsert_items(spark, _items(spark).filter(first), path)
    upsert_items(spark, _items(spark).filter(~first), path)
    assert len(_store_files(path)) == 2
    return path


def _batch(spark):
    """Two changed ids in each file of the two-file store, and two new
    ids."""
    return _changed(spark, n=52).filter(
        F.col("id").isin("item-0", "item-1", "item-30", "item-31", "item-50", "item-51")
    )


#: Every writer that rewrites the store through catalog.commit_rewrite,
#: each reading both files of the two-file store.
_WRITERS = {
    "upsert": lambda spark, path, batch: upsert_items(spark, batch, path),
    "merge_update": lambda spark, path, batch: merge_into(
        spark, path, batch, on="id", partition_col="collection_id",
    ),
    "merge_delete": lambda spark, path, batch: merge_into(
        spark, path, batch, on="id", partition_col="collection_id",
        when_matched="delete", when_not_matched="ignore",
    ),
    "compact": lambda spark, path, batch: compact_catalog(spark, path),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_failed_delete_loses_no_row_and_rerun_converges(spark, monkeypatch, writer):
    """Add-then-delete: a crash while the replaced files are deleted
    (after the append) leaves both versions of the rewritten rows, never
    a lost one, and re-running the same write converges to the store a
    run without the failure leaves: same rows, no duplicate ids."""
    import recipes_spark.plans.catalog as catalog

    write = _WRITERS[writer]
    clean = _two_file_store(spark)
    write(spark, clean, _batch(spark))
    expected = _rows(spark, clean)

    path = _two_file_store(spark)
    delete = catalog._delete_files

    def crash_after_first(spark, paths):
        assert len(paths) == 2
        delete(spark, paths[:1])
        raise RuntimeError("injected: delete step")

    monkeypatch.setattr(catalog, "_delete_files", crash_after_first)
    with pytest.raises(RuntimeError, match="injected"):
        write(spark, path, _batch(spark))
    left = _rows(spark, path)
    assert _row_set(expected) <= _row_set(left)
    assert len(left) > len(expected)  # the surviving old file's copies

    monkeypatch.undo()
    write(spark, path, _batch(spark))
    assert _rows(spark, path) == expected
    store = spark.read.parquet(path)
    assert store.count() == store.select("id").distinct().count()


def _fail_while_planning(spark, monkeypatch):
    # Every writer plans on the driver (its touched partitions, the
    # files it reads) before it appends.
    def fail(self):
        raise RuntimeError("injected: plan step")

    monkeypatch.setattr(type(spark.range(1)), "collect", fail)


def _fail_inside_append(spark, monkeypatch):
    # A row whose payload cannot be computed: the append job itself fails.
    cls = type(spark.range(1))
    write = cls.write

    def poisoned(self):
        bad = self.withColumn(
            "end_datetime",
            F.when(F.col("id") == "item-3", F.raise_error(F.lit("injected: append")))
            .otherwise(F.col("end_datetime")),
        )
        return write.fget(bad)

    monkeypatch.setattr(cls, "write", property(poisoned))


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_failure_before_append_leaves_store_unchanged(spark, monkeypatch, writer):
    """A failure before the append commits (while the writer plans, or
    inside the append job) leaves the store's file list and rows exactly
    as they were."""
    for inject in (_fail_while_planning, _fail_inside_append):
        path = _two_file_store(spark)
        files, rows = _store_files(path), _rows(spark, path)
        batch = _batch(spark)
        inject(spark, monkeypatch)
        with pytest.raises(Exception, match="injected"):
            _WRITERS[writer](spark, path, batch)
        monkeypatch.undo()
        assert _store_files(path) == files
        assert _rows(spark, path) == rows


def test_writers_leave_partition_overwrite_mode_alone(spark, sf_dir):
    """merge_into, ingest_events and compact_catalog leave the session's
    partitionOverwriteMode as the caller set it, so a later overwrite of
    a partitioned path still replaces the whole directory."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        tmp = tempfile.mkdtemp(prefix="recipes_test_conf_")
        path = f"{tmp}/catalog"
        for _ in range(2):  # first write, then a rewrite
            merge_into(spark, path, _items(spark), on="id", partition_col="collection_id")
        ingest_events(spark, sf_dir, f"{tmp}/events")
        compact_catalog(spark, path)
        assert spark.conf.get(key) == "static"

        _items(spark, n=5, collection="c-b").write.mode("overwrite").partitionBy(
            "collection_id"
        ).parquet(path)
        assert sorted(d for d in os.listdir(path) if "=" in d) == ["collection_id=c-b"]
        assert spark.read.parquet(path).count() == 5
    finally:
        spark.conf.set(key, prior)


def test_compact_catalog(spark):
    import glob as _glob

    path = tempfile.mkdtemp(prefix="recipes_test_stac_") + "/catalog"
    # Fragmented store: 200 rows spread across 40 tiny files.
    _items(spark, n=200).repartition(40).write.partitionBy(
        "collection_id"
    ).parquet(path)
    before_files = _glob.glob(f"{path}/collection_id=*/part-*.parquet")
    before_rows = sorted(
        r.id for r in spark.read.parquet(path).select("id").collect()
    )
    assert len(before_files) >= 30

    plan = compact_catalog(spark, path)
    assert plan == {"c-a": 1}  # tiny store → one target file
    after_files = _glob.glob(f"{path}/collection_id=*/part-*.parquet")
    assert len(after_files) < len(before_files)
    after_rows = sorted(
        r.id for r in spark.read.parquet(path).select("id").collect()
    )
    assert after_rows == before_rows

    # Idempotent: second run plans the same layout, content unchanged.
    assert compact_catalog(spark, path) == {"c-a": 1}
    assert (
        sorted(r.id for r in spark.read.parquet(path).select("id").collect())
        == before_rows
    )


def test_catalog_search_filters(spark):
    items = _items(spark).cache()
    hits = catalog_search(
        items,
        collections=["c-a"],
        datetime_range=("2023-11-14T00:00:00", "2023-11-15T00:00:00"),
        sortby=[("start_datetime", "asc")],
        limit=5,
    )
    rows = hits.collect()
    assert 0 < len(rows) <= 5
    assert all(r.collection_id == "c-a" for r in rows)
    starts = [r.start_datetime for r in rows]
    assert starts == sorted(starts)
    none = catalog_search(items, collections=["nope"]).count()
    assert none == 0


def test_catalog_search_hostile_string_values(spark):
    """The single-parse SQL fast path (round-16 driver-chatter pass)
    must give the same rows as the Column predicates it replaced for
    values that stress SQL-literal quoting: embedded single quotes ride
    the fast path (quote-doubled), and values containing a backslash
    must take the Column fallback (backslash handling inside SQL string
    literals is conf-dependent), not mis-parse or leak a predicate."""
    quoted = "c'); SELECT ('a"
    slashed = "c-\\n'b"
    items = (
        _items(spark, n=10, collection=quoted)
        .union(_items(spark, n=10, collection=slashed))
        .union(_items(spark, n=10, collection="c-plain"))
    )
    for coll in (quoted, slashed, "c-plain"):
        got = catalog_search(items, collections=[coll]).collect()
        assert len(got) == 10, coll
        assert all(r.collection_id == coll for r in got)
    # ids path: same two regimes on the unique key.
    ids_hit = catalog_search(items, ids=["item-3"]).count()
    assert ids_hit == 3  # one per collection branch above
    assert catalog_search(items, ids=["item'); --", "no\\pe"]).count() == 0


def test_catalog_search_property_filter_and_paging(spark):
    import pyspark.sql.functions as F

    items = _items(spark).cache()
    # CQL-style property filter: any Column predicate.
    hits = catalog_search(items, filter=F.col("bbox")[0] > 0.0)
    assert all(r.bbox[0] > 0.0 for r in hits.collect())
    # Keyset paging: walk 50 items in pages of 20 with no overlap.
    seen: list[str] = []
    token = None
    while True:
        page = catalog_search(items, limit=20, page_after=token).collect()
        if not page:
            break
        ids = [r.id for r in page]
        assert ids == sorted(ids)
        seen.extend(ids)
        token = ids[-1]
    assert len(seen) == 50 == len(set(seen))


def test_keyset_paging_non_id_sortby(spark):
    """Round-7 fix: paging a (start_datetime desc) search with the full
    key-tuple token tiles the result exactly — the old id-only token
    silently dropped rows that sort later with smaller ids."""
    from recipes_spark.plans.catalog import page_token

    items = _items(spark).cache()
    sortby = [("start_datetime", "desc")]
    expect = [
        r.id
        for r in catalog_search(items, sortby=sortby, limit=50).collect()
    ]
    seen: list[str] = []
    token = None
    while True:
        page = catalog_search(
            items, sortby=sortby, limit=7, page_after=token
        ).collect()
        if not page:
            break
        seen.extend(r.id for r in page)
        if len(page) < 7:
            break
        token = page_token(page[-1], sortby)
    assert seen == expect  # same rows, same global order, no drops/dupes


def test_keyset_paging_ties_split_across_pages(spark):
    """Equal sort keys at a page boundary: the enforced id tiebreak
    keeps the order total, so no row is lost or repeated."""
    from recipes_spark.plans.catalog import page_token

    # 40 items, only 4 distinct start_datetimes → every page boundary
    # lands inside a tie group.
    items = _items(spark, n=40).withColumn(
        "start_datetime",
        F.timestamp_seconds(
            F.lit(1700000000)
            + F.pmod(F.xxhash64("id"), F.lit(4)) * 3600
        ),
    ).cache()
    sortby = [("start_datetime", "desc")]
    expect = sorted(r.id for r in items.collect())
    seen: list[str] = []
    token = None
    while True:
        page = catalog_search(
            items, sortby=sortby, limit=6, page_after=token
        ).collect()
        if not page:
            break
        seen.extend(r.id for r in page)
        if len(page) < 6:
            break
        token = page_token(page[-1], sortby)
    assert sorted(seen) == expect and len(seen) == len(set(seen))


def test_keyset_paging_rejects_bare_token_with_sortby(spark):
    """The pre-round-7 silent wrong-answer combination — a bare id
    token under non-id sortby — is now a loud error."""
    import pytest

    items = _items(spark)
    with pytest.raises(ValueError, match="full key tuple"):
        catalog_search(
            items,
            sortby=[("start_datetime", "desc")],
            limit=5,
            page_after="item-10",
        ).collect()


def test_sortby_is_deterministic_under_ties(spark):
    """sortby without an explicit id key still yields a total order
    (id tiebreak appended), so limit results are run-stable."""
    items = _items(spark, n=30).withColumn(
        "start_datetime", F.timestamp_seconds(F.lit(1700000000))
    )
    a = [r.id for r in catalog_search(
        items, sortby=[("start_datetime", "asc")], limit=10
    ).collect()]
    b = [r.id for r in catalog_search(
        items.repartition(8), sortby=[("start_datetime", "asc")], limit=10
    ).collect()]
    assert a == b


def test_catalog_search_bbox(spark):
    items = _items(spark).cache()
    hits = catalog_search(items, bbox=(-180.0, -5.0, -150.0, 5.0))
    for r in hits.collect():
        w, s, e, n = r.bbox
        assert not (e < -180.0 or w > -150.0 or n < -5.0 or s > 5.0)


def test_schema_evolution_merge_and_backfill_defaults(spark, tmp_path):
    """Schema evolution on a partitioned parquet store — the 100 TB
    operational reality that a new STAC extension / metadata column
    lands on NEW shards while years of old shards predate it: reading
    with mergeSchema must union the schemas (old rows NULL for the new
    column), a coalesce() default must backfill without rewriting old
    shards, and predicate pushdown on the new column must still prune
    (NULL rows drop out of a positive filter, which is the correct
    semantics for 'added later')."""
    import pyspark.sql.functions as F

    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(i, f"old{i}") for i in range(10)], "id long, name string"
    ).write.mode("overwrite").parquet(f"{store}/shard=2023")
    spark.createDataFrame(
        [(i, f"new{i}", i % 3) for i in range(10, 20)],
        "id long, name string, quality int",
    ).write.mode("overwrite").parquet(f"{store}/shard=2024")

    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(store)
    assert set(merged.columns) == {"id", "name", "quality"}
    rows = {r["id"]: r["quality"] for r in merged.collect()}
    assert all(rows[i] is None for i in range(10))
    assert all(rows[i] == i % 3 for i in range(10, 20))

    # Backfill default without rewriting old shards.
    filled = merged.withColumn(
        "quality", F.coalesce("quality", F.lit(-1))
    )
    assert {r["quality"] for r in filled.filter(F.col("id") < 10).collect()} == {-1}

    # A positive filter on the evolved column excludes pre-evolution rows.
    assert merged.filter(F.col("quality") >= 0).count() == 10


def test_keyset_paging_tiling_property(spark):
    """Property: for ANY (sort key, direction, page size), keyset pages
    tile the full sorted result exactly — same multiset of rows, same
    global order, no drops or duplicates at any boundary. Runs the
    hypothesis cases against one cached 60-row frame with heavy ties
    (7 distinct sort values) so nearly every boundary lands in a tie."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from recipes_spark.plans.catalog import page_token

    items = _items(spark, n=60).withColumn(
        "start_datetime",
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("id"), F.lit(7)) * 60
        ),
    ).cache()
    items.count()

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        key=st.sampled_from(["start_datetime", "collection_id", "id"]),
        direction=st.sampled_from(["asc", "desc"]),
        page=st.integers(min_value=1, max_value=70),
    )
    def tile(key, direction, page):
        sortby = [(key, direction)]
        expect = [
            r.id
            for r in catalog_search(items, sortby=sortby, limit=60).collect()
        ]
        seen, token = [], None
        for _ in range(100):
            rows = catalog_search(
                items, sortby=sortby, limit=page, page_after=token
            ).collect()
            if not rows:
                break
            seen.extend(r.id for r in rows)
            if len(rows) < page:
                break
            token = page_token(rows[-1], sortby)
        assert seen == expect

    tile()


def test_opaque_token_round_trip(spark):
    """encode_page_token → (wire) → decode_page_token preserves typed
    key tuples (timestamps included), and a garbage token fails loudly."""
    import pytest

    from recipes_spark.plans.catalog import (
        decode_page_token,
        encode_page_token,
        page_token,
    )

    items = _items(spark).cache()
    sortby = [("start_datetime", "desc")]
    last = catalog_search(items, sortby=sortby, limit=5).collect()[-1]
    tok = encode_page_token(last, sortby)
    assert isinstance(tok, str) and tok.isascii()
    assert decode_page_token(tok) == page_token(last, sortby)
    # Paging with the decoded wire token == paging with the raw tuple.
    via_wire = catalog_search(
        items, sortby=sortby, limit=5, page_after=decode_page_token(tok)
    ).collect()
    direct = catalog_search(
        items, sortby=sortby, limit=5, page_after=page_token(last, sortby)
    ).collect()
    assert via_wire == direct and via_wire
    for garbage in ("notbase64!!", "eyJ4Ijog", "AAAA"):
        with pytest.raises(ValueError):
            decode_page_token(garbage)


def test_decode_page_token_crash_class():
    """Error-discipline fuzz for the wire-token decoder: a client can
    send ANY string (including valid base64 of hostile JSON — e.g.
    [{"__ts__": 123}] would have hit fromisoformat(123) → TypeError).
    The contract is tuple-or-ValueError, never TypeError/KeyError/
    AttributeError."""
    import base64
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from recipes_spark.plans.catalog import decode_page_token

    hostile_json = st.recursive(
        st.one_of(
            st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False),
            st.text(max_size=20),
            st.sampled_from([
                {"__ts__": 123}, {"__ts__": None}, {"__ts__": "2020-01-01"},
                {"__ts__": "junk"}, {"__d__": 5}, {"__d__": "2020-01-01"},
                {"other": 1}, {},
            ]),
        ),
        lambda inner: st.lists(inner, max_size=4),
        max_leaves=8,
    )
    tokens = st.one_of(
        st.text(max_size=40),
        hostile_json.map(
            lambda v: base64.urlsafe_b64encode(json.dumps(v).encode()).decode()
        ),
    )

    @settings(max_examples=300, deadline=None)
    @given(tok=tokens)
    def run(tok):
        try:
            out = decode_page_token(tok)
            assert isinstance(out, tuple)
        except ValueError:
            pass

    run()


def test_search_pages_iterator(spark):
    """search_pages yields page plans that tile the full result and
    stops cleanly on the short final page."""
    from recipes_spark.plans.catalog import search_pages

    items = _items(spark).cache()
    sortby = [("start_datetime", "desc")]
    expect = [
        r.id for r in catalog_search(items, sortby=sortby, limit=50).collect()
    ]
    seen = []
    n_pages = 0
    for page in search_pages(items, page_size=12, sortby=sortby):
        seen.extend(r.id for r in page.collect())
        n_pages += 1
    assert seen == expect
    assert n_pages == 5  # 50 rows / 12 → 4 full pages + short page of 2


def test_apply_fields_include_exclude_semantics(spark):
    """STAC fields extension: include keeps mandatories + named columns
    (dotted names rebuild a struct subset); exclude drops columns or
    struct subfields; id is never excludable."""
    import pyspark.sql.functions as F

    from recipes_spark.plans.catalog import apply_fields

    df = spark.createDataFrame(
        [("i1", "c1", 1.0, ("a", "b"))],
        "id string, collection_id string, score double,"
        " properties struct<x: string, y: string>",
    )
    # bare list == include
    out = apply_fields(df, ["score"])
    assert out.columns == ["id", "collection_id", "score"]
    # dotted include → struct subset
    out = apply_fields(df, {"include": ["properties.y"]})
    assert out.columns == ["id", "collection_id", "properties"]
    assert out.schema["properties"].dataType.fieldNames() == ["y"]
    assert out.select(F.col("properties.y")).first()[0] == "b"
    # exclude drops a column / a subfield; id survives an exclude
    out = apply_fields(df, {"exclude": ["score", "properties.x", "id"]})
    assert out.columns == ["id", "collection_id", "properties"]
    assert out.schema["properties"].dataType.fieldNames() == ["y"]
    # no fields → identity
    assert apply_fields(df, None) is df


def test_search_pages_fields_projection_keeps_cursor(spark):
    """search_pages must advance its keyset cursor even when the fields
    projection drops the sort-key column from the yielded pages."""
    import pyspark.sql.functions as F

    from recipes_spark.plans.catalog import search_pages

    items = spark.range(0, 50).select(
        F.format_string("i%03d", "id").alias("id"),
        F.lit("c1").alias("collection_id"),
        (F.col("id") * 2).alias("rank_key"),
    )
    pages = list(
        search_pages(
            items,
            page_size=8,
            sortby=[("rank_key", "desc")],
            fields={"include": ["collection_id"]},  # drops rank_key
        )
    )
    assert len(pages) == 7  # 50 rows / 8 per page
    for p in pages:
        assert p.columns == ["id", "collection_id"]
    ids = [r["id"] for p in pages for r in p.collect()]
    assert ids == [f"i{i:03d}" for i in range(49, -1, -1)]
