"""STAC catalog queries (SURVEY.md §2.2 P2/P4/P10/P11, §2.4 A1, §2.9
G2/G3, §3.3): item assembly, collection-extent derivation, and catalog
search, on STAC-shaped rows derived DETERMINISTICALLY from the orders
table (FIXTURES.md §B) so DuckDB can re-derive them for the oracle.

Derivation: each order → one item; collection = order priority class
(5 collections); bbox from key arithmetic; temporal span = orderdate +1d.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from recipes_spark.io import load
from recipes_spark.plans.catalog import (
    bbox_intersects,
    catalog_search,
    decode_page_token,
    encode_page_token,
)
from recipes_spark.plans.items import build_items
from recipes_spark.registry import query
from recipes_spark.session import scratch_dir

# Shared DuckDB derivation of the flat metadata rows (mirrors _metadata).
_ORACLE_META = """
SELECT
  'item-' || CAST(o_orderkey AS VARCHAR)              AS item_id,
  'col-' || split_part(o_orderpriority, '-', 1)       AS collection_id,
  CAST(-180 + (o_orderkey % 340) AS DOUBLE)           AS west,
  CAST(-85 + (o_custkey % 170) AS DOUBLE)             AS south,
  CAST(-180 + (o_orderkey % 340) + 10 AS DOUBLE)      AS east,
  CAST(-85 + (o_custkey % 170) + 5 AS DOUBLE)         AS north,
  o_orderdate                                         AS start_datetime,
  o_orderdate + INTERVAL 1 DAY                        AS end_datetime,
  'file:///synthetic/granules/' || CAST(o_orderkey AS VARCHAR) || '.nc'
                                                      AS source_url
FROM orders
"""

_ORACLE_GEOJSON = """
printf('{"type": "Polygon", "coordinates": [[[%.1f, %.1f], [%.1f, %.1f], [%.1f, %.1f], [%.1f, %.1f], [%.1f, %.1f]]]}',
       east, south, east, north, west, north, west, south, east, south)
"""


def _metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat granule-metadata rows derived from orders — the synthetic
    stand-in for the S11 NetCDF-attr reader output (FIXTURES.md §B,
    granule_metadata)."""
    # One selectExpr, not ~30 Column calls: py4j chatter was a
    # measurable slice of every stac query build (round-16 driver-
    # chatter pass; parsed trees identical, fingerprints unchanged).
    o = load(spark, sf_dir, "orders")
    west = "CAST((o_orderkey % 340) + -180 AS DOUBLE)"
    south = "CAST((o_custkey % 170) + -85 AS DOUBLE)"
    return o.selectExpr(
        "concat('item-', CAST(o_orderkey AS STRING)) AS item_id",
        "concat('col-', substring_index(o_orderpriority, '-', 1))"
        " AS collection_id",
        f"{west} AS west",
        f"{south} AS south",
        f"{west} + 10 AS east",
        f"{south} + 5 AS north",
        "o_orderdate AS start_datetime",
        "o_orderdate + INTERVAL 1 DAY AS end_datetime",
        "concat('file:///synthetic/granules/', CAST(o_orderkey AS STRING),"
        " '.nc') AS source_url",
    )


@query(
    "stac_item_assembly",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id,
       collection_id,
       west  AS bbox_w,
       south AS bbox_s,
       east  AS bbox_e,
       north AS bbox_n,
       {_ORACLE_GEOJSON} AS geometry,
       strftime(start_datetime, '%Y-%m-%dT%H:%M:%S') AS prop_start,
       strftime(end_datetime, '%Y-%m-%dT%H:%M:%S')   AS prop_end,
       collection_id AS prop_collection,
       source_url    AS asset_href,
       'application/netcdf' AS asset_media_type,
       'collection'  AS link_rel,
       collection_id AS link_target,
       CAST(4326 AS BIGINT) AS prop_proj_epsg,
       printf('{{"lon": {{"axis": "x", "type": "spatial", "extent": [%.1f, %.1f], "reference_system": %d}}, "lat": {{"axis": "y", "type": "spatial", "extent": [%.1f, %.1f], "reference_system": %d}}}}',
              west, east, 4326, south, north, 4326)
         AS prop_cube_dimensions,
       'https://stac-extensions.github.io/projection/v1.1.0/schema.json'
         AS ext_first
FROM meta
""",
)
def stac_item_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P11/P13: full nested item assembly (struct/map/array document)
    then flattened projection for the oracle — the driver compares flat
    columns, the engine keeps the nested STAC shape. The projection
    dict mirrors the reference's xstac_kwargs (avhrr…/recipe.py:128-136):
    proj:epsg + cube:dimensions land in properties and the projection/
    datacube schema URIs lead stac_extensions."""
    items = build_items(
        _metadata(spark, sf_dir),
        projection={
            "reference_system": "epsg:4326",
            "x_dimension": "lon",
            "y_dimension": "lat",
        },
    )
    return items.select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("bbox_w"),
        F.col("bbox")[1].alias("bbox_s"),
        F.col("bbox")[2].alias("bbox_e"),
        F.col("bbox")[3].alias("bbox_n"),
        "geometry",
        F.col("properties.start_datetime").alias("prop_start"),
        F.col("properties.end_datetime").alias("prop_end"),
        F.col("properties.collection").alias("prop_collection"),
        F.col("assets")["data"]["href"].alias("asset_href"),
        F.col("assets")["data"]["media_type"].alias("asset_media_type"),
        F.col("links")[0]["rel"].alias("link_rel"),
        F.col("links")[0]["target"].alias("link_target"),
        F.col("properties").getField("proj:epsg").alias("prop_proj_epsg"),
        F.col("properties")
        .getField("cube:dimensions")
        .alias("prop_cube_dimensions"),
        F.col("stac_extensions")[0].alias("ext_first"),
    )


@query(
    "stac_collection_extents",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT collection_id,
       min(west)  AS ext_w,
       min(south) AS ext_s,
       max(east)  AS ext_e,
       max(north) AS ext_n,
       min(start_datetime) AS temporal_start,
       max(end_datetime)   AS temporal_end,
       count(*)            AS n_items
FROM meta
GROUP BY collection_id
ORDER BY collection_id
""",
)
def stac_collection_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: derive each collection's spatial/temporal extent from its
    items — the rollup the reference declares statically
    (collections.yaml:7-9) and pgstac recomputes."""
    m = _metadata(spark, sf_dir)
    return (
        m.groupBy("collection_id")
        .agg(
            F.min("west").alias("ext_w"),
            F.min("south").alias("ext_s"),
            F.max("east").alias("ext_e"),
            F.max("north").alias("ext_n"),
            F.min("start_datetime").alias("temporal_start"),
            F.max("end_datetime").alias("temporal_end"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("collection_id")
    )


@query(
    "stac_aggregations",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT collection_id,
       strftime(start_datetime, '%Y-%m') AS month,
       CAST(floor(west / 30) AS BIGINT)  AS cell_lon,
       CAST(floor(south / 30) AS BIGINT) AS cell_lat,
       count(*) AS n_items
FROM meta
GROUP BY GROUPING SETS (
  (collection_id, strftime(start_datetime, '%Y-%m')),
  (collection_id, CAST(floor(west / 30) AS BIGINT),
                  CAST(floor(south / 30) AS BIGINT))
)
""",
)
def stac_aggregations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC API *aggregation extension* surface (stac-fastapi serves
    /aggregations over pgstac: datetime frequency histograms + spatial
    grid frequencies — the faceted-search panel every catalog UI
    draws): per collection, monthly item counts AND 30-degree grid-cell
    counts, in ONE pass via GROUPING SETS, so the item table is scanned
    and shuffled once for both facets rather than once per aggregation.
    Rows from the temporal facet carry NULL cells and vice versa —
    exactly the STAC aggregation response's independent bucket lists.

    100 TB: grouping sets expand map-side (each input row feeds both
    partial aggregates before the single exchange); months and cells
    are both low-cardinality, so the shuffle is bucket-sized, not
    item-sized. On the partitioned catalog, collection_id partition
    pruning applies before any aggregation."""
    m = _metadata(spark, sf_dir)
    m.createOrReplaceTempView("stac_agg_meta")
    return spark.sql(
        """
        SELECT collection_id,
               date_format(start_datetime, 'yyyy-MM') AS month,
               CAST(floor(west / 30) AS BIGINT)  AS cell_lon,
               CAST(floor(south / 30) AS BIGINT) AS cell_lat,
               count(*) AS n_items
        FROM stac_agg_meta
        GROUP BY GROUPING SETS (
          (collection_id, date_format(start_datetime, 'yyyy-MM')),
          (collection_id, CAST(floor(west / 30) AS BIGINT),
                          CAST(floor(south / 30) AS BIGINT))
        )
        """
    )


@query(
    "stac_catalog_search",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id,
       west AS bbox_w, south AS bbox_s, east AS bbox_e, north AS bbox_n,
       start_datetime, end_datetime
FROM meta
WHERE collection_id IN ('col-1', 'col-2')
  AND start_datetime <= TIMESTAMP '1998-12-31'
  AND end_datetime   >= TIMESTAMP '1996-01-01'
  AND NOT (east < -50 OR west > 60 OR north < -40 OR south > 40)
ORDER BY start_datetime DESC, id
LIMIT 100
""",
)
def stac_catalog_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3: STAC search (collections + datetime interval + bbox +
    sortby + limit) compiled to one DataFrame plan. It searches the
    in-memory `build_items` frame, so no predicate prunes a scan here;
    on the partitioned store only the collection filter prunes
    (partitions), and the datetime predicates prune no row group
    (INT96 timestamps carry no statistics)."""
    items = build_items(_metadata(spark, sf_dir))
    found = catalog_search(
        items,
        collections=["col-1", "col-2"],
        bbox=(-50.0, -40.0, 60.0, 40.0),
        datetime_range=("1996-01-01", "1998-12-31"),
        sortby=[("start_datetime", "desc"), ("id", "asc")],
        limit=100,
    )
    return found.selectExpr(
        "id",
        "collection_id",
        "bbox[0] AS bbox_w",
        "bbox[1] AS bbox_s",
        "bbox[2] AS bbox_e",
        "bbox[3] AS bbox_n",
        "start_datetime",
        "end_datetime",
    )


@query(
    "stac_cql_search",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id, west, start_datetime
FROM meta
WHERE (collection_id = 'col-1' OR collection_id = 'col-3')
  AND west BETWEEN -100 AND 50
  AND start_datetime >= TIMESTAMP '1997-06-01'
  AND item_id LIKE 'item-1%'
ORDER BY id
LIMIT 200
""",
)
def stac_cql_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 CQL2 property filtering: the SAME filter the STAC API would
    receive as CQL2 text, compiled by plans/cql.py to a Column and fed
    through catalog_search — proving text filters get the identical
    pushdown-friendly plan as hand-written predicates."""
    from recipes_spark.plans.cql import compile_cql

    items = build_items(_metadata(spark, sf_dir)).select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("west"),
        "start_datetime",
    )
    cql = (
        "(collection_id = 'col-1' OR collection_id = 'col-3') "
        "AND west BETWEEN -100 AND 50 "
        "AND start_datetime >= TIMESTAMP('1997-06-01 00:00:00') "
        "AND id LIKE 'item-1%'"
    )
    return catalog_search(
        items, filter=compile_cql(cql), sortby=[("id", "asc")], limit=200
    )


@query(
    "stac_cql_spatial",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id,
       west, south, east, north, start_datetime
FROM meta
WHERE NOT (east < -50 OR west > 60 OR north < -40 OR south > 40)
  AND collection_id IN ('col-1', 'col-2', 'col-3')
ORDER BY id
LIMIT 300
""",
)
def stac_cql_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 CQL2 SPATIAL filtering (O2 completion): the filter string a
    STAC client sends for a polygon search — `S_INTERSECTS(geometry,
    POLYGON(...))` — compiled by plans/cql.py to the G3 bbox
    interval-overlap arithmetic on the item's bbox array (the same
    predicate pgstac evaluates against its geometry index,
    docker-compose.yml:30-44). The polygon's envelope is computed at
    COMPILE time, so the runtime predicate is four pushdown-friendly
    double comparisons — zero UDFs, prunes parquet row groups on the
    corner stats."""
    from recipes_spark.plans.cql import compile_cql

    items = build_items(_metadata(spark, sf_dir))
    cql = (
        "S_INTERSECTS(geometry, "
        "POLYGON((-50 -40, 60 -40, 60 40, -50 40, -50 -40))) "
        "AND collection_id IN ('col-1', 'col-2', 'col-3')"
    )
    found = catalog_search(
        items, filter=compile_cql(cql), sortby=[("id", "asc")], limit=300
    )
    return found.select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("west"),
        F.col("bbox")[1].alias("south"),
        F.col("bbox")[2].alias("east"),
        F.col("bbox")[3].alias("north"),
        "start_datetime",
    )


@query(
    "stac_cql_temporal",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id, start_datetime, end_datetime
FROM meta
WHERE (end_datetime < TIMESTAMP '1994-01-01'
       OR start_datetime > TIMESTAMP '1997-06-01'
       OR (start_datetime <= TIMESTAMP '1995-04-30'
           AND end_datetime >= TIMESTAMP '1995-03-01'))
  AND lower(collection_id) IN ('col-2', 'col-4')
ORDER BY id
LIMIT 500
""",
)
def stac_cql_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 CQL2 TEMPORAL filtering + CASEI (O2 completion): T_BEFORE /
    T_AFTER / T_INTERSECTS over the item's [start_datetime,
    end_datetime] interval (anyinteracts semantics, exactly pgstac's
    datetime handling) and the CASEI case-insensitive accessor on the
    collection property — all compiled to plain column predicates that
    push down to the scan."""
    from recipes_spark.plans.cql import compile_cql

    items = build_items(_metadata(spark, sf_dir))
    cql = (
        "(T_BEFORE(datetime, TIMESTAMP('1994-01-01 00:00:00')) "
        "OR T_AFTER(datetime, TIMESTAMP('1997-06-01 00:00:00')) "
        "OR T_INTERSECTS(datetime, "
        "INTERVAL('1995-03-01 00:00:00', '1995-04-30 00:00:00'))) "
        "AND CASEI(collection_id) IN (CASEI('COL-2'), CASEI('Col-4'))"
    )
    found = catalog_search(
        items, filter=compile_cql(cql), sortby=[("id", "asc")], limit=500
    )
    return found.select("id", "collection_id", "start_datetime", "end_datetime")


@query(
    "catalog_time_travel",
    oracle=f"""
WITH meta AS ({_ORACLE_META}),
v1 AS (SELECT * FROM meta WHERE west < 50),
agg1 AS (
  SELECT 1 AS version, collection_id,
         CAST(count(*) AS BIGINT) AS n_items,
         min(item_id) AS min_id, max(item_id) AS max_id
  FROM v1 GROUP BY collection_id
), agg2 AS (
  SELECT 2 AS version, collection_id,
         CAST(count(*) AS BIGINT) AS n_items,
         min(item_id) AS min_id, max(item_id) AS max_id
  FROM meta GROUP BY collection_id
)
SELECT * FROM agg1 UNION ALL SELECT * FROM agg2
ORDER BY version, collection_id
""",
)
def catalog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the catalog store (plans/catalog.py
    snapshot_commit/snapshot_read) — the table-format capability (Delta
    /Iceberg snapshots) built from plain parquet + version manifests:
    commit v1 (items west of 50°), commit v2 (the remaining items),
    then read BOTH versions back — v1's read resolves through v1's
    manifest, so v2's files, sitting in the same store tree, are
    invisible to it. The output aggregates each version's read per
    collection; the oracle derives the same two snapshots logically,
    so a manifest leak (v1 read seeing v2 rows) or a lost file breaks
    the count/extent hash immediately.

    100 TB: manifests are file-count-sized metadata; the version
    resolution collect is the same bounded metadata read every table
    format performs; data files are immutable once committed, so
    snapshot reads are plain pruned parquet scans."""
    import os

    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read

    # Fresh store per invocation: a re-run replays commit 1, which the
    # optimistic-concurrency guard would (rightly) reject against the
    # previous run's surviving manifests.
    store = os.path.join(scratch_dir("timetravel"), "store")
    m = _metadata(spark, sf_dir)
    snapshot_commit(spark, m.filter(F.col("west") < 50), store, 1)
    snapshot_commit(spark, m.filter(F.col("west") >= 50), store, 2)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy("collection_id").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("item_id").alias("min_id"),
            F.max("item_id").alias("max_id"),
        ).select(
            F.lit(version).cast("int").alias("version"),
            "collection_id",
            "n_items",
            "min_id",
            "max_id",
        )

    return (
        agg(snapshot_read(spark, store, 1), 1)
        .unionByName(agg(snapshot_read(spark, store, 2), 2))
        .orderBy("version", "collection_id")
    )


@query(
    "catalog_schema_evolution",
    oracle=f"""
WITH meta AS ({_ORACLE_META}),
v1 AS (
  SELECT item_id, collection_id, CAST(NULL AS BIGINT) AS quality_cents
  FROM meta WHERE west < 50
), v2 AS (
  SELECT item_id, collection_id,
         CAST(floor(west * 100) AS BIGINT) AS quality_cents
  FROM meta WHERE west >= 50
), merged AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT collection_id,
       CAST(count(*) AS BIGINT)             AS n_items,
       CAST(count(quality_cents) AS BIGINT) AS n_scored,
       CAST(sum(quality_cents) AS BIGINT)   AS sum_quality_cents
FROM merged
GROUP BY collection_id
ORDER BY collection_id
""",
)
def catalog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION across snapshot versions — the third
    table-format capability next to time travel and optimistic
    commits: version 1 items have no `quality_cents`; version 2 items
    carry the new column; a merge-schema snapshot read unions the file
    schemas so v1-origin rows surface the column as NULL instead of
    the column silently vanishing (Spark's default samples ONE file's
    footer — the wrong behavior for an evolved store, which is exactly
    why snapshot_read exposes merge_schema). The oracle derives the
    same evolved union logically, so a dropped column, a wrong NULL
    policy, or cross-version row leakage all break the hash.

    100 TB: merge-schema costs one footer read per file at planning —
    table formats amortize it by storing the schema in the manifest;
    the data files are never rewritten for an additive change."""
    import os

    from recipes_spark.plans.catalog import snapshot_commit, snapshot_read

    store = os.path.join(scratch_dir("schemaevo"), "store")
    m = _metadata(spark, sf_dir)
    v1 = m.filter(F.col("west") < 50).select("item_id", "collection_id")
    v2 = m.filter(F.col("west") >= 50).select(
        "item_id",
        "collection_id",
        F.floor(F.col("west") * 100).cast("long").alias("quality_cents"),
    )
    snapshot_commit(spark, v1, store, 1)
    snapshot_commit(spark, v2, store, 2)
    evolved = snapshot_read(spark, store, 2, merge_schema=True)
    return (
        evolved.groupBy("collection_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count("quality_cents").alias("n_scored"),
            F.sum("quality_cents").cast("long").alias("sum_quality_cents"),
        )
        .orderBy("collection_id")
    )


@query(
    "stac_cql_containment",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id,
       west, south, east, north, start_datetime, end_datetime
FROM meta
WHERE west >= -120 AND south >= -60 AND east <= 20 AND north <= 60
  AND start_datetime >= TIMESTAMP '1993-01-01'
  AND end_datetime <= TIMESTAMP '1996-12-31 23:59:59'
ORDER BY id
LIMIT 400
""",
)
def stac_cql_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 CQL2 CONTAINMENT relations (round-7 widening toward full
    pgstac operator parity): S_WITHIN — items whose footprint lies
    inside the query box, the "fully covered by my AOI" search
    S_INTERSECTS over-matches — composed with T_DURING — items whose
    whole interval sits inside the query window. Both compile to plain
    corner/bound comparisons (exact for bbox footprints), pushed to the
    scan like every other CQL2 predicate; S_CONTAINS / S_DISJOINT /
    T_CONTAINS / ACCENTI land in the same compiler pass (plans/cql.py,
    tests/test_cql.py pins each against hand-built predicates and the
    cql2-json encoding)."""
    from recipes_spark.plans.cql import compile_cql

    items = build_items(_metadata(spark, sf_dir))
    cql = (
        "S_WITHIN(geometry, BBOX(-120, -60, 20, 60)) "
        "AND T_DURING(datetime, "
        "INTERVAL('1993-01-01 00:00:00', '1996-12-31 23:59:59'))"
    )
    found = catalog_search(
        items, filter=compile_cql(cql), sortby=[("id", "asc")], limit=400
    )
    return found.select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("west"),
        F.col("bbox")[1].alias("south"),
        F.col("bbox")[2].alias("east"),
        F.col("bbox")[3].alias("north"),
        "start_datetime",
        "end_datetime",
    )


@query(
    "stac_cql_json_search",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id, west, east, start_datetime
FROM meta
WHERE (NOT (east < 150 OR west > 180 OR north < -40 OR south > 40)
       OR NOT (east < -180 OR west > -170 OR north < -40 OR south > 40))
  AND start_datetime <= TIMESTAMP '1996-12-31 23:59:59.999999'
  AND end_datetime   >= TIMESTAMP '1995-01-01'
  AND lower(collection_id) IN ('col-1', 'col-3')
  AND item_id LIKE 'item-%'
ORDER BY id
LIMIT 400
""",
)
def stac_cql_json_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 CQL2 JSON encoding (round-7 O2 closure): the exact filter
    body a stac-fastapi client POSTs to /search — `{"op": …, "args":
    […]}` — compiled by plans/cql.compile_cql_json through the SAME
    predicate builders as the text encoding (pgstac evaluates both,
    docker-compose.yml:2-28). Exercises the round-7 semantics fixes
    end-to-end: an antimeridian-crossing bbox (west > east → two
    wrapped longitude ranges OR'd), a date-only interval bound widened
    to end-of-day, and the CASEI accessor — all still pure
    pushdown-friendly column arithmetic."""
    from recipes_spark.plans.cql import compile_cql_json

    items = build_items(_metadata(spark, sf_dir))
    filt = {
        "op": "and",
        "args": [
            {"op": "s_intersects", "args": [
                {"property": "geometry"},
                {"bbox": [150, -40, -170, 40]},
            ]},
            {"op": "anyinteracts", "args": [
                {"property": "datetime"},
                {"interval": ["1995-01-01", "1996-12-31"]},
            ]},
            {"op": "in", "args": [
                {"op": "casei", "args": [{"property": "collection_id"}]},
                ["col-1", "col-3"],
            ]},
            {"op": "like", "args": [{"property": "id"}, "item-%"]},
        ],
    }
    found = catalog_search(
        items, filter=compile_cql_json(filt), sortby=[("id", "asc")], limit=400
    )
    return found.select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("west"),
        F.col("bbox")[2].alias("east"),
        "start_datetime",
    )


@query(
    "stac_paged_search",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id, start_datetime
FROM meta
WHERE collection_id IN ('col-1', 'col-2')
  AND start_datetime <= TIMESTAMP '1995-05-30'
  AND end_datetime   >= TIMESTAMP '1995-03-01'
""",
)
def stac_paged_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 keyset paging under NON-id sortby (pgstac search tokens,
    docker-compose.yml:30-44): pages a `(start_datetime desc, id asc)`
    search with the full sortby-key-tuple token — carried between pages
    as the OPAQUE base64 wire token a STAC client echoes back
    (plans/catalog.py encode_page_token/decode_page_token →
    _keyset_predicate) — and returns the CONCATENATION of all pages. The oracle is the UNPAGED filtered set — hash equality
    proves the pages tile the result exactly: no row dropped at a page
    boundary (the pre-round-7 id-token bug), none duplicated, ties on
    start_datetime split across pages safely via the id tiebreak.

    Each loop step collects one page's key columns (bounded by
    page_size — the client-side cursor a STAC consumer holds anyway);
    the returned DataFrame is the lazy union of the per-page plans, and
    every page is one pruned scan + TakeOrderedAndProject, O(page) not
    O(offset)."""
    items = build_items(_metadata(spark, sf_dir)).select(
        "id", "collection_id", "start_datetime", "end_datetime"
    )
    sortby = [("start_datetime", "desc")]
    search = dict(
        collections=["col-1", "col-2"],
        datetime_range=("1995-03-01", "1995-05-30"),
        sortby=sortby,
    )
    page_size = 64
    pages: list[DataFrame] = []
    token = None
    for _ in range(200):  # hard cap: a non-advancing token is a bug
        page = catalog_search(
            items,
            limit=page_size,
            page_after=decode_page_token(token) if token else None,
            **search,
        )
        keys = page.select("start_datetime", "id").collect()
        if not keys:
            break
        pages.append(page.select("id", "collection_id", "start_datetime"))
        if len(keys) < page_size:
            break
        # Full wire round trip: typed key tuple → opaque base64 token
        # (what a STAC client echoes back) → typed tuple.
        token = encode_page_token(keys[-1], sortby)
    else:
        raise RuntimeError("stac_paged_search: token failed to advance")
    out = pages[0]
    for p in pages[1:]:
        out = out.unionByName(p)
    return out


@query(
    "stac_fields_paged_search",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id,
       collection_id,
       start_datetime,
       printf('{{"collection":"%s"}}', collection_id) AS props_json
FROM meta
WHERE collection_id IN ('col-1', 'col-2')
  AND start_datetime <= TIMESTAMP '1995-05-30'
  AND end_datetime   >= TIMESTAMP '1995-03-01'
""",
)
def stac_fields_paged_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC API *fields extension* composed with keyset paging
    (stac-fastapi property-subset selection over pgstac,
    docker-compose.yml:2-28): the same filtered search as
    stac_paged_search, walked page by page under
    fields include=[start_datetime, properties.collection] — each
    page's properties struct is REBUILT with only the named subfield
    (plans/catalog.apply_fields), while the paging cursor still
    advances on the un-projected sort keys. props_json serializes the
    projected struct, so the hash compare attests the subset shape
    (a full struct would leak start/end datetimes into the JSON).
    Oracle = the unpaged filtered set: pages tile exactly AND carry
    only the requested fields."""
    from recipes_spark.plans.catalog import search_pages

    items = build_items(_metadata(spark, sf_dir)).select(
        "id", "collection_id", "start_datetime", "end_datetime", "properties"
    )
    pages = [
        page.select(
            "id",
            "collection_id",
            "start_datetime",
            F.to_json("properties").alias("props_json"),
        )
        for page in search_pages(
            items,
            page_size=64,
            sortby=[("start_datetime", "desc")],
            fields={"include": ["start_datetime", "properties.collection"]},
            collections=["col-1", "col-2"],
            datetime_range=("1995-03-01", "1995-05-30"),
        )
    ]
    out = pages[0]
    for p in pages[1:]:
        out = out.unionByName(p)
    return out


@query(
    "catalog_compact",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT collection_id,
       count(*) AS n_items,
       min(item_id) AS min_id,
       max(item_id) AS max_id
FROM meta
GROUP BY collection_id
ORDER BY collection_id
""",
)
def catalog_compact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 aftermath maintenance (plans/catalog.py compact_catalog):
    build the item store deliberately FRAGMENTED (16 writer tasks × 5
    collection partitions ≈ 80 tiny files — the state thousands of
    incremental upserts leave behind), compact it with deterministic
    pmod(xxhash64(id)) file placement, then read the store back and
    roll it up. Hash equality with the orders-derived oracle proves the
    rewrite is content-preserving: no row lost, duplicated, or moved
    across collections. File-count reduction itself is asserted in
    tests/test_catalog.py::test_compact_catalog."""
    from recipes_spark.plans.catalog import compact_catalog

    items = build_items(_metadata(spark, sf_dir))
    path = scratch_dir("compact") + "/catalog"
    items.repartition(16).write.partitionBy("collection_id").parquet(path)
    compact_catalog(spark, path, target_file_bytes=4 << 20)
    store = spark.read.parquet(path)
    return (
        store.groupBy("collection_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("collection_id")
    )


@query(
    "g3_bbox_intersects",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT collection_id, count(*) AS n_intersecting
FROM meta
WHERE NOT (east < -20 OR west > 20 OR north < -10 OR south > 10)
GROUP BY collection_id
ORDER BY collection_id
""",
)
def g3_bbox_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: bbox interval-overlap predicate (pgstac's spatial filter) —
    pure column arithmetic, pushdown-friendly."""
    m = _metadata(spark, sf_dir)
    return (
        m.filter(
            bbox_intersects(
                F.col("west"), F.col("south"), F.col("east"), F.col("north"),
                -20.0, -10.0, 20.0, 10.0,
            )
        )
        .groupBy("collection_id")
        .agg(F.count(F.lit(1)).alias("n_intersecting"))
        .orderBy("collection_id")
    )


@query(
    "stac_moving_platform",
    oracle="""
WITH pts AS (
  SELECT user_id, ts,
         ((event_id * 7919) % 36000 + 36000) % 36000 / 100.0 - 180.0 AS lon,
         ((event_id * 104729) % 17000 + 17000) % 17000 / 100.0 - 85.0 AS lat
  FROM events
), agg AS (
  SELECT user_id,
         min(ts) AS t0, max(ts) AS t1,
         min(lon) AS w, min(lat) AS s, max(lon) AS e, max(lat) AS n,
         (count(DISTINCT lon) = 1 AND count(DISTINCT lat) = 1) AS stationary
  FROM pts GROUP BY user_id
)
SELECT 'traj-' || CAST(user_id AS VARCHAR) AS id,
       CASE WHEN stationary THEN 'Point' ELSE 'LineString' END AS geom_type,
       CASE WHEN stationary THEN NULL
            ELSE 'https://stac-extensions.github.io/moving-features/v1.0.0/schema.json'
       END AS extension,
       CASE WHEN stationary THEN NULL
            ELSE strftime(t0, '%Y-%m-%dT%H:%M:%S') END AS first_vertex_time,
       CASE WHEN stationary THEN NULL
            ELSE strftime(t1, '%Y-%m-%dT%H:%M:%S') END AS last_vertex_time,
       strftime(t0, '%Y-%m-%dT%H:%M:%S') AS prop_start,
       strftime(t1, '%Y-%m-%dT%H:%M:%S') AS prop_end,
       CAST(floor(w * 100) AS BIGINT) AS west_c,
       CAST(floor(s * 100) AS BIGINT) AS south_c,
       CAST(floor(e * 100) AS BIGINT) AS east_c,
       CAST(floor(n * 100) AS BIGINT) AS north_c
FROM agg
ORDER BY id
""",
)
def stac_moving_platform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 + the reference's moving-platform item shape (insitu…/
    recipe.py:91-108): per-platform trajectory → G1 Point/LineString
    wired into item.geometry, vertex times into properties.datetimes,
    and conditional moving-features extension tagging — the full
    two-value extract_geometry contract flowing through build_items.

    The oracle checks the SQL-decidable projection of the item document:
    geometry TYPE, extension tag, endpoint vertex times (Douglas-Peucker
    always keeps endpoints), temporal span, and the floor-scaled bbox.
    DP interior vertices have no SQL equivalent; their containment/
    tolerance properties are covered by tests/test_geometry.py."""
    from recipes_spark.operators.geometry import (
        extract_trajectory,
        trajectories_from_events,
    )

    ev = load(spark, sf_dir, "events")
    traj = trajectories_from_events(ev).withColumn(
        "g", extract_trajectory("lon", "lat", "times", tolerance=0.5)
    )
    meta = traj.select(
        F.concat(F.lit("traj-"), F.col("user_id").cast("string")).alias("item_id"),
        F.lit("insitu-trajectories").alias("collection_id"),
        F.array_min("lon").alias("west"),
        F.array_min("lat").alias("south"),
        F.array_max("lon").alias("east"),
        F.array_max("lat").alias("north"),
        F.to_timestamp(F.element_at("times", 1)).alias("start_datetime"),
        F.to_timestamp(F.element_at("times", -1)).alias("end_datetime"),
        F.concat(
            F.lit("file:///synthetic/trajectories/"),
            F.col("user_id").cast("string"),
            F.lit(".nc"),
        ).alias("source_url"),
        F.col("g.geojson").alias("geom"),
        F.col("g.times").alias("vertex_times"),
    )
    items = build_items(meta, geometry_col="geom", datetimes_col="vertex_times")
    return items.select(
        "id",
        F.get_json_object("geometry", "$.type").alias("geom_type"),
        F.try_element_at("stac_extensions", F.lit(1)).alias("extension"),
        F.try_element_at(F.col("properties.datetimes"), F.lit(1)).alias(
            "first_vertex_time"
        ),
        F.try_element_at(F.col("properties.datetimes"), F.lit(-1)).alias(
            "last_vertex_time"
        ),
        F.col("properties.start_datetime").alias("prop_start"),
        F.col("properties.end_datetime").alias("prop_end"),
        F.floor(F.col("bbox")[0] * 100).alias("west_c"),
        F.floor(F.col("bbox")[1] * 100).alias("south_c"),
        F.floor(F.col("bbox")[2] * 100).alias("east_c"),
        F.floor(F.col("bbox")[3] * 100).alias("north_c"),
    ).orderBy("id")


@query(
    "catalog_vacuum",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT 3 AS version, collection_id,
       CAST(count(*) AS BIGINT) AS n_items,
       min(item_id) AS min_id, max(item_id) AS max_id,
       4 AS files_deleted, 2 AS files_retained, 2 AS manifests_dropped
FROM meta GROUP BY collection_id
ORDER BY collection_id
""",
)
def catalog_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM after a REWRITE commit — the third leg of the
    table-format triad (time travel, schema evolution, retention GC):
    v1 appends the western items (2 files), v2 appends the rest
    (2 files), v3 is a full-table REWRITE (compaction's commit shape —
    its manifest references only its own 2 files), then
    snapshot_vacuum(retain_from=3) physically deletes the 4
    dereferenced v1/v2 files and drops their manifests. The output is
    the post-vacuum v3 read (must still be the complete table — the
    oracle is the full logical content) CARRYING the vacuum counters
    in the hash: files_deleted=4 / files_retained=2 /
    manifests_dropped=2 are exact because each commit repartitions to 2
    part files (coalesce cannot SPLIT the fixture's single-task scan). Reading v1 after vacuum fails loudly by design — the
    intent test plants that.

    100 TB: the referenced-set resolve is a file-count-sized metadata
    collect (same class as every snapshot_read); deletion is
    filesystem work proportional to DEAD files; nothing scans data.
    Without the rewrite commit, vacuum provably deletes zero files —
    append-only manifests reference everything — which is why replace
    commits and GC ship as one feature here."""
    import os

    from recipes_spark.plans.catalog import (
        snapshot_commit,
        snapshot_read,
        snapshot_vacuum,
    )

    store = os.path.join(scratch_dir("vacuum"), "store")
    m = _metadata(spark, sf_dir)
    snapshot_commit(spark, m.filter(F.col("west") < 50).repartition(2), store, 1)
    snapshot_commit(spark, m.filter(F.col("west") >= 50).repartition(2), store, 2)
    snapshot_commit(spark, m.repartition(2), store, 3, replace=True)
    stats = snapshot_vacuum(spark, store, retain_from=3)
    return (
        snapshot_read(spark, store, 3)
        .groupBy("collection_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("item_id").alias("min_id"),
            F.max("item_id").alias("max_id"),
        )
        .select(
            F.lit(3).cast("int").alias("version"),
            "collection_id",
            "n_items",
            "min_id",
            "max_id",
            F.lit(stats["files_deleted"]).cast("int").alias("files_deleted"),
            F.lit(stats["files_retained"]).cast("int").alias("files_retained"),
            F.lit(stats["manifests_dropped"]).cast("int")
            .alias("manifests_dropped"),
        )
        .orderBy("collection_id")
    )


@query(
    "stac_queryables",
    oracle="""
SELECT * FROM (VALUES
  ('bbox',                      'array<double>'),
  ('collection_id',             'string'),
  ('end_datetime',              'timestamp'),
  ('geometry',                  'string'),
  ('id',                        'string'),
  ('properties.collection',     'string'),
  ('properties.end_datetime',   'string'),
  ('properties.start_datetime', 'string'),
  ('start_datetime',            'timestamp')
) AS q(queryable, dtype)
ORDER BY queryable
""",
)
def stac_queryables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC API *queryables* endpoint (stac-fastapi serves
    /collections/{id}/queryables from pgstac's queryables table — the
    machine-readable contract a CQL2 client reads before building a
    filter): the filterable surface DERIVED from the assembled item
    schema itself — top-level scalar/bbox columns plus every
    properties.* subfield — never a hand-maintained list that drifts
    from the data. Containers that aren't filterable (assets, links,
    stac_extensions) are excluded. The hardcoded oracle doubles as a
    schema-regression canary: any accidental change to the assembled
    item shape breaks this row set loudly."""
    items = build_items(_metadata(spark, sf_dir).limit(1))
    rows: list[tuple[str, str]] = []
    for f in items.schema.fields:
        if f.name == "properties":
            for sub in f.dataType.fields:
                rows.append(
                    (f"properties.{sub.name}", sub.dataType.simpleString())
                )
        elif f.name in ("assets", "links", "stac_extensions"):
            continue
        else:
            rows.append((f.name, f.dataType.simpleString()))
    return spark.createDataFrame(
        sorted(rows), "queryable string, dtype string"
    ).orderBy("queryable")


# ---------------------------------------------------------------------------
# Top-level /search convenience params: intersects= (exact GeoJSON
# polygon vs footprint) and ids= (stac-fastapi docker-compose.yml:2-28)


def _seg_rect_sql(x1: float, y1: float, x2: float, y2: float) -> str:
    """DuckDB spelling of plans.catalog._seg_rect for one constant edge
    against the (west, south, east, north) columns — the SAME
    Liang–Barsky slab arithmetic, constant-for-constant (repr floats
    round-trip), so both engines evaluate bit-identical doubles."""
    tlo, thi, conds = ["0.0"], ["1.0"], []
    for d, o, lo, hi in (
        (x2 - x1, x1, "west", "east"),
        (y2 - y1, y1, "south", "north"),
    ):
        if d:
            t0 = f"(({lo} - {o!r}) / {d!r})"
            t1 = f"(({hi} - {o!r}) / {d!r})"
            tlo.append(f"least({t0}, {t1})")
            thi.append(f"greatest({t0}, {t1})")
        else:
            conds.append(f"({lo} <= {o!r} AND {o!r} <= {hi})")
    enter = tlo[0] if len(tlo) == 1 else f"greatest({', '.join(tlo)})"
    exit_ = thi[0] if len(thi) == 1 else f"least({', '.join(thi)})"
    return "(" + " AND ".join([f"({enter} <= {exit_})"] + conds) + ")"


def _poly_rect_sql(geometry) -> str:
    """DuckDB spelling of plans.catalog.polygon_bbox_intersects (minus
    the redundant envelope conjunct — it's implied by any true
    intersection, and exists engine-side only for parquet pushdown)."""
    from recipes_spark.plans.catalog import _geom_rings, _ring_edges

    polys = []
    for rings in _geom_rings(geometry):
        edge_terms = [
            _seg_rect_sql(x1, y1, x2, y2)
            for ring in rings
            for (x1, y1), (x2, y2) in _ring_edges(ring)
        ]
        cross = [
            f"(CASE WHEN (({y1!r} > south) <> ({y2!r} > south))"
            f" AND (west < (south - {y1!r}) * {(x2 - x1) / (y2 - y1)!r}"
            f" + {x1!r}) THEN 1 ELSE 0 END)"
            for ring in rings
            for (x1, y1), (x2, y2) in _ring_edges(ring)
            if y1 != y2
        ]
        inside = f"((({' + '.join(cross)}) % 2) = 1)" if cross else "FALSE"
        polys.append("(" + " OR ".join(edge_terms + [inside]) + ")")
    return "(" + " OR ".join(polys) + ")"


#: A triangle whose envelope is [-120,-60]×[120,60]: items whose boxes
#: sit in the envelope's corners but outside the hypotenuses prove
#: intersects= is doing exact geometry, not a bbox test.
_SEARCH_TRIANGLE = {
    "type": "Polygon",
    "coordinates": [
        [(-120.0, -60.0), (0.0, 60.0), (120.0, -60.0), (-120.0, -60.0)]
    ],
}


@query(
    "stac_search_intersects",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id, west, south, east, north
FROM meta
WHERE {_poly_rect_sql(_SEARCH_TRIANGLE)}
ORDER BY id
LIMIT 400
""",
)
def stac_search_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC /search `intersects=` (top-level GeoJSON geometry param a
    pystac-client sends outside the CQL2 filter — stac-fastapi surface,
    ref docker-compose.yml:2-28): EXACT polygon-vs-footprint
    intersection, compiled entirely at plan-build time to constant
    Liang–Barsky edge clips + an even-odd corner test over the bbox
    corner columns (plans/catalog.polygon_bbox_intersects). The
    polygon's ENVELOPE rides along as a redundant pushdown-friendly
    conjunct, so at 100 TB row groups prune on corner stats first and
    the exact test runs only on survivors. The query triangle's
    envelope corners are deliberately outside the triangle: items
    there match a bbox= search but NOT this one (pinned by the intent
    test), proving intersects ≠ bbox."""
    items = build_items(_metadata(spark, sf_dir))
    found = catalog_search(
        items,
        intersects=_SEARCH_TRIANGLE,
        sortby=[("id", "asc")],
        limit=400,
    )
    return found.select(
        "id",
        "collection_id",
        F.col("bbox")[0].alias("west"),
        F.col("bbox")[1].alias("south"),
        F.col("bbox")[2].alias("east"),
        F.col("bbox")[3].alias("north"),
    )


#: Fixed id list for the ids= search — a mix of present keys (TPC-H
#: orderkeys are sparse: 1,2,3,4,5,6,7,32,...) and absent ones, since
#: /search with unknown ids must simply return fewer items.
_SEARCH_IDS = [
    "item-1", "item-7", "item-32", "item-33", "item-69", "item-100",
    "item-997", "item-4999", "item-32000", "item-no-such",
]


@query(
    "stac_search_ids",
    oracle=f"""
WITH meta AS ({_ORACLE_META})
SELECT item_id AS id, collection_id, start_datetime, end_datetime
FROM meta
WHERE item_id IN ({", ".join(repr(i) for i in _SEARCH_IDS)})
ORDER BY id
""",
)
def stac_search_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC /search `ids=` (top-level convenience param): a bounded
    IN-list on the unique item id, composed through the same
    catalog_search pipeline as every other param (keyset paging and
    fields projection included). At 100 TB this is the most prunable
    predicate the store sees — id IN-lists hit parquet column
    statistics/bloom filters before anything else runs; absent ids
    just match nothing (no existence check round-trip, exactly like
    pgstac)."""
    items = build_items(_metadata(spark, sf_dir))
    found = catalog_search(items, ids=_SEARCH_IDS, sortby=[("id", "asc")])
    return found.select(
        "id", "collection_id", "start_datetime", "end_datetime"
    )


@query(
    "stac_item_hydration",
    oracle=f"""
WITH meta AS ({_ORACLE_META}),
flat AS (
  SELECT item_id AS id, collection_id,
         'application/netcdf' AS media,
         'platform-' || CAST(CAST(substr(item_id, 6) AS BIGINT) % 3
                             AS VARCHAR) AS platform,
         CASE WHEN CAST(substr(item_id, 6) AS BIGINT) % 97 = 0
              THEN NULL ELSE 'CC-BY-4.0' END AS license
  FROM meta
),
bp AS (
  SELECT collection_id, platform AS b FROM (
    SELECT collection_id, platform,
           row_number() OVER (PARTITION BY collection_id
                              ORDER BY count(*) DESC, platform ASC) AS rn
    FROM flat WHERE platform IS NOT NULL
    GROUP BY collection_id, platform
  ) WHERE rn = 1
),
bm AS (
  SELECT collection_id, media AS b FROM (
    SELECT collection_id, media,
           row_number() OVER (PARTITION BY collection_id
                              ORDER BY count(*) DESC, media ASC) AS rn
    FROM flat WHERE media IS NOT NULL
    GROUP BY collection_id, media
  ) WHERE rn = 1
),
bl AS (
  SELECT collection_id, license AS b FROM (
    SELECT collection_id, license,
           row_number() OVER (PARTITION BY collection_id
                              ORDER BY count(*) DESC, license ASC) AS rn
    FROM flat WHERE license IS NOT NULL
    GROUP BY collection_id, license
  ) WHERE rn = 1
)
SELECT f.id, f.collection_id, f.media, f.platform, f.license,
       CAST((CASE WHEN f.media    IS NOT DISTINCT FROM bm.b THEN 1 ELSE 0 END)
          + (CASE WHEN f.platform IS NOT DISTINCT FROM bp.b THEN 1 ELSE 0 END)
          + (CASE WHEN f.license  IS NOT DISTINCT FROM bl.b THEN 1 ELSE 0 END)
          AS BIGINT) AS n_stripped,
       CAST((CASE WHEN f.media    IS NULL AND bm.b IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN f.platform IS NULL AND bp.b IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN f.license  IS NULL AND bl.b IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_sentinel
FROM flat f
LEFT JOIN bp USING (collection_id)
LEFT JOIN bm USING (collection_id)
LEFT JOIN bl USING (collection_id)
""",
)
def stac_item_hydration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pgstac item DEHYDRATE → HYDRATE round-trip (the reference serves
    its API with USE_API_HYDRATE, docker-compose.yml:22: items are
    stored as deltas against a per-collection base item and re-merged
    at read). The engine derives the base (modal value, deterministic
    tiebreak), strips three fields chosen to exercise every merge
    branch — media (constant per collection → always stripped),
    platform (varies → stripped only for the modal third), license
    (NULL for keys divisible by 97 → the DO_NOT_MERGE sentinel, since
    a hydrating reader must NOT inherit the base for an explicitly
    absent field) — then hydrates back. The oracle compares the
    HYDRATED values against the originals computed directly (the
    round-trip identity IS the check) plus per-row stripped/sentinel
    counts replaying the modal-base rule in SQL.

    100 TB: base derivation = one distinct-value-sized count agg + a
    window over that table; dehydrate/hydrate broadcast the
    collections-sized base — item rows never shuffle
    (plans/hydrate.py)."""
    from recipes_spark.plans.hydrate import (
        DO_NOT_MERGE,
        base_items,
        dehydrate_items,
        hydrate_items,
    )

    fields = ["media", "platform", "license"]
    okey = F.expr("CAST(substring(item_id, 6) AS BIGINT)")
    flat = _metadata(spark, sf_dir).select(
        F.col("item_id").alias("id"),
        "collection_id",
        F.lit("application/netcdf").alias("media"),
        F.concat(F.lit("platform-"), (okey % 3).cast("string")).alias(
            "platform"
        ),
        F.when(okey % 97 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("CC-BY-4.0"))
        .alias("license"),
    )
    # base is collections-sized and feeds BOTH dehydrate and hydrate;
    # un-materialized, each consumer re-derived it from its own copy
    # of the flat scan (branch pruning defeats ReuseExchange — the
    # executed plan scanned orders 8× per run, r17 probe). One barrier
    # over a tiny frame cuts that to the flat references themselves.
    base = base_items(flat, fields).localCheckpoint(eager=True)
    deh = dehydrate_items(flat, base, fields)
    n_stripped = sum(
        (F.when(F.col(f).isNull(), 1).otherwise(0) for f in fields),
        start=F.lit(0),
    )
    n_sentinel = sum(
        (F.when(F.col(f) == DO_NOT_MERGE, 1).otherwise(0) for f in fields),
        start=F.lit(0),
    )
    deh = deh.withColumn(
        "n_stripped", n_stripped.cast("long")
    ).withColumn("n_sentinel", n_sentinel.cast("long"))
    return hydrate_items(deh, base, fields).select(
        "id", "collection_id", *fields, "n_stripped", "n_sentinel"
    )
