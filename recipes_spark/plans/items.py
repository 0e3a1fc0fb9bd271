"""STAC item assembly (SURVEY.md §2.2 P10/P11/P13): compose the nested
item document — id, collection_id, bbox, GeoJSON geometry, properties,
assets, links — as ONE Catalyst `select`, the engine's equivalent of the
reference's per-element CreateStacItem(template=..., preprocess=...,
postprocess=...) (avhrr…/recipe.py:128-136, insitu…/recipe.py:162-170).

User hooks (P12/P13) are DataFrame→DataFrame callables applied before /
after assembly — the declarative replacement for the reference's
per-element template functions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

Hook = Callable[[DataFrame], DataFrame]

MEDIA_TYPE_NETCDF = "application/netcdf"

#: P9 (insitu…/recipe.py:103-108): items whose geometry is a moving
#: trajectory (LineString + datetimes) are tagged with the
#: moving-features STAC extension; everything else gets an empty list.
#: The reference ships the schema URI commented out (emitting [] in both
#: branches); the engine emits the published URI in the moving branch so
#: the conditional is observable.
MOVING_FEATURES_EXT = (
    "https://stac-extensions.github.io/moving-features/v1.0.0/schema.json"
)

#: xstac projection metadata (avhrr…/recipe.py:128-136,
#: insitu…/recipe.py:162-170): both reference pipelines pass
#: xstac_kwargs={"reference_system": "epsg:4326", "x_dimension": ...,
#: "y_dimension": ...} into CreateStacItem; xstac renders them as the
#: projection extension's proj:epsg property plus datacube-extension
#: cube:dimensions entries for the named spatial axes.
PROJECTION_EXT = (
    "https://stac-extensions.github.io/projection/v1.1.0/schema.json"
)
DATACUBE_EXT = "https://stac-extensions.github.io/datacube/v2.2.0/schema.json"


def _epsg_code(reference_system: object) -> int:
    """'epsg:4326' | 'EPSG:4326' | 4326 → 4326."""
    s = str(reference_system).lower()
    if s.startswith("epsg:"):
        s = s[len("epsg:"):]
    return int(s)


def _sq(s: object) -> str:
    """SQL single-quoted-literal escape for interpolated VALUES."""
    return str(s).replace("'", "''")


def _bt(c: str) -> str:
    """Backtick-quote a column name for interpolation into SQL."""
    return "`" + str(c).replace("`", "``") + "`"


def geojson_bbox_polygon_sql(w: str, s: str, e: str, n: str) -> str:
    """P4 as a SQL expression string over four corner SQL fragments:
    bbox → GeoJSON Polygon via format_string, mirroring
    shapely.geometry.mapping(shapely.box(*bbox)) (avhrr…/recipe.py:59):
    counter-clockwise ring starting at (E, S), closed. The ONE source
    of the polygon wire format — build_items renders from it."""
    return (
        "format_string('"
        '{"type": "Polygon", "coordinates": [[[%.1f, %.1f], [%.1f, %.1f], '
        "[%.1f, %.1f], [%.1f, %.1f], [%.1f, %.1f]]]}', "
        f"{e}, {s}, {e}, {n}, {w}, {n}, {w}, {s}, {e}, {s})"
    )


def iso_datetime_sql(col_sql: str) -> str:
    """P1 as a SQL expression string: timestamp → ISO-8601
    (avhrr…/recipe.py:26-29)."""
    return f"date_format({col_sql}, 'yyyy-MM-dd''T''HH:mm:ss')"


def build_items(
    metadata: DataFrame,
    *,
    id_col: str = "item_id",
    collection_col: str = "collection_id",
    bbox_cols: tuple[str, str, str, str] = ("west", "south", "east", "north"),
    start_col: str = "start_datetime",
    end_col: str = "end_datetime",
    href_col: str = "source_url",
    geometry_col: str | None = None,
    datetimes_col: str | None = None,
    projection: dict | None = None,
    preprocess: Hook | None = None,
    postprocess: Hook | None = None,
) -> DataFrame:
    """P11: metadata rows → nested STAC item rows (schema per SURVEY
    §1.1). One wide select; every field whole-stage-codegen'd.

    ``geometry_col`` names a pre-computed GeoJSON string column (G1's
    Point/LineString, operators/geometry.extract_trajectory); rows where
    it is null fall back to the bbox Polygon — the reference's
    moving-platform item shape (insitu…/recipe.py:91-103) vs the
    bbox-box shape (avhrr…/recipe.py:59). ``datetimes_col`` names an
    array<string> of ISO vertex times; when given, properties gains a
    ``datetimes`` field (null for stationary rows — the fixed-schema
    rendering of recipe.py:100-101's add-key-only-when-present).
    ``stac_extensions`` is always present: [moving-features] iff the
    geometry is a LineString with datetimes (P9), else [].

    ``projection`` mirrors the reference's xstac_kwargs
    (avhrr…/recipe.py:128-136, insitu…/recipe.py:162-170): a dict with
    ``reference_system`` ('epsg:4326' or 4326) and ``x_dimension`` /
    ``y_dimension`` names. When given, properties gains ``proj:epsg``
    (bigint) and a ``cube:dimensions`` JSON document whose two spatial
    axes carry the configured dimension names with extents from the
    item bbox, and stac_extensions leads with the projection +
    datacube schema URIs. All pure Catalyst (format_string over the
    bbox corners) — no per-item Python."""
    if preprocess is not None:
        metadata = preprocess(metadata)
    # The whole assembly is generated SQL strings fed to ONE selectExpr:
    # the previous Column-chain form ran ~130 py4j round trips per
    # build (every F.col/F.lit/.alias is one), which was a measurable
    # slice of every stac query's wall at bench scale (round-16
    # driver-chatter pass). The parsed trees are identical — plan
    # fingerprints unchanged.
    w, s, e, n = (f"CAST({_bt(c)} AS DOUBLE)" for c in bbox_cols)
    bbox_poly = geojson_bbox_polygon_sql(w, s, e, n)
    geometry = (
        f"coalesce({_bt(geometry_col)}, {bbox_poly})"
        if geometry_col
        else bbox_poly
    )
    empty_ext = "CAST(array() AS ARRAY<STRING>)"
    if geometry_col and datetimes_col:
        extensions = (
            f"CASE WHEN get_json_object({geometry}, '$.type') = 'LineString'"
            f" AND {_bt(datetimes_col)} IS NOT NULL"
            f" AND size({_bt(datetimes_col)}) > 0"
            f" THEN array('{_sq(MOVING_FEATURES_EXT)}')"
            f" ELSE {empty_ext} END"
        )
    else:
        extensions = empty_ext
    prop_fields = [
        f"{iso_datetime_sql(_bt(start_col))} AS start_datetime",
        f"{iso_datetime_sql(_bt(end_col))} AS end_datetime",
        f"{_bt(collection_col)} AS collection",
    ]
    if datetimes_col:
        prop_fields.append(f"{_bt(datetimes_col)} AS datetimes")
    if projection is not None:
        epsg = _epsg_code(projection.get("reference_system", 4326))
        xd = _sq(projection.get("x_dimension", "x"))
        yd = _sq(projection.get("y_dimension", "y"))
        cube = (
            "format_string('"
            '{"%s": {"axis": "x", "type": "spatial", '
            '"extent": [%.1f, %.1f], "reference_system": %d}, '
            '"%s": {"axis": "y", "type": "spatial", '
            '"extent": [%.1f, %.1f], "reference_system": %d}}'
            f"', '{xd}', {w}, {e}, {epsg}, '{yd}', {s}, {n}, {epsg})"
        )
        prop_fields.append(f"CAST({epsg} AS LONG) AS `proj:epsg`")
        prop_fields.append(f"{cube} AS `cube:dimensions`")
        extensions = (
            f"concat(array('{_sq(PROJECTION_EXT)}', '{_sq(DATACUBE_EXT)}'),"
            f" {extensions})"
        )
    struct_props = "struct(" + ", ".join(prop_fields) + ")"
    items = metadata.selectExpr(
        f"{_bt(id_col)} AS id",
        f"{_bt(collection_col)} AS collection_id",
        f"array({w}, {s}, {e}, {n}) AS bbox",
        f"{geometry} AS geometry",
        f"{extensions} AS stac_extensions",
        f"{_bt(start_col)} AS start_datetime",
        f"{_bt(end_col)} AS end_datetime",
        f"{struct_props} AS properties",
        f"map('data', struct({_bt(href_col)} AS href,"
        f" '{_sq(MEDIA_TYPE_NETCDF)}' AS media_type)) AS assets",
        f"array(struct('collection' AS rel, {_bt(collection_col)} AS target))"
        " AS links",
    )
    if postprocess is not None:
        items = postprocess(items)
    return items
