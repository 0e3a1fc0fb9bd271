"""Catalog store + STAC-style search (SURVEY.md §2.1 S12, §3.3).

Store: partitioned Parquet by collection_id (the reference loads pgstac
Postgres, docker-compose.yml:30-44; we keep the CAPABILITY — idempotent
upsert + search — not the wire format).

Upsert (S12, ToPgStac semantics): copy-on-write at FILE granularity. A
semi-join on id over the store's narrow (id, file) scan finds the files
that hold a batch id, in any collection (an item whose collection
changed is found in its old one); only those are read, their rows
without a batch id survive, and batch ∪ survivors is appended as one
new file per touched collection. Both joins take the batch's raw ids,
so the batch's dedup shuffle runs once, in the write, and the
survivors' dedup rides the append's shuffle on collection_id. The hit
files are deleted after the append (add, then delete: `commit_rewrite`,
which compact_catalog and plans/merge.py commit through too): a failure
in between leaves at worst duplicate ids, which a re-run removes, never
a lost row (a reader that lists the store between the two steps sees
those duplicates too).
Apart from the id-column scan, a batch's cost follows the batch, not
the catalog. Each upsert adds files, so compact_catalog is the
maintenance step that bounds their count.

Search (§3.3): pure column arithmetic, zero UDFs, but only collection
equality prunes (partition pruning). The datetime range prunes no row
group (Spark writes INT96, which has no min/max statistics), and
`bbox[i]` filters are not pushed down: only IsNotNull(bbox) reaches
the reader.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Sequence
from urllib.parse import unquote

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession

#: Per-session snapshot-read plan cache — see snapshot_read. Weak by
#: session (a stopped session drops its entries), keyed on the
#: manifest directory's file-listing stats so any manifest rewrite
#: (idempotent latest-version re-commit) invalidates.
_SNAPSHOT_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def bbox_intersects(
    west: Column, south: Column, east: Column, north: Column,
    qw: float, qs: float, qe: float, qn: float,
) -> Column:
    """G3: interval-overlap predicate NOT(disjoint) — pure SQL. It could
    prune row groups only over plain corner columns with statistics; on
    the store's bbox array (`bbox[i]`) nothing is pushed down."""
    return ~(
        (east < F.lit(qw)) | (west > F.lit(qe)) | (north < F.lit(qs)) | (south > F.lit(qn))
    )


def _geom_rings(geometry) -> list[list[list[tuple[float, float]]]]:
    """Normalize a query geometry to a list of POLYGONS, each a list of
    rings (exterior first, then holes), each ring a vertex list.
    Accepts a GeoJSON Polygon/MultiPolygon dict or a bare exterior
    ring (sequence of (lon, lat))."""
    if isinstance(geometry, dict):
        t = geometry.get("type")
        if t == "Polygon":
            return [[[(float(x), float(y)) for x, y in ring]
                     for ring in geometry["coordinates"]]]
        if t == "MultiPolygon":
            return [
                [[(float(x), float(y)) for x, y in ring] for ring in poly]
                for poly in geometry["coordinates"]
            ]
        raise ValueError(f"unsupported intersects geometry type: {t}")
    return [[[(float(x), float(y)) for x, y in geometry]]]


def _ring_edges(ring):
    pts = list(ring)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    return [
        (pts[i], pts[(i + 1) % len(pts)])
        for i in range(len(pts))
        if pts[i] != pts[(i + 1) % len(pts)]
    ]


def _seg_rect(x1, y1, x2, y2, w, s, e, n) -> Column:
    """Closed segment (x1,y1)-(x2,y2) (CONSTANTS) intersects the
    axis-aligned rectangle [w,e]×[s,n] (COLUMNS): Liang–Barsky slab
    clip with the parametric bounds built at compile time — per axis
    the entry/exit parameters are (bound − origin)/delta with a
    CONSTANT divisor, so the runtime predicate is a handful of double
    compares, no division by a column, no UDF."""
    tlo, thi, conds = [F.lit(0.0)], [F.lit(1.0)], []
    for d, o, lo_c, hi_c in ((x2 - x1, x1, w, e), (y2 - y1, y1, s, n)):
        if d:
            t0 = (lo_c - F.lit(o)) / F.lit(d)
            t1 = (hi_c - F.lit(o)) / F.lit(d)
            tlo.append(F.least(t0, t1))
            thi.append(F.greatest(t0, t1))
        else:
            conds.append((lo_c <= F.lit(o)) & (F.lit(o) <= hi_c))
    enter = tlo[0] if len(tlo) == 1 else F.greatest(*tlo)
    exit_ = thi[0] if len(thi) == 1 else F.least(*thi)
    pred = enter <= exit_
    for c in conds:
        pred = pred & c
    return pred


def _point_in_rings(px: Column, py: Column, rings) -> Column:
    """Even-odd ray cast of the COLUMN point (px, py) against constant
    rings: odd crossing count of the +x ray = inside (holes subtract
    naturally). Horizontal edges never satisfy the straddle condition
    and are skipped, so every slope is a finite compile-time
    constant."""
    crossings = None
    for ring in rings:
        for (x1, y1), (x2, y2) in _ring_edges(ring):
            if y1 == y2:
                continue
            slope = (x2 - x1) / (y2 - y1)
            c = F.when(
                ((F.lit(y1) > py) != (F.lit(y2) > py))
                & (px < (py - F.lit(y1)) * F.lit(slope) + F.lit(x1)),
                1,
            ).otherwise(0)
            crossings = c if crossings is None else crossings + c
    if crossings is None:
        return F.lit(False)
    return crossings % 2 == 1


def polygon_bbox_intersects(
    geometry,
    west: Column, south: Column, east: Column, north: Column,
) -> Column:
    """EXACT intersection of a constant query polygon against the
    item's bbox rectangle (the engine's stored footprint, SURVEY §2.9
    G3) — the STAC /search ``intersects`` parameter, strictly stronger
    than ``bbox``: a polygon that differs from its own envelope
    excludes items the envelope test would keep.

    Decomposition (exact for simple polygons, even-odd holes,
    MultiPolygon as union): the regions meet iff some polygon edge
    crosses the rectangle (covers every boundary contact and the
    polygon-inside-rect case, since an inside vertex's edges intersect
    the rect) OR a rectangle corner lies inside the polygon (the
    rect-entirely-inside case, hole-aware via even-odd). Everything is
    compile-time constant except the four corner columns, and the
    polygon's ENVELOPE overlap — implied by any true intersection — is
    AND-ed in first as a cheap redundant conjunct. It prunes no row
    group: comparisons on `bbox[i]` are not pushed to parquet, so the
    exact predicate evaluates on every row of the scanned partitions.
    Antimeridian-crossing
    query polygons are not supported here (split them into a
    MultiPolygon at ±180 first — the cql.py bbox path shows the
    split)."""
    polys = _geom_rings(geometry)
    pred = None
    for rings in polys:
        p = None
        for ring in rings:
            for (x1, y1), (x2, y2) in _ring_edges(ring):
                sr = _seg_rect(x1, y1, x2, y2, west, south, east, north)
                p = sr if p is None else p | sr
        inside = _point_in_rings(west, south, rings)
        p = inside if p is None else p | inside
        pred = p if pred is None else pred | p
    if pred is None:
        return F.lit(False)
    xs = [x for rings in polys for ring in rings for x, _ in ring]
    ys = [y for rings in polys for ring in rings for _, y in ring]
    envelope = bbox_intersects(
        west, south, east, north, min(xs), min(ys), max(xs), max(ys)
    )
    return envelope & pred


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet store at `path`, or None when it holds no row yet:
    the directory is missing, or it holds no data file to infer a
    schema from (every earlier write was empty, as after a batch whose
    files were all quarantined, which leaves only `_SUCCESS`). Any
    other analysis failure (corrupt store, permission, schema) raises,
    so an upsert never skips its dedup against rows it could not
    read."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        no_rows = ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")
        if not any(m in str(e) for m in no_rows):
            raise
        return None


def scanned_files(files: DataFrame) -> list[tuple]:
    """Sorted distinct rows of `files`, whose first column is a scan's
    `_metadata.file_path`. That column is a URI string; decoding it
    gives the Hadoop path string the reader and the FileSystem take."""
    return sorted((unquote(r[0]), *r[1:]) for r in files.distinct().collect())


def _files_holding(store: DataFrame, batch: DataFrame, key: str) -> list[str]:
    """Paths of the store files that hold any batch key, in any
    partition: a key whose partition value changed is found where it
    was. One narrow (key, file) scan of the whole store, as merge_into
    scans for moved keys; column pruning keeps the payload out."""
    hits = (
        store.select(key, F.col("_metadata.file_path").alias("file"))
        .join(batch.select(key), key, "left_semi")
        .select("file")
    )
    return [f for f, in scanned_files(hits)]


def _delete_files(spark: SparkSession, paths: Sequence[str]) -> None:
    """Delete files through the Hadoop FileSystem of each path."""
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        path = spark._jvm.org.apache.hadoop.fs.Path(p)
        path.getFileSystem(conf).delete(path, False)


def commit_rewrite(
    spark: SparkSession, path: str, add: DataFrame, remove: Sequence[str],
    *, partition_col: str,
) -> None:
    """The one way a partitioned store is rewritten: append `add`
    partitioned by `partition_col`, then delete the `remove` files —
    only files the writer's own scan read (`scanned_files`), so a file
    that lands meanwhile is never deleted unread. Nothing is
    overwritten and the session conf is left alone."""
    add.write.mode("append").partitionBy(partition_col).parquet(path)
    _delete_files(spark, remove)


def upsert_items(
    spark: SparkSession, items: DataFrame, catalog_path: str,
    *, key: str = "id", partition_col: str = "collection_id",
) -> None:
    """S12: idempotent upsert by `key` into the store partitioned by
    `partition_col`. Plain INSERT is not enough (SURVEY §4.1): re-runs
    must not duplicate. New rows win over existing rows with the same
    key, in whatever partition the existing row sits (a row that moves
    partition leaves none behind). Only the files holding a batch key
    are read; their other rows (the survivors) are appended with the
    batch as one new file per touched partition, and then the hit files
    are deleted.

    Shuffles: the batch is deduplicated by `key` once, in the write; the
    semi join that finds the hit files and the anti join that drops the
    batch's keys from them take the batch's raw key column. Survivors
    are deduplicated by (`partition_col`, `key`) after the append's
    repartition by `partition_col`, so that dedup adds no shuffle.
    Spark picks broadcast or shuffle joins by size, so a backfill-sized
    batch is not forced into a broadcast."""
    store = read_store(spark, catalog_path)
    hit = [] if store is None else _files_holding(store, items, key)
    out = items.dropDuplicates([key])
    if hit:
        # The store's schema pins the partition column's type, which
        # inference over a subset of directories could change.
        survivors = (
            spark.read.schema(store.schema)
            .option("basePath", catalog_path)
            .parquet(*hit)
            .join(items.select(key), key, "left_anti")
        )
        out = out.unionByName(survivors)
    # A re-run after a failed delete finds a survivor in two files of its
    # partition. Batch keys are unique and disjoint from the survivors',
    # so this dedup only drops those copies.
    commit_rewrite(
        spark, catalog_path,
        out.repartition(partition_col).dropDuplicates([partition_col, key]),
        hit, partition_col=partition_col,
    )


def compact_catalog(
    spark: SparkSession,
    catalog_path: str,
    *,
    target_file_bytes: int = 128 << 20,
    collections: Sequence[str] | None = None,
) -> dict[str, int]:
    """Small-files maintenance for the upsert store (S12 aftermath).

    Every `upsert_items` run adds one new file per touched collection
    and deletes only the files it rewrote; after thousands of
    incremental runs a partition holds thousands of KB-sized files, and
    at 100 TB the scan's task-scheduling overhead dominates the query.
    This op rewrites each collection partition into ceil(bytes/target)
    files of ~target_file_bytes each through `commit_rewrite`, keeping
    one row per id so a re-run after a failed delete converges.

    File placement is deterministic: row → file via
    pmod(xxhash64(id), n_files), so re-running compaction is
    idempotent (same layout), unlike a rand()-based repartition.
    Returns {collection_id: n_files_written}. `collections` limits the
    rewrite to named partitions (incremental maintenance — compact only
    what last night's ingest touched). A store with no row yet (see
    `read_store`) has nothing to compact: {}.
    """
    store = read_store(spark, catalog_path)
    if store is None:
        return {}
    if collections:
        store = store.filter(F.col("collection_id").isin(list(collections)))

    # One (file, collection, size) row per file the rewrite reads, from
    # the hidden _metadata column (no per-file FileSystem RPC): both the
    # plan and the files to delete come from these rows.
    files = scanned_files(store.select(
        F.col("_metadata.file_path"), "collection_id", F.col("_metadata.file_size"),
    ))
    sizes: dict[str, int] = {}
    for _, c, size in files:
        sizes[c] = sizes.get(c, 0) + size
    plan = {c: max(1, -(-b // target_file_bytes)) for c, b in sizes.items()}
    if not plan:
        return {}
    plan_df = F.broadcast(
        spark.createDataFrame(
            [(c, n) for c, n in plan.items()], "collection_id string, __nf int"
        )
    )
    bucketed = (
        store.join(plan_df, "collection_id")
        .withColumn("__bucket", F.pmod(F.xxhash64("id"), F.col("__nf")))
        .repartition("collection_id", "__bucket")
        # Keyed by a superset of the repartition keys: no extra shuffle.
        .dropDuplicates(["collection_id", "__bucket", "id"])
        .drop("__nf", "__bucket")
    )
    commit_rewrite(
        spark, catalog_path, bucketed, [f for f, _, _ in files],
        partition_col="collection_id",
    )
    return plan


def effective_sortby(
    sortby: Sequence[tuple[str, str]] | None,
) -> list[tuple[str, str]]:
    """The TOTAL order a search actually runs under: the caller's
    sortby with an `id asc` tiebreak appended unless id is already a
    sort key. Without the tiebreak, equal-key rows reorder freely
    between runs (Spark's sort is not stable across shuffles), which
    destabilizes limit results and makes keyset paging unsound —
    pgstac's token paging enforces the same id tiebreak."""
    keys = [(c, d.lower()) for c, d in (sortby or [])]
    for c, d in keys:
        if d not in ("asc", "desc"):
            raise ValueError(f"sortby direction must be asc|desc, got {d!r}")
    if not any(c == "id" for c, _ in keys):
        keys.append(("id", "asc"))
    return keys


def page_token(row, sortby: Sequence[tuple[str, str]] | None = None) -> tuple:
    """Keyset token for the NEXT page: the full effective-sortby key
    tuple of `row` (the last row of the current page). Feed it back as
    catalog_search(page_after=token) with the SAME sortby."""
    return tuple(row[c] for c, _ in effective_sortby(sortby))


def _keyset_predicate(
    keys: Sequence[tuple[str, str]], token: Sequence
) -> Column:
    """Tuple-comparison expansion: rows strictly AFTER `token` in the
    lexicographic (keys, directions) order —
    (k1 > v1) OR (k1 = v1 AND k2 > v2) OR …, with > flipped to < for
    desc keys. Pure column arithmetic: the first-key disjunct pushes
    down to parquet min/max stats, so deep pages stay O(page) scans,
    never OFFSET. Sort keys must be non-null (ours are: datetimes and
    id) — a NULL key value would make every comparison unknown."""
    if len(token) != len(keys):
        raise ValueError(
            f"page_after token has {len(token)} values but the effective "
            f"sort key is {[c for c, _ in keys]} — pass the full key tuple "
            "of the last row (see page_token()); a bare id token is only "
            "valid for plain id ordering"
        )
    disjuncts = []
    for i, ((col, direction), val) in enumerate(zip(keys, token)):
        strict = F.col(col) < F.lit(val) if direction == "desc" else F.col(col) > F.lit(val)
        for j in range(i - 1, -1, -1):
            strict = (F.col(keys[j][0]) == F.lit(token[j])) & strict
        disjuncts.append(strict)
    out = disjuncts[0]
    for d in disjuncts[1:]:
        out = out | d
    return out


def encode_page_token(
    row, sortby: Sequence[tuple[str, str]] | None = None
) -> str:
    """OPAQUE wire token for the next page — the pgstac search-token
    equivalent (docker-compose.yml:30-44: stac-fastapi hands clients an
    opaque `token` param, never raw sort values). The effective-sortby
    key tuple of `row` is JSON-serialized (datetimes/dates tagged and
    ISO-encoded so they survive the trip) and URL-safe base64 wrapped;
    clients echo it back verbatim and decode_page_token restores the
    typed tuple for catalog_search(page_after=…)."""
    import base64
    import datetime as _dt
    import json

    def enc(v):
        if isinstance(v, _dt.datetime):
            return {"__ts__": v.isoformat()}
        if isinstance(v, _dt.date):
            return {"__d__": v.isoformat()}
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        raise ValueError(f"unsupported token value type: {type(v).__name__}")

    vals = [enc(v) for v in page_token(row, sortby)]
    return base64.urlsafe_b64encode(
        json.dumps(vals, separators=(",", ":")).encode()
    ).decode()


def decode_page_token(token: str) -> tuple:
    """Inverse of encode_page_token. A tampered/garbage token raises
    ValueError (loudly — a malformed wire token must never silently
    become a wrong page)."""
    import base64
    import datetime as _dt
    import json

    def dec(v):
        if isinstance(v, dict):
            # Tag values MUST be ISO strings: fromisoformat(123) raises
            # TypeError, which would escape the ValueError contract for
            # a wire-crafted token like [{"__ts__": 123}].
            if "__ts__" in v:
                if not isinstance(v["__ts__"], str):
                    raise ValueError(f"bad __ts__ token value: {v!r}")
                return _dt.datetime.fromisoformat(v["__ts__"])
            if "__d__" in v:
                if not isinstance(v["__d__"], str):
                    raise ValueError(f"bad __d__ token value: {v!r}")
                return _dt.date.fromisoformat(v["__d__"])
            raise ValueError(f"unknown token tag: {v!r}")
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        # Nested lists etc. never come from encode_page_token — reject
        # instead of letting them flow into the keyset predicate.
        raise ValueError(f"bad token value type: {type(v).__name__}")

    try:
        vals = json.loads(base64.urlsafe_b64decode(token.encode()))
    except Exception as exc:
        raise ValueError(f"malformed page token: {exc}") from None
    if not isinstance(vals, list):
        raise ValueError("malformed page token: not a key tuple")
    return tuple(dec(v) for v in vals)


def apply_fields(
    items: DataFrame, fields: dict | Sequence[str] | None
) -> DataFrame:
    """STAC API *fields extension* projection (stac-fastapi serves
    include/exclude property subsets over pgstac — the
    docker-compose.yml:2-28 query surface): ``fields`` is either an
    include list or ``{"include": [...], "exclude": [...]}``.

    - ``include`` keeps the named columns plus the minimal-item
      mandatories (id, collection_id) the spec says a server always
      returns. A dotted name like ``properties.collection`` keeps a
      STRUCT SUBSET — the properties struct is rebuilt with only the
      named subfields (column pruning Catalyst can push into the
      scan's ReadSchema, the point of the extension at 100 TB).
    - ``exclude`` drops columns (or struct subfields via dropFields);
      ``id`` is never excludable (the result must stay addressable).

    Pure projection — composes with keyset paging because callers
    (search_pages) extract sort-key cursors BEFORE applying it."""
    if fields is None:
        return items
    if not isinstance(fields, dict):
        fields = {"include": list(fields)}
    include = [str(f) for f in (fields.get("include") or [])]
    exclude = [str(f) for f in (fields.get("exclude") or [])]

    out = items
    if include:
        full_roots: set[str] = set()
        subs: dict[str, list[str]] = {}
        for f in include:
            root, _, sub = f.partition(".")
            if sub:
                subs.setdefault(root, []).append(sub)
            else:
                full_roots.add(root)
        exprs = []
        for c in items.columns:
            if c in ("id", "collection_id") or c in full_roots:
                exprs.append(F.col(c))
            elif c in subs:
                exprs.append(
                    F.struct(
                        *[F.col(c).getField(s).alias(s) for s in subs[c]]
                    ).alias(c)
                )
        out = out.select(*exprs)
    for f in exclude:
        root, _, sub = f.partition(".")
        if root == "id" or root not in out.columns:
            continue
        if sub:
            out = out.withColumn(root, F.col(root).dropFields(sub))
        else:
            out = out.drop(root)
    return out


def search_pages(
    items: DataFrame,
    *,
    page_size: int,
    sortby: Sequence[tuple[str, str]] | None = None,
    max_pages: int = 10_000,
    fields: dict | Sequence[str] | None = None,
    **search,
):
    """Iterate a catalog search page by page (the engine-side loop a
    STAC client's `next` links drive): yields each page's DataFrame
    plan lazily, advancing the keyset token from the page's last row.
    Per step only the page's sort-key columns are collected (bounded by
    page_size — the cursor the client holds anyway); each yielded page
    is one pruned scan + TakeOrderedAndProject. Raises if the token
    fails to advance within max_pages (a bug, not a bigger catalog —
    raise max_pages for genuinely huge walks).

    ``fields`` (STAC fields extension) projects each YIELDED page via
    apply_fields; the keyset cursor is extracted from the un-projected
    page first, so paging works even when the projection drops a
    sort-key column."""
    keys = effective_sortby(sortby)
    token = None
    for _ in range(max_pages):
        page = catalog_search(
            items, sortby=sortby, limit=page_size, page_after=token, **search
        )
        rows = page.select(*[c for c, _ in keys]).collect()
        if not rows:
            return
        yield apply_fields(page, fields)
        if len(rows) < page_size:
            return
        token = tuple(rows[-1][c] for c, _ in keys)
    raise RuntimeError(
        f"search_pages: token failed to advance within {max_pages} pages"
    )


def catalog_search(
    items: DataFrame,
    *,
    collections: Sequence[str] | None = None,
    ids: Sequence[str] | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    intersects=None,
    datetime_range: tuple[str, str] | None = None,
    filter: Column | None = None,
    sortby: Sequence[tuple[str, str]] | None = None,
    limit: int | None = None,
    page_after: str | Sequence | None = None,
    fields: dict | Sequence[str] | None = None,
) -> DataFrame:
    """STAC /search compiled to a DataFrame plan (stac-fastapi → pgstac
    equivalent, docker-compose.yml:2-44). Overlap semantics for the
    datetime interval: item [start,end] intersects query [lo,hi].

    ``fields`` (STAC fields extension, apply_fields) projects the
    RESULT as the final step — after filter/sort/limit, so a limited
    search stays one TakeOrderedAndProject and a projected-away column
    can still be filtered or sorted on.

    `filter` is the CQL2 property-filter slot: any Column predicate
    (callers build it with pyspark.sql.functions, the engine's CQL).
    `ids` and `intersects` are the stac-fastapi top-level convenience
    params (a pystac-client sends them outside the CQL2 filter):
    an id IN-list, and an exact GeoJSON-polygon-vs-footprint test
    (polygon_bbox_intersects — stronger than `bbox` whenever the
    polygon differs from its own envelope).

    Paging is KEYSET (pgstac search tokens), never OFFSET: the order is
    always the caller's sortby with an enforced `id asc` tiebreak
    (total, deterministic — see effective_sortby), and `page_after` is
    the full sortby-key tuple of the previous page's last row
    (page_token()). The filter is the tuple-comparison expansion, so a
    deep page is still one pruned scan + TakeOrderedAndProject — O(page),
    not O(offset), at 100 TB. A bare-string id token is accepted ONLY
    for plain id ordering; combining it with any other sortby raises
    (that combination silently dropped rows before round 7)."""
    # Internal predicates over the FIXED item schema build as SQL
    # strings (one parse round trip each, not a py4j call per operator
    # — the round-16 driver-chatter pass, guide §5); the parsed trees
    # are identical (plan fingerprints unchanged). Caller-supplied
    # Column params (`filter`, `intersects`, sortby keys) stay Columns.
    # Values containing a backslash take the Column path instead: the
    # SQL lexer's backslash-escape handling inside string literals is
    # conf-dependent (spark.sql.parser.escapedStringLiterals), so
    # quote-doubling alone cannot guarantee such a value round-trips.
    def _sqv(s: object) -> str:
        return str(s).replace("'", "''")

    def _plain(*vals: object) -> bool:
        return all("\\" not in str(v) for v in vals)

    out = items
    if collections:
        if _plain(*collections):
            vals = ", ".join(f"'{_sqv(c)}'" for c in collections)
            out = out.filter(f"collection_id IN ({vals})")
        else:
            out = out.filter(F.col("collection_id").isin(list(collections)))
    if ids:
        # Top-level `ids` convenience param (stac-fastapi /search,
        # docker-compose.yml:2-28): a bounded IN-list on the unique
        # key — at 100 TB this is the predicate bloom/row-group stats
        # eat first.
        if _plain(*ids):
            vals = ", ".join(f"'{_sqv(i)}'" for i in ids)
            out = out.filter(f"id IN ({vals})")
        else:
            out = out.filter(F.col("id").isin(list(ids)))
    if intersects is not None:
        # Top-level `intersects` (GeoJSON geometry): EXACT
        # polygon-vs-footprint test behind a cheap envelope conjunct —
        # see polygon_bbox_intersects.
        out = out.filter(
            polygon_bbox_intersects(
                intersects,
                F.col("bbox")[0], F.col("bbox")[1],
                F.col("bbox")[2], F.col("bbox")[3],
            )
        )
    if filter is not None:
        out = out.filter(filter)
    keys = effective_sortby(sortby)
    if page_after is not None:
        token = (page_after,) if isinstance(page_after, str) else tuple(page_after)
        out = out.filter(_keyset_predicate(keys, token))
    if datetime_range:
        lo, hi = datetime_range
        if _plain(lo, hi):
            out = out.filter(
                f"start_datetime <= CAST('{_sqv(hi)}' AS TIMESTAMP)"
                f" AND end_datetime >= CAST('{_sqv(lo)}' AS TIMESTAMP)"
            )
        else:
            out = out.filter(
                (F.col("start_datetime") <= F.lit(hi).cast("timestamp"))
                & (F.col("end_datetime") >= F.lit(lo).cast("timestamp"))
            )
    if bbox:
        # bbox_intersects' NOT(disjoint) test, as one SQL string; the
        # D suffix keeps the literals DOUBLE (bare decimals parse as
        # DECIMAL, a different comparison type). Non-finite bounds
        # (inf/nan) render as 'infD'/'nanD', which the SQL parser
        # rejects — route them through the Column path like the
        # backslash fallback (r16 ADVICE); F.lit accepts them and the
        # comparison semantics are the engine's own.
        import math

        qw, qs, qe, qn = (float(v) for v in bbox)
        if all(math.isfinite(v) for v in (qw, qs, qe, qn)):
            out = out.filter(
                f"NOT (bbox[2] < {qw!r}D OR bbox[0] > {qe!r}D"
                f" OR bbox[3] < {qs!r}D OR bbox[1] > {qn!r}D)"
            )
        else:
            out = out.filter(
                bbox_intersects(
                    F.col("bbox")[0], F.col("bbox")[1],
                    F.col("bbox")[2], F.col("bbox")[3],
                    qw, qs, qe, qn,
                )
            )
    if sortby or page_after is not None or limit:
        out = out.orderBy(
            *[F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in keys]
        )
    if limit:
        out = out.limit(limit)
    return apply_fields(out, fields)


def snapshot_commit(
    spark: SparkSession,
    df: DataFrame,
    store_path: str,
    version: int,
    *,
    replace: bool = False,
    partition_by: tuple[str, ...] = (),
    drop_where: str | None = None,
) -> None:
    """Append-only SNAPSHOT commit — the manifest mechanism behind
    table-format time travel (Delta/Iceberg's capability on plain
    parquet): version N's data files land under ``data/v{N}/``, and
    the version's MANIFEST (``_manifests/v{N}``) lists the complete
    file set visible at N = the previous manifest's files plus the new
    ones. Readers resolve a version through its manifest only, so
    files written by LATER versions are invisible to earlier reads —
    snapshot isolation by construction, no tombstones needed for the
    append-only case.

    Retry semantics are the table formats' optimistic concurrency:
    re-committing the LATEST version is idempotent (overwrite-by-
    version; its manifest re-derives from the unchanged prior manifest
    plus its own fresh file listing), but re-committing a SUPERSEDED
    version is rejected loudly — its overwrite would replace part
    files that later manifests reference by name, silently breaking
    every later snapshot (the failure the intent test plants). The
    new-file listing comes from the scan's _metadata column
    (executor-side), not a driver filesystem walk; the manifest is
    file-count-sized metadata.

    ``replace=True`` makes this a REWRITE commit (the table formats'
    compaction / overwrite snapshot): the new manifest references ONLY
    this version's files — `df` must therefore be the complete table
    content. Prior versions stay readable through their own manifests
    until snapshot_vacuum expires them; this is exactly what makes
    vacuum meaningful, since append-only manifests never release a
    file.

    ``partition_by`` hive-partitions the version's data files on the
    named columns (the per-shard training-release layout). Note that
    snapshot_read scans the manifest's LEAF files directly, so
    partition-directory columns are not re-inferred on read — callers
    that need the key back must also carry it as a regular data
    column (duplicate it under a second name before committing).

    ``drop_where`` (a SQL boolean expression over the manifest's
    ``file`` column) makes this a PARTIAL-REWRITE commit — the table
    formats' DELETE / replaceWhere shape: prior-manifest files
    matching the predicate are EXCLUDED from the new manifest and
    ``df`` must hold the rewritten content of exactly that dropped
    region (e.g. a hive partition's rows minus tombstoned ids).
    Untouched files carry over by reference — zero new bytes — and
    the dropped files stay owned by the PRIOR manifests until
    snapshot_vacuum expires them, so time travel across the delete
    still works. Only meaningful for an append-lineage commit
    (version > 1, replace=False)."""
    if drop_where is not None and (replace or version <= 1):
        raise ValueError(
            "snapshot_commit: drop_where is a partial-REWRITE of a "
            "prior manifest — it requires version > 1 and replace=False"
        )
    next_manifest = os.path.join(store_path, "_manifests", f"v{version + 1}")
    if os.path.isdir(next_manifest):
        raise ValueError(
            f"snapshot version {version} is already superseded by "
            f"v{version + 1} — committing it would invalidate later "
            "manifests (optimistic-concurrency rejection)"
        )
    data_dir = os.path.join(store_path, "data", f"v{version}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.parquet(data_dir)
    # Read back with the KNOWN schema, not inference: an EMPTY df (a
    # realistic ingest edge — an empty micro-batch or delta) writes a
    # footer-less directory that schema inference refuses, while the
    # explicit schema reads it as zero files and the commit degrades
    # to "manifest = prior version's files" (r15 ADVICE).
    new_files = (
        spark.read.schema(df.schema)
        .parquet(data_dir)
        .select(F.col("_metadata.file_path").alias("file"))
        .distinct()
        .withColumn("version", F.lit(version).cast("int"))
    )
    manifest = new_files
    if version > 1 and not replace:
        prior = spark.read.parquet(
            os.path.join(store_path, "_manifests", f"v{version - 1}")
        )
        if drop_where is not None:
            prior = prior.filter(~F.expr(drop_where))
        manifest = prior.unionByName(new_files)
    # One job, not two: the manifest plan reads only the PRIOR
    # version's manifest dir and the just-written data dir's _metadata
    # — never its own output path — so the write executes it directly;
    # the r16 eager localCheckpoint added a materialization job per
    # commit for a file-count-sized frame with no self-read to guard.
    manifest.write.mode("overwrite").parquet(
        os.path.join(store_path, "_manifests", f"v{version}")
    )


def _manifest_files(spark: SparkSession, man_dir: str) -> list[str]:
    """The data files a snapshot manifest lists, in manifest order, as
    Hadoop path strings. A manifest stores each file's
    `_metadata.file_path`, a URI string, so every entry is decoded as
    `scanned_files` decodes a scan's paths."""
    return [unquote(r["file"]) for r in spark.read.parquet(man_dir).collect()]


def snapshot_vacuum(
    spark: SparkSession, store_path: str, *, retain_from: int
) -> dict:
    """VACUUM: physically delete every data file not referenced by any
    manifest of version >= ``retain_from``, and drop the expired
    manifests themselves — the table formats' retention GC, which only
    frees space after a REWRITE commit has dereferenced old files
    (append-only manifests reference everything forever). Returns
    {files_deleted, files_retained, manifests_dropped}.

    The referenced set is the union of the retained manifests (file-
    count-sized metadata, the same bounded collect as snapshot_read);
    deletion walks only the store's own data tree. Time-travel reads
    below ``retain_from`` fail afterward BY DESIGN (the intent test
    plants exactly that) — vacuum is the explicit, loud boundary of
    history, the opposite failure mode from silently keeping 100 TB
    of dead files."""
    man_dir = os.path.join(store_path, "_manifests")
    versions = sorted(
        int(d[1:]) for d in os.listdir(man_dir) if d.startswith("v")
    )
    retained = [v for v in versions if v >= retain_from]
    if not retained:
        raise ValueError(
            f"retain_from={retain_from} keeps no manifest (have {versions})"
        )
    refs = {
        f.removeprefix("file://").removeprefix("file:")
        for v in retained
        for f in _manifest_files(spark, os.path.join(man_dir, f"v{v}"))
    }
    deleted = kept = 0
    data_root = os.path.join(store_path, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".parquet"):
                continue
            if os.path.abspath(path) in refs:
                kept += 1
            else:
                os.remove(path)
                deleted += 1
    dropped = 0
    import shutil

    for v in versions:
        if v < retain_from:
            shutil.rmtree(os.path.join(man_dir, f"v{v}"), ignore_errors=True)
            dropped += 1
    return {
        "files_deleted": deleted,
        "files_retained": kept,
        "manifests_dropped": dropped,
    }


def snapshot_read(
    spark: SparkSession,
    store_path: str,
    version: int,
    *,
    merge_schema: bool = False,
) -> DataFrame:
    """Time-travel read: resolve `version`'s manifest to its file list
    (a bounded, file-count-sized driver collect — the same class as
    every table format's metadata read) and scan exactly those files.
    Later versions' files are never touched, whatever else has been
    written to the store since. ``merge_schema=True`` unions the file
    schemas (additive schema EVOLUTION across snapshot versions:
    columns absent from older files read as NULL) — without it Spark
    takes one file's schema and silently drops columns the sampled
    file lacks, which is the wrong default for an evolved store.

    The resolved manifest (file list) and the analyzed scan plan are
    cached per session, keyed on the manifest directory's own file
    listing (count/bytes/max-mtime — the io.load directory convention,
    r17): manifests are immutable once written except for the
    idempotent latest-version re-commit, which rewrites the manifest
    dir and therefore invalidates. The lifecycle chains re-read the
    same (store, version) snapshot several times per query (digest
    re-verification is their declared semantics); each repeat was a
    full manifest collect job plus a fresh footer-inferred scan plan
    — now only the first call pays it. Plans only, never results:
    every action still scans the data files."""
    man_dir = os.path.join(store_path, "_manifests", f"v{version}")
    from recipes_spark.io import _stat_key

    try:
        key = (man_dir, merge_schema, *_stat_key(man_dir))
        per_session = _SNAPSHOT_CACHE.setdefault(spark, {})
    except OSError:
        key, per_session = None, None
    if per_session is not None and key in per_session:
        return per_session[key]
    files = _manifest_files(spark, man_dir)
    if not files:
        raise ValueError(
            f"snapshot v{version} at {store_path} references no data "
            "files (an empty-table snapshot) — nothing to read"
        )
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*files)
    if per_session is not None:
        per_session[key] = df
    return df
