"""The catalog read path: the seeded STAC request mix sent through
``plans.catalog.catalog_search`` / ``search_pages`` and ``plans.cql``,
and the check of every result against DuckDB running the same
predicate, sort and limit over the catalog parquet.

The ingest workload's traced run sends the mix over the catalog it has
just ingested and compacted, one request at a time, so the read side of
``plans.catalog`` and ``plans.cql`` get per-layer numbers too.
"""

from __future__ import annotations

from perfbench.common import median


def run_requests(spark, catalog: str, requests: list[dict], tracer) -> list[tuple[dict, list]]:
    """Open the catalog once (as a long-running server would) and run
    each request; returns (request, result rows) pairs."""
    items = spark.read.parquet(catalog)
    return [(req, execute(items, req, tracer)) for req in requests]


def execute(items, req: dict, tracer) -> list:
    """Run one request; returns the result rows (for a page walk, the
    rows of all pages in order)."""
    from recipes_spark.plans.catalog import catalog_search, search_pages
    from recipes_spark.plans.cql import compile_cql

    kind = req["kind"]
    if kind == "pages":
        rows = []
        pages = search_pages(
            items, page_size=req["page_size"], sortby=req["sortby"],
            fields=req["fields"], bbox=req["bbox"],
            datetime_range=req["datetime_range"],
        )
        for _ in range(req["pages"]):
            with tracer.span("plans.catalog.page"):
                page = next(pages, None)
                got = page.collect() if page is not None else []
            rows += got
            if len(got) < req["page_size"]:
                break
        return rows
    kwargs = {"sortby": req.get("sortby"), "limit": req.get("limit")}
    if kind == "bbox":
        kwargs.update(bbox=req["bbox"], datetime_range=req["datetime_range"])
    elif kind == "ids":
        kwargs.update(ids=req["ids"])
    else:
        with tracer.span("plans.cql.compile"):
            kwargs.update(filter=compile_cql(req["cql"]))
    with tracer.span("plans.catalog.search_build"):
        df = catalog_search(items, **kwargs)
    with tracer.span("plans.catalog.search_exec") as sp:
        rows = df.collect()
    sp.hits = len(rows)
    return rows


def check(catalog: str, results: list[tuple[dict, list]]) -> list[str]:
    """One problem string per request whose result differs from DuckDB's."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE VIEW items AS SELECT * FROM read_parquet("
        f"'{catalog}/*/*.parquet', hive_partitioning=true)"
    )
    problems = []
    for req, rows in results:
        want = [r[0] for r in con.sql(oracle_sql(req)).fetchall()]
        got = [r["id"] for r in rows]
        if req["kind"] == "ids":
            want, got = sorted(want), sorted(got)
        if got != want:
            problems.append(
                f"search #{req['n']} ({req['kind']}): {len(got)} ids differ from "
                f"the oracle's {len(want)}"
            )
        elif req["kind"] == "pages" and rows and set(rows[0].asDict()) != {
            "id", "collection_id", *req["fields"]
        }:
            problems.append(f"search #{req['n']}: fields projection gave {sorted(rows[0].asDict())}")
    return problems


def layers(tracer) -> dict[str, tuple[float, str]]:
    execs = tracer.spans.get("plans.catalog.search_exec", [])
    files = [tracer.node_metrics(sp, "Scan parquet")["files"] for sp in execs]
    return {
        "plans.catalog.search_build_ms": (1000 * median(tracer.walls("plans.catalog.search_build")), "ms"),
        "plans.catalog.search_exec_ms": (1000 * median(tracer.walls("plans.catalog.search_exec")), "ms"),
        "plans.catalog.search_files_read": (median(files), "count"),
        "plans.catalog.search_bytes_read": (median([sp.counters["input_bytes"] for sp in execs]), "bytes"),
        "plans.catalog.search_rows_scanned_per_hit": (
            sum(sp.counters.get("input_records.Scan parquet", 0) for sp in execs)
            / max(sum(sp.hits for sp in execs), 1), "ratio"),
        "plans.catalog.page_ms": (1000 * median(tracer.walls("plans.catalog.page")), "ms"),
        "plans.cql.compile_ms": (1000 * median(tracer.walls("plans.cql.compile")), "ms"),
    }


def _overlap(bbox) -> str:
    w, s, e, n = bbox
    return f"NOT (bbox[3] < {w} OR bbox[1] > {e} OR bbox[4] < {s} OR bbox[2] > {n})"


def oracle_sql(req: dict) -> str:
    """The DuckDB query that must return the same ids as the request."""
    kind = req["kind"]
    if kind == "ids":
        vals = ", ".join(f"'{i}'" for i in req["ids"])
        return f"SELECT id FROM items WHERE id IN ({vals})"
    (col, direction), = req["sortby"]
    order = f"ORDER BY {col} {direction.upper()}, id ASC"
    if kind == "cql":
        # The parameters the request's CQL2 text was rendered from.
        colls = ", ".join(f"'{c}'" for c in req["collections"])
        lo, hi = req["datetime_range"]
        where = (
            f"collection_id IN ({colls}) AND start_datetime >= TIMESTAMP '{lo}'"
            f" AND start_datetime < TIMESTAMP '{hi}' AND {_overlap(req['bbox'])}"
        )
        return f"SELECT id FROM items WHERE {where} {order} LIMIT {req['limit']}"
    lo, hi = req["datetime_range"]
    where = (
        f"start_datetime <= TIMESTAMP '{hi}' AND end_datetime >= TIMESTAMP '{lo}'"
        f" AND {_overlap(req['bbox'])}"
    )
    limit = req["limit"] if kind == "bbox" else req["page_size"] * req["pages"]
    return f"SELECT id FROM items WHERE {where} {order} LIMIT {limit}"

