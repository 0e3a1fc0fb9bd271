"""Seeded input generators for the benchmark workloads.

Everything a workload feeds the engine comes from here and depends only
on the seed: landing granule files, the base catalog, the search request
mix and the TPC-H-ish analytics tables. The same seed gives
byte-identical files and identical request lists; the engine receives
only the generated inputs, never the seed.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import struct
from collections.abc import Iterator
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from recipes_spark.sources.granules import GRANULE_MAGIC

#: The runner derives collection_id = "sst-" + platform, so eight
#: platforms give the eight catalog collections.
PLATFORMS = (
    "METOP_A", "METOP_B", "METOP_C", "NOAA_18",
    "NOAA_19", "NOAA_20", "SNPP", "AQUA",
)
COLLECTIONS = tuple(f"sst-{p}" for p in PLATFORMS)
EPOCH = datetime(2024, 1, 1)
YEAR_S = 365 * 86400


def _granule_meta(rng: random.Random, gid: str, platform: str) -> dict:
    t0 = EPOCH + timedelta(seconds=rng.randrange(YEAR_S))
    west = float(rng.randrange(-170, 170))
    south = float(rng.randrange(-85, 80))
    return {
        "granule_id": gid,
        "platform": platform,
        "start_datetime": t0.isoformat(sep=" "),
        "end_datetime": (t0 + timedelta(minutes=3)).isoformat(sep=" "),
        "west": west,
        "south": south,
        "east": west + 10.0,
        "north": south + 5.0,
    }


def _rspk_bytes(meta: dict, payload: bytes) -> bytes:
    header = json.dumps(meta).encode()
    return GRANULE_MAGIC + len(header).to_bytes(4, "big") + header + payload


def _nc_attr(name: str, value) -> bytes:
    """One NetCDF-classic global attribute: name, type, nelems, values,
    each padded to 4 bytes (NC_CHAR for strings, NC_DOUBLE for floats)."""
    nb = name.encode()
    out = struct.pack(">i", len(nb)) + nb + b"\0" * (-len(nb) % 4)
    if isinstance(value, str):
        vb = value.encode()
        return out + struct.pack(">ii", 2, len(vb)) + vb + b"\0" * (-len(vb) % 4)
    return out + struct.pack(">iid", 6, 1, float(value))


def _netcdf_bytes(meta: dict, payload: bytes) -> bytes:
    """A NetCDF classic (CDF-1) file whose global attributes carry the
    granule metadata under CF/ACDD names; no dimensions, no variables."""
    attrs = {
        "id": meta["granule_id"],
        "platform": meta["platform"],
        "time_coverage_start": meta["start_datetime"],
        "time_coverage_end": meta["end_datetime"],
        "westernmost_longitude": meta["west"],
        "southernmost_latitude": meta["south"],
        "easternmost_longitude": meta["east"],
        "northernmost_latitude": meta["north"],
    }
    body = b"".join(_nc_attr(k, v) for k, v in attrs.items())
    return (
        b"CDF\x01" + struct.pack(">i", 0)
        + struct.pack(">ii", 0, 0)  # dim_list ABSENT
        + struct.pack(">ii", 0x0C, len(attrs)) + body
        + struct.pack(">ii", 0, 0)  # var_list ABSENT
        + payload
    )


def _corrupt_bytes(rng: random.Random, payload: bytes) -> bytes:
    """A file the decoder must quarantine: either a valid magic with a
    garbage header, or a truncated NetCDF header."""
    if rng.random() < 0.5:
        junk = b"{not json" + bytes(rng.randrange(256) for _ in range(16))
        return GRANULE_MAGIC + len(junk).to_bytes(4, "big") + junk + payload
    return b"CDF\x01" + struct.pack(">i", 0) + struct.pack(">ii", 0x0A, 7)


@dataclass
class Batch:
    """One landing directory: the files written and what the catalog
    must hold after it is ingested."""

    path: str
    valid: dict[str, dict] = field(default_factory=dict)  # id -> meta
    corrupt: list[str] = field(default_factory=list)  # file names
    redelivered: list[str] = field(default_factory=list)  # ids updated

    @property
    def files(self) -> int:
        return len(self.valid) + len(self.corrupt)


def landing_batches(
    root: str,
    seed: int,
    *,
    files_per_batch: int,
    redelivered_share: float = 0.2,
    netcdf_share: float = 0.2,
    corrupt_share: float = 0.01,
) -> Iterator[Batch]:
    """Write landing directories under ``root``, one per step of the
    (endless) iteration, so a loop of any length never runs out. From
    the second batch on, ``redelivered_share`` of a batch's files
    redeliver ids that landed in an earlier batch, with changed
    metadata (same platform, new footprint and time). Corrupt files are
    planted at ``corrupt_share``, at least one per batch."""
    rng = random.Random(f"landing-{seed}")
    delivered: dict[str, dict] = {}
    serial = 0
    for b in itertools.count():
        batch = Batch(os.path.join(root, f"b{b:03d}"))
        os.makedirs(batch.path)
        n_corrupt = max(1, round(files_per_batch * corrupt_share))
        n_old = min(len(delivered), round(files_per_batch * redelivered_share))
        plan: list[tuple[str, str | None]] = [
            (gid, delivered[gid]["platform"]) for gid in rng.sample(sorted(delivered), n_old)
        ]
        while len(plan) < files_per_batch - n_corrupt:
            plan.append((f"g{seed}_{serial:07d}", rng.choice(PLATFORMS)))
            serial += 1
        plan += [(f"g{seed}_bad{b:03d}_{i}", None) for i in range(n_corrupt)]
        rng.shuffle(plan)
        for gid, platform in plan:
            payload = rng.randbytes(rng.randrange(1024, 4096))
            if platform is None:
                data = _corrupt_bytes(rng, payload)
                batch.corrupt.append(f"{gid}.nc")
            else:
                meta = _granule_meta(rng, gid, platform)
                writer = _netcdf_bytes if rng.random() < netcdf_share else _rspk_bytes
                data = writer(meta, payload)
                batch.valid[gid] = meta
                if gid in delivered:
                    batch.redelivered.append(gid)
            with open(os.path.join(batch.path, f"{gid}.nc"), "wb") as fh:
                fh.write(data)
        delivered.update(batch.valid)
        yield batch


def base_catalog_meta(spark, n: int, seed: int, *, partitions: int = 8):
    """Metadata rows for an ``n``-item base catalog in the runner's
    column shape, generated JVM-side (a pure function of id and seed):
    ids ``base_00000000`` …, eight collections, footprints and times
    spread over the globe and 2024."""
    s = int(seed)
    return spark.range(n, numPartitions=partitions).selectExpr(
        "format_string('base_%08d', id) AS item_id",
        f"element_at(array({', '.join(repr(c) for c in COLLECTIONS)}),"
        f" CAST(pmod(xxhash64(id, {s}), 8) AS INT) + 1) AS collection_id",
        f"CAST(pmod(xxhash64(id, {s}, 1), 340) - 170 AS DOUBLE) AS west",
        f"CAST(pmod(xxhash64(id, {s}, 2), 165) - 85 AS DOUBLE) AS south",
        "west + 10.0 AS east",
        "south + 5.0 AS north",
        f"timestamp_seconds({int(EPOCH.timestamp())} + pmod(xxhash64(id, {s}, 3), {YEAR_S}))"
        " AS start_datetime",
        "start_datetime + INTERVAL 3 MINUTES AS end_datetime",
        "concat('/archive/', item_id, '.nc') AS source_url",
    )


def _day(d: int) -> str:
    return (EPOCH + timedelta(days=d)).strftime("%Y-%m-%dT%H:%M:%S")


def search_requests(seed: int, n: int, n_items: int) -> list[dict]:
    """The search request mix: ~60% bbox + datetime + sortby + limit,
    ~20% CQL2 text filter, ~10% ids lookup, ~10% 5-page keyset walk
    with a fields projection. Each request carries both the engine
    arguments and the equivalent SQL predicate the checker runs."""
    rng = random.Random(f"search-{seed}")
    out = []
    for i in range(n):
        r = rng.random()
        w = rng.randrange(-180, 150)
        s = rng.randrange(-90, 60)
        bbox = (float(w), float(s), float(w + rng.choice((10, 20, 30))), float(s + rng.choice((10, 20))))
        d0 = rng.randrange(0, 330)
        span = (_day(d0), _day(d0 + rng.choice((3, 7, 14))))
        desc = rng.random() < 0.5
        if r < 0.6:
            out.append({
                "kind": "bbox", "bbox": bbox, "datetime_range": span,
                "sortby": [("start_datetime", "desc" if desc else "asc")],
                "limit": rng.choice((10, 25, 50)),
            })
        elif r < 0.8:
            colls = sorted(rng.sample(COLLECTIONS, 2))
            lo, hi = span
            cql = (
                f"collection_id IN ('{colls[0]}', '{colls[1]}') AND "
                f"start_datetime >= TIMESTAMP('{lo}Z') AND start_datetime < TIMESTAMP('{hi}Z') AND "
                f"S_INTERSECTS(geometry, BBOX({bbox[0]}, {bbox[1]}, {bbox[2]}, {bbox[3]}))"
            )
            out.append({
                "kind": "cql", "cql": cql, "collections": colls, "bbox": bbox,
                "datetime_range": span, "sortby": [("start_datetime", "asc")],
                "limit": 20,
            })
        elif r < 0.9:
            ids = sorted({f"base_{rng.randrange(n_items):08d}" for _ in range(rng.choice((1, 5, 20)))})
            out.append({"kind": "ids", "ids": ids})
        else:
            out.append({
                "kind": "pages", "bbox": bbox, "datetime_range": (_day(d0), _day(d0 + 30)),
                "sortby": [("start_datetime", "asc")], "page_size": 10, "pages": 5,
                "fields": ["start_datetime", "bbox"],
            })
        out[-1]["n"] = i
    return out


# -- analytics tables ----------------------------------------------------

WORDS = ("small", "large", "red", "blue", "old", "new", "hot", "cold")
THINGS = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
VOCAB = (
    "a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data",
    "column", "order", "small", "big", "join", "customer", "query", "stream",
    "group", "filter", "vector", "index",
)
LANGS = ("en", "zh", "de", "fr", "es")


def tpch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the analytics tables (recipes_spark.io.TABLES: the TPC-H-ish
    star schema, events, documents and embeddings) as one parquet file
    each, in the column shapes the engine's queries and oracles expect.
    Row counts follow TPC-H ratios at scale ``sf`` (lineitem ≈ 6M × sf).
    One document in ten is a near-duplicate of another (one word
    changed), so the dedup queries find pairs. Returns row counts per
    table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 200)
    ts_us = pa.timestamp("us")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: datetime, n_days: int, n: int):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{WORDS[a]} {THINGS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        },
    }
    o_date = days(datetime(1995, 1, 1), 2404, n_ord)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(o_date, ts_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(days(datetime(1995, 1, 2), 2498, n_line), ts_us),
    }
    ev_ts = np.sort(
        np.datetime64(datetime(2024, 1, 1), "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }
    n_doc = max(int(50_000 * sf), 500)
    words = [list(rng.choice(VOCAB, rng.integers(20, 80))) for _ in range(n_doc)]
    for i in range(0, n_doc, 10):
        j = int(rng.integers(0, n_doc))
        if j != i:
            words[i] = list(words[j])
            words[i][int(rng.integers(0, len(words[i])))] = str(rng.choice(VOCAB))
    text = [" ".join(w) for w in words]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }
    n_vec = max(int(20_000 * sf), 500)
    vecs = rng.normal(size=(n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
