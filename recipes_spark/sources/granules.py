"""S10/S11: remote-file open + per-file metadata extraction
(SURVEY.md §2.1).

Reference: OpenURLWithFSSpec → OpenWithXarray → per-file STAC metadata
(avhrr…/recipe.py:124-127; only attrs/coords are consumed downstream,
never pixel data — SURVEY §4.1 "metadata-only reads"). Spark-first
shape: `binaryFile` source (path, modificationTime, length, content) →
Arrow-batched mapInPandas that decodes ONLY metadata and emits one flat
row per file.

Decode strategy: try xarray+h5netcdf if importable (real NetCDF); fall
back to the engine's synthetic granule format — a JSON header this
module also writes (stage_granules) — so the operator contract
"files → metadata rows" is exercised end-to-end without NetCDF libs
(SURVEY §7 M2.2: the contract is the operator, not the codec).

Scale notes: binaryFile caps file size at
spark.sql.sources.binaryFile.maxLength (2 GB default); granule files
are listed into tasks by the file index, so 1.5 M granules (the
reference's full AVHRR range) fan out as ordinary scan partitions.
The metadata row is ~1 KB — the 100 TB of pixel payload never enters
the shuffle.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterator, Sequence
from datetime import datetime, timedelta

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

GRANULE_MAGIC = b"RSPKGRAN1\n"

META_SCHEMA = (
    "source string, granule_id string, platform string, "
    "start_datetime timestamp, end_datetime timestamp, "
    "west double, south double, east double, north double, "
    "n_bytes long"
)

_STAGED: dict[tuple[str, int], str] = {}


def granule_meta(i: int, start: str = "2024-01-01 00:00:00") -> dict:
    """Deterministic metadata for synthetic granule i — arithmetic kept
    SQL-expressible so the S11 oracle can recompute it in DuckDB."""
    t0 = datetime.fromisoformat(start) + timedelta(minutes=3 * i)
    west = float((i * 15) % 300 - 150)
    south = float((i * 7) % 140 - 70)
    return {
        "granule_id": f"granule_{i:04d}",
        "platform": "METOP_B",
        "start_datetime": t0.isoformat(sep=" "),
        "end_datetime": (t0 + timedelta(minutes=3)).isoformat(sep=" "),
        "west": west,
        "south": south,
        "east": west + 10.0,
        "north": south + 5.0,
    }


def stage_granules(n: int = 24) -> str:
    """Write n synthetic granule files (JSON header + deterministic
    payload padding) into a memoized temp dir; returns the dir."""
    key = ("default", n)
    if key in _STAGED and os.path.isdir(_STAGED[key]):
        return _STAGED[key]
    root = tempfile.mkdtemp(prefix="recipes_granules_")
    for i in range(n):
        meta = granule_meta(i)
        header = json.dumps(meta).encode()
        payload = bytes((i + j) % 251 for j in range(100 + i))
        with open(os.path.join(root, f"granule_{i:04d}.nc"), "wb") as fh:
            fh.write(GRANULE_MAGIC)
            fh.write(len(header).to_bytes(4, "big"))
            fh.write(header)
            fh.write(payload)
    _STAGED[key] = root
    return root


#: NetCDF classic external types → value byte width (CDF spec §"Data").
_NC_WIDTH = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}
_NC_FMT = {1: "b", 3: "h", 4: "i", 5: "f", 6: "d"}


def _parse_netcdf_classic_attrs(content: bytes) -> dict | None:
    """Global attributes of a NetCDF *classic* file (magic CDF\\x01 or
    CDF\\x02) parsed with pure stdlib struct — no xarray/h5netcdf needed.

    The format is public and simple: big-endian header of
    magic, numrecs, dim_list, gatt_list, var_list; we stop after
    gatt_list because S11 is metadata-only (the reference likewise reads
    only attrs/coords: avhrr…/recipe.py:125-127). NetCDF-4 (HDF5
    container, magic \\x89HDF) falls through to the xarray branch.
    Returns the attr dict, or None if not classic NetCDF."""
    import struct

    if len(content) < 8 or content[:3] != b"CDF" or content[3] not in (1, 2):
        return None
    pos = 8  # skip magic + numrecs

    def read_int() -> int:
        nonlocal pos
        v = struct.unpack_from(">i", content, pos)[0]
        pos += 4
        return v

    def read_name() -> str:
        nonlocal pos
        n = read_int()
        s = content[pos : pos + n].decode("utf-8", "replace")
        pos += (n + 3) & ~3  # names pad to 4-byte boundary
        return s

    try:
        # dim_list: tag(0x0A)+count, or ABSENT — which the spec defines
        # as BOTH ints zero; tag==0 with count!=0 is malformed, and
        # iterating `count` entries anyway would mis-parse garbage into
        # plausible-looking attrs instead of quarantining the file.
        tag, count = read_int(), read_int()
        if tag not in (0, 0x0A) or (tag == 0 and count != 0):
            return None
        for _ in range(count):
            read_name()
            read_int()  # dim length
        # gatt_list: tag(0x0C)+count, or ABSENT (same 0,0 rule)
        tag, count = read_int(), read_int()
        if tag not in (0, 0x0C) or (tag == 0 and count != 0):
            return None
        attrs: dict = {}
        for _ in range(count):
            name = read_name()
            nc_type, nelems = read_int(), read_int()
            width = _NC_WIDTH.get(nc_type)
            if width is None:
                return None
            raw = content[pos : pos + width * nelems]
            pos += (width * nelems + 3) & ~3  # values pad to 4
            if nc_type == 2:  # NC_CHAR → string
                attrs[name] = raw.decode("utf-8", "replace")
            else:
                vals = struct.unpack(f">{nelems}{_NC_FMT[nc_type]}", raw)
                attrs[name] = vals[0] if nelems == 1 else list(vals)
        return attrs
    except (struct.error, IndexError):
        return None


def _attrs_to_meta(attrs: dict, path: str) -> dict:
    """Map CF/ACDD-style global attributes (whatever codec produced
    them) to the engine's meta contract. Raises on malformed values —
    callers decide whether to fall through to another codec."""
    return {
        "granule_id": str(attrs.get("id", os.path.basename(path))),
        "platform": str(attrs.get("platform", "")),
        "start_datetime": str(attrs.get("time_coverage_start", "")),
        "end_datetime": str(attrs.get("time_coverage_end", "")),
        "west": float(attrs.get("westernmost_longitude", "nan")),
        "south": float(attrs.get("southernmost_latitude", "nan")),
        "east": float(attrs.get("easternmost_longitude", "nan")),
        "north": float(attrs.get("northernmost_latitude", "nan")),
    }


def _decode_meta(content: bytes, path: str) -> dict | None:
    """Per-file metadata decode: synthetic format, NetCDF classic
    (stdlib parser), then xarray when the libs are available — a
    classic parse whose ATTRS don't fit the meta contract (e.g.
    array-valued geo attributes) still falls through to xarray, which
    may read the same file through a richer codec. Returns None for
    undecodable files (quarantine path — P3 semantics)."""
    if content.startswith(GRANULE_MAGIC):
        # Corrupt payloads behind a valid magic (truncated header,
        # garbage JSON, JSON of the wrong shape) must QUARANTINE like
        # any other undecodable file — one bad granule on a 100 TB
        # manifest scan must not fail the task through retries.
        try:
            off = len(GRANULE_MAGIC)
            hlen = int.from_bytes(content[off : off + 4], "big")
            meta = json.loads(content[off + 4 : off + 4 + hlen])
            if not isinstance(meta, dict) or not _REQUIRED_META <= set(meta):
                return None
            return meta
        except (ValueError, UnicodeDecodeError, RecursionError):
            # RecursionError: json.loads on pathologically nested
            # payloads ('['*100k behind a valid magic) — still a
            # corrupt-file shape, still quarantine.
            return None
    classic = _parse_netcdf_classic_attrs(content)
    if classic is not None:
        try:
            return _attrs_to_meta(classic, path)
        except (TypeError, ValueError):
            pass  # fall through to the xarray branch
    try:  # real NetCDF-4/HDF5 path — exercised only where the libs exist
        import io

        import xarray as xr

        ds = xr.open_dataset(io.BytesIO(content))
        return _attrs_to_meta(ds.attrs, path)
    except Exception:
        return None


#: Keys every decoded meta dict must carry — _meta_rows dereferences
#: them, so a codec returning a partial dict would crash row assembly.
_REQUIRED_META = {
    "granule_id", "platform", "start_datetime", "end_datetime",
    "west", "south", "east", "north",
}

_META_COLUMNS = [
    "source", "granule_id", "platform", "start_datetime",
    "end_datetime", "west", "south", "east", "north", "n_bytes",
]


def _meta_rows(pairs) -> pd.DataFrame:
    """(path, content-bytes) pairs → the S11 metadata frame. Shared by
    the binaryFile scan and the remote-URL open so both paths decode
    through the identical codec chain."""
    rows = []
    for path, content in pairs:
        # ONE quarantine boundary around decode AND row assembly: a
        # key-complete meta dict can still carry unparseable values
        # (a garbage datetime string, a non-numeric bound) that only
        # fail here — pd.Timestamp / float() raising must skip the
        # file like any other corruption, never fail the task. The
        # explicit float() casts also keep a stringy-but-valid numeric
        # from reaching Arrow as an object column against the double
        # schema.
        try:
            meta = _decode_meta(content, path)
            if meta is None:
                continue
            rows.append(
                {
                    "source": path,
                    "granule_id": str(meta["granule_id"]),
                    "platform": str(meta["platform"]),
                    "start_datetime": pd.Timestamp(meta["start_datetime"]),
                    "end_datetime": pd.Timestamp(meta["end_datetime"]),
                    "west": float(meta["west"]),
                    "south": float(meta["south"]),
                    "east": float(meta["east"]),
                    "north": float(meta["north"]),
                    "n_bytes": len(content),
                }
            )
        except Exception:
            continue  # quarantine any codec/row surprise
    return pd.DataFrame(rows, columns=_META_COLUMNS)


def file_metadata(spark: SparkSession, path_glob: str | Sequence[str]) -> DataFrame:
    """S10+S11: binaryFile scan → one metadata row per decodable file.
    `path_glob` is a glob or a list of paths, as binaryFile `load`
    takes. Undecodable files are dropped (at scale: route to a
    quarantine table instead, SURVEY §1.2)."""
    files = spark.read.format("binaryFile").load(path_glob)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _meta_rows(
                (path, bytes(content))
                for path, content in zip(pdf["path"], pdf["content"])
            )

    return files.select("path", "content").mapInPandas(extract, schema=META_SCHEMA)


def _fetch_url(url: str, open_kwargs: dict | None = None) -> bytes:
    """Executor-side byte fetch for ONE url. http(s):// uses stdlib
    urllib — the dependency-free core of the reference's
    OpenURLWithFSSpec (avhrr…/recipe.py:124) for its actual use case
    (public HTTP granule servers); file:// and bare paths read locally;
    any other protocol dispatches to fsspec when installed.

    ``open_kwargs`` mirrors the reference's runtime-config pass-through
    (avhrr…/recipe.py:124,154 threads open_kwargs=storage_kwargs into
    OpenURLWithFSSpec): for http(s), ``headers`` / ``timeout`` apply to
    the stdlib request (credentialed HTTP works without fsspec); any
    other keys — or any other protocol — hand the dict verbatim to
    ``fsspec.open(url, 'rb', **open_kwargs)``, exactly where the
    reference sends it."""
    kw = dict(open_kwargs or {})
    proto, sep, rest = url.partition("://")
    if not sep:
        with open(url, "rb") as fh:
            return fh.read()
    if proto == "file":
        with open(rest, "rb") as fh:
            return fh.read()
    if proto in ("http", "https") and set(kw) <= {"headers", "timeout"}:
        from urllib.request import Request, urlopen

        req = Request(url, headers=kw.get("headers") or {})
        with urlopen(req, timeout=kw.get("timeout", 60)) as resp:
            return resp.read()
    try:
        import fsspec
    except ImportError as exc:  # pragma: no cover - fsspec not in container
        raise ImportError(
            f"opening {proto}:// URLs requires fsspec (pip install fsspec)"
        ) from exc
    with fsspec.open(url, "rb", **kw) as fh:
        return fh.read()


def url_metadata(
    urls: DataFrame,
    *,
    url_col: str = "url",
    n_partitions: int | None = None,
    open_kwargs: dict | None = None,
) -> DataFrame:
    """S10+S11 over a URL manifest (the S1–S7 output shape) instead of
    a filesystem glob: fetch each url's bytes executor-side and decode
    through the same codec chain as file_metadata.

    Scale: the manifest is metadata-sized rows; repartitioning it
    spreads the network-bound fetches across the cluster (the reference
    fans the same work out as Beam DoFn bundles). Granule payloads
    exist only inside their task — one metadata row (~1 KB) per file
    survives, so 100 TB of granule bytes never enter a shuffle.

    ``open_kwargs`` (per-filesystem auth/options, the reference's
    OpenURLWithFSSpec(open_kwargs=...) pass-through) is a small plain
    dict captured by the task closure — serialized once per task, never
    per row."""
    if n_partitions:
        urls = urls.repartition(n_partitions)

    def fetch_or_skip(u: str) -> bytes | None:
        # Unreachable/missing granules quarantine (dropped row) like
        # undecodable ones — a single 404 on a 100 TB manifest scan must
        # not fail the job through task retries. OSError covers URLError/
        # HTTPError/timeouts and local file errors; a missing fsspec
        # (ImportError) is a configuration error and still raises.
        try:
            return _fetch_url(u, open_kwargs)
        except OSError:
            return None

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _meta_rows(
                (u, content)
                for u in pdf[url_col]
                if (content := fetch_or_skip(u)) is not None
            )

    return urls.select(F.col(url_col)).mapInPandas(extract, schema=META_SCHEMA)
