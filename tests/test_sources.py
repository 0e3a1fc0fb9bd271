"""S5/S6 listing, S9 YAML reader, S10/S11 granule metadata extraction
(SURVEY.md §5.2 items 1 and 3)."""

from __future__ import annotations

import functools
import glob
import os

from recipes_spark.session import scratch_dir
from recipes_spark.sources.granules import (
    file_metadata,
    granule_meta,
    stage_granules,
)
from recipes_spark.sources import listing
from recipes_spark.sources.listing import (
    cached_glob,
    glob_listing,
    read_collections_yaml,
)


def test_glob_listing_sorted_per_pattern(spark, sf_dir):
    df = glob_listing(spark, [f"{sf_dir}/*.parquet"])
    urls = [r.url for r in df.collect()]
    assert urls == sorted(urls)
    assert any(u.endswith("lineitem.parquet") for u in urls)


def test_glob_listing_file_protocol(spark, sf_dir):
    """file:// patterns dispatch through the protocol path and return
    file:// URLs — same rows as the bare-path listing, prefixed."""
    bare = [r.url for r in glob_listing(spark, [f"{sf_dir}/*.parquet"]).collect()]
    proto = [
        r.url
        for r in glob_listing(spark, [f"file://{sf_dir}/*.parquet"]).collect()
    ]
    assert proto == [f"file://{u}" for u in bare]


def test_glob_listing_remote_requires_fsspec(spark):
    """Remote protocols need fsspec; without it the listing fails with a
    clear ImportError naming the dependency, not an opaque task error."""
    import pytest

    try:
        import fsspec  # noqa: F401

        pytest.skip("fsspec installed — covered by the parity test below")
    except ImportError:
        pass

    df = glob_listing(spark, ["memory://bucket/*.nc"])
    with pytest.raises(Exception, match="fsspec"):
        df.collect()


def test_glob_listing_fsspec_parity(spark):
    """Reference parity for fs.glob over a remote filesystem
    (insitu…/recipe.py:40): list a non-local fsspec filesystem through
    the same executor-side path. Skip-marked in this container (no
    fsspec); runs wherever fsspec is installed — memory:// needs no
    network, http:// works the same way via fsspec[http]."""
    import pytest

    fsspec = pytest.importorskip("fsspec")
    fs = fsspec.filesystem("memory")
    for name in ("b.nc", "a.nc", "c.txt"):
        with fs.open(f"/bucket/{name}", "wb") as fh:
            fh.write(b"x")
    urls = [
        r.url for r in glob_listing(spark, ["memory://bucket/*.nc"]).collect()
    ]
    # Don't hardcode the path form: fsspec filesystems differ in how
    # _strip_protocol roots paths (MemoryFileSystem returns '/bucket/…',
    # so the re-prefixed url is 'memory:///bucket/…'). Assert the
    # parity-relevant properties: pattern filtering, sort order, and
    # protocol prefixing.
    assert len(urls) == 2
    assert all(u.startswith("memory://") for u in urls)
    assert [u.rsplit("/", 1)[1] for u in urls] == ["a.nc", "b.nc"]


def test_cached_glob_materializes_and_hits(spark, sf_dir):
    cache_root = scratch_dir("test_cache")
    pattern = f"{sf_dir}/*.parquet"
    first = cached_glob(spark, pattern, cache_root=cache_root)
    n = first.count()
    manifests = os.listdir(cache_root)
    assert len(manifests) == 1 and manifests[0].endswith(".parquet")
    # Hit path returns identical rows even if the dir changed since.
    hit = cached_glob(spark, pattern, cache_root=cache_root)
    assert hit.count() == n
    assert [r.url for r in hit.collect()] == [r.url for r in first.collect()]
    # cache=False bypasses the manifest.
    live = cached_glob(spark, pattern, cache_root=cache_root, cache=False)
    assert live.count() == n


def test_glob_listing_globs_each_pattern_once_per_action(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The globs run in the Python workers, so a wrapper that appends
    one line per call to a file counts them. A collect over two patterns
    globs each pattern once and returns rows sorted by (pattern, url);
    the cached listing's miss globs once and its hit never."""
    log = str(tmp_path / "globs.log")
    real = listing._fs_glob

    def logged(pattern, storage_kwargs=None):
        with open(log, "a") as fh:
            fh.write(pattern + "\n")
        return real(pattern, storage_kwargs)

    def calls() -> list[str]:
        if not os.path.exists(log):
            return []
        with open(log) as fh:
            out = fh.read().split()
        os.remove(log)
        return sorted(out)

    monkeypatch.setattr(listing, "_fs_glob", logged)
    patterns = [f"{sf_dir}/*.parquet", f"{sf_dir}/l*.parquet"]
    rows = [(r.pattern, r.url) for r in glob_listing(spark, patterns).collect()]
    assert calls() == sorted(patterns)
    assert rows == sorted(rows)
    assert {p for p, _ in rows} == set(patterns)

    cache_root = str(tmp_path / "cache")
    miss = cached_glob(spark, patterns[0], cache_root=cache_root)
    assert calls() == [patterns[0]]
    hit = cached_glob(spark, patterns[0], cache_root=cache_root)
    assert [r.url for r in hit.collect()] == [r.url for r in miss.collect()]
    assert calls() == []


_COLLECTIONS_YAML = "recipes_spark/resources/collections.yaml"


def test_read_collections_yaml_is_a_local_scan(spark):
    """The parsed YAML reaches the JVM as a local relation: no RDD
    scan, so no Python task runs to yield its rows."""
    df = read_collections_yaml(spark, _COLLECTIONS_YAML)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_read_collections_yaml_empty_keeps_schema(spark, tmp_path):
    path = tmp_path / "empty.yaml"
    path.write_text("---\n")
    df = read_collections_yaml(spark, str(path))
    assert df.collect() == []
    assert df.schema == read_collections_yaml(spark, _COLLECTIONS_YAML).schema


def test_manifest_keys_ignore_ineffective_blacklist(spark):
    """Keys shift only for blacklist stamps that actually REMOVED a grid
    row: off-grid, out-of-range, and duplicate entries are no-ops for
    the anti-join and must be no-ops for the arithmetic key too
    (FilePattern.items() list-position parity)."""
    from recipes_spark.sources.timegrid import manifest

    def keys(blacklist):
        m = manifest(
            spark, "2024-01-01 00:00:00", "2024-01-01 00:12:00",
            root="http://x", blacklist=blacklist,
        )
        return [r.key for r in m.orderBy("ts").collect()]

    # Off-grid + out-of-range entries remove nothing: keys stay 0..4.
    assert keys(["2024-01-01 00:01:00", "2023-12-31 23:57:00"]) == [0, 1, 2, 3, 4]
    # A duplicated on-grid entry counts once, not twice.
    assert keys(["2024-01-01 00:03:00", "2024-01-01 00:03:00"]) == [0, 1, 2, 3]
    # Baseline: one effective on-grid drop.
    assert keys(["2024-01-01 00:03:00"]) == [0, 1, 2, 3]


def test_granule_roundtrip(spark):
    root = stage_granules(8)
    meta = file_metadata(spark, os.path.join(root, "*.nc"))
    rows = {r.granule_id: r for r in meta.collect()}
    assert len(rows) == 8
    expect = granule_meta(3)
    got = rows["granule_0003"]
    assert got.platform == "METOP_B"
    assert got.west == expect["west"] and got.north == expect["north"]
    assert got.n_bytes > 100  # header + payload
    assert got.end_datetime > got.start_datetime


def test_decode_of_a_large_batch_starts_no_listing_job(spark):
    """Building the decode of a 40-file glob, or of the same 40 files as
    a path list, lists them on the driver: no Spark job starts."""
    root = stage_granules(40)
    pattern = os.path.join(root, "*.nc")
    sc = spark.sparkContext
    for i, source in enumerate((pattern, sorted(glob.glob(pattern)))):
        group = f"test-decode-listing-{i}"
        sc.setJobGroup(group, group)
        try:
            decoded = file_metadata(spark, source)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(decoded.inputFiles()) == 40
        assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_undecodable_files_dropped(spark):
    root = scratch_dir("test_badfiles")
    with open(os.path.join(root, "junk.nc"), "wb") as fh:
        fh.write(b"this is not a granule")
    meta = file_metadata(spark, os.path.join(root, "*.nc"))
    assert meta.count() == 0


def test_timestamp_flavors_load_identically(spark):
    """io.load must canonicalize every parquet timestamp flavor — NTZ
    (isAdjustedToUTC=false), LTZ/UTC micros, and TIMESTAMP(NANOS) — to
    the same TimestampType values. The driver's testdata generator has
    switched encodings between rounds (nanos → NTZ at round 2→3);
    load() is the single choke point that keeps every downstream
    operator (withWatermark, unix_micros, double casts) working
    regardless of which flavor the next regeneration picks."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from recipes_spark.io import load

    naive = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, 250_000),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 999_999),
    ]
    root = scratch_dir("test_tsflavors")
    flavors = {
        "ntz": pa.timestamp("us"),          # isAdjustedToUTC=false
        "ltz": pa.timestamp("us", "UTC"),   # isAdjustedToUTC=true
        "nanos": pa.timestamp("ns"),        # legacy NANOS encoding
    }
    results = {}
    for name, typ in flavors.items():
        d = os.path.join(root, name)
        os.makedirs(d)
        tbl = pa.table({"event_id": [1, 2], "ts": pa.array(naive, type=typ)})
        pq.write_table(tbl, os.path.join(d, "events.parquet"))
        df = load(spark, d, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp", name
        results[name] = {
            r.event_id: r.ts for r in df.orderBy("event_id").collect()
        }
        # withWatermark is the strictest consumer — must not raise.
        df.withWatermark("ts", "1 hour")
    assert results["ntz"] == results["ltz"] == results["nanos"]
    assert results["ntz"][1] == naive[0]


def _cdf1_bytes(attrs: dict) -> bytes:
    """Minimal NetCDF classic (CDF-1) writer: header with global attrs
    only (ABSENT dims/vars) — enough to exercise the stdlib parser the
    way a real OSISAF granule header would."""
    import struct

    def name(s: str) -> bytes:
        b = s.encode()
        return struct.pack(">i", len(b)) + b + b"\x00" * (-len(b) % 4)

    out = b"CDF\x01" + struct.pack(">i", 0)      # magic + numrecs
    out += struct.pack(">ii", 0, 0)               # ABSENT dim_list
    out += struct.pack(">ii", 0x0C, len(attrs))   # NC_ATTRIBUTE gatt_list
    for k, v in attrs.items():
        out += name(k)
        if isinstance(v, str):
            b = v.encode()
            out += struct.pack(">ii", 2, len(b)) + b + b"\x00" * (-len(b) % 4)
        else:
            out += struct.pack(">ii", 6, 1) + struct.pack(">d", float(v))
    out += struct.pack(">ii", 0, 0)               # ABSENT var_list
    return out


def test_netcdf_classic_metadata_decode(spark):
    """S11 real-codec branch: a hand-written CDF-1 file with the
    reference's OSISAF-style global attributes decodes through the pure
    stdlib NetCDF classic parser (no xarray in this container)."""
    root = scratch_dir("test_cdf1")
    with open(os.path.join(root, "osisaf_20240101.nc"), "wb") as fh:
        fh.write(
            _cdf1_bytes(
                {
                    "id": "osisaf_granule_0001",
                    "platform": "METOP_B",
                    "time_coverage_start": "2024-01-01 00:00:00",
                    "time_coverage_end": "2024-01-01 00:03:00",
                    "westernmost_longitude": -150.0,
                    "southernmost_latitude": -70.0,
                    "easternmost_longitude": -140.0,
                    "northernmost_latitude": -65.0,
                }
            )
        )
    rows = file_metadata(spark, os.path.join(root, "*.nc")).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.granule_id == "osisaf_granule_0001"
    assert r.platform == "METOP_B"
    assert r.west == -150.0 and r.north == -65.0
    assert str(r.start_datetime) == "2024-01-01 00:00:00"


def test_url_metadata_over_local_http(spark):
    """S10 remote open, for real: serve staged granules (+ one CDF-1
    NetCDF) over a local http.server, fetch them executor-side from a
    URL manifest via stdlib urllib, and decode through the same codec
    chain as the filesystem path — the reference's open-HTTP-NetCDF
    shape (avhrr recipe) with zero extra dependencies."""
    import http.server
    import socketserver
    import threading

    from recipes_spark.sources.granules import url_metadata

    import shutil

    # Copy the staged granules into a fresh dir: stage_granules memoizes
    # per (key, n), so adding a file to its dir would leak into any other
    # test that staged the same count.
    root = scratch_dir("test_http")
    for name in os.listdir(stage_granules(6)):
        shutil.copy(os.path.join(stage_granules(6), name), root)
    with open(os.path.join(root, "osisaf_cdf1.nc"), "wb") as fh:
        fh.write(
            _cdf1_bytes(
                {
                    "id": "http_cdf1_granule",
                    "platform": "METOP_B",
                    "time_coverage_start": "2024-02-01 00:00:00",
                    "time_coverage_end": "2024-02-01 00:03:00",
                    "westernmost_longitude": 10.0,
                    "southernmost_latitude": -5.0,
                    "easternmost_longitude": 20.0,
                    "northernmost_latitude": 0.0,
                }
            )
        )

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=root
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            names = sorted(os.listdir(root))
            manifest = spark.createDataFrame(
                [(f"http://127.0.0.1:{port}/{n}",) for n in names],
                "url string",
            )
            rows = {
                r.granule_id: r
                for r in url_metadata(manifest, n_partitions=4).collect()
            }
        finally:
            httpd.shutdown()
    assert len(rows) == 7
    assert rows["http_cdf1_granule"].west == 10.0
    assert rows["granule_0003"].platform == "METOP_B"
    assert rows["granule_0003"].source.startswith("http://127.0.0.1:")


def test_netcdf_classic_rejects_absent_tag_with_count():
    """A malformed header claiming ABSENT (tag=0) dim/gatt lists with a
    NONZERO count must be rejected (return None → quarantine path), not
    iterated into garbage attrs that happen to look plausible."""
    import struct

    from recipes_spark.sources.granules import _parse_netcdf_classic_attrs

    good = _cdf1_bytes({"id": "g1"})
    assert _parse_netcdf_classic_attrs(good) == {"id": "g1"}
    # corrupt the dim_list header: ABSENT tag but count=3
    bad_dim = good[:8] + struct.pack(">ii", 0, 3) + good[16:]
    assert _parse_netcdf_classic_attrs(bad_dim) is None
    # corrupt the gatt_list header the same way
    bad_gatt = good[:16] + struct.pack(">ii", 0, 2) + good[24:]
    assert _parse_netcdf_classic_attrs(bad_gatt) is None


def test_netcdf_xarray_roundtrip_decode(spark):
    """xarray-written NetCDF decodes through file_metadata. The libs
    aren't in this container — recorded as a skip so the gap is visible
    rather than silent (VERDICT r2 'What's missing' item 3). Where they
    DO exist the test is real and contract-level: whatever engine
    xarray picks (scipy → classic, handled by the stdlib parser;
    h5netcdf → HDF5, handled by the xarray branch), the written granule
    must yield one correct metadata row."""
    import io

    import pytest

    xr = pytest.importorskip(
        "xarray", reason="xarray/h5netcdf not installed in this container"
    )
    root = scratch_dir("test_nc4")
    path = os.path.join(root, "granule.nc")
    ds = xr.Dataset(
        attrs={
            "id": "nc4_granule_0001",
            "platform": "METOP_B",
            "time_coverage_start": "2024-01-01 00:00:00",
            "time_coverage_end": "2024-01-01 00:03:00",
            "westernmost_longitude": -150.0,
            "southernmost_latitude": -70.0,
            "easternmost_longitude": -140.0,
            "northernmost_latitude": -65.0,
        }
    )
    try:
        ds.to_netcdf(path)
    except Exception as ex:  # xarray present but no writer engine
        pytest.skip(f"no netcdf writer engine: {ex}")
    with open(path, "rb") as fh:
        content = fh.read()
    if not (content[:3] == b"CDF" and content[3] in (1, 2)):
        # HDF5 container: the decode branch needs a BytesIO-capable
        # engine (h5netcdf/scipy) — netCDF4-python can't open file-likes.
        try:
            xr.open_dataset(io.BytesIO(content))
        except Exception as ex:
            pytest.skip(f"no BytesIO-capable netcdf engine: {ex}")
    rows = file_metadata(spark, os.path.join(root, "*.nc")).collect()
    assert len(rows) == 1
    assert rows[0].granule_id == "nc4_granule_0001"
    assert rows[0].west == -150.0


def test_fs_glob_fsspec_dispatch_with_double(monkeypatch):
    """The fsspec dispatch branch of _fs_glob, exercised against a
    minimal in-process fsspec double (the container has no fsspec, so
    the real-library parity test above skip-gates; this pins OUR side
    of the contract — proto parsing, fs.glob call, sorting, and url
    re-prefixing for filesystems that strip the protocol — against the
    documented fsspec API shape the reference relies on
    (insitu…/recipe.py:40 fs.glob)."""
    import sys
    import types

    from recipes_spark.sources import listing

    calls = {}

    class _RootlessFS:
        # MemoryFileSystem-style: glob returns protocol-stripped paths.
        def glob(self, pattern):
            calls["pattern"] = pattern
            return ["/bucket/b.nc", "/bucket/a.nc"]

    class _FullUrlFS:
        # Some filesystems return fully-qualified URLs — must pass
        # through un-double-prefixed.
        def glob(self, pattern):
            return ["s3://bucket/z.nc", "s3://bucket/y.nc"]

    fake = types.ModuleType("fsspec")
    fake.filesystem = lambda proto: (
        _RootlessFS() if proto == "memory" else _FullUrlFS()
    )
    monkeypatch.setitem(sys.modules, "fsspec", fake)

    got = listing._fs_glob("memory://bucket/*.nc")
    assert got == ["memory:///bucket/a.nc", "memory:///bucket/b.nc"]
    assert calls["pattern"] == "memory://bucket/*.nc"  # full pattern to fs.glob

    got = listing._fs_glob("s3://bucket/*.nc")
    assert got == ["s3://bucket/y.nc", "s3://bucket/z.nc"]


def test_fetch_url_fsspec_dispatch_with_double(monkeypatch):
    """_fetch_url's non-HTTP remote leg (reference:
    avhrr…/recipe.py:124 OpenURLWithFSSpec): dispatches to
    fsspec.open(url, 'rb') and returns the bytes. Exercised against an
    in-process double since the container lacks fsspec; http(s)/file
    legs are covered against a real local HTTP server elsewhere."""
    import contextlib
    import io
    import sys
    import types

    from recipes_spark.sources import granules

    opened = {}

    @contextlib.contextmanager
    def fake_open(url, mode):
        opened["url"], opened["mode"] = url, mode
        yield io.BytesIO(b"granule-bytes")

    fake = types.ModuleType("fsspec")
    fake.open = fake_open
    monkeypatch.setitem(sys.modules, "fsspec", fake)

    assert granules._fetch_url("s3://bucket/g.nc") == b"granule-bytes"
    assert opened == {"url": "s3://bucket/g.nc", "mode": "rb"}


def test_decode_meta_xarray_fallthrough_with_double(monkeypatch):
    """The xarray branch of the S11 codec chain (reference:
    OpenWithXarray, avhrr…/recipe.py:125-127), exercised against an
    in-process double since the container lacks xarray: an HDF5-magic
    payload (not synthetic, not NetCDF classic) must route to
    xarray.open_dataset and map the dataset's CF/ACDD attrs through
    _attrs_to_meta; an exception inside the codec must quarantine
    (return None), never raise."""
    import sys
    import types

    from recipes_spark.sources import granules

    opened = {}

    class _FakeDs:
        attrs = {
            "id": "GRANULE-42",
            "platform": "metop-b",
            "time_coverage_start": "2024-03-01T00:00:00Z",
            "time_coverage_end": "2024-03-01T00:03:00Z",
            "westernmost_longitude": "-12.5",
            "southernmost_latitude": "30.0",
            "easternmost_longitude": "4.25",
            "northernmost_latitude": "45.5",
        }

    fake = types.ModuleType("xarray")

    def open_dataset(buf):
        opened["n_bytes"] = len(buf.getvalue())
        return _FakeDs()

    fake.open_dataset = open_dataset
    monkeypatch.setitem(sys.modules, "xarray", fake)

    hdf5_payload = b"\x89HDF\r\n\x1a\n" + b"\x00" * 64
    meta = granules._decode_meta(hdf5_payload, "/g/file.nc")
    assert opened["n_bytes"] == len(hdf5_payload)  # full bytes reached codec
    assert meta == {
        "granule_id": "GRANULE-42",
        "platform": "metop-b",
        "start_datetime": "2024-03-01T00:00:00Z",
        "end_datetime": "2024-03-01T00:03:00Z",
        "west": -12.5,
        "south": 30.0,
        "east": 4.25,
        "north": 45.5,
    }

    # Codec failure => quarantine, not crash.
    def boom(buf):
        raise OSError("corrupt HDF5")

    fake.open_dataset = boom
    assert granules._decode_meta(hdf5_payload, "/g/file.nc") is None


def test_decode_meta_quarantines_arbitrary_bytes():
    """P3 quarantine semantics at the codec boundary, fuzzed: for ANY
    byte string — including corrupt payloads behind a VALID synthetic
    magic (garbage JSON, truncated length, valid JSON of the wrong
    shape) and truncated/garbled NetCDF-classic headers — _decode_meta
    returns a dict or None, never raises. One bad granule on a 100 TB
    manifest scan must not fail the job through task retries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from recipes_spark.sources import granules

    magic = granules.GRANULE_MAGIC

    @settings(max_examples=300, deadline=None)
    @given(
        st.one_of(
            st.binary(max_size=400),
            st.binary(max_size=200).map(lambda b: magic + b),
            st.binary(max_size=200).map(lambda b: b"CDF\x02" + b),
            st.binary(max_size=200).map(lambda b: b"CDF\x01" + b),
        )
    )
    def fuzz(content):
        out = granules._decode_meta(content, "/g/fuzz.nc")
        assert out is None or isinstance(out, dict)

    fuzz()

    # Shape-level corruption behind a valid magic: well-formed JSON that
    # is not the meta contract must quarantine, not KeyError later.
    import json

    payload = json.dumps({"unexpected": 1}).encode()
    framed = magic + len(payload).to_bytes(4, "big") + payload
    assert granules._decode_meta(framed, "/g/wrong-shape.nc") is None


def test_meta_rows_quarantines_bad_values_and_deep_nesting():
    """The two holes the review found in the quarantine boundary,
    pinned: (1) a KEY-complete meta dict with unparseable VALUES (bad
    datetime, non-numeric bound) must be skipped by _meta_rows, not
    raise out of row assembly; (2) pathologically nested JSON behind a
    valid magic (RecursionError out of json.loads — beyond what
    bounded random fuzz can generate) must quarantine in _decode_meta
    itself."""
    import json

    from recipes_spark.sources import granules

    magic = granules.GRANULE_MAGIC

    def frame(obj) -> bytes:
        payload = json.dumps(obj).encode()
        return magic + len(payload).to_bytes(4, "big") + payload

    good = {
        "granule_id": "g1", "platform": "p",
        "start_datetime": "2024-01-01T00:00:00", "end_datetime":
        "2024-01-01T00:03:00", "west": -1.0, "south": -2.0,
        "east": 1.0, "north": 2.0,
    }
    bad_dt = dict(good, start_datetime="zzz not a date")
    bad_num = dict(good, west="not-a-number")
    out = granules._meta_rows(
        [
            ("/g/good.nc", frame(good)),
            ("/g/bad-dt.nc", frame(bad_dt)),
            ("/g/bad-num.nc", frame(bad_num)),
        ]
    )
    assert list(out["source"]) == ["/g/good.nc"]
    assert out["west"].dtype.kind == "f"  # never an object column

    deep = magic + (100_000).to_bytes(4, "big") + b"[" * 100_000
    assert granules._decode_meta(deep, "/g/deep.nc") is None


def test_open_kwargs_reach_fake_credentialed_filesystem(monkeypatch):
    """Per-FS auth/options pass-through (reference:
    avhrr…/recipe.py:124,154 threads open_kwargs=storage_kwargs from
    runtime config into OpenURLWithFSSpec): a filesystem that REQUIRES
    a token must fail without kwargs and succeed when the same dict the
    reference would configure is handed to _fs_glob / _fetch_url /
    url_metadata's closure. Uses an in-process fsspec double — the
    contract under test is ours (kwargs reach the constructor / open
    call verbatim), not fsspec's."""
    import contextlib
    import io
    import sys
    import types

    import pytest

    from recipes_spark.sources import granules, listing

    class _CredFS:
        def __init__(self, token=None):
            if token != "sesame":
                raise PermissionError("token required")

        def glob(self, pattern):
            return ["bucket/a.nc", "bucket/b.nc"]

    @contextlib.contextmanager
    def fake_open(url, mode, token=None, anon=None):
        if token != "sesame":
            raise PermissionError("token required")
        assert anon is False
        yield io.BytesIO(b"credentialed-bytes")

    fake = types.ModuleType("fsspec")
    fake.filesystem = lambda proto, **kw: _CredFS(**kw)
    fake.open = fake_open
    monkeypatch.setitem(sys.modules, "fsspec", fake)

    with pytest.raises(PermissionError):
        listing._fs_glob("s3://bucket/*.nc")
    assert listing._fs_glob(
        "s3://bucket/*.nc", {"token": "sesame"}
    ) == ["s3://bucket/a.nc", "s3://bucket/b.nc"]

    with pytest.raises(PermissionError):
        granules._fetch_url("s3://bucket/a.nc")
    kw = {"token": "sesame", "anon": False}
    assert (
        granules._fetch_url("s3://bucket/a.nc", kw) == b"credentialed-bytes"
    )


def test_http_open_kwargs_send_headers(monkeypatch):
    """The stdlib http(s) leg honors open_kwargs headers/timeout —
    credentialed PUBLIC-protocol sources work without fsspec."""
    import io

    from recipes_spark.sources import granules

    seen = {}

    class _Resp(io.BytesIO):
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def fake_urlopen(req, timeout=None):
        seen["auth"] = req.get_header("Authorization")
        seen["timeout"] = timeout
        return _Resp(b"http-bytes")

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    out = granules._fetch_url(
        "https://example.org/g.nc",
        {"headers": {"Authorization": "Bearer tok"}, "timeout": 7},
    )
    assert out == b"http-bytes"
    assert seen == {"auth": "Bearer tok", "timeout": 7}
