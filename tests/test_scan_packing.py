"""Full-scan packing: key-disjoint file groups → at most one partition per
task slot (sources/datasource.py::_pack_groups).

Planning and reading run in-process through ``BigtableReader`` with an
explicit ``task_slots``; ``register(spark)`` supplies the session's
``defaultParallelism`` in a real session (covered end to end by
tests/test_scan_fuzz.py's format("bigtable") shapes)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.datasource import GreaterThanOrEqual

from datafusion_bigtable_spark.sources.cells import footer_file_stats, write_manifest
from datafusion_bigtable_spark.sources.datasource import (
    BigtableReader,
    _key_disjoint_groups,
    _scan_segments,
)

T0 = dt.datetime(2024, 1, 1)
N_FILES = 6


def _write(path, cells):
    """cells: (row_key, qualifier, ts, value) tuples, written sorted."""
    cells = sorted(cells, key=lambda c: (c[0], c[1], c[2]))
    pq.write_table(
        pa.table(
            {
                "row_key": [c[0] for c in cells],
                "family": ["f"] * len(cells),
                "qualifier": [c[1] for c in cells],
                "ts": pa.array([c[2] for c in cells], pa.timestamp("us")),
                "value": pa.array([c[3] for c in cells], pa.binary()),
            }
        ),
        path,
    )


def _file_cells(i: int, n_keys: int) -> list:
    """File i: keys k{i}-000.. with two versions of two qualifiers; the
    cell timestamps sit in day i, so a ts bound prunes whole files."""
    out = []
    for j in range(n_keys):
        key = f"k{i}-{j:03d}"
        for v in range(2):
            ts = T0 + dt.timedelta(days=i, seconds=v)
            out.append((key, "p", ts, (i * 1000 + j + v).to_bytes(8, "big", signed=True)))
            if (i + j + v) % 3:
                out.append((key, "s", ts, f"{i}.{j}.{v}".encode()))
    return out


@pytest.fixture()
def disjoint_store(tmp_path):
    """N_FILES key-disjoint files; file 0 holds more bytes than the rest
    together."""
    store = tmp_path / "disjoint"
    store.mkdir()
    for i in range(N_FILES):
        _write(str(store / f"part-{i}.parquet"), _file_cells(i, 2000 if i == 0 else 10 + 5 * i))
    write_manifest(str(store))
    return str(store)


@pytest.fixture()
def appended_store(tmp_path):
    """The disjoint layout plus an appended file whose keys straddle files
    2 and 3 (newer versions of existing keys, and new keys between)."""
    store = tmp_path / "appended"
    store.mkdir()
    for i in range(N_FILES):
        _write(str(store / f"part-{i}.parquet"), _file_cells(i, 10 + 5 * i))
    late = T0 + dt.timedelta(days=30)
    extra = [(f"k2-{j:03d}", "p", late, b"\x00" * 7 + bytes([j])) for j in range(0, 20, 3)]
    extra += [(f"k3-{j:03d}", "s", late, b"late") for j in range(0, 8)]
    _write(str(store / "part-x-appended.parquet"), extra)
    write_manifest(str(store))
    return str(store)


def _reader(path, slots, latest="true"):
    return BigtableReader(
        None,
        {
            "path": path,
            "column_family": "f",
            "columns": "p:int64,s:string",
            "table_partition_cols": "_row_key",
            "only_read_latest": latest,
            "allow_full_scan": "true",
        },
        task_slots=slots,
    )


def _key_bounds(files):
    st = footer_file_stats(list(files))
    return min(s["min_key"] for s in st), max(s["max_key"] for s in st)


def _rows(reader, parts):
    rows = [r for p in parts for b in reader.read(p) for r in b.to_pylist()]
    return sorted(rows, key=lambda r: (r["_row_key"], r["_timestamp"]))


def _n_groups(store):
    return len(_key_disjoint_groups(footer_file_stats(sorted(
        os.path.join(store, f) for f in os.listdir(store) if f.endswith(".parquet")
    ))))


@pytest.mark.parametrize("slots", [1, 2, N_FILES, N_FILES + 3])
def test_packed_runs_cover_every_file_once_key_ordered(disjoint_store, slots):
    parts = _reader(disjoint_store, slots).partitions()
    assert len(parts) == min(slots, N_FILES)
    files = [f for p in parts for f in p.files]
    assert sorted(files) == sorted(
        os.path.join(disjoint_store, f"part-{i}.parquet") for i in range(N_FILES)
    )
    assert len(files) == len(set(files))
    # runs are contiguous in key order and pairwise key-disjoint, and
    # each run's files are listed in key order
    assert [f for f in files] == sorted(files, key=lambda f: _key_bounds([f]))
    bounds = [_key_bounds(p.files) for p in parts]
    assert all(a[1] < b[0] for a, b in zip(bounds, bounds[1:]))
    # every packed run streams (bounded memory), never materializes
    assert all(ok for p in parts for _, ok in _scan_segments(list(p.files)))


def test_packing_balances_by_bytes(disjoint_store):
    # file 0 outweighs the other five together: with 2 slots it runs
    # alone, where a split by file count would pair it with two others
    sizes = [os.path.getsize(os.path.join(disjoint_store, f"part-{i}.parquet")) for i in range(N_FILES)]
    assert sizes[0] > sum(sizes[1:])
    parts = _reader(disjoint_store, 2).partitions()
    assert [len(p.files) for p in parts] == [1, N_FILES - 1]


@pytest.mark.parametrize("slots", [1, 2, 3, 99])
def test_overlapping_group_stays_in_one_partition(appended_store, slots):
    parts = _reader(appended_store, slots).partitions()
    assert len(parts) == min(slots, _n_groups(appended_store))
    together = {"part-2.parquet", "part-3.parquet", "part-x-appended.parquet"}
    holders = [p for p in parts if together & {os.path.basename(f) for f in p.files}]
    assert len(holders) == 1
    assert together <= {os.path.basename(f) for f in holders[0].files}


def test_ts_pruned_scan_still_packs(disjoint_store):
    reader = _reader(disjoint_store, 2, latest="false")
    reader.pushFilters([GreaterThanOrEqual(("_timestamp",), T0 + dt.timedelta(days=2))])
    parts = reader.partitions()
    assert len(parts) == 2
    kept = sorted(os.path.basename(f) for p in parts for f in p.files)
    assert kept == [f"part-{i}.parquet" for i in range(2, N_FILES)]
    assert all(p.ts_lo == T0 + dt.timedelta(days=2) for p in parts)
    rows = _rows(reader, parts)
    assert rows and all(r["_timestamp"] >= T0 + dt.timedelta(days=2) for r in rows)


@pytest.mark.parametrize("store_name", ["disjoint_store", "appended_store"])
@pytest.mark.parametrize("latest", ["true", "false"])
def test_packed_rows_equal_unpacked_plan(request, store_name, latest):
    store = request.getfixturevalue(store_name)
    unpacked = _reader(store, None, latest)
    want = _rows(unpacked, unpacked.partitions())
    assert want
    for slots in (1, 2, N_FILES + 1):
        packed = _reader(store, slots, latest)
        assert _rows(packed, packed.partitions()) == want, slots


def test_scan_segments_split_overlapping_group_from_streamable_runs(appended_store):
    files = sorted(
        os.path.join(appended_store, f) for f in os.listdir(appended_store) if f.endswith(".parquet")
    )
    segs = [([os.path.basename(f) for f in fs], ok) for fs, ok in _scan_segments(files)]
    assert segs == [
        (["part-0.parquet", "part-1.parquet"], True),
        (["part-2.parquet", "part-x-appended.parquet", "part-3.parquet"], False),
        (["part-4.parquet", "part-5.parquet"], True),
    ]
