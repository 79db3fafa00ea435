"""Seeded inputs for the connector benchmark.

Everything the program under test sees comes from here: the cells store
(written as key-range parquet files), the lookup op list, the scan
shapes and the ingest batches.  The same seed gives byte-identical
inputs (``selftest.py`` checks it).

Data model (the reference's ``weather_balloons`` shape, scaled up):
row key ``region#device#minute``, one column family, two qualifiers --
``pressure`` (int64, 8-byte big-endian) and ``temperature`` (UTF-8) --
with several timestamped versions per cell and some NULL holes:

- a few keys have no ``pressure`` cells, a few none for ``temperature``;
- some keys carry one extra, later ``temperature`` version with no
  ``pressure`` cell at that timestamp, so the pivot by ``(row_key, ts)``
  yields a row whose ``pressure`` is NULL (in latest mode too);
- a few ``temperature`` values are non-ASCII, so UTF-8 decode is checked.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

REGIONS = ("asia-east1", "europe-west1", "us-central1", "us-west2")
INGEST_REGION = "zz-ingest"
FAMILY = "measurements"
COLUMNS = (("pressure", "int64"), ("temperature", "string"))
KEY_COLS = ("region", "device", "minute")
SEPARATOR = "#"
BASE_US = 1_614_902_400_000_000  # 2021-03-05 00:00:00 UTC, in µs

P_HOLE = 0.03  # keys with no pressure cells
T_HOLE = 0.05  # keys with no temperature cells
T_LATE = 0.10  # keys with an extra, later temperature-only version
NON_ASCII = 0.02  # temperature values with a non-ASCII suffix


@dataclass(frozen=True)
class StoreSpec:
    devices: int  # per region
    minutes: int  # per device (<= 1440)
    versions: int = 3
    files: int = 32


def device_label(d: int) -> str:
    return f"{d:04d}"


def minute_label(m: int) -> str:
    return f"2021-03-05-{m // 60:02d}{m % 60:02d}"


@dataclass
class Cells:
    """Cells in store order ``(row_key, qualifier, ts)``; ``value`` holds
    the encoded bytes.  ``key_index`` maps each cell to its key's position
    in ``keys``."""

    keys: list  # sorted row keys
    key_index: np.ndarray
    qualifier: np.ndarray  # 0 = pressure, 1 = temperature
    ts: np.ndarray  # int64 µs
    value: list  # bytes

    def __len__(self) -> int:
        return len(self.value)


def _temperature_strings(rng: np.random.Generator, n: int) -> list:
    tenths = rng.integers(-400, 451, size=n)
    odd = rng.random(n) < NON_ASCII
    return [
        f"{t / 10:.1f}°C" if o else f"{t / 10:.1f}"
        for t, o in zip(tenths.tolist(), odd.tolist())
    ]


def make_cells(
    rng: np.random.Generator,
    regions: tuple,
    devices: range,
    minutes: int,
    versions: int,
) -> Cells:
    """Every key of ``regions x devices x minutes`` with its cell versions."""
    keys = [
        SEPARATOR.join((r, device_label(d), minute_label(m)))
        for r in sorted(regions)
        for d in devices
        for m in range(minutes)
    ]
    n = len(keys)
    minute_of_key = np.tile(np.arange(minutes), n // minutes)
    hole = rng.random(n)
    no_p = hole < P_HOLE
    no_t = (hole >= P_HOLE) & (hole < P_HOLE + T_HOLE)
    late = (~no_t) & (rng.random(n) < T_LATE)
    jitter = rng.integers(0, 1000, size=n)
    base = BASE_US + minute_of_key * 60_000_000 + jitter

    n_p = np.where(no_p, 0, versions)
    n_t = np.where(no_t, 0, versions + late)
    kp = np.repeat(np.arange(n), n_p)
    kt = np.repeat(np.arange(n), n_t)
    vp = np.arange(len(kp)) - np.repeat(np.cumsum(n_p) - n_p, n_p)
    vt = np.arange(len(kt)) - np.repeat(np.cumsum(n_t) - n_t, n_t)
    # version v sits at +v s; the late temperature version at +v s + 0.5 s
    tp = base[kp] + vp * 1_000_000
    tt = base[kt] + vt * 1_000_000 + np.where(vt == versions, 500_000, 0)

    pressure = rng.integers(-(2**31), 2**31, size=len(kp)).astype(">i8").tobytes()
    p_vals = [pressure[i : i + 8] for i in range(0, len(pressure), 8)]
    t_vals = [s.encode("utf-8") for s in _temperature_strings(rng, len(kt))]

    key_index = np.concatenate([kp, kt])
    qualifier = np.concatenate([np.zeros(len(kp), np.int8), np.ones(len(kt), np.int8)])
    ts = np.concatenate([tp, tt]).astype(np.int64)
    order = np.lexsort((ts, qualifier, key_index))
    values = p_vals + t_vals
    return Cells(
        keys=keys,
        key_index=key_index[order],
        qualifier=qualifier[order],
        ts=ts[order],
        value=[values[i] for i in order.tolist()],
    )


def make_store_cells(seed: int, spec: StoreSpec) -> Cells:
    rng = np.random.default_rng([seed, 1])
    return make_cells(rng, REGIONS, range(spec.devices), spec.minutes, spec.versions)


def cells_table(cells: Cells, lo: int = 0, hi: int | None = None):
    """Arrow table of cells ``[lo, hi)`` in the canonical cells schema."""
    import pyarrow as pa

    hi = len(cells) if hi is None else hi
    keys = pa.array(cells.keys, pa.string())
    qnames = pa.array(["pressure", "temperature"], pa.string())
    return pa.table(
        {
            "row_key": keys.take(pa.array(cells.key_index[lo:hi])),
            "family": pa.array([FAMILY] * (hi - lo), pa.string()),
            "qualifier": qnames.take(pa.array(cells.qualifier[lo:hi])),
            "ts": pa.array(cells.ts[lo:hi], pa.timestamp("us")),
            "value": pa.array(cells.value[lo:hi], pa.binary()),
        }
    )


def write_store(cells: Cells, path: str, files: int) -> list[str]:
    """Write ``cells`` as ``files`` key-disjoint parquet files (cut on key
    boundaries), sorted within, the layout ``sources.cells.write_cells``
    produces.  The manifest is the program's job (``write_manifest``)."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n_keys = len(cells.keys)
    key_cuts = [n_keys * i // files for i in range(files + 1)]
    cell_cuts = np.searchsorted(cells.key_index, key_cuts).tolist()
    out = []
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(cells_table(cells, cell_cuts[i], cell_cuts[i + 1]), f)
        out.append(f)
    return out


# -- op lists ------------------------------------------------------------


@dataclass(frozen=True)
class Lookup:
    """One key-predicate query: ``region = r AND device IN devices AND
    minute BETWEEN lo AND hi`` (latest mode).  ``kind`` picks the front
    end: ``ds_range`` / ``ds_in`` go through ``format("bigtable")``,
    ``todf`` through ``BigtableTable.to_df``."""

    kind: str
    region: str
    devices: tuple
    lo: str
    hi: str


# to_df is the less common front end in the mix but the noisier one;
# two per cycle give it as many samples as the two DS kinds together
LOOKUP_KINDS = ("ds_range", "todf", "ds_in", "todf")


LOOKUP_SPAN = {"ds_range": (1, 90), "ds_in": (4, 24), "todf": (1, 90)}  # devices, minutes


def make_lookups(seed: int, spec: StoreSpec, n: int) -> list[Lookup]:
    """``n`` lookups cycling through ``LOOKUP_KINDS``.  The seed picks
    which keys; the size is fixed per kind (``LOOKUP_SPAN``), so every
    seed asks for the same amount of work."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n):
        kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
        region = REGIONS[int(rng.integers(len(REGIONS)))]
        n_dev, span = LOOKUP_SPAN[kind]
        devs = rng.choice(spec.devices, size=n_dev, replace=False)
        span = min(span, spec.minutes)
        lo = int(rng.integers(0, spec.minutes - span + 1))
        out.append(
            Lookup(
                kind,
                region,
                tuple(device_label(int(d)) for d in sorted(devs.tolist())),
                minute_label(lo),
                minute_label(lo + span - 1),
            )
        )
    return out


@dataclass(frozen=True)
class ScanShape:
    """A full read ending in an aggregate over every output column."""

    kind: str  # ds_latest | ds_filtered | todf_latest
    ts_lo: int | None = None  # µs, inclusive (ds_filtered only)
    ts_hi: int | None = None
    pressure_ge: int | None = None


def make_scan_shapes(seed: int, spec: StoreSpec) -> list[ScanShape]:
    rng = np.random.default_rng([seed, 3])
    span_us = spec.minutes * 60_000_000
    lo = BASE_US + int(rng.integers(0, span_us // 4))
    hi = lo + span_us // 2
    return [
        ScanShape("ds_latest"),
        ScanShape("ds_filtered", lo, hi, int(rng.integers(-(2**30), 2**30))),
        ScanShape("todf_latest"),
    ]


def make_ingest_cells(seed: int, round_no: int, devices: int, minutes: int) -> Cells:
    """Round ``round_no``'s batch: new keys under ``INGEST_REGION``, device
    block ``round_no * devices ...``, so rounds never overlap."""
    rng = np.random.default_rng([seed, 4, round_no])
    first = round_no * devices
    return make_cells(rng, (INGEST_REGION,), range(first, first + devices), minutes, 1)


def relational_rows(cells: Cells) -> list[dict]:
    """The relational rows whose unpivot is ``cells`` (one row per
    ``(row_key, ts)``; a missing qualifier is a NULL column) -- the input a
    writer receives."""
    rows: dict = {}
    for k, q, t, v in zip(
        cells.key_index.tolist(), cells.qualifier.tolist(), cells.ts.tolist(), cells.value
    ):
        r = rows.setdefault((k, t), {"pressure": None, "temperature": None})
        if q == 0:
            r["pressure"] = int.from_bytes(v, "big", signed=True)
        else:
            r["temperature"] = v.decode("utf-8")
    out = []
    for (k, t), vals in rows.items():
        region, device, minute = cells.keys[k].split(SEPARATOR)
        out.append(
            {"region": region, "device": device, "minute": minute, "_timestamp": t, **vals}
        )
    return out
