"""The connector workloads: a seeded store, its model, and the op cycles.

``lookup`` -- key-predicate queries one after another, each with a fresh
``load()`` or ``to_df()``.  A cycle is ``format("bigtable")`` over one
composed key range, ``BigtableTable.to_df``, ``format("bigtable")`` over
an ``IN`` of 4 devices, ``to_df`` again.  Exercises planning (composer,
manifest pruning, Python Data Source round trips) and reads little, so
the pivot barely shows.

``scan`` -- full reads of the store, each ending in one aggregate over
every output column.  A cycle is DS latest mode, ``to_df`` latest, DS
version-unnest with a ``_timestamp`` range and a ``pressure >=``
predicate, ``to_df`` latest again.  Exercises the per-partition DS
tasks, the pivot/decode and the Arrow->JVM hand-off; per-query planning
is a small share.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
import layers
from harness import Op
from model import Model, aggregate, sort_rows

# 8 key-range files, not 32: a full DS scan runs one task per file, and
# with 32 files the tasks' fixed cost set the scan's latency (3.3-3.9 s
# from 70k to 560k cells), hiding the pivot.  With 8 files a scan takes
# ~1.5 s and each task pivots ~35k cells, so pivot and decode show end to
# end.
STORE = gen.StoreSpec(devices=100, minutes=120, files=8)
LOOKUPS_PER_RUN = 3000  # far more than a run can use; the loop stops on time


def write_store(cells: gen.Cells, path: str) -> None:
    """Write the store as key-range files plus the program's manifest."""
    from datafusion_bigtable_spark.sources.cells import write_manifest

    shutil.rmtree(path, ignore_errors=True)
    gen.write_store(cells, path, STORE.files)
    write_manifest(path)


def store_size(bench: "Bench") -> dict:
    cells, path = bench.cells, bench.store
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    rows_latest = len(bench.scan_rows(latest=True))
    return {
        "cells": len(cells),
        "keys": len(cells.keys),
        "rows_latest": rows_latest,
        "files": len(files),
        "bytes": sum(os.path.getsize(os.path.join(path, f)) for f in files),
    }


def _load(spark, options: dict):
    return spark.read.format("bigtable").options(**options).load()


def _row_tuple(r) -> tuple:
    return (r.region, r.device, r.minute, layers.dt_to_us(r._timestamp), r.pressure, r.temperature)


def _ntz(us: int):
    from pyspark.sql import functions as F

    return F.lit(layers.us_to_dt(us).isoformat(sep=" ", timespec="microseconds")).cast("timestamp_ntz")


class Bench:
    """One workload's store, model and op factory."""

    def __init__(self, seed: int, store: str, cells: gen.Cells, tracer):
        self.seed = seed
        self.store = store
        self.cells = cells
        self.model = Model(cells)
        self.tracer = tracer
        self.lookups = gen.make_lookups(seed, STORE, LOOKUPS_PER_RUN)
        self.shapes = gen.make_scan_shapes(seed, STORE)
        self._replayed: set = set()
        self._scan_rows: dict = {}

    # -- lookup ------------------------------------------------------------
    def lookup_op(self, lk: gen.Lookup) -> Op:
        from pyspark.sql import functions as F

        from datafusion_bigtable_spark import Between, BigtableTable, Eq, In

        keys = self.model.lookup_keys(lk.region, lk.devices, lk.lo, lk.hi)
        cells = sum(self.model.cells_of(k) for k in keys)

        def check(rows) -> bool:
            return sort_rows(_row_tuple(r) for r in rows) == self.model.lookup(
                lk.region, lk.devices, lk.lo, lk.hi
            )

        def collect(df):
            return df.collect()

        if lk.kind == "todf":
            cfg = layers.table_config(self.store)
            preds = [Eq("region", lk.region), In("device", lk.devices), Between("minute", lk.lo, lk.hi)]
            return Op(
                lk.kind, "table", cells,
                build=lambda spark: BigtableTable(cfg).to_df(spark, preds),
                action=collect,
                check=check,
                build_span="sources.bigtable_table.to_df",
            )
        options = layers.ds_options(self.store)
        dev = F.col("device") == lk.devices[0] if len(lk.devices) == 1 else F.col("device").isin(list(lk.devices))
        cond = (F.col("region") == lk.region) & dev & F.col("minute").between(lk.lo, lk.hi)
        filters = layers.key_filters(lk.region, lk.devices, lk.lo, lk.hi)

        def replay(op_id: int) -> None:
            rows = layers.replay_ds(self.tracer, op_id, options, filters, self.store)
            self.tracer.count("replay.wrong", int(sort_rows(rows) != self.model.lookup(
                lk.region, lk.devices, lk.lo, lk.hi)))

        return Op(
            lk.kind, "ds", cells,
            build=lambda spark: _load(spark, options).filter(cond),
            action=collect,
            check=check,
            replay=replay,
        )

    def lookup_cycle(self, i: int) -> list[Op]:
        n = len(gen.LOOKUP_KINDS)
        return [self.lookup_op(lk) for lk in self.lookups[n * i : n * (i + 1)]]

    # -- scan --------------------------------------------------------------
    def scan_rows(self, latest: bool, ts_lo=None, ts_hi=None, pressure_ge=None) -> list[tuple]:
        key = (latest, ts_lo, ts_hi, pressure_ge)
        if key not in self._scan_rows:
            self._scan_rows[key] = self.model.scan(*key)
        return self._scan_rows[key]

    def _truth(self, shape: gen.ScanShape) -> tuple:
        latest = shape.kind != "ds_filtered"
        return aggregate(self.scan_rows(latest, shape.ts_lo, shape.ts_hi, shape.pressure_ge))

    def scan_op(self, shape: gen.ScanShape) -> Op:
        from pyspark.sql import functions as F

        from datafusion_bigtable_spark import BigtableTable

        aggs = [
            F.count(F.lit(1)),
            F.count("pressure"),
            F.sum("pressure"),
            F.count("temperature"),
            F.sum(F.crc32("temperature")),
            F.sum(F.crc32("region")),
            F.sum(F.crc32("device")),
            F.sum(F.crc32("minute")),
            F.min("_timestamp"),
            F.max("_timestamp"),
        ]

        def check(rows) -> bool:
            got = list(rows[0])
            got[-2:] = [None if t is None else layers.dt_to_us(t) for t in got[-2:]]
            return tuple(got) == self._truth(shape)

        def collect(df):
            return df.collect()

        if shape.kind == "todf_latest":
            cfg = layers.table_config(self.store, full=True)
            return Op(
                shape.kind, "table", len(self.cells),
                build=lambda spark: BigtableTable(cfg).to_df(spark).agg(*aggs),
                action=collect,
                check=check,
                build_span="sources.bigtable_table.to_df",
            )
        latest = shape.kind == "ds_latest"
        options = layers.ds_options(self.store, latest=latest, full=True)

        def build(spark):
            df = _load(spark, options)
            if shape.ts_lo is not None:
                df = df.filter(F.col("_timestamp").between(_ntz(shape.ts_lo), _ntz(shape.ts_hi)))
            if shape.pressure_ge is not None:
                df = df.filter(F.col("pressure") >= shape.pressure_ge)
            return df.agg(*aggs)

        def replay(op_id: int) -> None:
            # one in-process full read per shape is enough for the per-cell figures
            if shape.kind in self._replayed:
                return
            self._replayed.add(shape.kind)
            rows = layers.replay_ds(self.tracer, op_id, options, layers.scan_filters(shape), self.store)
            rows = [
                r for r in rows
                if (shape.ts_lo is None or shape.ts_lo <= r[3] <= shape.ts_hi)
                and (shape.pressure_ge is None or (r[4] is not None and r[4] >= shape.pressure_ge))
            ]
            self.tracer.count("replay.wrong", int(aggregate(rows) != self._truth(shape)))

        return Op(shape.kind, "ds", len(self.cells), build=build, action=collect, check=check, replay=replay)

    def scan_cycle(self, i: int) -> list[Op]:
        # to_df scans are ~3x shorter than DS scans; two per cycle keep its
        # sample count near the DS one
        latest, filtered, todf = self.shapes
        return [self.scan_op(s) for s in (latest, todf, filtered, todf)]


# The first Data Source use starts its Python workers, the first query of
# each shape compiles and the JVM's JIT warms: paid once per session, so
# set-up.  The warm-up takes the steepest part of the JIT curve, which
# to_df ops keep descending for ~15 runs: three short lookup cycles, one
# longer scan cycle, so that a run stays under a minute.
WARMUP_CYCLES = {"lookup": 3, "scan": 1}


def cycle_for(bench: Bench, workload: str):
    return {"lookup": bench.lookup_cycle, "scan": bench.scan_cycle}[workload]


def timed_store_setups(cells: gen.Cells, work: str, reps: int) -> tuple[str, list[float]]:
    """Write the store ``reps`` times, each into a fresh directory, and
    keep the last; returns its path and the per-write seconds."""
    times = []
    path = None
    for i in range(reps):
        prev, path = path, os.path.join(work, f"store-{i}")
        t0 = time.perf_counter()
        write_store(cells, path)
        times.append(time.perf_counter() - t0)
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
    return path, times
