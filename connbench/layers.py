"""In-process calls into the connector's layers, timed from outside.

Traced runs call these next to the Spark ops, so each layer's own time
shows without Spark's round trips:

- ``replay_ds`` re-plans and re-reads a ``format("bigtable")`` op through
  ``BigtableReader.pushFilters`` / ``partitions`` / ``read`` and reads the
  same files with pyarrow alone (the Arrow baseline the pivot is measured
  against);
- ``ingest_sweep`` drives the write side and the wire transport: the
  shared unpivot encoder, the writer commit and manifest, MutateRows
  protobuf encoding, ``push_cells`` against the in-process service,
  ``WireBigtableServer`` / ``WireBigtableClient`` and SampleRowKeys shard
  planning, checking every read-back against the model.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys
import time

import gen
from model import Model, sort_rows

EPOCH = dt.datetime(1970, 1, 1)


def us_to_dt(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=us)


def dt_to_us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def table_config(path: str | None, *, full: bool = False):
    from datafusion_bigtable_spark import BigtableTableConfig, ColumnSpec

    return BigtableTableConfig(
        table="balloons",
        column_family=gen.FAMILY,
        columns=tuple(ColumnSpec(n, t) for n, t in gen.COLUMNS),
        table_partition_cols=gen.KEY_COLS,
        table_partition_separator=gen.SEPARATOR,
        cells_path=path,
        allow_full_scan=full,
    )


def ds_options(path: str | None = None, *, latest: bool = True, full: bool = False, endpoint=None) -> dict:
    opts = {
        "table": "balloons",
        "column_family": gen.FAMILY,
        "columns": ",".join(f"{n}:{t}" for n, t in gen.COLUMNS),
        "table_partition_cols": ",".join(gen.KEY_COLS),
        "table_partition_separator": gen.SEPARATOR,
        "only_read_latest": str(latest).lower(),
        "allow_full_scan": str(full).lower(),
    }
    if path is not None:
        opts["path"] = path
    if endpoint is not None:
        opts["endpoint"] = f"{endpoint[0]}:{endpoint[1]}"
    return opts


def key_filters(region: str, devices, lo: str, hi: str) -> list:
    """The Data Source filters Spark pushes for a key lookup."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThanOrEqual

    dev = EqualTo(("device",), devices[0]) if len(devices) == 1 else In(("device",), tuple(devices))
    return [
        EqualTo(("region",), region),
        dev,
        GreaterThanOrEqual(("minute",), lo),
        LessThanOrEqual(("minute",), hi),
    ]


def scan_filters(shape) -> list:
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    out = []
    if shape.ts_lo is not None:
        out.append(GreaterThanOrEqual(("_timestamp",), us_to_dt(shape.ts_lo)))
    if shape.ts_hi is not None:
        out.append(LessThanOrEqual(("_timestamp",), us_to_dt(shape.ts_hi)))
    if shape.pressure_ge is not None:
        out.append(GreaterThanOrEqual(("pressure",), shape.pressure_ge))
    return out


def _arrow_read(files, family, qualifiers, start=None, end=None, ts_lo=None, ts_hi=None) -> int:
    """Cells pyarrow alone reads for one partition: same files, same
    family / qualifier / key-range / timestamp filter as the scan."""
    import pyarrow.dataset as pa_ds

    flt = (pa_ds.field("family") == family) & pa_ds.field("qualifier").isin(list(qualifiers))
    if start is not None:
        flt = flt & (pa_ds.field("row_key") >= start) & (pa_ds.field("row_key") <= end)
    if ts_lo is not None:
        flt = flt & (pa_ds.field("ts") >= ts_lo)
    if ts_hi is not None:
        flt = flt & (pa_ds.field("ts") <= ts_hi)
    cols = ["row_key", "qualifier", "ts", "value"]
    return pa_ds.dataset(list(files), format="parquet").to_table(columns=cols, filter=flt).num_rows


def replay_ds(tracer, op_id: int, options: dict, filters: list, store: str) -> list:
    """Plan and read one DS op in-process; returns the rows it produced
    as model tuples."""
    from datafusion_bigtable_spark.plans.composer import compose, from_datasource_filters
    from datafusion_bigtable_spark.sources.cells import read_manifest
    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    reader = BigtableReader(None, options)
    cfg = reader.config
    preds = from_datasource_filters(filters, cfg.table_partition_cols, cfg.key_types)
    reps = 50
    t0 = time.perf_counter()
    for _ in range(reps):
        try:
            compose(preds, cfg.table_partition_cols, cfg.table_partition_separator,
                    allow_full_scan=cfg.allow_full_scan)
        except ValueError:
            pass  # the refusal is the composer's answer; it is timed too
    tracer.count("plans.composer.compose_s", (time.perf_counter() - t0) / reps)

    with tracer.span("sources.cells.read_manifest", op_id):
        read_manifest(store)
    with tracer.span("sources.datasource.plan", op_id):
        list(reader.pushFilters(filters))
        parts = reader.partitions()
    store_files = glob.glob(os.path.join(store, "*.parquet"))
    kept = {f for p in parts for f in getattr(p, "files", ())}
    tracer.count("sources.datasource.ranges", len(parts))
    tracer.count("sources.datasource.files_kept_ratio", len(kept) / len(store_files))

    rows = []
    with tracer.span("sources.datasource.read", op_id):
        for p in parts:
            t0 = time.perf_counter()
            n_out = 0
            for batch in reader.read(p):
                n_out += batch.num_rows
                rows.extend(_batch_rows(batch))
            read_s = time.perf_counter() - t0
            if getattr(p, "value_preds", ()):
                continue  # the Arrow baseline covers unfiltered-value reads only
            t0 = time.perf_counter()
            n_cells = _arrow_read(
                p.files, cfg.column_family, cfg.qualifiers,
                getattr(p, "start", None), getattr(p, "end", None), p.ts_lo, p.ts_hi,
            )
            arrow_s = time.perf_counter() - t0
            tracer.count("sources.datasource.read_part", (read_s, arrow_s, n_cells, n_out))
    return rows


def _batch_rows(batch) -> list:
    d = batch.to_pydict()
    ts = [None if t is None else dt_to_us(t.replace(tzinfo=None)) for t in d["_timestamp"]]
    return list(zip(d["region"], d["device"], d["minute"], ts, d["pressure"], d["temperature"]))


# -- the write side and the wire ------------------------------------------


def ingest_sweep(tracer, seed: int, store_cells: gen.Cells, work: str, rounds: int = 3) -> tuple[int, int]:
    """Write ``rounds`` seeded batches through every write path and read
    each back over the wire; returns ``(checks, failures)``."""
    from pyspark.sql import Row

    from datafusion_bigtable_spark.sources import proto
    from datafusion_bigtable_spark.sources.cells import encode_relational_row, write_manifest
    from datafusion_bigtable_spark.sources.datasource import BigtableReader, BigtableWriter
    from datafusion_bigtable_spark.sources.fake_bigtable import InProcessBigtableService
    from datafusion_bigtable_spark.sources.grpc_transport import (
        build_mutate_rows_request,
        build_read_rows_request,
        push_cells,
    )
    from datafusion_bigtable_spark.sources.wire import WireBigtableClient, WireBigtableServer

    cfg = table_config(None)
    table_name = build_read_rows_request(cfg, [])["table_name"]
    region = gen.REGIONS[0]
    preload = [
        (store_cells.keys[k], gen.FAMILY, gen.COLUMNS[q][0], t, v)
        for k, q, t, v in zip(
            store_cells.key_index.tolist(),
            store_cells.qualifier.tolist(),
            store_cells.ts.tolist(),
            store_cells.value,
        )
        if store_cells.keys[k].startswith(region + gen.SEPARATOR)
    ]
    service = InProcessBigtableService(preload, table_name=table_name)
    parquet_store = os.path.join(work, "ingest_store")
    checks = failures = 0

    def check(ok: bool, what: str) -> None:
        nonlocal checks, failures
        checks += 1
        if not ok:
            failures += 1
            print(f"connbench: WRONG {what}", file=sys.stderr)

    with WireBigtableServer(service) as server:
        client = WireBigtableClient(*server.address)
        try:
            for rnd in range(rounds):
                batch = gen.make_ingest_cells(seed, rnd, devices=4, minutes=120)
                devices = tuple(sorted({k.split(gen.SEPARATOR)[1] for k in batch.keys}))
                key_flt = key_filters(gen.INGEST_REGION, devices, "0", "9")
                rows = gen.relational_rows(batch)
                for r in rows:
                    r["_timestamp"] = us_to_dt(r["_timestamp"])
                model = Model(batch)
                expect = sort_rows(r for k in batch.keys for r in model.rows_for_key(k, latest=True))
                truth = sorted(
                    (batch.keys[k], gen.FAMILY, gen.COLUMNS[q][0], t, v)
                    for k, q, t, v in zip(
                        batch.key_index.tolist(), batch.qualifier.tolist(), batch.ts.tolist(), batch.value
                    )
                )

                with tracer.span("sources.cells.encode_rows"):
                    cells = [c for r in rows for c in encode_relational_row(cfg, r)]
                tracer.count("sources.cells.rows_encoded", len(rows))
                wire_cells = sorted((k, f, q, dt_to_us(t), v) for k, f, q, t, v in cells)
                check(wire_cells == truth, "unpivot encoding")

                before = set(glob.glob(os.path.join(parquet_store, "*.parquet")))
                writer = BigtableWriter(None, ds_options(parquet_store), overwrite=False)
                with tracer.span("sources.datasource.write_commit"):
                    writer.commit([writer.write(Row(**r) for r in rows)])
                added = set(glob.glob(os.path.join(parquet_store, "*.parquet"))) - before
                user_bytes = sum(
                    len(r["region"]) + len(r["device"]) + len(r["minute"]) + 8
                    + (8 if r["pressure"] is not None else 0)
                    + (len(r["temperature"].encode()) if r["temperature"] is not None else 0)
                    for r in rows
                )
                tracer.count(
                    "sources.cells.bytes_per_user_byte",
                    sum(os.path.getsize(f) for f in added) / user_bytes,
                )
                with tracer.span("sources.cells.write_manifest"):
                    write_manifest(parquet_store)
                reader = BigtableReader(None, ds_options(parquet_store))
                list(reader.pushFilters(key_flt))
                got = sort_rows(r for p in reader.partitions() for b in reader.read(p) for r in _batch_rows(b))
                check(got == expect, "parquet read-back")

                grouped: dict = {}
                for k, f, q, t, v in wire_cells:
                    grouped.setdefault(k, []).append((f, q, t, v))
                request = build_mutate_rows_request(cfg, list(grouped.items()))
                with tracer.span("sources.proto.encode_mutate"):
                    buf = proto.encode_mutate_rows_request(request)
                tracer.count("sources.proto.mutate_bytes_per_row", len(buf) / len(rows))
                with tracer.span("sources.grpc_transport.push_cells"):
                    push_cells(cfg, wire_cells, service=InProcessBigtableService([]))
                with tracer.span("sources.fake_bigtable.mutate_rows"):
                    list(InProcessBigtableService([]).mutate_rows(request))
                with tracer.span("sources.wire.mutate_rows"):
                    push_cells(cfg, wire_cells, service=client)

                read_req = build_read_rows_request(cfg, [])
                prefix = gen.SEPARATOR.join((gen.INGEST_REGION, ""))
                read_req["rows"] = {
                    "row_keys": [],
                    "row_ranges": [{
                        "start_key_closed": (prefix + devices[0]).encode(),
                        "end_key_closed": (prefix + devices[-1] + "\x7f").encode(),
                    }],
                }
                with tracer.span("sources.fake_bigtable.read_rows"):
                    direct = list(service.read_rows(read_req))
                with tracer.span("sources.fake_bigtable.sample_row_keys"):
                    list(service.sample_row_keys({"table_name": table_name}))
                with tracer.span("sources.wire.read_rows"):
                    over_wire = list(client.read_rows(read_req))
                check(over_wire == direct and len(direct) == len(batch.keys), "wire ReadRows")

                wreader = BigtableReader(None, ds_options(endpoint=server.address))
                with tracer.span("sources.datasource.wire_plan"):
                    list(wreader.pushFilters(key_flt))
                    shards = wreader.partitions()
                tracer.count("sources.datasource.wire_shards", len(shards))
                got = sort_rows(r for p in shards for b in wreader.read(p) for r in _batch_rows(b))
                check(got == expect, "wire read-back")
        finally:
            client.close()
    return checks, failures
