"""Connector benchmark: one workload, one seed, one closed-loop run.

    python3 connbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The run builds its
seeded store under ``.bench_out/`` in that checkout, starts a session on
``local[nproc]``, times the workload's ops for ``--seconds`` seconds (whole
cycles, one client), checks every output against the reference model and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
the spans to ``.bench_out/traces/``).  The line before it is the run
record: core count, master, commit, seed, store size, error rate.

Exits 2 without a result when the checkout holds no program to measure.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datafusion_bigtable_spark"
SETUP_REPS = 3


def _median(xs):
    return statistics.median(xs) if xs else None


def _e2e_metrics(res, setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "ds_p50_ms": (res.p50_ms("ds"), "ms"),
        "cells_per_s": (res.cells_per_s(), "cells/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def _layer_metrics(tr, res) -> dict:
    def ms(name):
        m = _median(tr.durations(name))
        return None if m is None else m * 1000

    def mean(name):
        xs = tr.counts.get(name)
        return sum(xs) / len(xs) if xs else None

    parts = tr.counts.get("sources.datasource.read_part", [])
    cells = sum(p[2] for p in parts)
    read_s = sum(p[0] for p in parts)
    arrow_s = sum(p[1] for p in parts)
    per_mcell = (lambda s: s / cells * 1e6) if cells else (lambda s: None)
    encode = tr.durations("sources.cells.encode_rows")
    encoded = tr.counts.get("sources.cells.rows_encoded", [])
    compose = tr.counts.get("plans.composer.compose_s")

    overhead = []
    for kind in {s.kind for s in res.samples}:
        on, off = res.p50_ms(kind=kind, traced=True), res.p50_ms(kind=kind, traced=False)
        if on is not None and off is not None:
            overhead.append(on - off)

    return {
        "session.load_ms": (ms("session.load"), "ms"),
        "session.plan_ms": (ms("session.plan"), "ms"),
        "session.exec_ms": (ms("session.exec"), "ms"),
        "session.jobs_per_op": (mean("session.jobs"), "count"),
        "session.stages_per_op": (mean("session.stages"), "count"),
        "plans.composer.compose_us": (_median(compose) * 1e6 if compose else None, "us"),
        "sources.cells.read_manifest_ms": (ms("sources.cells.read_manifest"), "ms"),
        "sources.datasource.plan_ms": (ms("sources.datasource.plan"), "ms"),
        "sources.datasource.ranges_per_op": (mean("sources.datasource.ranges"), "count"),
        "sources.datasource.files_kept_ratio": (mean("sources.datasource.files_kept_ratio"), "ratio"),
        "sources.datasource.read_ms": (ms("sources.datasource.read"), "ms"),
        "sources.datasource.read_s_per_mcell": (per_mcell(read_s), "s/Mcell"),
        "sources.datasource.arrow_read_s_per_mcell": (per_mcell(arrow_s), "s/Mcell"),
        "sources.datasource.pivot_decode_s_per_mcell": (per_mcell(read_s - arrow_s), "s/Mcell"),
        "sources.datasource.rows_out_per_cell": (
            sum(p[3] for p in parts) / cells if cells else None, "ratio"),
        "sources.bigtable_table.to_df_ms": (ms("sources.bigtable_table.to_df"), "ms"),
        "sources.cells.encode_row_us": (
            sum(encode) / sum(encoded) * 1e6 if encoded else None, "us"),
        "sources.datasource.write_commit_ms": (ms("sources.datasource.write_commit"), "ms"),
        "sources.cells.write_manifest_ms": (ms("sources.cells.write_manifest"), "ms"),
        "sources.cells.bytes_per_user_byte": (mean("sources.cells.bytes_per_user_byte"), "ratio"),
        "sources.grpc_transport.push_cells_ms": (ms("sources.grpc_transport.push_cells"), "ms"),
        "sources.proto.encode_mutate_ms": (ms("sources.proto.encode_mutate"), "ms"),
        "sources.proto.mutate_bytes_per_row": (mean("sources.proto.mutate_bytes_per_row"), "B/row"),
        "sources.wire.mutate_rows_ms": (ms("sources.wire.mutate_rows"), "ms"),
        "sources.wire.read_rows_ms": (ms("sources.wire.read_rows"), "ms"),
        "sources.datasource.wire_plan_ms": (ms("sources.datasource.wire_plan"), "ms"),
        "sources.datasource.wire_shards_per_read": (mean("sources.datasource.wire_shards"), "count"),
        "sources.fake_bigtable.read_rows_ms": (ms("sources.fake_bigtable.read_rows"), "ms"),
        "sources.fake_bigtable.mutate_rows_ms": (ms("sources.fake_bigtable.mutate_rows"), "ms"),
        "sources.fake_bigtable.sample_row_keys_ms": (ms("sources.fake_bigtable.sample_row_keys"), "ms"),
        "trace.overhead_ms": (_median(overhead), "ms"),
    }


def _steal_jiffies() -> int:
    """Time the hypervisor ran other guests on the host's CPUs, summed
    over CPUs -- a run with a lot of it was measured on a contended host."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("lookup", "scan"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"connbench: no {PACKAGE}/ under {ROOT}; nothing to measure", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import harness
    import layers
    import workloads
    from spans import Tracer, tree_peak_rss_mb

    # SIGTERM unwinds through the finally blocks, so Spark still stops
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = os.path.join(ROOT, ".bench_out")
    for stale in glob.glob(os.path.join(out, "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)  # left by a killed run
    work = os.path.join(out, f"run-{os.getpid()}")
    harness.prepare_env(ROOT, work)
    tracer = Tracer(enabled=bool(args.trace))
    steal0 = _steal_jiffies()
    cpus = harness.nproc()
    spark = None
    try:
        cells = gen.make_store_cells(args.seed, workloads.STORE)
        store, rep_s = workloads.timed_store_setups(cells, work, SETUP_REPS)
        t0 = time.perf_counter()
        spark = harness.start_session("connbench", cpus)
        session_s = time.perf_counter() - t0
        master = spark.sparkContext.master
        from datafusion_bigtable_spark.sources import datasource

        datasource.register(spark)
        bench = workloads.Bench(args.seed, store, cells, tracer)
        # the store's cells and the model are long-lived: keep the cyclic
        # collector from re-scanning them in the middle of timed ops
        gc.collect()
        gc.freeze()
        runner = harness.Runner(spark, tracer)
        cycle = workloads.cycle_for(bench, args.workload)

        t0 = time.perf_counter()
        n_warm = workloads.WARMUP_CYCLES[args.workload]
        warm = [runner.run_op(op, traced=False) for i in range(n_warm) for op in cycle(i)]
        warm_s = time.perf_counter() - t0
        setup_s = session_s + warm_s + statistics.median(rep_s)

        res = runner.closed_loop(cycle, args.seconds, trace=bool(args.trace), first=n_warm)
        checks = wrong = 0
        if args.trace:
            checks, wrong = layers.ingest_sweep(tracer, args.seed, cells, work)
            checks += len(tracer.counts.get("replay.wrong", []))
            wrong += sum(tracer.counts.get("replay.wrong", []))
        peak_mb = tree_peak_rss_mb(os.getpid())
    finally:
        if spark is not None:
            harness.stop_session(spark)

    attempted = res.attempted + len(warm) + checks
    failed = res.failed + sum(not s.ok for s in warm) + wrong
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "master": master,
        "git_sha": harness.git_sha(ROOT),
        "source_sha256": harness.source_digest(ROOT, PACKAGE),
        "store": workloads.store_size(bench),
        "host_steal_s": (_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK"),
        "setup": {"session_s": session_s, "warmup_s": warm_s, "store_build_s": rep_s},
        "op_ms": res.by_kind_ms(),
        "error_rate": failed / attempted,
    }
    if args.trace:
        metrics = _layer_metrics(tracer, res)
        tracer.dump(os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.json"), record)
    else:
        metrics = _e2e_metrics(res, setup_s, peak_mb)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
