"""Seed self-test for the benchmark's generator.

    python3 connbench/selftest.py [seed]

Generates every input twice from the same seed -- the store's files, the
lookup op list, the scan shapes and the ingest batches -- and checks the
two copies are identical, then checks that the next seed gives different
inputs.  Needs pyarrow and numpy only; writes under ``.bench_out/`` in
the checkout and removes what it wrote.  Exits 1 on any mismatch.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import LOOKUPS_PER_RUN, STORE  # noqa: E402


def fingerprint(seed: int, work: str) -> dict:
    import pyarrow.parquet as pq

    path = os.path.join(work, f"store-{seed}")
    shutil.rmtree(path, ignore_errors=True)
    gen.write_store(gen.make_store_cells(seed, STORE), path, STORE.files)
    store = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        store.update(os.path.basename(f).encode())
        store.update(repr(pq.read_table(f).to_pydict()).encode())
    shutil.rmtree(path)
    batches = [gen.make_ingest_cells(seed, r, devices=4, minutes=120) for r in range(3)]
    return {
        "store": store.hexdigest(),
        "lookups": repr(gen.make_lookups(seed, STORE, LOOKUPS_PER_RUN)),
        "scan_shapes": repr(gen.make_scan_shapes(seed, STORE)),
        "ingest": repr([gen.relational_rows(b) for b in batches]),
    }


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    work = os.path.join(os.path.dirname(HERE), ".bench_out", f"selftest-{os.getpid()}")
    try:
        a, b, other = fingerprint(seed, work), fingerprint(seed, work), fingerprint(seed + 1, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bad = [k for k in a if a[k] != b[k]] + [f"{k} (seed {seed + 1})" for k in a if a[k] == other[k]]
    for k in a:
        print(f"{k}: {'same' if a[k] == b[k] else 'DIFFERENT'} for seed {seed}, "
              f"{'different' if a[k] != other[k] else 'SAME'} for seed {seed + 1}")
    if bad:
        print("selftest FAILED:", ", ".join(bad))
        return 1
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
