"""Workload-independent harness: the session, the closed loop, per-op
session spans and the result record.

Nothing here knows about the connector.  A workload hands the loop a
cycle of ops; each op builds a DataFrame and runs one action.  With
tracing on, the harness splits every op into ``session.load`` (building
the DataFrame), ``session.plan`` (forcing ``executedPlan``) and
``session.exec`` (the action), and counts the op's Spark jobs and stages
through ``statusTracker``.  Other query runners (a per-query bench or
profiler) can drive the same loop with their own ops.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable


MIN_CYCLES = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str, driver_memory: str = "2g") -> None:
    """Point Spark, the JVM and every Python worker at ``work`` for their
    temporary files and put the program on the workers' ``PYTHONPATH``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(java_opts),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def start_session(app: str, cpus: int):
    from datafusion_bigtable_spark.session import get_spark

    return get_spark(app, cpus=cpus)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_digest(root: str, package: str) -> str:
    """sha256 over the program's source files, so a record names the code
    it measured even where there is no git checkout."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, filenames in sorted(os.walk(base)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None  # an exported tree (or one nested in another repo)
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


@dataclass
class Op:
    """One closed-loop operation.  ``build(spark)`` returns the DataFrame
    (the ``load()`` / ``to_df()`` call), ``action(df)`` runs it, and
    ``check(result)`` returns True when the output matches the model.
    ``front`` is ``ds`` or ``table``; ``cells`` is the store cells the op
    covers.  ``replay`` (traced runs only) repeats the op's connector
    calls in-process under the op's id."""

    kind: str
    front: str
    cells: int
    build: Callable
    action: Callable
    check: Callable
    replay: Callable | None = None
    build_span: str = "session.load"


@dataclass
class Sample:
    kind: str
    front: str
    cells: int
    seconds: float
    ok: bool
    traced: bool


@dataclass
class LoopResult:
    samples: list[Sample] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.samples)

    def p50_ms(self, front: str | None = None, traced: bool | None = None, kind=None) -> float | None:
        xs = [
            s.seconds
            for s in self.samples
            if (front is None or s.front == front)
            and (traced is None or s.traced == traced)
            and (kind is None or s.kind == kind)
        ]
        return statistics.median(xs) * 1000 if xs else None

    def cells_per_s(self) -> float:
        """Throughput of a median cycle: cells per op of each kind over the
        sum of the kinds' median latencies (one slow op moves a median,
        not the whole figure)."""
        kinds = {s.kind for s in self.samples}
        cells = seconds = 0.0
        for k in kinds:
            xs = [s for s in self.samples if s.kind == k]
            cells += statistics.mean(s.cells for s in xs)
            seconds += statistics.median(s.seconds for s in xs)
        return cells / seconds

    def by_kind_ms(self) -> dict:
        return {
            k: [s.seconds * 1000 for s in self.samples if s.kind == k]
            for k in sorted({s.kind for s in self.samples})
        }


class Runner:
    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self._op_id = 0

    def run_op(self, op: Op, traced: bool) -> Sample:
        """Run ``op`` once; the sample's time covers build + plan + action.
        A raised error or a wrong result counts the op as failed."""
        self._op_id += 1
        op_id = self._op_id
        sc = self.spark.sparkContext
        tr = self.tracer if traced else None
        group = f"connbench-op-{op_id}"
        ok = False
        t0 = time.perf_counter()
        try:
            if tr is None:
                result = op.action(op.build(self.spark))
                seconds = time.perf_counter() - t0
            else:
                sc.setJobGroup(group, op.kind)
                with tr.span("op." + op.kind, op_id):
                    with tr.span(op.build_span, op_id):
                        df = op.build(self.spark)
                    with tr.span("session.plan", op_id):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("session.exec", op_id):
                        result = op.action(df)
                seconds = time.perf_counter() - t0
                sc._jsc.clearJobGroup()
                jobs = sc.statusTracker().getJobIdsForGroup(group)
                stages = sum(
                    len(info.stageIds)
                    for info in (sc.statusTracker().getJobInfo(j) for j in jobs)
                    if info is not None
                )
                tr.count("session.jobs", len(jobs))
                tr.count("session.stages", stages)
            ok = bool(op.check(result))
            if not ok:
                print(f"connbench: WRONG result for op {op_id} ({op.kind})", file=sys.stderr)
        except Exception:  # an op failure is counted, the loop keeps running
            seconds = time.perf_counter() - t0
            print(f"connbench: op {op_id} ({op.kind}) failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        if traced and op.replay is not None:
            op.replay(op_id)
        return Sample(op.kind, op.front, op.cells, seconds, ok, traced)

    def closed_loop(
        self,
        cycle: Callable[[int], list[Op]],
        seconds: float,
        trace: bool,
        first: int = 0,
    ) -> LoopResult:
        """One client: run whole cycles of ops, ``cycle(first)`` onwards,
        back to back until ``seconds`` have passed, and at least
        ``MIN_CYCLES`` of them.  With ``trace``, every other op is traced,
        shifted by one each cycle, so traced and untraced ops of every
        kind interleave (two cycles give each kind both) and the
        difference is the tracing overhead."""
        res = LoopResult()
        deadline = time.perf_counter() + seconds
        i = first
        while True:
            for j, op in enumerate(cycle(i)):
                res.samples.append(self.run_op(op, traced=trace and (i + j) % 2 == 1))
            i += 1
            if i - first >= MIN_CYCLES and time.perf_counter() >= deadline:
                return res
