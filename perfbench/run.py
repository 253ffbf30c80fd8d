"""Benchmark entry point: one workload per run, in a fresh Spark application.

    python3 perfbench/run.py --workload lake_sync --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30

Workloads (closed loop: one client, one process, operations in strict
sequence, on local[nproc]):

- lake_sync: `runner.run_once` rounds over a lake generated from the
  seed (sync.py, lake.py);
- query_mix: registry queries forced through the noop sink over the
  dataset in perfbench/data (queries.py).

The run prints the workload's metrics under their own names (unit,
sample count, check result), then, as its last line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, measured untraced; with `--trace 1`
timing wrappers are installed (spans.py) and the metrics are the
per-layer ones, with the module-level breakdown printed above them.
`--workload all` runs every workload untraced and traced, each in its
own process, and prints every table plus the tracing overhead.

Everything the run writes (lake, checkpoint state, mirror, scratch,
Spark local dirs) lives in a temporary directory inside the checkout
that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from statistics import fmean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_sync", "query_mix")

# generic op kinds each workload's op kinds map onto
KINDS = {
    "lake_sync": {"cold": "first", "noop": "repeat", "delta": "op"},
    "query_mix": {"cold": "first", "warm": "repeat"},
}
LAYER_FIELDS = ("plan_s", "exec_s", "state_s", "other_s", "jobs", "tasks")
A_PHASES = ("discover", "properties", "archived_v2", "timeline_list", "batch", "mirror", "checkpoint")


def _environment(tmp: str) -> int:
    """Run hygiene: every path the program or Spark writes goes under
    `tmp`, Python workers can import the package from any cwd, and the
    engine sizes itself to the CPUs this process may use."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("scratch", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        LAKEVIEW_SCRATCH_DIR=os.path.join(tmp, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None  # tempfile caches its directory; let TMPDIR apply
    sys.path.insert(0, ROOT)
    return cpus


def _start_spark(tmp: str, cpus: int, workload: str):
    from lakeview_spark.session import get_spark

    return get_spark(
        f"perfbench-{workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the application and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _group_sums(ops) -> dict:
    from spans import ROLES

    out = {f"{r}_s": sum(o.by("self_s", "role").get(r, 0.0) for o in ops) for r in ROLES}
    out["other_s"] = sum(o.other_s for o in ops)
    out["jobs"] = sum(s.jobs for o in ops for s in (o.root, *o.spans))
    out["tasks"] = sum(s.tasks for o in ops for s in (o.root, *o.spans))
    return out


def layer_metrics(workload: str, tracer) -> dict:
    """Per-layer metrics in the benchmark's generic form: for each op
    kind (first / repeat / op) the mean, over its samples, of the self
    time of each role, the residual, and the Spark jobs and tasks.

    A sample is what one end-to-end sample covers: a round for
    lake_sync; for query_mix a whole pass for the first and repeat
    kinds, and a single warm query execution for the op kind."""
    samples: dict[str, dict] = {"first": {}, "repeat": {}, "op": {}}
    for i, o in enumerate(tracer.ops):
        kind = KINDS[workload][o.kind]
        samples[kind].setdefault(o.group, []).append(o)
        if workload == "query_mix" and kind == "repeat":
            samples["op"][i] = [o]
    metrics = {}
    for kind, groups in samples.items():
        sums = [_group_sums(ops) for ops in groups.values()]
        for field in LAYER_FIELDS:
            metrics[f"{kind}.{field}"] = fmean(s[field] for s in sums)
    metrics["overhead_s"] = tracer.overhead_s
    return metrics


def module_table(workload: str, tracer) -> list[tuple[str, float, str, int]]:
    """The module-level breakdown: (name, value, unit, samples), one row
    per metric and op kind, each the median over that kind's groups."""
    rows = []
    by_kind: dict[str, list] = {}
    for o in tracer.ops:
        by_kind.setdefault(o.kind, []).append(o)
    if workload == "lake_sync":
        for kind, ops in by_kind.items():
            n = len(ops)
            selfs = [o.by("self_s", "name") for o in ops]
            jobs = [o.by("jobs", "name") for o in ops]
            for p in A_PHASES:
                rows.append((f"a.{p}.s.{kind}", median(s.get(p, 0.0) for s in selfs), "s", n))
                rows.append((f"a.{p}.jobs.{kind}", median(j.get(p, 0) for j in jobs), "count", n))
            rows.append((f"a.other.s.{kind}", median(o.other_s for o in ops), "s", n))
            sums = [_group_sums([o]) for o in ops]
            rows.append((f"a.spark.jobs.{kind}", median(s["jobs"] for s in sums), "count", n))
            rows.append((f"a.spark.tasks.{kind}", median(s["tasks"] for s in sums), "count", n))
            for c in ("discover.list_calls", "timeline_list.calls", "timeline_list.entries",
                      "batch.files", "mirror.files", "checkpoint.upserts"):
                rows.append((f"a.{c}.{kind}", median(o.counters.get(c, 0) for o in ops), "count", n))
            ratio = [o.counters.get("batch.files", 0) / max(1, o.counters.get("timeline_list.entries", 0)) for o in ops]
            rows.append((f"a.batch.useful_ratio.{kind}", median(ratio), "ratio", n))
    else:
        from queries import MIX

        for kind, ops in by_kind.items():
            passes: dict[int, list] = {}
            for o in ops:
                passes.setdefault(o.group, []).append(o)
            k = len(passes)

            def per_pass(fn):
                return median(sum(fn(o) for o in ps) for ps in passes.values())

            rows.append((f"b.plan.s.{kind}", per_pass(lambda o: o.by("self_s", "name").get("plan", 0.0)), "s", k))
            rows.append((f"b.exec.s.{kind}", per_pass(lambda o: o.by("self_s", "name").get("exec", 0.0)), "s", k))
            rows.append((f"b.scratch.build_s.{kind}", per_pass(lambda o: o.by("self_s", "name").get("scratch.build", 0.0)), "s", k))
            rows.append((f"b.other.s.{kind}", per_pass(lambda o: o.other_s), "s", k))
            rows.append((f"b.spark.jobs.{kind}", per_pass(lambda o: _group_sums([o])["jobs"]), "count", k))
            rows.append((f"b.spark.tasks.{kind}", per_pass(lambda o: _group_sums([o])["tasks"]), "count", k))
            for c in ("scratch.builds", "scratch.hits", "scratch.bytes"):
                rows.append((f"b.{c}.{kind}", per_pass(lambda o, c=c: o.counters.get(c, 0)), "count", k))
            for q in MIX:
                rows.append((f"q.{q}.s.{kind}", median(o.wall for o in ops if o.name == q), "s", k))
    rows.append(("trace.overhead_s", tracer.overhead_s, "s", len(tracer.ops)))
    return rows


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        cpus = _environment(tmp)
        from spans import NullTracer, Tracer

        spark = _start_spark(tmp, cpus, workload)
        tracer = Tracer(spark) if trace else NullTracer()
        if workload == "lake_sync":
            from sync import LakeSync

            w = LakeSync(spark, tmp, seed, tracer)
        else:
            from queries import QueryMix

            w = QueryMix(spark, seed, tracer)
        w.setup()
        setup_s = time.perf_counter() - t0
        if trace:
            tracer.install_spark()
            tracer.install_runner()
            tracer.install_materialize()
        try:
            w.measure(seconds)
        finally:
            if trace:
                tracer.uninstall()
        rows = w.report()
        if trace:
            metrics = layer_metrics(workload, tracer)
            rows += module_table(workload, tracer)
        else:
            metrics = {"setup_s": setup_s, **w.end_to_end()}
            rows.insert(0, ("setup_s", setup_s, "s", 1))
        failed = len(w.failures)
        rows.append(("ops_failed_ratio", failed / w.attempted, "ratio", w.attempted))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        os.sync()  # finish this run's disk work before the next run starts
    for name, value, unit, n in rows:
        print(f"{workload:10s} {name:44s} {value:14.6f} {unit:6s} n={n}")
    for f in w.failures:
        print(f"{workload:10s} FAILED {f}")
    print(f"{workload:10s} check: {'ok' if not failed else 'FAILED'} ({failed} of {w.attempted} ops failed)")
    units = {name: "count" if name.endswith(("jobs", "tasks")) else "s" for name in metrics}
    return {
        "correct": failed == 0,
        "attempted": w.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def run_all(seed: int, seconds: float) -> dict:
    """Every workload untraced then traced, each in a fresh process; the
    tracing overhead is the traced first pass minus the untraced one."""
    results = {}
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
            lines = out.strip().splitlines()
            print("\n".join(lines[:-1]))
            results[f"{workload}/trace{trace}"] = json.loads(lines[-1])
    for workload in WORKLOADS:
        plain = results[f"{workload}/trace0"]["metrics"]["first_pass_s"]["value"]
        traced = results[f"{workload}/trace1"]
        wall = sum(traced["metrics"][f"first.{f}"]["value"] for f in ("plan_s", "exec_s", "state_s", "other_s"))
        print(f"{workload:10s} {'trace.wall_overhead_s (first pass)':44s} {wall - plain:14.6f} s")
    return {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "lakeview_spark")):
        print(f"perfbench: no lakeview_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        result = run_all(args.seed, args.seconds)
    else:
        result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
