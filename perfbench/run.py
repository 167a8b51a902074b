"""Closed-loop, single-client benchmark of firefly_vcut_spark.

    python3 perfbench/run.py --workload cron_tick --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload on
``local[nproc]`` with the session from ``session.get_spark`` as it is.
Set-up (session, inputs, bootstrap and a fixed number of warm-up ops) is
timed as ``setup_s``; then ops run back to back until their summed wall
reaches ``--seconds`` and at least three ops ran. Every measured op is
checked after the window.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it holds host diagnostics (CPU steal, load average, core counts, seed,
op counts, per-op walls and CPU times, failures). See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")

# The per-layer metrics every traced run reports, with their units. Values
# are medians over traced ops unless noted; a layer a workload never
# calls reports 0.
SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_max_over_median": "ratio",
}


def layer_units(queries) -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.empty_job_s": "s",
        "pipeline.bootstrap_s": "s",
        "pipeline.tick_s": "s",
        "pipeline.discover_s": "s",
        "pipeline.stream_s": "s",
        "pipeline.transcribe_s": "s",
        "pipeline.occurrences_s": "s",
        "snapshots.write_s": "s",
        "snapshots.write_calls": "count",
        "snapshots.bytes_written": "bytes",
        "snapshots.files_written": "count",
        "snapshots.bytes_per_archive": "bytes",
        "fuzzy.build_s": "s",
    }
    for name in queries:
        units[f"query.{name}.build_s"] = "s"
        units[f"query.{name}.exec_s"] = "s"
        units[f"query.{name}.jobs"] = "count"
    units.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    for layer in ("bench", "pipeline", "snapshots", "fuzzy", "query"):
        units[f"self.{layer}_s"] = "s"
    units["jvm.peak_rss_mb"] = "MB"
    units["trace.op_p50_s"] = "s"
    units["trace.untraced_op_p50_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


WORKLOAD_NAMES = ("cron_tick", "headline_queries")
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
# the window runs at least this many ops, so a median and a mean of op
# walls are two different numbers even when ops are long
MIN_OPS = 3


@dataclass
class OpRecord:
    i: int
    wall: float
    cpu: float
    traced: bool
    inp: object
    out: object = None
    obs: object = None
    error: str | None = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, no warm-up (self-test)")
    p.add_argument(
        "--corrupt-reference", action="store_true",
        help="check against a wrong reference, so every op must fail (self-test)",
    )
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def isolate(run_dir: str) -> None:
    """Point every scratch location of this process, its JVM and its
    Python workers into ``run_dir``, and size Spark to the visible cores."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts])),
    )
    tempfile.tempdir = tmp
    os.chdir(run_dir)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live descendant: the benchmark's own
    Python process, the JVM and Spark's Python workers. Time the
    hypervisor steals from the VM is not charged to processes."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        fields = stat[stat.rindex(")") + 2 :].split()  # from field 3, state
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime..cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def measure(wl, ctx, seconds: float, trace: bool) -> list[OpRecord]:
    """The measured window: ops back to back until their walls sum to
    ``seconds`` and at least ``MIN_OPS`` ran. A traced run interleaves
    untraced and traced ops as U T T U U T T U ..., so a warm-up trend
    does not bias the tracing overhead, and runs at least two of each."""
    records: list[OpRecord] = []
    busy, i = 0.0, wl.warmup_ops
    while True:
        n_traced = sum(r.traced for r in records)
        enough = busy >= seconds and len(records) >= MIN_OPS
        if enough and (not trace or min(n_traced, len(records) - n_traced) >= 2):
            return records
        traced = trace and len(records) % 4 in (1, 2)
        inp = wl.prepare(i)
        rec = OpRecord(i, 0.0, 0.0, traced, inp)
        scope = ctx.tracer.op_scope(i) if traced else nullcontext()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with scope:
                rec.out = wl.op(i, inp)
        except Exception:  # a failed op is counted, not fatal
            rec.error = traceback.format_exc()
        rec.wall = time.perf_counter() - t0
        rec.cpu = tree_cpu_s() - cpu0
        busy += rec.wall
        if rec.error is None:
            rec.obs = wl.observe(i, inp, rec.out)
        if traced:
            ctx.tracer.collect_spark(i)
        records.append(rec)
        i += 1


def install_spans(tracer) -> None:
    from firefly_vcut_spark import pipeline
    from firefly_vcut_spark.operators import fuzzy
    from firefly_vcut_spark.sources.snapshots import SnapshotStore
    from spans import record_written

    for stage in ("discover", "stream", "transcribe", "occurrences"):
        tracer.wrap(pipeline, f"stage_{stage}", f"pipeline.{stage}")
    tracer.wrap(pipeline, "run_pipeline", "pipeline.tick")
    tracer.wrap(SnapshotStore, "write", "snapshots.write", after=record_written)
    tracer.wrap(SnapshotStore, "read", "snapshots.read")
    tracer.wrap_everywhere(fuzzy, "fuzzy_occurrence_scan", "fuzzy.build")


def layer_metrics(wl, ctx, records, units, session_start_s) -> dict[str, float]:
    from spans import median_of

    traced = [(r, ctx.tracer.op_summary(r.i)) for r in records if r.traced]
    summaries = [s for _r, s in traced]

    def med(key):
        return median_of(summaries, key)

    spark = ctx.spark
    empty = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).count()
        empty.append(time.perf_counter() - t0)
    m = dict.fromkeys(units, 0.0)
    m["session.start_s"] = session_start_s
    m["session.empty_job_s"] = statistics.median(empty)
    for stage in ("tick", "discover", "stream", "transcribe", "occurrences"):
        m[f"pipeline.{stage}_s"] = med(f"pipeline.{stage}.s")
    m["snapshots.write_s"] = med("snapshots.write.s")
    m["snapshots.write_calls"] = med("snapshots.write.calls")
    m["snapshots.bytes_written"] = med("snapshots.write.bytes")
    m["snapshots.files_written"] = med("snapshots.write.files")
    m["fuzzy.build_s"] = med("fuzzy.build.s")
    for key in units:
        if key.startswith("query."):
            span, what = key.rsplit(".", 1)
            if what == "jobs":
                m[key] = med(f"jobs:{span}.build") + med(f"jobs:{span}.exec")
            else:
                m[key] = med(f"{span}.{what.removesuffix('_s')}.s")
        elif key.startswith("spark."):
            m[key] = med(key)
        elif key.startswith("self."):
            m[key] = med(key[:-2])
    m.update(wl.trace_metrics(traced))
    traced_p50 = statistics.median(r.wall for r in records if r.traced)
    untraced_p50 = statistics.median(r.wall for r in records if not r.traced)
    m["trace.op_p50_s"] = traced_p50
    m["trace.untraced_op_p50_s"] = untraced_p50
    m["trace.overhead_s"] = traced_p50 - untraced_p50
    return m


def run(args, run_dir: str) -> tuple[dict, dict]:
    from firefly_vcut_spark import cli
    from firefly_vcut_spark.session import get_spark

    import workloads
    from spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    try:
        tracer = Tracer(spark)
        ctx = workloads.Context(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            run_dir=run_dir,
            data_root=os.path.dirname(cli.DEFAULT_SF_DIR),
            tiny=args.tiny,
            corrupt=args.corrupt_reference,
        )
        wl = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            install_spans(tracer)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        for i in range(wl.warmup_ops):
            wl.op(i, wl.prepare(i))
        t3 = time.perf_counter()
        setup_s = t3 - PROCESS_START
        phases = {"session": session_start_s, "inputs": t2 - t1, "warmup": t3 - t2}

        cpu0 = cpu_times()
        records = measure(wl, ctx, args.seconds, bool(args.trace))
        cpu1 = cpu_times()
        rss = peak_rss_mb(jvm.pid)

        ok = [r for r in records if r.error is None]
        failures = {r.i: r.error.strip().splitlines()[-1] for r in records if r.error}
        failures.update(wl.check(ok) if ok else {})
        walls = [r.wall for r in records]
        window = sum(walls)
        if args.trace:
            units = layer_units(workloads.HeadlineQueries.QUERIES)
            values = layer_metrics(wl, ctx, records, units, session_start_s)
            values["jvm.peak_rss_mb"] = rss
        else:
            units = END_TO_END_UNITS
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(walls),
                "ops_per_s": len(records) / window,
            }
        tracer.unwrap()
    finally:
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    for i, reason in sorted(failures.items()):
        print(f"perfbench: op {i} failed: {reason}", file=sys.stderr)
    load = os.getloadavg()
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(records),
        "warmup_ops": wl.warmup_ops,
        "setup_phases_s": phases,
        "window_s": window,
        "op_walls_s": walls,
        "op_cpu_s": [r.cpu for r in records],
        "error_rate": len(failures) / len(records),
        "cpu_steal_share": steal_share(cpu0, cpu1),
        "loadavg": {"1m": load[0], "5m": load[1], "15m": load[2]},
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "failures": {str(i): reason for i, reason in sorted(failures.items())},
    }
    result = {
        "correct": not failures,
        "attempted": len(records),
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return result, diagnostics


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "firefly_vcut_spark", "__init__.py")):
        print(f"perfbench: no firefly_vcut_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    try:
        isolate(run_dir)
        result, diagnostics = run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
