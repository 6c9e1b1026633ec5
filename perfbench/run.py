"""Seeded benchmark of the linkgraph engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --write-manifest     # regenerate BENCHMARK.json

Run from the repository root. One process starts a SparkSession on
``local[N]`` (N = usable cores) through ``linkgraph.session.get_spark``,
makes the workload's inputs from the seed, computes the oracle, runs
one excluded warm-up op and then ops in a closed loop for ``--seconds``.
Every op's outputs are checked against the oracle outside its timing;
an op that raises or is wrong counts as failed and gives no timing.
All scratch files live in ``.perfbench_work/`` under the root and are
deleted at exit, and the Spark JVM and its Python workers are stopped
and waited for.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``END_TO_END``); with ``--trace 1`` the per-layer ones
(``PER_LAYER``). A traced run runs half its window untraced, then
the other half, with its own session start, setup and warm-up op, in a
child process whose session has the Spark event log on; task metrics
come from the event log, reduced per call tag, and ``trace.overhead_s``
is the traced op median minus the untraced one.
A per-layer metric of a layer the workload does not run reads 0.
The line before the last holds the run's detail: the op walls, the tail
percentile, host steal, round counts of this seed, any failed check and
the untraced per-layer values.

End-to-end metrics (untraced runs only):

* ``setup_s``: session start plus the median of ``SETUP_REPS`` input
  generations (a session starts once per process); no warm-up, no oracle.
* ``op_p50_s``: median wall of the window's good ops.
* ``op_tail_s``: the highest percentile with at least ten samples above
  it; with ten ops or fewer, the slowest op. The percentile and the
  sample count are ``op_tail.pct`` and ``op.samples``.
* ``edges_per_s``: ``PageRankResult.edges_processed`` of an op's first
  pagerank call over that call's wall, median over ops.
* ``peak_rss_mb``: the JVM's ``VmHWM`` at the end of the window. The
  heap is fixed and pre-touched, so this moves with off-heap and
  native memory, not with when G1 decided to grow the heap.

The share of failed ops is ``failed / attempted`` of the result line;
it is 0 on a correct engine, so it is not a bounded metric.

Each run pays about 30 s of JVM start and warm-up before its window, so
the window holds one or two ops, and on a shared virtual machine the
hypervisor steals CPU in bursts (``host.steal_pct`` in the detail line;
8% steal made one measured 4-core run 45% slower): the bounds are wide
and a comparison needs the medians of many seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_SECONDS = 13
SETUP_REPS = 3
DRIVER_MEMORY = "1g"

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("edges_per_s", "edges/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
]

_KERNELS = ("pagerank", "cc", "labelprop", "triangles")
_TRACED_LAYERS = ("build",) + _KERNELS + ("checkpoint",)
_PROBES = ("rdds_leaked", "edges_cache_lost", "temp_views_left", "conf_changed")
_SPARK = (
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("scheduler_delay_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
    ("self_s", "s"),
)
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("warmup_s", "s", "lower"),
        ("datagen.s", "s", "lower"),
        ("extract.s", "s", "lower"),
        ("extract.edges", "count", "higher"),
        ("build.ids_s", "s", "lower"),
        ("build.edges_s", "s", "lower"),
        ("build.s", "s", "lower"),
        ("build.jobs", "count", "lower"),
        ("pagerank.s", "s", "lower"),
        ("pagerank.rounds", "count", "lower"),
        ("pagerank.chains", "count", "lower"),
        ("pagerank.jobs", "count", "lower"),
        ("pagerank.stages", "count", "lower"),
        ("pagerank.jobs_per_round", "jobs/round", "lower"),
        ("pagerank.s_per_round", "s", "lower"),
        ("pagerank.repeat_s", "s", "lower"),
        ("pagerank.repeat_jobs", "count", "lower"),
        ("pagerank.rounds_to_tol", "count", "lower"),
        ("cc.s", "s", "lower"),
        ("cc.rounds", "count", "lower"),
        ("cc.jobs", "count", "lower"),
        ("cc.stages", "count", "lower"),
        ("labelprop.s", "s", "lower"),
        ("labelprop.rounds", "count", "lower"),
        ("labelprop.jobs", "count", "lower"),
        ("labelprop.stages", "count", "lower"),
        ("triangles.s", "s", "lower"),
        ("triangles.jobs", "count", "lower"),
        ("triangles.stages", "count", "lower"),
        ("triangles.count", "count", "higher"),
        ("checkpoint.saves", "count", "lower"),
        ("checkpoint.save_s", "s", "lower"),
        ("checkpoint.load_s", "s", "lower"),
        ("checkpoint.bytes", "bytes", "lower"),
        ("resume.s", "s", "lower"),
    ]
    + [(f"{layer}.{p}", "count", "lower") for layer in _KERNELS for p in _PROBES]
    + [(f"{layer}.{f}", unit, "lower") for layer in _TRACED_LAYERS for f, unit in _SPARK]
    + [
        ("jvm.cpu_util", "ratio", "higher"),
        ("jvm.gc_s", "s", "lower"),
        ("host.steal_pct", "%", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("op.samples", "count", "higher"),
        ("op_tail.pct", "%", "higher"),
    ]
)


def manifest() -> dict:
    from perfbench.workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


# ---------------------------------------------------------------------------
# process-level probes (the local JVM and the host)
# ---------------------------------------------------------------------------


class JvmProbe:
    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mx = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def _host_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


# ---------------------------------------------------------------------------
# session and process lifetime
# ---------------------------------------------------------------------------


def _jvm_scratch_opts(work: str) -> str:
    """Keep the JVMs' temporary files inside the work directory."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"


def start_session(work: str, cores: int, event_dir: str | None):
    from linkgraph.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then does not
        # depend on when G1 chose to grow the heap during the run
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {_jvm_scratch_opts(work)}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="linkgraph-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_jvm() -> None:
    """Stop the gateway JVM PySpark launched and every process under it,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    kids = _descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# one phase: session -> setup -> oracle -> warm-up -> closed-loop window
# ---------------------------------------------------------------------------


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, name))
        for base, _dirs, files in os.walk(path)
        for name in files
    )


def run_op(wl, spark, calls, work: str, inputs: dict, want: dict, op: str) -> dict:
    """One op: timed, then checked, then its finish step timed too."""
    from perfbench.workloads import Ctx

    rdds0, views0 = calls.persistent_rdd_ids(), calls.temp_views()
    ctx = Ctx(spark, calls, os.path.join(work, "ops", op))
    rec = {"op": op, "ok": False, "problems": []}
    try:
        t0 = time.perf_counter()
        out, finish = wl.op(ctx, inputs, op)
        t1 = time.perf_counter()
        rec["problems"] = wl.check(out, want)
        t2 = time.perf_counter()
        finish()
        rec["s"] = (t1 - t0) + (time.perf_counter() - t2)
        rec["ok"] = not rec["problems"]
    except Exception as exc:  # a failed op is counted, and the run goes on
        rec["problems"] = [f"{op}: {type(exc).__name__}: {exc}"]
        traceback.print_exc(file=sys.stderr)
    finally:
        # benchmark hygiene, outside the timing: every op starts from the
        # same caller state (what the op leaked is in its call probes)
        if os.path.isdir(ctx.op_dir):
            rec["ckpt_bytes"] = _dir_bytes(ctx.op_dir)
            shutil.rmtree(ctx.op_dir)
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in calls.persistent_rdd_ids() - rdds0:
            persistent.get(rid).unpersist(False)
        for view in calls.temp_views() - views0:
            spark.catalog.dropTempView(view)
    return rec


def run_phase(wl, seed: int, seconds: float, work: str, cores: int, event_dir=None) -> dict:
    """One session: start, setup (repeated), oracle, warm-up op, window."""
    from perfbench.calls import CallLog

    t0 = time.perf_counter()
    spark = start_session(work, cores, event_dir)
    start_s = time.perf_counter() - t0
    calls = CallLog(spark, wl.name)
    setups = []
    inputs = None
    for _ in range(SETUP_REPS):
        if inputs is not None:
            wl.release(inputs)
        t = time.perf_counter()
        inputs = wl.setup(spark, seed)
        setups.append(time.perf_counter() - t)
    _log(f"session {start_s:.1f}s, setup x{SETUP_REPS} {sum(setups):.1f}s")
    t = time.perf_counter()
    want = wl.oracle(inputs)
    _log(f"oracle {time.perf_counter() - t:.1f}s")
    t = time.perf_counter()
    warm = run_op(wl, spark, calls, work, inputs, want, "warmup")
    warmup_s = time.perf_counter() - t
    _log(f"warm-up op {warmup_s:.1f}s")
    probe = JvmProbe(spark)
    cpu0, gc0, host0 = probe.cpu_s(), probe.gc_s(), _host_ticks()
    w0 = time.perf_counter()
    ops = []
    while not ops or time.perf_counter() - w0 < seconds:
        ops.append(run_op(wl, spark, calls, work, inputs, want, f"op{len(ops)}"))
    window = time.perf_counter() - w0
    host1 = _host_ticks()
    d = [b - a for a, b in zip(host0, host1)]
    phase = {
        "session.start_s": start_s,
        "setup_s": start_s + statistics.median(setups),
        "datagen.s": statistics.median(setups),
        "warmup_s": warmup_s,
        "warmup": warm,
        "ops": ops,
        "records": calls.records,
        "rounds_to_tol": want["rounds_to_tol"],
        "jvm.cpu_util": (probe.cpu_s() - cpu0) / (window * cores),
        "jvm.gc_s": probe.gc_s() - gc0,
        "host.steal_pct": 100.0 * d[7] / max(sum(d), 1),  # field 8 of the cpu line
        "peak_rss_mb": probe.peak_rss_mb(),
    }
    _log(f"{len(ops)} ops in {window:.1f}s")
    spark.stop()
    return phase


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; the maximum when there are ten samples or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def _op_values(recs: list[dict], op: dict, events: dict) -> dict:
    """Per-layer values of one op, from its call records. A call name
    used twice (pagerank on rmat_kernels) keeps the first call as the
    layer's call; the second one is pagerank_repeat."""
    from perfbench.eventlog import FIELDS

    v: dict[str, float] = {}
    for r in recs:
        name = r["call"]
        if name == "pagerank_repeat":
            v["pagerank.repeat_s"], v["pagerank.repeat_jobs"] = r["s"], r["jobs"]
            continue
        if name == "resume":
            v["resume.s"], v["resume.rounds"] = r["s"], r["rounds"]
            continue
        v[f"{name}.s"] = r["s"]
        for k in ("jobs", "stages", "rounds", "chains", "count") + _PROBES:
            if k in r:
                v[f"{name}.{k}"] = r[k]
        if r.get("rounds"):
            v[f"{name}.jobs_per_round"] = r["jobs"] / r["rounds"]
            v[f"{name}.s_per_round"] = r["s"] / r["rounds"]
        child_s = sum(d for _, d in r["children"])
        if "phases" in r:
            ph = r["phases"]
            v["extract.s"], v["extract.edges"] = ph["extract_s"], r["extract_edges"]
            v["build.ids_s"], v["build.edges_s"] = ph["ids_s"], ph["build_s"]
            child_s += ph["extract_s"]
        elif name == "build":
            v["build.edges_s"] = r["s"]
        v[f"{name}.self_s"] = r["s"] - child_s
        if r["tag"] in events:
            for f in FIELDS:
                v[f"{name}.{f}"] = events[r["tag"]][f]
    spans = [(n, d) for r in recs for n, d in r["children"]]
    if spans:
        saves = [d for n, d in spans if n == "checkpoint.save"]
        v["checkpoint.saves"] = len(saves)
        v["checkpoint.save_s"] = sum(saves)
        v["checkpoint.load_s"] = sum(d for n, d in spans if n == "checkpoint.load")
        v["checkpoint.self_s"] = sum(d for _, d in spans)
        v["checkpoint.bytes"] = op.get("ckpt_bytes", 0)
        rows = [row for t, row in events.items() if any(t.startswith(r["tag"] + "/") for r in recs)]
        if rows:
            for f in FIELDS:
                v[f"checkpoint.{f}"] = sum(row[f] for row in rows)
    return v


def layer_values(phase: dict, events: dict) -> dict:
    """Median over the window's good ops of each per-layer value."""
    by_op: dict[str, list[dict]] = {}
    for r in phase["records"]:
        by_op.setdefault(r["op"], []).append(r)
    per_op = [_op_values(by_op.get(op["op"], []), op, events) for op in phase["ops"] if op["ok"]]
    keys = {k for vals in per_op for k in vals}
    return {k: statistics.median(vals[k] for vals in per_op if k in vals) for k in keys}


def _op_walls(phase: dict) -> list[float]:
    return [op["s"] for op in phase["ops"] if op["ok"]]


def _edges_per_s(phase: dict) -> float:
    """Per good op: PageRankResult.edges_processed of its first pagerank
    call over that call's wall. Median over ops."""
    good = {op["op"] for op in phase["ops"] if op["ok"]}
    first: dict[str, float] = {}
    for r in phase["records"]:
        if r["op"] in good and "edges" in r and r["op"] not in first:
            first[r["op"]] = r["edges"] / r["s"]
    return statistics.median(first.values()) if first else 0.0


def _detail(wl, seed: int, phase: dict, values: dict) -> dict:
    walls = _op_walls(phase)
    _, pct = tail(walls) if walls else (0.0, 0.0)
    return {
        "workload": wl.name,
        "seed": seed,
        "op_samples": len(walls),
        "op_walls_s": walls,
        "op_tail_pct": pct,
        "host_steal_pct": phase["host.steal_pct"],
        "rounds": {
            k: values[k]
            for k in ("pagerank.rounds", "cc.rounds", "labelprop.rounds", "resume.rounds")
            if k in values
        }
        | {"pagerank.rounds_to_tol": phase["rounds_to_tol"]},
        "problems": [p for op in [phase["warmup"]] + phase["ops"] for p in op["problems"]],
        "layers": values,
    }


def _counts(phase: dict) -> tuple[bool, int, int]:
    attempted = len(phase["ops"])
    failed = sum(not op["ok"] for op in phase["ops"])
    return failed == 0 and phase["warmup"]["ok"], attempted, failed


def end_to_end(phase: dict) -> dict:
    walls = _op_walls(phase)
    p50 = statistics.median(walls) if walls else 0.0
    tail_s, _ = tail(walls) if walls else (0.0, 0.0)
    values = {
        "setup_s": phase["setup_s"],
        "op_p50_s": p50,
        "op_tail_s": tail_s,
        "edges_per_s": _edges_per_s(phase),
        "peak_rss_mb": phase["peak_rss_mb"],
    }
    return {n: {"value": values[n], "unit": u} for n, u, _, _ in END_TO_END}


def per_layer(plain: dict, traced: dict, events: dict) -> dict:
    """Walls, counts and probes from the untraced phase; task metrics
    from the traced phase's event log."""
    from perfbench.eventlog import FIELDS

    values = layer_values(plain, {})
    traced_values = layer_values(traced, events)
    for layer in _TRACED_LAYERS:
        for f in FIELDS:
            if f"{layer}.{f}" in traced_values:
                values[f"{layer}.{f}"] = traced_values[f"{layer}.{f}"]
    walls, traced_walls = _op_walls(plain), _op_walls(traced)
    for k in ("session.start_s", "datagen.s", "warmup_s", "jvm.cpu_util", "jvm.gc_s",
              "host.steal_pct"):
        values[k] = plain[k]
    values["pagerank.rounds_to_tol"] = plain["rounds_to_tol"]
    values["op.samples"] = len(walls)
    values["op_tail.pct"] = tail(walls)[1] if walls else 0.0
    if walls and traced_walls:
        values["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
    return {n: {"value": values.get(n, 0), "unit": u} for n, u, _ in PER_LAYER}


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def _missing_program() -> str | None:
    for rel in ("linkgraph/__init__.py", "tests/oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _traced_phase(args, work: str) -> tuple[dict, dict]:
    """Run the traced half in a fresh process: PySpark cannot restart a
    SparkContext with Python UDFs in one process (its accumulator server
    breaks), and a fresh JVM warms up the same way as the untraced half."""
    out = os.path.join(work, "traced.json")
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds / 2), "--traced-phase", out]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=170)
    with open(out) as fh:
        data = json.load(fh)
    return data["phase"], data["events"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true")
    ap.add_argument("--traced-phase", help=argparse.SUPPRESS)  # internal: see _traced_phase
    args = ap.parse_args(argv)

    missing = _missing_program()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}: run from a linkgraph checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(manifest(), fh, indent=2)
            fh.write("\n")
        return 0

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_scratch_opts(work)  # spark-submit's launcher JVM
    try:
        if args.traced_phase:
            from perfbench.eventlog import reduce_event_log

            event_dir = os.path.join(work, "events")
            phase = run_phase(wl, args.seed, args.seconds, work, cores, event_dir)
            with open(args.traced_phase, "w") as fh:
                json.dump({"phase": phase, "events": reduce_event_log(event_dir)}, fh)
            return 0
        phase = run_phase(wl, args.seed, args.seconds / (2 if args.trace else 1), work, cores)
        stop_jvm()
        if args.trace:
            traced, events = _traced_phase(args, work)
            metrics = per_layer(phase, traced, events)
        else:
            metrics = end_to_end(phase)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    correct, attempted, failed = _counts(phase)
    if args.trace:
        c2, a2, f2 = _counts(traced)
        correct, attempted, failed = correct and c2, attempted + a2, failed + f2
    print(json.dumps(_detail(wl, args.seed, phase, layer_values(phase, {}))))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
