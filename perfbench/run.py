"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_daily,lakehouse_maint}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one client in a closed
loop on ``local[<cpus>]``:

1. make the workload's inputs from the seed (untimed);
2. set up three times: a fresh import of ``jobminer_spark`` plus
   ``load_all_operators``, and ``session.get_spark``, which launches a
   new JVM each time (``setup_s`` is the median);
3. compute expected answers, then run one untimed warm-up pass (JVM
   JIT, codegen, Python workers);
4. run whole passes over the workload's operations until ``--seconds``
   have elapsed (at least two passes), checking every output.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
start with ``#`` and record the environment, the error rate and the
wall-clock timings.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_PASSES = 2


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """1g, or a quarter of host RAM when that is less."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(512, min(1024, kb // 4096))}m"


def _pin_env(run_dir: str, traced: bool) -> dict:
    """Environment set from outside the program, before Spark starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jtmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_DRIVER_MEMORY": _driver_memory(),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
    }
    # A fixed set of JIT-compiler threads, so their CPU time can be told
    # apart from the engine's work (see ``spans.jit_cpu_s``).
    java_opts = [f"-Djava.io.tmpdir={dirs['jtmp']}", "-XX:-UseDynamicNumberOfCompilerThreads"]
    submit = ["--conf", f"spark.driver.extraJavaOptions={' '.join(java_opts)}"]
    if traced:
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",  # one plain file per application
        ):
            submit += ["--conf", conf]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = None
    return dirs


def _setup_once():
    """Fresh package import + operator registration, then the session."""
    for m in [m for m in sys.modules if m == "jobminer_spark" or m.startswith("jobminer_spark.")]:
        del sys.modules[m]
    t0 = time.perf_counter()
    import jobminer_spark

    jobminer_spark.load_all_operators()
    t1 = time.perf_counter()
    from jobminer_spark.session import get_spark

    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class _SourceTap:
    """Wraps ``sources.load_table`` wherever the package bound it, to
    learn which tables an operation reads (warm-up) and, in a traced
    run, to time each call under its own job group."""

    def __init__(self, rec, wl):
        self.rec, self.wl = rec, wl
        self.op = None
        self.p = 0
        self.tables: dict[str, set[str]] = {}
        self.calls = 0
        self._saved: list[tuple[object, object]] = []

    def install(self) -> None:
        from jobminer_spark.sources import parquet

        orig = parquet.load_table
        tap = self

        def load_table(spark, sf_dir, name):
            if tap.op is None:
                return orig(spark, sf_dir, name)
            tap.tables.setdefault(tap.op, set()).add(name)
            tap.calls += 1
            g = tap.wl.group(tap.op, tap.p, f"source{tap.calls}")
            with tap.rec.span("load_table", g, op=tap.op, p=tap.p, phase="source", table=name):
                return orig(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("jobminer_spark") and getattr(mod, "load_table", None) is orig:
                self._saved.append((mod, orig))
                mod.load_table = load_table

    def remove(self) -> None:
        for mod, orig in self._saved:
            mod.load_table = orig
        self._saved = []


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    if not os.path.isfile(os.path.join(ROOT, "jobminer_spark", "__init__.py")):
        print(f"perfbench: no jobminer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads
    from layers import build_jobs_by_op, per_layer
    from spans import Recorder, eventlog_bytes, jit_cpu_s, tree_cpu_s

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = _pin_env(run_dir, traced)
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)

    clock = {"start": time.perf_counter()}
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    rec = Recorder(run_id, traced)
    wl = workloads.WORKLOADS[args.workload](run_dir, args.seed)
    wl.make_inputs()
    import pyspark.sql  # noqa: F401  (library import, not part of set-up)

    clock["inputs"] = time.perf_counter()
    # -- set-up ------------------------------------------------------------
    spark = None
    load_s, spark_s = [], []
    for _ in range(SETUPS):
        if spark is not None:
            _stop(spark)
        spark, a, b = _setup_once()
        load_s.append(a)
        spark_s.append(b)
    setup_s = statistics.median(a + b for a, b in zip(load_s, spark_s))
    sc = spark.sparkContext
    env_line = {
        "cpus": _cpus(),
        "defaultParallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "master": sc.master,
    }
    clock["setup"] = time.perf_counter()
    rec.attach(spark)
    wl.prepare(spark, rec)
    clock["prepare"] = time.perf_counter()

    # -- warm-up pass (untimed), learning which tables each op reads ------
    tap = _SourceTap(rec, wl)
    tap.install()
    errors: list[str] = []
    attempted = 0

    def run_op(op, p):
        nonlocal attempted
        attempted += 1
        tap.op, tap.p = op.name, p
        n0 = len(rec.spans)
        try:
            err = wl.run(op, p)
        except Exception as e:  # a failed operation counts, the run goes on
            traceback.print_exc()
            err = f"{op.name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
        tap.op = None
        if err:
            errors.append(f"pass {p}: {err}")
        phases = [s for s in rec.spans[n0:] if s.get("phase") in ("build", "collect", "sink")]
        return sum(s["end"] - s["start"] for s in phases), err

    rec_traced = rec.traced
    rec.traced = False  # warm-up jobs are not counted
    for op in wl.ops:
        run_op(op, 0)
    rec.traced = rec_traced
    if hasattr(wl, "tables_read"):
        for op in wl.ops:
            wl.tables_read(op, tap.tables.get(op.name, set()))
    if not traced:
        tap.remove()
    warm_spans = len(rec.spans)

    clock["warmup"] = time.perf_counter()

    # -- timed passes ----------------------------------------------------
    op_times: dict[str, list[float]] = {op.name: [] for op in wl.ops}
    pass_times: list[float] = []
    counts: list[dict] = []
    t_start = time.perf_counter()
    p = 0
    pass_jobs: list[dict] = []
    pass_cpu: list[float] = []
    pass_jit: list[float] = []
    jvm_pid = sc._gateway.proc.pid
    while p < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        p += 1
        if not traced:  # a traced run counts per phase instead
            rec.sweep()
            sc.setJobGroup(f"pass|{p}", "")
        cpu0, jit0 = tree_cpu_s(), jit_cpu_s(jvm_pid)
        total = 0.0
        for op in wl.ops:
            dt, err = run_op(op, p)
            total += dt
            op_times[op.name].append(dt)
            c = {"op": op.name, "p": p, "rows_out": wl.rows_out, "ok": err is None}
            c.update(wl.layer_counts(op, p))
            counts.append(c)
        pass_times.append(total)
        jit = jit_cpu_s(jvm_pid) - jit0
        pass_jit.append(jit)
        pass_cpu.append(tree_cpu_s() - cpu0 - jit)
        if not traced:
            pass_jobs.append(rec.job_counts(f"pass|{p}"))
    n_passes = p
    clock["timed"] = time.perf_counter()

    wall_s = statistics.median(pass_times)
    rows_per_pass = sum(op.input_rows for op in wl.ops)
    bytes_in = sum(op.input_bytes for op in wl.ops)
    bytes_out = [
        sum(c.get("sink_bytes", 0) + c.get("lake_bytes", 0) for c in counts if c["p"] == q)
        for q in range(1, n_passes + 1)
    ]
    timings = {
        "wall_s": (wall_s, "s"),
        "rows_per_s": (rows_per_pass / wall_s, "1/s"),
        "op_geomean_s": (
            math.exp(statistics.fmean(math.log(max(statistics.median(v), 1e-9)) for v in op_times.values())),
            "s",
        ),
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (statistics.median(pass_cpu), "s"),
        "jobs_per_pass": (statistics.median(j["jobs"] for j in pass_jobs) if pass_jobs else 0, "count"),
        "tasks_per_pass": (statistics.median(j["tasks"] for j in pass_jobs) if pass_jobs else 0, "count"),
        "bytes_written_per_input_byte": (statistics.median(bytes_out) / bytes_in, "ratio"),
        "peak_rss_mb": (
            (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0,
            "MB",
        ),
    }

    app_id = sc.applicationId
    _stop(spark)
    clock["stop"] = time.perf_counter()
    if traced:
        metrics = per_layer(
            rec.spans[warm_spans:], counts, wl, load_s, spark_s, pass_times, pass_jit,
            eventlog_bytes(os.path.join(dirs["eventlog"], app_id)),
        )
        rec.dump(os.path.join(work_root, "spans", f"{run_id}.jsonl"))
    else:
        metrics = e2e

    failed = len(errors)
    if traced:
        print("# build_jobs per op and pass: " + json.dumps(build_jobs_by_op(rec.spans)))
    for e in errors[:20]:
        print(f"# error: {e}")
    env_line.update(passes=n_passes, ops=len(wl.ops), error_rate=failed / attempted)
    print("# " + json.dumps(env_line))
    print("# timings: " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in timings.items()}))
    stages = list(clock)
    print("# stage seconds: " + json.dumps(
        {b: round(clock[b] - clock[a], 2) for a, b in zip(stages, stages[1:])}
    ))
    print("# cpu seconds per pass, JIT threads apart: " + json.dumps(
        {"work": [round(x, 2) for x in pass_cpu], "jit": [round(x, 2) for x in pass_jit]}
    ))
    print("# op seconds per pass: " + json.dumps(
        {k: [round(x, 3) for x in v] for k, v in op_times.items()}
    ))
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
