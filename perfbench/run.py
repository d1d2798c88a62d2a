"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload restore_fleet --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed`` under ``.bench_work/``,
starts one engine session on ``local[<cores>]``, builds the program's state
and runs one warm-up op (together: ``setup_s``), then runs ops in a closed
loop for ``--seconds`` and at least the workload's minimum number of ops
(four on ``ingest_stream`` and in a traced run). Every op's output is checked after it returns,
outside its timing. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` its per-layer metrics, taken from a separate run in which
alternate ops are traced (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import numpy as np

import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SCRATCH = os.path.join(ROOT, ".scratch")
#: slack (ms) between Python's and the JVM's reading of the same clock
CLOCK_SLACK_MS = 5
#: idle time before each traced-run op: a job an earlier op leaves to run
#: after it returned lands in the gap, outside every op's job-id range
SETTLE_S = 0.5
#: a run that has not finished by then raises and exits non-zero
DEADLINE_S = 170
#: the driver JVM's heap, fixed at start (-Xms = -Xmx)
HEAP = "2g"


class Context:
    """What a workload sees: the session, its input dir, the seed-derived
    generator, and hooks for timing setup steps and op spans."""

    def __init__(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.tracer = None
        self.phases: dict[str, float] = {}

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def span(self, name: str):
        if self.tracer is None or not self.tracer.enabled:
            return nullcontext()
        return self.tracer.span(name)


def _scratch_entries() -> set[str]:
    return set(os.listdir(SCRATCH)) if os.path.isdir(SCRATCH) else set()


def _remove_scratch(names) -> None:
    for name in names:
        path = os.path.join(SCRATCH, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.update(int(c) for c in f.read().split())
        except FileNotFoundError:  # the thread exited after the listing
            continue
    return out


def _stop(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and
    wait until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = _children(proc.pid)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # the Python workers exit on their own once the JVM is gone, but
    # only after about a second; asking them saves that per run
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _configure_env(cores: int) -> None:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap starts at its ceiling (driver memory, below): when G1
        # grew the heap during the run, op times differed by up to 40%
        # from run to run. Its pages are touched at start, so the resident
        # size does not depend on how much of the heap a short run reached.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell"
    )


def _tail(times: list[float]) -> tuple[float, str]:
    """The highest percentile with ten ops beyond it, or a quarter of the
    ops when the run has fewer than 40 (p75), and its name: a single stray
    op never sets the figure. A run of one to three ops reports its
    slowest op."""
    s = sorted(times)
    n = len(s)
    beyond = min(10, n // 4)
    k = n - 1 - beyond
    return s[k], f"p{100 * (k + 1) // n}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ufload_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2

    def expire(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(DEADLINE_S)

    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    _configure_env(cores)

    base = f"{wl.name}_s{args.seed}"
    data_dir = os.path.join(WORK, "data", base)
    # start from the same on-disk state: drop the engine's scratch state
    # for these inputs (ZIP fixtures, memo indexes, published targets)
    _remove_scratch(n for n in _scratch_entries() if base in n)
    before = _scratch_entries()
    ctx = Context(data_dir, args.seed)
    with ctx.timed("inputs_s"):
        gen.write_inputs(data_dir, wl.sizes, args.seed)
        wl.prepare(ctx)

    spark = None
    try:
        t_setup = time.perf_counter()
        with ctx.timed("session.start_s"):
            from ufload_spark.session import get_spark

            spark = get_spark(
                f"perfbench-{wl.name}", master=f"local[{cores}]", driver_memory=HEAP
            )
        ctx.spark = spark
        with ctx.timed("registry.load_all_s"):
            from ufload_spark.plans.registry import load_all

            load_all()
        status = layers.SparkStatus(spark) if args.trace else None
        if args.trace:
            ctx.tracer = layers.Tracer(status.next_job_id)
            layers.install(ctx.tracer)
            ctx.tracer.enabled = False
        with ctx.timed("workload.setup_s"):
            wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        with ctx.timed("oracle_s"):
            wl.expect(ctx)

        ops: list[dict] = []
        failed = 0
        # a traced run needs four ops for its ABBA order
        min_ops = max(wl.min_ops, 4 if args.trace else 1)
        t_loop = time.perf_counter()
        while True:
            i = len(ops)
            elapsed = time.perf_counter() - t_loop
            if elapsed >= args.seconds and len(ops) >= min_ops:
                break
            # traced runs trace ops in an ABBA order (untraced, traced,
            # traced, untraced, ...) so warm-up drift cancels in the overhead
            traced = bool(args.trace) and i % 4 in (1, 2)
            rec = {"traced": traced}
            if args.trace:
                time.sleep(SETTLE_S)
                ctx.tracer.enabled = traced
                rec["rdds0"] = status.persistent_rdds()
                rec["scratch0"] = _scratch_entries()
                rec["job0"] = status.next_job_id()
                spark.sparkContext.setJobGroup(f"perfbench-op{i}", "perfbench op")
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                res = wl.op(ctx, i)
                ok = True
            except Exception:  # a failing op is counted, the loop goes on
                print(f"op {i} raised:", file=sys.stderr)
                traceback.print_exc()
                res, ok = (0, None), False
            t1 = time.perf_counter()
            w1 = time.time()
            if res is None:
                break
            if args.trace:
                ctx.tracer.enabled = False
                rec["job1"] = status.next_job_id()
                rec["rdds1"] = status.persistent_rdds()
                rec["scratch_new"] = len(_scratch_entries() - rec.pop("scratch0"))
            items, output = res
            if ok and not wl.check(ctx, output):
                print(f"op {i} output differs from the oracle", file=sys.stderr)
                ok = False
            failed += not ok
            rec.update(t0=t0, t1=t1, w0=w0, w1=w1, wall=t1 - t0, items=items)
            ops.append(rec)

        if args.trace:
            time.sleep(SETTLE_S)
            late_jobs = status.next_job_id() - ops[-1]["job1"]
        with ctx.timed("final_check_s"):
            final_ok = wl.final_check(ctx)
        if not final_ok:
            print("final state differs from the oracle", file=sys.stderr)
            failed = len(ops)
        problems: list[str] = []
        if args.trace:
            metrics, problems = _layer_metrics(ctx, wl, ops, status, cores)
            if late_jobs:
                problems.append(f"{late_jobs} jobs ran after the last op returned")
            for p in problems:
                print(f"trace self-test: {p}", file=sys.stderr)
        else:
            walls = [o["wall"] for o in ops]
            tail, tail_pct = _tail(walls)
            metrics = {
                "setup_s": setup_s,
                "op_s_p50": layers.median(walls),
                "op_s_tail": tail,
                "items_per_s": sum(o["items"] for o in ops) / sum(walls),
                "ok_op_ratio": 1.0 - failed / len(ops),
                "peak_rss_mb": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
            }
            print(
                f"{wl.name}: {len(ops)} ops of " + " ".join(f"{w:.2f}" for w in walls)
                + f" s; op_s_tail is {tail_pct}",
                file=sys.stderr,
            )
    finally:
        signal.alarm(0)
        if spark is not None:
            with ctx.timed("stop_s"):
                _stop(spark)
        print("phases: " + ", ".join(f"{k} {v:.2f}" for k, v in ctx.phases.items()),
              file=sys.stderr)
        _remove_scratch(_scratch_entries() - before)
        shutil.rmtree(data_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": bool(final_ok and failed == 0 and not problems),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def _layer_metrics(ctx, wl, ops, status, cores):
    """Per-layer metrics (medians over the traced ops) and the traced
    run's self-test problems."""
    tracer = ctx.tracer
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    problems = layers.check_spans(tracer, [(o["t0"], o["t1"]) for o in traced], wl.spans)
    # the job-id ranges must cover every job the status store recorded
    # from the first op's start to the last op's end: a job that ran in
    # the settle gap between two ops belongs to neither
    status.drain_events()
    attributed = sum(o["job1"] - o["job0"] for o in ops)
    stored = status.jobs_in_store(ops[0]["job0"], ops[-1]["job1"])
    if stored != attributed:
        problems.append(f"ops attributed {attributed} jobs, status store holds {stored}")
    # ...and each job must have run inside the window of the op it is
    # charged to, by the status store's own clock
    for i, o in enumerate(ops):
        lo = o["w0"] * 1000 - CLOCK_SLACK_MS
        hi = o["w1"] * 1000 + CLOCK_SLACK_MS
        for jid in range(o["job0"], o["job1"]):
            sub, done = status.job_times_ms(jid)
            if sub is None or done is None or not lo <= sub <= done <= hi:
                problems.append(
                    f"job {jid} (submitted {sub}, completed {done}) ran outside "
                    f"op {i}'s window [{lo:.0f}, {hi:.0f}] ms"
                )

    per_op: list[dict[str, float]] = []
    for o in traced:
        spans = tracer.between(o["t0"], o["t1"])
        a, b = o["job0"], o["job1"]
        w = status.work(a, b)

        def total(name):
            return sum(s.end - s.start for s in spans if s.name == name)

        def count(name):
            return sum(1 for s in spans if s.name == name)

        def jobs(name):
            return sum(s.job1 - s.job0 for s in spans if s.name == name)

        inst = [s.end - s.start for s in spans if s.name == "restore_e2e.instance"]
        pubs = [s for s in spans if s.name == "loader.publish"]
        rejects = sum(1 for s in pubs if s.error == "AuditError")
        per_op.append({
            "spark.jobs": b - a,
            "spark.group_jobs": status.jobs_in_group(f"perfbench-op{ops.index(o)}"),
            "spark.stages": w["stages"],
            "spark.tasks": w["tasks"],
            "spark.core_busy_ratio": w["run_ms"] / 1000.0 / (o["wall"] * cores),
            "spark.exec_cpu_s": w["cpu_ns"] / 1e9,
            "spark.shuffle_read_mb": w["shuffle_read"] / 2**20,
            "spark.shuffle_write_mb": w["shuffle_write"] / 2**20,
            "spark.spill_mb": w["spill"] / 2**20,
            "spark.failed_tasks": w["failed_tasks"],
            "spark.rdds_left": o["rdds1"] - o["rdds0"],
            "listing.candidates_s": total("listing.candidates"),
            "restore_e2e.instance_s_p50": layers.median(inst),
            "restore_e2e.pool_overlap": sum(inst) / o["wall"],
            "zipsource.extract_calls": count("zipsource.extract"),
            "loader.publish_calls": len(pubs),
            "loader.publish_s": total("loader.publish"),
            "loader.audit_rejects": rejects,
            "loader.publish_ok_ratio": (len(pubs) - rejects) / len(pubs) if pubs else 0.0,
            "loader.scratch_dirs_left": o["scratch_new"],
            "delive.facts_s": total("delive.facts"),
            "pipeline.curate_s": total("pipeline.curate"),
            "pipeline.export_s": total("pipeline.export"),
            "graph.kcore_s": total("graph.kcore"),
            "graph.kcore_jobs": jobs("graph.kcore"),
            "analytics.recommendations_s": total("analytics.recommendations"),
            "analytics.recommendations_jobs": jobs("analytics.recommendations"),
            "streaming.exact_gate_s": total("streaming.exact_gate"),
            "streaming.neardup_gate_s": total("streaming.neardup_gate"),
        })
    metrics = {k: layers.median(op[k] for op in per_op) for k in per_op[0]}
    offered = getattr(wl, "n_offered", 0)
    metrics["streaming.admitted_ratio"] = (
        wl.n_admitted_near / offered if offered else 0.0
    )
    for name in ("session.start_s", "registry.load_all_s",
                 "restore_e2e.zip_build_s", "loader.memo_build_s"):
        metrics[name] = ctx.phases.get(name, 0.0)
    metrics["trace.overhead_s"] = layers.median(o["wall"] for o in traced) - layers.median(
        o["wall"] for o in plain
    )
    return metrics, problems


if __name__ == "__main__":
    sys.exit(main())
