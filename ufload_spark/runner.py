"""One entry point for running registered queries outside the test suite:
timing, scale spots, oracle sweeps, plan dumps, the plan audit and the
round close.

Run from the repo root (Spark's Python workers import ``ufload_spark``
from the working directory)::

    python -m ufload_spark.runner time q1,q2 [sf_dir]
    python -m ufload_spark.runner spot [--factor N] [--only a,b]
    python -m ufload_spark.runner sweep [sf_dir] [--only a,b] [--family F]...
    python -m ufload_spark.runner plans TAG q1,q2 [sf_dir] [--out DIR] [--executed]
    python -m ufload_spark.runner audit [sf_dir] [--only a,b]
    python -m ufload_spark.runner close FILE

``time`` and ``spot`` read their default source fixture from
``$SPARK_GRAFT_SF_DIR`` (default sf0.1), as ``bench.py`` does. Each mode
function takes a live session; only :func:`main` builds and stops one.
``bench.py`` keeps its own loop: its stdout line and timed region are a
contract of their own.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the parquet fixture tree (sf0.001, sf0.01, sf0.1) listed in TESTDATA.md
FIXTURES = "/root/testdata"

#: runs per query in ``time``: the median is the comparable statistic and
#: the first run doubles as the JIT/plan warm-up
PASSES = 3

#: exact-integer / fixed-point statistics whose oracle parity depends on
#: floor-division and rounding edges that shift with data volume
FIXEDPOINT = [
    "events_ab_test_ztest",
    "events_burstiness_fano",
    "events_chi2_independence",
    "events_cuped_adjustment",
    "events_cusum_drift",
    "events_diff_in_diff",
    # not fixed-point, but the same invisible-until-scale class: the HLL
    # HIP-vs-composite estimator split only appears past coupon mode
    "events_distinct_rollup_sketch",
    "events_emd_drift",
    "events_retention_decay_fit",
    "events_entropy_rate",
    "events_ks_drift_binned",
    "events_markov_stationary",
    "events_outlier_mad",
    "events_power_analysis",
    "events_survival_km",
    "customer_spend_gini",
    "graph_assortativity",
    "lineitem_anova_linenumber",
    "lineitem_correlation_matrix",
    "lineitem_ols_price_model",
    "lineitem_price_elasticity",
    "orders_acf_daily_revenue",
    "orders_benford_digits",
    "orders_bootstrap_ci",
    "orders_changepoint_binseg",
    "orders_forecast_holt_backtest",
    "orders_forecast_hw_backtest",
    "orders_forecast_naive_backtest",
    "orders_mannwhitney_u",
    "orders_seasonal_decompose",
    "orders_theilsen_trend",
    "orders_mann_kendall_trend",
    "events_sprt_monitor",
    "events_hmm_viterbi",
    "graph_hits_scores",
    "parts_croston_intermittent",
    "streaming_changepoint_monitor",
    "streaming_emd_monitor",
    "supplier_concentration_hhi",
    "text_zipf_fit",
]

#: probabilistic sketches / estimators / samplers whose contracts (error
#: envelopes, estimator mode switches, sampling thresholds) only stress at
#: volume — the HLL HIP-vs-composite split was invisible at sf0.01 and red
#: at sf0.1 (r7, commit 3cf751b); this tier makes that class systematic
SKETCH = [
    "events_distinct_rollup_sketch",  # HLL union vs direct, envelope contract
    "events_cumulative_distinct_users",
    "events_countmin_estimate",  # CMS merge + probe audit
    "streaming_countmin_sketch",  # CMS live vs batch parity
    "events_survival_km",  # KM product-limit fixed-point ladder
    "approx_distinct_parts",  # HLL vs exact, rsd contract
    "distinct_parts_per_flag",
    "orders_approx_quantiles",  # KLL-style quantile contract
    "features_quantile_binning",  # content-addressed sample thresholds
    "corpus_stratified_sample",  # deterministic hash-bucket sampling
    "corpus_reservoir_per_lang",
    "corpus_priority_sample",
    "dedup_bloom_prefilter",  # runtime Bloom FPP behavior
    "multimodal_frame_sample",
]

FAMILIES = {"fixedpoint": FIXEDPOINT, "sketch": SKETCH}

#: the heavy families: graph bucketed tiers, SemDeDup tiers, CF, ANN
#: incremental, streaming gates, LSH, and the composed flagship — the ops
#: whose scale behavior has historically broken first
SPOT = [
    "graph_pagerank_bucketed",
    "graph_lpa_bucketed",
    "graph_kcore_bucketed",
    "graph_bfs_bucketed",
    "dedup_semantic_pairs",
    "dedup_semantic_pairs_hier",
    "dedup_semantic_incremental",
    "part_similarity_cosine",
    "part_similarity_incremental",
    "similarity_ivf_incremental",
    "similarity_pq_incremental",
    "dedup_minhash_lsh_pairs",
    "streaming_ingest_gate",
    "streaming_neardup_gate",
    "restore_end_to_end",
    "text_quality_logreg",
    # r11: the decode-bound Arrow-map class (every frame of every video
    # synthesized, sliced and IHDR-decoded in Python) — a fragility mode
    # none of the shuffle-shaped entries above exercise
    "multimodal_video_neardup",
    "multimodal_video_neardup_incremental",
    "multimodal_video_keep_best_cut",
]

#: the audit's TSV columns after query/scans/dup_scan_tables, each a count
#: of one plan-text pattern
_AUDIT_COUNTS = {
    "exchanges": r"\bExchange\b",
    "reused_exch": r"ReusedExchange",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin|CartesianProduct",
    "py_nodes": r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|PythonMapInArrow",
    "windows": r"\bWindow\b",
    "subqueries": r"Subquery",
}


def session(app: str, *, plain: bool = False, driver_memory: str | None = None):
    """The tuned engine session, or with ``plain`` the bare one the
    verification driver hands us (none of our build confs; runtime tuning
    must self-apply). Both run on :func:`~ufload_spark.session.local_master`."""
    from ufload_spark.session import get_spark, local_master

    if plain:
        spark = (
            SparkSession.builder.appName(app)
            .master(local_master())
            .config("spark.driver.memory", "8g")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name=app, driver_memory=driver_memory)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Run registered query ``name`` through the noop sink and return its
    wall seconds; the session's caches are cleared afterwards either way,
    so one query's cached fragments never serve the next."""
    from ufload_spark.plans.registry import load_all

    fn = load_all()[name].fn
    spark.sparkContext.setJobDescription(f"runner: {name}")
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()


def plan(df: DataFrame, *, executed: bool = False) -> str:
    """``explain("formatted")`` of ``df``'s own QueryExecution. With
    ``executed`` the frame is collected first so the dump is the AQE-final
    plan (``isFinalPlan=true``, runtime exchange reuse visible); outputs
    are bounded at the fixture scales, so the collect is small."""
    if executed:
        df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def time_queries(spark: SparkSession, names: list[str], sf_dir: str) -> dict:
    """Fresh-process timing triples: :data:`PASSES` noop runs per query."""
    out = {}
    for name in names:
        runs = [round(run(spark, name, sf_dir), 3) for _ in range(PASSES)]
        out[name] = {"median": sorted(runs)[len(runs) // 2], "runs": runs}
    return {"sf_dir": sf_dir, "queries": out}


def spot(spark: SparkSession, src: str, factor: int, names: list[str]) -> dict:
    """The next-scale tier: synthesize a ``factor``× fixture from ``src``
    (``sources/scaleup.py``, workload-preserving key shifts) and run each
    query once. One warm pass, no medians — the point is smoking out
    does-it-still-run / does-the-plan-flip defects; a failure is the
    finding, so it is recorded and the next query runs."""
    from ufload_spark.sources.scaleup import ensure_scaled_fixture

    dest = os.path.join(REPO_ROOT, ".scratch", f"sfx{factor}")
    t0 = time.perf_counter()
    ensure_scaled_fixture(spark, src, dest, factor=factor)
    gen_s = round(time.perf_counter() - t0, 1)
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in names:
        try:
            timings[name] = round(run(spark, name, dest), 2)
        except Exception as ex:  # noqa: BLE001 — a spot failure IS the finding
            failures[name] = f"{type(ex).__name__}: {ex}"[:300]
    return {
        "metric": "spotbench_wall_sec",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "factor": factor,
        "gen_sec": gen_s,
        "queries": timings,
        "failures": failures,
    }


def sweep(spark: SparkSession, sf_dir: str, only: set[str] | None = None) -> int:
    """Every registered query (or ``only``) against its DuckDB oracle with
    the repo's type-strict comparator; prints a ``FAIL`` line per mismatch
    and a ``DONE`` summary, returns 1 on any failure (2 on unknown names)."""
    import __spark_entry__ as e
    from tests.oracle import compare

    qs, os_ = e.queries(), e.oracle_sql()
    if only is not None:
        missing = only - set(qs)
        if missing:
            print(f"UNKNOWN {sorted(missing)}", flush=True)
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    t0 = time.time()
    fails = []
    for name in sorted(qs):
        try:
            compare(qs[name](spark, sf_dir), os_[name], sf_dir)
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(f"FAIL {name} {str(ex)[:200]}", flush=True)
    print(
        f"DONE {len(qs)} queries, {len(fails)} fails, {time.time() - t0:.0f}s",
        flush=True,
    )
    return 1 if fails else 0


def dump_plans(
    spark: SparkSession, tag: str, names: list[str], sf_dir: str, out: str,
    *, executed: bool = False,
) -> list[str]:
    """Write :func:`plan` of each query to ``<out>/<q>_<tag>.txt`` — the
    files plan claims are checked against."""
    from ufload_spark.plans.registry import load_all

    os.makedirs(out, exist_ok=True)
    registry = load_all()
    paths = []
    for name in names:
        txt = plan(registry[name].fn(spark, sf_dir), executed=executed)
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)
        paths.append(path)
    return paths


def _audit_row(txt: str) -> list:
    """The plan features the optimization checklist counts: parquet scans
    per relation (duplicated-subtree smell), exchanges and their reuse,
    join strategies, Python-boundary nodes, windows and subqueries."""
    scans = re.findall(r"Scan parquet\s*(\S*)", txt)
    scans += re.findall(r"Scan In-memory table\s*(\S*)", txt)
    # location lines identify the relation for path-based scans
    locs = re.findall(r"Location:.*?\[(.*?)\]", txt)
    base = Counter(os.path.basename(loc.rstrip("/")) for loc in locs)
    dup = sorted(t for t, c in base.items() if c > 1)
    counts = [len(re.findall(p, txt)) for p in _AUDIT_COUNTS.values()]
    return [len(scans), ",".join(dup) or "-", *counts]


def audit(spark: SparkSession, sf_dir: str, only: set[str] | None = None) -> None:
    """Registry-wide physical-plan audit: one TSV row per query on stdout,
    raw plans under ``.scratch/plan_audit/<query>.txt`` (not committed; the
    committed evidence is the before/after dumps under ``plans/``)."""
    from ufload_spark.plans.registry import load_all

    out_dir = os.path.join(REPO_ROOT, ".scratch", "plan_audit")
    os.makedirs(out_dir, exist_ok=True)
    registry = load_all()
    header = ["query", "scans", "dup_scan_tables", *_AUDIT_COUNTS]
    print("\t".join(header), flush=True)
    for name in sorted(registry):
        if only is not None and name not in only:
            continue
        try:
            txt = plan(registry[name].fn(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001
            print(f"{name}\tERROR\t{str(ex)[:120]}", flush=True)
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print("\t".join(map(str, [name] + _audit_row(txt))), flush=True)


def _pytest_summary(cmd: list[str], env: dict) -> tuple[int, str]:
    """Run ``cmd`` from the repo root, echoing its output; return its exit
    code and its last non-empty line (pytest's summary under ``-q``)."""
    last = ""
    with subprocess.Popen(
        cmd, cwd=REPO_ROOT, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True,
    ) as proc:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
    return proc.returncode, last


def close(path: str) -> int:
    """The round close: the tier-1 suite, then the ``-m slow`` governance
    tests, both always run; appends both summary lines and the HEAD sha
    (``dirty`` when tracked files differ from it) to ``path``."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault(
        "SPARK_LOCAL_DIRS", os.path.join(tempfile.gettempdir(), "spark-local")
    )
    pytest = [sys.executable, "-m", "pytest", "tests/", "-q"]
    pytest += ["-p", "no:cacheprovider"]
    tier1 = ["timeout", "-k", "10", "2670", *pytest, "--continue-on-collection-errors"]
    rc1, line1 = _pytest_summary(tier1, env)
    rc2, line2 = _pytest_summary([*pytest, "-m", "slow"], env)

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=REPO_ROOT, capture_output=True, text=True
        ).stdout.strip()

    dirty = " (dirty)" if git("status", "--porcelain", "--untracked-files=no") else ""
    head = git("rev-parse", "HEAD") + dirty
    record = f"tier-1: {line1}\n-m slow: {line2}\nHEAD: {head}\n"
    with open(path, "a") as f:
        f.write(record)
    print(record, end="")
    return rc1 or rc2


def _names(arg: str) -> list[str]:
    return [s for s in arg.split(",") if s]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m ufload_spark.runner")
    sub = ap.add_subparsers(dest="mode", required=True)
    default_sf = os.environ.get("SPARK_GRAFT_SF_DIR", f"{FIXTURES}/sf0.1")
    p = sub.add_parser("time", help="median-of-3 noop timings, one JSON line")
    p.add_argument("names", type=_names)
    p.add_argument("sf_dir", nargs="?", default=default_sf)
    p = sub.add_parser("spot", help="one pass over a synthesized factor× fixture")
    p.add_argument("--factor", type=int, default=30)
    p.add_argument("--only", type=_names, default=SPOT)
    p = sub.add_parser("sweep", help="registry vs DuckDB oracles, plain session")
    p.add_argument("sf_dir", nargs="?", default=f"{FIXTURES}/sf0.01")
    p.add_argument("--only", type=lambda a: set(_names(a)))
    p.add_argument("--family", action="append", default=[])
    p = sub.add_parser("plans", help="write explain(formatted) dumps")
    p.add_argument("tag")
    p.add_argument("names", type=_names)
    p.add_argument("sf_dir", nargs="?", default=f"{FIXTURES}/sf0.1")
    p.add_argument("--out", default=os.path.join(REPO_ROOT, "plans", "r12"))
    p.add_argument("--executed", action="store_true")
    p = sub.add_parser("audit", help="registry-wide plan feature counts, TSV")
    p.add_argument("sf_dir", nargs="?", default=f"{FIXTURES}/sf0.01")
    p.add_argument("--only", type=lambda a: set(_names(a)))
    p = sub.add_parser("close", help="tier-1 + -m slow, summaries appended to FILE")
    p.add_argument("file")
    args = ap.parse_args(argv)

    if args.mode == "close":
        return close(args.file)
    if args.mode == "sweep":
        for fam in args.family:
            if fam not in FAMILIES:
                print(f"UNKNOWN FAMILY {fam!r}", flush=True)
                return 2
            args.only = (args.only or set()) | set(FAMILIES[fam])

    # Size the single local JVM like the deployment the spot factor
    # models: at factor >= 100 (~sf10 on 32 threads) 8g is ~250m per task,
    # an eighth of production per-core guidance — the r11 first run OOMed
    # the pair aggregate on sizing alone. 24g is 750m per task.
    memory = None
    if args.mode == "spot":
        memory = "24g" if args.factor >= 100 else "8g"
    spark = session(
        f"ufload_spark-{args.mode}", plain=args.mode == "sweep", driver_memory=memory
    )
    try:
        if args.mode == "time":
            print(json.dumps(time_queries(spark, args.names, args.sf_dir)))
        elif args.mode == "spot":
            print(json.dumps(spot(spark, default_sf, args.factor, args.only)))
        elif args.mode == "sweep":
            return sweep(spark, args.sf_dir, args.only)
        elif args.mode == "plans":
            dump_plans(
                spark, args.tag, args.names, args.sf_dir, args.out,
                executed=args.executed,
            )
        else:
            audit(spark, args.sf_dir, args.only)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
