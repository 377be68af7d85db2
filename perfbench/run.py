"""Layer-attributed benchmark for the sentiment_analysis_bigdata_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. One run starts a fresh ``local[nproc]``
session in this process, stages the workload's inputs from ``--seed`` under
``.perfbench_work/``, warms up, times one cold pass, then times warm passes
until ``--seconds`` seconds and at least two passes have run. Every
operation's output is checked. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also writes Spark's event log and reports per-layer metrics (see
README.md for what each one is and which end-to-end metric it should move).
The full record of a run (environment witness, every pass, spans) is
rewritten after every pass to ``.perfbench_work/results/``.

``--smoke`` shrinks every input to a few hundred or thousand rows and runs
the cold pass and one warm pass; ``test_perfbench.py`` uses it.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import mixes  # noqa: E402
import tracing  # noqa: E402

# Never start another warm pass after this many seconds of the run, so a
# slow host still exits well inside the 180 s a run is allowed.
RUN_DEADLINE_S = 120.0
# Other tenants' CPU steal on a shared host comes in bursts of tens of
# seconds and can slow a pass by half; with two warm passes, an operation's
# faster one is the sample of it that a burst missed.
MIN_WARM_PASSES = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(mixes.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one warm pass")
    return ap.parse_args(argv)


class Ctx:
    """What an operation sees: the session, the tracer, the trace flag."""

    def __init__(self, spark, tracer: tracing.Tracer, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.trace = trace


def configure_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the engine from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def warmup(spark) -> None:
    """Start the executor and JIT on a trivial job. First-use costs of the
    workload itself (codegen, Python-worker imports, input footers) are
    left to the cold pass: they are what a one-shot batch job pays."""
    spark.range(1).count()


def set_up(args, work: str, cpus: int):
    """Session up, inputs staged, warmup done. Returns (spark, wl, phases)."""
    from sentiment_analysis_bigdata_spark import get_spark

    wl = mixes.WORKLOADS[args.workload](args.smoke)
    phases: dict[str, float] = {}
    t = time.time()
    conf = {
        # -XX:-UsePerfData: no /tmp/hsperfdata file, the JVM writes only under work
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(tracing.event_log_conf(os.path.join(work, "eventlog")))
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    phases["session_s"] = time.time() - t
    t = time.time()
    wl.input_info = wl.stage_inputs(os.path.join(work, "in"), args.seed)
    phases["input_s"] = time.time() - t
    t = time.time()
    warmup(spark)
    phases["warmup_s"] = time.time() - t
    return spark, wl, phases


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for
    them, so that nothing this run started outlives it."""
    proc = spark.sparkContext._gateway.proc
    workers = tracing.descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if tracing.alive(p)]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def git_head() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unavailable (no git)"
    return out.stdout.strip() if out.returncode == 0 else "unavailable (not a git checkout)"


def run_pass(ops, ctx: Ctx, failures: list[dict], pass_no: int) -> dict:
    """One closed-loop pass; an operation that raises or fails its check is
    recorded and the pass goes on."""
    first_span = len(ctx.tracer.spans)
    latency: dict[str, float] = {}
    failed: list[str] = []
    for op in ops:
        out = None
        try:
            with ctx.tracer.span("op", op=op.name) as s:
                out = op.run(ctx)
        except Exception as exc:  # run boundary: record and keep going
            failed.append(op.name)
            failures.append({"pass": pass_no, "op": op.name, "error": repr(exc)[:500]})
            traceback.print_exc(file=sys.stderr)
            continue
        latency[op.name] = s.dur
        try:
            op.check(ctx, out)
        except Exception as exc:  # a wrong output is a failed operation
            failed.append(op.name)
            failures.append({"pass": pass_no, "op": op.name, "check": str(exc)[:500]})
            print(f"perfbench: check failed: {exc}", file=sys.stderr)
    spans = ctx.tracer.spans[first_span:]
    ops_spans = [s for s in spans if s.name == "op"]
    return {
        "pass": pass_no,
        "total_s": sum(s.dur for s in ops_spans),
        "latency_s": latency,
        "failed": failed,
        "spans": (first_span, len(ctx.tracer.spans)),
    }


# per-layer metrics that are sums of span self time, keyed by span name
_SPAN_METRICS = {
    "workloads.build": "workloads.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.sink": "exec.sink_s",
    "apps.corpus.clean": "apps.corpus.clean_s",
    "apps.corpus.cluster_dedup": "apps.corpus.cluster_dedup_s",
    "operators.chunking": "operators.chunking.chunk_s",
    "apps.workflow.preprocess": "apps.workflow.preprocess_s",
    "operators.evaluation": "operators.evaluation.eval_s",
    "operators.ml.save_model": "operators.ml.save_s",
    "apps.workflow.compare_models": "apps.workflow.compare_s",
    "op": "trace.unattributed_s",
}
_JOB_METRICS = {"workloads.build": "workloads.build_jobs", "operators.evaluation": "operators.evaluation.jobs"}


def layer_metrics(tracer: tracing.Tracer, p: dict, per_span: dict, cores: int) -> dict:
    """Per-layer values of one traced pass."""
    lo, hi = p["spans"]
    spans = tracer.spans[lo:hi]
    self_t = tracer.self_times()
    m: dict[str, float] = {v: 0.0 for v in _SPAN_METRICS.values()}
    m.update({v: 0 for v in _JOB_METRICS.values()})
    for model in mixes.MODELS:
        m[f"operators.ml.fit_s.{model}"] = 0.0
    ex = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0, "executor_run_ms": 0,
          "gc_ms": 0, "shuffle_write_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0,
          "python_ms": 0, "python_rows": 0}
    stage_task_ms: dict[int, list[int]] = {}
    jobs_by_op: dict[str, int] = {}
    op_of = {}
    for s in spans:
        op_of[s.sid] = s.attrs["op"] if s.name == "op" else op_of.get(s.parent)
    for s in spans:
        if s.name in _SPAN_METRICS:
            m[_SPAN_METRICS[s.name]] += self_t[s.sid]
        if s.name == "operators.ml.fit":
            m[f"operators.ml.fit_s.{s.attrs['model']}"] += self_t[s.sid]
        agg = per_span.get(s.sid)
        if agg is None:
            continue
        if s.name in _JOB_METRICS:
            m[_JOB_METRICS[s.name]] += agg["jobs"]
        jobs_by_op[op_of[s.sid]] = jobs_by_op.get(op_of[s.sid], 0) + agg["jobs"]
        for k in ex:
            ex[k] += len(agg["stages"]) if k == "stages" else agg[k]
        stage_task_ms.update(agg["stage_task_ms"])
    wall = p["total_s"]
    m.update(
        {
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.tasks_failed": ex["tasks_failed"],
            "exec.executor_run_s": ex["executor_run_ms"] / 1000.0,
            "exec.gc_s": ex["gc_ms"] / 1000.0,
            "exec.core_busy_frac": ex["executor_run_ms"] / 1000.0 / (wall * cores) if wall else 0.0,
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exec.shuffle_fetch_wait_s": ex["fetch_wait_ms"] / 1000.0,
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.task_skew": tracing.task_skew(stage_task_ms),
            "exec.python_worker_s": ex["python_ms"] / 1000.0,
            "exec.python_rows": ex["python_rows"],
        }
    )
    return m, jobs_by_op


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sentiment_analysis_bigdata_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    configure_env(work, cpus)
    try:
        return measure(args, work, base, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, base: str, cpus: int) -> int:
    load_start = os.getloadavg()[0]
    spark, wl, phases = set_up(args, work, cpus)
    setup_s = time.time() - T_PROCESS
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    ctx = Ctx(spark, tracer, bool(args.trace))
    jvm_pid = sc._gateway.proc.pid
    import pyspark

    env = {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_start": load_start,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "git_head": git_head(),
        "python": sys.version.split()[0],
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "smoke": args.smoke, "env": env, "inputs": wl.input_info,
        "setup_s": setup_s, "setup_phases_s": phases, "passes": [], "failures": [],
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    out_path = os.path.join(
        base, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}.json"
    )

    def flush() -> None:
        with open(out_path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)

    ops = wl.ops()
    failures = record["failures"]
    rss = [0.0, 0.0]
    passes = []
    # the cold pass, then warm passes until --seconds have run and at least
    # MIN_WARM_PASSES have (one in smoke mode)
    min_warm = 1 if args.smoke else MIN_WARM_PASSES
    try:
        while True:
            p = run_pass(ops, ctx, failures, len(passes))
            passes.append(p)
            jvm, workers = tracing.peak_rss_mb(jvm_pid)
            rss = [max(rss[0], jvm), max(rss[1], workers)]
            record["passes"].append(
                {"kind": "warm" if len(passes) > 1 else "cold",
                 **{k: v for k, v in p.items() if k != "spans"}}
            )
            flush()
            if len(passes) == 1:
                t_warm = time.time()
                continue
            if len(passes) > min_warm and time.time() - t_warm >= args.seconds:
                break
            if time.time() - T_PROCESS > RUN_DEADLINE_S:
                print("perfbench: run deadline reached, fewer warm passes", file=sys.stderr)
                break
    finally:
        t_stop = time.time()
        wl.close()
        stop_session(spark)
        record["teardown_s"] = time.time() - t_stop

    warm = passes[1:]
    per_op = {op.name: [p["latency_s"][op.name] for p in warm if op.name in p["latency_s"]]
              for op in ops}
    attempted = len(ops) * len(passes)
    failed = len(failures)
    metrics = {
        "setup_s": (setup_s, "s"),
        # a steady-state pass: each operation at its fastest warm latency
        "warm_s": (sum(min(v) for v in per_op.values() if v), "s"),
    }
    record["cold_s"] = passes[0]["total_s"]
    record["latency"] = {
        "warm_passes": len(warm),
        "op_min_s": {k: min(v) for k, v in per_op.items() if v},
        "op_median_s": {k: statistics.median(v) for k, v in per_op.items() if v},
        "ops_failed_frac": failed / attempted,
    }
    record["env"]["loadavg_1m_end"] = os.getloadavg()[0]
    record["peak_rss_mb"] = {"driver_jvm": rss[0], "python_workers": rss[1]}

    if args.trace:
        log = tracing.fold_event_log(os.path.join(work, "eventlog"))
        per_span = tracing.attribute(tracer.spans, log)
        per_pass, jobs_by_op = zip(*(layer_metrics(tracer, p, per_span, cpus) for p in warm))
        record["jobs_by_op_per_pass"] = jobs_by_op
        # median_low: an observed pass's value, so counts stay whole numbers
        layer = {k: statistics.median_low(pp[k] for pp in per_pass) for k in per_pass[0]}
        layer.update(
            {
                "setup.session_s": phases["session_s"],
                "setup.input_s": phases["input_s"],
                "setup.warmup_s": phases["warmup_s"],
                "driver.jvm_peak_rss_mb": rss[0],
                "python_workers.peak_rss_mb": rss[1],
            }
        )
        record["layers_per_pass"] = per_pass
        record["spans"] = tracer.dump()
        # each pass's time = layer span self times + the unattributed rest
        record["trace"] = {
            "reconcile": [
                {"pass_s": p["total_s"],
                 "layer_self_s": p["total_s"] - pp["trace.unattributed_s"],
                 "unattributed_s": pp["trace.unattributed_s"]}
                for p, pp in zip(warm, per_pass)
            ],
            "overhead_frac": None,
        }
        # against the untraced runs of this workload in the same checkout
        # (any seed: the input sizes do not depend on it)
        pattern = os.path.basename(out_path).replace(f"seed{args.seed}-trace1", "seed*-trace0")
        ref_warm = []
        for path in glob.glob(os.path.join(base, "results", pattern)):
            with open(path) as fh:
                ref = json.load(fh).get("metrics", {})
            if "warm_s" in ref:
                ref_warm.append(ref["warm_s"]["value"])
        if ref_warm:
            record["trace"]["untraced_warm_s"] = statistics.median(ref_warm)
            record["trace"]["untraced_runs"] = len(ref_warm)
            record["trace"]["overhead_frac"] = (
                metrics["warm_s"][0] / statistics.median(ref_warm) - 1.0
            )
        out_metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record["metrics"] = out_metrics
    record["wall_s"] = time.time() - T_PROCESS
    flush()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("_skew"):
        return "ratio"
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
