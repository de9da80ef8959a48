"""End-to-end benchmark of the markt_database_analyzer_spark engine.

    python3 perfbench/run.py --workload ads_analyses --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One client drives a closed loop: each request is submitted only after the
previous one returned, the four requests of a workload run in a fixed
order per pass, and the master is ``local[<usable cores>]``. A run

1. generates the seeded inputs (cached under ``.perfbench/inputs``; not
   timed);
2. sets up several times — session start, ingest, warm-up — and reports
   the median as ``setup_s``; the last session is kept;
3. runs one cold pass, then warm passes for ``--seconds`` (at least
   ``MIN_WARM_PASSES``), timing every request and measuring the CPU time
   of every pass;
4. stops Spark and checks every result against its oracle (pandas or
   DuckDB) and every warm result against the first one;
5. prints an info line and, last, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the Spark UI server is on, every layer call is wrapped
in a span, and after each request the engine's own counters are read
from its REST API and listener bus. Warm passes go traced, bare, bare,
traced so the run can state its tracing overhead. Spans, with self time
per layer, are written to ``.perfbench/out/``.

The end-to-end pass figures are CPU seconds of this process, the JVM and
the Python workers. On a shared 4-vCPU host the wall time of a pass moved
by a fifth to a third between runs of the same code (quartile distance
over median), its CPU time by under a tenth. Wall-clock medians are
reported by the traced run as ``request.*`` and on every run's info line.

``--smoke`` runs every workload on tiny inputs in both modes and checks
that each metric named in ``BENCHMARK.json`` is reported with its unit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import warnings
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
PACKAGE = "markt_database_analyzer_spark"

N_SETUPS = 3
# The JIT keeps speeding passes up for ten or more passes, more than a run
# can afford. ``pass_cpu_s`` is the mean over the first MIN_WARM_PASSES warm
# passes, so each run takes the same passes down that slope.
MIN_WARM_PASSES = 2
NO_NEW_PASS_AFTER_S = 90.0  # keeps a run well inside its 180 s budget
DRIVER_MEMORY = "1g"

QUIET_LOGGERS = (
    # un-partitioned windows over bounded spine frames: one line per query
    "org.apache.spark.sql.execution.window.WindowExec",
    # "RDD n was locally checkpointed ..." on every unpersist of a checkpoint
    "org.apache.spark.rdd.MapPartitionsRDD",
)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}
N_QUERIES = 4

# per-pass counters read back from the engine, reported as the median
# over traced warm passes
PASS_COUNTERS = {
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "sources.scan_nodes": "count",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "B",
    "sources.scan_s": "s",
    "functions.codegen_s": "s",
    "request.build_s": "s",
    "request.optimize_s": "s",
    "operators.exchanges": "count",
    "operators.shuffle_write_bytes": "B",
    "operators.broadcast_build_s": "s",
    "operators.sort_peak_bytes": "B",
    "operators.agg_build_s": "s",
    "operators.spill_bytes": "B",
    "datapipe.cached_bytes": "B",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "streaming.python_bytes": "B",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    **{k: v for k, v in PASS_COUNTERS.items() if k.startswith("session.")},
    "sources.ingest_s": "s",
    "sources.ingest_rows_per_s": "1/s",
    **{k: v for k, v in PASS_COUNTERS.items() if not k.startswith("session.")},
    # wall-clock medians, too unsteady between runs to carry a bound
    "request.cold_pass_s": "s",
    "request.pass_s": "s",
    **{f"request.query{i + 1}_s": "s" for i in range(N_QUERIES)},
    "datapipe.lsh_candidate_pairs": "count",
    "datapipe.verified_pairs": "count",
    "datapipe.pair_yield": "ratio",
    "streaming.trigger_pct": "%",
    "streaming.planning_pct": "%",
    "streaming.add_batch_pct": "%",
    "streaming.commit_pct": "%",
    "streaming.state_commit_pct": "%",
    "streaming.write_amp": "ratio",
    "trace.overhead_frac": "ratio",
}


def pin_environment() -> dict:
    """Make the run independent of the caller's shell: cores, memory,
    scratch directories and warning filters are all set here."""
    import tempfile

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # pandas FutureWarnings from the Python workers
            "PYTHONWARNINGS": "ignore::FutureWarning",
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = tmp
    warnings.filterwarnings("ignore", category=FutureWarning)
    return {"cpus": cpus, "tmp": tmp}


def spark_conf(env: dict, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.shuffle.partitions": str(env["cpus"]),
        "spark.driver.memory": DRIVER_MEMORY,
        # a fully committed, pre-touched heap keeps the JVM's resident size
        # independent of when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(env["tmp"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.port": "0",  # any free port
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return conf


def quiet(spark) -> None:
    jvm = spark.sparkContext._jvm
    error = jvm.org.apache.logging.log4j.Level.ERROR
    for name in QUIET_LOGGERS:
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(name, error)


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_info() -> dict:
    digest = hashlib.sha1()
    for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {"git_commit": commit, "source_sha1": digest.hexdigest()}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run(name: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, info)."""
    from perfbench.tracing import RssSampler, Tracer, UiMetrics, stream_listener_class, tree_cpu_s
    from perfbench.workloads import WORKLOADS, compare, result_digest

    t_begin = time.perf_counter()
    env = pin_environment()
    wl = WORKLOADS[name](seed, smoke)
    load_before = os.getloadavg()[0]
    t0 = time.perf_counter()
    wl.make_inputs(os.path.join(STATE, "inputs"))
    input_s = time.perf_counter() - t0

    from markt_database_analyzer_spark.session import get_spark

    conf = spark_conf(env, trace)
    work = os.path.join(env["tmp"], f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(trace)

    # -- set-up, several times; the last session is kept ------------------
    spark = None
    setup_s, get_spark_s, ingest_s = [], [], []
    n_setups = 1 if smoke else N_SETUPS
    for _ in range(n_setups):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("setup", "bench"):
            with tracer.span("get_spark", "session"):
                spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
            t1 = time.perf_counter()
            quiet(spark)
            with tracer.span("ingest", "sources"):
                rows = wl.ingest(spark, work, tracer)
            t2 = time.perf_counter()
            with tracer.span("warm_up", wl.layer):
                wl.warm_up(spark)
        setup_s.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
        ingest_s.append(t2 - t1)

    ui = UiMetrics(spark) if trace else None
    listener = None
    if trace:
        listener = stream_listener_class()()
        spark.streams.addListener(listener)

    # -- passes -------------------------------------------------------------
    n_q = len(wl.queries)
    q_times: list[list[float]] = [[] for _ in range(n_q)]
    pass_s: list[float] = []
    pass_cpu_s: list[float] = []
    traced_pass, bare_pass = [], []
    counters: list[dict] = []
    digests: dict[str, list] = {q.label: [] for q in wl.queries}
    first: dict = {}

    def one_pass(pid: int, traced: bool) -> None:
        tracer.enabled, tracer.pass_id = traced, pid
        acc = defaultdict(float)
        total = 0.0
        cpu0 = tree_cpu_s()
        for i, q in enumerate(wl.queries):
            df = None
            t0 = time.perf_counter()
            try:
                with tracer.span(q.label, "bench"):
                    with tracer.span("build", q.layer):
                        frame = wl.build(i, spark)
                    t1 = time.perf_counter()
                    if traced:
                        with tracer.span("optimize", q.layer):
                            frame._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("force", q.layer):
                        df = frame.toPandas()
            except Exception:  # a failed request is counted, the run goes on
                traceback.print_exc()
            dt = time.perf_counter() - t0
            total += dt
            q_times[i].append(dt)
            digests[q.label].append(None if df is None else result_digest(df))
            if df is not None:
                first.setdefault(q.label, df)
                acc["request.build_s"] += t1 - t0
                acc["request.optimize_s"] += t2 - t1
            # untimed bookkeeping
            if ui is not None:
                ui.harvest(acc)
                acc["datapipe.cached_bytes"] += ui.cached_bytes()
                listener.take(acc)
                if q.label == "stream_foreachbatch_upsert":
                    acc["streaming.write_amp"] += wl.write_amp()
            wl.after_query(spark)
        pass_s.append(total)
        # includes the untimed bookkeeping between requests, a few ms of CPU
        pass_cpu_s.append(tree_cpu_s() - cpu0)
        if pid > 0:  # a warm pass
            (traced_pass if traced else bare_pass).append(total)
            if traced:
                acc["pass_s"] = total
                counters.append(acc)

    # memory is sampled over the passes only: while set-up replaces a
    # session, the old Python workers can outlive it for a moment
    rss = RssSampler().start()
    one_pass(0, trace)
    pid = 1
    min_warm = 2 * MIN_WARM_PASSES if trace else MIN_WARM_PASSES
    t_warm = time.perf_counter()
    while pid <= min_warm or time.perf_counter() - t_warm < seconds:
        if time.perf_counter() - t_begin > NO_NEW_PASS_AFTER_S or (smoke and pid > 2):
            break
        # traced, bare, bare, traced, ...: a steady JIT speed-up cancels
        # out of the traced/bare ratio
        one_pass(pid, trace and pid % 4 in (0, 1))
        pid += 1

    pairs = (0, 0)
    if trace and hasattr(wl, "pair_counts"):
        with tracer.span("pair_counts", "datapipe"):
            pairs = wl.pair_counts(spark)
    peak_rss = rss.stop()
    shutdown(spark)

    # -- correctness, after Spark has stopped --------------------------------
    problems: dict[str, list[str]] = {}
    try:
        expected = wl.oracles()
    except Exception:
        traceback.print_exc()
        expected = {}
    for q in wl.queries:
        if q.label not in first:
            problems[q.label] = ["no successful result"]
        elif q.label not in expected:
            problems[q.label] = ["oracle failed"]
        else:
            problems[q.label] = compare(first[q.label], expected[q.label])
    attempted = failed = 0
    for q in wl.queries:
        ref = result_digest(first[q.label]) if q.label in first else None
        for d in digests[q.label]:
            attempted += 1
            failed += d is None or d != ref or bool(problems[q.label])
    for label, p in problems.items():
        if p:
            print(f"# WRONG {name}.{label}: {'; '.join(p[:3])}", file=sys.stderr)

    # -- metrics ------------------------------------------------------------
    if trace:
        med = {k: _median([c.get(k, 0.0) for c in counters]) for k in (*PASS_COUNTERS, "pass_s")}
        stream = {k: _median([c.get(k, 0.0) for c in counters]) for k in (
            "streaming.trigger_s", "streaming.query_planning_s", "streaming.add_batch_s",
            "streaming.commit_s", "streaming.state_commit_s", "streaming.write_amp")}
        trig = stream["streaming.trigger_s"]

        def pct(part: float, whole: float) -> float:
            return 100.0 * part / whole if whole else 0.0

        metrics = {
            "session.get_spark_s": _median(get_spark_s),
            **{k: med[k] for k in PASS_COUNTERS if k.startswith("session.")},
            "sources.ingest_s": _median(ingest_s),
            "sources.ingest_rows_per_s": rows / _median(ingest_s),
            **{k: med[k] for k in PASS_COUNTERS if not k.startswith("session.")},
            "request.cold_pass_s": pass_s[0],
            "request.pass_s": _median(pass_s[1:]),
            **{f"request.query{i + 1}_s": _median(q_times[i][1:]) for i in range(n_q)},
            "datapipe.lsh_candidate_pairs": pairs[0],
            "datapipe.verified_pairs": pairs[1],
            "datapipe.pair_yield": pairs[1] / pairs[0] if pairs[0] else 0.0,
            "streaming.trigger_pct": pct(trig, med["pass_s"]),
            "streaming.planning_pct": pct(stream["streaming.query_planning_s"], trig),
            "streaming.add_batch_pct": pct(stream["streaming.add_batch_s"], trig),
            "streaming.commit_pct": pct(stream["streaming.commit_s"], trig),
            "streaming.state_commit_pct": pct(stream["streaming.state_commit_s"], trig),
            "streaming.write_amp": stream["streaming.write_amp"],
            # spans and plan timing only: the UI server and its listeners
            # run in both kinds of pass, and the REST reads are untimed
            "trace.overhead_frac": _median(traced_pass) / _median(bare_pass) - 1,
        }
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": _median(setup_s),
            "cold_pass_cpu_s": pass_cpu_s[0],
            "pass_cpu_s": statistics.fmean(pass_cpu_s[1 : 1 + MIN_WARM_PASSES]),
            "peak_rss_mb": peak_rss / 2**20,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    info = {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "sizes": wl.sizes(),
        "queries": [q.label for q in wl.queries],
        "nproc": env["cpus"],
        "loadavg_1m": [load_before, os.getloadavg()[0]],
        **source_info(),
        "input_gen_s": input_s,
        "setup_s": setup_s,
        "pass_s": pass_s,
        "pass_cpu_s": pass_cpu_s,
        "query_s": {q.label: q_times[i] for i, q in enumerate(wl.queries)},
        "problems": {k: v for k, v in problems.items() if v},
        "run_s": time.perf_counter() - t_begin,
    }
    if trace:
        out = os.path.join(STATE, "out")
        os.makedirs(out, exist_ok=True)
        info["trace_file"] = os.path.join(out, f"trace-{name}-s{seed}.json")
        tracer.write(info["trace_file"], {"info": info, "metrics": metrics, "counters": counters})
    shutil.rmtree(work, ignore_errors=True)
    return result, info


def smoke(seed: int) -> int:
    """Tiny inputs, both modes, every workload: each metric named in
    BENCHMARK.json must be reported with its unit, and every check pass."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS)
    if bad:
        print("# smoke: BENCHMARK.json names other workloads than perfbench/workloads.py")
    for name in WORKLOADS:
        for trace in (0, 1):
            result, info = run(name, seed, 0, bool(trace), smoke=True)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            ok = got == want[trace] and result["correct"]
            bad += not ok
            print(f"# smoke {name} trace={trace}: {'ok' if ok else 'FAILED'} "
                  f"({info['run_s']:.1f} s, {result['attempted']} requests, {result['failed']} failed)")
            if got != want[trace]:
                print(f"#   metric/unit mismatch: {sorted(set(got.items()) ^ set(want[trace].items()))}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["ads_analyses", "corpus_events"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, check metric names and units")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    # import the package and the benchmark from the checkout root, never
    # this directory (its module names are not meant to shadow anything)
    sys.path[0] = ROOT
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    if args.smoke:
        return smoke(args.seed)
    if args.workload is None:
        ap.error("--workload is required")
    result, info = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("# info " + json.dumps(info))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
