"""End-to-end benchmark for xqspark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --self-test

Run from the root of a source checkout. The run generates the workload's
input from the seed, sets up a Spark session at local[nproc] in a newly
launched JVM (the set-up every job pays), runs one checked untimed pass
(and, per ``WARMUP_PASSES``, checked untimed warm-up passes), then runs
passes one after another (one client, closed loop) until
``--seconds`` have passed, at least three. Every pass is checked.

Standard output: a ``report`` line with every measured figure, the
traffic the generator made and the check results, then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``. ``metrics`` holds
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``; the traced run also writes its spans to
``.bench_build/perfbench/``. ``--self-test`` plants defects in real
outputs and exits 0 only if the checks count every one as a failure.

All files go under ``.bench_build/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()

# documents per workload, sized so one pass takes a few seconds at 4 cores.
# An xml_title_small pass costs ~2.5 s of fixed per-pass work at any size;
# 24000 docs (~5.5 s a pass) keep that work's jitter from setting the
# run-to-run spread of docs_per_s.
WORKLOADS = {
    "xml_title_small": 24000,
    "html_main_content": 1000,
    "resume_skewed": 6000,
    "neardup_dedup": 5000,
}
MIN_PASSES = 3
# untimed, checked passes between the checked pass and the timed ones: a
# neardup_dedup pass runs ~46 small jobs and still gets faster for several
# passes after the first (JVM warm-up)
WARMUP_PASSES = {"neardup_dedup": 1}
PROBE_REPEATS = 3
SAMPLE = {0: 250, 1: 1000}  # docs checked against direct core calls, by --trace


def metric_units() -> tuple[dict, dict]:
    """{name: unit} of BENCHMARK.json's end_to_end and per_layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _warm(batches):
    """The first Python-worker hop: imports the core every UDF calls."""
    import xqspark.core.api  # noqa: F401
    import xqspark.core.maincontent  # noqa: F401

    yield from batches


def set_up(nproc: int):
    """build_session (which launches the JVM when none runs) plus one
    Python-worker hop on every core."""
    from xqspark.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session(cpus=nproc, app="perfbench")
    t1 = time.perf_counter()
    spark.range(nproc * 4).repartition(nproc).mapInPandas(_warm, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_passes(wl, tracers, seconds: float, min_passes: int, sc, mem) -> list[dict]:
    """Closed loop: pass after pass until ``seconds`` are up (at least
    ``min_passes``), cycling through ``tracers``. Only ``run_pass`` is
    inside the clock. Worker memory is polled during every pass, so the
    peak of a worker that exits before the pass ends is not missed."""
    from perfbench.spans import sched_counts

    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() < deadline:
        tracer = tracers[len(passes) % len(tracers)]
        group = f"pass-{len(passes)}"
        sc.setJobGroup(group, group)
        with mem.sampling():
            t0 = time.perf_counter()
            with tracer.span("pass", k=len(passes)):
                result = wl.run_pass(tracer)
            dt = time.perf_counter() - t0
        rec = {"s": dt, "docs": wl.n, "traced": tracer.enabled, "sched": sched_counts(sc, group)}
        rec.update(wl.pass_metrics(result))
        rec["failed"] = wl.pass_failures(result) + rec["sched"]["failed_tasks"]
        mem.poll(relist=True)
        passes.append(rec)
    sc.setJobGroup("idle", "idle")
    return passes


def window_rate(passes: list[dict]) -> float:
    """Documents per second over the whole timed window. The JVM is still
    warming up during the first passes (pass times fall for five or so), so
    the window total is steadier from run to run than any single pass."""
    return sum(p["docs"] for p in passes) / sum(p["s"] for p in passes)


def make_workload(name: str, spark, info: dict, sample: int, work: str):
    from perfbench.workloads import Extraction, NearDup, Resume

    if name == "xml_title_small":
        return Extraction(spark, info, "xpath-single", sample, work)
    if name == "html_main_content":
        return Extraction(spark, info, "main-content", sample, work)
    if name == "resume_skewed":
        return Resume(spark, info, sample, work)
    return NearDup(spark, info)


def run(args, nproc: int, work: str, layer_names) -> tuple[dict, dict]:
    import pyarrow
    import pyspark

    from perfbench import gen
    from perfbench.spans import Tracer, WorkerMemory

    phases = {}  # wall seconds per phase of this run
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    info = gen.generate(args.workload, args.seed, WORKLOADS[args.workload], os.path.join(work, "input"))
    phase("generate")

    spark, start_s, warm_s = set_up(nproc)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    phase("set_up")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "master": sc.master,
        "versions": {
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        },
        "traffic": info["traffic"],
        "phases_s": phases,
    }

    wl = make_workload(args.workload, spark, info, SAMPLE[args.trace], work)
    if args.self_test:
        check_failed = wl.check()
        defects = [
            {"defect": d, "failed": f, "failed_frac": f / wl.n, "per_pass_check_failed": p}
            for d, f, p in wl.defects()
        ]
        report.update(check_failed=check_failed, self_test=defects)
        # both checkers must catch every defect: the full one of the checked
        # pass, and the per-pass one that feeds ``failed`` in timed passes
        ok = check_failed == 0 and all(
            d["failed"] > 0 and (d["per_pass_check_failed"] is None or d["per_pass_check_failed"] > 0)
            for d in defects
        )
        return report, {"self_test_passed": ok}

    check_failed = wl.check()
    phase("check_pass")
    warmup = WARMUP_PASSES.get(args.workload, 0)
    for _ in range(warmup):
        check_failed += wl.pass_failures(wl.run_pass(Tracer("warm-up", False)))
    phase("warmup_passes")
    # With tracing on, untraced and traced passes take turns in the order
    # U T T U, so the JVM's warm-up (pass times fall over the first five or
    # so passes) weighs on both sides of the tracing-overhead comparison.
    off = Tracer("untraced", False)
    tracer = Tracer(f"{args.workload}-{args.seed}", True)
    tracers = [off, tracer, tracer, off] if args.trace else [off]
    sides = 1 + args.trace
    mem = WorkerMemory()
    mem.poll(relist=True)
    every = timed_passes(wl, tracers, args.seconds * sides, MIN_PASSES * sides, sc, mem)
    passes = [p for p in every if not p["traced"]]
    traced = [p for p in every if p["traced"]]
    phase("timed_passes")
    dps = window_rate(passes)
    attempted = wl.n * (1 + warmup + len(passes))
    failed = check_failed + sum(p["failed"] for p in passes)
    e2e = {
        "setup_s": start_s + warm_s,
        "docs_per_s": dps,
        "worker_rss_peak_mb": mem.hwm_mb,
    }
    report["end_to_end"] = dict(
        e2e,
        failed_frac=failed / attempted,
        docs_per_s_median_pass=statistics.median(p["docs"] / p["s"] for p in passes),
    )
    if "resume_s" in passes[0]:
        report["end_to_end"]["resume_s"] = statistics.median(p["resume_s"] for p in passes)
        report["end_to_end"]["replay_frac"] = statistics.median(p["replay_frac"] for p in passes)
    report["passes"] = every
    report["check_failed"] = check_failed

    if not args.trace:
        return report, {"attempted": attempted, "failed": failed, "metrics": e2e}

    with mem.sampling():
        m, probe_failed = wl.probes(tracer, mem, wl.n / dps, nproc, PROBE_REPEATS)
    phase("probes")
    traced_dps = window_rate(traced)
    by_name = tracer.self_time_by_name()
    if args.workload == "neardup_dedup":
        n_traced = len(traced)
        m["lsh_pairs.s"] = by_name["queries.lsh_pairs"] / n_traced
        m["dedup_keep.s"] = by_name["queries.q_dedup_keep"] / n_traced
        m["pass.unattributed_s"] = by_name["pass"] / n_traced
    else:
        m["spark_eff"] = dps / (nproc * m["core.docs_per_s_1proc"])
    m["session.start_s"] = start_s
    m["session.worker_warm_s"] = warm_s
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"sched.{key}"] = statistics.median(p["sched"][key] for p in traced)
    m["pass.s"] = wl.n / traced_dps
    m["trace.overhead_frac"] = 1.0 - traced_dps / dps
    # a layer a workload's pass never calls reports 0
    layer = {k: float(m.get(k, 0.0)) for k in layer_names}
    report["per_layer"] = m
    attempted = wl.n * (2 + warmup + len(every))
    failed = check_failed + sum(p["failed"] for p in every) + probe_failed
    trace_path = os.path.join(ROOT, ".bench_build", "perfbench", f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(trace_path, {"per_layer": m, "self_s_by_name": by_name, "rss_samples": mem.samples})
    report["trace_file"] = os.path.relpath(trace_path, ROOT)
    return report, {"attempted": attempted, "failed": failed, "metrics": layer}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)

    # the program comes from this checkout, never from an installed copy;
    # the script's own directory is not a package root
    sys.path[0] = ROOT
    try:
        import xqspark.pipeline
    except ImportError as exc:
        print(f"perfbench: cannot import xqspark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(xqspark.pipeline.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: xqspark resolved outside {ROOT}", file=sys.stderr)
        return 2

    e2e_units, layer_units = metric_units()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's, the JVM's and the Python workers' files in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    try:
        report, result = run(args, nproc, work, list(layer_units))
    finally:
        t_stop = time.perf_counter()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report["phases_s"]["teardown"] = round(time.perf_counter() - t_stop, 3)
    report["phases_s"]["total"] = round(time.perf_counter() - T0, 3)

    print(json.dumps({"report": report}, default=str))
    if args.self_test:
        print(json.dumps(result))
        return 0 if result["self_test_passed"] else 1
    units = layer_units if args.trace else e2e_units
    metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
