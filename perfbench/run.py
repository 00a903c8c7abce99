#!/usr/bin/env python3
"""Seeded, output-checked benchmark of the osmptparser_spark engine.

    python3 perfbench/run.py --workload routes --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads ``routes`` and ``areas`` are
the benchmark's; ``neardup`` runs the same way but is not in
BENCHMARK.json while the engine fails its check (see neardup.py).

One run: make (or reuse) the seeded input and its driver-side
reference, set up a ``local[nproc]`` session several times, run the
workload's job until ``--seconds`` have passed and at least the
workload's ``MIN_JOBS`` jobs have run, check every output against the
reference, and print one JSON line: ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` a traced run that times each layer's public functions
between two untraced jobs; see METRICS.md.

Run records (jobs, set-ups, spans, host diagnostics) go to
``.perfbench/runs/``; inputs are cached in ``.perfbench/inputs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

try:  # the engine, pyspark and bench.py come from the checkout
    import osmptparser_spark  # noqa: F401
    import pyspark  # noqa: F401

    from perfbench import common, meter
except ImportError as e:
    MISSING = e
else:
    MISSING = None

WORKLOADS = ("routes", "areas", "neardup")
#: Session start + input load repeats per run; setup_s adds one warm-up pass
#: to their median.
SETUPS = 3
#: Layers of the geo workloads (routes, areas) and of the text workload.
GEO_LAYERS = ("pages", "tagfilter", "hydrate", "stitch", "tiling", "knn", "pip", "engine")
TEXT_LAYERS = ("minhash", "components")
GENERIC = ("wall_s", "self_s", "exec_cpu_s", "py_cpu_s", "rows_in", "rows_out",
           "shuffle_write_mb", "peak_exec_mem_mb", "jobs", "tasks")
GEO_SPECIFIC = (
    "pages.input_mb", "tagfilter.prefilter_keep_ratio",
    "hydrate.dangling_refs", "stitch.groups_out", "stitch.status_0",
    "stitch.status_101", "stitch.status_102", "stitch.status_501",
    "tiling.points_per_s", "tiling.distinct_h3", "tiling.distinct_s2",
    "knn.pairs_per_query", "pip.candidates", "pip.refine_precision",
)
TEXT_SPECIFIC = ("minhash.verified_pairs", "minhash.planted_link_recall", "components.rounds")
RUN_SPECIFIC = (
    "session.start_s", "trace.untraced_wall_s", "trace.traced_wall_s",
    "trace.overhead_s", "trace.coverage", "job.cpu_ms_per_record", "job.peak_rss_mb",
)
#: Share of the untraced job's executor CPU the traced layers should account for.
COVERAGE_MIN = 0.9


def _unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_ms_per_record"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MiB"
    if metric in ("prefilter_keep_ratio", "refine_precision", "coverage",
                  "pairs_per_query", "planted_link_recall"):
        return "ratio"
    return "count"


def layers_of(workload: str) -> tuple:
    return TEXT_LAYERS if workload == "neardup" else GEO_LAYERS


def per_layer_names(workload: str) -> list[str]:
    """The --trace 1 metrics: for routes and areas, BENCHMARK.json's per_layer."""
    specific = TEXT_SPECIFIC if workload == "neardup" else GEO_SPECIFIC
    generic = [f"{layer}.{g}" for layer in layers_of(workload) for g in GENERIC]
    return generic + list(specific) + list(RUN_SPECIFIC)


def _workload(name: str):
    from perfbench import areas, neardup, routes

    return {"routes": routes, "areas": areas, "neardup": neardup}[name]


def _start(mod, inp, n: int):
    """Session start + input load (row count checked against the manifest).
    -> (spark, inputs, seconds, session start seconds)."""
    t0 = time.perf_counter()
    spark = common.start_session(n)
    t_session = time.perf_counter() - t0
    data = mod.load(spark, inp.path)
    first = data[0] if isinstance(data, tuple) else data
    if first.count() != inp.rows:
        raise RuntimeError(f"{inp.path}: row count differs from the manifest")
    return spark, data, time.perf_counter() - t0, t_session


def _warm_up(mod, spark, data) -> float:
    """One full job and its digest, unchecked: the measured jobs then run
    with warm Python workers and a warm JIT; -> seconds."""
    t0 = time.perf_counter()
    mod.digest(mod.job(spark, data))
    common.clear_caches(spark)
    return time.perf_counter() - t0


def _run_job(mod, spark, data, inp, group: str | None = None) -> dict:
    """One timed job and the digest of its output, plus the output check
    (not timed). The job runs under job group ``group``, the digest under
    ``group``-digest."""
    group = group or meter.AUX_GROUP
    meter.set_group(spark, group)
    meter.reset_peak_rss()
    c0, t0 = meter.tree_cpu_seconds(), time.perf_counter()
    digest, errors = None, []
    try:
        outputs = mod.job(spark, data)
        meter.set_group(spark, f"{group}-digest")
        digest = mod.digest(outputs)
    except Exception:  # a failed job is counted, the run goes on
        errors = [traceback.format_exc(limit=3)]
    wall = time.perf_counter() - t0
    cpu = meter.tree_cpu_seconds() - c0
    rss = meter.tree_peak_rss_mb()
    meter.set_group(spark, meter.AUX_GROUP)
    common.clear_caches(spark)
    if digest is not None:
        errors = mod.check(digest, inp.ref)
    return {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss, "errors": errors,
            "digest": digest}


def _self_test(mod, digest, ref) -> list[str]:
    """The check must reject a deliberately corrupted output."""
    if digest is None:
        return []
    if not mod.check(mod.corrupt(digest, ref), ref):
        return ["self-test: the check accepted a corrupted output"]
    return []


def timed(args, mod, inp, n: int, record: dict) -> dict:
    starts = []
    for i in range(SETUPS):
        spark, data, t_start_load, t_session = _start(mod, inp, n)
        starts.append({"start_load_s": t_start_load, "session_s": t_session})
        if i < SETUPS - 1:
            spark.stop()
    warm = _warm_up(mod, spark, data)
    record["setups"] = {"starts": starts, "warm_up_s": warm}
    record["capacity_probe_s"] = meter.capacity_probe()
    steal0 = meter.steal_seconds()
    jobs = []
    t_start = time.perf_counter()
    while len(jobs) < mod.MIN_JOBS or time.perf_counter() - t_start < args.seconds:
        jobs.append(_run_job(mod, spark, data, inp))
    record["steal_s"] = meter.steal_seconds() - steal0
    problems = _self_test(mod, next((j["digest"] for j in jobs if j["digest"]), None), inp.ref)
    spark.stop()
    for j in jobs:
        del j["digest"]
    record["jobs"] = jobs
    ok = [j for j in jobs if not j["errors"]] or jobs
    metrics = {
        "records_per_s": (statistics.median(inp.rows / j["wall_s"] for j in ok), "1/s"),
        "setup_s": (statistics.median(s["start_load_s"] for s in starts) + warm, "s"),
    }
    return _result(jobs, problems, metrics, record)


def _untraced_job(mod, spark, data, inp, tracer, i: int) -> dict:
    """The timed job in a span and job group of its own, plus its
    executor CPU, without the digest's, from the status store."""
    with tracer.span("untraced"):
        job = _run_job(mod, spark, data, inp, group=f"untraced-{i}")
    job["exec_cpu_s"] = meter.group_metrics(spark, f"untraced-{i}")["exec_cpu_s"]
    return job


def traced(args, mod, inp, n: int, record: dict) -> dict:
    tracer = meter.Tracer(args.workload, args.seed)
    layer_names = layers_of(args.workload)
    with tracer.span("run"):
        with tracer.span("setup"):
            spark, data, t_start_load, t_session = _start(mod, inp, n)
            warm = _warm_up(mod, spark, data)
        record["setups"] = {"starts": [{"start_load_s": t_start_load, "session_s": t_session}],
                            "warm_up_s": warm}
        record["capacity_probe_s"] = meter.capacity_probe()
        steal0 = meter.steal_seconds()
        # the untraced job runs before and after the traced run, which the
        # JIT warms up between them: their mean is the job at the traced
        # run's warmth
        untraced = [_untraced_job(mod, spark, data, inp, tracer, 0)]
        layers = common.Layers(spark, tracer)
        errors = []
        with tracer.span(args.workload) as root:
            try:
                out = mod.traced(layers, data, inp.rows, inp.ref)
            except Exception:  # reported as a failed job below
                out = None
                errors = [traceback.format_exc(limit=3)]
        common.clear_caches(spark)
        untraced.append(_untraced_job(mod, spark, data, inp, tracer, 1))
        record["steal_s"] = meter.steal_seconds() - steal0
        if out is not None:
            errors = mod.check(out["digest"], inp.ref)
        problems = _self_test(mod, untraced[0]["digest"], inp.ref)
        spark.stop()
    traced_job = {"wall_s": root["end"] - root["start"], "errors": errors}
    for j in untraced:
        del j["digest"]
    jobs = [*untraced, traced_job]
    record["jobs"] = jobs
    untraced_wall = statistics.mean(j["wall_s"] for j in untraced)
    untraced_cpu = statistics.mean(j["exec_cpu_s"] for j in untraced)

    selfs = tracer.self_times()
    for s in tracer.spans:
        s["self_s"] = selfs[s["id"]]
    metrics = {name: 0 for name in per_layer_names(args.workload)}
    if out is not None:
        for layer, m in layers.metrics.items():
            if layer in layer_names:
                for g in GENERIC:
                    metrics[f"{layer}.{g}"] = m.get(g, 0)
        for s in tracer.spans:
            layer = s.get("layer", s["name"])
            if layer in layer_names:
                metrics[f"{layer}.self_s"] += s["self_s"]
        metrics.update(out["extra"])
        # the traced wall time of the untraced job's work: without layers
        # the job does not run, sub-layer calls a whole-engine call
        # repeats, and measurement-only queries
        traced_wall = (traced_job["wall_s"] - layers.repeated_wall_s - layers.instrument_wall_s
                       - sum(layers.metrics[x]["wall_s"] for x in out["not_in_job"]))
        # engine is the remainder of the whole-engine call, so the layers
        # cover the job's work once
        covered = [x for x in layer_names if x not in out["not_in_job"]]
        coverage = layers.exec_cpu_s(covered) / untraced_cpu if untraced_cpu else 0.0
        metrics.update({
            "trace.untraced_wall_s": untraced_wall,
            "trace.traced_wall_s": traced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
            "trace.coverage": coverage,
            # diagnostics of the untraced job: too noisy run to run to gate
            "job.cpu_ms_per_record": 1e3 * statistics.mean(j["cpu_s"] for j in untraced) / inp.rows,
            "job.peak_rss_mb": statistics.mean(j["peak_rss_mb"] for j in untraced),
        })
        # a diagnostic of the harness, not of the program's output: it
        # does not make the run incorrect
        record["coverage_ok"] = coverage >= COVERAGE_MIN
        record["layers"] = layers.metrics
        record["untraced_exec_cpu_s"] = untraced_cpu
    metrics["session.start_s"] = t_session
    record["spans"] = tracer.spans
    return _result(jobs, problems, {k: (v, _unit(k)) for k, v in metrics.items()}, record)


def _result(jobs, problems, metrics, record) -> dict:
    failed = sum(1 for j in jobs if j["errors"])
    record["problems"] = problems
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if MISSING is not None:
        print(f"perfbench: cannot import the engine: {MISSING}", file=sys.stderr)
        return 2
    # every process the run starts ends before it returns, on every path
    # out: SIGTERM unwinds through the finally below
    meter.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        common.stop_jvm()
        meter.end_descendants()
    print(json.dumps(result))
    return 0


def run(args) -> dict:
    """One run of ``args.workload``; its record goes to .perfbench/runs/."""
    mod = _workload(args.workload)
    n = meter.nproc()
    common.prepare_env(n)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": n, "started": time.time()}
    # prepare (not part of setup_s): validate the cached input and its
    # reference, or build them on the driver
    inp = common.ensure_input(args.workload, {**mod.key(), "seed": args.seed},
                              lambda path: mod.generate(path, args.seed))
    record["prepare_s"] = time.time() - record["started"]
    result = (traced if args.trace else timed)(args, mod, inp, n, record)
    record["total_s"] = time.time() - record["started"]
    record["result"] = result
    os.makedirs(os.path.join(common.WORK, "runs"), exist_ok=True)
    path = os.path.join(
        common.WORK, "runs",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(record['started'])}.json",
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return result


if __name__ == "__main__":
    sys.exit(main())
