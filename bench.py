#!/usr/bin/env python
"""Benchmark harness: headline geo pipeline + relational operator suite.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default all cores) and prints ONE JSON line:

  {"metric": "pages/sec spatial-join+tiling", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": 0.1, ...}

The headline metric is pages/sec through the full geo pipeline
(pages -> extract -> tag-filter -> semi-join -> hydrate -> stitch ->
H3/S2 tiling -> kNN spatial join) over a deterministic synthetic pages
table sized by sf. Relational/dedup/vector queries from
__spark_entry__ run on the driver-provided testdata at the same sf.

Scaling evidence (north rule): run this script twice with
SPARK_GRAFT_CPUS=8 and =32 on the same input; see scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1

# geo pipeline scale: ~40k routes/sf unit -> sf0.1: 4k routes, ~720k
# nodes, ~16k pages. SPARK_GRAFT_ROUTES overrides (scaling runs use a
# larger, compute-dominated input).
N_ROUTES = int(
    os.environ.get("SPARK_GRAFT_ROUTES", max(200, int(40_000 * SF)))
)
PAGES_CACHE = f"/tmp/osmptparser_bench_pages_{N_ROUTES}"

BENCH_QUERIES = [
    "a3_group_agg",
    "x1_topk_window",
    "j1_semi_join",
    "j3_order_preserving_regroup",
    "w5_cell_join",
    "w7_knn_topk",
    "w6_pip",
    "dedup_exact",
    "lang_id",
    "events_hourly",
    "emb_cosine_topk",
    "asof_join",
    "interval_join",
    # round-4 LLM-pipeline operators, metered since round 5 (VERDICT r4 #6)
    "dedup_clusters",
    "seq_packing",
    "corpus_sample",
    "text_repetition",
    "pii_redaction",
    "vocab_topk",
]


#: summary keys an over-long summary line sheds first, least needed
#: first; ``queries`` (the per-query seconds) is never among them
_SHED_FIRST = (
    "dirty_legs", "geo_capacity_clean", "geo_steal_sec", "geo_cpu_sec",
    "cpus", "routes",
)


def _shed_keys(summary: dict, limit: int = 1900) -> str:
    """JSON line of ``summary`` without as few ``_SHED_FIRST`` keys as it
    takes to fit ``limit`` chars (it may still not fit)."""
    summary = dict(summary)
    line = json.dumps(summary)
    for key in _SHED_FIRST:
        if len(line) <= limit:
            break
        summary.pop(key, None)
        line = json.dumps(summary)
    return line


def _ensure_pages(spark):
    if not os.path.exists(os.path.join(PAGES_CACHE, "_SUCCESS")):
        from osmptparser_spark.sources.synth import synth_pages_spark

        synth_pages_spark(spark, n_routes=N_ROUTES).repartition(64).write.mode(
            "overwrite"
        ).parquet(PAGES_CACHE)
    return spark.read.parquet(PAGES_CACHE)


def _time(fn):
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


def _capacity_probe(n: int = 8_000_000) -> float:
    """Single-thread fixed-work microbenchmark (~0.05-0.1 s on a
    healthy core): splitmix64 over ``n`` uint64 lanes. Min of 3 runs.

    Why: this host's capacity swings 2-5x on minute-to-day scales in
    ways /proc/stat steal only partially reflects (measured round 4:
    byte-identical code+confs spanned 47.8 s to >300 s on one leg
    across an hour, each steal-clean). Recording the probe next to
    every trial gives each number an in-band capacity reference — a
    slow wall time with a slow probe is a trough draw, not a
    regression."""
    import numpy as np

    best = float("inf")
    x = np.arange(n, dtype=np.uint64)
    for _ in range(3):
        t0 = time.perf_counter()
        with np.errstate(over="ignore"):
            y = x ^ (x >> np.uint64(30))
            y *= np.uint64(0xBF58476D1CE4E5B9)
            y ^= y >> np.uint64(27)
            y *= np.uint64(0x94D049BB133111EB)
            y ^= y >> np.uint64(31)
        best = min(best, time.perf_counter() - t0)
    return best


def _metered_leg(fn, steal_rate_max: float, max_extra: int = 2):
    """Run one suite leg with the same auditability the geo headline
    has: record {wall, cpu, steal} per attempt and retry (bounded)
    while the best attempt overlapped a hypervisor steal storm. The
    returned record carries every attempt plus a ``clean`` flag, so a
    recorded 24 s that was really a storm draw (BENCH_r03's
    a3_group_agg, re-measured at 0.50 s) is never ambiguous again."""
    attempts = []
    while not attempts or (
        len(attempts) <= max_extra
        and min(attempts)[2] / max(min(attempts)[0], 1e-9) > steal_rate_max
    ):
        c0, s0 = _tree_cpu_seconds(), _steal_seconds()
        _, dt = _time(fn)
        attempts.append((dt, _tree_cpu_seconds() - c0, _steal_seconds() - s0))
    wall, cpu, steal = min(attempts)
    return {
        "wall": round(wall, 3),
        "cpu": round(cpu, 2),
        "steal": round(steal, 2),
        "clean": steal / max(wall, 1e-9) <= steal_rate_max,
        "attempts": [
            {"wall": round(w, 3), "cpu": round(c, 2), "steal": round(s, 2)}
            for w, c, s in attempts
        ],
    }


def _steal_seconds() -> float:
    """Hypervisor steal time (seconds). This sandbox is an
    overcommitted VM with violent intermittent steal storms — measured:
    the identical 2-second extraction job burned 6 CPU-s with 0 steal
    ticks and 975 CPU-s (39 s wall) during a 3828-tick storm, because
    starved vCPUs turn the JVM's spin-waits into pure waste. Recording
    the per-trial steal delta makes each bench number's cleanliness
    auditable and lets the scaling harness retry polluted legs instead
    of averaging lies.

    When $SPARK_GRAFT_PINNED_CPUS is set (e.g. "0-7", the taskset
    range scaling.py pins this process to), only those per-cpu steal
    lines are summed — a storm on cores the leg does not use no longer
    flags a genuinely clean trial. Unset, the host-wide sum is used
    (conservative: over-flags, never under-flags)."""
    tick = os.sysconf("SC_CLK_TCK")
    pinned = os.environ.get("SPARK_GRAFT_PINNED_CPUS")
    with open("/proc/stat") as f:
        lines = f.readlines()
    if not pinned:
        return int(lines[0].split()[8]) / tick
    lo, _, hi = pinned.partition("-")
    want = {f"cpu{i}" for i in range(int(lo), int(hi or lo) + 1)}
    total = 0
    for ln in lines[1:]:
        parts = ln.split()
        if parts and parts[0] in want:
            total += int(parts[8])
    return total / tick


def _tree_cpu_seconds() -> float:
    """Total CPU seconds (user+sys) burned so far by this process and
    every live descendant (the Spark JVM and reused Python workers are
    children of this driver). Deltas of this across a timed section
    measure the WORK done, independent of how many cores ran it —
    the scaling harness uses it for the CPU-parity decomposition
    (equal work at N and 4N cores ⇒ the wall-clock gap is scheduling /
    contention, not extra computation)."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    procs: dict[int, tuple[int, float]] = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: split after the last ')'
        rest = st.rsplit(")", 1)[1].split()
        ppid = int(rest[1])
        cpu = (int(rest[11]) + int(rest[12])) / tick  # utime + stime
        # cutime/cstime (reaped children) counted on the parent
        cpu += (int(rest[13]) + int(rest[14])) / tick
        procs[int(pid_s)] = (ppid, cpu)
    total, frontier = 0.0, {me}
    while frontier:
        nxt = set()
        for pid, (ppid, cpu) in procs.items():
            if ppid in frontier:
                nxt.add(pid)
        for pid in frontier:
            if pid in procs:
                total += procs[pid][1]
        procs = {p: v for p, v in procs.items() if p not in frontier}
        frontier = nxt
    return total


def main():
    from osmptparser_spark.session import get_spark

    spark = get_spark(
        "osmptparser-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE", str(2 * int(CPUS)) if CPUS.isdigit() else "64"
            )
        ),
        confs={
            # fresh JVM per bench process, so driver memory is settable;
            # local mode = driver does all the work, give it real heap
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.sql.parquet.columnarReaderBatchSize": "1024",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from osmptparser_spark.engine import get_public_transports
    from osmptparser_spark.functions.tagfilter import PTV2_FILTER
    from osmptparser_spark.functions.tiling import with_cells
    from osmptparser_spark.operators.spatial import knn_join
    from osmptparser_spark.sources.pages import extract_all

    timings: dict[str, float] = {}

    if os.environ.get("SPARK_GRAFT_GEN_ONLY"):
        # pre-generate the pages cache (scaling.py runs this once at full
        # parallelism so the pinned legs don't pay generation cost)
        n = _ensure_pages(spark).count()
        print(json.dumps({"generated_pages": n, "routes": N_ROUTES}))
        return 0

    pages = _ensure_pages(spark).cache()
    n_pages = pages.count()  # also materializes the cache

    # ---- headline geo pipeline -------------------------------------------
    def geo_pipeline(pages):
        from osmptparser_spark.functions.tagfilter import line_prefilter
        from osmptparser_spark.sources.pages import (
            extract_nodes_sql,
            extract_relations_sql,
            extract_ways_sql,
        )

        pre = line_prefilter(PTV2_FILTER)
        # .cache() on the prefiltered relation table doubles as the
        # pushdown barrier for the exact map filter (see engine notes);
        # both caches are dropped at the end so repeated trials measure
        # the FULL pipeline (Spark dedups caches by canonical plan, so
        # without unpersist a second trial would skip extraction)
        relations = extract_relations_sql(pages, line_filter=pre).cache()
        ways = extract_ways_sql(pages)
        nodes = extract_nodes_sql(pages).cache()
        pts = get_public_transports(nodes, ways, relations, 150.0, PTV2_FILTER)
        stitched = pts.select(
            "id", "status_code", F.size(F.flatten("node_seq")).alias("n_pts")
        )
        agg = stitched.agg(
            F.count("*"), F.sum("n_pts"), F.sum("status_code")
        ).collect()
        # tiling over every extracted node
        tiled = with_cells(nodes, h3_res=9, s2_level=16)
        tile_agg = tiled.agg(
            F.countDistinct("h3_cell"), F.countDistinct("s2_cell")
        ).collect()
        # spatial join: nearest stop-node for a ~10k-point query sample
        # (modulo filter, NOT limit: global limit coalesces to 1 task)
        sample = nodes.filter((F.col("id") % F.lit(max(1, N_ROUTES * 181 // 10_000))) == 0)
        stops = nodes.sample(fraction=0.01, seed=1)
        knn = knn_join(sample, stops, k=1, res=8, ring=1, exact_fallback=False)
        knn_agg = knn.agg(F.count("*")).collect()
        nodes.unpersist()
        relations.unpersist()
        return (agg, tile_agg, knn_agg)

    # warm python workers + JIT on a 5% sample, then time steady state
    # (cluster jobs amortize worker/JIT startup; we report throughput).
    # SPARK_GRAFT_GEO_TRIALS>1 -> min-of-N full runs in this JVM: the
    # sandbox host carries external load, so min-of-trials is the
    # fairest steady-state estimate (used by scaling.py).
    geo_pipeline(pages.sample(fraction=0.05, seed=0))
    trials = int(os.environ.get("SPARK_GRAFT_GEO_TRIALS", "2"))
    runs = []  # (wall, cpu, steal) per trial; report the min-wall trial
    # steal-aware retry: if even the best trial overlapped a hypervisor
    # steal STORM (measured here: a storm turns 6 CPU-s of work into
    # 975 CPU-s of vCPU spinning at ~1 steal-sec per wall-sec), run
    # extra trials — bounded. The threshold is a RATE (steal seconds
    # per wall second): this host also carries continuous low-grade
    # steal (~0.1-0.2 s/s) that an absolute cutoff would flag forever.
    steal_rate_max = float(os.environ.get("SPARK_GRAFT_STEAL_RATE_MAX", "0.5"))
    max_trials = max(trials, int(os.environ.get("SPARK_GRAFT_MAX_TRIALS", "5")))
    # capacity retry: a shared-bandwidth contention wave inflates CPU
    # 4-5x while passing the steal gate AND the compute-bound capacity
    # probe (measured 2026-08-17: 969 vs 201.6 geo CPU-s, byte-identical
    # code, both "steal-clean", probes 0.092-0.096). Steal cannot see
    # it; absolute CPU per page can — clean runs measure ~12-15 ms/page
    # across sf0.001-0.1, contaminated ones 60+. Retry (same bounded
    # trial budget) while the best trial is above the budget, and flag
    # the result so a budget-busting record is never ambiguous.
    cpu_ms_per_page_max = float(
        os.environ.get("SPARK_GRAFT_GEO_CPU_MS_PER_PAGE_MAX", "30")
    )
    cpu_budget_sec = n_pages * cpu_ms_per_page_max / 1000.0

    def _best_is_polluted() -> bool:
        wall, cpu, steal, _ = min(runs)
        return steal / max(wall, 1e-9) > steal_rate_max or cpu > cpu_budget_sec

    while len(runs) < trials or (len(runs) < max_trials and _best_is_polluted()):
        probe = _capacity_probe()
        c0, s0 = _tree_cpu_seconds(), _steal_seconds()
        _, dt = _time(lambda: geo_pipeline(pages))
        runs.append((dt, _tree_cpu_seconds() - c0, _steal_seconds() - s0, probe))
    t_geo, cpu_geo, steal_geo, probe_geo = min(runs)
    timings["geo_pipeline_pages"] = round(t_geo, 3)

    # ---- operator suite over driver testdata ------------------------------
    probe_suite_before = _capacity_probe()
    legs: dict[str, dict] = {}
    queries = entry_mod.queries()
    for name in BENCH_QUERIES if not os.environ.get("SPARK_GRAFT_SKIP_SUITE") else []:
        q = queries[name]

        def run(q=q):
            df = q(spark, SF_DIR)
            return df.agg(F.count(F.lit(1))).collect()

        legs[name] = _metered_leg(run, steal_rate_max)
        timings[name] = legs[name]["wall"]

    if not os.environ.get("SPARK_GRAFT_SKIP_SUITE"):
        # dedup signature throughput over the FULL documents table at this
        # sf (the queries() twins run on a small verified slice; these legs
        # measure the vectorized signature path end-to-end)
        from osmptparser_spark.operators.dedup import (
            minhash_lsh_pairs,
            simhash_near_dup_pairs,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        legs["minhash_full"] = _metered_leg(
            lambda: minhash_lsh_pairs(docs, threshold=0.5)
            .agg(F.count(F.lit(1)))
            .collect(),
            steal_rate_max,
        )
        timings["minhash_full"] = legs["minhash_full"]["wall"]
        legs["simhash_full"] = _metered_leg(
            lambda: simhash_near_dup_pairs(docs, max_hamming=3)
            .agg(F.count(F.lit(1)))
            .collect(),
            steal_rate_max,
        )
        timings["simhash_full"] = legs["simhash_full"]["wall"]

    pages_per_sec = n_pages / t_geo if t_geo > 0 else 0.0
    # Round-5 output contract (VERDICT r4 #1): the driver captures only
    # the last ~2,000 chars of stdout, so the FINAL line must be a
    # compact summary that always parses — headline value, per-query
    # wall seconds, and the names of any non-clean legs. The full
    # per-attempt {wall, cpu, steal} metering, geo trials, and capacity
    # probes go to a sidecar JSON file next to this script.
    detail = {
        "metric": "pages/sec spatial-join+tiling (extract->stitch->tile->kNN)",
        "value": round(pages_per_sec, 2),
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "pages": n_pages,
        "routes": N_ROUTES,
        "cpus": CPUS,
        "geo_cpu_sec": round(cpu_geo, 2),
        "geo_steal_sec": round(steal_geo, 2),
        "geo_trials": [
            {
                "wall": round(w, 2),
                "cpu": round(c, 2),
                "steal": round(s, 2),
                "probe": round(p, 4),
            }
            for w, c, s, p in runs
        ],
        "capacity_probe_sec": round(probe_geo, 4),
        "geo_clean": steal_geo / max(t_geo, 1e-9) <= steal_rate_max,
        "geo_capacity_clean": cpu_geo <= cpu_budget_sec,
        "geo_cpu_budget_sec": round(cpu_budget_sec, 1),
        "capacity_probe_suite": round(probe_suite_before, 4),
        "capacity_probe_end": round(_capacity_probe(), 4),
        "legs": legs,
    }
    detail_path = os.environ.get(
        "SPARK_GRAFT_DETAIL_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_detail.json"),
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the summary line still carries the result
    summary = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "pages": n_pages,
        "routes": N_ROUTES,
        "cpus": CPUS,
        "geo_cpu_sec": detail["geo_cpu_sec"],
        "geo_steal_sec": detail["geo_steal_sec"],
        "geo_clean": detail["geo_clean"],
        "geo_capacity_clean": detail["geo_capacity_clean"],
        # suite legs that never produced a steal-clean attempt, by name
        # (empty = every recorded number is clean; details in sidecar)
        "dirty_legs": sorted(
            k for k, v in legs.items() if not v.get("clean")
        ),
        "detail": os.path.basename(detail_path),
    }
    line = json.dumps(summary)
    if len(line) > 1900:  # shed diagnostics first, keeping the queries dict
        line = _shed_keys(summary)
    if len(line) > 1900:  # hard driver-tail guard: drop to bare headline
        line = json.dumps({
            "metric": detail["metric"], "value": detail["value"],
            "unit": "sec", "sf": SF, "pages": n_pages,
            "geo_clean": detail["geo_clean"],
            "detail": os.path.basename(detail_path),
        })
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
