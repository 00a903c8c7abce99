"""Session settings, the seeded input cache, output digests and the
layer-call harness shared by the workloads."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

from . import meter

#: Checkout root: the benchmark reads and writes only below it.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
#: Gap tolerance of the stitch cascade, the engine's default (metres).
GAP_M = 150.0
#: Modulus of the order-independent row checksums (a Mersenne prime).
P31 = 2**31 - 1


# --- session -------------------------------------------------------------------


def session_confs(n: int) -> dict:
    """Settings for a ``local[n]`` session on this host: driver heap a
    sixth of RAM (at most 4 GiB; the machine is shared), no web UI, and
    every scratch file inside the checkout. The status store keeps every
    job of a run."""
    heap_gb = max(1, min(4, int(meter.mem_total_gb() / 6)))
    return {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
    }


def prepare_env(n: int) -> None:
    """Process environment the Spark JVM and PySpark workers inherit:
    the checkout on the workers' import path, temp files in the
    checkout, and the core count the engine sizes GC threads from."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    # java.io.tmpdir holds native codec libraries; hsperfdata would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(n: int):
    from osmptparser_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        confs=session_confs(n),
    )
    spark.sparkContext.setLogLevel("ERROR")
    meter.set_group(spark, meter.AUX_GROUP)
    return spark


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait up to
    ``timeout_s`` for it: the gateway JVM exits when its stdin closes.
    ``meter.end_descendants`` then stops whatever is left."""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    except (OSError, subprocess.TimeoutExpired):
        pass


# --- input cache -----------------------------------------------------------------


@dataclass
class Input:
    path: str  # parquet directory
    rows: int
    ref: dict  # expected results, computed on the driver at generation


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _digest_files(d: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(d):
        for name in files:
            if name.startswith("."):
                continue  # Hadoop .crc side files
            p = os.path.join(dirpath, name)
            out[os.path.relpath(p, d)] = _sha256(p)
    return out


def source_digest(*modules) -> str:
    """Digest of the source files that generate an input: a cached input
    made by other generator code is never reused."""
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_input(workload: str, key: dict, generate) -> Input:
    """Input for ``key`` (generator source digest, seed, size), from the
    cache when its manifest matches ``key`` and every file's content
    digest matches the manifest; otherwise regenerated.

    ``generate(data_dir)`` writes the parquet input to ``data_dir`` and
    returns ``(rows, reference)``."""
    name = "-".join(f"{k}{v}" for k, v in sorted(key.items()))
    d = os.path.join(WORK, "inputs", f"{workload}-{name}")
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        data = os.path.join(d, "data")
        if (
            man.get("key") == key
            and os.path.isdir(data)
            and _digest_files(data) == man["files"]
            and _sha256(os.path.join(d, "reference.json")) == man["reference"]
        ):
            with open(os.path.join(d, "reference.json")) as f:
                return Input(data, man["rows"], json.load(f))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    data = os.path.join(d, "data")
    rows, ref = generate(data)
    ref_path = os.path.join(d, "reference.json")
    with open(ref_path, "w") as f:
        json.dump(ref, f)
    man = {
        "key": key,
        "rows": rows,
        "files": _digest_files(data),
        "reference": _sha256(ref_path),
    }
    with open(man_path, "w") as f:
        json.dump(man, f, indent=1)
    return Input(data, rows, ref)


def write_rows(rows, ddl: str, path: str, files: int = 8) -> int:
    """Write driver-side row tuples as ``files`` parquet files, row i in
    file i % files, with pyarrow (no Spark job); -> row count. ``ddl``
    is a flat Spark DDL of STRING, BIGINT, DOUBLE, TIMESTAMP (UTC) and
    BINARY columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"STRING": pa.string(), "BIGINT": pa.int64(), "DOUBLE": pa.float64(),
             "TIMESTAMP": pa.timestamp("us", tz="UTC"), "BINARY": pa.binary()}
    schema = pa.schema([(name, types[t]) for name, t in
                        (col.split() for col in ddl.split(","))])
    os.makedirs(path)
    for k in range(files):
        part = rows[k::files]
        cols = list(zip(*part)) if part else [()] * len(schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
    return len(rows)


# --- digests ---------------------------------------------------------------------


def seq_hash_py(value) -> str:
    """First 16 hex digits of sha256 over compact JSON, as ``seq_hash_col``."""
    text = json.dumps(value, separators=(",", ":"))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def seq_hash_col(col):
    from pyspark.sql import functions as F

    return F.substring(F.sha2(F.to_json(col), 256), 1, 16)


def mix_col(a, b):
    """Per-row term of an order-independent checksum over (a, b) longs."""
    from pyspark.sql import functions as F

    return F.pmod(F.pmod(a, F.lit(P31)) * F.pmod(b * 31 + 7, F.lit(P31)), F.lit(P31))


def mix_np(a, b) -> int:
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    return int((np.mod(a, P31) * np.mod(b * 31 + 7, P31) % P31).sum())


# --- layer calls (traced run) ------------------------------------------------------

_ADD = ("wall_s", "exec_cpu_s", "py_cpu_s", "rows_in", "rows_out",
        "shuffle_write_mb", "input_mb", "jobs", "tasks")


def materialize(df):
    """-> (cached df, row count): the action that runs a layer."""
    df = df.cache()
    return df, df.count()


class Layers:
    """Runs each public-function call of a layer under its own job group
    inside a span, and sums the calls' metrics per layer."""

    #: Job group of everything the traced run does outside layer calls.
    GLUE = "traced-glue"

    def __init__(self, spark, tracer: meter.Tracer):
        self.spark = spark
        self.tracer = tracer
        self.metrics: dict[str, dict] = {}
        self.groups: dict[str, list[str]] = {}  # layer -> job groups of its calls
        #: wall time of work the untraced job does not do: measurement-only
        #: queries, and sub-layer calls that a whole-engine call repeats
        self.instrument_wall_s = 0.0
        self.repeated_wall_s = 0.0
        meter.set_group(spark, self.GLUE)

    @contextmanager
    def instrument(self):
        """Queries that only measure or check (layer counters, output
        digests): outside the layers' groups, and left out of the traced
        wall time that the trace overhead compares."""
        meter.set_group(self.spark, "traced-instrument")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.instrument_wall_s += time.perf_counter() - t0
            meter.set_group(self.spark, self.GLUE)

    def exec_cpu_s(self, layers) -> float:
        """Executor CPU of ``layers`` together."""
        return sum(self.metrics[x]["exec_cpu_s"] for x in layers if x in self.metrics)

    def call(self, layer: str, name: str, fn, rows_in: int):
        """``fn() -> (output, rows_out)``; -> output."""
        with self.tracer.span(name) as rec:
            group = f"{name}-{rec['id']}"
            meter.set_group(self.spark, group)
            py0, t0 = meter.py_worker_cpu_seconds(), time.perf_counter()
            try:
                out, rows_out = fn()
            finally:
                wall = time.perf_counter() - t0
                py = meter.py_worker_cpu_seconds() - py0
                meter.set_group(self.spark, self.GLUE)
            m = meter.group_metrics(self.spark, group)
            m.update(wall_s=wall, py_cpu_s=py, rows_in=rows_in, rows_out=rows_out)
            rec["layer"] = layer
            rec["metrics"] = m
            rec["group"] = group
        self.groups.setdefault(layer, []).append(group)
        acc = self.metrics.setdefault(layer, {k: 0 for k in _ADD} | {"peak_exec_mem_mb": 0.0})
        for k in _ADD:
            acc[k] += m[k]
        acc["peak_exec_mem_mb"] = max(acc["peak_exec_mem_mb"], m["peak_exec_mem_mb"])
        return out

    def remainder(self, layer: str, call: dict, parts: list[str]) -> None:
        """Record ``layer`` as ``call`` minus the metrics of its sub-layers
        (peak memory and row counts stay those of the call). The
        sub-layer calls ran the same work again, so their wall time is
        counted as repeated."""
        self.repeated_wall_s += sum(self.metrics[p]["wall_s"] for p in parts)
        m = dict(call)
        for k in ("wall_s", "exec_cpu_s", "py_cpu_s", "shuffle_write_mb", "jobs", "tasks"):
            m[k] = call[k] - sum(self.metrics[p][k] for p in parts)
        self.metrics[layer] = m


def clear_caches(spark) -> None:
    """Drop every cached plan so the next job recomputes all of its
    layers (Spark would otherwise reuse a cache with an identical plan)."""
    spark.catalog.clearCache()


def dangling_refs(rel, rel_ways, node_rows, stops=None) -> int:
    """Member refs hydration dropped: way refs with no way, node refs
    with no node, and (routes) stop refs with no node."""
    from pyspark.sql import functions as F

    n_way_refs = rel.select(F.sum(F.size("way_refs"))).first()[0] or 0
    found, node_refs = (
        rel.select(F.explode("way_refs").alias("id"))
        .join(rel_ways.select("id", "refs"), "id")
        .agg(F.count(F.lit(1)), F.sum(F.size("refs")))
        .first()
    )
    out = (n_way_refs - found) + ((node_refs or 0) - node_rows.count())
    if stops is not None:
        n_stop_refs = rel.select(F.sum(F.size("stop_refs"))).first()[0] or 0
        out += n_stop_refs - (stops.select(F.sum(F.size("stops"))).first()[0] or 0)
    return int(out)


def pip_candidates(layers: Layers) -> int:
    """Candidate (point, polygon) pairs of the traced point-in-polygon
    calls: the rows their join emitted into the exact refine."""
    return sum(meter.join_output_rows(layers.spark, g) for g in layers.groups["pip"])


def stitch_counters(codes) -> dict:
    """Status-code histogram and group count from stitched status codes."""
    codes = list(codes)
    out = {f"stitch.status_{c}": codes.count(c) for c in (0, 101, 102, 501)}
    out["stitch.groups_out"] = len(codes)
    return out
