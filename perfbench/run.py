#!/usr/bin/env python3
"""Benchmark of the week5_datingnlp_big_data_spark engine.

    python3 perfbench/run.py --workload paper_job --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(cached per seed under ``.bench_build/perfbench``), starts one Spark
session on ``local[nproc]``, runs whole operations as a closed loop with
one client until ``--seconds`` have passed, checks every output, and
prints the metrics as ``name value unit`` lines followed by one JSON line.
See README.md for the workloads and metrics.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
operation and reports per-layer metrics (see ``spans.py``), the traced
operation latency and the tracing overhead.

Exits non-zero when the engine package is missing or any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_DIR = ROOT / "week5_datingnlp_big_data_spark"
WORK = ROOT / ".bench_build" / "perfbench"

WORKLOADS = ("paper_job", "query_mix")
PROFILE_DOCS = 4000
WORDS_PER_ESSAY = (4, 16)
DRIVER_MEMORY = "1g"
WARM_WORDS = ("running", "dances", "engineering", "happily", "guys", "sparkle")


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# --- host and memory probes --------------------------------------------------

def host_info() -> dict:
    try:
        from bench import _vm_probe  # the repository's sha256 host probe
        probe = _vm_probe()
    except ImportError:
        probe = None
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "vm_probe_ms": probe}


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out += kids[pid]
        todo += kids[pid]
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus that of its largest Python worker."""
    workers = [_hwm_kb(p) for p in _descendants(jvm_pid)]
    return (_hwm_kb(jvm_pid) + max(workers, default=0)) / 1024.0


# --- inputs ------------------------------------------------------------------

def inputs(workload: str, seed: int) -> dict:
    """Generate (once per seed and size) the parquet inputs of a workload."""
    import gen

    data = WORK / "data" / f"seed{seed}"
    data.mkdir(parents=True, exist_ok=True)
    if workload == "paper_job":
        lo, hi = WORDS_PER_ESSAY
        path = data / f"profiles-{PROFILE_DOCS}-{lo}-{hi}.parquet"
        size = _cached(path.with_suffix(".json"), lambda: gen.write_profiles(
            str(path), PROFILE_DOCS, WORDS_PER_ESSAY, seed))
        return {"path": str(path), **size}
    path = data / "tables"
    size = _cached(data / "tables.json", lambda: gen.write_tables(str(path), seed))
    return {"path": str(path), **size}


def _cached(meta: Path, make) -> dict:
    if not meta.exists():
        tmp = meta.with_suffix(".tmp")
        tmp.write_text(json.dumps(make()))
        os.replace(tmp, meta)
    return json.loads(meta.read_text())


# --- session -----------------------------------------------------------------

def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # JVM temporary files and perf data stay out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if trace:  # keep every job, stage and SQL execution for attribution
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            conf[k] = "1000000"
    return conf


def set_up(conf: dict[str, str]):
    """``session.get_spark`` through a first completed action that starts
    the Python workers on every core, runs the stemmer UDF and compiles a
    shuffle and an aggregation."""
    from week5_datingnlp_big_data_spark import session
    from week5_datingnlp_big_data_spark.functions import stemmer

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=conf)
    n = spark.sparkContext.defaultParallelism
    words = spark.createDataFrame([(w,) for w in WARM_WORDS * 50], "w string").repartition(n)
    stems = words.select(stemmer.stem_one_udf()("w").alias("s")).distinct().collect()
    if len(stems) != len(WARM_WORDS):
        raise RuntimeError(f"warm-up stemmed {len(WARM_WORDS)} words into {len(stems)} stems")
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits at EOF on stdin
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- measurement -------------------------------------------------------------

@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    accuracies: list[float] = field(default_factory=list)
    latencies: list[tuple[str, float]] = field(default_factory=list)  # ops that passed
    cache_left: list[int] = field(default_factory=list)
    trim_kept: int = 0
    trim_seen: int = 0
    rss_mb: float = 0.0


def run_op(wl, op: str, tracer, traced: bool, tally: Tally, sc, jvm_pid: int) -> None:
    """Run, time and check one operation."""
    import spans as sp
    from workloads import Checked

    wl.reset()
    tally.attempted += 1
    tracer.enabled, tracer.op = traced, tally.attempted
    try:
        t0 = time.perf_counter()
        out = wl.run(op)
        dt = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        tally.failed += 1
        return
    finally:
        tracer.enabled = False
    if traced:
        tally.cache_left.append(sc._jsc.getPersistentRDDs().size())
        kept, seen = sp.trim_counts(tracer.trims)
        tracer.trims.clear()
        tally.trim_kept += kept
        tally.trim_seen += seen
    try:
        checked = wl.check(out)
    except Exception as e:  # output that cannot be checked is wrong
        checked = Checked(False, 0.0, repr(e))
    tally.rss_mb = max(tally.rss_mb, peak_rss_mb(jvm_pid))
    tally.accuracies.append(checked.accuracy)
    if checked.ok:
        tally.latencies.append((op, dt))
    else:
        print(f"# check failed: {op}: {checked.note}", file=sys.stderr)
        tally.failed += 1


def run(args: argparse.Namespace) -> tuple[Tally, dict, dict]:
    import spans as sp
    import workloads as wls
    from pyspark import SparkContext

    traced = bool(args.trace)
    inp = inputs(args.workload, args.seed)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = sp.Tracer(run_id)
    spark = None
    try:
        spark, setup_s = set_up(spark_conf(traced))
        jvm_pid = SparkContext._gateway.proc.pid
        sp.instrument(tracer)
        if args.workload == "paper_job":
            wl = wls.PaperJob(spark, tracer, inp["path"], inp["docs"], str(WORK / "out" / run_id))
        else:
            wl = wls.QueryMix(spark, tracer, inp["path"])

        # No warm-up: each run is a fresh application, and its first
        # operations pay codegen and JIT as a freshly submitted job does.
        tally = Tally()
        start = time.perf_counter()
        while True:
            run_op(wl, wl.next_op(), tracer, traced, tally, spark.sparkContext, jvm_pid)
            if wl.at_boundary() and time.perf_counter() - start >= args.seconds:
                break

        if traced:
            metrics = traced_metrics(spark, tracer, tally, inp)
            tracer.write(str(WORK / "traces" / f"{run_id}.json"))
        else:
            # Mean, not median, per run: a query pass holds each query once,
            # and a median of different queries jumps between them.
            busy = sum(t for _, t in tally.latencies)
            n = len(tally.latencies)
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (busy / n if n else 0.0, "s"),
                "jobs_per_s": (n / busy if n else 0.0, "1/s"),
                "peak_rss_mb": (tally.rss_mb, "MB"),
                "accuracy": (statistics.median(tally.accuracies) if tally.accuracies else 0.0,
                             "ratio"),
                "ok_ratio": ((tally.attempted - tally.failed) / tally.attempted, "ratio"),
            }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host_info(), "input": inp, "setup_s": setup_s,
            "latencies_s": tally.latencies, "metrics": metrics,
        }
        (WORK / "results" / f"{run_id}.json").write_text(json.dumps(record, indent=1))
        return tally, metrics, record
    finally:
        if spark is not None:
            stop_jvm(spark)


def traced_metrics(spark, tracer, tally: Tally, inp: dict) -> dict:
    """Per-layer metrics, each divided by the number of traced operations."""
    import spans as sp
    from workloads import FAMILIES, QUERIES

    counts = sp.stage_counts(spark.sparkContext, tracer)
    spans = tracer.spans
    n_ops = max(len(tally.latencies), 1)
    cores = spark.sparkContext.defaultParallelism
    out = {k: (v, _unit(k)) for k, v in sp.layer_metrics(spans, counts, cores, n_ops).items()}

    sql = sp.sql_metric_totals(spark, {j for s in spans for j in counts[s.id]["job_ids"]})
    write = sum(counts[s.id]["write_bytes"] for s in spans) / n_ops
    tokens = inp.get("tokens") or inp["doc_tokens"]
    out["sources.read_bytes"] = (sql["scan_bytes"] / n_ops, "bytes")
    out["sources.write_bytes"] = (write, "bytes")
    out["sources.write_amplification"] = (write / inp["bytes"], "ratio")
    out["functions.stemmer.udf_rows"] = (sql["udf_rows"] / n_ops, "count")
    out["functions.stemmer.udf_s"] = (sql["udf_s"] / n_ops, "s")
    out["functions.stemmer.rows_per_token"] = (sql["udf_rows"] / n_ops / tokens, "ratio")
    out["operators.dfm.trim_keep_ratio"] = (
        tally.trim_kept / tally.trim_seen if tally.trim_seen else 0.0, "ratio")

    children = defaultdict(list)
    for s in spans:
        children[s.parent].append(s.id)

    def subtree_jobs(sid: int) -> float:
        return counts[sid]["jobs"] + sum(subtree_jobs(c) for c in children[sid])

    construct = [s for s in spans if s.name == "registry.construct"]
    execs = [s for s in spans if s.name == "registry.exec"]
    out["registry.construct_s"] = (sum(s.end - s.start for s in construct) / n_ops, "s")
    out["registry.construct_jobs"] = (sum(subtree_jobs(s.id) for s in construct) / n_ops, "count")
    out["registry.exec_s"] = (sum(s.end - s.start for s in execs) / n_ops, "s")
    out["registry.cache_entries_left"] = (
        statistics.mean(tally.cache_left) if construct else 0.0, "count")

    by_family = defaultdict(list)
    for op, t in tally.latencies:
        by_family[QUERIES.get(op)].append(t)
    for fam in FAMILIES:
        out[f"query_s.{fam}"] = (statistics.mean(by_family[fam]) if by_family[fam] else 0.0, "s")

    # traced_job_s minus an untraced run's job_s is the whole tracing
    # overhead; tracing_overhead_s is the part spent in span bookkeeping.
    busy = sum(t for _, t in tally.latencies)
    out["traced_job_s"] = (busy / len(tally.latencies) if tally.latencies else 0.0, "s")
    out["tracing_overhead_s"] = (tracer.overhead_s / n_ops, "s")
    return out


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    return {"self_s": "s", "gc_s": "s", "busy_ratio": "ratio",
            "shuffle_bytes": "bytes", "spill_bytes": "bytes"}.get(suffix, "count")


def main() -> int:
    args = parse_args()
    if not (PKG_DIR / "__init__.py").is_file():
        print(f"engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    for d in ("tmp", "spark-local", "traces", "results", "out", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # Python workers import the engine package: put the repository on
    # their path, whatever the caller's working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(1, str(ROOT))

    tally, metrics, record = run(args)
    h = record["host"]
    inp = {k: v for k, v in record["input"].items() if k != "path"}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} input={json.dumps(inp)}")
    print(f"# host nproc={h['nproc']} loadavg={h['loadavg']} vm_probe_ms={h['vm_probe_ms']}")
    print(f"# operations={tally.attempted} passed={len(tally.latencies)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value} {unit}")
    print(f"fail_ratio {tally.failed / tally.attempted} ratio")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
