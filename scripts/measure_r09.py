#!/usr/bin/env python
"""Round-9 optimization measurement harness (guide section 1: measure
first). For each named query: warm-up pass, min-of-N timed ``count()``
(the bench's exact methodology), the number of Spark jobs one pass
launches (stage/job fixed cost dominates small-scale wall time, so the
job count is the first thing to read next to the seconds), and the
formatted physical plan written to ``plans/r09/``.

Usage:
    python scripts/measure_r09.py [--suffix before] [--sf DIR] [name ...]
With no names: the full bench HEADLINE list.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from week5_datingnlp_big_data_spark import registry  # noqa: E402
from week5_datingnlp_big_data_spark.session import get_spark  # noqa: E402


def job_count(spark) -> int:
    """Monotone job counter: DAGScheduler's next job id."""
    nxt = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nxt if isinstance(nxt, int) else nxt.get()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--keepcache",
        action="store_true",
        help="skip clearCache between passes (the bench's DEFAULT "
        "methodology, where persist-carrying queries read earlier "
        "passes' caches) — for adjudicating driver-bench numbers",
    )
    args = ap.parse_args()

    import bench

    names = args.names or [
        n for n in bench.HEADLINE if n in registry.all_queries()
    ]
    spark = get_spark("measure_r09")
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / "r09"
    plans_dir.mkdir(parents=True, exist_ok=True)

    results: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"r09 measure: {name}")
        df = fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (plans_dir / f"{name}_{args.suffix}.txt").write_text(buf.getvalue())

        # warm-up (parquet footers, codegen) then min-of-N, one job-count
        # reading on the first timed pass. By default the SQL cache is
        # cleared between passes so no pass reads intermediates a previous
        # pass persisted — every timed pass computes from the parquet
        # inputs, as bench.py does only under SPARK_GRAFT_BENCH_CLEARCACHE=1.
        # bench.py's default keeps the cache; --keepcache matches it.
        fn(spark, args.sf).count()
        samples = []
        jobs = None
        for i in range(args.n):
            if not args.keepcache:
                spark.catalog.clearCache()
            j0 = job_count(spark)
            t0 = time.perf_counter()
            fn(spark, args.sf).count()
            samples.append(time.perf_counter() - t0)
            if i == 0:
                jobs = job_count(spark) - j0
        best = min(samples)
        results[name] = {
            "best": round(best, 3),
            "spread": round(max(samples) / best, 3) if best else 1.0,
            "jobs": jobs,
        }
        print(
            f"{results[name]['best']:7.3f}s  jobs={jobs:3d}  "
            f"spread={results[name]['spread']:5.2f}  {name}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    out = args.out or f"/tmp/measure_r09_{args.suffix}.json"
    Path(out).write_text(json.dumps(results, indent=1))
    total = round(sum(r["best"] for r in results.values()), 3)
    print(f"total {total}s over {len(results)} queries -> {out}")


if __name__ == "__main__":
    main()
