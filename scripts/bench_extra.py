"""Round-7 noop-sink isolation bench (guide §1.4) — NOT the driver bench.

Times individual declared queries through the noop sink, best-of-K, at an
arbitrary sf dir.  bench.py stays frozen (driver contract); cite these
numbers in OPTIMIZATION_r07.md.

    python scripts/bench_extra.py [sf_dir] [K] query ...
    python scripts/bench_extra.py /root/testdata/sf1.0 2 dedup_semantic ...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    names = sys.argv[3:]

    import __spark_entry__ as entrymod
    from bench import WARMUP
    from moira_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(app_name="bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if not names:
        names = list(qs)

    # warm-up: codegen + python worker pool
    qs[WARMUP](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, list[float]] = {}
    for name in names:
        runs = []
        try:
            for _ in range(k):
                t0 = time.time()
                spark.sparkContext.setJobDescription(f"r07:{name}")
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
        except Exception as exc:  # keep benching the rest
            print(f"{name:28s} ERROR {type(exc).__name__}: {exc}", flush=True)
            spark.catalog.clearCache()
            continue
        out[name] = runs
        print(f"{name:28s} best={min(runs):7.3f} runs={runs}", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "runs": out}))


if __name__ == "__main__":
    main()
