"""One-core leg of ``pipeline.scaling_efficiency``: the construct pass on a
single pinned CPU, in its own process and Spark session.

    python3 kgbench/leg.py WORK EXPECTED_TRIPLES CPU WARMUP PASSES

``WORK`` holds the documents Parquet written by ``run.py``. After the cold
pass and ``WARMUP`` warm passes, ``PASSES`` passes are timed. Prints one
JSON line: their median, the counts, and every pass time in order.
"""

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(work, expected, cpu, warmup, passes) -> None:
    os.sched_setaffinity(0, {int(cpu)})  # before the JVM starts
    from kgbench import workloads
    inp = workloads.Inputs(docs=[], work=Path(work),
                           expected_total=int(expected))
    spark = workloads.session(1, Path(work))
    times = []
    try:
        for _ in range(1 + int(warmup) + int(passes)):
            t = time.perf_counter()
            workloads.construct_pass(spark, inp)
            times.append(time.perf_counter() - t)
    finally:
        workloads.stop_session(spark)
    timed = times[1 + int(warmup):]
    print(json.dumps({"wall_s": statistics.median(timed),
                      "warmup": int(warmup), "passes": len(timed),
                      "curve_s": times}))


if __name__ == "__main__":
    main(*sys.argv[1:])
