"""KG benchmark: one workload, one seed, one run.

    python3 kgbench/run.py --workload construct --seed 1 --seconds 15 --trace 0

One closed-loop client issues one pass at a time on ``local[--cores]``.
Set-up (session start, the program's own staging, the cold pass and the
warm-up passes) is timed as ``setup_s``; then passes repeat for
``--seconds`` and ``wall_s`` is their median. Outputs are checked after the
timed region. ``--trace 1`` alternates untraced and traced passes and
reports the per-layer metrics instead. The last stdout line is the JSON
result; the exit code is non-zero if any pass or check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

N_DOCS = 8_000
#: Warm passes after the cold pass, from the curves in kgbench/warmup.json.
WARMUP_PASSES = {"construct": 10, "export": 6}
PARSE_SAMPLE = 1500
#: Timed passes of the one-core leg, after the construct warm-up count.
LEG_PASSES = 5
MEMORY_PASSES = 2
LINK_WARMUP, LINK_TRACED = 4, 3
LINK_LAYERS = ("dedup", "linking", "materialize")
RESULTS = ROOT / ".kgbench" / "results.jsonl"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
#: Metric units by name, for ``--trace 0`` and ``--trace 1``.
UNITS = [{m["name"]: m["unit"] for m in SPEC[kind]}
         for kind in ("end_to_end", "per_layer")]


class Ops:
    """Attempted and failed operations: every pass and every check."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.log: list[str] = []

    def run(self, what: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # a failed pass is counted, not fatal
            self.failed += 1
            self.log.append(f"{what}: {type(e).__name__}: "
                            f"{str(e).strip().splitlines()[0][:300]}")
            return None

    def check(self, name: str, ok: bool, detail: str):
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.log.append(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")


def _timed(ops, what, fn, *args):
    t = time.perf_counter()
    n = ops.run(what, fn, *args)
    return n, time.perf_counter() - t


def _traced(ops, tracer, fn, spark, inp):
    """One traced pass under a root span; its root, or None if it failed."""
    with tracer.span("pass") as root:
        cached = ops.run("traced pass", fn, spark, inp, tracer)
    for df in cached or ():
        df.unpersist()
    return None if cached is None else root


def scaling_leg(inp, cpu: int) -> dict:
    """Construct passes on one pinned core, in their own process: the
    construct warm-up count, then ``LEG_PASSES`` timed passes."""
    out = subprocess.run(
        [sys.executable, str(Path(__file__).with_name("leg.py")),
         str(inp.work), str(inp.expected_total), str(cpu),
         str(WARMUP_PASSES["construct"]), str(LEG_PASSES)],
        capture_output=True, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def run(args) -> tuple[dict, Ops, dict]:
    from kgbench import corpus, host, inprocess, layers, workloads
    from kgbench.sparkmetrics import SparkRest, SpanMetrics
    from kgbench.spans import Tracer, self_times
    from kgbench.traced import pass_metrics, setup_metrics

    wl = workloads.WORKLOADS[args.workload]
    record = {"key": host.result_key(args.workload, args.seed, args.cores),
              "trace": args.trace, "host": host.facts(args.cores)}
    steal = host.StealMeter()
    work = ROOT / ".kgbench" / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    docs = corpus.generate(N_DOCS, args.seed)
    inp = workloads.prepare(docs, work)
    ops = Ops()
    tracer = Tracer() if args.trace else None

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    t0 = time.perf_counter()
    spark = workloads.session(args.cores, work)
    try:
        record["host"]["java"] = spark._jvm.java.lang.System.getProperty(
            "java.version")
        if tracer:
            tracer.sc = spark.sparkContext
        if wl.staged:
            with span("setup.staging"):
                ops.run("staging", workloads.stage_triples, spark, inp)
        curve = []
        for i in range(1 + WARMUP_PASSES[wl.name]):
            with span("setup.cold" if i == 0 else "setup.warmup"):
                curve.append(_timed(ops, f"warm-up {i}", wl.run, spark, inp)[1])
        setup_s = time.perf_counter() - t0

        times, traced_times, roots, calib, triples = [], [], [], [], 0
        end = time.perf_counter() + args.seconds
        while True:
            calib.append(host.calib_ms())
            if tracer and len(times) > len(traced_times):
                root = _traced(ops, tracer, wl.traced, spark, inp)
                if root is not None:
                    traced_times.append(root.duration)
                    roots.append(root.id)
            else:
                n, dt = _timed(ops, "pass", wl.run, spark, inp)
                if n is not None:
                    times.append(dt)
                    triples = n
            if time.perf_counter() >= end:
                break

        # Memory is measured in passes of its own, after the timed region,
        # each started from a collected heap: peaks within the timed passes
        # depend on when the collector last ran, and the JVM's RSS creeps
        # up from pass to pass. The first pass settles the heap size after
        # the collection; the last one is reported.
        rss_mb = heap_mb = 0.0
        if not tracer:
            heap = host.HeapPeak(spark._jvm)
            with host.MemorySampler(workloads.jvm_pid(spark)) as mem:
                for _ in range(MEMORY_PASSES):
                    heap.collect()
                    heap.reset()
                    mem.lap()
                    ops.run("memory pass", wl.run, spark, inp)
                    rss_mb, heap_mb = mem.lap(), heap.read_mb()

        for name, ok, detail in ops.run("checks", wl.check, spark, inp,
                                        args.seed) or ():
            ops.check(name, ok, detail)
        link_roots = []
        if tracer and wl.name == "export":
            # Dedup, linking and materialize, measured on the stored table
            # export starts from: warm link passes, then traced ones, then
            # the link checks.
            for i in range(LINK_WARMUP):
                ops.run(f"link warm-up {i}", workloads.link_pass, spark, inp)
            for _ in range(LINK_TRACED):
                root = _traced(ops, tracer, workloads.link_traced, spark, inp)
                link_roots += [root.id] if root else []
            for name, ok, detail in ops.run(
                    "link checks", workloads.check_link, spark, inp,
                    args.seed) or ():
                ops.check(name, ok, detail)

        wall_s = statistics.median(times) if times else 0.0
        record.update(setup_s=setup_s, warmup_curve_s=curve, passes=times,
                      calib_ms=calib, checks=ops.log)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "triples_per_s": triples / wall_s if times else 0.0,
            "peak_rss_mb": rss_mb,
            "peak_heap_mb": heap_mb,
        }
        if tracer:
            metrics = {name: 0.0 for name in UNITS[1]}
            sm = SpanMetrics(SparkRest(spark.sparkContext))
            per_pass = [pass_metrics(wl.name, tracer, sm, r, inp.counters)
                        for r in roots]
            for name in per_pass[0] if per_pass else ():
                metrics[name] = statistics.median(p[name] for p in per_pass)
            metrics.update(setup_metrics(tracer, sm, wl.extract_setup_spans))
            # The traced pass of median duration: its self times add up
            # to its wall exactly.
            mid = sorted(range(len(roots)),
                         key=traced_times.__getitem__)[(len(roots) - 1) // 2]
            traced_wall = traced_times[mid]
            metrics.update({
                "warmup.first_over_steady": curve[1] / wall_s,
                "host.calib_ms": statistics.median(calib),
                "trace.overhead_s": traced_wall - wall_s,
                "trace.overhead_share": (traced_wall - wall_s) / wall_s,
            })
            record["self_s"] = self_times(tracer, roots[mid])
            record["traced_wall_s"] = traced_wall
            if wl.name == "construct":
                metrics.update(inprocess.parser_metrics(random.Random(
                    f"parse:{args.seed}").sample(docs, PARSE_SAMPLE)))
                metrics["pipeline.wall_over_python_per_core"] = wall_s / (
                    metrics["extract.python_total_s"] / args.cores)
                leg = ops.run("scaling leg", scaling_leg, inp,
                              max(os.sched_getaffinity(0)))
                if leg is not None:
                    record["leg"] = leg
                    metrics["pipeline.scaling_efficiency"] = (
                        leg["wall_s"] / wall_s / args.cores)
                crashes, detail = workloads.deep_probe(spark)
                metrics["extract.worker_crashes"] = float(crashes)
                record["deep_probe"] = detail
            else:
                link = [pass_metrics("link", tracer, sm, r, inp.counters)
                        for r in link_roots]
                for name in UNITS[1]:
                    if name.split(".")[0] in LINK_LAYERS and link:
                        metrics[name] = statistics.median(
                            p[name] for p in link)
                metrics.update(inprocess.serialize_metrics(
                    workloads.serialize_groups(spark, inp, args.seed)))
            record["bypassed"] = layers.bypassed(wl.name)
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    record.update(steal_share=steal.share(), metrics=metrics)
    return metrics, ops, record


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=3)
    args = p.parse_args(argv)
    try:
        import pyspark  # noqa: F401
        import rdf_rdfxml_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: the program is not importable: {e}", file=sys.stderr)
        return 2
    from kgbench import host
    host.check_cores(args.cores)

    metrics, ops, record = run(args)
    units = UNITS[args.trace]
    print(f"kgbench {record['key']} trace={args.trace}")
    print("host " + json.dumps(record["host"]) +
          f" steal_share={record['steal_share']:.4f}")
    for line in ops.log:
        print(line)
    if args.trace:
        print(f"traced wall {record['traced_wall_s']:.4f} s = sum of self "
              f"times {sum(record['self_s'].values()):.4f} s: " +
              ", ".join(f"{k} {v:.4f}" for k, v in record["self_s"].items()))
        print("bypassed: " + ", ".join(record["bypassed"]))
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    RESULTS.parent.mkdir(parents=True, exist_ok=True)
    with open(RESULTS, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
