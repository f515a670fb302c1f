"""Write ``kgbench/warmup.json``, the warm-up curves behind
``run.WARMUP_PASSES``, from the run records in ``.kgbench/results.jsonl``.

    python3 kgbench/curve.py

An untraced run's cold pass, warm-up passes and timed passes follow each
other back to back, with only the short ``host.calib_ms`` loop between
timed passes, so together they are one warm-up curve. A traced construct
run adds the curve of its one-core leg. Only records of the current code
are used. Each curve is divided by the median of its last half (the
steady level); per curve set, the file gives the median of those ratios
at each pass.
"""

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def relative(curve: list[float]) -> list[float]:
    steady = statistics.median(curve[len(curve) // 2:])
    return [t / steady for t in curve]


def main() -> None:
    from kgbench import host, run
    code = host.code_hash()[:16]
    curves: dict[str, list] = {}
    for line in run.RESULTS.read_text().splitlines():
        r = json.loads(line)
        if not r["key"].startswith(code):
            continue
        workload = r["key"].split("/")[1]
        if not r["trace"]:
            curves.setdefault(workload, []).append(
                r["warmup_curve_s"] + r["passes"])
        elif "leg" in r:
            curves.setdefault("construct one-core leg", []).append(
                r["leg"]["curve_s"])
    out = {"code": code, "docs": run.N_DOCS,
           "warmup_passes": run.WARMUP_PASSES, "relative_to_steady": {},
           "curves_s": {k: [[round(t, 4) for t in c] for c in v]
                        for k, v in curves.items()}}
    for name, cs in curves.items():
        ratios = [relative(c) for c in cs]
        out["relative_to_steady"][name] = [
            round(statistics.median(r[i] for r in ratios if i < len(r)), 3)
            for i in range(max(map(len, ratios)))]
        print(name, len(cs), "curves:", out["relative_to_steady"][name])
    Path(__file__).with_name("warmup.json").write_text(
        json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
