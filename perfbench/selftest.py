"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

1. Every workload, traced and untraced, prints every metric named in
   BENCHMARK.json with its unit, and reports correct output.
2. The output check is not vacuous: a pass whose output has one flipped
   ``keep`` or one altered scrubbed byte is reported as failing. In a
   sampled row the Python twins alone catch it; elsewhere the counts and
   the digest compared with a clean pass do.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SCALE = 0.05


def check_metrics_printed(spec: dict) -> list[str]:
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
                capture_output=True, text=True, timeout=600,
            )
            label = f"{workload} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{label}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{label}: correct={out['correct']} failed={out['failed']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics/units {got} != {want}")
            for name, m in out["metrics"].items():
                if not isinstance(m["value"], (int, float)):
                    problems.append(f"{label}: {name} value {m['value']!r}")
            print(f"ok {label}: {len(got)} metrics")
    return problems


def check_corruption_caught() -> list[str]:
    import run

    run._find_program()
    from pyspark.sql import functions as F

    from checks import check_pass
    from workloads import PagesParquet

    work = HERE / ".work" / "selftest"
    run._isolate(work)
    spark = run.start_session(work, event_log=False)
    problems = []
    try:
        wl = PagesParquet(SCALE)
        inp = wl.make_inputs(spark, 7, work / "input")
        scored = wl.plan(spark, inp)

        def problems_of(df, reference):
            summary = wl.summarize(spark, inp, wl.run(spark, inp, df))
            return check_pass(summary, reference, inp.expected)

        clean = wl.summarize(spark, inp, wl.run(spark, inp, scored))
        if check_pass(clean, None, inp.expected):
            problems.append(f"clean pass fails its check: {check_pass(clean, None, inp.expected)}")
        kept = [r["url"] for r in clean["sample"] if r["keep"]]
        outside = (
            scored.filter(F.col("keep") & ~F.col("url").isin(sorted(inp.expected.sample)))
            .select("url").first().url
        )
        flip = lambda url: F.when(  # noqa: E731
            F.col("url") == url, ~F.col("keep")
        ).otherwise(F.col("keep"))
        alter = lambda url: F.when(  # noqa: E731
            F.col("url") == url, F.concat(F.lit("#"), F.expr("substring(scrubbed_text, 2)"))
        ).otherwise(F.col("scrubbed_text"))
        # (corrupted output, reference): a sampled row must be caught by the
        # twins alone; an unsampled one by the counts and digest
        cases = {
            "flipped keep, sampled row": (scored.withColumn("keep", flip(kept[0])), None),
            "altered scrubbed byte, sampled row": (
                scored.withColumn("scrubbed_text", alter(kept[1])), None
            ),
            "flipped keep, unsampled row": (scored.withColumn("keep", flip(outside)), clean),
            "altered scrubbed byte, unsampled row": (
                scored.withColumn("scrubbed_text", alter(outside)), clean
            ),
        }
        for name, (df, reference) in cases.items():
            found = problems_of(df, reference)
            if not found:
                problems.append(f"check missed: {name}")
            else:
                print(f"ok caught {name}: {found[0]}")
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return problems


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    problems = check_corruption_caught() + check_metrics_printed(spec)
    for p in problems:
        print("FAIL", p)
    print("self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
