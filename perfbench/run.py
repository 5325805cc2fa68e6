"""Same-box pipeline benchmark for the web-text quality filter.

    python3 perfbench/run.py --workload pages_parquet --seed 1 --seconds 8 --trace 0
    python3 perfbench/selftest.py             # tiny-size self-test
    python3 perfbench/compare.py OLD.json NEW.json

Runs from the root of a checkout. One process generates the seeded input,
starts ``local[nproc]``, and times the pipeline. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the full
result, stamped with the CPU count and the Spark, Python and Java versions,
goes to ``perfbench/out/``.

Timing rule: set-up runs once: a ``local[nproc]`` session with a fixed
2 GiB heap (JVM launch included), seeded input generation, plan build and
two checked warm-up passes. ``setup_s`` is the time from
process start to the first timed pass. Checked passes then repeat until
their timed total reaches ``--seconds``; ``pass_s`` is their median.
``peak_mem_mib`` is the peak, over the timed passes, of the Python
workers' RSS plus Spark's on-heap execution and storage memory; the JVM's
own RSS is left out because the heap is pinned at 2 GiB.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead, from a run with the Spark event log on. Each
round times every cumulative prefix the workload has (scan, +warc.parse,
+extract, +langid, +score, +verdict, +scrub, +resume, +metrics, +write)
with spans around each layer call, and one untraced full pass with the
event log detached. A layer's self time is the difference of the medians
of two consecutive prefixes, so the self times sum to the traced full
pass; a layer the workload does not have is not run and its self time is
0. The tracing overhead compares the traced full pass with the untraced
one of the same process. Spans go to
``perfbench/out/<workload>_seed<n>_spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from probes import (
    MemPeak,
    Tracer,
    descendants,
    env_stamp,
    event_log_paused,
    read_event_log,
    tree_cpu_s,
)

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# A fixed-size heap: while G1 resized the default 8g-capped heap, the
# same run varied ~15% in pass time from one JVM to the next.
DRIVER_MEM = "2g"
WARMUPS = 2
MIN_PASSES = 3
# traced rounds: 3, or only 2 once the process is TRACE_DEADLINE_S old, so
# that a slow host still ends the run in time
TRACE_ROUNDS = (2, 3)
TRACE_DEADLINE_S = 100


def _find_program() -> None:
    """The benchmark builds nothing: the program is the checkout's source."""
    if not (ROOT / "textcleaning_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no textcleaning_spark package in {ROOT}; run from a full checkout")
    sys.path.insert(0, str(ROOT))
    # Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write in ``work``."""
    for sub in ("local", "tmp", "eventlog", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # heap cap, read by session.get_spark; start_session pins -Xms to it
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def start_session(work: Path, event_log: bool):
    from textcleaning_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.eventLog.enabled": str(event_log).lower(),
        "spark.eventLog.dir": str(work / "eventlog"),
        "spark.eventLog.compress": "false",
    }
    from workloads import NPROC

    spark = get_spark(app_name="perfbench", cores=NPROC, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its workers are gone."""
    from pyspark import SparkContext

    pids = set(descendants())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Bench:
    """One process: one Spark session and set-up, then the measurement."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: Path):
        self.wl, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.spark = self.inp = self.scored = self.reference = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.setup: dict = {}

    def fail(self, label: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems += [f"{label}: {p}" for p in problems]

    def check(self, label: str, handle) -> bool:
        """Summarize and check one pass's output (untimed)."""
        from checks import check_pass

        wl, spark, inp = self.wl, self.spark, self.inp
        summary = wl.summarize(spark, inp, handle)
        problems = check_pass(summary, self.reference, inp.expected)
        problems += wl.extra_problems(spark, inp, summary)
        if problems:
            self.fail(label, problems)
        elif self.reference is None:
            self.reference = summary
        return not problems

    def timed(self, label: str, action):
        """Run ``action`` under job description ``label``.
        Returns (handle, wall s, tree CPU s)."""
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        try:
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            handle = action()
            return handle, time.perf_counter() - t0, tree_cpu_s() - cpu0
        finally:
            sc.setJobDescription(None)

    def checked_pass(self, label: str):
        """One timed pass, checked. Returns (wall, cpu), or None if it failed."""
        self.attempted += 1
        try:
            self.wl.restore(self.inp)
            handle, wall, cpu = self.timed(
                label, lambda: self.wl.run(self.spark, self.inp, self.scored)
            )
            if self.check(label, handle):
                return wall, cpu
        except Exception:
            traceback.print_exc()
            self.fail(label, ["raised"])
        return None

    def set_up(self) -> None:
        """Session, seeded input, plan and warm-ups; ends at the first timed pass."""
        self.spark = start_session(self.work, self.trace)
        self.env = env_stamp(self.spark)
        t0 = time.perf_counter()
        self.inp = self.wl.make_inputs(self.spark, self.seed, self.work / "input")
        t1 = time.perf_counter()
        self.scored = self.wl.plan(self.spark, self.inp)
        for w in range(WARMUPS):
            self.checked_pass(f"warmup{w}")
        t2 = time.perf_counter()
        self.setup = {"session_s": t0 - T_START, "input_s": t1 - t0, "warmup_s": t2 - t1,
                      "total_s": t2 - T_START}

    # -- trace 0 --------------------------------------------------------------

    def measure(self) -> dict:
        self.set_up()
        walls, cpus = [], []
        with MemPeak(self.spark) as mem:
            while sum(walls) < self.seconds or len(walls) < MIN_PASSES:
                got = self.checked_pass(f"pass{len(walls)}")
                if got is not None:
                    walls.append(got[0])
                    cpus.append(got[1])
                elif self.failed > MIN_PASSES + WARMUPS:
                    break  # a broken program: report it rather than loop
        docs = self.inp.docs
        pass_s = statistics.median(walls) if walls else math.nan
        cpu = statistics.median(cpus) if cpus else math.nan
        return {
            "metrics": {
                "docs_per_s": (docs / pass_s, "docs/s"),
                "pass_s": (pass_s, "s"),
                "cpu_s_per_kdoc": (cpu * 1000 / docs, "s"),
                "peak_mem_mib": (mem.peak / 2**20, "MiB"),
                "setup_s": (self.setup["total_s"], "s"),
            },
            "passes_s": walls,
            "passes_cpu_s": cpus,
        }

    # -- trace 1 --------------------------------------------------------------

    def measure_traced(self) -> dict:
        from workloads import LAYERS

        self.set_up()
        tracer = Tracer()
        layers = self.wl.layers
        times: dict[str, list[float]] = {layer: [] for layer in layers}
        untraced: list[float] = []
        rounds = 0
        while rounds < TRACE_ROUNDS[0] or (
            rounds < TRACE_ROUNDS[1] and time.perf_counter() - T_START < TRACE_DEADLINE_S
        ):
            for layer in layers:
                pass_id = f"r{rounds}:{layer}"
                self.attempted += 1
                try:
                    self.wl.restore(self.inp)
                    with tracer.span("pass", pass_id):
                        action, checked = self.wl.prefix(
                            self.spark, self.inp, layer, lambda n: tracer.span(n, pass_id)
                        )
                        with tracer.span("execute", pass_id):
                            handle, wall, _cpu = self.timed(pass_id, action)
                    if not checked or self.check(pass_id, handle):
                        times[layer].append(wall)
                except Exception:
                    traceback.print_exc()
                    self.fail(pass_id, ["raised"])
            with event_log_paused(self.spark):
                got = self.checked_pass(f"r{rounds}:untraced")
            if got is not None:
                untraced.append(got[0])
            rounds += 1
        final = f"r{rounds - 1}:{layers[-1]}"
        files, nbytes = self.wl.written(self.inp)
        html_rows = self.wl.source(self.spark, self.inp).filter("text IS NULL").count()
        self.spark.stop()  # closes the event log
        counters = read_event_log(str(self.work / "eventlog")).get(final)
        if counters is None or not untraced or any(not t for t in times.values()):
            raise RuntimeError(f"a traced prefix failed on every round: {self.problems[:5]}")

        med: dict[str, float] = {}
        for k, layer in enumerate(LAYERS):
            # a layer the workload lacks adds nothing to the previous prefix
            med[layer] = (statistics.median(times[layer]) if layer in times
                          else med[LAYERS[k - 1]] if k else 0.0)
        self_s = {
            layer: med[layer] - (med[LAYERS[k - 1]] if k else 0.0)
            for k, layer in enumerate(LAYERS)
        }
        sql = counters["sql"]
        py_rows = sql.get("ArrowEvalPython:number of output rows", 0.0)
        setup = self.setup
        pass_s = statistics.median(untraced)
        ref = self.reference
        metrics = {
            "scan.s": (self_s["scan"], "s"),
            "warc.parse_s": (self_s["warc.parse"], "s"),
            "warc.records": (sql.get("MapInPandas:number of output rows", 0.0), "count"),
            "extract.s": (self_s["extract"], "s"),
            "extract.html_rows": (html_rows, "count"),
            "langid.s": (self_s["langid"], "s"),
            "langid.py_rows": (py_rows, "count"),
            "langid.py_bytes_in": (sql.get("ArrowEvalPython:data sent to Python workers", 0.0), "B"),
            "langid.py_bytes_out": (
                sql.get("ArrowEvalPython:data returned from Python workers", 0.0), "B"
            ),
            "langid.py_run_core_s": (
                sql.get("ArrowEvalPython:time to run Python workers", 0.0) / 1000, "core-s"
            ),
            "score.s": (self_s["score"], "s"),
            "verdict.s": (self_s["verdict"], "s"),
            "verdict.keep_rows": (ref["keep_rows"], "count"),
            "scrub.s": (self_s["scrub"], "s"),
            "scrub.hit_docs": (ref["hit_docs"], "count"),
            "resume.s": (self_s["resume"], "s"),
            "resume.useful_frac": (ref["rows"] / py_rows if py_rows else 0.0, "ratio"),
            "metrics.s": (self_s["metrics"], "s"),
            "metrics.shuffle_bytes": (counters["shuffle_bytes"], "B"),
            "write.s": (self_s["write"], "s"),
            "write.files": (files, "count"),
            "write.bytes": (nbytes, "B"),
            "engine.tasks": (counters["tasks"], "count"),
            "engine.task_skew": (counters["task_skew"], "ratio"),
            "engine.gc_s": (counters["gc_s"], "s"),
            "engine.spill_bytes": (counters["spill_bytes"], "B"),
            "setup.session_s": (setup["session_s"], "s"),
            "setup.input_s": (setup["input_s"], "s"),
            "setup.warmup_s": (setup["warmup_s"], "s"),
            "trace.full_pass_s": (med[LAYERS[-1]], "s"),
            "trace.overhead_frac": (med[LAYERS[-1]] / pass_s - 1, "ratio"),
        }
        self.tracer = tracer
        return {
            "metrics": metrics,
            "untraced_pass_s": pass_s,
            "untraced_runs_s": untraced,
            "rounds": rounds,
            "prefix_median_s": med,
            "prefix_runs_s": times,
            "engine": counters,
        }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-test uses a tiny one)")
    args = p.parse_args(argv)

    _find_program()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    _isolate(work)
    bench = Bench(WORKLOADS[args.workload](args.scale), args.seed, args.seconds,
                  bool(args.trace), work)
    try:
        if args.trace:
            result = bench.measure_traced()
        else:
            result = bench.measure()
    finally:
        if bench.spark is not None:
            stop_jvm(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {
        name: {"value": v if math.isfinite(v) else None, "unit": unit}
        for name, (v, unit) in result.pop("metrics").items()
    }
    correct = bench.failed == 0 and bench.reference is not None
    stem = f"{args.workload}_seed{args.seed}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "env": bench.env,
        "docs": bench.inp.docs, "correct": correct, "attempted": bench.attempted,
        "failed": bench.failed, "error_rate": bench.failed / max(bench.attempted, 1),
        "problems": bench.problems[:100], "setup": bench.setup,
        "metrics": metrics, **result,
    }
    (out_dir / f"{stem}_trace{args.trace}.json").write_text(json.dumps(record, indent=1) + "\n")
    if args.trace:
        bench.tracer.write(str(out_dir / f"{stem}_spans.jsonl"))

    env = bench.env
    print(f"# {args.workload} seed={args.seed} docs={bench.inp.docs} local[{env['cpus']}] "
          f"spark {env['spark']} python {env['python']} java {env['java']}")
    for p in bench.problems[:20]:
        print(f"# PROBLEM {p}")
    print(f"# error_rate {record['error_rate']:.4f} ({bench.failed}/{bench.attempted} passes)")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
