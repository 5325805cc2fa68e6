"""The three seeded workloads and the cumulative layer prefixes they run.

Every input is a pure function of the seed. The program sees only the
generated files; the expected sample comes from the generator's rows and
the program's pure-Python twins.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.operators.quality import drop_reasons, score_documents
from textcleaning_spark.plans import audit
from textcleaning_spark.plans.pipeline import (
    N_LINEAGE_BUCKETS,
    add_lineage_bucket,
    detect_language,
    extract_text,
    html_to_text_py,
    metrics_table,
    run_quality_pipeline,
)
from textcleaning_spark.sources.pages import generate_pages, make_page
from textcleaning_spark.sources.warc import read_warc, write_warc

from checks import SAMPLE_ROWS, Expected, expect, normalize, summary_exprs

NPROC = len(os.sched_getaffinity(0))
STAGE = "quality_filter"

# Cumulative prefixes of the traced run, in order. Each workload times
# only the layers it has (Workload.layers); a layer it lacks gets the
# previous prefix's time, so its self time is exactly 0.
LAYERS = (
    "scan", "warc.parse", "extract", "langid", "score", "verdict", "scrub",
    "resume", "metrics", "write",
)
# pipeline layers as the program composes them in run_quality_pipeline;
# the "scrub" prefix calls run_quality_pipeline itself
_PIPELINE_STEPS = (
    ("extract", extract_text),
    ("langid", detect_language),
    ("score", score_documents),
    ("verdict", drop_reasons),
)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Inputs:
    dir: Path
    docs: int  # documents entering the pipeline per pass
    expected: Expected
    src: str  # parquet directory or .warc.gz glob
    done: frozenset = frozenset()  # lineage buckets already in the audit table
    buckets: frozenset = frozenset()  # lineage buckets that hold pages


class Workload:
    """A seeded input set and the pass the benchmark times on it."""

    name = ""
    layers = tuple(x for x in LAYERS if x not in ("warc.parse", "resume", "metrics", "write"))

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def make_inputs(self, spark: SparkSession, seed: int, d: Path) -> Inputs:
        raise NotImplementedError

    def scan(self, spark: SparkSession, inp: Inputs) -> DataFrame:
        """The raw read of what the pipeline reads, the first traced prefix
        (run_quality_pipeline never reads ``html`` of rows with text)."""
        return spark.read.parquet(inp.src).drop("html")

    def source(self, spark: SparkSession, inp: Inputs) -> DataFrame:
        """The pages frame the pipeline consumes."""
        return spark.read.parquet(inp.src)

    def plan(self, spark: SparkSession, inp: Inputs) -> DataFrame:
        return run_quality_pipeline(self.source(spark, inp))

    def restore(self, inp: Inputs) -> None:
        """Untimed reset before a pass."""

    def run(self, spark: SparkSession, inp: Inputs, scored: DataFrame):
        """One timed pass: pipeline -> noop sink, its output summarized in
        the same action. Returns a handle for :meth:`summarize`."""
        obs = Observation()
        noop(scored.observe(obs, *summary_exprs(inp.expected.sample)))
        return obs

    def summarize(self, spark: SparkSession, inp: Inputs, handle) -> dict:
        return normalize(handle.get)

    def extra_problems(self, spark: SparkSession, inp: Inputs, summary: dict) -> list[str]:
        return []

    def written(self, inp: Inputs) -> tuple[int, int]:
        """(files, bytes) the last pass wrote."""
        return 0, 0

    def prefix(self, spark: SparkSession, inp: Inputs, layer: str, span):
        """Build the prefix ending at ``layer``, with a span around each
        layer call. Returns ``(action, checked)``: the action to time, and
        whether its return value is a handle for :meth:`summarize`."""
        if layer == "scan":
            with span("plan:scan"):
                df = self.scan(spark, inp)
            return (lambda: noop(df)), False
        if LAYERS.index(layer) >= LAYERS.index("scrub"):
            with span("plan:run_quality_pipeline"):
                scored = self.plan(spark, inp)
            return self.tail_action(spark, inp, layer, scored)
        with span("plan:source"):
            df = self.source(spark, inp)
        for name, step in _PIPELINE_STEPS:
            if LAYERS.index(name) > LAYERS.index(layer):
                break
            with span(f"plan:{name}"):
                df = step(df)
        return (lambda: noop(df.drop("html"))), False

    def tail_action(self, spark, inp, layer, scored):
        """scrub: the timed pass itself (this workload has no resume,
        metrics or write layer)."""
        return (lambda: self.run(spark, inp, scored)), True


class PagesParquet(Workload):
    name = "pages_parquet"
    pages = 8_000

    def _write_pages(self, spark, seed, d: Path, n: int) -> tuple[str, dict]:
        path = str(d / "pages")
        generate_pages(spark, n, seed=seed, partitions=4 * NPROC).write.parquet(path)
        idx = random.Random(seed).sample(range(n), min(SAMPLE_ROWS, n))
        texts = {}
        for i in idx:
            url, _ts, _html, text, _lang = make_page(seed, i)
            texts[url] = text
        return path, texts

    def make_inputs(self, spark, seed, d):
        n = max(64, int(self.pages * self.scale))
        path, texts = self._write_pages(spark, seed, d, n)
        return Inputs(dir=d, docs=n, expected=expect(n, texts), src=path)


class WarcCrawl(Workload):
    """Records of 1-16 joined page bodies, the same length mix in every file."""

    name = "warc_crawl"
    layers = tuple(x for x in LAYERS if x not in ("resume", "metrics", "write"))
    files = 32
    records = 512

    def make_inputs(self, spark, seed, d):
        rng = random.Random(seed)
        per_file = max(1, int(self.records * self.scale) // self.files)
        mix = [1 + j % 16 for j in range(per_file)]
        rng.shuffle(mix)
        n_pages = sum(mix) * self.files
        rows = (
            generate_pages(spark, n_pages, seed=seed, partitions=4 * NPROC)
            .select("url", "warc_ts", "html")
            .collect()
        )
        d.mkdir(parents=True, exist_ok=True)
        pos, records = 0, []
        for f in range(self.files):
            recs = []
            for k in mix:
                chunk = rows[pos : pos + k]
                pos += k
                recs.append((chunk[0].url, chunk[0].warc_ts, b"".join(bytes(r.html) for r in chunk)))
            write_warc(str(d / f"seg-{f:03d}.warc.gz"), recs, compress=True)
            records.extend(recs)
        sample = rng.sample(records, min(SAMPLE_ROWS, len(records)))
        texts = {url: html_to_text_py(html) for url, _ts, html in sample}
        return Inputs(
            dir=d, docs=len(records), expected=expect(len(records), texts),
            src=str(d / "seg-*.warc.gz"),
        )

    def scan(self, spark, inp):
        return spark.read.format("binaryFile").load(inp.src).select("content")

    def source(self, spark, inp):
        return read_warc(spark, inp.src)


class AuditResume(PagesParquet):
    """The job's resume path: a seeded half of the lineage buckets is
    already in the audit table; each pass writes the other half."""

    name = "audit_resume"
    layers = tuple(x for x in LAYERS if x != "warc.parse")
    pages = 4_000
    done_share = 0.5

    def make_inputs(self, spark, seed, d):
        n = max(64, int(self.pages * self.scale))
        path, texts = self._write_pages(spark, seed, d, n)
        done = random.Random(seed + 1).sample(
            range(N_LINEAGE_BUCKETS), int(N_LINEAGE_BUCKETS * self.done_share)
        )
        # a partial earlier run over the finished buckets' pages, written
        # through the job's own functions
        bucketed = add_lineage_bucket(spark.read.parquet(path))
        is_done = F.col("lineage_bucket").isin(done)
        finished = run_quality_pipeline(bucketed.filter(is_done).drop("lineage_bucket"))
        finished = finished.persist(StorageLevel.MEMORY_AND_DISK)
        audit.write_stage(
            finished, spark, str(d / "seed_out"), str(d / "seed_audit"), STAGE,
            metrics=metrics_table(finished),
        )
        finished.unpersist()
        shutil.rmtree(d / "seed_out")
        pending = bucketed.filter(~is_done)
        sample_pending = {
            r.url for r in pending.filter(F.col("url").isin(sorted(texts))).select("url").collect()
        }
        buckets = {r.lineage_bucket for r in bucketed.select("lineage_bucket").distinct().collect()}
        return Inputs(
            dir=d,
            docs=n,
            expected=expect(
                pending.count(), {u: t for u, t in texts.items() if u in sample_pending}
            ),
            src=path,
            done=frozenset(done),
            buckets=frozenset(buckets),
        )

    def _paths(self, inp):
        return str(inp.dir / "out"), str(inp.dir / "audit")

    def restore(self, inp):
        out, aud = self._paths(inp)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(aud, ignore_errors=True)
        shutil.copytree(inp.dir / "seed_audit", aud)

    def run(self, spark, inp, scored):
        # the sequence of jobs/run_quality_filter.main with --resume
        out, aud = self._paths(inp)
        todo = audit.pending(scored, spark, aud, STAGE)
        todo = todo.persist(StorageLevel.MEMORY_AND_DISK)
        n_new = todo.count()
        if n_new > 0:
            audit.write_stage(todo, spark, out, aud, STAGE, metrics=metrics_table(todo))
        todo.unpersist()
        return n_new

    def summarize(self, spark, inp, n_new):
        out, _aud = self._paths(inp)
        summary = normalize(
            spark.read.parquet(out).agg(*summary_exprs(inp.expected.sample)).first().asDict()
        )
        summary["n_new"] = n_new
        return summary

    def extra_problems(self, spark, inp, summary):
        out, aud = self._paths(inp)
        problems = []
        if summary["n_new"] != summary["rows"]:
            problems.append(f"count() {summary['n_new']} != rows written {summary['rows']}")
        written = {
            int(p.split("=", 1)[1]) for p in os.listdir(out) if p.startswith("lineage_bucket=")
        }
        if written != inp.buckets - inp.done:
            problems.append(f"buckets written against the audit: {sorted(written)}")
        audited = {
            r.lineage_bucket
            for r in spark.read.parquet(aud).filter(F.col("stage") == STAGE)
            .select("lineage_bucket").distinct().collect()
        }
        if audited != inp.buckets:
            problems.append(f"audit lists {len(audited)} buckets, not {len(inp.buckets)}")
        return problems

    def written(self, inp):
        out, aud = self._paths(inp)
        seeded = {p.name for p in (inp.dir / "seed_audit").iterdir()}
        files = [p for p in Path(out).rglob("*") if p.is_file() and not p.name.startswith(".")]
        files += [p for p in Path(aud).iterdir() if p.is_file() and p.name not in seeded
                  and not p.name.startswith(".")]
        return len(files), sum(p.stat().st_size for p in files)

    def tail_action(self, spark, inp, layer, scored):
        if layer == "write":
            return (lambda: self.run(spark, inp, scored)), True
        if layer == "scrub":
            return (lambda: noop(scored)), False
        _out, aud = self._paths(inp)

        def resume_prefix():
            todo = audit.pending(scored, spark, aud, STAGE)
            todo = todo.persist(StorageLevel.MEMORY_AND_DISK)
            todo.count()
            if layer == "metrics":
                noop(metrics_table(todo))
            todo.unpersist()

        return resume_prefix, False


WORKLOADS = {w.name: w for w in (PagesParquet, WarcCrawl, AuditResume)}
