"""Output checks for every benchmark pass.

A pass's output is reduced, inside the same Spark action, to a summary:
row count, keep count, scrub-hit count, an order-independent digest of
``(url, keep, scrubbed_text)`` and the full rows of a seeded sample of
urls. The digest and counts must equal the run's first pass; each sampled
row must agree with the program's pure-Python twins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from textcleaning_spark.functions.langid import predict_lang_py
from textcleaning_spark.functions.scrub import scrub_py

SAMPLE_ROWS = 48
# must be equal on every pass of a run
PASS_INVARIANTS = ("rows", "keep_rows", "hit_docs", "digest")


@dataclass(frozen=True)
class Expected:
    """What a pass must produce: its exact row count and, per sampled url,
    the extracted text, the twin language and the twin scrub of that text."""

    rows: int
    sample: dict[str, dict]


def expect(rows: int, texts: dict[str, str]) -> Expected:
    """Expected values for the sampled ``url -> extracted text`` pairs."""
    return Expected(
        rows=rows,
        sample={
            url: {"text": t, "pred_lang": predict_lang_py(t), "scrubbed": scrub_py(t)}
            for url, t in texts.items()
        },
    )


def summary_exprs(sample_urls) -> list[Column]:
    """Aggregates that reduce a pipeline output frame to its summary."""
    sampled = F.col("url").isin(sorted(sample_urls))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("keep_rows"),
        F.sum(
            F.when(F.col("keep") & (F.col("scrubbed_text") != F.col("text")), 1).otherwise(0)
        ).alias("hit_docs"),
        # a decimal sum cannot overflow (ANSI mode raises on long overflow)
        F.sum(F.xxhash64("url", "keep", "scrubbed_text").cast("decimal(38,0)")).alias("digest"),
        F.collect_list(
            F.when(
                sampled,
                F.struct("url", "text", "pred_lang", "keep", "scrubbed_text", "lineage_bucket"),
            )
        ).alias("sample"),
    ]


def normalize(values: dict) -> dict:
    """Observation/Row values -> plain JSON-able summary."""
    return {
        "rows": int(values["rows"]),
        "keep_rows": int(values["keep_rows"] or 0),
        "hit_docs": int(values["hit_docs"] or 0),
        "digest": str(values["digest"]),
        "sample": [r.asDict() for r in values["sample"]],
    }


def check_pass(summary: dict, reference: dict | None, expected: Expected) -> list[str]:
    """Problems with one pass's summary; empty when the output is correct."""
    problems = []
    if summary["rows"] != expected.rows:
        problems.append(f"rows {summary['rows']} != expected {expected.rows}")
    if reference is not None:
        for key in PASS_INVARIANTS:
            if summary[key] != reference[key]:
                problems.append(f"{key} {summary[key]} != first pass {reference[key]}")
    got = {r["url"]: r for r in summary["sample"]}
    if len(got) != len(summary["sample"]):
        problems.append("sampled url appears more than once")
    for url in sorted(set(expected.sample) ^ set(got)):
        problems.append(f"sampled url {'missing' if url in expected.sample else 'unexpected'}: {url}")
    for url in sorted(set(expected.sample) & set(got)):
        row, want = got[url], expected.sample[url]
        if row["text"] != want["text"]:
            problems.append(f"extracted text differs from the twin: {url}")
        if row["pred_lang"] != want["pred_lang"]:
            problems.append(f"pred_lang {row['pred_lang']} != twin {want['pred_lang']}: {url}")
        scrubbed = want["scrubbed"] if row["keep"] else None
        if row["scrubbed_text"] != scrubbed:
            problems.append(f"scrubbed_text differs from the twin (keep={row['keep']}): {url}")
    return problems
