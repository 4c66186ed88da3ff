"""Per-layer measurements for the traced run.

Spans come from the benchmark's own code, around calls into each layer's
public functions; the program itself is not instrumented. Each span also
carries the SQL status-store metrics of the executions that ran inside it.

Layers (repo modules):

- ``kernels``: ``ocr_spark.kernels`` timed single-process.
- ``extract``: ``ocr_spark.extract.extract`` to the ``noop`` sink, and its
  ArrowEvalPython node inside the production job.
- ``partitioning``: ``ocr_spark.partitioning.repartition_salted`` to noop.
- ``io``: ``ocr_spark.io.ExtractWriter.run``, the production job path.
- operator modules: each curate query of ``driver_contract.QUERIES``.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd

from session import node_sum

TOOL_CLASSES = ("html", "pdf", "plain")


def _tool_class(tool) -> str:
    return tool if tool in ("html", "pdf") else "plain"


def kernels(sample: pd.DataFrame) -> dict:
    """``extract_batch`` on a sample of the workload's own input, with
    ``extract_one`` wrapped to time each turn. The time of the batch not
    spent inside ``extract_one`` is frame assembly."""
    from ocr_spark.kernels import pipeline

    texts, tools = sample["text"], sample["tool"]
    pipeline.extract_batch(texts.iloc[:50], tools.iloc[:50])  # imports, caches
    real = pipeline.extract_one
    spent = dict.fromkeys(TOOL_CLASSES, 0.0)
    count = dict.fromkeys(TOOL_CLASSES, 0)

    def timed_one(raw, tool):
        t0 = time.perf_counter()
        out = real(raw, tool)
        cls = _tool_class(tool)
        spent[cls] += time.perf_counter() - t0
        count[cls] += 1
        return out

    pipeline.extract_one = timed_one
    try:
        t0 = time.perf_counter()
        pipeline.extract_batch(texts, tools)
        batch_s = time.perf_counter() - t0
    finally:
        pipeline.extract_one = real
    out = {
        "kernels.turns_per_core_s": len(sample) / batch_s,
        "kernels.assemble_frac": 1.0 - sum(spent.values()) / batch_s,
    }
    for cls in TOOL_CLASSES:
        # a class the workload does not contain reports 0
        out[f"kernels.{cls}.turns_per_core_s"] = (
            count[cls] / spent[cls] if count[cls] else 0.0
        )
    return out


def arrow_eval(nodes: list[dict]) -> dict:
    """The extraction UDF's Arrow boundary: ArrowEvalPython node totals."""
    def tot(metric):
        return node_sum(nodes, "ArrowEvalPython", metric)

    return {
        "extract.py_start_s": tot("time to start Python workers"),
        "extract.py_init_s": tot("time to initialize Python workers"),
        "extract.py_run_s": tot("time to run Python workers"),
        "extract.bytes_to_py": tot("data sent to Python workers"),
        "extract.bytes_from_py": tot("data returned from Python workers"),
    }


def extract_noop(spark, tracer, input_dir: Path, flags: dict) -> float:
    """Extraction alone, to the noop sink, with the job's repartition
    flags. Returns wall seconds."""
    from ocr_spark.extract import extract
    from ocr_spark.io import read_transcripts

    with tracer.span("extract.noop"):
        t0 = time.perf_counter()
        extract(
            read_transcripts(spark, str(input_dir)),
            partitions=flags["partitions"],
            salt_buckets=flags["salt_buckets"],
            salt_threshold=flags["salt_threshold"],
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def partitioning(spark, tracer, input_dir: Path, flags: dict) -> dict:
    """The salted conv_id-hash repartition alone, to the noop sink, plus an
    exact row count per output partition."""
    from pyspark.sql import functions as F

    from ocr_spark.io import read_transcripts
    from ocr_spark.partitioning import repartition_salted

    parts = flags["partitions"]
    pruned = read_transcripts(spark, str(input_dir)).select(
        "conv_id", "turn_idx", "text", "tool"
    )
    rp = repartition_salted(
        pruned, parts,
        salt_buckets=flags["salt_buckets"],
        salt_threshold=flags["salt_threshold"],
    )
    with tracer.span("partitioning.noop") as sp:
        t0 = time.perf_counter()
        rp.write.format("noop").mode("overwrite").save()
        shuffle_s = time.perf_counter() - t0
    nodes = tracer.nodes(sp)
    tasks = tracer.store.task_seconds(max(sp["executions"]))
    with tracer.span("partitioning.rows_per_partition"):
        rows = {
            r["p"]: r["n"]
            for r in rp.select(F.spark_partition_id().alias("p"))
            .groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    counts = [rows.get(p, 0) for p in range(parts)]
    return {
        "partitioning.shuffle_s": shuffle_s,
        "partitioning.shuffle_bytes": node_sum(nodes, "Exchange", "shuffle bytes written"),
        "partitioning.max_over_median_rows": max(counts) / max(1.0, statistics.median(counts)),
        "partitioning.task_max_over_median": (
            max(tasks) / statistics.median(tasks) if tasks else 0.0
        ),
    }


def child_noop(input_dir: Path, flags: dict, cpus: list[int]) -> float:
    """extract-to-noop in a fresh JVM on ``local[len(cpus)]``, pinned with
    taskset to ``cpus`` and warmed up on the same input first. Both sides
    of the scaling ratio are measured this way, so JIT warmth is the same
    on each: against the main JVM, which has run many more jobs, the ratio
    read above 1. Returns wall seconds."""
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        sys.executable, str(Path(__file__).with_name("run.py")),
        "--scaling-child", str(input_dir), "--flags", json.dumps(flags),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"{len(cpus)}-core child failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])["noop_s"]


def io(job: dict, check: dict, nodes: list[dict], input_bytes: int,
       noop_s: float) -> dict:
    """The production job path: scans per committed turn, bucket groups
    (durations between lineage commits), bytes and files written."""
    wh: Path = job["warehouse"]
    commits = check["commits"]
    marks = [job["start"], *commits]
    groups = [b - a for a, b in zip(marks, marks[1:])]
    data_bytes = sum(f.stat().st_size for f in (wh / "extracted").rglob("*.parquet"))
    return {
        "io.rows_scanned_per_turn": node_sum(nodes, "Scan parquet", "number of output rows")
        / max(1, check["committed_turns"]),
        "io.groups": len(groups),
        "io.group_s_median": statistics.median(groups),
        "io.group_s_max": max(groups),
        "io.write_bytes_per_input_byte": data_bytes / input_bytes,
        "io.files_written": sum(1 for _ in wh.rglob("*.parquet")),
        "io.outside_extract_frac": 1.0 - noop_s / job["seconds"],
    }
