#!/usr/bin/env python3
"""The repo benchmark: the production extraction job and one curation pass.

Run from the repository root::

    python3 perfbench/run.py --workload extract_chat --seed 1 --seconds 8 --trace 0

Workloads (``BENCHMARK.json`` says why each is there):

- ``extract_chat``: ``ExtractWriter.run``, the ``jobs/extract.py`` path,
  with ``--partitions`` set so the salted repartition runs, over
  chat-shaped transcripts with one whale.
- ``curate``: one pass of curation queries from ``driver_contract.QUERIES``
  over fixed ``documents``/``embeddings`` tables; the seed sets the order.

Load is one closed-loop client: one job at a time, in one process, on
``local[nproc]``. With ``--trace 0`` the run measures end-to-end metrics
for ``--seconds`` (at least one job); with ``--trace 1`` it makes the
separate traced run that reports the per-layer metrics and writes its
spans to ``.perfbench/traces/``. Every job's output is checked (per-turn
goldens for extraction, DuckDB oracle answers for curation); goldens and
oracle answers are cached under ``.perfbench/cache/`` outside the timed
regions. The last stdout line is the result JSON; the line before it
records the environment. The exit code is 1 when an output is wrong and
2 when the repository is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("extract_chat", "curate")
SIZES = {
    "full": {"chat_turns": 32000, "docs": 500, "vecs": 500, "sample": 3000,
             "files": 16},
    "tiny": {"chat_turns": 480, "docs": 60, "vecs": 60, "sample": 120, "files": 4},
}
SETUPS = 3  # session starts per untraced run; setup_s is their median
RUN_ID = "bench"
# ExtractWriter.run arguments, as ``jobs/extract.py`` flags give them: its
# defaults but ``--group-size 32 --partitions 4 --salt-threshold 2000``.
# Two bucket groups keep a job near 10 s on a 4-core VM, and the whale's
# tail is salted at this size.
JOB_FLAGS = {
    "n_buckets": 64,
    "group_size": 32,
    "partitions": 4,
    "salt_buckets": 1024,
    "salt_threshold": 2000,
}

# The curate pass: the bridge from extraction output into curation (its
# operators are textops') runs first, and first_commit_s on curate times
# it; the seed orders the rest. One query per operator module, chosen
# from those ROADMAP directions 3 and 4 target: a pass over every query
# does not fit the run's time budget.
BRIDGE = "extract_then_curate"
CURATE = {
    BRIDGE: "textops",
    "minhash_lsh": "dedup",
    "winnow_verified": "sketches",
    "conv_near_dup": "convops",
    "cosine_near_dup": "similarity",
    "kmeans_clusters": "clustering",
    "pq_encode": "pq",
}

END_TO_END = {
    "turns_per_s": "1/s",
    "first_commit_s": "s",
    "setup_s": "s",
    "peak_pss_mb": "MB",
}
_LAYER_UNITS = {
    "kernels.turns_per_core_s": "1/s",
    "kernels.html.turns_per_core_s": "1/s",
    "kernels.pdf.turns_per_core_s": "1/s",
    "kernels.plain.turns_per_core_s": "1/s",
    "kernels.assemble_frac": "ratio",
    "extract.turns_per_s": "1/s",
    "extract.ceiling_frac": "ratio",
    "extract.scaling_eff_1to4": "ratio",
    "extract.py_start_s": "s",
    "extract.py_init_s": "s",
    "extract.py_run_s": "s",
    "extract.bytes_to_py": "B",
    "extract.bytes_from_py": "B",
    "partitioning.shuffle_s": "s",
    "partitioning.shuffle_bytes": "B",
    "partitioning.max_over_median_rows": "ratio",
    "partitioning.task_max_over_median": "ratio",
    "io.rows_scanned_per_turn": "ratio",
    "io.groups": "count",
    "io.group_s_median": "s",
    "io.group_s_max": "s",
    "io.write_bytes_per_input_byte": "ratio",
    "io.files_written": "count",
    "io.outside_extract_frac": "ratio",
    "io.resume_noop_s": "s",
    "io.old_gen_peak_mb": "MB",
    "setup.cold_start_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(_LAYER_UNITS)
    for q, module in CURATE.items():
        units[f"{module}.{q}_s"] = "s"
        units[f"{module}.{q}.shuffle_bytes"] = "B"
        units[f"{module}.{q}.task_s"] = "s"
    return units


class Bench:
    """One run: its directories, inputs, checks and environment record."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: str) -> None:
        import inputs
        from session import build_zip

        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace
        )
        self.size_name, self.size = size, SIZES[size]
        self.cpus = sorted(os.sched_getaffinity(0))
        self.nproc = len(self.cpus)
        self.work = ROOT / ".perfbench"
        self.cache = self.work / "cache"
        self.run_dir = self.work / "runs" / f"{workload}-{seed}-{os.getpid()}"
        self.run_dir.mkdir(parents=True, exist_ok=True)
        self.t_start = time.perf_counter()
        self.phases: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        source = inputs.code_digest(ROOT, ["ocr_spark"])
        self.py_zip = self.work / "build" / f"ocr_spark-{source}.zip"
        if not self.py_zip.exists():
            build_zip(ROOT, self.py_zip)
        self.env = environment(self, source)

    def mark(self, phase: str) -> None:
        """Record the wall seconds since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self.t_start - sum(self.phases.values())

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(f"{what}: {failed} of {attempted} failed")

    # -- inputs ----------------------------------------------------------
    def warm_input(self) -> Path:
        """A few turns in nproc files: enough to start every Python worker."""
        import inputs

        d = self.run_dir / "warm"
        inputs.write_files(inputs.chat_transcripts(16 * self.nproc, 0), d, self.nproc)
        return d

    def golden(self, df):
        """The per-turn golden of ``df``, cached under the digests of its
        content and of the kernel and golden-building sources."""
        import inputs

        kdigest = inputs.code_digest(ROOT, ["ocr_spark/kernels", "perfbench/inputs.py"])
        path = self.cache / f"golden-{inputs.frame_digest(df)}-{kdigest}.pkl"
        t0 = time.perf_counter()
        g = inputs.cached(path, lambda: inputs.compute_golden(df))
        self.env["golden"] = {
            "turns": len(g),
            "digest": inputs.golden_digest(g),
            "load_s": time.perf_counter() - t0,
        }
        return g

    def curate_inputs(self):
        """The fixed curate tables and their DuckDB oracle answers, built
        once per checkout."""
        import inputs

        odigest = inputs.code_digest(
            ROOT, ["ocr_spark/driver_contract.py", "perfbench/inputs.py"]
        )
        tables = self.cache / f"curate-{self.size_name}-{odigest}"
        if not (tables / "embeddings.parquet").exists():
            tmp = tables.with_name(tables.name + f".tmp{os.getpid()}")
            inputs.curate_tables(tmp, self.size["docs"], self.size["vecs"])
            if tables.exists():
                shutil.rmtree(tmp)
            else:
                tmp.rename(tables)
        oracles = {
            q: inputs.cached(
                tables / f"oracle-{q}.pkl", lambda q=q: inputs.oracle_answer(tables, q)
            )
            for q in CURATE
        }
        return tables, oracles

    # -- checks ------------------------------------------------------------
    def check_job(self, job: dict, golden) -> dict:
        import inputs

        c = inputs.check_warehouse(job["warehouse"], golden)
        self.count(len(golden), c["failed"], f"{job['warehouse'].name} {c['detail']}")
        return c

    def check_pass(self, p: dict, oracles) -> None:
        from jobs.selfcheck import _compare

        for q, got in p["results"].items():
            if isinstance(got, Exception):
                err = f"raised {type(got).__name__}: {str(got)[:300]}"
            else:
                err = _compare(q, got, oracles[q])
            self.count(1, int(err is not None), f"{q}: {err}")


def environment(b: Bench, source: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    rev = None
    if (ROOT / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True,
        )
        rev = out.stdout.strip() or None
    return {
        "workload": b.workload, "seed": b.seed, "seconds": b.seconds,
        "trace": b.trace, "size": b.size_name, "nproc": b.nproc,
        "ram_bytes": mem_kb * 1024, "python": platform.python_version(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "git_revision": rev,
        "source_digest": source,
    }


# -- spark side ---------------------------------------------------------------


def setup(b: Bench, warm_dir: Path):
    """Session start plus warm-up (Python workers started, the extraction
    UDF loaded), ``SETUPS`` times; once in the traced run, which does not
    report ``setup_s``. The first start is cold: it also launches the JVM,
    loads classes and generates the first plans' code, which is what each
    ``spark-submit`` pays. The later ones stop and restart the session
    inside that JVM, so their median, ``setup_s``, leaves the JVM launch
    out (three cold starts, ~13 s each on a 4-core VM, would double a
    run's set-up time). The traced run reports the cold start as
    ``setup.cold_start_s``. Returns the last session and the set-up
    times."""
    from ocr_spark.extract import extract
    from ocr_spark.io import read_transcripts
    from session import start_session

    times = []
    starts = 1 if b.trace else SETUPS
    for i in range(starts):
        t0 = time.perf_counter()
        spark = start_session(b.nproc, b.run_dir, b.py_zip, f"perfbench-{b.workload}")
        extract(read_transcripts(spark, str(warm_dir))).write.format("noop").mode(
            "overwrite"
        ).save()
        times.append(time.perf_counter() - t0)
        if i + 1 < starts:
            spark.stop()
    b.env["setup_s"] = times
    return spark, times


def run_job(spark, input_dir: Path, warehouse: Path, flags: dict) -> dict:
    """One production job: what ``jobs/extract.py`` runs for these flags."""
    from ocr_spark.extract import ExtractCounters
    from ocr_spark.io import ExtractWriter, read_transcripts

    start = time.time()
    t0 = time.perf_counter()
    ExtractWriter(str(warehouse)).run(
        spark, read_transcripts(spark, str(input_dir)), RUN_ID,
        counters=ExtractCounters(spark), **flags,
    )
    return {"warehouse": warehouse, "start": start, "seconds": time.perf_counter() - t0}


def curate_order(seed: int) -> list[str]:
    rest = sorted(q for q in CURATE if q != BRIDGE)
    random.Random(seed).shuffle(rest)
    return [BRIDGE, *rest]


def curate_pass(spark, tables: Path, order: list[str], tracer=None) -> dict:
    """One pass: each query collected with ``toPandas`` (its result is checked).
    A query that raises is recorded as its result and the pass goes on."""
    from ocr_spark.driver_contract import QUERIES

    results, times, spans = {}, {}, {}
    t0 = time.perf_counter()
    first = None
    for q in order:
        name = f"{CURATE[q]}.{q}"
        with tracer.span(name) if tracer else nullcontext() as sp:
            tq = time.perf_counter()
            try:
                results[q] = QUERIES[q](spark, str(tables)).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                results[q] = e
            times[q] = time.perf_counter() - tq
        spans[q] = sp
        if first is None:
            first = time.perf_counter() - t0
    return {
        "results": results, "times": times, "spans": spans,
        "first_s": first, "seconds": time.perf_counter() - t0,
    }


def measure_loop(b: Bench, one):
    """Closed loop: run ``one()`` back to back for ``b.seconds`` (at least
    once) while sampling the process tree's peak memory. Callers run one
    untimed warm-up job first: the first job in a JVM also pays for class
    loading, JIT and plan code generation, which made it 30-70% slower,
    by a varying amount."""
    from session import PeakMemory

    done = []
    with PeakMemory() as mem:
        t0 = time.perf_counter()
        while not done or time.perf_counter() - t0 < b.seconds:
            done.append(one(len(done)))
    return done, mem.peak


# -- traced run -----------------------------------------------------------------


def extract_layers(b: Bench, spark, tracer, input_dir: Path, input_info: dict,
                   df, golden, flags: dict) -> dict:
    """Every extraction-side layer on one transcripts input. Returns the
    metrics and the traced job."""
    import layers
    from ocr_spark.io import ExtractWriter, read_transcripts
    from session import old_gen_peak

    m = layers.kernels(df.sample(n=min(b.size["sample"], len(df)), random_state=b.seed))
    with tracer.span("io.job") as sp, old_gen_peak(spark) as heap:
        job = run_job(spark, input_dir, b.run_dir / "wh-traced", flags)
    m["io.old_gen_peak_mb"] = heap["bytes"] / 1e6
    check = b.check_job(job, golden)
    job_nodes = tracer.nodes(sp)
    m.update(layers.arrow_eval(job_nodes))
    noop_s = layers.extract_noop(spark, tracer, input_dir, flags)
    m["extract.turns_per_s"] = len(df) / noop_s
    m["extract.ceiling_frac"] = m["extract.turns_per_s"] / (
        b.nproc * m["kernels.turns_per_core_s"]
    )
    m.update(layers.io(job, check, job_nodes, input_info["bytes"], noop_s))
    with tracer.span("io.resume"):
        t0 = time.perf_counter()
        again = ExtractWriter(str(job["warehouse"])).run(
            spark, read_transcripts(spark, str(input_dir)), RUN_ID, **flags
        )
        m["io.resume_noop_s"] = time.perf_counter() - t0
    b.count(1, int(bool(again)), f"resume recommitted buckets {again}")
    m.update(layers.partitioning(spark, tracer, input_dir, flags))
    with tracer.span("extract.scaling"):
        one_core_s = layers.child_noop(input_dir, flags, b.cpus[:1])
        all_cores_s = layers.child_noop(input_dir, flags, b.cpus)
    m["extract.scaling_eff_1to4"] = one_core_s / (b.nproc * all_cores_s)
    return m, job


def curate_layers(b: Bench, spark, tracer, tables: Path, oracles, order) -> tuple:
    """Per query: wall seconds, shuffle bytes, and the summed run time of
    its tasks. Task seconds well below wall seconds × nproc mean the query's
    wall time is mostly driver work: planning, stage scheduling and
    collecting the result."""
    from session import node_sum

    p = curate_pass(spark, tables, order, tracer)
    b.check_pass(p, oracles)
    m = {}
    for q, module in CURATE.items():
        span = p["spans"][q]
        m[f"{module}.{q}_s"] = p["times"][q]
        m[f"{module}.{q}.shuffle_bytes"] = node_sum(
            tracer.nodes(span), "Exchange", "shuffle bytes written"
        )
        m[f"{module}.{q}.task_s"] = sum(
            tracer.store.task_run_seconds(eid) for eid in span["executions"]
        )
    return m, p


# -- workloads --------------------------------------------------------------------


def extract_workload(b: Bench) -> dict:
    import inputs
    from session import StatusStore, Tracer, stop_jvm

    df = inputs.chat_transcripts(b.size["chat_turns"], b.seed)
    input_dir = b.run_dir / "input"
    info = inputs.write_files(df, input_dir, b.size["files"])
    flags = JOB_FLAGS
    b.env.update(input=info, job_flags=flags)
    golden = b.golden(df)
    tables, oracles = b.curate_inputs()
    b.mark("prepare")
    spark, setups = setup(b, b.warm_input())
    b.mark("setup")
    try:
        def one(i):
            return run_job(spark, input_dir, b.run_dir / f"wh{i}", flags)

        # warm-up on the real input: JIT needs the job's own data volume
        b.check_job(one("warm"), golden)
        b.mark("warm_up")
        if not b.trace:
            jobs, peak = measure_loop(b, one)
            b.mark("measure")
            checks = [b.check_job(j, golden) for j in jobs]
            b.mark("check")
            b.env["job_s"] = [j["seconds"] for j in jobs]
            return {
                "turns_per_s": statistics.median(
                    c["committed_turns"] / j["seconds"] for j, c in zip(jobs, checks)
                ),
                "first_commit_s": statistics.median(
                    c["commits"][0] - j["start"] for j, c in zip(jobs, checks)
                ),
                "setup_s": statistics.median(setups),
                "peak_pss_mb": peak / 1e6,
            }
        tracer = Tracer(StatusStore(spark), f"{b.workload}-{b.seed}")
        m, job = extract_layers(b, spark, tracer, input_dir, info, df, golden, flags)
        b.env["traced_job_s"] = job["seconds"]
        cm, _ = curate_layers(b, spark, tracer, tables, oracles, curate_order(b.seed))
        m.update(cm)
        m["setup.cold_start_s"] = setups[0]
        m["trace.overhead_s"] = tracer.overhead_s
        write_trace(b, tracer)
        return m
    finally:
        stop_jvm(spark)


def curate_workload(b: Bench) -> dict:
    import inputs
    import pyarrow.parquet as pq
    from ocr_spark.driver_contract import _docs_as_transcripts
    from session import StatusStore, Tracer, stop_jvm

    tables, oracles = b.curate_inputs()
    order = curate_order(b.seed)
    files = sorted(tables.glob("*.parquet"))
    b.env.update(curate_order=order, input={
        "documents": b.size["docs"], "embeddings": b.size["vecs"],
        "files": len(files), "bytes": sum(f.stat().st_size for f in files),
    })
    b.mark("prepare")
    spark, setups = setup(b, b.warm_input())
    b.mark("setup")
    try:
        if not b.trace:
            b.check_pass(curate_pass(spark, tables, order), oracles)
            b.mark("warm_up")
            passes, peak = measure_loop(b, lambda i: curate_pass(spark, tables, order))
            b.mark("measure")
            for p in passes:
                b.check_pass(p, oracles)
            b.env["curate_s"] = [p["seconds"] for p in passes]
            return {
                "turns_per_s": statistics.median(
                    b.size["docs"] / p["seconds"] for p in passes
                ),
                "first_commit_s": statistics.median(p["first_s"] for p in passes),
                "setup_s": statistics.median(setups),
                "peak_pss_mb": peak / 1e6,
            }
        # the traced pass is the first in this JVM, like the pass in the
        # extract workloads' traced runs, so operator numbers compare
        tracer = Tracer(StatusStore(spark), f"{b.workload}-{b.seed}")
        m, p = curate_layers(b, spark, tracer, tables, oracles, order)
        b.env["traced_curate_s"] = p["seconds"]
        # extraction-side layers on the bridge's own input: the documents
        # reshaped as html turns, written as the job's input; the job runs
        # with extract_chat's flags
        input_dir = b.run_dir / "input"
        _docs_as_transcripts(spark, str(tables), "html").repartition(
            b.size["files"]
        ).write.parquet(str(input_dir))
        df = pq.read_table(str(input_dir)).to_pandas()
        files = list(input_dir.glob("*.parquet"))
        info = {"turns": len(df), "files": len(files),
                "bytes": sum(f.stat().st_size for f in files)}
        golden = b.golden(df)
        em, _ = extract_layers(
            b, spark, tracer, input_dir, info, df, golden, JOB_FLAGS
        )
        m.update(em)
        m["setup.cold_start_s"] = setups[0]
        m["trace.overhead_s"] = tracer.overhead_s
        write_trace(b, tracer)
        return m
    finally:
        stop_jvm(spark)


def write_trace(b: Bench, tracer) -> None:
    out = b.work / "traces" / f"{b.workload}-seed{b.seed}-{os.getpid()}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    spans = [
        {**s, "executions": {str(k): v for k, v in s["executions"].items()}}
        for s in tracer.spans
    ]
    out.write_text(json.dumps({"env": b.env, "spans": spans}))
    b.env["trace_file"] = str(out.relative_to(ROOT))


def scaling_child(input_dir: str, flags: dict) -> int:
    """extract-to-noop on ``local[<cores this process may use>]`` in this
    process's own JVM (the caller pins it with taskset): once untimed, to
    warm up on the same input, then timed."""
    import layers
    from session import StatusStore, Tracer, build_zip, start_session, stop_jvm

    work = ROOT / ".perfbench" / "runs" / f"scaling-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    py_zip = build_zip(ROOT, work / "ocr_spark.zip")
    cores = len(os.sched_getaffinity(0))
    spark = start_session(cores, work, py_zip, f"perfbench-{cores}-cores")
    try:
        tracer = Tracer(StatusStore(spark), f"{cores}-cores")
        layers.extract_noop(spark, tracer, Path(input_dir), flags)
        noop_s = layers.extract_noop(spark, tracer, Path(input_dir), flags)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"noop_s": noop_s}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own test")
    ap.add_argument("--scaling-child", metavar="INPUT_DIR", help=argparse.SUPPRESS)
    ap.add_argument("--flags", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / "ocr_spark").is_dir():
        print(f"perfbench: no ocr_spark/ package next to {HERE.name}/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    # temporary files of this process, the JVM and the Python workers stay
    # inside the checkout
    tmp = ROOT / ".perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    if args.scaling_child:
        return scaling_child(args.scaling_child, json.loads(args.flags))
    if args.workload is None:
        ap.error("--workload is required")

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        run = curate_workload if args.workload == "curate" else extract_workload
        values = run(b)
    finally:
        shutil.rmtree(b.run_dir, ignore_errors=True)
    b.mark("teardown")
    b.env["phase_s"] = b.phases
    units = per_layer_units() if args.trace else END_TO_END
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    b.env["failures"] = b.failures
    b.env["failed_frac"] = b.failed / b.attempted
    for name in sorted(units):
        print(f"perfbench {name} = {values[name]:.6g} {units[name]}", file=sys.stderr)
    print(f"perfbench failed_frac = {b.env['failed_frac']:.6g}", file=sys.stderr)
    print(json.dumps({"env": b.env}, default=str))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": units[name]}
            for name in units
        },
    }))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
