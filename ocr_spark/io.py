"""Table IO, lineage commit protocol, checkpoint/resume (SURVEY.md O14-O16).

No Iceberg runtime jar is available in this environment (verified: none in
the pyspark 4.1.2 jars dir, no network), so the default backend is an
**Iceberg-layout-compatible Parquet warehouse**: hash-bucket partition
layout and a manifest-last commit protocol. The real Iceberg path exists
as code behind ``ExtractWriter(iceberg_table=...)`` — every read/write
site branches to ``spark.read.table`` / ``writeTo(...).overwritePartitions
/ .append()`` — and activates by shipping the jar via ``--packages``
(tested skip-if-no-jar).

Commit protocol (graft of the reference's server-held resumable batch
state + reset.bat, /root/reference/README.md:54-56):

- the run is divided into ``n_buckets`` units by pmod(hash(conv_id), B);
  at production scale the input table is bucket-partitioned the same way
  (Iceberg ``bucket(B, conv_id)``) so per-group scans prune instead of
  re-reading — with flat parquet input the filter still prunes row
  groups only, which is acceptable at test scale,
- buckets are processed in groups; each group writes its data partitions
  with dynamic partition overwrite (idempotent on rerun), then appends
  one lineage row per bucket **last** (manifest-last: a crash between
  data and lineage just means the bucket is rewritten on resume),
- resume = anti-join of the bucket list against committed lineage rows
  (driver-side, ≤ n_buckets elements — never row data),
- ``reset`` drops the run's lineage (the reset.bat graft).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
)
from pyspark.sql.types import StructField, StructType

from ocr_spark.extract import ExtractCounters, extract
from ocr_spark.partitioning import ordered
from ocr_spark.schema import LINEAGE

BUCKET_COL = "bucket"

# The per-bucket lineage metrics in LINEAGE column order, as SQL text over
# the BUCKET_COL column for ``observe``; ``{b}`` is the bucket id.
_BUCKET_METRICS = {
    "conv_min": "min(CASE WHEN bucket = {b} THEN conv_id END)",
    "conv_max": "max(CASE WHEN bucket = {b} THEN conv_id END)",
    "n_turns": "count(CASE WHEN bucket = {b} THEN 1 END)",
    "n_errors": "count(CASE WHEN bucket = {b} AND error != '' THEN 1 END)",
}


def add_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash("conv_id"), F.lit(n_buckets))
    )


def lineage_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType = LINEAGE
) -> DataFrame:
    """One-partition frame of lineage rows, ready to append. ``rows``
    hold every field of ``schema`` except the trailing ``committed_at``,
    which is ``current_timestamp()`` and so is fixed when the lineage
    write is planned.

    The rows enter as a pyarrow table, which Spark plans as a
    ``LocalTableScan``: the commit is a JVM-only job. A frame built from a
    list of tuples plans as ``Scan ExistingRDD`` over a pickled Python
    RDD, so every commit would run a Python-worker task.

    The row fields are declared nullable, so the Parquet files keep the
    schema lineage has always been written with (optional columns, an
    INT96 ``committed_at``) and old and new commits read back together.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = StructType(
        [StructField(f.name, f.dataType) for f in schema.fields[:-1]]
    )
    table = pa.Table.from_pylist(
        [dict(zip(fields.names, r)) for r in rows],
        schema=to_arrow_schema(fields),
    )
    return (
        spark.createDataFrame(table, fields)
        .withColumn(schema.fields[-1].name, F.current_timestamp())
        .coalesce(1)
    )


def read_transcripts(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    dedup: bool = False,
) -> DataFrame:
    """Typed transcript source for the wire formats agent logs arrive
    in: parquet (native), ORC, JSONL, headered CSV. JSON/CSV are read
    WITH the TRANSCRIPTS schema (no inference pass over 100 TB; bad
    rows null out instead of failing the scan — the row-preserving
    error-channel philosophy at ingest). ``dedup=True`` applies the
    (conv_id, turn_idx) duplicate drop on ingest — the reference's
    ZIP duplicate-filename rule (documents/…2학기_8주차.md:52).
    """
    from ocr_spark.schema import TRANSCRIPTS

    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":
        # ORC ships in Spark's default distribution (unlike Avro) —
        # columnar with predicate pushdown, same scale class as parquet
        df = spark.read.orc(path)
    elif fmt in ("json", "jsonl"):
        df = (
            spark.read.schema(TRANSCRIPTS)
            .option(
                "timestampFormat",
                "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX][xx]",
            )
            .json(path)
        )
    elif fmt == "csv":
        # multiLine: transcript text carries embedded newlines inside
        # RFC4180 quotes (escape='"' = doubled-quote convention). This
        # disables input splitting per file — CSV is the convenience
        # ingest, parquet/JSONL are the scale paths.
        df = (
            spark.read.schema(TRANSCRIPTS)
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .option(
                "timestampFormat",
                "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX][xx]",
            )
            .csv(path)
        )
    else:
        raise ValueError(f"unknown transcript format {fmt!r}")
    df = df.select(*[f.name for f in TRANSCRIPTS.fields])
    if fmt not in ("parquet", "orc"):
        # CSV cannot distinguish '' from null (and JSON rows may omit
        # the field); TRANSCRIPTS declares text non-null, so ingest
        # enforces it — empty payloads flow to the error channel
        # downstream instead of crashing the kernel on None
        df = df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    if dedup:
        df = df.dropDuplicates(["conv_id", "turn_idx"])
    return df


def ingest_zip(
    spark: SparkSession,
    zip_path: str,
    fmt: str = "jsonl",
    work_dir: str | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Expand a ZIP batch container and read it as transcripts — the
    reference's ZIP-upload ingest graft including its
    duplicate-FILENAME rule (first wins,
    /root/reference/documents/…2학기_8주차.md:52), applied before the
    row-level (conv_id, turn_idx) dedup.

    ZIP is not a splittable format: expansion is a one-time driver-side
    pass into ``work_dir`` (the landing zone), after which the member
    files scan in parallel. It is the upload-convenience path;
    parquet/JSONL directories are the scale paths.
    """
    import tempfile
    import zipfile

    out = Path(work_dir or tempfile.mkdtemp(prefix="ocr_spark_zip_"))
    out.mkdir(parents=True, exist_ok=True)
    seen: set[str] = set()
    with zipfile.ZipFile(zip_path) as z:
        for name in z.namelist():
            if name.endswith("/"):
                continue
            base = Path(name).name
            if base in seen:  # duplicate filename: first wins
                continue
            seen.add(base)
            (out / base).write_bytes(z.read(name))
    return read_transcripts(spark, str(out), fmt=fmt, dedup=dedup)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 64,
    sort: bool = True,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on
    ``key`` — the co-located-join storage layout: two tables bucketed
    on the same key with the same bucket count join with NO shuffle on
    either side (Catalyst sees ``HashPartitioning(key, buckets)`` as
    the output partitioning of the scan), which is THE lever for a
    repeated big-big join at 100 TB — the shuffle is paid once at
    write time, then every downstream join of any two co-bucketed
    tables is exchange-free (pytest-pinned in
    test_bucketed_join_is_shuffle_free).

    Uses ``bucketBy`` + ``saveAsTable`` (bucket metadata lives in the
    session catalog; plain ``parquet(path)`` cannot carry it — the
    Spark API constraint, not a choice). ``sortBy(key)`` additionally
    lets a one-file-per-bucket table skip the join's Sort."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 - Py4J raises wrapped ClassNotFound
        return False


class ExtractWriter:
    """Warehouse writer with lineage-gated resume.

    Two backends behind the same commit protocol:

    - default: Iceberg-layout Parquet warehouse directory (this sandbox
      has no Iceberg jar — verified, no network);
    - ``iceberg_table='catalog.db.extracted'``: the real Iceberg path —
      ``writeTo(t).overwritePartitions()`` for data (dynamic partition
      overwrite == the Parquet mode's idempotent bucket rewrite) and
      ``writeTo(t_lineage).append()`` manifest-last. Drops in via
      ``spark-submit --packages org.apache.iceberg:...`` with no other
      change; construction fails fast when the jar is absent.
    """

    def __init__(self, root: str, iceberg_table: str | None = None,
                 spark: SparkSession | None = None) -> None:
        self.root = Path(root)
        self.data_dir = self.root / "extracted"
        self.lineage_dir = self.root / "lineage"
        self.iceberg_table = iceberg_table
        if iceberg_table and spark is not None and not iceberg_available(spark):
            raise RuntimeError(
                "iceberg_table was set but no Iceberg runtime jar is on "
                "the classpath; add --packages org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13:<version> (or leave "
                "iceberg_table unset for the Parquet-layout backend)"
            )

    @property
    def _lineage_table(self) -> str:
        return f"{self.iceberg_table}_lineage"

    # -- lineage ------------------------------------------------------
    def _run_lineage_dir(self, run_id: str) -> Path:
        return self.lineage_dir / f"run_id={run_id}"

    def committed_buckets(self, spark: SparkSession, run_id: str) -> set[int]:
        if self.iceberg_table:
            if not spark.catalog.tableExists(self._lineage_table):
                return set()
            rows = (
                spark.read.table(self._lineage_table)
                .filter(F.col("run_id") == run_id)
                .select("partition_id")
                .collect()
            )
            return {r.partition_id for r in rows}
        d = self._run_lineage_dir(run_id)
        if not d.exists() or not any(d.glob("*.parquet")):
            return set()
        rows = (
            spark.read.parquet(str(d)).select("partition_id").collect()
        )
        return {r.partition_id for r in rows}

    def reset(self, run_id: str, spark: SparkSession | None = None) -> None:
        """Forget a run's commits (reset.bat graft); data dirs are
        overwritten idempotently on the next run."""
        if self.iceberg_table:
            if spark is not None and spark.catalog.tableExists(
                self._lineage_table
            ):
                # run_id comes straight from the CLI: escape single
                # quotes so the DELETE predicate cannot be broken (or
                # injected into) by a quoted run id
                safe = run_id.replace("'", "''")
                spark.sql(
                    f"DELETE FROM {self._lineage_table} "
                    f"WHERE run_id = '{safe}'"
                )
            return
        d = self._run_lineage_dir(run_id)
        if d.exists():
            shutil.rmtree(d)

    def lineage(self, spark: SparkSession) -> DataFrame:
        if self.iceberg_table:
            return spark.read.table(self._lineage_table)
        return spark.read.option("basePath", str(self.lineage_dir)).parquet(
            str(self.lineage_dir)
        )

    # -- the run ------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        run_id: str,
        *,
        n_buckets: int = 8,
        group_size: int = 4,
        partitions: int | None = None,
        salt_buckets: int = 1024,
        salt_threshold: int = 10_000,
        fail_after_groups: int | None = None,
        counters: "ExtractCounters | None" = None,
    ) -> list[int]:
        """Extract + write all uncommitted buckets. Returns the bucket ids
        committed by THIS invocation. ``fail_after_groups`` injects a
        mid-run crash for the resume-idempotence test.

        Each group of buckets is one data write, which also observes the
        per-bucket lineage metrics, then one lineage append. The
        lineage frame is Arrow-built (``lineage_frame``) because a
        tuple-list frame runs a Python-worker task on every commit, so
        the data write stays the group's only Python-touching job.
        ``committed_at`` is taken when the lineage write is planned,
        after the group's data is written."""
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        df = add_bucket(transcripts, n_buckets)
        done = self.committed_buckets(spark, run_id)
        todo = [b for b in range(n_buckets) if b not in done]
        committed: list[int] = []
        groups = [
            todo[i : i + group_size] for i in range(0, len(todo), group_size)
        ]
        for gi, group in enumerate(groups):
            if fail_after_groups is not None and gi >= fail_after_groups:
                raise RuntimeError(
                    f"injected crash before group {gi} (buckets {group})"
                )
            sub = df.filter(F.col(BUCKET_COL).isin(group))
            ext = extract(
                sub,
                partitions=partitions,
                salt_buckets=salt_buckets,
                salt_threshold=salt_threshold,
                passthrough=[BUCKET_COL],
                counters=counters,
            )
            # one sort serves both the planned write's bucket ordering
            # and the (conv_id, turn_idx) order of rows in each file
            ordered_ext = ext.sortWithinPartitions(
                BUCKET_COL, "conv_id", "turn_idx"
            )
            # per-bucket lineage stats ride the write pass itself via
            # Dataset.observe(): four conditional aggregates per bucket,
            # each parsed from SQL text in one call. A bucket with no
            # rows still gets a lineage row (n_turns=0, null conv range)
            # so resume marks it done.
            obs = Observation(f"lineage_{run_id}_g{gi}")
            observed = ordered_ext.observe(
                obs,
                *(
                    F.expr(f"{agg.format(b=b)} AS {name}_{b}")
                    for b in group
                    for name, agg in _BUCKET_METRICS.items()
                ),
            )
            if self.iceberg_table:
                if spark.catalog.tableExists(self.iceberg_table):
                    observed.writeTo(
                        self.iceberg_table
                    ).overwritePartitions()
                else:
                    observed.writeTo(self.iceberg_table).partitionedBy(
                        F.col(BUCKET_COL)
                    ).create()
            else:
                (
                    observed.write.partitionBy(BUCKET_COL)
                    .mode("overwrite")
                    .parquet(str(self.data_dir))
                )
            m = obs.get
            lin_df = lineage_frame(
                spark,
                [
                    (run_id, b, *(m[f"{name}_{b}"] for name in _BUCKET_METRICS))
                    for b in group
                ],
            )
            if self.iceberg_table:
                if spark.catalog.tableExists(self._lineage_table):
                    lin_df.writeTo(self._lineage_table).append()
                else:
                    lin_df.writeTo(self._lineage_table).create()
            else:
                lin_df.write.mode("append").parquet(
                    str(self._run_lineage_dir(run_id))
                )
            committed.extend(group)
        return committed

    # -- readers / exports ---------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        if self.iceberg_table:
            return spark.read.table(self.iceberg_table)
        return spark.read.option("basePath", str(self.data_dir)).parquet(
            str(self.data_dir)
        )

    def read_ordered(self, spark: SparkSession) -> DataFrame:
        """Stable (conv_id, turn_idx) ordering contract for comparison."""
        return ordered(self.read(spark))

    def export_json(self, spark: SparkSession, out_dir: str) -> None:
        """RAW-JSON side export (graft of /root/reference/README.md:29)."""
        self.read_ordered(spark).drop(BUCKET_COL).write.mode(
            "overwrite"
        ).json(out_dir)

    def export_xlsx(
        self, spark: SparkSession, out_path: str, limit: int = 100_000
    ) -> int:
        """Excel report export (graft of /root/reference/README.md:29 and
        the flattened per-model Excel panel in readmeImage/result.png):
        one row per turn with per-extractor candidate columns. A REPORT,
        not a data sink — collects at most ``limit`` rows to the driver
        (xlsx caps a sheet at ~1M rows; the data path stays columnar).
        Returns the number of rows written."""
        from ocr_spark.xlsx import write_xlsx

        df = self.read_ordered(spark).drop(BUCKET_COL)
        has_cands = "candidates" in df.columns
        cols = [
            F.col("conv_id"),
            F.col("turn_idx"),
            F.date_format("processed_at", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "processed_at"
            ),
            F.col("text"),
            F.round("score", 4).alias("score"),
            F.col("error"),
        ]
        if has_cands:
            # flatten the per-model panel: candidates is a fixed
            # 3-extractor array (html/pdf/spans routes)
            for i, name in enumerate(("a", "b", "c")):
                cols.append(
                    F.col("candidates")[i]["text"].alias(f"cand_{name}_text")
                )
                cols.append(
                    F.round(
                        F.col("candidates")[i]["score"], 4
                    ).alias(f"cand_{name}_score")
                )
        flat = df.select(*cols).limit(limit)
        pdf = flat.toPandas()
        import pandas as pd

        rows = (
            [
                None
                if v is None or (isinstance(v, float) and pd.isna(v))
                else (v.item() if hasattr(v, "item") else v)
                for v in row
            ]
            for row in pdf.itertuples(index=False, name=None)
        )
        return write_xlsx(out_path, list(pdf.columns), rows)

    def run_stats(self, spark: SparkSession) -> DataFrame:
        """O17 aggregate report per run — the reference's efficiency
        accounting ("385 images in 4m18s", /root/reference/README.md:8)
        over lineage rows: turns, errors, buckets, wall span."""
        lin = self.lineage(spark)
        return lin.groupBy("run_id").agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_errors").alias("n_errors"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.min("committed_at").alias("first_commit"),
            F.max("committed_at").alias("last_commit"),
        )


def read_binary_docs(
    spark: SparkSession,
    path: str,
    pattern: str = "*",
) -> DataFrame:
    """Raw-file ingest — the reference's ACTUAL input shape (an image
    directory / unpacked ZIP, `README.md:53`): Spark's native
    ``binaryFile`` source loads each file as one row of
    (path, modificationTime, length, content). Returns the engine's
    media-relation shape (media_id, path, n_bytes, payload) ready for
    the multimodal family (decode_media / sample_frames /
    extract_features).

    media_id is a deterministic 60-bit md5 of the file PATH — stable
    across runs and partitionings (the hash_sample discipline), unlike
    monotonically_increasing_id. ``pathGlobFilter`` prunes non-matching
    files at LISTING time (never read), and binaryFile caps single-file
    size via spark.sql.sources.binaryFile.maxLength. Scale shape: one
    row per file, no parsing on the driver; whole-file rows mean
    partition sizing follows file sizes — feed archives of many small
    files, not one giant blob (the source cannot split within a file).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    media_id = F.conv(
        F.substring(F.md5(F.col("path")), 1, 15), 16, 10
    ).cast("long")
    return raw.select(
        media_id.alias("media_id"),
        "path",
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )
