"""Seeded inputs, cached goldens and output checks for the benchmark.

Everything here runs outside the timed regions. The program under test
only ever sees the files these functions write.

- ``chat_transcripts``: chat-shaped turns: ~90% short plain, ~5% html,
  ~2% pdf, ~3% empty or garbage, plus one agent "whale" conversation
  that holds a quarter of all turns.
- ``curate_tables``: ``documents`` and ``embeddings`` tables shaped like
  the repository's TPC-H-ish test tables (30-word vocabulary, ~5% " dup"
  near-duplicates, 64-dim unit vectors with 10 labels). They are fixed:
  the curate workload's seed only sets the query order, so the DuckDB
  oracle answers are computed once per checkout and cached.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
from datetime import timedelta
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ocr_spark import synth

CURATE_SEED = 20260101
_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_LANGS, _LANG_W = ["en", "zh", "es", "fr", "de"], [40, 15, 15, 15, 15]


def _chat_turn(rng: random.Random) -> tuple[str, str | None]:
    r = rng.random()
    if r < 0.03:
        return synth.make_garbage(rng), None
    if r < 0.08:
        return synth.make_html(rng), "html"
    if r < 0.10:
        return synth.make_pdf(rng), "pdf"
    return synth.make_plain(rng), None


def chat_transcripts(n_turns: int, seed: int) -> pd.DataFrame:
    """Chat-shaped turns; conversation 0 is the whale (a quarter of all
    turns), the rest are 1-40 turns long. Per-conversation RNG streams."""
    whale = n_turns // 4
    rows, i = [], 0
    while len(rows) < n_turns:
        rng = random.Random((seed << 20) ^ (i * 7919 + 17))
        length = whale if i == 0 else rng.randint(1, 40)
        cid = "agent%07d" % i if i == 0 else "c%08d" % i
        base = synth._EPOCH + timedelta(seconds=i * 97)
        for t in range(min(length, n_turns - len(rows))):
            text, tool = _chat_turn(rng)
            role = rng.choices(synth._ROLES, synth._ROLE_W)[0]
            rows.append((cid, t, role, text, tool, base + timedelta(seconds=7 * t)))
        i += 1
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_files(df: pd.DataFrame, out_dir: Path, n_files: int) -> dict:
    """Write ``df`` as ``n_files`` Spark-readable parquet files (rows dealt
    round-robin, so every file holds a slice of every conversation)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for k in range(n_files):
        part = df.iloc[k::n_files].reset_index(drop=True)
        synth.write_transcripts_parquet(part, str(out_dir / f"part-{k:04d}.parquet"))
    files = sorted(out_dir.glob("*.parquet"))
    return {
        "turns": len(df),
        "files": len(files),
        "bytes": sum(f.stat().st_size for f in files),
        "text_bytes": int(df["text"].str.len().sum()),
    }


# -- golden --------------------------------------------------------------


def _spans_key(spans) -> tuple:
    return tuple((int(s["start"]), int(s["end"]), str(s["kind"])) for s in spans)


def compute_golden(df: pd.DataFrame) -> pd.DataFrame:
    """Per-turn golden by the single-process kernel path, ordered by
    (conv_id, turn_idx)."""
    from ocr_spark.kernels import extract_batch

    t = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    res = extract_batch(t["text"], t["tool"])
    out = t[["conv_id", "turn_idx"]].copy()
    out["text"] = res["text"]
    out["spans"] = [_spans_key(s) for s in res["spans"]]
    out["error"] = res["error"]
    return out


def frame_digest(df: pd.DataFrame) -> str:
    """Digest of a transcripts frame's rows, in order."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    hashes = pd.util.hash_pandas_object(df[cols], index=False).to_numpy()
    return hashlib.sha256(hashes.tobytes()).hexdigest()[:16]


def golden_digest(golden: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in golden.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def cached(path: Path, build):
    """Load the pickle at ``path``, or build it, write it, and return it.
    The cache lives in the benchmark's own work directory and holds only
    frames this module wrote."""
    if path.exists():
        with path.open("rb") as f:
            return pickle.load(f)
    value = build()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    with tmp.open("wb") as f:
        pickle.dump(value, f)
    tmp.replace(path)
    return value


def code_digest(root: Path, parts: list[str]) -> str:
    """Digest of the source files under ``parts`` (relative to ``root``)."""
    h = hashlib.sha256()
    for part in parts:
        p = root / part
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def check_warehouse(root: Path, golden: pd.DataFrame) -> dict:
    """Compare one job's committed warehouse against the golden.

    A turn fails when it is missing, duplicated, unexpected, or differs in
    ``text``, ``spans`` or ``error``; every bucket's lineage ``n_turns``
    must equal the rows committed under it (a mismatch fails that many
    turns)."""
    data = ds.dataset(str(root / "extracted"), format="parquet", partitioning="hive")
    got = data.to_table(
        columns=["conv_id", "turn_idx", "text", "spans", "error", "bucket"]
    ).to_pandas()
    lineage = pq.read_table(str(root / "lineage"), partitioning=None).to_pandas()
    keys = ["conv_id", "turn_idx"]
    dup = int(got.duplicated(keys).sum())
    got = got.drop_duplicates(keys)
    m = golden.merge(got, on=keys, how="outer", suffixes=("", "_got"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    got_spans = [_spans_key(s) for s in both["spans_got"]]
    differ = int(
        (
            (both["text"].to_numpy() != both["text_got"].to_numpy())
            | (both["error"].to_numpy() != both["error_got"].to_numpy())
            | np.array([a != b for a, b in zip(both["spans"], got_spans)], dtype=bool)
        ).sum()
    )
    per_bucket = got.groupby("bucket").size()
    lin = lineage.groupby("partition_id")["n_turns"].sum()
    buckets = per_bucket.index.union(lin.index)
    lineage_gap = int(
        (lin.reindex(buckets, fill_value=0) - per_bucket.reindex(buckets, fill_value=0))
        .abs()
        .sum()
    )
    committed_at = pd.to_datetime(lineage["committed_at"], utc=True)
    commits = sorted({ts.timestamp() for ts in committed_at})
    return {
        "failed": missing + dup + extra + differ + lineage_gap,
        "committed_turns": int(lineage["n_turns"].sum()),
        "commits": commits,
        "detail": {
            "missing": missing, "duplicated": dup, "unexpected": extra,
            "differ": differ, "lineage_gap": lineage_gap,
        },
    }


# -- curate tables -------------------------------------------------------


def curate_tables(out_dir: Path, n_docs: int, n_vecs: int, dim: int = 64) -> None:
    rng = random.Random(CURATE_SEED)
    texts, rows = [], []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(8, 100)))
        texts.append(text)
        lang = rng.choices(_LANGS, _LANG_W)[0]
        rows.append((i, text, lang, f"src{i % 20}", len(text)))
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    nrng = np.random.default_rng(CURATE_SEED)
    vecs = nrng.standard_normal((n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, str(out_dir / "documents.parquet"))
    pq.write_table(emb, str(out_dir / "embeddings.parquet"))


def oracle_answer(tables: Path, key: str) -> pd.DataFrame:
    """DuckDB oracle answer of query ``key`` over ``tables``."""
    import duckdb

    from ocr_spark.driver_contract import ORACLES

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / t}.parquet')"
            )
        return con.execute(ORACLES[key]).df()
    finally:
        con.close()
