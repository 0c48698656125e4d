"""Seeded benchmark inputs, cached as parquet under the run's cache dir.

Every input is a deterministic function of (seed, size, generator
source). The clean base tables are seed-independent: Spark builds them
with the package's fixture generators once per checkout. The seeded part
(corruption, perturbation, the day's changes) is applied per seed with
pandas and pyarrow, outside the JVM, so how warm the JVM is when timing
starts does not depend on whether a seed's inputs were cached. The
program under test only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengauss_tools_datachecker_spark import fixtures as fx
from opengauss_tools_datachecker_spark.operators.drift import histogram_cube

N_BUCKETS = 32
N_REPOS = 200
BASE_SEED = 42
N_FILES_OUT = 8  # parquet files per table: balanced scan splits on local[4]

FV_ROWS = 30_000
FV_CORRUPT_FRAC = 0.01  # of each injector's eighth of the table
# outlier_k well past the generator's length clamp: with median±k·1.4826·MAD
# (MAD ≈ 0.39·median for its log-normal), no organic row can leave the band,
# and every inflated row (≥2× median words, ×40) always does
FV_OUTLIER_K = 40.0
FV_LONG_WORDS = 240
FV_INFLATE = 40

MD_ROWS = 20_000

DAY_ROWS = 12_000
DAY_EDIT_FRAC = 0.2
INDEX_DOCS = 3_000
RECENT_DOCS = 500
BATCH_DOCS = 500
PLANTED_COPIES = 25
DOC_WORDS = 30
COPY_IDS = 2_000_000_000  # planted copies' doc ids start here
NEW_IDS = 1_000_000_000  # the day's new docs' ids start here


def _source_key(*parts) -> str:
    h = hashlib.sha256(json.dumps(parts, sort_keys=True).encode())
    for src in (Path(__file__), Path(fx.__file__), Path(fx.__file__).parent / "operators" / "drift.py"):
        h.update(src.read_bytes())
    return h.hexdigest()[:16]


class Cache:
    """Parquet fixtures keyed by name, sizes, seed and generator source."""

    def __init__(self, root: Path):
        self.root = root / "fixtures"

    def get(self, name: str, parts: dict, build) -> Path:
        path = self.root / f"{name}-{_source_key(name, parts)}"
        if not (path / "_DONE").exists():
            tmp = path.with_name(path.name + ".tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            build(tmp)
            (tmp / "_DONE").write_text("")
            shutil.rmtree(path, ignore_errors=True)
            tmp.rename(path)
        return path


def _spark_write(df: DataFrame, path: Path) -> None:
    df.repartition(N_FILES_OUT).write.parquet(str(path))


def _read(path: Path) -> tuple[pd.DataFrame, pa.Schema]:
    table = pq.read_table(path)
    return table.to_pandas(), table.schema.remove_metadata()


def _write(df: pd.DataFrame, schema: pa.Schema, path: Path) -> None:
    path.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES_OUT)):
        table = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(table, path / f"part-{i:05d}.parquet", coerce_timestamps="us")


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _pick(rng: np.random.Generator, mask: np.ndarray, frac: float) -> np.ndarray:
    """A seeded sample of frac of the rows where mask holds (at least one)."""
    idx = np.flatnonzero(mask)
    return np.sort(rng.choice(idx, size=max(1, round(frac * len(idx))), replace=False))


def _keys(df: pd.DataFrame, cols=("repo", "path", "commit")) -> list[str]:
    return sorted(df[list(cols)].astype(str).agg("|".join, axis=1))


# --------------------------------------------------------------------------
# full-verify: a mostly-clean repo_files snapshot with sparse corruption
# --------------------------------------------------------------------------


def _repo_base(spark: SparkSession, out: Path) -> None:
    _spark_write(fx.repo_files(spark, FV_ROWS, n_repos=N_REPOS, seed=BASE_SEED, n_buckets=N_BUCKETS), out / "files")
    files = spark.read.parquet(str(out / "files"))
    _spark_write(fx.manifest(files), out / "manifest")
    histogram_cube(files, "lang", F.length("content"), by="bucket").coalesce(1).write.parquet(
        str(out / "baseline_cube")
    )


def full_verify(spark: SparkSession, cache: Cache, seed: int) -> dict:
    """Paths of files/manifest/baseline_cube plus each rule's expected keys.

    The corruption kinds of the package's fixture injectors (flip_bytes,
    dup_keys, orphan_commits, inflate_rows, leak_secrets, skew_lang), each
    applied to its own eighth of the table (file_id mod 8), so the
    expected violation sets are disjoint by construction.
    """
    base = cache.get("fv-base", {"rows": FV_ROWS}, lambda p: _repo_base(spark, p))

    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        df, schema = _read(base / "files")
        slot = (df["file_id"] % 8).to_numpy()
        n_words = df["content"].str.count(" ").to_numpy() + 1
        flip = _pick(rng, slot == 0, FV_CORRUPT_FRAC)
        dup = _pick(rng, slot == 1, FV_CORRUPT_FRAC)
        orphan = _pick(rng, slot == 2, FV_CORRUPT_FRAC)
        inflate = _pick(rng, (slot == 3) & (n_words >= FV_LONG_WORDS), 5 * FV_CORRUPT_FRAC)
        leak = _pick(rng, slot == 4, FV_CORRUPT_FRAC)
        old_orphan_keys = _keys(df.iloc[orphan])
        c = df.columns.get_loc
        df.iloc[flip, c("content")] = "☠" + df["content"].iloc[flip]
        df.iloc[orphan, c("commit")] = [_sha256(f"orphan{i}")[:40] for i in df["file_id"].iloc[orphan]]
        df.iloc[inflate, c("content")] = [" ".join([t] * FV_INFLATE) for t in df["content"].iloc[inflate]]
        leaked = df.iloc[leak]
        df.iloc[leak, c("content")] = [
            f"{text}\naws_secret = AKIA" + _sha256(f"{r}/{p}/{m}")[:16].upper()
            for text, r, p, m in zip(leaked["content"], leaked["repo"], leaked["path"], leaked["commit"])
        ]
        skew_bucket = seed % N_BUCKETS
        df.loc[df["bucket"] == skew_bucket, "lang"] = "python"
        _write(pd.concat([df, df.iloc[dup]], ignore_index=True), schema, out / "files")
        expected = {
            "sha256": sorted(
                set(_keys(df.iloc[flip])) | set(_keys(df.iloc[inflate])) | set(_keys(df.iloc[leak]))
                | set(old_orphan_keys) | set(_keys(df.iloc[orphan]))
            ),
            "uniqueness": _keys(df.iloc[dup]),
            "referential": sorted(set(_keys(df.iloc[orphan], ("repo", "commit")))),
            "column_stats": [],
            "drift": [f"lang_chi2|{skew_bucket}"],
            "numeric_outlier": _keys(df.iloc[inflate]),
            "secrets": _keys(df.iloc[leak]),
        }
        (out / "expected.json").write_text(json.dumps(expected))

    path = cache.get("fv", {"rows": FV_ROWS, "seed": seed}, build)
    return {
        "files": str(path / "files"),
        "manifest": str(base / "manifest"),
        "baseline_cube": str(base / "baseline_cube"),
        "rows": FV_ROWS,
        "expected": json.loads((path / "expected.json").read_text()),
    }


# --------------------------------------------------------------------------
# migration-diff: typed relational rows and a perturbed copy
# --------------------------------------------------------------------------

_COMMENT_WORDS = "carefully final deposits sleep quickly furiously ironic pending requests among".split()
_DAY = pd.Timedelta(days=1)
# (column, how to perturb it): every perturbation changes the canonical render
_MODIFIABLE = [
    ("l_quantity", lambda v: v + 1.0),
    ("l_extendedprice", lambda v: v + 1.0),
    ("l_tax", lambda v: v + 1.0),
    ("l_partkey", lambda v: v + 1),
    ("l_shipdate", lambda v: v + _DAY),
    ("l_receiptdate", lambda v: v + _DAY),
    ("l_shipmode", lambda v: v + "~"),
    ("l_comment", lambda v: v + "~"),
]


def _lineitem(spark: SparkSession, out: Path) -> None:
    """A TPC-H lineitem-shaped table (doubles, timestamps, strings) with
    a unique generated row key."""
    df = spark.range(0, MD_ROWS, numPartitions=N_FILES_OUT).withColumnRenamed("id", "row_key")

    def h(tag: str, mod: int):
        return F.pmod(F.xxhash64(F.lit(BASE_SEED), F.lit(tag), F.col("row_key")), F.lit(mod))

    def pick(tag: str, values: list[str]):
        return F.element_at(F.array(*[F.lit(v) for v in values]), h(tag, len(values)).cast("int") + 1)

    ship = F.lit(694_224_000) + h("ship", 7 * 365 * 86_400)
    df = df.select(
        "row_key",
        (h("order", MD_ROWS // 4) + 1).alias("l_orderkey"),
        (h("part", 20_000) + 1).alias("l_partkey"),
        (h("supp", 1_000) + 1).alias("l_suppkey"),
        (h("line", 7) + 1).cast("int").alias("l_linenumber"),
        (h("qty", 50) + 1).cast("double").alias("l_quantity"),
        (h("price", 10_000_000) / 100.0).alias("l_extendedprice"),
        (h("disc", 11) / 100.0).alias("l_discount"),
        (h("tax", 9) / 100.0).alias("l_tax"),
        pick("flag", ["A", "N", "R"]).alias("l_returnflag"),
        pick("status", ["O", "F"]).alias("l_linestatus"),
        F.timestamp_seconds(ship).alias("l_shipdate"),
        F.timestamp_seconds(ship + h("commit", 90 * 86_400)).alias("l_commitdate"),
        F.timestamp_seconds(ship + h("receipt", 30 * 86_400)).alias("l_receiptdate"),
        pick("instr", ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]).alias("l_shipinstruct"),
        pick("mode", ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]).alias("l_shipmode"),
        F.concat_ws(" ", *[pick(f"w{i}", _COMMENT_WORDS) for i in range(5)]).alias("l_comment"),
    )
    _spark_write(df, out / "source")


def migration_diff(spark: SparkSession, cache: Cache, seed: int) -> dict:
    """Paths of source/target plus the perturbation: ~1% of rows dropped,
    ~1% duplicated, ~3% with one or two columns modified."""
    base = cache.get("md-base", {"rows": MD_ROWS}, lambda p: _lineitem(spark, p))

    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        src, schema = _read(base / "source")
        n = len(src)
        u = rng.random(n)
        drop, dup, mod = u < 0.01, (u >= 0.01) & (u < 0.02), (u >= 0.02) & (u < 0.05)
        k = len(_MODIFIABLE)
        c1 = rng.integers(0, k, n)
        c2 = np.where(rng.random(n) < 0.5, (c1 + 1 + rng.integers(0, k - 1, n)) % k, -1)
        tgt = src.copy()
        pairs = []
        for i, (col, fn) in enumerate(_MODIFIABLE):
            hit = mod & ((c1 == i) | (c2 == i))
            tgt.loc[hit, col] = fn(tgt.loc[hit, col])
            pairs += [[int(key), col] for key in src.loc[hit, "row_key"]]
        _write(pd.concat([tgt[~drop], src[dup]], ignore_index=True), schema, out / "target")
        expected = {
            "dropped": sorted(int(x) for x in src.loc[drop, "row_key"]),
            "duplicated": sorted(int(x) for x in src.loc[dup, "row_key"]),
            "modified": sorted(pairs),
        }
        (out / "expected.json").write_text(json.dumps(expected))

    path = cache.get("md", {"rows": MD_ROWS, "seed": seed}, build)
    return {
        "source": str(base / "source"),
        "target": str(path / "target"),
        "rows": 2 * MD_ROWS,
        "expected": json.loads((path / "expected.json").read_text()),
    }


# --------------------------------------------------------------------------
# daily-ingest: day-0 snapshot + index docs, and the day-1 changes
# --------------------------------------------------------------------------


def _daily_base(spark: SparkSession, out: Path) -> None:
    _spark_write(fx.repo_files(spark, DAY_ROWS, n_repos=N_REPOS, seed=BASE_SEED, n_buckets=N_BUCKETS), out / "day0")
    _spark_write(fx.manifest(spark.read.parquet(str(out / "day0"))), out / "manifest0")
    docs = fx.repo_files(spark, INDEX_DOCS + 2 * RECENT_DOCS, n_repos=N_REPOS, seed=BASE_SEED + 1, median_words=DOC_WORDS)
    _spark_write(docs.select(F.col("file_id").alias("doc_id"), F.col("content").alias("text")), out / "docs")


def daily_ingest(spark: SparkSession, cache: Cache, seed: int) -> dict:
    """Day-0 inputs, the day-1 snapshot (2 of 32 buckets edited) with its
    manifest, and the day's doc batch with planted exact copies of
    indexed docs."""
    parts = {"rows": DAY_ROWS, "docs": INDEX_DOCS, "recent": RECENT_DOCS, "batch": BATCH_DOCS}
    base = cache.get("di-base", parts, lambda p: _daily_base(spark, p))

    def build(out: Path) -> None:
        rng = np.random.default_rng(seed)
        day, schema = _read(base / "day0")
        buckets = day["bucket"].to_numpy()
        touched = sorted(int(b) for b in rng.choice(np.unique(buckets), size=2, replace=False))
        in_touched = np.isin(buckets, touched)
        edit = in_touched & (rng.random(len(day)) < DAY_EDIT_FRAC)
        edit[[np.flatnonzero(buckets == b)[0] for b in touched]] = True  # every touched bucket changes
        day.loc[edit, "content"] = day.loc[edit, "content"] + " edit"
        _write(day, schema, out / "day1")
        manifest = day[["repo", "path", "commit"]].assign(expected_sha256=[_sha256(t) for t in day["content"]])
        _write(manifest, pa.Schema.from_pandas(manifest, preserve_index=False), out / "manifest1")
        docs, doc_schema = _read(base / "docs")
        planted = docs.iloc[np.sort(rng.choice(len(docs), size=PLANTED_COPIES, replace=False))]
        n_new = BATCH_DOCS - PLANTED_COPIES
        lengths = np.clip(np.exp(rng.normal(np.log(DOC_WORDS), 0.6, n_new)).astype(int), 5, 2000)
        vocab = np.array(_COMMENT_WORDS + ["table", "row", "column", "scan", "join", "merge", "index", "hash"])
        new = pd.DataFrame({
            "doc_id": np.arange(NEW_IDS, NEW_IDS + n_new),
            "text": [" ".join(rng.choice(vocab, size=m)) for m in lengths],
        })
        copies = pd.DataFrame({"doc_id": np.arange(COPY_IDS, COPY_IDS + PLANTED_COPIES), "text": planted["text"].to_numpy()})
        _write(pd.concat([new, copies], ignore_index=True), doc_schema, out / "batch")
        expected = {
            "touched": touched,
            "planted": [[int(a), int(b)] for a, b in zip(copies["doc_id"], planted["doc_id"])],
            "n_batch": BATCH_DOCS,
            "dirty_rows": int(in_touched.sum()),
        }
        (out / "expected.json").write_text(json.dumps(expected))

    path = cache.get("di", {**parts, "seed": seed}, build)
    return {
        "day0": str(base / "day0"),
        "manifest0": str(base / "manifest0"),
        "docs": str(base / "docs"),
        "day1": str(path / "day1"),
        "manifest1": str(path / "manifest1"),
        "batch": str(path / "batch"),
        "expected": json.loads((path / "expected.json").read_text()),
    }
