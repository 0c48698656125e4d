"""The three workloads: program-built set-up, one timed iteration, output
checks, and the extra spans a traced run adds.

Every call into the package goes through ``span(name)``, so the traced
run can attribute Spark jobs to it. An iteration returns its outputs;
``check`` compares them with the generator's expected sets outside the
timed region, reading written reports with pyarrow so that checking
adds no work to the JVM being measured.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import checks
import inputs
from opengauss_tools_datachecker_spark.fixtures import KEY_COLS, bucket_of
from opengauss_tools_datachecker_spark.operators import checksum
from opengauss_tools_datachecker_spark.operators import dedup
from opengauss_tools_datachecker_spark.operators.drift import histogram_cube
from opengauss_tools_datachecker_spark.plans import rule as rule_mod
from opengauss_tools_datachecker_spark.plans import runner
from opengauss_tools_datachecker_spark.plans.checkpoint import ControlTable
from opengauss_tools_datachecker_spark.plans.rule import CheckContext
from opengauss_tools_datachecker_spark.plans.rules import ALL_RULES
from opengauss_tools_datachecker_spark.sources import snapshots

N_BUCKETS = inputs.N_BUCKETS


class FullVerify:
    """The paper's check: one ``run_suite`` over a mostly-clean table with
    every data rule on."""

    name = "full-verify"
    ops_per_iteration = 1
    setups = 3
    warmups = 1
    min_iterations = 2

    def __init__(self, spark: SparkSession, cache: inputs.Cache, seed: int, state: Path):
        self.inp = inputs.full_verify(spark, cache, seed)
        self.rows = self.inp["rows"]

    def setup(self, spark: SparkSession, span) -> None:
        self.bind(spark)

    def bind(self, spark: SparkSession) -> None:
        """Read the inputs in *spark*, a session started after set-up."""
        self.ctx = CheckContext(
            spark=spark,
            files=spark.read.parquet(self.inp["files"]),
            manifest=spark.read.parquet(self.inp["manifest"]),
            baseline_cube=spark.read.parquet(self.inp["baseline_cube"]),
            n_buckets=N_BUCKETS,
            params={"outlier_k": inputs.FV_OUTLIER_K, "secrets": True},
        )

    def reset(self) -> None:
        pass

    def iterate(self, spark: SparkSession, span) -> dict:
        with span("runner.run_suite"):
            result = runner.run_suite(self.ctx)
        return {"result": result}

    def check(self, out: dict) -> list[checks.Mismatch]:
        got: dict[str, set[str]] = {}
        for r in out["result"].violations.select("rule_id", "key").collect():
            got.setdefault(r["rule_id"], set()).add(r["key"])
        return checks.full_verify(got, self.inp["expected"])

    def release(self, out: dict) -> None:
        out["result"].unpersist_all()

    def extras(self, spark: SparkSession, span, out: dict) -> None:
        serial_rule_spans(spark, span, self.ctx)

    def ratios(self, out: dict, totals: dict) -> dict[str, float]:
        return {"runner.rule_overlap": rule_overlap(totals)}


def serial_rule_spans(spark: SparkSession, span, ctx: CheckContext) -> None:
    """The suite's layers one at a time: run_suite's shared projection,
    then each applicable data rule's check plus its verdict count over
    that cached projection (run_suite runs them concurrently)."""
    with span("rule.prepare_files"):
        files = rule_mod.prepare_files(ctx.files, N_BUCKETS, secret_scan=bool(ctx.params.get("secrets"))).persist()
        files.count()
    manifest = ctx.manifest.select(
        *KEY_COLS, "expected_sha256", bucket_of("repo", N_BUCKETS).alias("bucket"),
        F.xxhash64(*KEY_COLS).alias("key_hash"),
    ).persist()
    manifest.count()
    rule_ctx = CheckContext(
        spark=spark, files=files, manifest=manifest,
        commits=manifest.select("repo", "commit").distinct(),
        baseline_cube=ctx.baseline_cube, raw_schema=ctx.files.schema,
        n_buckets=N_BUCKETS, params=ctx.params,
    )
    for r in ALL_RULES:
        if getattr(r, "applicable", lambda _: True)(rule_ctx):
            with span(f"rules.{r.rule_id}"):
                r.check(rule_ctx).groupBy("bucket", "rule_id").count().collect()
    files.unpersist()
    manifest.unpersist()


def rule_overlap(totals: dict) -> float:
    """Serial layer walls over the concurrent run_suite wall, both over a
    full table: how much the runner's concurrent rule actions overlap."""
    serial = sum(t["wall_s"] for name, t in totals.items() if name == "rule.prepare_files" or name.startswith("rules."))
    return serial / totals["runner.run_suite"]["wall_s"]


class MigrationDiff:
    """The reference's own pipeline on typed rows: digest both sides,
    multiset-diff, recover the source rows, localize columns, write the
    violation report."""

    name = "migration-diff"
    ops_per_iteration = 6
    # a set-up is ~1 s of CPU and the first, in a cold JVM, ~6 s: the
    # median of three moved by ~30% between runs of the same code
    setups = 7
    # the JVM compiles through the first ~10 iterations: their CPU falls
    # from ~40 s to ~6 s, and the timed ones still fall by ~40%; running
    # them to a plateau would not fit the benchmark's time budget
    warmups = 2
    min_iterations = 4

    def __init__(self, spark: SparkSession, cache: inputs.Cache, seed: int, state: Path):
        self.inp = inputs.migration_diff(spark, cache, seed)
        self.rows = self.inp["rows"]
        self.report = state / "report"

    def setup(self, spark: SparkSession, span) -> None:
        self.bind(spark)

    def bind(self, spark: SparkSession) -> None:
        self.src = spark.read.parquet(self.inp["source"])
        self.tgt = spark.read.parquet(self.inp["target"])
        self.cols = self.src.columns

    def reset(self) -> None:
        shutil.rmtree(self.report, ignore_errors=True)

    def iterate(self, spark: SparkSession, span) -> dict:
        frames = []

        def keep(df):
            frames.append(df.persist())
            return frames[-1]

        sides = []
        for side in (self.src, self.tgt):
            with span("checksum.checksum_table"):
                sides.append(keep(checksum.checksum_table(side, ["row_key"], self.cols)))
                sides[-1].count()
        with span("checksum.multiset_diff"):
            diff = keep(checksum.multiset_diff(*sides))
            n_diff = diff.count()
        with span("checksum.recover_rows"):
            missing = diff.filter(F.col("n_source") > F.col("n_target"))
            recovered = keep(checksum.recover_rows(self.src, missing, value_cols=self.cols))
            n_recovered = recovered.count()
        with span("checksum.column_diff"):
            cols = keep(checksum.column_diff(self.src, self.tgt, ["row_key"]))
            cols.count()
        with span("report.write"):
            recovered.write.parquet(str(self.report / "recovered"))
            cols.write.parquet(str(self.report / "columns"))
        return {"frames": frames, "diff": diff, "n_diff": n_diff, "n_recovered": n_recovered}

    def check(self, out: dict) -> list[checks.Mismatch]:
        recovered = set(pq.read_table(self.report / "recovered", columns=["row_key"])["row_key"].to_pylist())
        columns = pq.read_table(self.report / "columns", columns=["row_key", "column_name"])
        pairs = set(zip(columns["row_key"].to_pylist(), columns["column_name"].to_pylist()))
        return checks.migration_diff(recovered, pairs, out["n_diff"], self.inp["expected"])

    def release(self, out: dict) -> None:
        for df in out["frames"]:
            df.unpersist()

    def extras(self, spark: SparkSession, span, out: dict) -> None:
        out["n_violations"] = out["diff"].filter(F.col("n_source") > F.col("n_target")).count()

    def ratios(self, out: dict, totals: dict) -> dict[str, float]:
        return {"diff.recovered_per_violation": out["n_recovered"] / out["n_violations"]}


class DailyIngest:
    """The one-command day: registry-planned incremental check and records,
    then the near-dup probe of the day's batch and index compaction."""

    name = "daily-ingest"
    ops_per_iteration = 7
    # day 0 takes ~30 s to build in a cold JVM and one day ~15 s, so a
    # run builds day 0 once and times one day
    setups = 1
    warmups = 0
    min_iterations = 1

    # both days run the default rule set, as run_check.py does without
    # --outlier-k/--secrets, which keeps a run short enough that all
    # benchmark runs fit their time budget; the traced run's serial spans
    # run every data rule, as full-verify does (the clean generator data
    # has no outlier past this k and no credential)
    all_rules_params = {"outlier_k": inputs.FV_OUTLIER_K, "secrets": True}

    def __init__(self, spark: SparkSession, cache: inputs.Cache, seed: int, state: Path):
        self.inp = inputs.daily_ingest(spark, cache, seed)
        self.pristine = state / "day0"
        self.work = state / "work"

    def _paths(self, root: Path) -> tuple[str, ControlTable, str]:
        return str(root / "registry"), ControlTable(str(root / "control")), str(root / "index")

    def setup(self, spark: SparkSession, span) -> None:
        """Day 0, built by the code under test: registry records, a full
        suite into the control table, and a compacted band index plus two
        recent batches. The full suite is the ``runner.run_suite`` span."""
        shutil.rmtree(self.pristine, ignore_errors=True)
        registry, control, index = self._paths(self.pristine)
        day0 = spark.read.parquet(self.inp["day0"])
        with span("day0.record_snapshot"):
            snapshots.record_snapshot(day0, registry, "day0", N_BUCKETS)
        with span("day0.record_histograms"):
            snapshots.record_histograms(
                histogram_cube(day0, "lang", F.length("content")), registry, "day0", N_BUCKETS
            )
        ctx0 = CheckContext(
            spark=spark, files=day0, manifest=spark.read.parquet(self.inp["manifest0"]),
            baseline_cube=snapshots.recorded_histograms(spark, registry, "day0", N_BUCKETS),
            n_buckets=N_BUCKETS, params={},
        )
        with span("runner.run_suite"):
            runner.run_suite(ctx0, control=control, snapshot_id="day0").unpersist_all()
        docs = spark.read.parquet(self.inp["docs"])
        ranges = [("b0", 0, inputs.INDEX_DOCS)]
        for i, bid in enumerate(("r1", "r2")):
            lo = inputs.INDEX_DOCS + i * inputs.RECENT_DOCS
            ranges.append((bid, lo, lo + inputs.RECENT_DOCS))
        for bid, lo, hi in ranges:
            batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            bands = dedup.band_rows(dedup.minhash_signatures(batch, "doc_id", "text"), "doc_id")
            with span("day0.index_batch"):
                dedup.index_batch(bands, index, bid, n_hashes=8, band_size=2)
            if bid == "b0":
                with span("day0.compact_index"):
                    dedup.compact_index(spark, index)
        self.bind(spark)

    def bind(self, spark: SparkSession) -> None:
        self.day1 = spark.read.parquet(self.inp["day1"])
        self.manifest1 = spark.read.parquet(self.inp["manifest1"])
        self.batch = spark.read.parquet(self.inp["batch"])

    def _day1_ctx(self, spark: SparkSession, registry: str, params: dict) -> CheckContext:
        return CheckContext(
            spark=spark, files=self.day1, manifest=self.manifest1,
            baseline_cube=snapshots.recorded_histograms(spark, registry, "day0", N_BUCKETS),
            n_buckets=N_BUCKETS, params=params,
        )

    def reset(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.copytree(self.pristine, self.work)

    def iterate(self, spark: SparkSession, span) -> dict:
        registry, control, index = self._paths(self.work)
        with span("snapshots.bucket_signatures"):
            sigs = snapshots.bucket_signatures(self.day1, N_BUCKETS).persist()
            sigs.count()
        with span("snapshots.changed_buckets"):
            dirty = {
                r["bucket"]
                for r in snapshots.changed_buckets(
                    spark, registry, "day0", new_signatures=sigs, n_buckets=N_BUCKETS
                ).collect()
            }
        ctx = self._day1_ctx(spark, registry, {})
        with span("runner.check_incremental"):
            result = runner.check_incremental(ctx, None, control, "day0", "day1", dirty_buckets=dirty)
        with span("snapshots.record_snapshot"):
            snapshots.record_snapshot(self.day1, registry, "day1", N_BUCKETS, signatures=sigs)
        with span("snapshots.record_histograms"):
            snapshots.record_histograms(
                histogram_cube(self.day1, "lang", F.length("content")), registry, "day1", N_BUCKETS
            )
        matches_out = str(self.work / "matches")
        with span("dedup.ingest_probe_index"):
            ingest = dedup.ingest_probe_index(self.batch, index, "day1", matches_out=matches_out)
        with span("dedup.compact_index"):
            compacted = dedup.compact_index(spark, index)
        sigs.unpersist()
        return {
            "dirty": dirty, "result": result, "ingest": ingest, "compacted": compacted,
            "matches_out": matches_out,
        }

    def check(self, out: dict) -> list[checks.Mismatch]:
        m = pq.read_table(out["matches_out"], columns=["origin", "new_id", "match_id"]).to_pydict()
        matches = {(a, b) for o, a, b in zip(m["origin"], m["new_id"], m["match_id"]) if o == "new_old"}
        found = checks.daily_ingest(
            out["dirty"], out["result"].verdicts, matches, out["ingest"]["n_new"], self.inp["expected"]
        )
        if out["compacted"]["n_batches"] != 4:
            found.append(("dedup.compact_index", f"folded {out['compacted']['n_batches']} batches, expected 4"))
        return found

    def release(self, out: dict) -> None:
        out["result"].unpersist_all()

    def extras(self, spark: SparkSession, span, out: dict) -> None:
        """A control-table read; the day's batch signed on its own, so the
        Python MinHash kernel's cost at the Arrow boundary shows; and the
        suite's layers one at a time over the whole day-1 table, with the
        rules of the day-0 suite they are compared with."""
        registry, control, _ = self._paths(self.work)
        with span("checkpoint.read"):
            control.read(spark).count()
        with span("dedup.minhash_signatures"):
            dedup.minhash_signatures(self.batch, "doc_id", "text").write.format("noop").mode("overwrite").save()
        serial_rule_spans(spark, span, self._day1_ctx(spark, registry, self.all_rules_params))

    def ratios(self, out: dict, totals: dict) -> dict[str, float]:
        """Rows read inside check_incremental per row in a dirty bucket (1
        would be a perfectly pruned rescan), the dirty share of buckets,
        and the share of the batch that was new to the index."""
        expected = self.inp["expected"]
        return {
            "daily.rescan_ratio": totals["runner.check_incremental"]["input_rows"] / expected["dirty_rows"],
            "daily.dirty_bucket_frac": len(out["dirty"]) / N_BUCKETS,
            "ingest.new_doc_frac": out["ingest"]["n_new"] / expected["n_batch"],
            "runner.rule_overlap": rule_overlap(totals),
        }


WORKLOADS = {w.name: w for w in (FullVerify, MigrationDiff, DailyIngest)}
