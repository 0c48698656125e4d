"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload full-verify --seed 1 --seconds 15 --trace 0

Prints human-readable lines, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
Everything it writes (fixture cache, Spark scratch, event logs, per-run
records) lives under ``.perfbench_cache/`` in the working directory.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["full-verify", "migration-diff", "daily-ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    root = Path.cwd() / ".perfbench_cache"
    for sub in ("tmp", "spark-local"):
        shutil.rmtree(root / sub, ignore_errors=True)  # a previous run's scratch
        (root / sub).mkdir(parents=True)
    # Python, the JVM and Spark's scratch all stay inside the cache dir
    os.environ["TMPDIR"] = str(root / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(root / "spark-local")
    sys.path.insert(0, str(Path.cwd()))

    from harness import Run

    return Run(args, root, STARTED).run()


if __name__ == "__main__":
    sys.exit(main())
