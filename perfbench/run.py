"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Works under ``.perfbench_work/``
(deleted at exit), takes its inputs from ``--seed`` and the corpus under
``perfbench/corpus/``, measures one closed-loop client
for ``--seconds``, checks every timed result, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}`` with the
``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``). Exits non-zero without a result
when the program under test is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.common import Run, stop_spark  # noqa: E402  (starts the setup clock)

PACKAGE = "sports_stats_data_pipeline_spark"
WORKLOADS = ("spine_sf0.1", "incremental_ingest")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: self-test inputs")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: corrupt one expected result")
    return p.parse_args(argv)


def _isolate(work: Path, cores: int) -> None:
    """Point every scratch location (Python, JVM, Spark) into ``work`` and
    size the session to ``cores``; must run before pyspark is imported."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: {PACKAGE}/ or BENCHMARK.json not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run = Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=str(work), cores=cores or 1,
        scale=args.scale, corrupt=args.corrupt,
    )
    _isolate(work, run.cores)
    if args.workload == "incremental_ingest":
        from perfbench.ingest import run_ingest as workload
    else:
        from perfbench.queries import run_queries as workload

    try:
        values = workload(run)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:
                pass

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value = values.get(m["name"])
        if value is None:
            if not args.trace:
                print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
                return 3
            value = 0.0  # layer not exercised by this workload
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    run.record.update(workload=run.workload, seed=run.seed, cores=run.cores,
                      seconds=run.seconds, trace=run.trace, failures=run.failures,
                      measured=sorted(values),
                      setup={k: v for k, v in values.items() if k.startswith(("session.", "setup."))})
    print("# record " + json.dumps(run.record, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
