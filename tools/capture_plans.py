"""Capture .explain("formatted") for the query slots an optimization
touched, for plans/<round>/<slot>_{before,after}.txt.

Run from the repo root whose code should be captured (a worktree of the
base revision for *_before.txt, HEAD for *_after.txt):

    python tools/capture_plans.py <out_dir> <suffix> --slots a,b,...

Uses the same session factory and sf0.1 data as bench.py so the plans
match what the bench measures. Building some of these DataFrames
executes bounded driver-side work by design (heavy-hitter candidate
collect, the corpus model pre-collect); that is the same work the
bench times, so the captured plan is the plan of record.
"""

from __future__ import annotations

import argparse
import datetime
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, os.getcwd())

from sports_stats_data_pipeline_spark.plans import all_registries  # noqa: E402
from sports_stats_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _explain_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir", type=Path)
    ap.add_argument("suffix", help="file-name suffix, e.g. before / after")
    ap.add_argument(
        "--slots", required=True, help="comma-separated registry slot names"
    )
    args = ap.parse_args()
    out_dir, suffix = args.out_dir, args.suffix
    reg = all_registries()
    slots = [s for s in args.slots.split(",") if s]
    unknown = sorted(set(slots) - set(reg.queries))
    if unknown:
        ap.error(f"unknown slots: {', '.join(unknown)}")
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat()
    for name in slots:
        df = reg.queries[name](spark, SF_DIR)
        text = (
            f"# {name} — explain('formatted') over {SF_DIR}, {suffix}\n"
            f"# captured {stamp} by tools/capture_plans.py\n\n"
            + _explain_text(df)
        )
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print(f"captured {name}_{suffix}")
    spark.stop()


if __name__ == "__main__":
    main()
