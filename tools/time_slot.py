"""Per-slot A/B timing harness for optimization work: runs bench.py's
own ``_time_slot`` (same session factory, untimed warmup, min-of-N
noop-sink timed passes, job/stage counts from the pass whose wall is
the min) for a named subset of slots, so a single change can be
measured in ~seconds instead of a full bench run.

    python tools/time_slot.py <slot> [<slot> ...] [--passes N]

NOT a replacement for bench.py: walls printed here are same-session
comparables for the slot under edit, not the round record.
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _time_slot  # noqa: E402
from sports_stats_data_pipeline_spark.plans import all_registries  # noqa: E402
from sports_stats_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    passes = 2
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i : i + 2]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_slot")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_registries()
    run_id = uuid.uuid4().hex[:8]
    out = {}
    for name in names:
        best, jobs, stages, _, _, walls = _time_slot(
            spark, reg, sf_dir, name,
            passes=passes, warmup=True, run_id=run_id, tier="ts",
        )
        out[name] = {
            "min_wall": best,
            "walls": walls,
            "jobs": jobs,
            "stages": stages,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
