"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

For every workload it checks that:

- an untraced and a traced run finish correct, and emit every metric that
  ``BENCHMARK.json`` names, with its unit;
- every per-layer metric is actually measured by some workload;
- a run with one deliberately corrupted expected result reports
  ``correct: false`` and a failed operation, which proves the gate can
  fail.

It also checks that a checkout holding only ``BENCHMARK.json`` and this
directory makes the benchmark exit non-zero without a result. Exits 0
when every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RUN = ["python3", "perfbench/run.py", "--seconds", "1", "--scale", "tiny"]


def _run(cwd: Path, *args: str) -> tuple[int, list[str], str]:
    p = subprocess.run(
        [*RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors: list[str] = []
    measured: set[str] = set()

    def check(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            errors.append(what)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            rc, out, err = _run(ROOT, "--workload", wl, "--seed", "3", "--trace", trace)
            if rc != 0 or not out:
                check(False, f"{wl} trace={trace}: exit {rc}\n{err[-2000:]}")
                continue
            res = json.loads(out[-1])
            record = json.loads(out[-2].removeprefix("# record "))
            measured.update(record.get("measured", []))
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{wl} trace={trace}: correct, {res['failed']}/{res['attempted']} failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{wl} trace={trace}: emits every {key} metric with its unit")
        rc, out, err = _run(ROOT, "--workload", wl, "--seed", "3", "--trace", "0", "--corrupt")
        res = json.loads(out[-1]) if rc == 0 and out else {}
        check(res.get("correct") is False and res.get("failed", 0) >= 1,
              f"{wl}: a corrupted expected result counts as failed ({res.get('failed')})")

    unmeasured = sorted({m["name"] for m in spec["per_layer"]} - measured)
    check(not unmeasured, f"every per-layer metric is measured by a workload {unmeasured}")

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_bare_") as bare:
        bare = Path(bare)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, out, _ = _run(bare, "--workload", spec["workloads"][0]["name"],
                          "--seed", "1", "--trace", "0")
        check(rc != 0 and not any(line.startswith("{") for line in out),
              f"bare checkout exits non-zero without a result (exit {rc})")

    print(f"{len(errors)} check(s) failed" if errors else "all checks passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
