"""Single-pass validated publish: write + metrics + gate in ONE scan.

operators/expectations.py validates with a dedicated aggregate scan —
fine before a cheap write, but a training-data pipeline's last step is
usually "write 100 TB of curated parquet AND refuse to publish it if
the batch is malformed". Scanning twice (validate, then write) doubles
the most expensive job in the pipeline; validating after publishing
ships bad data for the gap. This module does both at once:

- metrics ride the WRITE job via ``DataFrame.observe`` (Spark's
  ``CollectMetrics`` node: aggregate expressions evaluated on the rows
  as they stream through the writer — zero extra scan, zero extra
  shuffle; metrics must be standard aggregates over the written rows);
- the write goes to the staged-replace sink (operators/sinks.py), and
  PROMOTION happens only after the gates pass — a failed gate leaves
  the previous live data untouched and the rejected batch parked in
  ``.staging`` for inspection, with a named error listing every failed
  gate and its measured value. The inspection window is bounded: the
  NEXT ``write_validated`` call against the same sink starts with
  ``recover_sink``, which clears any leftover staging dir — copy a
  rejected batch aside before retrying the publish if you need it.

This is the write-side complement of expectations.validate(): the same
fail-shut contract, but the validation cost is folded into the job you
were already paying for. Gates needing non-aggregate shapes (unique
keys, FK probes) still belong to expectations before/after — observe
metrics are per-row aggregates by construction.

Reference parity: the reference writes its merged CSV state blindly
(fighters_scraper.py's to_csv) — this is that publish step with the
validation a 100 TB pipeline cannot afford to skip or double-pay.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation

from .sinks import promote_staging, recover_sink

__all__ = ["PublishGateError", "write_validated"]


class PublishGateError(RuntimeError):
    """A publish gate failed; the live sink was NOT replaced. Carries
    ``failed`` (the gate names) and ``metrics`` (every observed
    value)."""

    def __init__(self, sink_path: str, failed: list[str], metrics: dict):
        self.failed = failed
        self.metrics = metrics
        super().__init__(
            f"publish to {sink_path!r} refused — failed gates: "
            f"{', '.join(failed)} (measured: {metrics}); staging kept "
            "for inspection"
        )


def write_validated(
    df: DataFrame,
    sink_path: str,
    metrics: dict[str, Column],
    gates: dict[str, Callable[[dict], bool]],
    *,
    format: str = "parquet",
) -> dict:
    """Write ``df`` to ``sink_path`` with single-scan validation.

    ``metrics``: name -> aggregate Column over the written rows (e.g.
    ``{"n": F.count(F.lit(1)), "null_ids": F.sum(F.col("id").isNull()
    .cast("long"))}``). ``gates``: name -> predicate over the collected
    metrics dict; ALL must return True for the staging dir to be
    promoted. Returns the metrics dict on success; raises
    :class:`PublishGateError` (live sink untouched, staging kept) on
    failure.

    Crash contract: inherits operators/sinks — a crash anywhere leaves
    a state :func:`recover_sink` restores; an unpromoted staging dir is
    invisible garbage. Empty input is NOT special-cased: observe
    aggregates over zero rows yield count=0 / NULL sums, and the gates
    decide (an "n > 0" gate is the usual guard).
    """
    recover_sink(sink_path)
    obs = Observation()
    observed = df.observe(
        obs, *[c.alias(name) for name, c in metrics.items()]
    )
    staging = sink_path + ".staging"
    observed.write.mode("overwrite").format(format).save(staging)
    vals = dict(obs.get)
    failed = sorted(name for name, ok in gates.items() if not ok(vals))
    if failed:
        raise PublishGateError(sink_path, failed, vals)
    promote_staging(sink_path)
    return vals
