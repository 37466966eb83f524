"""Inputs for the benchmark.

The corpus tables are the repository's test corpus (TESTDATA.md), copied
byte for byte under ``perfbench/corpus/`` (checksums in its
``SHA256SUMS``) because a run reads nothing outside its checkout. The
seed chooses only the scraper page keys, the delta share, the scripted
failing URLs and the near-dup landing split; the same seed gives the
same inputs.
"""

from __future__ import annotations

import hashlib
import string
from dataclasses import dataclass
from pathlib import Path

import numpy as np

CORPUS = Path(__file__).resolve().parent / "corpus"


def corpus_dir(sf: str) -> str:
    """Directory of the corpus tables at scale factor ``sf`` (``"0.1"``)."""
    return str(CORPUS / f"sf{sf}")


@dataclass(frozen=True)
class PageKeys:
    """Seeded scraper key sets: cold keys, the delta's new keys, and the
    share of URLs the transport answers with a permanent 500."""

    fighters: list[tuple[str, int]]
    fighters_new: list[tuple[str, int]]
    fights: list[tuple[str, int]]
    fights_new: list[tuple[str, int]]
    delta_share: float
    fail_per_mille: int
    seed: int


def page_keys(seed: int, n_fighters: int, n_fights: int) -> PageKeys:
    """``n_*`` is the cold key count; the delta adds ``delta_share`` of
    the final key count as new keys."""
    rng = np.random.default_rng([seed, 2])
    delta_share = float(rng.uniform(0.24, 0.26))
    fail_per_mille = int(rng.integers(8, 13))

    def fighter_keys(n: int) -> list[tuple[str, int]]:
        ids = rng.choice(26 * 100_000, size=n, replace=False)
        return [(string.ascii_lowercase[i % 26], int(i // 26)) for i in ids]

    def fight_keys(n: int) -> list[tuple[str, int]]:
        events = ["ev" + "".join(rng.choice(list("abcdefghij"), 4)) for _ in range(64)]
        ids = rng.choice(64 * 100_000, size=n, replace=False)
        return [(events[i % 64], int(i // 64)) for i in ids]

    n_new_f = int(round(n_fighters * delta_share / (1 - delta_share)))
    n_new_t = int(round(n_fights * delta_share / (1 - delta_share)))
    fighters = fighter_keys(n_fighters + n_new_f)
    fights = fight_keys(n_fights + n_new_t)
    return PageKeys(
        fighters=fighters[:n_fighters],
        fighters_new=fighters[n_fighters:],
        fights=fights[:n_fights],
        fights_new=fights[n_fights:],
        delta_share=delta_share,
        fail_per_mille=fail_per_mille,
        seed=seed,
    )


def fails(seed: int, fail_per_mille: int, url: str) -> bool:
    """Whether the scripted transport answers ``url`` with a permanent 500."""
    h = hashlib.md5(f"{seed}:{url}".encode()).digest()
    return int.from_bytes(h[:4], "little") % 1000 < fail_per_mille


class PageTransport:
    """In-process transport serving the synthetic fighter/fight pages.

    Picklable and key-free: the page key is parsed back out of the URL
    and the page regenerated, so the closure shipped to Python workers
    stays small. Every call is counted into the ``ok``/``err`` Spark
    accumulators (``err`` = scripted 500s, ``ok`` = pages served)."""

    def __init__(self, seed: int, fail_per_mille: int, ok, err):
        self.seed, self.fail_per_mille = seed, fail_per_mille
        self.ok, self.err = ok, err

    def __call__(self, url: str) -> tuple[int, str]:
        from sports_stats_data_pipeline_spark.sources.synthetic_pages import (
            synth_fight_page,
            synth_fighter_page,
        )

        if fails(self.seed, self.fail_per_mille, url):
            self.err.add(1)
            return 500, ""
        kind, tail = url.rsplit("/", 2)[-2:]
        key = tail.split("-")[0]
        if kind == "fighter-details":
            synth, group, idx = synth_fighter_page, key[0], key[1:]
        else:
            synth, group, idx = synth_fight_page, key[:6], key[6:]
        page_url, html = synth(group, int(idx))
        if page_url != url:
            self.err.add(1)
            return 404, ""
        self.ok.add(1)
        return 200, html
