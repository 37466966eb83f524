"""Env-gated scale/skew re-validation suite (round 6 — the /tmp
harness behind the NOTES.md 100-TB claims, committed and reproducible).

Derive the corpora first (tools/derive_scale_corpus.py), then::

    SPARK_GRAFT_SCALE_DIR=/tmp/scale10 python -m pytest \
        tests/test_scale_replica.py -q
    SPARK_GRAFT_SKEW_DIR=/tmp/skewed python -m pytest \
        tests/test_scale_replica.py -q

Each test runs the registered Spark query AND its DuckDB oracle on the
SAME derived corpus and requires the full rows+schema+value-hash match
— the driver's check, on data 10x bigger or adversarially skewed.
Skipped (not passed) when the env var is absent, so the default suite
stays fast; CI or a pre-handoff sweep opts in.

Query sets mirror the recorded green validations:
- replica: the rounds-5/6 10x set (windows + RANGE frames, corr
  moments + CMS, attribution/as-of, the five-family quality report,
  q3's join-agg-topk spine).
- skew: the rounds-4/6 adversarial set (salted skew join, hot-user
  sessions/windows, hot-customer history, as-of fan-out, top-k).

The LSH/doc-clusters composites are in the HEAVY tier
(SPARK_GRAFT_SCALE_HEAVY=1) — ~1-2 min Spark + oracle each at 10x.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from sports_stats_data_pipeline_spark.plans import all_registries
from sports_stats_data_pipeline_spark.sources.tables import TABLE_NAMES

from ._compare import assert_frames_match

SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR")
SKEW_DIR = os.environ.get("SPARK_GRAFT_SKEW_DIR")
HEAVY = os.environ.get("SPARK_GRAFT_SCALE_HEAVY") == "1"
#: >=60x oracle-wall relief (round 8; pinned against the full oracles
#: at small SF in test_scale_oracle_modes.py). When set to an integer
#: mod: the minhash referee candidate-samples 1/mod before its
#: quadratic verify join (the ENGINE still runs the full workload —
#: only its output is filtered for the comparison, and its full row
#: count is cross-asserted against the engine-pairs table the
#: doc_clusters branch builds, when both run in one session), and the
#: doc_clusters referee consumes the engine's verified pair table,
#: independently recomputing only the graph legs. 0/absent = full
#: referee (the <=30x regime). Must be COPRIME to 7000028 = 7*1000004
#: (odd, not a multiple of 7, 53, or 89 — e.g. 3, 11, 17; clone
#: anchors sit at doc_id % 7 = 0, so a mod divisible by 7 would sample
#: ZERO clone pairs): the oracle builder rejects
#: degenerate moduli whose clone-pair sample collapses (round 9).
SAMPLED_MOD = int(os.environ.get("SPARK_GRAFT_SCALE_SAMPLED", "0"))

#: engine full-output row counts recorded by the sampled branches, for
#: the cross-assertion between the minhash slot's output and the
#: engine-pairs table (same relation, two independent executions)
_ENGINE_FULL_COUNTS: dict[str, int] = {}

REG = all_registries()

REPLICA_QUERIES = [
    "q3_shipping_priority",
    "customer_order_history_window",
    "expression_profile_orders",
    "asof_join_purchase_click",
    "data_quality_report",
    "incremental_mart_maintenance",
    # round 10: the two slots whose plan shape changed this round
    # (compact one-job LM training + scan fan-out; fan-out alone) join
    # the replica gate — their oracles' heavy shared CTEs are
    # AS MATERIALIZED so the referee pays each explode once.
    "corpus_quality_filter",
    "span_redaction_stats",
    # round 11: url's plan fused to a single exchange (window stats +
    # in-plan contract) — changed shape joins the gate per the same
    # rule. span_redaction_stats also changed shape in round 11 (the
    # groupBy+join -> one-window-over-h rewrite) and stays listed.
    "url_domain_curation",
    # round 12 continuation: shared max-id action + persisted metadata
    # relation changed the slot's plan shape — joins the gate per the
    # same rule.
    "corpus_mix_split_shards",
]
REPLICA_HEAVY = [
    "neardup_minhash_pairs",
    "simhash_neardup_pairs",
    "neardup_doc_clusters",
    "streaming_tumbling_hourly",
    # round 8: the graph-ANN family (k=6/rounds=3/hops=3 build through
    # the persisted index) value-gated at replica scale too — the
    # unrolled-CTE oracle chain runs on the replicated embeddings
    "ann_ivf_label_topk",
]
SKEW_QUERIES = [
    "customers_above_nation_avg",
    "events_user_sessions",
    "events_fixed_windows",
    "customer_order_history_window",
    "asof_join_purchase_click",
    "topk_orders_per_segment",
    "events_props_pivot",
]
#: round 11 (round-10 verdict #4): the dedup/LSH family under doc skew
#: — the derived corpus rewrites ~40% of documents into ONE near-dup
#: cluster, so every band bucket it touches blows past the 64-doc caps
#: and the caps must BIND (test_skew_docs_caps_bind observes that
#: directly) while the cap-mirroring oracles stay value-matched.
SKEW_HEAVY = [
    "neardup_minhash_pairs",
    "simhash_neardup_pairs",
    "neardup_doc_clusters",
]


def _oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _check(spark, sf_dir: str, name: str) -> None:
    con = _oracle(sf_dir)
    try:
        if SAMPLED_MOD and name == "neardup_minhash_pairs":
            from sports_stats_data_pipeline_spark.plans.documents import (
                minhash_pairs_oracle_sql,
            )

            spark_pdf = REG.queries[name](spark, sf_dir).toPandas()
            n_full = len(spark_pdf)
            spark_pdf = spark_pdf[
                (spark_pdf.doc_a * 1000003 + spark_pdf.doc_b)
                % SAMPLED_MOD
                == 0
            ].reset_index(drop=True)
            oracle_pdf = con.execute(
                minhash_pairs_oracle_sql(SAMPLED_MOD)
            ).df()
            assert 0 < len(spark_pdf) < n_full, (
                f"{name}: degenerate sample {len(spark_pdf)}/{n_full}"
            )
            assert_frames_match(
                spark_pdf, oracle_pdf, f"{name}[sampled 1/{SAMPLED_MOD}]"
            )
            _ENGINE_FULL_COUNTS[name] = n_full
            print(f"\n{name}: {n_full} pairs, sampled {len(spark_pdf)}")
            return
        if SAMPLED_MOD and name == "streaming_tumbling_hourly":
            # >=30x regime: the sneardup family's greedy fold is order-
            # dependent state — it cannot be candidate-sampled — and the
            # DuckDB fold referee is row-group-bound (one core at 100%
            # for ~44 min at 60x; SCALING.md round 8). Splice in the
            # independent parallel Python fold referee
            # (streaming.fold_reference, pinned bit-exact against the
            # DuckDB fold in test_fold_reference.py); the other four
            # families stay DuckDB-computed — same full value hash.
            import pandas as pd

            from sports_stats_data_pipeline_spark.plans.events import (
                streaming_oracle_sql,
            )
            from sports_stats_data_pipeline_spark.streaming.fold_reference import (  # noqa: E501
                sneardup_admissions_reference,
            )

            import time as _time

            _t0 = _time.perf_counter()
            py_adm = pd.DataFrame(
                sneardup_admissions_reference(sf_dir),
                columns=["doc_id", "admitted"],
            )
            _ref_wall = _time.perf_counter() - _t0
            con.register("py_adm", py_adm)
            _t0 = _time.perf_counter()
            spark_pdf = REG.queries[name](spark, sf_dir).toPandas()
            _eng_wall = _time.perf_counter() - _t0
            # the walls that decide whether the slot is engine- or
            # referee-bound (the >=60x question; -rA surfaces them)
            print(
                f"\n{name}: python-fold referee {_ref_wall:.0f}s, "
                f"engine {_eng_wall:.0f}s"
            )
            oracle_pdf = con.execute(streaming_oracle_sql("py_adm")).df()
            assert_frames_match(
                spark_pdf, oracle_pdf, f"{name}[python-fold-referee]"
            )
            assert len(spark_pdf) > 0, f"{name}: empty result on {sf_dir}"
            return
        if SAMPLED_MOD and name == "neardup_doc_clusters":
            import pandas as pd

            from sports_stats_data_pipeline_spark.plans.documents import (
                _NEARDUP_DOCS_SQL,
                _minhash_verified_pairs,
                _neardup_docs,
                doc_clusters_oracle_sql,
            )
            from sports_stats_data_pipeline_spark.plans.graph_reference import (  # noqa: E501
                union_find_labels,
            )

            docs_df = _neardup_docs(spark, sf_dir)
            pairs_pdf = _minhash_verified_pairs(docs_df).toPandas()
            assert len(pairs_pdf) > 0
            # cross-assertion vs the minhash slot's FULL output (same
            # relation, independent execution) when it ran this session
            n_minhash = _ENGINE_FULL_COUNTS.get("neardup_minhash_pairs")
            if n_minhash is not None:
                assert len(pairs_pdf) == n_minhash, (
                    f"engine-pairs {len(pairs_pdf)} != minhash full "
                    f"output {n_minhash}"
                )
            con.register("spark_pairs", pairs_pdf)
            # round 9: component labels come from the exact Python
            # union-find (plans.graph_reference) instead of the
            # recursive-walk CTE — on replica corpora whose synth
            # near-dups chain cliques into large components the walk's
            # O(n^2) working set spilled ~75 GB and killed the 100x
            # referee; DuckDB still recomputes PageRank, triangles,
            # and SemDeDup independently (layered referees). The SEED
            # doc-id set comes from DUCKDB's own docs recipe, not the
            # engine's Spark helper — seeding from the engine would
            # make singleton-doc membership (the rows no pair-based
            # leg touches) an engine-vs-engine comparison (second
            # self-review pass catch).
            oracle_ids = [
                r[0]
                for r in con.execute(
                    f"WITH docs AS ({_NEARDUP_DOCS_SQL}) "
                    "SELECT doc_id FROM docs"
                ).fetchall()
            ]
            py_lab = pd.DataFrame(
                union_find_labels(
                    oracle_ids,
                    zip(
                        pairs_pdf["doc_a"].tolist(),
                        pairs_pdf["doc_b"].tolist(),
                    ),
                ),
                columns=["doc_id", "cluster_id"],
            )
            con.register("py_lab", py_lab)
            spark_pdf = REG.queries[name](spark, sf_dir).toPandas()
            oracle_pdf = con.execute(
                doc_clusters_oracle_sql(
                    "spark_pairs", labels_source="py_lab"
                )
            ).df()
            assert_frames_match(
                spark_pdf, oracle_pdf, f"{name}[engine-pairs]"
            )
            assert len(spark_pdf) > 0, f"{name}: empty result on {sf_dir}"
            return
        spark_pdf = REG.queries[name](spark, sf_dir).toPandas()
        oracle_pdf = con.execute(REG.oracles[name]).df()
        assert_frames_match(spark_pdf, oracle_pdf, name)
        assert len(spark_pdf) > 0, f"{name}: empty result on {sf_dir}"
    finally:
        con.close()


@pytest.mark.skipif(
    not SCALE_DIR, reason="set SPARK_GRAFT_SCALE_DIR to a derived replica"
)
@pytest.mark.parametrize(
    "name", REPLICA_QUERIES + (REPLICA_HEAVY if HEAVY else [])
)
def test_replica_parity(spark, name):
    _check(spark, SCALE_DIR, name)


@pytest.mark.skipif(
    not (SCALE_DIR and HEAVY),
    reason="set SPARK_GRAFT_SCALE_DIR + SPARK_GRAFT_SCALE_HEAVY=1",
)
def test_replica_nndescent_incremental_equals_full(spark):
    """Round 7: the new-flag candidate cut must stay bit-identical to
    the full expansion at replica scale — the regime where the replica
    corpus makes every vector 10/30-way duplicated (maximal cosine
    ties, the hardest case for the 'a rejected pair can never
    re-enter' argument since the kth-best boundary is a plateau).
    Wall times for both paths print for the NOTES record."""
    import time

    from sports_stats_data_pipeline_spark.operators.nndescent import (
        knn_graph_nndescent,
        release_knn_graph,
    )
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SCALE_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    t0 = time.perf_counter()
    full = knn_graph_nndescent(emb, k=8, rounds=3)
    n_full = full.count()
    t_full = time.perf_counter() - t0
    t0 = time.perf_counter()
    inc = knn_graph_nndescent(emb, k=8, rounds=3, incremental=True)
    n_inc = inc.count()
    t_inc = time.perf_counter() - t0
    # bit-equality via an order-free fingerprint (collecting n*k rows
    # at 30x is pointless driver traffic): count + XOR of ONE combined
    # hash per row — keys and sim must hash together, or two rows
    # swapping their sims would cancel out (xor, not sum — a long
    # sum overflows ANSI arithmetic at this row count)
    def fp(df):
        return df.selectExpr(
            "bit_xor(xxhash64(src, dst, rank,"
            " CAST(round(sim * 1e9) AS LONG))) AS h",
        ).collect()[0]

    assert n_full == n_inc and fp(full) == fp(inc)
    print(
        f"\nnndescent 3 rounds k=8 on {emb.count()} vecs: "
        f"full={t_full:.1f}s incremental={t_inc:.1f}s"
    )
    release_knn_graph(full)
    release_knn_graph(inc)


@pytest.mark.skipif(
    not SKEW_DIR, reason="set SPARK_GRAFT_SKEW_DIR to a derived skew corpus"
)
@pytest.mark.parametrize(
    "name", SKEW_QUERIES + (SKEW_HEAVY if HEAVY else [])
)
def test_skew_parity(spark, name):
    _check(spark, SKEW_DIR, name)


@pytest.mark.skipif(
    not SKEW_DIR, reason="set SPARK_GRAFT_SKEW_DIR to a derived skew corpus"
)
def test_skew_funnel_cap_is_value_relevant(spark):
    """Round 11 (round-10 verdict #3): the corpus carries a bot user
    whose first QUALIFYING funnel chain sits PAST the earliest-10k
    step-event truncation — 1 view, 15k clicks, then a purchase inside
    the 240-min entry window but at step-rank 15 002. The capped engine
    and the cap-mirroring oracle must both stop at max_step 2, and the
    UNCAPPED oracle must find the full chain (max_step 3) — i.e. the
    truncation is value-RELEVANT here, not merely unhittable, so this
    is the first real test of its semantics."""
    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.operators.funnel import (
        funnel_steps,
    )
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    BOT = 88_888_777  # tools/derive_scale_corpus.FUNNEL_BOT_USER
    ev = load_table(spark, SKEW_DIR, "events")
    rows = (
        funnel_steps(ev, ["view", "click", "purchase"], within_minutes=240)
        .filter(F.col("user_id") == BOT)
        .collect()
    )
    assert len(rows) == 1, (
        f"derived corpus lacks the funnel-cap bot user {BOT} — "
        "re-derive with round-11 tools/derive_scale_corpus.py"
    )
    got = rows[0]

    def chain(con, capped: bool):
        cap = "WHERE __rn <= 10000" if capped else ""
        return con.execute(f"""
          WITH fev AS (
            SELECT epoch_us(ts) // 1000000 AS t, event_type FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS __rn
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
                AND user_id = {BOT}
            ) {cap}
          ),
          s1 AS (SELECT min(t) AS t1 FROM fev WHERE event_type = 'view'),
          s2 AS (SELECT min(t) AS t2 FROM fev, s1
                 WHERE event_type = 'click'
                   AND t > t1 AND t <= t1 + 14400),
          s3 AS (SELECT min(t) AS t3 FROM fev, s1, s2
                 WHERE event_type = 'purchase'
                   AND t > t2 AND t <= t1 + 14400)
          SELECT t1, t2, t3 FROM s1, s2, s3
        """).fetchone()

    con = _oracle(SKEW_DIR)
    try:
        t1, t2, t3 = chain(con, capped=True)
        u1, u2, u3 = chain(con, capped=False)
    finally:
        con.close()
    # engine == cap-mirroring oracle, step for step
    assert (
        got["max_step"],
        got["step_1_epoch_s"],
        got["step_2_epoch_s"],
        got["step_3_epoch_s"],
    ) == (2, t1, t2, None), (got, t1, t2, t3)
    assert t3 is None
    # ... and the cap CHANGED the answer (non-vacuity): uncapped, the
    # same user completes the funnel
    assert (u1, u2) == (t1, t2) and u3 is not None


@pytest.mark.skipif(
    not SKEW_DIR, reason="set SPARK_GRAFT_SKEW_DIR to a derived skew corpus"
)
def test_skew_docs_caps_bind(spark):
    """Round 11 (round-10 verdict #4): the hot near-dup document
    cluster must push MinHash band buckets PAST the 64-doc cap — the
    bucket caps observed actually binding under true hot buckets, not
    just present. (Value parity of the three dedup slots on this same
    corpus is the SKEW_HEAVY tier of test_skew_parity.)"""
    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.plans.documents import (
        _MINHASH_BUCKET_CAP,
        _minhash_band_relation,
        _neardup_docs,
    )

    docs = _neardup_docs(spark, SKEW_DIR)
    n = docs.count()
    # the plan's OWN banding construction (shared helper) — this guard
    # can never observe a stale signature width / band shape
    banded = _minhash_band_relation(docs)
    over = (
        banded.groupBy("band_key")
        .count()
        .filter(F.col("count") > _MINHASH_BUCKET_CAP)
        .agg(
            F.count(F.lit(1)).alias("n_over"),
            F.max("count").alias("biggest"),
        )
        .first()
    )
    assert over["n_over"] and over["n_over"] > 0, (
        "no band bucket exceeded the cap — the derived corpus lacks "
        "the hot near-dup cluster (re-derive with round-11 "
        "tools/derive_scale_corpus.py)"
    )
    # the hot cluster's shared-signature bucket holds a large share of
    # the corpus (≈40% of base docs land on identical band keys)
    assert over["biggest"] * 10 >= n * 2, (over, n)


@pytest.mark.skipif(
    not SKEW_DIR, reason="set SPARK_GRAFT_SKEW_DIR to a derived skew corpus"
)
def test_skew_corpus_actually_skewed(spark):
    """Guard the harness itself: the derived corpus must carry the hot
    keys, or the 'validations' above would be testing nothing."""
    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.sources.tables import load_table

    # the funnel-cap bot (round 11) rides outside the remap — exclude
    # it so the ratio guard holds at small factors too (15k bot events
    # vs 10k corpus events at sf0.01 x1 would swamp the denominator)
    ev = load_table(spark, SKEW_DIR, "events").filter(
        F.col("user_id") != 88_888_777
    )
    hot = ev.filter(F.col("user_id") == 7).count()
    assert hot * 100 >= ev.count() * 30  # ~40% remapped
    cust = load_table(spark, SKEW_DIR, "customer")
    hot_n = cust.filter(F.col("c_nationkey") == 7).count()
    assert hot_n * 100 >= cust.count() * 50  # ~60% remapped


@pytest.mark.skipif(
    not SCALE_DIR, reason="set SPARK_GRAFT_SCALE_DIR to a derived replica"
)
def test_stream_crash_mid_admission_converges(spark, tmp_path, monkeypatch):
    """Round-11 verdict #6, re-aimed at the round-13 append protocol:
    kill the streaming LSH admission at scale MID-APPEND of a later
    micro-batch (staging written, SOME of the batch's data files
    already moved into the live store — the worst crash point of the
    O(Δ) append path: the store is partially advanced and the
    checkpoint is not), then resume with the SAME checkpoint and
    verify the resumed store is value-identical to an uninterrupted
    run over the same batch split. Exercises at 30x what
    test_sink_recovery pins at unit scale, plus the append path's
    self-healing argument (dedup_lsh.admit comment): replay anti-joins
    away the already-moved docs and a partial batch suffix cannot flip
    any survivor's decision."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.streaming import dedup_lsh as DL

    docs = (
        spark.read.parquet(f"{SCALE_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 == 0)  # ~1/5 of the corpus: minutes,
        # not tens of minutes, while staying corpus-scale
    )
    landing = str(tmp_path / "landing")
    # mod-3 batch split (the driver's sneardup convention; modulus 2 is
    # degenerate — see streaming_neardup_admissions_table), one file
    # per batch written in order so the file source replays them in the
    # same sequence for every run against this landing dir
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    # ---- crashed run: die MID-APPEND of batch >= 1 (first store file
    # moved, the rest still in staging — partial visibility). A later
    # batch that admits nothing (the 30x replica: every batch carries a
    # clone of every text, so batches 1-2 admit zero docs) moves no
    # file, since an append adds only non-empty files; it dies instead
    # after its (empty) move loop, before its staging is dropped and
    # its checkpoint commits — the state the replay must heal either way.
    crash_store = str(tmp_path / "crash_store")
    staging = crash_store + ".staging"
    real_rename, real_rmtree = os.rename, shutil.rmtree
    moved = {"n": 0}
    crashed: list[str] = []

    def dying_rename(src, dst):
        if isinstance(dst, str) and dst.startswith(
            os.path.join(crash_store, "b")
        ):
            moved["n"] += 1
            if moved["n"] == 2 and not crashed:  # one file is in; die
                crashed.append("rename")
                raise RuntimeError("injected crash: killed mid-append")
        return real_rename(src, dst)

    def dying_rmtree(path, *args, **kwargs):
        if path == staging and not crashed:
            crashed.append("cleanup")
            raise RuntimeError("injected crash: killed mid-append")
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(os, "rename", dying_rename)
    monkeypatch.setattr(shutil, "rmtree", dying_rmtree)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        DL.run_streaming_neardup_dedup(spark, landing, crash_store)
    monkeypatch.setattr(os, "rename", real_rename)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert crashed, "append path never reached the move loop"
    assert os.path.exists(staging)  # the orphan is real

    # ---- resume: same store, same checkpoint — batch 1 replays, the
    # orphan staging is swept by recover_sink, batch 2 completes
    resumed = DL.run_streaming_neardup_dedup(spark, landing, crash_store)

    # ---- reference: uninterrupted run, fresh store + checkpoint
    ref_store = str(tmp_path / "ref_store")
    reference = DL.run_streaming_neardup_dedup(spark, landing, ref_store)

    got = sorted(r["doc_id"] for r in resumed.select("doc_id").collect())
    want = sorted(
        r["doc_id"] for r in reference.select("doc_id").collect()
    )
    assert got == want and len(got) > 0
    # cheap sanity that the run was corpus-scale, not a fixture
    assert docs.count() > 10_000
    shutil.rmtree(landing, ignore_errors=True)
