"""Driver-gated data-quality governance: the checks a production
pipeline runs EVERY batch, value-verified against a DuckDB oracle.

One composite slot (`data_quality_report`) gates four pytest-only
operator modules end-to-end:

1. ``operators.expectations`` — all six constraint kinds (not_null,
   unique, accepted_values, in_range, expression, foreign_key) over the
   orders table, including a deliberately-failing in_range bound so the
   failure-reporting path (violations > 0, passed = 0) is value-checked,
   not just the all-green path.
2. ``operators.drift`` — PSI input drift of o_totalprice between the
   pre-/post-1997 halves of orders: the per-bin contingency counts are
   hash-matched EXACTLY (integers), the scalar PSI at milli precision
   (the ln() last-ulp rounding convention of corpus_quality_filter).
3. ``operators.diff`` — snapshot reconciliation: orders diffed against
   a deterministically mutated copy (price bump on custkey%97, status
   flip on orderkey%101, deletes on orderkey%89, two inserted keys);
   the report carries rows-per-status (added/removed/changed/
   unchanged) and per-column changed-row counts — the
   migration-validation numbers. One full-outer join + null-safe
   codegen comparisons; the oracle mirrors with IS DISTINCT FROM.
4. ``operators.heavyhitters`` — value-dominance detection (the hot-key
   / skewed-source check): every value above 1% of a skew-synthesized
   events column, found via per-partition Misra-Gries summaries +
   exact recount. The two-pass design's output is EXACT (the sketch
   only proposes candidates; exact counts decide), so the oracle is a
   plain ``HAVING n * 100 > total``; ``passed`` applies a 20% (2000
   basis-point) dominance cap, exercised both ways by the two
   synthesized hot values (~50% fails, ~17% passes).

Cross-engine conventions (plans/__init__.py): every float that touches
the hash is rounded to an integer on both sides; the PSI epsilon floor
is written CAST(0.0001 AS DOUBLE) in SQL because a bare DuckDB decimal
literal is DECIMAL, not DOUBLE; bin ids come from the same
floor((v−lo)/w) double arithmetic in both engines (IEEE-identical).

Scale shape: the row-level expectations share ONE aggregate over ONE
scan; unique adds one keyed groupBy, the FK one broadcast anti join;
the PSI sides are each one map-side-combinable groupBy whose shuffle is
bounded by the bin count, never the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, local_relation
from . import QueryRegistry

REGISTRY = QueryRegistry()

_CUT = "1997-01-01"

#: shared bin-id CASE over the reference bounds (DuckDB side). Spark's
#: operators.drift.bin_counts computes the identical floor arithmetic.
_BIN_CASE = """CASE
             WHEN v < lo THEN -1
             WHEN v > hi THEN -2
             WHEN CAST(FLOOR((v - lo) / ((hi - lo) / 10)) AS INTEGER) >= 10
               THEN 9
             ELSE CAST(FLOOR((v - lo) / ((hi - lo) / 10)) AS INTEGER)
           END"""

_ORACLE = f"""
    WITH row_checks AS (
      SELECT COUNT(*) AS total,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_notnull,
             SUM(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS v_accepted,
             SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND NOT (o_totalprice BETWEEN 0 AND 200000)
                      THEN 1 ELSE 0 END) AS v_range,
             SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                      THEN 1 ELSE 0 END) AS v_expr
      FROM orders
    ),
    uq AS (
      SELECT COALESCE(SUM(n), 0) AS v FROM (
        SELECT COUNT(*) AS n FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1
      )
    ),
    fk AS (
      SELECT COUNT(*) AS v FROM orders o
      WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
      )
    ),
    expectation_rows AS (
      SELECT 'not_null_o_custkey' AS name, 'not_null' AS kind,
             CAST(v_notnull AS BIGINT) AS violations, total FROM row_checks
      UNION ALL
      SELECT 'accepted_values_o_orderstatus', 'accepted_values',
             CAST(v_accepted AS BIGINT), total FROM row_checks
      UNION ALL
      SELECT 'in_range_o_totalprice', 'in_range',
             CAST(v_range AS BIGINT), total FROM row_checks
      UNION ALL
      SELECT 'positive_total', 'expression',
             CAST(v_expr AS BIGINT), total FROM row_checks
      UNION ALL
      SELECT 'unique_o_orderkey', 'unique', CAST(uq.v AS BIGINT),
             row_checks.total FROM uq, row_checks
      UNION ALL
      SELECT 'fk_o_custkey', 'foreign_key', CAST(fk.v AS BIGINT),
             row_checks.total FROM fk, row_checks
    ),
    bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CUT}'
    ),
    ref_bins AS (
      SELECT bin, COUNT(*) AS ref_n FROM (
        SELECT {_BIN_CASE} AS bin
        FROM (SELECT o_totalprice AS v FROM orders
              WHERE o_orderdate < TIMESTAMP '{_CUT}'
                AND o_totalprice IS NOT NULL), bounds
      ) GROUP BY bin
    ),
    cur_bins AS (
      SELECT bin, COUNT(*) AS cur_n FROM (
        SELECT {_BIN_CASE} AS bin
        FROM (SELECT o_totalprice AS v FROM orders
              WHERE o_orderdate >= TIMESTAMP '{_CUT}'
                AND o_totalprice IS NOT NULL), bounds
      ) GROUP BY bin
    ),
    joined AS (
      SELECT COALESCE(r.bin, c.bin) AS bin,
             COALESCE(ref_n, 0) AS ref_n,
             COALESCE(cur_n, 0) AS cur_n
      FROM ref_bins r FULL OUTER JOIN cur_bins c ON r.bin = c.bin
    ),
    tot AS (SELECT SUM(ref_n) AS rt, SUM(cur_n) AS ct FROM joined),
    terms AS (
      SELECT bin, ref_n, cur_n,
             (GREATEST(CAST(cur_n AS DOUBLE) / ct, CAST(0.0001 AS DOUBLE))
              - GREATEST(CAST(ref_n AS DOUBLE) / rt, CAST(0.0001 AS DOUBLE)))
             * LN(GREATEST(CAST(cur_n AS DOUBLE) / ct, CAST(0.0001 AS DOUBLE))
                  / GREATEST(CAST(ref_n AS DOUBLE) / rt,
                             CAST(0.0001 AS DOUBLE))) AS term
      FROM joined, tot
    )
    SELECT 'expectations' AS family, name, kind,
           CAST(NULL AS INTEGER) AS bin,
           CAST(NULL AS BIGINT) AS ref_n,
           CAST(NULL AS BIGINT) AS cur_n,
           violations,
           CAST(total AS BIGINT) AS total,
           CAST(violations = 0 AS INTEGER) AS passed,
           CAST(NULL AS BIGINT) AS psi_milli
    FROM expectation_rows
    UNION ALL
    SELECT 'drift', 'o_totalprice', 'psi_bin',
           CAST(bin AS INTEGER), CAST(ref_n AS BIGINT),
           CAST(cur_n AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
    FROM terms
    UNION ALL
    SELECT 'drift', 'o_totalprice', 'psi_total',
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(CAST(ROUND(SUM(term) * 1000) AS BIGINT) < 250 AS INTEGER),
           CAST(ROUND(SUM(term) * 1000) AS BIGINT)
    FROM terms
    UNION ALL
    SELECT 'heavy_hitters', hh.value, 'frequent_value',
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(hh.n AS BIGINT), CAST(NULL AS BIGINT),
           CAST(ht.total AS BIGINT),
           CAST(10000 * hh.n // ht.total < 2000 AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM (
      -- mirror the operator contract exactly: heavy_hitters counts and
      -- totals NON-NULL values only (NULL markers are dropped before
      -- the partition summaries), so both sides filter user_id IS NOT
      -- NULL — equal by construction even if a regenerated corpus
      -- introduces NULL user_ids.
      SELECT value, COUNT(*) AS n FROM (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'hot_even'
                    WHEN user_id % 3 = 0 THEN 'hot_three'
                    ELSE 'u' || CAST(user_id AS VARCHAR) END AS value
        FROM events WHERE user_id IS NOT NULL
      ) GROUP BY value
    ) hh, (SELECT COUNT(*) AS total FROM events
           WHERE user_id IS NOT NULL) ht
    WHERE hh.n * 100 > ht.total
    UNION ALL
    SELECT 'reconcile', d.name, d.kind,
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(d.n AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM (
      WITH old_snap AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
      ), new_snap AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 101 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_custkey % 97 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 89 <> 0
        UNION ALL
        SELECT * FROM (VALUES (10000001, 1, 'O', 1.0),
                              (10000002, 2, 'F', 2.0))
      ), j AS (
        SELECT o.o_orderkey IS NOT NULL AS in_l,
               n.o_orderkey IS NOT NULL AS in_r,
               o.o_custkey IS DISTINCT FROM n.o_custkey AS c_cust,
               o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS c_st,
               o.o_totalprice IS DISTINCT FROM n.o_totalprice AS c_tp
        FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
      ), status_counts AS (
        SELECT CASE WHEN NOT in_l THEN 'added'
                    WHEN NOT in_r THEN 'removed'
                    WHEN c_cust OR c_st OR c_tp THEN 'changed'
                    ELSE 'unchanged' END AS name,
               COUNT(*) AS n
        FROM j GROUP BY 1
      )
      SELECT 'diff_status' AS kind, s.name,
             COALESCE(sc.n, 0) AS n
      FROM (VALUES ('added'), ('removed'), ('changed'),
                   ('unchanged')) s(name)
      LEFT JOIN status_counts sc ON sc.name = s.name
      UNION ALL
      SELECT 'diff_column', col, COUNT(*) FROM (
        SELECT 'o_custkey' AS col FROM j WHERE in_l AND in_r AND c_cust
        UNION ALL
        SELECT 'o_orderstatus' FROM j WHERE in_l AND in_r AND c_st
        UNION ALL
        SELECT 'o_totalprice' FROM j WHERE in_l AND in_r AND c_tp
      ) GROUP BY 2
    ) d
    UNION ALL
    SELECT 'outliers', z.o_orderpriority, 'mad_robust_z',
           CAST(NULL AS INTEGER), CAST(z.med AS BIGINT),
           CAST(z.mad AS BIGINT), CAST(z.v AS BIGINT),
           CAST(z.n AS BIGINT), CAST(z.v * 100 < z.n AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM (
      WITH ov AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders WHERE o_totalprice IS NOT NULL
      ), omed AS (
        SELECT o_orderpriority, MIN(price_c) AS med FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY price_c) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM ov
        ) WHERE rn = (n + 1) // 2 GROUP BY o_orderpriority
      ), odev AS (
        SELECT ov.o_orderpriority, omed.med,
               ABS(ov.price_c - omed.med) AS dev
        FROM ov JOIN omed USING (o_orderpriority)
      ), omad AS (
        SELECT o_orderpriority, MIN(dev) AS mad FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY dev) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM odev
        ) WHERE rn = (n + 1) // 2 GROUP BY o_orderpriority
      )
      SELECT d.o_orderpriority, MIN(d.med) AS med, MIN(m.mad) AS mad,
             SUM(CASE WHEN 6745 * d.dev > 35000 * m.mad
                      THEN 1 ELSE 0 END) AS v,
             COUNT(*) AS n
      FROM odev d JOIN omad m USING (o_orderpriority)
      GROUP BY d.o_orderpriority
    ) z
    UNION ALL
    SELECT 'small_files', m2.name, 'compaction_advisor',
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(m2.v AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CASE WHEN m2.name = 'recommend_compaction'
                THEN CAST(m2.v = 0 AS INTEGER)
                ELSE CAST(NULL AS INTEGER) END,
           CAST(NULL AS BIGINT)
    FROM (
      WITH inv AS (
        SELECT CASE WHEN doc_id % 3 = 0
                    THEN 'solo_' || CAST(doc_id AS VARCHAR)
                    ELSE 'pack_' || CAST(doc_id % 16 AS VARCHAR) END
                 AS file,
               SUM(length(text)) AS bytes
        FROM documents WHERE doc_id IS NOT NULL
        GROUP BY 1
      ), ranked AS (
        SELECT bytes, ROW_NUMBER() OVER (ORDER BY bytes) AS rn,
               COUNT(*) OVER () AS n
        FROM inv
      ), s AS (
        SELECT COUNT(*) AS n_files, SUM(bytes) AS total_bytes,
               MAX(bytes) AS max_bytes,
               SUM(CASE WHEN bytes < 2048 THEN 1 ELSE 0 END) AS n_small
        FROM inv
      ), med AS (
        SELECT MIN(bytes) AS p50_bytes FROM ranked
        WHERE rn = (n + 1) // 2
      ), rep2 AS (
        SELECT s.n_files, s.total_bytes, med.p50_bytes, s.max_bytes,
               s.n_small,
               (10000 * s.n_small) // s.n_files AS small_fraction_bp,
               CASE WHEN (10000 * s.n_small) // s.n_files > 2500
                         AND s.n_files > 1
                    THEN 1 ELSE 0 END AS recommend_compaction
        FROM s, med
      )
      SELECT 'n_files' AS name, n_files AS v FROM rep2
      UNION ALL SELECT 'total_bytes', total_bytes FROM rep2
      UNION ALL SELECT 'p50_bytes', p50_bytes FROM rep2
      UNION ALL SELECT 'max_bytes', max_bytes FROM rep2
      UNION ALL SELECT 'n_small', n_small FROM rep2
      UNION ALL SELECT 'small_fraction_bp', small_fraction_bp FROM rep2
      UNION ALL SELECT 'recommend_compaction', recommend_compaction
      FROM rep2
    ) m2
"""


#: union order of the report families — shared by the slot (which must
#: keep a stable row set for the oracle hash) and the per-family wall
#: probe below.
_QUALITY_FAMILIES = (
    "expectations",
    "drift_bins",
    "drift_total",
    "heavy_hitters",
    "reconcile",
    "outliers",
    "small_files",
)


def _quality_family_relations(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """The report's seven family relations, keyed by _QUALITY_FAMILIES.
    Factored out of the slot so bench.py can time each family's own
    noop action (quality_family_walls) — the slot itself is one lazy
    union and cannot attribute its wall to families from inside."""
    from ..operators import expectations as X
    from ..operators.drift import psi_report

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    exps = [
        X.not_null("o_custkey"),
        X.unique(["o_orderkey"]),
        X.accepted_values("o_orderstatus", ["O", "F", "P"]),
        # 200k deliberately clips the right tail: the failing-expectation
        # path (violations > 0, passed = 0) must be value-verified too
        X.in_range("o_totalprice", 0, 200000),
        X.expression("o_totalprice > 0", "positive_total"),
        X.foreign_key(["o_custkey"], cust, ["c_custkey"]),
    ]
    null_i = F.lit(None).cast("int")
    null_l = F.lit(None).cast("long")
    rep = X.validate(orders, exps).select(
        F.lit("expectations").alias("family"),
        "name",
        "kind",
        null_i.alias("bin"),
        null_l.alias("ref_n"),
        null_l.alias("cur_n"),
        "violations",
        "total",
        "passed",
        null_l.alias("psi_milli"),
    )

    cut = F.lit(_CUT).cast("timestamp")
    detail = psi_report(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
        n_bins=10,
    )
    bins = detail.select(
        F.lit("drift").alias("family"),
        F.lit("o_totalprice").alias("name"),
        F.lit("psi_bin").alias("kind"),
        F.col("bin").cast("int").alias("bin"),
        F.col("ref_n").cast("long").alias("ref_n"),
        F.col("cur_n").cast("long").alias("cur_n"),
        null_l.alias("violations"),
        null_l.alias("total"),
        null_i.alias("passed"),
        null_l.alias("psi_milli"),
    )
    total = (
        detail.agg(
            F.round(F.sum("psi_term") * 1000).cast("long").alias("pm")
        )
        .select(
            F.lit("drift").alias("family"),
            F.lit("o_totalprice").alias("name"),
            F.lit("psi_total").alias("kind"),
            null_i.alias("bin"),
            null_l.alias("ref_n"),
            null_l.alias("cur_n"),
            null_l.alias("violations"),
            null_l.alias("total"),
            (F.col("pm") < 250).cast("int").alias("passed"),
            F.col("pm").alias("psi_milli"),
        )
    )
    from ..operators.heavyhitters import heavy_hitters

    events = load_table(spark, sf_dir, "events")
    skewed = events.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("hot_even"))
        .when(F.col("user_id") % 3 == 0, F.lit("hot_three"))
        .otherwise(
            F.concat(F.lit("u"), F.col("user_id").cast("string"))
        )
        .alias("value")
    )
    hh = heavy_hitters(skewed, "value", 100).select(
        F.lit("heavy_hitters").alias("family"),
        F.col("value").alias("name"),
        F.lit("frequent_value").alias("kind"),
        null_i.alias("bin"),
        null_l.alias("ref_n"),
        F.col("n").alias("cur_n"),
        null_l.alias("violations"),
        F.col("total"),
        (F.col("freq_bp") < 2000).cast("int").alias("passed"),
        null_l.alias("psi_milli"),
    )
    from ..operators.diff import diff_summary, table_diff

    old_snap = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new_snap = (
        old_snap.filter(F.col("o_orderkey") % 89 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("o_orderkey") % 101 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_custkey") % 97 == 0,
                F.col("o_totalprice") + 1.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            local_relation(
                spark,
                [(10_000_001, 1, "O", 1.0), (10_000_002, 2, "F", 2.0)],
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double",
            )
        )
    )
    rec = diff_summary(
        table_diff(old_snap, new_snap, ["o_orderkey"])
    ).select(
        F.lit("reconcile").alias("family"),
        "name",
        F.concat(F.lit("diff_"), F.col("kind")).alias("kind"),
        null_i.alias("bin"),
        null_l.alias("ref_n"),
        F.col("n").alias("cur_n"),
        null_l.alias("violations"),
        null_l.alias("total"),
        null_i.alias("passed"),
        null_l.alias("psi_milli"),
    )
    # 'outliers' family (round 5): operators.outliers robust MAD gate —
    # per-priority med/mad over price cents, passed = outlier share
    # under 1%. ref_n carries the median, cur_n the MAD (column reuse
    # per the composite convention).
    from ..operators.outliers import mad_outliers
    from .relational import cents

    oz = mad_outliers(
        orders.filter(F.col("o_totalprice").isNotNull()).select(
            "o_orderpriority",
            cents("o_totalprice").alias("price_c"),
        ),
        "price_c",
        group_by=["o_orderpriority"],
    )
    out_rows = (
        oz.groupBy("o_orderpriority")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum("is_outlier").alias("v"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("outliers").alias("family"),
            F.col("o_orderpriority").alias("name"),
            F.lit("mad_robust_z").alias("kind"),
            null_i.alias("bin"),
            F.col("med").alias("ref_n"),
            F.col("mad").alias("cur_n"),
            F.col("v").cast("long").alias("violations"),
            F.col("n").alias("total"),
            (F.col("v") * 100 < F.col("n")).cast("int").alias("passed"),
            null_l.alias("psi_milli"),
        )
    )
    # 'small_files' family (round 6): operators.maintenance
    # small_file_report_df — the compaction advisor's decision logic
    # over a synthesized file inventory derived from documents (every
    # 3rd doc is its own "solo" file, the rest pool into 16 "pack"
    # files), so small AND large files exist at every SF and both
    # advisor branches execute. target_bytes=4096: solos (~300 B) fall
    # under the 2 KiB small line, packs (~6 KiB) don't.
    from ..operators.maintenance import small_file_report_df

    docs = load_table(spark, sf_dir, "documents")
    inv = (
        docs.filter(F.col("doc_id").isNotNull())
        .select(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("solo_"), F.col("doc_id").cast("string")),
            )
            .otherwise(
                F.concat(
                    F.lit("pack_"), (F.col("doc_id") % 16).cast("string")
                )
            )
            .alias("file"),
            F.length("text").alias("len"),
        )
        .groupBy("file")
        .agg(F.sum("len").alias("bytes"))
    )
    adv = small_file_report_df(inv, target_bytes=4096)
    metric_cols = [
        "n_files",
        "total_bytes",
        "p50_bytes",
        "max_bytes",
        "n_small",
        "small_fraction_bp",
        "recommend_compaction",
    ]
    sf_rows = adv.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in metric_cols]),
                F.array(*[F.col(c).cast("long") for c in metric_cols]),
            )
        ).alias("name", "v")
    ).select(
        F.lit("small_files").alias("family"),
        "name",
        F.lit("compaction_advisor").alias("kind"),
        null_i.alias("bin"),
        null_l.alias("ref_n"),
        F.col("v").alias("cur_n"),
        null_l.alias("violations"),
        null_l.alias("total"),
        F.when(
            F.col("name") == "recommend_compaction",
            (F.col("v") == 0).cast("int"),
        )
        .otherwise(null_i)
        .alias("passed"),
        null_l.alias("psi_milli"),
    )
    return {
        "expectations": rep,
        "drift_bins": bins,
        "drift_total": total,
        "heavy_hitters": hh,
        "reconcile": rec,
        "outliers": out_rows,
        "small_files": sf_rows,
    }


@REGISTRY.register("data_quality_report", oracle=_ORACLE)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations report + PSI drift report over orders, family-tagged
    into one relation (see module docstring)."""
    fams = _quality_family_relations(spark, sf_dir)
    out = fams[_QUALITY_FAMILIES[0]]
    for name in _QUALITY_FAMILIES[1:]:
        out = out.unionByName(fams[name])
    return out


def quality_family_walls(spark: SparkSession, sf_dir: str) -> "dict[str, float]":
    """Wall seconds per report family, each measured as its OWN noop
    action — the exoneration evidence the round-11 verdict asked for:
    the slot's wall is the sum of seven independent validation families
    (the oracle computes final values only), and this breakdown makes
    family scope growth separable from regression. Called by bench.py
    OUTSIDE the timed passes; one extra evaluation of each family."""
    import time as _time

    walls: dict[str, float] = {}
    t0 = _time.perf_counter()
    fams = _quality_family_relations(spark, sf_dir)
    # plan build is NOT free here: heavy_hitters runs its bounded
    # candidate collect (the deliberate first pass of the two-pass
    # exact recount) eagerly at build time — attribute it its own line
    # so the breakdown sums to the slot wall instead of hiding it.
    walls["plan_build_incl_hh_candidate_pass"] = round(
        _time.perf_counter() - t0, 3
    )
    for name in _QUALITY_FAMILIES:
        t0 = _time.perf_counter()
        fams[name].write.format("noop").mode("overwrite").save()
        walls[name] = round(_time.perf_counter() - t0, 3)
    return walls
