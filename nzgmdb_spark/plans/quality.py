"""Quality filtering with skipped-reason ledgers (SURVEY.md §3.3; reference
quality_db.py:91-733).

Engine convention (SURVEY §7.2): every filter pass is a pure function
``DataFrame -> (kept, skipped)`` where ``skipped`` carries a ``reason``
column. Passes chain sequentially; the union of all skipped ledgers is the
quality DB's audit trail. All passes are plain Catalyst filters — one scan,
no UDFs; the ledger union is write-side only.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

FilterPass = Callable[[DataFrame], tuple[DataFrame, DataFrame]]


def predicate_pass(keep: Column, reason: str) -> FilterPass:
    """Build a (kept, skipped) pass from a boolean keep-predicate.
    Null predicate values are treated as skip (NaN-heavy reference data)."""

    def _run(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        keep_f = F.coalesce(keep, F.lit(False))
        kept = df.filter(keep_f)
        skipped = df.filter(~keep_f).select(
            "record_id", F.lit(reason).alias("reason")
        )
        return kept, skipped

    return _run


def score_min_pass(threshold: float = 0.5) -> FilterPass:
    """GMC score floor across components (reference quality_db.py:91-140)."""
    return predicate_pass(
        (F.col("score_mean_X") >= threshold)
        & (F.col("score_mean_Y") >= threshold)
        & (F.col("score_mean_Z") >= threshold),
        f"score_mean < {threshold}",
    )


def multi_max_pass(threshold: float = 0.2) -> FilterPass:
    """Multi-event probability ceiling (reference quality_db.py:186-245)."""
    return predicate_pass(
        (F.col("multi_mean_X") <= threshold)
        & (F.col("multi_mean_Y") <= threshold)
        & (F.col("multi_mean_Z") <= threshold),
        f"multi_mean > {threshold}",
    )


def fmax_min_pass(threshold: float = 4.0) -> FilterPass:
    """Usable-bandwidth floor: min component fmax (reference
    quality_db.py:245-295, A7 least)."""
    return predicate_pass(
        F.least("fmax_mean_X", "fmax_mean_Y", "fmax_mean_Z") >= threshold,
        f"fmax_min < {threshold}",
    )


def fmin_max_pass(threshold: float = 2.0) -> FilterPass:
    """High-pass corner ceiling: max component fmin (reference
    quality_db.py:295-343)."""
    return predicate_pass(
        F.greatest("fmin_mean_X", "fmin_mean_Y", "fmin_mean_Z") <= threshold,
        f"fmin_max > {threshold}",
    )


def vs30_present_pass() -> FilterPass:
    """Site must have Vs30 (reference quality_db.py:369, P3)."""
    return predicate_pass(F.col("site_Vs30").isNotNull(), "missing Vs30")


def ground_level_pass() -> FilterPass:
    """Only ground-level instrument locations (reference quality_db.py:430+)."""
    return predicate_pass(
        F.col("is_ground_level") == True,  # noqa: E712 — tri-state null→skip
        "not ground level",
    )


def prefer_hn_channel_pass() -> FilterPass:
    """Where an evid_sta pair is duplicated, keep the HN (strong-motion)
    channel over BN (reference quality_db.py:506-563, W4)."""

    def _run(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        w = Window.partitionBy("evid", "sta")
        dup = F.count(F.lit(1)).over(w) > 1
        is_bn = F.substring("chan", 1, 2) == "BN"
        marked = df.withColumn("__drop", dup & is_bn)
        kept = marked.filter(~F.col("__drop")).drop("__drop")
        skipped = marked.filter(F.col("__drop")).select(
            "record_id", F.lit("duplicate evid_sta: BN dropped for HN").alias("reason")
        )
        return kept, skipped

    return _run


def default_passes() -> list[FilterPass]:
    return [
        score_min_pass(),
        multi_max_pass(),
        fmax_min_pass(),
        fmin_max_pass(),
        vs30_present_pass(),
        ground_level_pass(),
        prefer_hn_channel_pass(),
    ]


def run_quality_chain(
    df: DataFrame, passes: Sequence[FilterPass] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Apply passes sequentially; return (kept, union-of-skipped ledgers)
    (reference quality_db.py:675-733 runs 9 such passes)."""
    passes = list(passes) if passes is not None else default_passes()
    skipped_all: DataFrame | None = None
    for p in passes:
        df, skipped = p(df)
        skipped_all = skipped if skipped_all is None else skipped_all.unionByName(skipped)
    assert skipped_all is not None
    return df, skipped_all
