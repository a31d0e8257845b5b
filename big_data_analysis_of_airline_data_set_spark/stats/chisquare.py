"""Chi-square independence test (reference A4/M7).

Reference: index each categorical column with a per-column
``StringIndexer.fit`` loop (Scripts/2_cs_777_statistical_analysis_
feature_selection.py:56-57) — N sequential distributed jobs — then
``ChiSquareTest.test`` on the assembled vector (:91-93).

Scale fix (SURVEY.md §7.4.5): ONE multi-column ``StringIndexer`` fit
(single pass computes all value dictionaries), then one ChiSquareTest
job. At 100 TB this is 2 jobs instead of N+1.
"""

from __future__ import annotations

from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.stat import ChiSquareTest
from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import local_frame


def index_categoricals(
    df: DataFrame, cols: list[str], *, suffix: str = "_string"
) -> tuple[DataFrame, list[str]]:
    """Frequency-desc string indexing of all ``cols`` in ONE fit
    (vs the reference's per-column loop). ``handleInvalid='skip'``
    preserved from Scripts/2_...py:57."""
    out_cols = [f"{c}{suffix}" for c in cols]
    indexer = StringIndexer(
        inputCols=cols, outputCols=out_cols, handleInvalid="skip"
    )
    return indexer.fit(df).transform(df), out_cols


def chi_square_results(
    df: DataFrame, categorical_cols: list[str], label_col: str
) -> list[tuple[str, float, int, float]]:
    """Unrounded (feature, statistic, dof, p_value) per column of
    ``categorical_cols`` vs ``label_col``: one indexer fit, one
    ChiSquareTest job. Both the chi-square report and the categorical
    top-N selection read these, so a job that needs both runs it once."""
    indexed, idx_cols = index_categoricals(df, categorical_cols)
    vec_col = "__chi_features"
    assembled = VectorAssembler(inputCols=idx_cols, outputCol=vec_col).transform(indexed)
    res = ChiSquareTest.test(assembled, vec_col, label_col).collect()[0]
    return [
        (
            col,
            float(res.statistics[i]),
            int(res.degreesOfFreedom[i]),
            float(res.pValues[i]),
        )
        for i, col in enumerate(categorical_cols)
    ]


def top_by_p_value(
    results: list[tuple[str, float, int, float]], num_top: int
) -> list[str]:
    """``UnivariateFeatureSelector``'s numTopFeatures rule over
    ``chi_square_results``: ascending unrounded p-value, ties broken by
    feature index; the chosen features come back in that rank order."""
    order = sorted(range(len(results)), key=lambda i: (results[i][3], i))
    return [results[i][0] for i in order[:num_top]]


def chi_square_frame(
    spark: SparkSession,
    results: list[tuple[str, float, int, float]],
    *,
    round_to: int = 6,
) -> DataFrame:
    """``chi_square_results`` as the long-form report table
    (feature, statistic, dof, p_value), rounded for cross-engine
    comparison."""
    rows = [
        (col, round(stat, round_to), dof, round(p, round_to))
        for col, stat, dof, p in results
    ]
    return local_frame(
        spark, rows, "feature string, statistic double, dof bigint, p_value double"
    )


def chi_square_test(
    spark: SparkSession,
    df: DataFrame,
    categorical_cols: list[str],
    label_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Per-feature chi-square statistic / dof / p-value vs ``label_col``,
    as a long-form DataFrame (feature, statistic, dof, p_value)."""
    return chi_square_frame(
        spark, chi_square_results(df, categorical_cols, label_col), round_to=round_to
    )
