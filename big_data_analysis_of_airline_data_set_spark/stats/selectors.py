"""Univariate feature selection (reference M8/M9).

Reference: ``UnivariateFeatureSelector`` with chi-square scoring for
categorical features (numTopFeatures=3) and ANOVA F for continuous
(numTopFeatures=7) — Scripts/2_cs_777_statistical_analysis_feature_
selection.py:103-114. Selected indices map back to column names which
are written out as the model-input feature lists.

The continuous path is stock MLlib (single treeAggregate pass). The
categorical path ranks ``chisquare.chi_square_results`` (one indexer
fit, one ChiSquareTest) by the selector's own rule, so a caller that
also reports the chi-square table runs the test once, not twice.
"""

from __future__ import annotations

from pyspark.ml.feature import UnivariateFeatureSelector, VectorAssembler
from pyspark.sql import DataFrame

from .chisquare import chi_square_results, top_by_p_value


def select_univariate_categorical(
    df: DataFrame, categorical_cols: list[str], label_col: str, *, num_top: int = 3
) -> list[str]:
    """Chi-square top-N categorical features (Scripts/2_...py:103-107)."""
    return top_by_p_value(chi_square_results(df, categorical_cols, label_col), num_top)


def select_univariate_continuous(
    df: DataFrame, numeric_cols: list[str], label_col: str, *, num_top: int = 7
) -> list[str]:
    """ANOVA-F top-N continuous features (Scripts/2_...py:110-114)."""
    vec_col = "__sel_features"
    assembled = VectorAssembler(inputCols=numeric_cols, outputCol=vec_col).transform(df)
    selector = UnivariateFeatureSelector(
        featuresCol=vec_col,
        outputCol="__selected",
        labelCol=label_col,
        selectionMode="numTopFeatures",
    )
    selector.setFeatureType("continuous").setLabelType("categorical")
    selector.setSelectionThreshold(num_top)
    model = selector.fit(assembled)
    return [numeric_cols[i] for i in model.selectedFeatures]
