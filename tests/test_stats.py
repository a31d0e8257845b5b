"""Stats module invariants beyond the oracle compare: Summarizer parity,
selector determinism, threshold rule."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.stats import (
    column_variances,
    kth_largest_variance_threshold,
    summarizer_variances,
    variance_threshold_select,
)
from big_data_analysis_of_airline_data_set_spark.stats.chisquare import index_categoricals

NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def test_summarizer_matches_var_samp(spark, sf_dir):
    li = read_testdata_table(spark, sf_dir, "lineitem")
    a = column_variances(li, NUMERIC)
    b = summarizer_variances(li, NUMERIC)
    for c in NUMERIC:
        assert math.isclose(a[c], b[c], rel_tol=1e-9), c


def test_kth_largest_threshold_rule():
    variances = {"a": 10.0, "b": 5.0, "c": 1.0, "d": 0.1}
    assert kth_largest_variance_threshold(variances, 1) == 10.0
    assert kth_largest_variance_threshold(variances, 3) == 1.0


def test_variance_threshold_select_strictness(spark, sf_dir):
    li = read_testdata_table(spark, sf_dir, "lineitem")
    selected, threshold = variance_threshold_select(li, NUMERIC, k=3)
    variances = column_variances(li, NUMERIC)
    assert set(selected) == {c for c in NUMERIC if variances[c] > threshold}
    assert len(selected) == 2  # top-2 of 4 with k=3 (big variance gaps)


def test_multi_column_indexer_frequency_desc(spark, sf_dir):
    """StringIndexer orders labels by frequency desc (ties lexical):
    index 0 must be each column's modal value."""
    o = read_testdata_table(spark, sf_dir, "orders")
    indexed, out_cols = index_categoricals(o, ["o_orderstatus", "o_orderpriority"])
    for src, idx in zip(["o_orderstatus", "o_orderpriority"], out_cols):
        modal = (
            o.groupBy(src).count().orderBy(F.desc("count"), src).limit(1).collect()[0][0]
        )
        top_indexed = (
            indexed.filter(F.col(idx) == 0.0).select(src).distinct().collect()
        )
        assert len(top_indexed) == 1 and top_indexed[0][0] == modal


def test_categorical_selection_matches_stock_selector(spark, sf_dir):
    """The categorical top-N ranks ChiSquareTest p-values itself; the
    stock UnivariateFeatureSelector over the same indexed vectors is the
    reference for every N, ties included (a copied column has the same
    p-value, so feature order must break the tie)."""
    from pyspark.ml.feature import UnivariateFeatureSelector, VectorAssembler

    from big_data_analysis_of_airline_data_set_spark.stats.chisquare import (
        chi_square_results,
        top_by_p_value,
    )
    from big_data_analysis_of_airline_data_set_spark.stats.selectors import (
        select_univariate_categorical,
    )

    o = (
        read_testdata_table(spark, sf_dir, "orders")
        .withColumn("label", (F.col("o_orderkey") % 2).cast("double"))
        .withColumn("custkey_band", (F.col("o_custkey") % 5).cast("string"))
        .withColumn("priority_copy", F.col("o_orderpriority"))
    )
    cols = ["o_orderstatus", "priority_copy", "custkey_band", "o_orderpriority"]
    indexed, idx_cols = index_categoricals(o, cols)
    vec = VectorAssembler(inputCols=idx_cols, outputCol="v").transform(indexed)
    results = chi_square_results(o, cols, "label")
    for k in range(1, len(cols) + 1):
        selector = UnivariateFeatureSelector(
            featuresCol="v", outputCol="sel", labelCol="label",
            selectionMode="numTopFeatures",
        )
        selector.setFeatureType("categorical").setLabelType("categorical")
        model = selector.setSelectionThreshold(k).fit(vec)
        assert top_by_p_value(results, k) == [cols[i] for i in model.selectedFeatures], k
    assert select_univariate_categorical(o, cols, "label", num_top=2) == top_by_p_value(
        results, 2
    )


# ------------------------- Poisson bootstrap -------------------------


def test_bootstrap_weights_distribution_and_determinism(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.stats.bootstrap import (
        bootstrap_replica_means,
        poisson_weight_expr,
    )

    df = spark.createDataFrame([(i, 1.0) for i in range(4000)], "id long, v double")
    w = df.select(
        poisson_weight_expr(F.lit(0), F.col("id")).alias("w")
    ).groupBy("w").count().collect()
    dist = {r.w: r["count"] for r in w}
    # Poisson(1): P(0)=P(1)=e^-1≈0.368 — both bins near 1470/4000;
    # weights stay within the documented cap
    assert set(dist) <= {0, 1, 2, 3, 4}
    assert abs(dist[0] - dist[1]) < 250
    assert 0.30 < dist[0] / 4000 < 0.44
    a = sorted(
        (r.replica, r.n_eff, r.mean_value)
        for r in bootstrap_replica_means(
            df, id_col="id", value_col="v", n_replicas=8
        ).collect()
    )
    b = sorted(
        (r.replica, r.n_eff, r.mean_value)
        for r in bootstrap_replica_means(
            df, id_col="id", value_col="v", n_replicas=8
        ).collect()
    )
    assert a == b and len(a) == 8
    # constant value → every replica mean is exactly 1.0
    assert all(m == 1.0 for _, _, m in a)


def test_group_ols_hand_checked_exact_line(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import group_ols

    # y = 3 + 2x exactly → slope 2, intercept 3, r² 1
    rows = [("g", float(x), float(3 + 2 * x)) for x in range(1, 6)]
    # and a noisy group with a known hand-computed fit:
    # x=[1,2,3], y=[1,2,4]: b = (3*17-6*7)/(3*14-36) = 9/6 = 1.5,
    # a = (7-1.5*6)/3 = -2/3 ≈ -0.666667, r² = 81/(6*3*14-...)
    rows += [("h", 1.0, 1.0), ("h", 2.0, 2.0), ("h", 3.0, 4.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: (r.n, r.slope, r.intercept, r.r2)
           for r in group_ols(df, group_cols=["g"], x_col="x", y_col="y").collect()}
    assert out["g"] == (5, 2.0, 3.0, 1.0)
    n, b, a, r2 = out["h"]
    assert (n, b) == (3, 1.5)
    assert abs(a - (-0.666667)) < 1e-6
    # r² = cov²/(varx·vary) = 9²/(6·(3·21-49)) = 81/84
    assert abs(r2 - round(81 / 84, 6)) < 1e-9


def test_group_ols_constant_x_null_slope(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import group_ols

    df = spark.createDataFrame(
        [("g", 2.0, 1.0), ("g", 2.0, 5.0)], "g string, x double, y double"
    )
    r = group_ols(df, group_cols=["g"], x_col="x", y_col="y").collect()[0]
    assert r.slope is None and r.r2 is None


def test_target_encoding_loo_hand_checked(spark):
    from big_data_analysis_of_airline_data_set_spark.ml.encoding import (
        target_encode_loo,
    )

    rows = [(1, "a", 1), (2, "a", 0), (3, "a", 1), (4, "b", 1)]
    df = spark.createDataFrame(rows, "id long, cat string, y int")
    out = {r.id: r.target_enc
           for r in target_encode_loo(df, category_col="cat", label_col="y").collect()}
    # cat a: sum=2,n=3 → row1: (2-1)/2=0.5, row2: (2-0)/2=1.0, row3: 0.5
    assert out[1] == 0.5 and out[2] == 1.0 and out[3] == 0.5
    assert out[4] is None  # singleton → NULL, caller imputes prior


def test_ab_ztest_hand_checked(spark):
    import math

    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        ab_proportion_ztest,
    )

    # A: 4 units, 3 convert; B: 4 units, 1 converts (unit = user, any
    # converting row converts the unit)
    rows = [(u, "x", u % 2 == 0 and u < 7) for u in range(1, 9)]
    rows += [(1, "x", True), (3, "x", True), (5, "x", True), (2, "x", False)]
    df = spark.createDataFrame(rows, "user long, pad string, conv boolean")
    r = ab_proportion_ztest(
        df,
        unit_col="user",
        variant_col=F.when(F.col("user") % 2 == 0, "A").otherwise("B"),
        conversion_col=F.col("conv"),
    ).first()
    assert (r.n_a, r.n_b) == (4, 4)
    assert (r.conv_a, r.conv_b) == (3, 3)
    # equal rates → z exactly 0
    assert r.z_stat == 0.0

    # unequal, hand-computed: A 3/4 vs B 1/4; pool=0.5
    df2 = spark.createDataFrame(
        [(2, True), (4, True), (6, True), (8, False),
         (1, True), (3, False), (5, False), (7, False)],
        "user long, conv boolean",
    )
    r2 = ab_proportion_ztest(
        df2,
        unit_col="user",
        variant_col=F.when(F.col("user") % 2 == 0, "A").otherwise("B"),
        conversion_col=F.col("conv"),
    ).first()
    want = (0.75 - 0.25) / math.sqrt(0.5 * 0.5 * (0.25 + 0.25))
    assert abs(r2.z_stat - round(want, 6)) < 1e-9


def test_ab_ztest_degenerate_returns_null(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        ab_proportion_ztest,
    )

    df = spark.createDataFrame([(1, True), (2, True)], "user long, conv boolean")
    r = ab_proportion_ztest(
        df,
        unit_col="user",
        variant_col=F.when(F.col("user") % 2 == 0, "A").otherwise("B"),
        conversion_col=F.col("conv"),
    ).first()
    assert r.z_stat is None  # 100% pooled conversion → zero variance


def test_ab_ztest_three_variants_nulls_z_not_silent_reduce(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        ab_proportion_ztest,
    )

    # 3-arm input: a silent reduce to min/max arms would report a
    # plausible 2-arm z with arm 'B' dropped — must NULL instead
    df = spark.createDataFrame(
        [(1, "A", True), (2, "B", False), (3, "C", True), (4, "A", False)],
        "user long, variant string, conv boolean",
    )
    r = ab_proportion_ztest(
        df,
        unit_col="user",
        variant_col=F.col("variant"),
        conversion_col=F.col("conv"),
    ).first()
    assert r.n_variants == 3
    assert r.variant_b is None and r.n_b is None and r.z_stat is None


def test_ks_two_sample_degenerate_group_yields_null_not_crash(spark):
    """ANSI mode errors on divide-by-zero: a drift check where one
    group is entirely absent must return NULL ks_d (degenerate
    statistic), never crash the suite run."""
    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        ks_two_sample,
    )

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    row = ks_two_sample(
        df, group_col="g", value_col="v", group_a="a", group_b="b"
    ).collect()[0]
    assert row["n_a"] == 2 and row["n_b"] == 0
    assert row["ks_d"] is None
