"""Algorithmic property tests on synthetic separable data (SURVEY.md §5.3)."""

from __future__ import annotations

import random

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from pu4spark_spark.config import (
    GradualReductionPULearnerConfig,
    LogisticRegressionConfig,
    RandomForestConfig,
    TraditionalPULearnerConfig,
    from_json,
    to_json,
)


def separable_cloud(spark, n=400, labeled_frac=0.2, seed=7):
    """Two 2-D Gaussian blobs; ~labeled_frac of the positive blob labeled 1,
    everything else 0 (the PU setting)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        positive = i % 2 == 0
        cx = 3.0 if positive else -3.0
        x = rng.gauss(cx, 1.0)
        y = rng.gauss(cx, 1.0)
        lab = 1 if positive and rng.random() < labeled_frac else 0
        rows.append((i, positive, [float(x), float(y)], lab))
    return spark.createDataFrame(rows, ["id", "truly_pos", "features", "label"])


@pytest.fixture(scope="module")
def cloud(spark):
    return separable_cloud(spark).cache()


def _mean_by_truth(result):
    rows = (
        result.groupBy("truly_pos")
        .agg(F.avg("finalLabel").alias("m"))
        .collect()
    )
    return {r["truly_pos"]: r["m"] for r in rows}


def test_traditional_separates_and_terminates(cloud):
    learner = TraditionalPULearnerConfig(
        relNegThreshold=0.5, maxIters=3, classifierConfig=LogisticRegressionConfig()
    ).build()
    out = learner.weight(cloud, "label", "features", "finalLabel")
    assert out.count() == cloud.count()
    means = _mean_by_truth(out)
    assert means[True] > means[False]
    # clean output schema: input columns + finalLabel
    assert set(out.columns) == {"id", "truly_pos", "features", "finalLabel"}


def test_traditional_positive_passthrough(cloud):
    learner = TraditionalPULearnerConfig(maxIters=2).build()
    out = learner.weight(cloud, "label", "features", keep_internal=True)
    # labeled positives keep sentinel 1 in every iteration
    n_pos = cloud.filter(F.col("label") == 1).count()
    kept = out.filter(F.col("prevLabel") == 1).count()
    assert kept == n_pos


def test_gradual_separates(cloud):
    learner = GradualReductionPULearnerConfig(
        relNegThreshold=0.5, classifierConfig=LogisticRegressionConfig()
    ).build()
    out = learner.weight(cloud, "label", "features", "finalLabel")
    assert out.count() == cloud.count()
    means = _mean_by_truth(out)
    assert means[True] > means[False]


def test_gradual_logs_when_the_iteration_cap_stops_it(
    spark, monkeypatch, caplog
):
    """Overlapping blobs keep demoting reliable negatives, so a cap of two
    iterations stops the loop before it converges, and says so."""
    from pu4spark_spark import gradual

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(c, 1.0), rng.gauss(c, 1.0)],
         int(c > 0 and rng.random() < 0.3))
        for i, c in enumerate([1.0, -1.0] * 100)
    ]
    df = spark.createDataFrame(rows, ["id", "features", "label"])
    monkeypatch.setattr(gradual, "MAX_SAFE_ITERS", 2)
    learner = GradualReductionPULearnerConfig(
        relNegThreshold=0.5, classifierConfig=LogisticRegressionConfig()
    ).build()
    with caplog.at_level("WARNING", logger=gradual.__name__):
        out = learner.weight(df, "label", "features", "finalLabel")
    assert out.count() == 200
    (record,) = caplog.records
    assert "MAX_SAFE_ITERS=2" in record.getMessage()


def test_deterministic_lr(cloud):
    cfg = TraditionalPULearnerConfig(maxIters=1)
    a = cfg.build().weight(cloud, "label", "features").orderBy("id").collect()
    b = cfg.build().weight(cloud, "label", "features").orderBy("id").collect()
    assert [r["finalLabel"] for r in a] == [r["finalLabel"] for r in b]


def test_traditional_rf_separates_and_deterministic(cloud):
    """The reference's second classifier (RandomForest,
    ProbabilisticClassifierConfig.scala:22-29) through the full
    weight() path — separation on the synthetic cloud, and pinned-seed
    determinism across two fresh builds."""
    cfg = TraditionalPULearnerConfig(
        relNegThreshold=0.5,
        maxIters=1,
        classifierConfig=RandomForestConfig(numTrees=16, seed=42),
    )
    out = cfg.build().weight(cloud, "label", "features", "finalLabel")
    assert out.count() == cloud.count()
    means = _mean_by_truth(out)
    assert means[True] > means[False]
    a = cfg.build().weight(cloud, "label", "features").orderBy("id").collect()
    b = cfg.build().weight(cloud, "label", "features").orderBy("id").collect()
    assert [r["finalLabel"] for r in a] == [r["finalLabel"] for r in b]


def test_feature_assembly_into_weight(spark):
    """Reference onboarding flow (README.md:82-89): N scalar columns →
    VectorAssembler → weight()."""
    from pu4spark_spark.features import assemble_features

    base = separable_cloud(spark, n=200)
    scalar = base.select(
        "id",
        "truly_pos",
        "label",
        F.col("features")[0].alias("x"),
        F.col("features")[1].alias("y"),
    )
    assembled = assemble_features(scalar, ["x", "y"], "features")
    assert assembled.schema["features"].dataType.simpleString() == "vector"
    learner = TraditionalPULearnerConfig(maxIters=1).build()
    out = learner.weight(assembled, "label", "features", "finalLabel")
    assert out.count() == 200
    means = _mean_by_truth(out)
    assert means[True] > means[False]


def test_early_exit_keeps_reference_columns(cloud):
    """Schema parity with the reference's early-exit path
    (TraditionalPULearner.scala:53-55, which returns prev+cur label
    columns): relNegThreshold=0 mines zero reliable negatives, so the
    loop exits on iteration 1; keep_internal=True must expose both
    sentinel columns, the normalized exit only input+finalLabel."""
    cfg = TraditionalPULearnerConfig(relNegThreshold=0.0, maxIters=3)
    internal = cfg.build().weight(
        cloud, "label", "features", keep_internal=True
    )
    assert {"prevLabel", "curLabel", "finalLabel"} <= set(internal.columns)
    clean = cfg.build().weight(cloud, "label", "features")
    assert set(clean.columns) == {"id", "truly_pos", "features", "finalLabel"}


def test_learner_api_contract():
    """Both algorithms implement the one-method trait
    (≡ PositiveUnlabeledLearner.scala:22-25)."""
    from pu4spark_spark.api import PositiveUnlabeledLearner

    t = TraditionalPULearnerConfig().build()
    g = GradualReductionPULearnerConfig().build()
    assert isinstance(t, PositiveUnlabeledLearner)
    assert isinstance(g, PositiveUnlabeledLearner)
    with pytest.raises(TypeError):
        PositiveUnlabeledLearner()  # abstract — not instantiable


def test_config_json_roundtrip():
    cfg = TraditionalPULearnerConfig(
        relNegThreshold=0.4, maxIters=5, classifierConfig=RandomForestConfig(numTrees=8)
    )
    s = to_json(cfg)
    back = from_json(s)
    assert back == cfg
    cfg2 = GradualReductionPULearnerConfig(classifierConfig=LogisticRegressionConfig())
    assert from_json(to_json(cfg2)) == cfg2


def test_zero_step_on_real_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pu_input = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )
    learner = TraditionalPULearnerConfig(maxIters=1).build()
    out = learner.weight(pu_input, "pu_label", "embedding", "finalLabel")
    assert out.count() == emb.count()
    assert "finalLabel" in out.columns
    # embedding column preserved as the original array type
    assert out.schema["embedding"].dataType.simpleString() == "array<float>"


def test_golden_output_hashes(spark):
    """Golden-output regression (SURVEY.md §5.4): pinned hashes of the
    per-row P(positive) (rounded to 6 decimals to absorb partition-level
    ULP noise) on a tiny fixed cloud, per algorithm/classifier combo.
    A hash change means the numeric behavior of the learners changed."""
    import hashlib

    cloud = separable_cloud(spark, n=60, seed=11).cache()

    def h(learner):
        out = learner.weight(cloud, "label", "features", "finalLabel")
        rows = out.orderBy("id").collect()
        s = ";".join(f"{r['id']}:{round(r['finalLabel'], 6):.6f}" for r in rows)
        return hashlib.md5(s.encode()).hexdigest()

    assert h(TraditionalPULearnerConfig(maxIters=1).build()) == (
        "096e4c3e1a2fdf3f85589f553ffe7746"
    )
    # gradual converges to the same scoring on this separable cloud —
    # the shared hash is itself part of the pinned behavior
    assert h(GradualReductionPULearnerConfig().build()) == (
        "096e4c3e1a2fdf3f85589f553ffe7746"
    )
    assert h(
        TraditionalPULearnerConfig(
            maxIters=1,
            classifierConfig=RandomForestConfig(numTrees=16, seed=42),
        ).build()
    ) == "d01e7d3d351b527990d36f5552ee4912"


# -- S-EM spy technique (extension) --------------------------------------


def test_spy_em_protocol_properties(spark):
    """Spy PU: output contract + protocol invariants on the fixture."""
    from pyspark.sql import functions as F

    from pu4spark_spark.config import LogisticRegressionConfig
    from pu4spark_spark.spy import SpyEMPULearner

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pu = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )
    learner = SpyEMPULearner(
        classifier=LogisticRegressionConfig(maxIter=10).build(),
        spy_frac=0.15,
        spy_quantile=0.05,
    )
    out = learner.weight(pu, "pu_label", "embedding")
    rows = out.collect()
    # row count preserved; user schema + finalLabel, internals dropped
    assert len(rows) == pu.count()
    assert set(out.columns) == set(pu.columns) | {"finalLabel"}
    assert all(0.0 <= r["finalLabel"] <= 1.0 for r in rows)
    # deterministic: a second run returns identical scores
    out2 = learner.weight(pu, "pu_label", "embedding")
    a = sorted((r["vec_id"], r["finalLabel"]) for r in rows)
    b = sorted(
        (r["vec_id"], r["finalLabel"]) for r in out2.collect()
    )
    assert a == b


def test_spy_em_spies_only_from_positives(spark):
    from pyspark.sql import functions as F

    from pu4spark_spark.config import LogisticRegressionConfig
    from pu4spark_spark.spy import SpyEMPULearner

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pu = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )
    learner = SpyEMPULearner(
        classifier=LogisticRegressionConfig(maxIter=10).build()
    )
    is_pos = F.col("pu_label") == 1
    spies = pu.filter(
        learner.spy_coin("embedding") < learner.spy_frac
    ).filter(is_pos)
    n_pos = pu.filter(is_pos).count()
    n_spies = spies.count()
    assert 0 < n_spies < n_pos  # some spies drawn, not all positives
    # the coin never marks an unlabeled row a spy (spies ⊆ positives by
    # construction in weight(): the is_spy expression conjoins is_pos)


def test_elkan_noto_calibration_algebra(spark):
    """Elkan–Noto: finalLabel must equal min(1, g/c) where g is the
    zero-step score and c the mean g over labeled positives — verified
    by recomputing both from the learner's own building blocks."""
    from pyspark.sql import functions as F

    from pu4spark_spark.config import (
        ElkanNotoPULearnerConfig,
        LogisticRegressionConfig,
        from_json,
        to_json,
    )

    cfg = ElkanNotoPULearnerConfig(
        classifierConfig=LogisticRegressionConfig(maxIter=10)
    )
    # registry round-trip covers the new config class
    assert from_json(to_json(cfg)) == cfg

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pu = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )
    learner = cfg.build()
    out = learner.weight(pu, "pu_label", "embedding")
    rows = out.collect()
    assert len(rows) == pu.count()
    assert set(out.columns) == set(pu.columns) | {"finalLabel"}
    assert all(0.0 <= r["finalLabel"] <= 1.0 for r in rows)

    # independent recomputation: raw g from the shared zero_step, then
    # the same e1 calibration
    staged = pu.withColumn(
        "__s", F.when(F.col("pu_label") == 1, 1).otherwise(0)
    )
    g = learner.zero_step(staged, "__s", "embedding", "g")
    c = g.filter(F.col("pu_label") == 1).agg(F.avg("g")).collect()[0][0]
    assert 0.0 < c <= 1.0
    expect = {
        r["vec_id"]: min(1.0, r["g"] / c) for r in g.collect()
    }
    got = {r["vec_id"]: r["finalLabel"] for r in rows}
    assert got.keys() == expect.keys()
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-12
    # calibration can only scale scores UP (c ≤ 1)
    raw = {r["vec_id"]: r["g"] for r in g.collect()}
    assert all(got[k] >= raw[k] - 1e-12 for k in got)


def test_ranksum_auc_matches_numpy_reference(spark):
    """ties-corrected binned AUC must equal a from-scratch NumPy
    computation (pairwise Mann-Whitney with half credit on ties) over
    the identically quantized scores."""
    import numpy as np

    from pu4spark_spark.functions.evalfns import ranksum_auc

    rng = np.random.RandomState(7)
    y = rng.randint(0, 2, 400)
    # scores correlated with y plus noise, heavy ties via coarse rounding
    s = np.clip(0.3 * y + 0.5 * rng.rand(400), 0, 0.999999)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(s, y)], "score double, y int"
    )
    row = ranksum_auc(df, "score", "y", bins=50).collect()[0]

    q = np.floor(s * 50).astype(int)
    pos, neg = q[y == 1], q[y == 0]
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    ref = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert abs(row["auc"] - ref) < 1e-12


def test_pu_auc_zero_step_separable(spark):
    """On the separable embedding fixture the zero-step scorer must rank
    true positives far above the rest (AUC >> 0.5)."""
    from pu4spark_spark.operators.pu_queries import q_pu_auc_zero_step

    row = q_pu_auc_zero_step(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_pos"] > 0 and row["n_neg"] > 0
    # 0.81 measured at sf0.001 (500 rows, ~50 positives, maxIter=20
    # zero-step) — well above chance; the gate guards ranking skill,
    # not a specific operating point
    assert row["auc"] > 0.7, row["auc"]


def test_pu_bagging_protocol_properties(spark):
    """PU bagging: output contract, determinism, and signal on the
    separable fixture (positives outscore unlabeled on average)."""
    from pyspark.sql import functions as F

    from pu4spark_spark.config import LogisticRegressionConfig
    from pu4spark_spark.bagging import PUBaggingLearner

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pu = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    )
    learner = PUBaggingLearner(
        LogisticRegressionConfig(maxIter=10).build(),
        n_rounds=3,
        sample_frac=0.5,
    )
    out = learner.weight(pu, "pu_label", "embedding")
    rows = out.collect()
    assert len(rows) == pu.count()
    assert set(out.columns) == set(pu.columns) | {"finalLabel"}
    assert all(0.0 <= r["finalLabel"] <= 1.0 for r in rows)
    by_id = {r["vec_id"]: r for r in rows}
    pos = [r["finalLabel"] for r in rows if r["label"] == 9]
    rest = [r["finalLabel"] for r in rows if r["label"] != 9]
    assert sum(pos) / len(pos) > sum(rest) / len(rest)
    # deterministic hash coins + deterministic LR ⇒ identical reruns
    again = {r["vec_id"]: r["finalLabel"] for r in learner.weight(
        pu, "pu_label", "embedding"
    ).collect()}
    assert all(again[v] == by_id[v]["finalLabel"] for v in again)


def test_pu_bagging_and_spy_config_roundtrip():
    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        PUBaggingLearnerConfig,
        SpyEMPULearnerConfig,
        from_json,
        to_json,
    )

    for cfg in (
        PUBaggingLearnerConfig(
            nRounds=7,
            sampleFrac=0.3,
            classifierConfig=LogisticRegressionConfig(maxIter=25),
        ),
        SpyEMPULearnerConfig(spyFrac=0.2, spyQuantile=0.1),
    ):
        assert from_json(to_json(cfg)) == cfg
        cfg.build()  # constructible from the registry form


def test_class_prior_recovers_hidden_positives(spark):
    """Half the true positives are labeled; the Elkan-Noto e1 identity
    must recover the FULL prior (~0.1) from the labeled half via
    c ≈ 0.5 — not just echo the labeled rate."""
    from pu4spark_spark.operators.pu_queries import q_pu_class_prior

    row = q_pu_class_prior(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_rows"] == 500
    true_prior = 50 / 500  # class 9 is ~10% of the fixture
    assert row["labeled_rate"] < true_prior * 0.75  # only half labeled
    assert 0.5 * true_prior < row["prior_hat"] < 2.0 * true_prior
    assert row["prior_hat"] > row["labeled_rate"]


def test_f1_proxy_algebra(spark):
    from pu4spark_spark.operators.pu_queries import q_pu_f1_proxy

    row = q_pu_f1_proxy(spark, "/root/testdata/sf0.001").collect()[0]
    r = row["n_hit"] / row["n_pos_labeled"] if "n_hit" in row else None
    assert 0.0 <= row["recall_labeled"] <= 1.0
    assert 0.0 < row["pred_pos_rate"] <= 1.0
    expect = row["recall_labeled"] ** 2 / row["pred_pos_rate"]
    assert abs(row["f1_proxy"] - expect) < 1e-12
    # separable fixture: the zero-step classifier must be informative
    assert row["recall_labeled"] > 0.5


def test_golden_output_hashes_extensions(spark):
    """Golden-output regression for the EXTENSION learners (Spy-EM,
    Elkan–Noto, Bagging) — same pinned-hash tier as the reference pair
    in ``test_golden_output_hashes``: per-row scores rounded to 6
    decimals on a tiny fixed cloud, md5 over the (id, score) string.
    A hash change means the numeric behavior changed."""
    import hashlib

    from pu4spark_spark.bagging import PUBaggingLearner
    from pu4spark_spark.elkan import ElkanNotoPULearner
    from pu4spark_spark.spy import SpyEMPULearner

    # n=200 so the spy draw (spy_frac × ~20 labeled positives) is
    # non-empty — the 60-row cloud of the reference-pair golden has
    # too few labeled positives for S-EM
    cloud = separable_cloud(spark, n=200, seed=11).cache()

    def h(learner):
        out = learner.weight(cloud, "label", "features", "finalLabel")
        rows = out.orderBy("id").collect()
        s = ";".join(
            f"{r['id']}:{round(r['finalLabel'], 6):.6f}" for r in rows
        )
        return hashlib.md5(s.encode()).hexdigest()

    def lr():
        return LogisticRegressionConfig(maxIter=10).build()

    assert h(SpyEMPULearner(classifier=lr())) == (
        "81ad15c45668f2dc3e756d33dd5006c3"
    )
    assert h(ElkanNotoPULearner(classifier=lr())) == (
        "1ac6f882c1fb39cd4c3c32cb0019afa3"
    )
    assert h(PUBaggingLearner(classifier=lr(), n_rounds=3)) == (
        "39f1b0e8cdf1e8566f14a30fb0ca6898"
    )

    # SAR-PU needs a propensity group column on the cloud
    from pyspark.sql import functions as F2

    from pu4spark_spark.sar import SARPULearner

    grouped = cloud.withColumn(
        "grp", (F2.col("id") % 3).cast("string")
    )
    out = SARPULearner(classifier=lr(), group_col="grp").weight(
        grouped, "label", "features", "finalLabel"
    )
    rows = out.orderBy("id").collect()
    s = ";".join(
        f"{r['id']}:{round(r['finalLabel'], 6):.6f}" for r in rows
    )
    assert hashlib.md5(s.encode()).hexdigest() == (
        "a993f53010e9b8e5bcc8ad3ee90b3e45"
    )


def test_elkan_c_matches_class_prior_c_hat(spark):
    """Cross-learner consistency: Elkan–Noto's internal calibration
    constant c = E[g | s=1] and ``pu_class_prior``'s ``c_hat`` are the
    SAME quantity computed through two different paths (the learner's
    driver-scalar protocol vs the query's column aggregate).  On one
    fixture with one classifier config, Elkan's output must equal
    least(1, g/c_hat) row-for-row, where g is the zero-step score and
    c_hat the labeled-positive mean of g."""
    from pu4spark_spark.elkan import ElkanNotoPULearner

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    s = (F.col("label") == 9) & (F.col("vec_id") % 2 == 0)
    staged = emb.withColumn("pu_label", s.cast("int"))

    # path 1: the class-prior query's formulation — zero-step g via
    # Traditional(maxIters=0), then a column-aggregate c_hat
    g = (
        TraditionalPULearnerConfig(
            maxIters=0,
            classifierConfig=LogisticRegressionConfig(maxIter=20),
        )
        .build()
        .weight(staged, "pu_label", "embedding")
    )
    s_out = ((F.col("label") == 9) & (F.col("vec_id") % 2 == 0)).cast("int")
    c_hat = g.agg(
        F.avg(F.when(s_out == 1, F.col("finalLabel")))
    ).collect()[0][0]
    assert 0.0 < c_hat <= 1.0

    # path 2: the Elkan learner end-to-end
    elkan = ElkanNotoPULearner(
        classifier=LogisticRegressionConfig(maxIter=20).build()
    ).weight(staged, "pu_label", "embedding")

    expected = {
        r["vec_id"]: min(1.0, r["finalLabel"] / c_hat)
        for r in g.collect()
    }
    got = {r["vec_id"]: r["finalLabel"] for r in elkan.collect()}
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9, k


def _loop_trace(spark, learner: str, source: str):
    """One loop learner's convergence trace at sf0.001: the Knuth-scored
    trace query's rows, or ``trace_`` of a real LR ``weight()`` run."""
    from pu4spark_spark.operators import pu_queries as pq

    if source == "knuth":
        return getattr(pq, f"q_pu_{learner}_trace")(spark, SF_DIR).collect()
    if learner == "traditional":
        cfg = TraditionalPULearnerConfig(maxIters=pq._TRACE_MAX_ITERS)
    else:
        cfg = GradualReductionPULearnerConfig()
    model = cfg.build()
    model.weight(pq._pu_input(spark, SF_DIR), "pu_label", "embedding")
    return model.trace_


@pytest.mark.parametrize("source", ["knuth", "lr"])
def test_traditional_trace_protocol(spark, source):
    """The convergence trace of the shipped loop, under the hash scorer
    and under a real LR fit: monotone non-increasing mining, invariant
    totals, and (hash scorer) the new_rel_neg==0 early exit strictly
    inside the bound."""
    from pu4spark_spark.operators.pu_queries import _TRACE_MAX_ITERS

    rows = _loop_trace(spark, "traditional", source)
    assert 2 <= len(rows) <= _TRACE_MAX_ITERS
    assert [r["iteration"] for r in rows] == list(range(1, len(rows) + 1))
    # positives never change; total_rows constant
    assert len({r["total_pos"] for r in rows}) == 1
    assert len({r["total_rows"] for r in rows}) == 1
    # rel-neg mass only grows; undef only shrinks (Traditional never
    # demotes), and only the last row may have mined nothing
    for a, b in zip(rows, rows[1:]):
        assert b["total_rel_neg"] >= a["total_rel_neg"]
        assert b["total_undef"] <= a["total_undef"]
        assert a["new_rel_neg"] > 0
    if source == "knuth":
        assert rows[-1]["new_rel_neg"] == 0  # scorer freezes at iter 3
        assert len(rows) < _TRACE_MAX_ITERS
    # conservation each iteration
    for r in rows:
        assert (
            r["total_pos"] + r["total_rel_neg"] + r["total_undef"]
            == r["total_rows"]
        )


@pytest.mark.parametrize("source", ["knuth", "lr"])
def test_gradual_trace_protocol(spark, source):
    """The GradRed trace honors the verbatim 3-clause do-while: every
    non-terminal body iteration satisfied it, the terminal one broke
    it; positives invariant; iterations 2+ only demote."""
    from pu4spark_spark.gradual import MAX_SAFE_ITERS
    from pu4spark_spark.operators.pu_queries import _TRACE_MAX_ITERS

    rows = _loop_trace(spark, "gradual", source)
    bound = _TRACE_MAX_ITERS if source == "knuth" else MAX_SAFE_ITERS
    assert 2 <= len(rows) <= bound
    assert [r["iteration"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["total_pos"] for r in rows}) == 1
    total_pos = rows[0]["total_pos"]
    for r in rows:
        assert (
            r["total_pos"] + r["total_rel_neg"] + r["total_undef"]
            == r["total_rows"]
        )
    # iteration 1 mines from UNDEF: gain = mined count
    assert rows[0]["cur_gain"] == rows[0]["new_rel_neg"] > 0
    # iterations 2+ re-threshold REL_NEG only: nothing newly mined,
    # rel-neg mass shrinks by exactly cur_gain
    for a, b in zip(rows, rows[1:]):
        assert b["new_rel_neg"] == 0
        assert b["cur_gain"] == a["total_rel_neg"] - b["total_rel_neg"]

    # the do-while held for every non-terminal body row, broke at the end
    def cond(prev_gain, r):
        return (
            r["cur_gain"] > 0
            and r["cur_gain"] < prev_gain
            and total_pos < r["total_rel_neg"]
        )

    for a, b in zip(rows[:-2], rows[1:-1]):
        assert cond(a["cur_gain"], b)
    if len(rows) < bound:
        assert not cond(rows[-2]["cur_gain"], rows[-1])


def test_loop_traces_match_duckdb_oracle(spark):
    """The Traditional and Gradual traces (the shipped ``weight()`` under
    the hash scorer) equal their SQL replays on DuckDB, compared as
    ``tools/check_oracle.py`` compares them: columns by name, rows as
    an order-insensitive set."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check_oracle import rowset

    from pu4spark_spark.operators import pu_queries as pq

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    for query, sql in (
        (pq.q_pu_traditional_trace, pq.SQL_PU_TRADITIONAL_TRACE),
        (pq.q_pu_gradual_trace, pq.SQL_PU_GRADUAL_TRACE),
    ):
        got = query(spark, SF_DIR)
        cols = sorted(got.columns)
        rel = con.sql(sql)
        assert sorted(rel.columns) == cols, query.__name__
        idx = [rel.columns.index(c) for c in cols]
        want = rowset([[r[i] for i in idx] for r in rel.fetchall()])
        assert rowset([[r[c] for c in cols] for r in got.collect()]) == want, (
            query.__name__
        )


def test_bagging_explicit_id_col(spark):
    """ADVICE r5: id_col is an explicit constructor parameter; the
    chosen key is recorded, an unknown key raises, and changing the
    key changes bag assignments (so auto-detection is auditable)."""
    import pytest as _pytest

    from pu4spark_spark.bagging import PUBaggingLearner
    from pu4spark_spark.config import LogisticRegressionConfig

    df = separable_cloud(spark, n=120)
    clf = LogisticRegressionConfig(maxIter=5).build()
    auto = PUBaggingLearner(clf, n_rounds=2)
    auto.weight(df, "label", "features")
    assert auto.resolved_id_col_ == "id"  # auto-detected

    explicit = PUBaggingLearner(clf, n_rounds=2, id_col="id")
    explicit.weight(df, "label", "features")
    assert explicit.resolved_id_col_ == "id"

    with _pytest.raises(ValueError, match="id_col"):
        PUBaggingLearner(clf, n_rounds=2, id_col="nope").weight(
            df, "label", "features"
        )


def test_ranksum_auc_random_vs_naive_pairs(spark):
    """Hypothesis: the distributed bin-quantized rank-sum AUC must equal
    the O(n²) pairwise Mann-Whitney AUC computed over the QUANTIZED
    scores (ties take ½ credit) for random score/label sets — the
    contract 'exact AUC of the quantized classifier' verified from
    first principles, not just against one NumPy fixture."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pu4spark_spark.functions.evalfns import ranksum_auc

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=999),  # score grain
                st.integers(min_value=0, max_value=1),
            ),
            min_size=4,
            max_size=40,
        ).filter(
            lambda rows: 0 < sum(y for _, y in rows) < len(rows)
        )
    )
    def check(rows):
        bins = 50
        df = spark.createDataFrame(
            [(s / 1000.0, y) for s, y in rows], "score double, y int"
        )
        got = ranksum_auc(df, "score", "y", bins=bins).collect()[0]
        q = [(int((s / 1000.0) * bins), y) for s, y in rows]
        pos = [b for b, y in q if y == 1]
        neg = [b for b, y in q if y == 0]
        u = sum(
            1.0 if p > n else (0.5 if p == n else 0.0)
            for p in pos
            for n in neg
        )
        naive = u / (len(pos) * len(neg))
        assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
        assert abs(got["auc"] - naive) < 1e-12, (rows, got["auc"], naive)

    check()


def test_binarize_algebra_random(spark):
    """Hypothesis: both binarize expressions obey the sentinel algebra
    for arbitrary (probability, previous-label) combinations —
    positives are sticky, only the targeted class is re-thresholded,
    and the output is always a valid sentinel."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pu4spark_spark.labels import (
        REL_NEG_LABEL,
        UNDEF_LABEL,
        binarize_gradual,
        binarize_traditional,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=100),  # p·100
                st.sampled_from([1, 0, -1]),
            ),
            min_size=1,
            max_size=30,
        ),
        st.integers(min_value=1, max_value=99),  # threshold·100
    )
    def check(rows, thr100):
        thr = thr100 / 100.0
        df = spark.createDataFrame(
            [(p / 100.0, prev) for p, prev in rows], "p double, prev int"
        )
        trad = [
            r["t"]
            for r in df.select(
                binarize_traditional(F.col("p"), F.col("prev"), thr).alias("t")
            ).collect()
        ]
        grad = [
            r["g"]
            for r in df.select(
                binarize_gradual(
                    F.col("p"), F.col("prev"), thr, REL_NEG_LABEL
                ).alias("g")
            ).collect()
        ]
        for (p100, prev), t, g in zip(rows, trad, grad):
            p = p100 / 100.0
            # traditional: only UNDEF re-thresholds; labels pass through
            if prev == UNDEF_LABEL:
                assert t == (REL_NEG_LABEL if p < thr else UNDEF_LABEL)
            else:
                assert t == prev
            # gradual(REL_NEG): only rel-negs re-threshold (demote path)
            if prev == REL_NEG_LABEL:
                assert g == (REL_NEG_LABEL if p < thr else UNDEF_LABEL)
            else:
                assert g == prev
            assert t in (1, 0, -1) and g in (1, 0, -1)

    check()


def test_bagging_trace_oob_protocol(spark):
    """The bagging trace must exercise BOTH aggregation branches of
    bagging.py's weight(): positives are never drawn in-bag (oob_rounds
    == T for every positive), and with frac=0.5 over T=5 rounds some
    unlabeled rows land in-bag every round — those take the all-rounds
    fallback (oob_rounds == 0) and their score equals mean(p_t).  Every
    row's score must be reproducible from the published coin/scorer
    algebra."""
    from pu4spark_spark.operators.pu_queries import (
        _BAG_COIN_OFF,
        _BAG_COIN_STEP,
        _BAG_FRAC,
        _BAG_T,
        _KNUTH,
        _PREMOD,
        _TRACE_STEP,
        q_pu_bagging_trace,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = q_pu_bagging_trace(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(labels)

    def p(vid, t):
        return ((vid % _PREMOD) * _KNUTH + t * _TRACE_STEP) % 1000 / 1000.0

    def in_bag(vid, t):
        coin = ((vid % _PREMOD) * (_KNUTH + t * _BAG_COIN_STEP) + _BAG_COIN_OFF) % 1000 / 1000.0
        return labels[vid] != 9 and coin < _BAG_FRAC

    seen_fallback = seen_pos = False
    for r in rows:
        vid = r["vec_id"]
        oob = [t for t in range(_BAG_T) if not in_bag(vid, t)]
        assert r["oob_rounds"] == len(oob)
        if labels[vid] == 9:
            assert r["oob_rounds"] == _BAG_T
            seen_pos = True
        if oob:
            want = sum(p(vid, t) for t in oob) / len(oob)
        else:
            want = sum(p(vid, t) for t in range(_BAG_T)) / _BAG_T
            seen_fallback = True
        assert abs(r["final_score"] - want) < 1e-12, vid
    assert seen_pos and seen_fallback


def test_weighted_lr_equals_training_on_deduped(spark):
    """Instance weights 1/n_copies make training on a corpus WITH
    duplicates equal training on the deduped corpus: the weighted
    log-likelihood terms of a duplicate group sum to exactly one
    unweighted term, so the two LR fits coincide (up to LBFGS
    tolerance) — the property that justifies soft dedup as a
    substitute for hard dedup at training time."""
    import random

    from pyspark.sql import functions as F

    from pu4spark_spark.config import LogisticRegressionConfig
    from pu4spark_spark.features import assemble_features

    rng = random.Random(11)
    base_rows = []
    for i in range(120):
        x = rng.uniform(-2, 2)
        y = rng.uniform(-2, 2)
        label = 1.0 if x + 0.5 * y + rng.gauss(0, 0.3) > 0 else 0.0
        copies = rng.choice([1, 1, 1, 2, 4])
        base_rows.append((i, x, y, label, copies))
    dup_rows = [
        (i, x, y, label, 1.0 / copies)
        for i, x, y, label, copies in base_rows
        for _ in range(copies)
    ]
    ded_rows = [(i, x, y, label, 1.0) for i, x, y, label, _ in base_rows]
    ddl = "id long, x double, y double, pu_label double, w double"

    def fit_scores(rows, weight_col):
        df = assemble_features(
            spark.createDataFrame(rows, ddl), ["x", "y"], "features"
        )
        from pu4spark_spark.config import (
            INDEXED_FEATURES_NAME,
            LABEL_NAME,
        )

        lr = LogisticRegressionConfig(
            maxIter=60, weightCol=weight_col
        ).build()
        lr = lr.setLabelCol("pu_label").setFeaturesCol("features")
        model = lr.fit(df)
        scored = model.transform(df.dropDuplicates(["id"]))
        from pyspark.ml.functions import vector_to_array

        return {
            r["id"]: r["p"]
            for r in scored.select(
                "id", vector_to_array("probability")[1].alias("p")
            ).collect()
        }

    weighted = fit_scores(dup_rows, "w")
    deduped = fit_scores(ded_rows, None)
    assert set(weighted) == set(deduped)
    worst = max(abs(weighted[i] - deduped[i]) for i in weighted)
    assert worst < 1e-5, worst


def test_spy_trace_threshold_protocol(spark):
    """The spy trace must exercise the real calibration: spies exist
    and are positives; the threshold is consistent with the verdicts
    (every unlabeled row below the implied threshold is 0, at-or-above
    is -1; positives always 1); the rescore scorer differs from the
    spy-fit scorer."""
    from pu4spark_spark.operators.pu_queries import (
        _BAG_T,
        _KNUTH,
        _PREMOD,
        _SPY_TR_COIN_OFF,
        q_pu_spy_trace,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = q_pu_spy_trace(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(labels)
    spies = [r for r in rows if r["is_spy"]]
    assert spies and all(labels[r["vec_id"]] == 9 for r in spies)

    def g0(vid):
        return ((vid % _PREMOD) * _KNUTH) % 1000 / 1000.0

    # reconstruct the threshold from the verdicts: max g0 among mined
    # negatives < min g0 among undecided unlabeled rows
    mined = [g0(r["vec_id"]) for r in rows if r["cur_label"] == 0]
    undec = [g0(r["vec_id"]) for r in rows if r["cur_label"] == -1]
    assert mined and undec and max(mined) < min(undec)
    for r in rows:
        if labels[r["vec_id"]] == 9:
            assert r["cur_label"] == 1


def test_elkan_trace_calibration_algebra(spark):
    """c_hat must equal the exact integer-grid mean over labeled
    positives, and every score must be min(1, g/c) with at least one
    row clipped at 1.0 (c < 1 guarantees some g > c)."""
    from pu4spark_spark.operators.pu_queries import (
        _KNUTH,
        _PREMOD,
        q_pu_elkan_trace,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = q_pu_elkan_trace(spark, "/root/testdata/sf0.001").collect()
    ks = {v: ((v % _PREMOD) * _KNUTH) % 1000 for v in labels}
    pos = [v for v, l in labels.items() if l == 9]
    want_c = sum(ks[v] for v in pos) / (1000.0 * len(pos))
    assert abs(rows[0]["c_hat"] - want_c) < 1e-15
    clipped = 0
    for r in rows:
        want = min(1.0, (ks[r["vec_id"]] / 1000.0) / want_c)
        assert abs(r["final_score"] - want) < 1e-12
        clipped += r["final_score"] == 1.0
    assert clipped > 0


def test_sar_config_roundtrip_and_single_group_equals_elkan(spark):
    """SAR-PU sanity: (a) config registry round-trip; (b) with ONE
    propensity group the per-group calibration degenerates to exactly
    Elkan–Noto's global c — same scores bit-for-bit (both run the
    deterministic LR zero-step on identical input)."""
    from pyspark.sql import functions as F

    from pu4spark_spark.config import (
        ElkanNotoPULearnerConfig,
        LogisticRegressionConfig,
        SARPULearnerConfig,
        from_json,
        to_json,
    )

    cfg = SARPULearnerConfig(
        groupCol="grp",
        classifierConfig=LogisticRegressionConfig(maxIter=10),
    )
    assert from_json(to_json(cfg)) == cfg

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pu = emb.withColumn(
        "pu_label", F.when(F.col("label") == 9, 1).otherwise(0)
    ).withColumn("grp", F.lit("all"))

    sar = cfg.build().weight(pu, "pu_label", "embedding")
    elkan = (
        ElkanNotoPULearnerConfig(
            classifierConfig=LogisticRegressionConfig(maxIter=10)
        )
        .build()
        .weight(pu.drop("grp"), "pu_label", "embedding")
    )
    got = {r["vec_id"]: r["finalLabel"] for r in sar.collect()}
    want = {r["vec_id"]: r["finalLabel"] for r in elkan.collect()}
    assert got == want and len(got) == pu.count()


def test_sar_per_group_calibration_and_fallback(spark):
    """SAR-PU semantics on a three-group construction: groups a and b
    both carry labeled positives and get genuinely DIFFERENT per-group
    propensities ê_a ≠ ê_b (each member calibrates against its own
    group's estimate, not the global c), while group f has all its
    positives unlabeled and falls back to the global c exactly."""
    from pyspark.sql import functions as F

    from pu4spark_spark.config import (
        LogisticRegressionConfig,
        SARPULearnerConfig,
    )
    from pu4spark_spark.sar import SARPULearner

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # a: even ids < 400, b: odd ids < 400 (both keep their labels);
    # f: ids >= 400 with positives UNLABELED — no labeled positives
    pu = emb.withColumn(
        "pu_label",
        F.when(
            (F.col("label") == 9) & (F.col("vec_id") < 400), 1
        ).otherwise(0),
    ).withColumn(
        "grp",
        F.when(F.col("vec_id") >= 400, "f").otherwise(
            F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b")
        ),
    )
    learner = SARPULearnerConfig(
        groupCol="grp",
        classifierConfig=LogisticRegressionConfig(maxIter=10),
    ).build()
    assert isinstance(learner, SARPULearner)
    out = learner.weight(pu, "pu_label", "embedding")

    # independent recompute: g + per-group e1 + global fallback
    staged = pu.withColumn(
        "__s", F.when(F.col("pu_label") == 1, 1).otherwise(0)
    )
    g = learner.zero_step(staged, "__s", "embedding", "g")
    pos = g.filter(F.col("pu_label") == 1)
    c = pos.agg(F.avg("g")).collect()[0][0]
    e = {
        r["grp"]: r["e"]
        for r in pos.groupBy("grp").agg(F.avg("g").alias("e")).collect()
    }
    assert set(e) == {"a", "b"}  # f has no labeled positives
    assert e["a"] != e["b"]  # per-group propensities genuinely differ
    expect = {}
    for r in g.collect():
        expect[r["vec_id"]] = min(1.0, r["g"] / e.get(r["grp"], c))
    got = {r["vec_id"]: r["finalLabel"] for r in out.collect()}
    assert got == expect
