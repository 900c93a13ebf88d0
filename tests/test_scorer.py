"""Scorer (train-command analog) tests: exact distributed fit,
checkpoint round trip, JVM-only inference, and agreement with the
heuristic classifier it distills."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from octospark.scorer import (
    fit_scorer,
    load_model,
    score_blocks,
)


@pytest.fixture(scope="module")
def labeled(spark, pages):
    from octospark.pipeline import classify, segment

    df = classify(segment(pages)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def model(spark, labeled):
    return fit_scorer(labeled, steps=30)


def test_fit_distills_heuristic(spark, labeled, model):
    # the linear scorer should reproduce the rule cascade reasonably
    assert model["val_acc"] > 0.9
    scored = score_blocks(labeled, model)
    agree = scored.withColumn(
        "heur", F.col("label").isin("content", "heading").cast("int")
    ).withColumn(
        "pred", (F.col("scored_label") == "content").cast("int")
    )
    acc = agree.agg(
        F.avg((F.col("heur") == F.col("pred")).cast("double"))
    ).collect()[0][0]
    assert acc > 0.9


def test_inference_is_jvm_only(spark, labeled, model):
    scored = score_blocks(labeled.limit(100), model)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # scoring adds no Python eval nodes — the score is a Project expr
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    head = plan.split("MapInPandas")[0]  # everything above the segmenter
    assert "score" in head and "Project" in head
    assert scored.filter(F.col("scored_label").isNull()).count() == 0


def test_classify_with_dispatch(spark, labeled, model):
    """R4 stage-2 choice: classify(blocks, model) keeps the structural
    labels of classify(blocks) and emits content/noise from the
    model."""
    from octospark.pipeline import classify

    blocks = labeled.drop("label")
    heur = classify(blocks)
    sc = classify(blocks, model)
    assert set(sc.columns) == set(heur.columns)
    labels = {r.label for r in sc.select("label").distinct().collect()}
    assert labels <= {"content", "noise", "heading", "caption", "table",
                      "boilerplate-nav", "boilerplate-header",
                      "boilerplate-footer", "advert", "unknown"}
    # structural labels identical with and without a model
    j = (heur.selectExpr("url", "block_id", "label AS lh")
         .join(sc.selectExpr("url", "block_id", "label AS ls"),
               ["url", "block_id"]))
    # boilerplate-nav excluded: the rule cascade also assigns it from
    # link density, which the model intentionally arbitrates
    structural = ("heading", "caption", "table",
                  "boilerplate-header", "boilerplate-footer", "advert")
    assert j.filter(
        (F.col("lh").isin(*structural)) & (F.col("lh") != F.col("ls"))
    ).count() == 0


def test_fit_empty_training_frame_clear_error(spark, labeled):
    """An empty (filtered-to-nothing) training frame raises a clear
    ValueError, not a cryptic error from an empty aggregate."""
    with pytest.raises(ValueError, match="no training rows"):
        fit_scorer(labeled.filter(F.lit(False)), steps=5)


def test_distributed_scorer_partitioning_invariant_and_learns(spark, labeled):
    """fit_scorer is bit-identical at any partitioning and reproduces
    the heuristic cascade."""
    m1 = fit_scorer(labeled.coalesce(1), steps=20)
    m2 = fit_scorer(labeled.repartition(7), steps=20)
    assert m1["weights"] == m2["weights"] and m1["bias"] == m2["bias"]
    assert m1["val_total"] > 0 and m1["val_acc"] >= 0.75
    # inference path stays pure-JVM: scoring agrees with training labels
    scored = score_blocks(labeled, m1)
    agree = scored.select(
        (
            (F.col("score") > 0)
            == F.col("label").isin("content", "heading")
        ).cast("int").alias("ok")
    ).agg(F.avg("ok")).collect()[0][0]
    assert agree >= 0.75


def test_distributed_checkpoint_roundtrips_full_model(spark, labeled, tmp_path):
    """Code-review regression: the checkpoint previously dropped
    features/quantize_unit, so a reloaded model crashed score_blocks.
    The persisted file must round-trip the FULL model."""
    ckpt = str(tmp_path / "dist_ckpt")
    m = fit_scorer(labeled, steps=5, checkpoint_dir=ckpt)
    reloaded = load_model(f"{ckpt}/best_distributed.json")
    assert reloaded["features"] == list(m["features"])
    assert reloaded["quantize_unit"] == m["quantize_unit"]
    assert reloaded["weights"] == m["weights"]
    assert reloaded["bias"] == m["bias"]
    scored = score_blocks(labeled, reloaded)
    assert scored.filter(F.col("scored_label").isNull()).count() == 0


def test_raw_feature_model_is_rejected(spark, labeled):
    """A model dict without quantize_unit (the raw-feature format of
    the removed driver-side trainer) is refused, not scored in the
    wrong feature space."""
    raw = {"features": ["n_words"], "weights": [1.0], "bias": 0.0,
           "mu": [0.0], "sigma": [1.0]}
    with pytest.raises(ValueError, match="quantize_unit"):
        score_blocks(labeled, raw)
