"""Learned block scorer — the analog of the reference's `train` command
(/root/reference/src/octopy/cli/train.py:17-426) re-imagined for block
classification: fit logistic weights over shallow block features, then
score blocks with a pure-JVM column expression (the "batched sequence
scorer standing in for Kraken's recognition model", BASELINE.json).

Training protocol (reference analogs cited):
- labels come from the deterministic heuristic classifier
  (self-training target), so no external data is needed;
- train/val split by a hash of the row-unique (url, block_id) key
  (train.py:65-66, 243-286), stable under any partitioning;
- full-batch gradient descent where each step is ONE distributed
  aggregation over every labeled block (octospark/trainer.py exact
  fixed-point design): bit-identical at any parallelism, nothing
  row-shaped on the driver; 10^12 blocks train like 10^3;
- the fitted model is checkpointed once, as ``best_distributed.json``.
  Resume of the extraction itself lives in the lineage manifest
  (octospark/lineage.py), not here.

Training and scoring read the same integer feature columns
(:func:`_with_features`), and scoring is the trainer's own
constant-folded JVM expression: no Python anywhere in the inference
path.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octospark.extractor import CONTENT_LABELS
from octospark.pipeline import CONTEXT_COLS, with_context
from octospark.trainer import fit_logistic_exact, score_expr_exact

FEATURES = ("n_words", "link_density", "depth", "text_density",
            "prev_words", "next_words", "prev_link_density")
QUANTIZE_UNIT = 1048576.0  # 2**20
PARTITION = 0.9  # train share of the R20 train/val split
LR = 0.5
_INT_FEATURES = [f"i_{name}" for name in FEATURES]


def _with_features(blocks: DataFrame, quantize_unit: float) -> DataFrame:
    """blocks -> blocks + neighbor context + one integer column
    ``i_<name>`` per feature: the value floored to 1/quantize_unit
    units. The exact trainer takes integer features only; floor is
    order-independent, and standardization absorbs the scaling, so at
    2^-20 units the quantization costs < 1e-6 relative precision."""
    q = F.lit(quantize_unit)
    return with_context(blocks).select(
        "*",
        *[
            F.floor(F.col(name).cast("double") * q).cast("long").alias(col)
            for name, col in zip(FEATURES, _INT_FEATURES)
        ],
    )


def fit_scorer(
    labeled_blocks: DataFrame,
    steps: int = 30,
    checkpoint_dir: str | None = None,
) -> dict:
    """Fit the block scorer on blocks+label: ``steps`` full-batch
    gradient steps of :func:`octospark.trainer.fit_logistic_exact`
    toward the binary target "label is content or heading".

    The train/val split hashes the ROW-unique (url, block_id) key into
    1000 buckets vs ``PARTITION`` — iid at row level yet stable under
    any partitioning (a feature-tuple hash would send every duplicate
    tuple to one side: distribution shift). Reference analog: the
    epoch loop + partition split of /root/reference/src/octopy/cli/
    train.py:64-77,243-286.

    Returns the trainer's model dict plus ``features`` (the raw feature
    names) and ``quantize_unit``; with ``checkpoint_dir`` the full dict
    is also written to ``best_distributed.json`` there."""
    bucket = F.pmod(F.xxhash64("url", "block_id"), F.lit(1000))
    frame = _with_features(labeled_blocks, QUANTIZE_UNIT).select(
        *_INT_FEATURES,
        F.col("label").isin(*sorted(CONTENT_LABELS)).cast("int").alias("y"),
        (bucket < F.lit(int(round(PARTITION * 1000)))).alias("is_train"),
    )
    model = fit_logistic_exact(
        frame, _INT_FEATURES, steps=steps, lr=LR, link="logistic"
    )
    model["features"] = list(FEATURES)
    model["quantize_unit"] = QUANTIZE_UNIT
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(
            os.path.join(checkpoint_dir, "best_distributed.json"), "w"
        ) as f:
            # NaN (no validation rows) is not valid JSON — store null
            val_acc = model["val_acc"]
            json.dump(
                {**model, "val_acc": None if math.isnan(val_acc) else val_acc},
                f, indent=1,
            )
    return model


def load_model(path: str) -> dict:
    """Load a model checkpointed by :func:`fit_scorer`."""
    with open(path) as f:
        return json.load(f)


def score_blocks(blocks: DataFrame, model: dict) -> DataFrame:
    """blocks -> blocks + score + scored_label ('content'/'noise').

    :func:`octospark.pipeline.classify` labels with it, in place of the
    rule cascade, when it is given a fitted model."""
    if "quantize_unit" not in model:
        raise ValueError(
            "model has no quantize_unit: raw-feature models (the removed "
            "driver-side trainer's format) are not scored; refit with "
            "fit_scorer"
        )
    z = score_expr_exact(
        {**model, "features": [f"i_{name}" for name in model["features"]]}
    )
    return (
        _with_features(blocks, model["quantize_unit"])
        .withColumn("score", z)
        .withColumn(
            "scored_label",
            F.when(F.col("score") > F.lit(0.0), "content").otherwise("noise"),
        )
        .drop(*CONTEXT_COLS, *_INT_FEATURES)
    )
