"""Distributed, exactly-deterministic logistic trainer.

The reference's ``train`` command (/root/reference/src/octopy/cli/train.py:
17-426) runs epoch-wise gradient refinement over the full dataset. The
Spark-first analog here is FULL-BATCH gradient descent where each step's
gradient is ONE distributed aggregation over the training frame — map-side
partial sums per partition, a kilobyte of sufficient statistics to the
driver, nothing else ever leaves the executors. It is the one trainer
behind the block scorer (:func:`octospark.scorer.fit_scorer`): the
gradient pass streams 10^12 rows the same way any groupBy does.

Exactness design (why the result is bit-identical at ANY parallelism and
reproducible in any engine):

- features must be INTEGERS (callers quantize doubles once at ingest);
  their sums / sums-of-squares accumulate as ``decimal(38,0)`` — exact,
  associative, overflow-safe far beyond 10^12 rows, so standardization
  stats do not depend on partitioning;
- the link function is the RATIONAL sigmoid ``p = 0.5 + z / (2*(1+|z|))``
  (no transcendental ``exp``): IEEE-754 +,-,*,/,abs,sqrt are correctly
  rounded and therefore identical in the JVM, in Python, and in any
  C-based SQL engine — this is what makes a DuckDB oracle of the whole
  training loop possible;
- each row's gradient contribution is floored to integer units of
  2^-30 (``floor(c * 2**30)``; the power-of-two scaling multiply is
  exact) and summed as ``decimal(38,0)`` — the float-sum-order problem
  is gone, the gradient is a fixed-point number;
- the driver-side weight update uses the same correctly-rounded double
  op sequence the oracle uses: ``w - lr*((g / 2**30) / n)``.

The driver sees one ~(n_features+1)-number row per step — the same
"bounded scalar to the driver" budget the integer PageRank uses.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1073741824.0  # 2**30, exact power-of-two fixed-point unit
DEC = "decimal(38,0)"


def _standardized(feat: str, mu: float, sigma: float) -> Column:
    return (F.col(feat).cast("double") - F.lit(mu)) / F.lit(sigma)


def _z_col(features: list[str], w: list[float], b: float,
           mu: list[float], sg: list[float]) -> Column:
    """Left-fold ((b + w1*x1) + w2*x2) + ... — the oracle SQL folds in
    the identical order so doubles match bitwise."""
    z = F.lit(b)
    for j, feat in enumerate(features):
        z = z + F.lit(w[j]) * _standardized(feat, mu[j], sg[j])
    return z


def _p_col(z: Column, link: str = "rational") -> Column:
    """``rational``: 0.5 + z/(2*(1+|z|)) — correctly-rounded ops only,
    so any IEEE engine reproduces it bitwise (the oracle-checkable
    link). ``logistic``: the true sigmoid via ``exp`` — better-fitting
    loss, still partitioning-invariant (the floor quantization is
    per-row on whatever double THIS engine's exp returns), but exp is
    not bit-specified across engines, so no cross-engine oracle."""
    if link == "logistic":
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def fit_logistic_exact(
    df: DataFrame,
    features: list[str],
    label: str = "y",
    train_flag: str = "is_train",
    steps: int = 4,
    lr: float = 0.25,
    link: str = "rational",
) -> dict:
    """Full-batch GD over a frame of INTEGER feature columns.

    ``df`` needs: integer ``features``, integer 0/1 ``label``, boolean
    ``train_flag``. Returns a model dict whose floats are bit-identical
    for any repartitioning of ``df`` (tests pin this), containing
    weights/bias, standardization stats, and validation accuracy.
    """
    df = df.persist()
    try:
        tr = df.filter(F.col(train_flag))
        # one exact stats pass: n, sum(f), sum(f*f) per feature
        aggs = [F.count(F.lit(1)).alias("n")]
        for feat in features:
            aggs.append(F.sum(F.col(feat).cast(DEC)).alias(f"s_{feat}"))
            # cast BEFORE multiplying: long*long would wrap at ~3e9-
            # valued features; decimal(38,0) products cannot
            aggs.append(
                F.sum(
                    F.col(feat).cast(DEC) * F.col(feat).cast(DEC)
                ).alias(f"q_{feat}")
            )
        st = tr.agg(*aggs).collect()[0]
        n = int(st["n"])
        if n == 0:
            raise ValueError("no training rows (empty input or split)")
        nf = float(n)
        mu, sg = [], []
        for feat in features:
            m = float(int(st[f"s_{feat}"])) / nf
            v = float(int(st[f"q_{feat}"])) / nf - m * m
            mu.append(m)
            sg.append(math.sqrt(v) if v > 0.0 else 1.0)

        w = [0.0] * len(features)
        b = 0.0
        yd = F.col(label).cast("double")
        for _ in range(steps):
            z = _z_col(features, w, b, mu, sg)
            p = _p_col(z, link)
            g_aggs = []
            for j, feat in enumerate(features):
                c = (p - yd) * _standardized(feat, mu[j], sg[j])
                g_aggs.append(
                    F.sum(F.floor(c * F.lit(SCALE)).cast(DEC)).alias(f"g{j}")
                )
            g_aggs.append(
                F.sum(F.floor((p - yd) * F.lit(SCALE)).cast(DEC)).alias("gb")
            )
            g = tr.agg(*g_aggs).collect()[0]
            for j in range(len(features)):
                w[j] = w[j] - lr * ((float(int(g[f"g{j}"])) / SCALE) / nf)
            b = b - lr * ((float(int(g["gb"])) / SCALE) / nf)

        # validation pass: exact integer counts
        zv = _z_col(features, w, b, mu, sg)
        va = (
            df.filter(~F.col(train_flag))
            .agg(
                F.count(F.lit(1)).alias("val_total"),
                F.sum(
                    ((zv > F.lit(0.0)) == (yd > F.lit(0.5))).cast("long")
                ).alias("val_correct"),
            )
            .collect()[0]
        )
        val_total = int(va["val_total"])
        val_correct = int(va["val_correct"] or 0)
    finally:
        df.unpersist()
    return {
        "features": list(features),
        "weights": w,
        "bias": b,
        "mu": mu,
        "sigma": sg,
        "n_train": n,
        "val_total": val_total,
        "val_correct": val_correct,
        "val_acc": (val_correct / val_total) if val_total else float("nan"),
        "steps": steps,
        "lr": lr,
        "link": link,
    }


def score_expr_exact(model: dict) -> Column:
    """Inference: the trained z as a constant-folded JVM expression."""
    return _z_col(
        model["features"], model["weights"], model["bias"],
        model["mu"], model["sigma"],
    )
