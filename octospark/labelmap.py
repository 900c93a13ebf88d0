"""Label vocabulary mapping + merge rules (R9/R10 analogs).

The reference resolves class-alias merge rules with chain following and
cycle detection in ``MergeDefaultDict`` (/root/reference/src/octopy/
train.py:199-240) and maps model classes through a fixed dictionary with
unmapped->skip semantics (mappings.py:15-48, segment.py:120-124).

Spark-first translation: the chain resolution happens ONCE, driver-side,
at plan-build time (it is pure dict work); the resolved mapping becomes a
literal CASE/`create_map` column expression so Catalyst constant-folds
it and the hot path stays in whole-stage codegen. A merge target of
``None`` means DROP (reference: train.py:219-222); unmapped labels pass
through unchanged and are counted, never errored (reference warns+skips,
we keep with 'unknown'-style passthrough so the never-drop law holds for
blocks too).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def resolve_merges(merges: dict) -> dict:
    """Resolve alias->target chains to final targets, driver-side.

    ``{'a': 'b', 'b': 'c'}`` resolves to ``{'a': 'c', 'b': 'c'}``;
    ``None`` targets mean drop; cycles raise ValueError (the reference
    detects them the same way: a seen-set walk, train.py:226-236).
    """
    resolved: dict = {}
    for alias in merges:
        seen = {alias}
        target = merges[alias]
        while target is not None and target in merges:
            if target in seen:
                raise ValueError(
                    f"cycle in merge rules at {alias!r} -> {target!r}"
                )
            seen.add(target)
            target = merges[target]
        resolved[alias] = target
    return resolved


def merge_expr(col: Column, merges: dict) -> Column:
    """Column expression applying resolved merge rules.

    Returns NULL for dropped labels (filter downstream with
    ``isNotNull`` — the R10 'None = drop' semantics); labels without a
    rule pass through unchanged.
    """
    resolved = resolve_merges(merges)
    expr = col
    for alias, target in resolved.items():
        expr = F.when(
            col == F.lit(alias),
            F.lit(target) if target is not None
            else F.lit(None).cast("string"),
        ).otherwise(expr)
    return expr


def apply_merges(
    labeled: DataFrame, merges: dict, drop: bool = True
) -> DataFrame:
    """Apply merge rules to the ``label`` column of a labeled blocks
    DataFrame; optionally drop rows whose label maps to None."""
    out = labeled.withColumn("label", merge_expr(F.col("label"), merges))
    return out.filter(F.col("label").isNotNull()) if drop else out


def label_stats(labeled: DataFrame, merges: dict | None = None) -> DataFrame:
    """Per-class counts with alias rollup (the R27 class-summary analog,
    reference train.py:99-121): counts after merge resolution, plus the
    list of source aliases that fed each canonical label."""
    df = labeled
    if merges:
        df = df.withColumn("canonical", merge_expr(F.col("label"), merges))
    else:
        df = df.withColumn("canonical", F.col("label"))
    return (
        df.filter(F.col("canonical").isNotNull())
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_blocks"),
            F.array_sort(F.collect_set("label")).alias("source_labels"),
        )
    )
