"""Golden-fixture validation cadence (R25 analog).

The reference re-runs validation every ``val_check_interval`` fraction of
an epoch (/root/reference/src/octopy/train.py:71-74) so a training run
discovers regressions mid-run, not at the end. The extraction analog: a
100 TB run should discover a *semantic* regression (an extractor change
that silently alters output) between bucket commits, not after days of
wasted work. :func:`make_golden_validator` builds the ``validate_fn``
that :func:`octospark.lineage.run_extract` calls between chunk commits —
it re-extracts a frozen set of adversarial HTML fixtures with the live
extractor (pure Python, sub-millisecond per fixture; no Spark job) and
diffs against the frozen expectations.
"""

from __future__ import annotations

import json
from collections.abc import Callable


def golden_drift(
    cases: list, golden: dict, known_loss: frozenset = frozenset()
) -> list:
    """Diff live extractions of ``cases`` [(name, html_bytes), ...]
    against the frozen ``golden`` mapping name -> {text, spans,
    n_blocks}. Returns drift messages (empty = healthy).

    ``known_loss`` names fixtures whose FROZEN expectation encodes a
    known content-loss behavior (e.g. empty text for content buried in
    deep table nesting) — drift on those is still reported (the frozen
    file must be refrozen before the engine is trusted again, since
    byte-identical determinism is the contract), but labeled as a
    likely improvement so an operator reads "refreeze required", not
    "regression"."""
    from octospark.extractor import extract

    drift = []
    for name, html in cases:
        if name not in golden:
            drift.append(f"{name}: no frozen expectation")
            continue
        live = extract(html)
        for f in ("text", "spans", "n_blocks"):
            want, got = golden[name].get(f), live.get(f)
            # spans round-trip through JSON as lists; normalize
            if json.loads(json.dumps(got)) != want:
                if name in known_loss:
                    drift.append(
                        f"{name}: field {f!r} drifted on a known-loss "
                        "fixture — behavior likely improved; review and "
                        "refreeze (scripts/freeze_fixtures.py)"
                    )
                else:
                    drift.append(f"{name}: field {f!r} drifted")
                break
    return drift


def make_golden_validator(cases: list, golden_path: str) -> Callable[[], list]:
    """Bind (cases, frozen-expectation file) into a zero-arg
    ``validate_fn`` for :func:`octospark.lineage.run_extract`."""
    with open(golden_path) as f:
        golden = json.load(f)

    def validate() -> list:
        return golden_drift(cases, golden)

    return validate
