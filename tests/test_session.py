"""``session.materialize``, the one lineage cut of the operator modules:
with ``spark.checkpoint.dir`` set, an iterative operator survives the loss
of every cached block between its rounds.

Each run is a subprocess with a Spark session of its own, so the shared
test session never gets a checkpoint directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one loop that stops at convergence, one with a fixed round count
KEYS = ("dedup_cluster_cc", "graph_pagerank")

# argv: sf_dir, checkpoint dir ("" for none); every cut drops the blocks
_RUN = """
import json, sys
import octospark.textops as textops
from octospark import QUERIES
from octospark.session import get_spark

sf, ckpt = sys.argv[1:3]
conf = {"spark.checkpoint.dir": ckpt} if ckpt else {}
spark = get_spark(master="local[2]", shuffle_partitions=4, extra_conf=conf)
spark.sparkContext.setLogLevel("OFF")
jsc = spark.sparkContext._jsc
cut = textops.materialize


def cut_then_drop(df):
    # as if every executor were lost right after the cut
    out = cut(df)
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return out


textops.materialize = cut_then_drop
out = {}
for key in %r:
    try:
        rows = QUERIES[key](spark, sf).collect()
        out[key] = sorted(list(r) for r in rows)
    except Exception as exc:
        out[key] = {"error": str(exc)}
print("RESULT " + json.dumps(out))
spark.stop()
""" % (KEYS,)


def _run(sf_dir: str, ckpt: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _RUN, sf_dir, ckpt],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_checkpoint_dir_survives_lost_blocks(spark, sf_dir, tmp_path):
    import __spark_entry__ as entry

    qs = entry.queries()
    want = {
        key: sorted(list(r) for r in qs[key](spark, sf_dir).collect())
        for key in KEYS
    }

    got = _run(sf_dir, str(tmp_path / "ckpt"))
    for key in KEYS:
        assert got[key] == want[key], (key, str(got[key])[:2000])
    assert any((tmp_path / "ckpt").rglob("part-*"))

    # the same run with local checkpoints fails: the blocks really went
    lost = _run(sf_dir, "")
    for key in KEYS:
        assert isinstance(lost[key], dict), key
        assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in lost[key]["error"]


def test_session_cleans_checkpoint_files(spark):
    """A checkpoint directory does not grow with every cut: the session
    lets Spark delete a checkpoint's files once its RDD is collected."""
    conf = spark.sparkContext.getConf()
    flag = "spark.cleaner.referenceTracking.cleanCheckpoints"
    assert conf.get(flag) == "true"
