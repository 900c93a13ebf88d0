"""Resume/lineage tests (FIXTURES.md §D, SURVEY.md §5.2.4): commit k of
n buckets, rerun, assert only missing buckets recompute and the final
table equals the uninterrupted run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from octospark.lineage import (
    committed_buckets,
    inspect,
    lineage_table,
    read_extracted,
    read_manifest,
    run_extract,
)

N_BUCKETS = 16


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "extracted")


def _texts(df):
    return {r["url"]: r["text"] for r in df.select("url", "text").collect()}


def test_full_run_commits_all_buckets(spark, pages, out_dir):
    m = run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS)
    assert len(m["buckets"]) == N_BUCKETS
    got = read_extracted(spark, out_dir)
    assert got.count() == pages.count()
    ins = inspect(out_dir)
    assert ins["input_count"] == ins["output_count"] == pages.count()
    assert ins["error_count"] == 0


def test_resume_after_partial_commit(spark, pages, out_dir):
    # uninterrupted reference run
    ref_dir = out_dir + "_ref"
    run_extract(spark, pages, ref_dir, n_buckets=N_BUCKETS, run_id="ref")
    ref = _texts(read_extracted(spark, ref_dir))

    # crash after committing only 5 buckets
    run_extract(
        spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="crashed",
        fail_after_buckets=5,
    )
    assert len(committed_buckets(out_dir)) == 5
    partial = read_extracted(spark, out_dir)
    assert 0 < partial.count() < pages.count()

    # resume: second run commits ONLY the missing 11 buckets
    m2 = run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS,
                     run_id="resumed")
    assert len(m2["buckets"]) == N_BUCKETS
    resumed_buckets = [
        k for k, v in m2["buckets"].items() if v["run_id"] == "resumed"
    ]
    assert len(resumed_buckets) == N_BUCKETS - 5

    # final table equals the uninterrupted run, byte-for-byte
    got = _texts(read_extracted(spark, out_dir))
    assert got == ref

    # lineage checksums per bucket match the reference run exactly
    ref_m = read_manifest(ref_dir)
    for k, v in m2["buckets"].items():
        assert v["checksum"] == ref_m["buckets"][k]["checksum"], k
        assert v["output_count"] == ref_m["buckets"][k]["output_count"], k


def test_rerun_of_complete_output_is_noop(spark, pages, out_dir):
    # the sparse input leaves most of its 64 buckets empty; those are
    # committed too, so its finished run is complete as well
    for src, n_buckets, out in (
        (pages, N_BUCKETS, out_dir),
        (pages.orderBy("url").limit(5), 64, out_dir + "_sparse"),
    ):
        run_extract(spark, src, out, n_buckets=n_buckets, run_id="first")
        m = run_extract(spark, src, out, n_buckets=n_buckets, run_id="again")
        assert all(v["run_id"] == "first" for v in m["buckets"].values())
        assert len(m["buckets"]) == n_buckets
        assert m["attempts"] == ["first"]
        # no duplicate rows appended
        assert read_extracted(spark, out).count() == src.count()


def test_buckets_stable_across_parallelism(spark, pages, out_dir):
    # commit half at one parallelism, resume at another: still exactly-once
    run_extract(spark, pages.repartition(2), out_dir, n_buckets=N_BUCKETS,
                run_id="p2", fail_after_buckets=8)
    run_extract(spark, pages.repartition(13), out_dir, n_buckets=N_BUCKETS,
                run_id="p13")
    got = read_extracted(spark, out_dir)
    assert got.count() == pages.count()
    assert got.groupBy("url").count().filter("count != 1").count() == 0


def test_lineage_table_and_inspect(spark, pages, out_dir, monkeypatch,
                                   capsys):
    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="r1")
    lt = lineage_table(spark, out_dir)
    assert lt.count() == N_BUCKETS
    agg = lt.agg(
        F.sum("input_count").alias("i"), F.sum("output_count").alias("o")
    ).collect()[0]
    assert agg["i"] == agg["o"] == pages.count()
    ins = inspect(out_dir)
    assert ins["n_committed_buckets"] == N_BUCKETS
    assert ins["n_runs"] == 1
    # each committed chunk directory, with its bucket and data-file count
    (chunk,) = ins["chunks"]
    assert chunk["chunk"] == chunk["run_id"] + "-0000"
    assert chunk["run_id"] == "r1" and chunk["buckets"] == N_BUCKETS
    assert chunk["data_files"] == len(
        _parquet_files(os.path.join(out_dir, "data", chunk["chunk"])))
    # jobs/inspect_run.py shows the chunks in its default output
    import json

    from jobs.inspect_run import main

    monkeypatch.setattr("sys.argv", ["inspect_run.py", out_dir])
    main()
    assert json.loads(capsys.readouterr().out)["chunks"] == ins["chunks"]


def test_manifest_commit_is_atomic(spark, pages, out_dir):
    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS)
    # no stray tmp files left behind
    leftovers = [f for f in os.listdir(out_dir) if ".tmp." in f]
    assert leftovers == []


def test_export_jsonl_and_parquet_roundtrip(spark, pages, out_dir):
    from octospark.lineage import export_extracted

    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="rx")
    n = pages.count()
    dest_j = out_dir + "_jsonl"
    dest_p = out_dir + "_pq"
    assert export_extracted(spark, out_dir, dest_j, "jsonl") == n
    assert export_extracted(spark, out_dir, dest_p, "parquet") == n
    # text survives both sinks byte-identically
    golden = _texts(read_extracted(spark, out_dir))
    assert _texts(spark.read.json(dest_j)) == golden
    assert _texts(spark.read.parquet(dest_p)) == golden
    import pytest as _pytest

    with _pytest.raises(ValueError):
        export_extracted(spark, out_dir, out_dir + "_bad", "csv")


def test_run_extract_salted_and_max_bytes(spark, pages, out_dir):
    """The wired-through knobs: salted repartition preserves the
    byte-identical result; max_bytes guards rows into error outputs."""
    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="rs",
                salted=True, salt_partitions=8)
    got = read_extracted(spark, out_dir)
    assert got.count() == pages.count()
    tiny = out_dir + "_tiny"
    run_extract(spark, pages, tiny, n_buckets=N_BUCKETS, run_id="rt",
                max_bytes=10)  # everything oversized
    g2 = read_extracted(spark, tiny)
    assert g2.filter("error = 'size_guard'").count() == pages.count()
    assert g2.filter("text != ''").count() == 0


def test_salted_run_takes_the_skew_census(spark, pages, out_dir,
                                          monkeypatch):
    """``salted`` runs the giant-host census and salts the hosts it
    names; the committed buckets are byte-identical to an unsalted
    run's (placement never changes a row)."""
    import octospark.pipeline as pipeline

    census, named = pipeline.find_skewed_hosts, []

    def recording_census(df):
        # lowered thresholds, so the sf0.001 hosts count as giants
        named.append(census(df, threshold_fraction=0.04, min_pages=10))
        return named[-1]

    monkeypatch.setattr(pipeline, "find_skewed_hosts", recording_census)
    plain = out_dir + "_plain"
    run_extract(spark, pages, plain, n_buckets=N_BUCKETS, run_id="p")
    assert named == []
    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="p",
                salted=True, salt_partitions=8)
    assert len(named) == 1 and named[0]

    def committed(d):
        buckets = read_manifest(d)["buckets"]
        rows = sorted(
            read_extracted(spark, d).drop("run_id").collect(),
            key=lambda r: (r["url"], r["warc_ts"]),
        )
        return {k: {s: v[s] for s in ("input_count", "output_count",
                                      "error_count", "checksum")}
                for k, v in buckets.items()}, rows

    assert committed(out_dir) == committed(plain)


def test_validation_cadence_kill_on_drift(spark, pages, out_dir):
    """R25: drift detected between chunk commits aborts the run; chunks
    committed before the drift survive in the manifest, and a healthy
    rerun resumes from them (never re-extracting committed buckets)."""
    from octospark.lineage import GoldenDriftError

    calls = []

    def drifting_validator():
        calls.append(1)
        return [] if len(calls) <= 2 else ["minimal: field 'text' drifted"]

    with pytest.raises(GoldenDriftError, match="drift"):
        run_extract(
            spark, pages, out_dir, n_buckets=N_BUCKETS,
            validate_every_k_buckets=4, validate_fn=drifting_validator,
        )
    # exactly the two healthy chunks (4 buckets each) were committed
    assert len(committed_buckets(out_dir)) == 8
    # "fixed engine" resumes: healthy validator, completes the rest
    m = run_extract(
        spark, pages, out_dir, n_buckets=N_BUCKETS,
        validate_every_k_buckets=4, validate_fn=lambda: [],
    )
    assert len(m["buckets"]) == N_BUCKETS
    assert read_extracted(spark, out_dir).count() == pages.count()


def _record_extracted_rows(monkeypatch) -> list:
    """Wrap ``pipeline.extract_pages`` so each call records how many
    input rows it was given."""
    import octospark.pipeline as pipeline

    extract, seen = pipeline.extract_pages, []

    def recording_extract(df, **kwargs):
        seen.append(df.count())
        return extract(df, **kwargs)

    monkeypatch.setattr(pipeline, "extract_pages", recording_extract)
    return seen


def test_crash_attempt_extracts_only_what_it_commits(spark, pages, out_dir,
                                                     monkeypatch):
    """An attempt that commits 5 of 16 buckets extracts only the rows of
    those 5 buckets, not the whole input."""
    seen = _record_extracted_rows(monkeypatch)
    m = run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS,
                    fail_after_buckets=5)
    assert len(m["buckets"]) == 5
    assert sum(seen) == sum(v["input_count"] for v in m["buckets"].values())
    assert 0 < sum(seen) < pages.count()


def test_cadence_stops_extraction_at_the_drift(spark, pages, out_dir,
                                               monkeypatch):
    """Each cadence chunk is its own extraction, so a drift found after
    the third chunk leaves the fourth chunk's rows unextracted."""
    from octospark.lineage import GoldenDriftError, with_part_key

    seen = _record_extracted_rows(monkeypatch)
    calls = []

    def drift_on_third_chunk():
        calls.append(1)
        return [] if len(calls) <= 2 else ["synthetic drift"]

    with pytest.raises(GoldenDriftError):
        run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS,
                    validate_every_k_buckets=4,
                    validate_fn=drift_on_third_chunk)
    keyed = with_part_key(pages, N_BUCKETS)
    assert seen == [
        keyed.filter(F.col("part_key").isin(list(range(i, i + 4)))).count()
        for i in (0, 4, 8)
    ]


def test_attempt_job_counts(spark, pages, out_dir, count_jobs):
    """An attempt runs the input count, then per chunk one write and one
    read-back of its lineage stats (two jobs each for the two
    aggregates, as AQE runs each shuffle stage as a job); a salted one
    adds the one-aggregate census and the salted exchange."""
    _, unsalted = count_jobs(run_extract, spark, pages, out_dir,
                             n_buckets=N_BUCKETS)
    _, salted = count_jobs(run_extract, spark, pages, out_dir + "_s",
                           n_buckets=N_BUCKETS, salted=True)
    assert unsalted <= 5
    assert salted <= unsalted + 3


def test_validation_cadence_healthy_golden(spark, pages, out_dir):
    """The real golden validator passes against the frozen fixtures and
    a full run with cadence enabled commits everything."""
    import pathlib

    from octospark.validation import make_golden_validator
    from tests.fixtures.adversarial import CASES

    golden = str(
        pathlib.Path(__file__).resolve().parent / "fixtures/golden.json"
    )
    fn = make_golden_validator(CASES, golden)
    assert fn() == []
    m = run_extract(
        spark, pages, out_dir, n_buckets=N_BUCKETS,
        validate_every_k_buckets=8, validate_fn=fn,
    )
    assert len(m["buckets"]) == N_BUCKETS


def test_golden_validator_detects_corruption():
    """A tampered frozen expectation is reported as drift."""
    import json
    import pathlib

    from octospark.validation import golden_drift
    from tests.fixtures.adversarial import CASES

    golden = json.loads(
        (pathlib.Path(__file__).resolve().parent / "fixtures/golden.json")
        .read_text()
    )
    golden["minimal"]["text"] = "tampered"
    drift = golden_drift(CASES, golden)
    assert drift and "minimal" in drift[0]


def test_golden_drift_labels_known_loss_as_improvement():
    """Drift on a KNOWN_LOSS fixture is still reported (determinism
    contract: the frozen file must be refrozen) but labeled as a likely
    improvement, not a regression (ADVICE r2)."""
    import json
    import pathlib

    from octospark.validation import golden_drift
    from tests.fixtures.adversarial import CASES, KNOWN_LOSS

    golden = json.loads(
        (pathlib.Path(__file__).resolve().parent / "fixtures/golden.json")
        .read_text()
    )
    # simulate a stale frozen expectation on the known-loss fixture
    golden["content_inside_nav"]["text"] = "stale frozen loss"
    golden["minimal"]["text"] = "tampered"
    drift = golden_drift(CASES, golden, known_loss=KNOWN_LOSS)
    by_name = {d.split(":")[0]: d for d in drift}
    assert "refreeze" in by_name["content_inside_nav"]
    assert "known-loss" in by_name["content_inside_nav"]
    assert "refreeze" not in by_name["minimal"]


def test_run_id_reuse_after_abort_keeps_orphans_invisible(spark, pages,
                                                          out_dir):
    """ADVICE r2 (medium): an operator reruns with the SAME --run-id after
    a drift abort. The aborted attempt's data files (written before the
    drift raised, never manifest-committed) must not become visible as
    duplicates when the resume commits buckets under that run_id — the
    resume must get a per-attempt suffixed id."""
    from octospark.lineage import GoldenDriftError

    # attempt 1: chunk data files hit disk, then drift aborts before the
    # manifest records any bucket -> orphan files tagged run_id="op"
    with pytest.raises(GoldenDriftError):
        run_extract(
            spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="op",
            validate_every_k_buckets=4, validate_fn=lambda: ["drift"],
        )
    assert committed_buckets(out_dir) == []
    data_dir = os.path.join(out_dir, "data")
    assert os.path.isdir(data_dir)  # orphans exist on disk

    # attempt 2: same operator, same run_id
    m = run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="op")
    assert len(m["buckets"]) == N_BUCKETS
    # the resume ran under a suffixed id, never the reused literal
    assert all(v["run_id"] == "op.2" for v in m["buckets"].values())
    assert m["attempts"] == ["op", "op.2"]
    # snapshot read sees exactly one row per url — orphans invisible
    got = read_extracted(spark, out_dir)
    assert got.count() == pages.count()
    assert got.groupBy("url").count().filter("count != 1").count() == 0


def _data_dirs(out_dir):
    return sorted(os.listdir(os.path.join(out_dir, "data")))


def _parquet_files(path):
    return sorted(n for n in os.listdir(path) if n.endswith(".parquet"))


def _scan(df):
    """The one Parquet scan leaf of ``df``'s executed plan."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())
             if leaves.apply(i).nodeName().startswith("Scan parquet")]
    assert len(scans) == 1
    return scans[0]


def test_read_extracted_scans_only_committed_chunks(spark, pages, out_dir):
    """The scan's root paths are exactly the manifest's committed chunk
    directories — an orphan chunk left by a drift abort is never listed,
    let alone read — and each chunk's part_key condition reaches Parquet
    as a pushed filter."""
    from octospark.lineage import GoldenDriftError, committed_chunks

    calls = []

    def drift_on_second_chunk():
        calls.append(1)
        return [] if len(calls) == 1 else ["synthetic drift"]

    with pytest.raises(GoldenDriftError):
        run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS,
                    validate_every_k_buckets=4,
                    validate_fn=drift_on_second_chunk)
    chunks = committed_chunks(read_manifest(out_dir))
    assert len(chunks) == 1 and len(committed_buckets(out_dir)) == 4
    orphans = set(_data_dirs(out_dir)) - set(chunks)
    assert len(orphans) == 1  # the aborted second chunk is on disk

    df = read_extracted(spark, out_dir)
    scan = _scan(df)
    roots = scan.relation().location().rootPaths()
    assert {
        os.path.realpath(roots.apply(i).toUri().getPath())
        for i in range(roots.size())
    } == {os.path.realpath(os.path.join(out_dir, "data", c))
          for c in chunks}
    pushed = scan.pushedDownFilters()
    pushed = [pushed.apply(i).toString() for i in range(pushed.size())]
    assert any(f.startswith("In(part_key") for f in pushed), pushed
    orphan_dir = os.path.realpath(
        os.path.join(out_dir, "data", orphans.pop()))
    assert not any(
        os.path.realpath(f.replace("file:", "", 1)).startswith(orphan_dir)
        for f in df.inputFiles()
    )
    # only the 4 committed buckets' rows come back, each row once
    keys = {r.part_key for r in df.select("part_key").distinct().collect()}
    assert keys == set(committed_buckets(out_dir))
    m = read_manifest(out_dir)
    assert df.count() == sum(v["output_count"] for v in m["buckets"].values())


def test_one_flat_directory_per_chunk(spark, pages, out_dir):
    """Write amplification is bounded by the chunk, not the bucket: one
    run_extract over 16 buckets in one chunk leaves one directory under
    data/, holding at most one Parquet file per extraction task whatever
    n_buckets is (each with its .crc checksum); a cadence of 4 buckets
    leaves 4 directories."""
    spread = pages.repartition(3)
    tasks = spread.rdd.getNumPartitions()
    for n_buckets in (N_BUCKETS, 4 * N_BUCKETS):
        out = f"{out_dir}_{n_buckets}"
        run_extract(spark, spread, out, n_buckets=n_buckets)
        (chunk,) = _data_dirs(out)
        files = _parquet_files(os.path.join(out, "data", chunk))
        assert 1 <= len(files) <= tasks, (n_buckets, files)
        for f in files:
            assert os.path.exists(os.path.join(out, "data", chunk,
                                               f".{f}.crc"))
        assert read_manifest(out)["buckets"]["0"]["chunk"] == chunk

    cadenced = out_dir + "_k4"
    run_extract(spark, spread, cadenced, n_buckets=N_BUCKETS,
                validate_every_k_buckets=4, validate_fn=lambda: [])
    assert len(_data_dirs(cadenced)) == 4
    assert read_extracted(spark, cadenced).count() == pages.count()


def test_read_extracted_of_run_that_committed_nothing(spark, pages, out_dir):
    """A run that committed no bucket reads back as an empty frame with
    the snapshot schema, and exports 0 rows."""
    from octospark.lineage import SNAPSHOT_SCHEMA, export_extracted

    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS,
                fail_after_buckets=0)
    assert committed_buckets(out_dir) == []
    df = read_extracted(spark, out_dir)
    assert df.columns == [
        "url", "warc_ts", "text", "spans", "lang", "n_blocks", "error",
        "run_id", "part_key",
    ]
    assert [f.dataType for f in df.schema] == [
        f.dataType for f in SNAPSHOT_SCHEMA
    ]
    assert df.count() == 0
    assert export_extracted(spark, out_dir, out_dir + "_pq") == 0
    assert export_extracted(spark, out_dir, out_dir + "_j", "jsonl") == 0


def test_extract_job_preview_of_empty_input(spark, pages, out_dir,
                                            monkeypatch, capsys):
    """jobs/extract.py over an input with no pages commits every bucket
    empty; its export and its read-back preview both report 0 rows."""
    import json

    import octospark.session
    from jobs.extract import main

    src = out_dir + "_in"
    pages.limit(0).write.parquet(src)
    monkeypatch.setattr(octospark.session, "get_spark",
                        lambda **_kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr("sys.argv", [
        "extract.py", "--input", src, "--out", out_dir,
        "--n-buckets", str(N_BUCKETS), "--mode", "text-only",
        "--export-format", "parquet", "--export-dest", out_dir + "_x",
    ])
    try:
        main()
    finally:
        spark.sparkContext.setLogLevel("ERROR")
    meta = json.loads(capsys.readouterr().out)
    assert meta["n_committed_buckets"] == N_BUCKETS
    assert meta["input_count"] == meta["output_count"] == 0
    assert meta["exported_rows"] == 0
    assert meta["preview_rows"] == 0


def test_compact_run_collapses_files_and_removes_orphans(spark, pages,
                                                         out_dir):
    """Compaction (Iceberg rewrite_data_files + expire_snapshots analog):
    build a resume-heavy table — aborted attempt (orphan files) + two
    committed generations — then compact and assert (a) the visible
    snapshot is byte-identical, (b) the file count collapses, (c) orphan
    and superseded files are gone, (d) lineage history records the
    compaction."""
    import glob

    from octospark.lineage import compact_run

    from octospark.lineage import GoldenDriftError

    # aborted attempt: drift fires AFTER the first 4-bucket chunk's data
    # files land but BEFORE their manifest commit -> true orphans
    calls = {"n": 0}

    def drift_once():
        calls["n"] += 1
        return ["synthetic drift"] if calls["n"] == 1 else []

    with pytest.raises(GoldenDriftError):
        run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS,
                    run_id="gen", validate_every_k_buckets=4,
                    validate_fn=drift_once)
    # resume with the SAME caller id (auto-suffixed) commits everything
    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS, run_id="gen")
    before = read_extracted(spark, out_dir)
    want = _texts(before)
    files_before = glob.glob(os.path.join(out_dir, "data", "*", "*.parquet"))
    # at least two chunk generations exist: the aborted attempt's orphan
    # chunk and the resume's committed one
    from octospark.lineage import committed_chunks

    committed = set(committed_chunks(read_manifest(out_dir)))
    assert len(_data_dirs(out_dir)) >= 2
    assert set(_data_dirs(out_dir)) - committed  # an orphan generation

    res = compact_run(spark, out_dir)
    assert res["run_id"].startswith("compact-")
    assert res["old_files_removed"] == len(files_before)

    files_after = glob.glob(os.path.join(out_dir, "data", "*", "*.parquet"))
    assert set(files_after).isdisjoint(files_before)
    assert len(files_after) <= N_BUCKETS  # one file per bucket generation
    got = read_extracted(spark, out_dir)
    assert _texts(got) == want
    # every committed bucket now points at the compaction run_id and the
    # history records a compaction entry
    m = read_manifest(out_dir)
    assert all(v["run_id"] == res["run_id"] for v in m["buckets"].values())
    assert any(e.get("compaction") for e in m["run_ids"])
    # idempotent: compacting a compacted table keeps the snapshot
    res2 = compact_run(spark, out_dir)
    assert _texts(read_extracted(spark, out_dir)) == want
    assert res2["files_after"] <= N_BUCKETS


def test_compact_run_verify_aborts_on_divergence(spark, pages, out_dir,
                                                 monkeypatch):
    """A rewrite that fails to reproduce the committed lineage must
    abort BEFORE the manifest swap: old snapshot intact, new files
    deleted."""
    import octospark.lineage as lin

    run_extract(spark, pages, out_dir, n_buckets=N_BUCKETS)
    want = _texts(read_extracted(spark, out_dir))
    m_before = read_manifest(out_dir)
    files = {
        c: _parquet_files(os.path.join(out_dir, "data", c))
        for c in lin.committed_chunks(m_before)
    }

    real_read = lin.read_extracted

    def corrupted_read(spark_, out_dir_):
        # drop one row: per-bucket count/checksum can no longer match
        df = real_read(spark_, out_dir_)
        victim = df.select("url").limit(1).collect()[0]["url"]
        return df.filter(F.col("url") != victim)

    monkeypatch.setattr(lin, "read_extracted", corrupted_read)
    with pytest.raises(RuntimeError, match="compaction verify failed"):
        lin.compact_run(spark, out_dir)
    monkeypatch.undo()

    # snapshot unchanged, no stray uncommitted generation left behind
    assert _texts(read_extracted(spark, out_dir)) == want
    m_after = read_manifest(out_dir)
    assert m_after["buckets"] == m_before["buckets"]
    got = read_extracted(spark, out_dir)
    assert got.count() == len(want)
    # every committed chunk directory is intact, and nothing else is left
    assert {
        c: _parquet_files(os.path.join(out_dir, "data", c))
        for c in _data_dirs(out_dir)
    } == files


def test_entry_without_chunk_is_rejected():
    """A bucket or stream-batch manifest entry that names no chunk
    directory (an output of an older layout) is rejected, not read."""
    from octospark.lineage import committed_batches, committed_chunks

    with pytest.raises(ValueError, match="bucket 3 names no chunk"):
        committed_chunks({"buckets": {"3": {"run_id": "r"}}})
    with pytest.raises(ValueError, match="batch 1 names no chunk"):
        committed_batches({"buckets": {}, "batches": {"1": {"run_id": "r"}}})
