"""Warehouse materialization, lineage metrics, and checkpoint-resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgspark import canon, datagen, materialize, pipeline
from kgspark.materialize import Warehouse


@pytest.fixture()
def web120(spark):
    return datagen.web_pages(spark, 120, 42)


def test_full_run_commits_all_stages(spark, web120, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    entry = materialize.run_pipeline(spark, web120, wh, run_id="run-1")
    for name in (
        "docs", "chunks", "entities", "relations", "triples",
        "doc_status", "errors", "canonical_map", "canonical_triples",
    ):
        assert wh.exists(name), name
        m = entry["stages"][name]
        assert m["n_rows"] == wh.read(name).count()
        assert sum(m["partitions"].values()) == m["n_rows"]  # lineage adds up
    assert entry["skipped_docs"] == 0
    assert wh.manifest()["runs"][0]["run_id"] == "run-1"


def test_resume_skips_processed_and_converges(spark, tmp_path):
    full = datagen.web_pages(spark, 120, 42)
    half = datagen.web_pages(spark, 60, 42)  # prefix: same seed ⇒ same rows

    wh_inc = Warehouse(spark, str(tmp_path / "inc"))
    e1 = materialize.run_pipeline(spark, half, wh_inc, run_id="r1")
    e2 = materialize.run_pipeline(spark, full, wh_inc, run_id="r2")
    assert e1["processed_docs"] > 0
    # tier-1 resume: every successfully extracted r1 page is anti-joined
    # away on (url, input_sha) BEFORE extraction; error pages are never
    # recorded as seen, so they re-extract (and re-report) in r2
    assert e2["prefiltered_pages"] == 60 - e1["error_docs"]
    # tier-2 resume (J1): docs arriving via unseen pages whose content was
    # already processed are skipped at the doc level
    assert e2["processed_docs"] == e2["input_docs"] - e2["skipped_docs"]
    assert e2["processed_docs"] > 0

    wh_full = Warehouse(spark, str(tmp_path / "full"))
    materialize.run_pipeline(spark, full, wh_full, run_id="r0")

    for name in ("triples", "entities", "relations", "canonical_triples"):
        # run_id/track_id are lineage metadata — the semantic rows must match
        inc = sorted(
            map(tuple, wh_inc.read(name).drop("track_id", "run_id").collect())
        )
        ful = sorted(
            map(tuple, wh_full.read(name).drop("track_id", "run_id").collect())
        )
        assert inc == ful, f"resume divergence in {name}"


def test_rerun_is_noop(spark, web120, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, web120, wh, run_id="a")
    before = wh.read("triples").count()
    entry = materialize.run_pipeline(spark, web120, wh, run_id="b")
    assert entry["processed_docs"] == 0
    assert wh.read("triples").count() == before
    # tier-1: every page that extracted successfully in run a is skipped
    # BEFORE extraction on the rerun, and nothing new is recorded as seen
    assert entry["prefiltered_pages"] > 0
    assert entry["stages"]["seen_inputs"]["n_rows"] == 0


def test_docs_paginated_parity_semantics(spark):
    # doc_status-shaped frame exercising the reference whitelist semantics
    # (json_doc_status.rs:301-355): clamp, fallback field, lowercased
    # file_path with missing -> 'no-file-path', status filter.
    rows = [
        (f"doc-{i:03d}", "PROCESSED" if i % 2 else "PENDING",
         None if i == 0 else f"B{i}" if i % 3 else f"a{i}",
         f"2026-01-{i + 1:02d}T00:00:00Z", f"2026-02-{i + 1:02d}T00:00:00Z")
        for i in range(30)
    ]
    st = spark.createDataFrame(
        rows, "doc_id string, status string, url string, "
              "created_at string, updated_at string"
    )
    # default: updated_at desc, page 1, size clamped up from 3 to 10
    out = materialize.docs_paginated(st, page=1, page_size=3).collect()
    assert len(out) == 10
    assert out[0]["doc_id"] == "doc-029"  # newest updated_at first
    assert [r["row_num"] for r in out] == list(range(1, 11))

    # unknown sort field falls back to updated_at
    fb = materialize.docs_paginated(st, sort_field="nope").collect()
    assert fb[0]["doc_id"] == "doc-029"

    # file_path asc: None sorts as 'no-file-path' (after lowercased a*/b*)
    fp = materialize.docs_paginated(
        st, sort_field="file_path", descending=False
    ).collect()
    assert fp[-1]["doc_id"] == "doc-000"

    # status filter + id sort + page 2
    p2 = materialize.docs_paginated(
        st, status="PROCESSED", sort_field="id", descending=False, page=2,
        page_size=10,
    ).collect()
    assert len(p2) == 5  # 15 PROCESSED rows total
    assert all(r["status"] == "PROCESSED" for r in p2)
    assert [r["row_num"] for r in p2] == list(range(11, 16))


def test_doc_status_and_counts(spark, web120, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, web120, wh, run_id="s")
    st = wh.read("doc_status")
    docs = wh.read("docs")
    chunks = wh.read("chunks")
    assert st.count() == docs.count()
    # chunks_list is the ordered chunk ids of the doc
    row = (
        st.filter(F.size("chunks_list") > 1)
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    want = [
        r["chunk_id"]
        for r in chunks.filter(F.col("doc_id") == row["doc_id"])
        .orderBy("chunk_order_index")
        .collect()
    ]
    assert row["chunks_list"] == want

    counts = {
        r["status"]: r["n_docs"]
        for r in materialize.status_counts(st).collect()
    }
    assert counts["PROCESSED"] == st.count()
    assert counts["ALL"] == st.count()


def test_extract_failures_land_in_errors_table(spark, tmp_path):
    """Poisoned docs produce per-doc error RECORDS (error_reporter.rs:50
    analog) while the batch completes normally."""
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    rows = [
        ("https://ok.test/1", ts,
         b"<html><p>Ada Lovelace works at Acme Corp.</p></html>",
         "Ada Lovelace works at Acme Corp.", "en"),
        ("https://poison.test/utf8", ts, b"\xff\xfe broken", "", "en"),
        ("https://poison.test/empty", ts,
         b"<html><body><p>  </p></body></html>", "", "en"),
    ]
    web = spark.createDataFrame(rows, datagen.SCHEMA)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    entry = materialize.run_pipeline(spark, web, wh, run_id="poison")

    errs = {r["url"]: r for r in wh.read("errors").collect()}
    assert errs["https://poison.test/utf8"]["error"] == "utf8_decode_error"
    assert errs["https://poison.test/empty"]["error"] == "empty_extraction"
    assert errs["https://poison.test/utf8"]["error_id"] == (
        "error-poison-https://poison.test/utf8"
    )
    assert all(r["stage"] == "extract" for r in errs.values())
    assert entry["error_docs"] == 2
    assert entry["processed_docs"] == 1  # the good doc still landed
    assert wh.read("docs").count() == 1


def test_append_cost_is_batch_proportional(spark, tmp_path):
    """Incremental appends write only the new run's partition: after two
    runs every stage table holds one run_id partition per run and the
    second run's files never rewrote the first run's."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 60, 42), wh, run_id="r1")
    tri = wh.table_path("triples")
    first_files = {
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(tri, "run_id=r1")) for f in fs
    }
    mtimes = {p: os.path.getmtime(p) for p in first_files}
    materialize.run_pipeline(spark, datagen.web_pages(spark, 120, 42), wh, run_id="r2")
    assert os.path.isdir(os.path.join(tri, "run_id=r2"))
    for p, m in mtimes.items():
        assert os.path.getmtime(p) == m, f"run r2 rewrote {p}"
    # the union of both partitions is the full resumable table
    assert wh.read("triples").count() == (
        wh.read("triples").filter(F.col("run_id") == "r1").count()
        + wh.read("triples").filter(F.col("run_id") == "r2").count()
    )


def test_crash_rerun_heals_to_exactly_once(spark, tmp_path):
    """Partitions from a run that never reached the manifest (crash between
    stage appends and the manifest commit) are swept at the next batch
    start — a rerun cannot double-append its rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    web = datagen.web_pages(spark, 60, 42)
    materialize.run_pipeline(spark, web, wh, run_id="r1")
    clean = wh.read("triples").drop("run_id").count()

    # simulate the crash: stage rows appended under an uncommitted run_id
    # (doc_status included — the anti-join alone would NOT catch this,
    # because a crash can also land before the doc_status append)
    ghost = pipeline.build(datagen.web_pages(spark, 90, 42), reuse=False)
    new_docs = ghost["docs"].join(
        wh.read("doc_status").select("doc_id"), "doc_id", "left_anti"
    )
    wh.append("docs", new_docs, "ghost-run")
    wh.append("triples", ghost["triples"].join(
        new_docs.select("doc_id"), "doc_id", "left_semi"), "ghost-run")
    assert wh.read("triples").count() > clean  # partial rows landed

    # the next batch sweeps the orphan partition, then processes normally
    entry = materialize.run_pipeline(
        spark, datagen.web_pages(spark, 90, 42), wh, run_id="r2"
    )
    assert entry["processed_docs"] > 0
    full = {
        tuple(r)
        for r in pipeline.build(
            datagen.web_pages(spark, 90, 42), reuse=False
        )["triples"].collect()
    }
    got = [tuple(r) for r in wh.read("triples").drop("run_id").collect()]
    assert len(got) == len(set(got)) == len(full)  # no duplicates, no loss
    assert set(got) == full
    assert not any(
        "ghost-run" in d for d in __import__("os").listdir(wh.table_path("triples"))
    )


def test_zero_row_stage_append_keeps_table_readable(spark, tmp_path):
    """A batch that produces entities but no relations must still commit:
    empty stage appends materialize the schema (readable 0-row table)."""
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    # one vocabulary mention, no predicate sentence -> no relations/triples
    rows = [("https://one.test/a", ts,
             b"<html><p>London has pleasant weather this week</p></html>",
             "London has pleasant weather this week", "en")]
    web = spark.createDataFrame(rows, datagen.SCHEMA)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    entry = materialize.run_pipeline(spark, web, wh, run_id="lone")
    assert entry["processed_docs"] == 1
    assert wh.read("triples").count() == 0  # readable, zero rows
    assert wh.read("relations").count() == 0
    assert wh.read("entities").count() == 1
    assert wh.read("canonical_triples").count() == 0


def test_compaction_collapses_partitions_and_preserves_resume(spark, tmp_path):
    """compact() rewrites many run partitions into one base partition
    (small-file healing) without changing semantics: row sets identical,
    the recovery sweep keeps the base, and resume still skips docs."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for k, n in enumerate((40, 80, 120)):
        materialize.run_pipeline(
            spark, datagen.web_pages(spark, n, 42), wh, run_id=f"r{k}"
        )
    tri = wh.table_path("triples")
    before = sorted(map(tuple, wh.read("triples").drop("run_id").collect()))
    n_parts_before = len([d for d in os.listdir(tri) if d.startswith("run_id=")])
    assert n_parts_before == 3

    m = materialize.compact(wh, "triples", target_partitions=2)
    parts = [d for d in os.listdir(tri) if d.startswith("run_id=")]
    assert parts == [f"run_id={m['compacted_to']}"]
    after = sorted(map(tuple, wh.read("triples").drop("run_id").collect()))
    assert after == before

    # a subsequent batch sweeps nothing (base run id is committed) and
    # resumes normally on top of the compacted layout
    e = materialize.run_pipeline(
        spark, datagen.web_pages(spark, 160, 42), wh, run_id="r3"
    )
    assert (e["skipped_docs"] + e["prefiltered_pages"]) > 0
    assert e["processed_docs"] > 0
    assert os.path.isdir(os.path.join(tri, f"run_id={m['compacted_to']}"))
    full = sorted(
        map(
            tuple,
            pipeline.build(datagen.web_pages(spark, 160, 42), reuse=False)[
                "triples"
            ].collect(),
        )
    )
    assert sorted(map(tuple, wh.read("triples").drop("run_id").collect())) == full


def test_crash_before_manifest_commit_preserves_canonical_triples(spark, tmp_path):
    """The ADVICE-high window: a map-changing run crashes AFTER the
    canonical_map swap (and all stage appends) but BEFORE the manifest
    commit.  The sweep removes the run's partitions; the fingerprint in the
    manifest no longer matches the on-disk map, so the next batch must take
    the full-rebuild path — the old scheme compared map-vs-recompute, saw
    'unchanged', appended only the new batch, and silently lost every prior
    run's canonical_triples rows."""
    import json
    import shutil

    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 5, 42), wh, run_id="r1")
    pre_crash_manifest = wh._manifest_path() + ".saved"
    shutil.copy(wh._manifest_path(), pre_crash_manifest)

    # map-changing second run (new corpus names), then "crash" by restoring
    # the pre-run manifest — byte-exact simulation of dying inside
    # _commit_manifest's window.
    materialize.run_pipeline(spark, datagen.web_pages(spark, 120, 42), wh, run_id="r2")
    shutil.copy(pre_crash_manifest, wh._manifest_path())

    materialize.run_pipeline(spark, datagen.web_pages(spark, 120, 42), wh, run_id="r3")
    want = sorted(
        map(
            tuple,
            canon.canonical_triples(
                pipeline.build(datagen.web_pages(spark, 120, 42), reuse=False)["triples"],
                canon.canonical_map(
                    spark,
                    pipeline.build(datagen.web_pages(spark, 120, 42), reuse=False)["entities"],
                ),
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, wh.read("canonical_triples").drop("run_id").collect())
    )
    assert got == want  # nothing lost, nothing duplicated
    # and the healed state is consistent: manifest fp matches the table
    m = json.load(open(wh._manifest_path()))
    assert m["canonical_map_fp"] == materialize.map_fingerprint(
        wh.read("canonical_map")
    )


def test_incremental_canonicalization_matches_full(spark, tmp_path):
    """Three growing batches: batches 2-3 must take the DELTA path (pair
    edges only for new names) yet produce byte-identical canonical state to
    a from-scratch recompute after every batch."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sizes = (40, 80, 120)
    for k, n in enumerate(sizes):
        e = materialize.run_pipeline(
            spark, datagen.web_pages(spark, n, 42), wh, run_id=f"r{k}"
        )
        cm_metrics = e["stages"]["canonical_map"]
        if k == 0:
            assert cm_metrics["incremental"] is False
        else:
            assert cm_metrics["incremental"] is True
        got = sorted(map(tuple, wh.read("canonical_map").collect()))
        want = sorted(
            map(
                tuple,
                canon.canonical_map(spark, wh.read("entities")).collect(),
            )
        )
        assert got == want, f"map divergence after batch {k}"
    # state tables track the corpus name set exactly
    n_names = wh.read("canon_names").select("name").distinct().count()
    assert n_names == canon.distinct_names(wh.read("entities")).count()


def test_iceberg_probe_recorded_in_manifest(spark, tmp_path):
    """VERDICT r2 item 7: every Warehouse records the iceberg-spark runtime
    probe in its manifest; the recorded backend matches what is actually on
    the classpath (parquet-fallback here — the sandbox ships no jar)."""
    probe = materialize.iceberg_runtime_probe()
    assert probe["backend"] in ("iceberg", "parquet-fallback")
    assert probe["available"] == (probe["jar"] is not None)
    assert probe["searched"], "probe must search at least the pyspark jars dir"

    # ADVICE r3: construction is READ-ONLY — the probe is stashed, never
    # committed at init (a read-only consumer must not race a writer's
    # manifest read-modify-write); it lands inside the next legitimate
    # manifest commit.
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert "iceberg_probe" not in wh.manifest()
    wh._commit_manifest(wh.manifest())  # any legitimate commit flushes it
    recorded = wh.manifest()["iceberg_probe"]
    assert recorded["backend"] == probe["backend"]
    assert recorded["jar"] == probe["jar"]

    # explicit override unblocks the swap (simulated jar)
    fake = tmp_path / "iceberg-spark-runtime-4.1_2.13-1.tap.jar"
    fake.write_bytes(b"PK")
    import os as _os

    _os.environ["KGSPARK_ICEBERG_JAR"] = str(fake)
    try:
        assert materialize.iceberg_runtime_probe()["backend"] == "iceberg"
        wh2 = Warehouse(spark, str(tmp_path / "wh"))
        wh2._commit_manifest(wh2.manifest())
        assert wh2.manifest()["iceberg_probe"]["backend"] == "iceberg"
    finally:
        del _os.environ["KGSPARK_ICEBERG_JAR"]
    # re-init flips the manifest back once the jar disappears again
    wh3 = Warehouse(spark, str(tmp_path / "wh"))
    wh3._commit_manifest(wh3.manifest())
    assert wh3.manifest()["iceberg_probe"]["backend"] == probe["backend"]

    # an unchanged backend state stays stash-free: nothing pending, and a
    # commit leaves the recorded probe identical
    wh4 = Warehouse(spark, str(tmp_path / "wh"))
    assert "iceberg_probe" not in wh4._pending


def test_read_as_of_time_travel(spark, tmp_path):
    """read_as_of returns exactly the table as of an earlier commit (the
    Iceberg VERSION AS OF analog): rows from later runs are excluded by
    partition pruning, unknown snapshots raise, and a later compaction
    expires pre-compaction history."""
    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 40, 42), wh, run_id="r1")
    r1_rows = {
        tuple(r) for r in wh.read("triples").drop("run_id").collect()
    }
    materialize.run_pipeline(spark, datagen.web_pages(spark, 90, 42), wh, run_id="r2")
    # snapshot at r1 must equal the table as it stood after r1
    snap = wh.read_as_of("triples", "r1")
    assert {tuple(r) for r in snap.drop("run_id").collect()} == r1_rows
    # snapshot at the head run equals the full current table
    head = wh.read_as_of("triples", "r2")
    assert head.count() == wh.read("triples").count()
    # the excluded partition is pruned at planning, not filtered at runtime
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "run_id=r2" not in plan
    with pytest.raises(ValueError, match="not in the manifest"):
        wh.read_as_of("triples", "never-committed")
    # compaction expires earlier snapshots but keeps the head readable:
    # the base snapshot IS the full current table
    materialize.compact(wh, "triples")
    with pytest.raises(ValueError, match="predates a history-collapsing"):
        wh.read_as_of("triples", "r1")
    base = wh.manifest()["runs"][-1]["run_id"]
    assert wh.read_as_of("triples", base).count() == wh.read("triples").count()


def test_read_as_of_refuses_snapshots_across_history_resets(spark, tmp_path):
    """In-place rewrites collapse history: a full canonical rebuild (runs
    recorded via the run entry) and a delete/truncate (recorded via a
    maintenance entry) must make earlier snapshots raise, never return
    silently wrong rows."""
    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 40, 42), wh, run_id="r1")
    # r1's first canonical build wrote into EMPTY tables — nothing
    # pre-existing collapsed, so no reset entries exist yet
    assert not any("history_reset" in r for r in wh.manifest()["runs"])
    materialize.run_pipeline(spark, datagen.web_pages(spark, 90, 42), wh, run_id="r2")
    # canonical_triples history is valid between resets: r2 appended
    # incrementally, so the r1 snapshot (taken after r1's own rebuild) works
    assert wh.read_as_of("canonical_triples", "r1").count() > 0
    # a delete collapses triples history via a maintenance entry
    doomed = wh.read("triples").select("doc_id").limit(1)
    materialize.delete_ids(wh, "triples", "doc_id", doomed)
    with pytest.raises(ValueError, match="history-collapsing"):
        wh.read_as_of("triples", "r1")
    # the maintenance entry itself is a valid snapshot point == current state
    maint = wh.manifest()["runs"][-1]["run_id"]
    assert maint.startswith("maintenance-")
    assert wh.read_as_of("triples", maint).count() == wh.read("triples").count()


def test_delete_then_refeed_restores_deleted_docs(spark, tmp_path):
    """Tier-1 state must not make deletions permanent: deleting docs from
    the resume source-of-truth drops seen_inputs, so re-feeding the same
    pages re-extracts and re-lands the deleted docs (tier 2 still blocks
    duplicates of everything that survived)."""
    web = datagen.web_pages(spark, 60, 42)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, web, wh, run_id="r1")
    before = wh.read("docs").drop("run_id").count()
    victims = wh.read("docs").select("doc_id").limit(3)
    removed_status = materialize.delete_ids(
        wh, "doc_status", "doc_id", victims
    )
    materialize.delete_ids(wh, "docs", "doc_id", victims)
    assert removed_status == 3
    assert not wh.exists("seen_inputs")  # tier-1 state dropped
    e = materialize.run_pipeline(spark, web, wh, run_id="r2")
    # the re-feed re-extracted everything once (no prefilter state)...
    assert e["prefiltered_pages"] == 0
    # ...re-landed exactly the deleted docs, and duplicated nothing
    assert e["processed_docs"] == 3
    assert wh.read("docs").drop("run_id").count() == before
    assert wh.read("docs").select("doc_id").distinct().count() == before


# ------------------------------------------------------------- writer lease

def test_two_writer_race_both_runs_survive(spark, tmp_path):
    """Two concurrent batch writers on ONE warehouse root: the writer lease
    serializes them, so both manifest entries survive the read-modify-write
    and neither's sweep removes the other's in-flight partitions."""
    import threading

    wh = Warehouse(spark, str(tmp_path / "race"))
    webs = {
        "race-a": datagen.web_pages(spark, 15, 7),
        "race-b": datagen.web_pages(spark, 15, 8),
    }
    errs: list[Exception] = []

    def go(rid):
        try:
            materialize.run_pipeline(spark, webs[rid], wh, run_id=rid)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=go, args=(rid,)) for rid in webs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    rids = [r["run_id"] for r in wh.manifest()["runs"]]
    assert "race-a" in rids and "race-b" in rids
    # both writers' committed partitions are present and the sweep removes
    # nothing committed
    docs_before = wh.read("docs").count()
    per_run = dict(
        wh.read("docs").groupBy("run_id").count().rdd
        .map(lambda r: (r["run_id"], r["count"])).collect()
    )
    assert set(per_run) >= {"race-a", "race-b"}
    materialize._cleanup_uncommitted(wh)
    assert wh.read("docs").count() == docs_before


def test_writer_lease_crash_release_and_live_holder(spark, tmp_path):
    import os
    import signal
    import subprocess
    import sys

    import pytest as _pytest

    wh = Warehouse(spark, str(tmp_path / "lease"))
    lock = os.path.join(wh.root, ".writer.lock")

    # a leftover lockfile with NO live flock holder (e.g. a crashed writer:
    # the kernel already dropped its lock) is acquired immediately — there
    # is no stale-pid state to steal
    with open(lock, "w") as f:
        f.write("999999999")
    with wh.writer_lease(timeout_s=5.0):
        pass

    # a LIVE flock holder in another process is honored until timeout ...
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            "fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('held', flush=True)\n"
            "time.sleep(60)\n",
            lock,
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert holder.stdout.readline().strip() == b"held"
        with _pytest.raises(TimeoutError):
            with wh.writer_lease(timeout_s=0.3):
                pass
        # ... and a SIGKILLed holder's lock is released by the kernel, so
        # the next waiter acquires without any manual cleanup
        holder.send_signal(signal.SIGKILL)
        holder.wait()
        with wh.writer_lease(timeout_s=5.0):
            pass
    finally:
        if holder.poll() is None:  # pragma: no cover - failure path
            holder.kill()
            holder.wait()

    # reentrant: nested acquisition by the holding thread must not deadlock
    with wh.writer_lease(timeout_s=2.0):
        with wh.writer_lease(timeout_s=2.0):
            wh.mutate_manifest(lambda m: m.setdefault("runs", []))


def test_schema_evolution_add_omit_and_snapshot_schema(spark, tmp_path):
    """Iceberg add-column semantics on the parquet fallback: a later batch
    may add or omit columns (NULL-filled on read), a type change is
    rejected BEFORE any file lands, and read_as_of applies the schema as
    of the snapshot (added columns are absent, not null)."""
    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def commit(run_id):
        wh.mutate_manifest(lambda m: m["runs"].append({"run_id": run_id}))

    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    wh.append("t", v1, "r1"); commit("r1")
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double")
    wh.append("t", v2, "r2"); commit("r2")  # ADD column
    v3 = spark.createDataFrame([(3,)], "id long")
    wh.append("t", v3, "r3"); commit("r3")  # OMIT columns

    got = {r["id"]: (r["name"], r["score"]) for r in wh.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5), 3: (None, None)}
    # canonical column order: registry insertion order, run_id last
    assert wh.read("t").columns == ["id", "name", "score", "run_id"]

    # snapshot schema: as of r1 the score column does not exist AT ALL
    snap1 = wh.read_as_of("t", "r1")
    assert snap1.columns == ["id", "name", "run_id"]
    assert [r["id"] for r in snap1.collect()] == [1]
    # as of r2 it does, and r1's row reads NULL
    snap2 = wh.read_as_of("t", "r2")
    assert set(snap2.columns) == {"id", "name", "score", "run_id"}
    assert {r["id"]: r["score"] for r in snap2.collect()} == {1: None, 2: 9.5}

    # type change is rejected before any file is written
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(wh.table_path("t"))
        for f in fn
        if f.endswith(".parquet")
    )
    bad = spark.createDataFrame([(4, 7)], "id long, name long")
    with pytest.raises(ValueError, match="type change"):
        wh.append("t", bad, "r4")
    files_after = sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(wh.table_path("t"))
        for f in fn
        if f.endswith(".parquet")
    )
    assert files_after == files_before

    # an overwrite resets schema history along with the data
    wh.write("t", spark.createDataFrame([(9,)], "only long"))
    assert wh._schema_log("t") == []
    assert wh.read("t").columns == ["only"]


def test_neardup_incremental_index(spark, tmp_path):
    """Incremental near-dup dedup against the persisted LSH index: batch-2
    near-dups of batch-1 docs are caught WITHOUT rescanning the corpus,
    within-batch dups collapse to the component-min representative, and the
    index grows only by the new docs (4 band rows per doc)."""
    import hashlib

    from kgspark.textops import LSH_BAND_ROWS, MINHASH_K

    def did(t):
        return "doc-" + hashlib.sha256(t.strip().encode()).hexdigest()

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = " ".join(f"tok{i}" for i in range(80))
    edit_a = base.replace("tok7 ", "zzz ")        # near-dup of base
    other = " ".join(f"alt{i}" for i in range(80))

    d1 = spark.createDataFrame(
        [(0, base), (1, edit_a), (2, other)], ["doc_id", "text"]
    )
    s1 = {
        r["kg_doc_id"]: (r["status"], r["dup_of"])
        for r in materialize.neardup_filter_batch(wh, d1, "r1").collect()
    }
    rep = min(did(base), did(edit_a))
    member = max(did(base), did(edit_a))
    assert s1[rep] == ("new", None)
    assert s1[member] == ("dup_in_batch", rep)
    assert s1[did(other)] == ("new", None)
    n_bands = MINHASH_K // LSH_BAND_ROWS
    assert wh.read("neardup_bands").count() == 2 * n_bands

    # batch 2: a DIFFERENT edit of base (never seen byte-wise) + a fresh doc
    edit_b = base.replace("tok31 ", "qqq ")
    fresh = " ".join(f"new{i}" for i in range(80))
    d2 = spark.createDataFrame([(10, edit_b), (11, fresh)], ["doc_id", "text"])
    s2 = {
        r["kg_doc_id"]: (r["status"], r["dup_of"])
        for r in materialize.neardup_filter_batch(wh, d2, "r2").collect()
    }
    assert s2[did(edit_b)] == ("dup_of_indexed", rep)
    assert s2[did(fresh)] == ("new", None)
    # index grew only by the fresh doc
    assert wh.read("neardup_bands").count() == 3 * n_bands
    assert wh.read("neardup_shingles").count() == 3


def test_run_pipeline_neardup_flag(spark, tmp_path):
    """run_pipeline(neardup=True): near-duplicate pages drop against the
    persisted index BEFORE the construction stages — within the batch and
    across batches — and the run entry reports neardup_docs; default-off
    batches are unaffected (exact dedup only)."""
    import datetime as dt

    base = " ".join(f"tok{i}" for i in range(80))

    def page(url, body):
        html = f"<html><body><p>{body}</p></body></html>".encode()
        return (url, dt.datetime(2024, 1, 1), html, "", "en")

    wh = Warehouse(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [
            page("http://a.test/", base),
            page("http://b.test/", base.replace("tok7 ", "zzz ")),  # near-dup
            page("http://c.test/", " ".join(f"alt{i}" for i in range(80))),
        ],
        datagen.SCHEMA,
    )
    e1 = materialize.run_pipeline(spark, b1, wh, run_id="r1", neardup=True)
    assert e1["neardup_docs"] == 1
    assert e1["processed_docs"] == 2
    assert wh.read("docs").count() == 2

    b2 = spark.createDataFrame(
        [
            page("http://d.test/", base.replace("tok31 ", "qqq ")),  # vs index
            page("http://e.test/", " ".join(f"new{i}" for i in range(80))),
        ],
        datagen.SCHEMA,
    )
    e2 = materialize.run_pipeline(spark, b2, wh, run_id="r2", neardup=True)
    assert e2["neardup_docs"] == 1
    assert e2["processed_docs"] == 1
    assert wh.read("docs").count() == 3

    # default-off: the same near-dup batch materializes everything
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    e3 = materialize.run_pipeline(spark, b1, wh2, run_id="r1")
    assert e3["neardup_docs"] == 0
    assert e3["processed_docs"] == 3


def test_diff_as_of_incremental_scan(spark, tmp_path):
    """Snapshot diff returns exactly the rows the in-between commits added,
    by partition pruning (no exceptAll over either snapshot), and refuses
    unaddressable or misordered windows."""
    import pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 40, 42), wh, run_id="r1")
    materialize.run_pipeline(spark, datagen.web_pages(spark, 90, 42), wh, run_id="r2")

    d = materialize.diff_as_of(wh, "triples", "r1", "r2")
    want = {
        tuple(r)
        for r in wh.read_as_of("triples", "r2").drop("run_id").collect()
    } - {
        tuple(r)
        for r in wh.read_as_of("triples", "r1").drop("run_id").collect()
    }
    got_rows = d.collect()
    assert all(r["change"] == "added" for r in got_rows)
    got = {tuple(r) for r in d.drop("run_id", "change").collect()}
    # r2 re-feeds r1's pages plus new ones; resume dedup means the diff is
    # exactly the new docs' triples
    assert got == want and len(got) > 0
    # self-diff is empty; pruning is at planning time (r1 partition absent)
    assert materialize.diff_as_of(wh, "triples", "r2", "r2").count() == 0
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "run_id=r1" not in plan
    with pytest.raises(ValueError, match="no later"):
        materialize.diff_as_of(wh, "triples", "r2", "r1")
    with pytest.raises(ValueError, match="not in the manifest"):
        materialize.diff_as_of(wh, "triples", "r1", "nope")
    # a compaction collapses history -> the old window must refuse
    materialize.compact(wh, "triples")
    with pytest.raises(ValueError, match="history-collapsing"):
        materialize.diff_as_of(wh, "triples", "r1", "r2")


def test_append_reports_its_write_without_a_read_back(spark, tmp_path):
    """An append is one Spark job: its row total is observed inside the
    write, and its per-task counts and byte size come from the footers of
    the files it created — the table is never read back."""
    import uuid

    import pyarrow.parquet as pq

    from kgspark.session import LineageScope

    wh = Warehouse(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    group = f"append-{uuid.uuid4()}"
    with LineageScope() as ls:
        df = ls.hold(
            spark.range(100).selectExpr("id", "cast(id % 7 as string) AS k").coalesce(1)
        )
        df.count()
        sc.setJobGroup(group, group)
        try:
            m = wh.append("t", df, "r1")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sum(m["partitions"].values()) == m["n_rows"] == 100
    run_dir = os.path.join(wh.table_path("t"), "run_id=r1")
    files = [
        os.path.join(run_dir, f) for f in os.listdir(run_dir) if f.endswith(".parquet")
    ]
    assert sum(pq.read_metadata(f).num_rows for f in files) == m["n_rows"]
    assert m["n_bytes"] == sum(os.path.getsize(f) for f in files) > 0


def test_schema_entries_commit_with_their_run(spark, tmp_path):
    """A cold batch commits the manifest once: schema entries ride the
    run's commit.  An append under a run that never commits leaves no
    schema entry on disk, and the next batch sweeps its partition and
    drops its pending entry."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    commits = []
    commit = wh._commit_manifest
    wh._commit_manifest = lambda m: (commits.append(len(m["runs"])), commit(m))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 30, 42), wh, run_id="r1")
    assert commits == [1]
    assert [v["run_id"] for v in wh._schema_log("docs")] == ["r1"]

    rows = wh.read("docs").drop("run_id").limit(3).collect()
    extra = spark.createDataFrame(rows, wh.read("docs").drop("run_id").schema)
    wh.append("docs", extra.withColumn("extra", F.lit(1)), "crashed")
    assert wh._schema_log("docs")[-1]["run_id"] == "crashed"  # same batch sees it
    assert [v["run_id"] for v in Warehouse(spark, root)._schema_log("docs")] == ["r1"]

    e = materialize.run_pipeline(spark, datagen.web_pages(spark, 60, 42), wh, run_id="r2")
    assert e["processed_docs"] > 0
    assert not any("crashed" in d for d in os.listdir(wh.table_path("docs")))
    fresh = Warehouse(spark, root)
    assert [v["run_id"] for v in fresh._schema_log("docs")] == ["r1"]
    assert "extra" not in fresh.read("docs").columns


def test_neardup_kernel_runs_once_per_batch_doc(spark, tmp_path, monkeypatch):
    """The near-dup filter hands its held signatures to the clustering step,
    so the minhash kernel shingles each batch doc once."""
    from kgspark import textops

    acc = spark.sparkContext.accumulator(0)
    kernel = textops._sig_shingle_kernel

    def counting(k, include_shingles):
        gen = kernel(k, include_shingles)

        def run(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield from gen(iter([pdf]))

        return run

    monkeypatch.setattr(textops, "_sig_shingle_kernel", counting)
    pages = spark.createDataFrame(datagen.web_pages_rows(60, 42)[:40], datagen.SCHEMA)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    e = materialize.run_pipeline(spark, pages, wh, "r1", neardup=True)
    assert acc.value == e["processed_docs"] + e["neardup_docs"] == 35


def test_one_write_path():
    """In materialize.py a DataFrame ``.write`` appears only in the
    warehouse write helper and in the JSON export, and no metric groups by
    ``spark_partition_id`` (no read-back metrics job)."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path(materialize.__file__).read_text())
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Attribute) and (
                child.attr == "spark_partition_id"
                or child.attr == "write"
                and id(child) not in called
                and fn not in ("_write", "export_json")
            ):
                found.append(f"{fn}:{child.lineno} {child.attr}")
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_fn else fn)

    visit(tree, "<module>")
    assert found == []
