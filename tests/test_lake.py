"""Transaction-log lake format (sales_etl_spark/lake.py): atomic
manifest commits, append/overwrite snapshots, time travel, orphan
invisibility, version-race retry, vacuum retention."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sales_etl_spark import lake  # noqa: E402


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = lake.commit_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t
    )
    v1 = lake.commit_write(
        spark.createDataFrame([(3, "c")], "k long, v string"), t, "append"
    )
    v2 = lake.commit_write(
        spark.createDataFrame([(9, "z")], "k long, v string"), t, "overwrite"
    )
    assert (v0, v1, v2) == (0, 1, 2)
    assert lake.versions(t) == [0, 1, 2]
    # latest = the overwrite snapshot
    assert _rows(lake.read_table(spark, t)) == [(9, "z")]
    # time travel reproduces every prior snapshot
    assert _rows(lake.read_table(spark, t, 0)) == [(1, "a"), (2, "b")]
    assert _rows(lake.read_table(spark, t, 1)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_orphan_data_files_are_invisible(spark, tmp_path):
    """A crash after data files land but before the manifest appears
    must leave the table exactly as it was — staged bytes are not
    state until the manifest says so."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    # simulate the torn write: data file present, no manifest
    orphan_src = spark.createDataFrame([(99, "orphan")], "k long, v string")
    staging = Path(t) / "_crash_stage"
    orphan_src.write.parquet(str(staging))
    for i, p in enumerate(staging.glob("*.parquet")):
        p.rename(Path(t) / "data" / f"deadbeef-part{i:05d}.parquet")
    assert _rows(lake.read_table(spark, t)) == [(1, "a")]
    # vacuum reclaims the orphan
    deleted = lake.vacuum(t, keep_versions=1)
    assert any("deadbeef" in d for d in deleted)


def test_commit_retries_past_version_race(spark, tmp_path):
    """If another committer claims the next version first, the commit
    re-reads the log and lands on the following one — append contents
    compose over the interloper's snapshot."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    # interloper claims version 1 directly (complete manifest)
    (Path(t) / "_log" / "00000001.json").write_text(
        json.dumps({"version": 1, "mode": "append",
                    "files": lake._read_manifest(t, 0)["files"],
                    "n_new_files": 0})
    )
    v = lake.commit_write(
        spark.createDataFrame([(2, "b")], "k long, v string"), t, "append"
    )
    assert v == 2
    assert _rows(lake.read_table(spark, t)) == [(1, "a"), (2, "b")]


def test_vacuum_drops_unretained_versions_and_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    lake.commit_write(
        spark.createDataFrame([(2, "b")], "k long, v string"), t, "overwrite"
    )
    deleted = lake.vacuum(t, keep_versions=1)
    assert deleted  # v0's file gone
    assert lake.versions(t) == [1]
    assert _rows(lake.read_table(spark, t)) == [(2, "b")]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lake.read_table(spark, t, 0)  # time travel window shrank


def test_upsert_compaction_over_lake_versions(spark, tmp_path):
    """The streaming-upsert story on the log: each batch appends, a
    compaction overwrites with the deterministic last-wins snapshot —
    and any historical version remains readable."""
    from sales_etl_spark.operators.upsert import upsert_last_wins

    t = str(tmp_path / "dim")
    lake.commit_write(
        spark.createDataFrame(
            [(1, "a0", 1), (2, "b0", 1)], "k long, v string, ver long"
        ), t,
    )
    lake.commit_write(
        spark.createDataFrame(
            [(1, "a2", 3), (1, "a1", 2)], "k long, v string, ver long"
        ), t, "append",
    )
    compacted = upsert_last_wins(
        lake.read_table(spark, t), ["k"], ["ver"]
    )
    lake.commit_write(compacted, t, "overwrite")
    got = {
        (r.k, r.v, r.ver)
        for r in lake.read_table(spark, t).collect()
    }
    assert got == {(1, "a2", 3), (2, "b0", 1)}
    assert lake.read_table(spark, t, 0).count() == 2  # history intact


def test_commit_upsert_batch_exactly_once_under_replay(spark, tmp_path):
    """A replayed micro-batch (same batch_id) is skipped before any
    write: version count and snapshot both unchanged — exactly-once
    table state from at-least-once delivery."""
    t = str(tmp_path / "dim")
    b0 = spark.createDataFrame(
        [(1, "a0", 1), (2, "b0", 1)], "k long, v string, ver long"
    )
    assert lake.commit_upsert_batch(b0, t, ["k"], ["ver"], batch_id=0) == 0
    b1 = spark.createDataFrame(
        [(1, "a2", 3), (3, "c0", 1)], "k long, v string, ver long"
    )
    v1 = lake.commit_upsert_batch(b1, t, ["k"], ["ver"], batch_id=1)
    assert v1 == 1
    # replay of the LAST batch (the one legitimate SS replay): no-op
    assert lake.commit_upsert_batch(b1, t, ["k"], ["ver"], batch_id=1) is None
    # an id STRICTLY BELOW the marker means a reset checkpoint — a
    # silent skip would be data loss, so it raises (round-10 advice)
    with pytest.raises(lake.BatchIdRegression):
        lake.commit_upsert_batch(b0, t, ["k"], ["ver"], batch_id=0)
    assert lake.versions(t) == [0, 1]
    got = {
        (r.k, r.v, r.ver) for r in lake.read_table(spark, t).collect()
    }
    assert got == {(1, "a2", 3), (2, "b0", 1), (3, "c0", 1)}


def test_commit_append_batch_exactly_once_under_replay(spark, tmp_path):
    """The append-mode sibling of the upsert batch commit: a replayed
    micro-batch (same or older batch_id) is detected from the latest
    manifest BEFORE any write and skipped — version count and row
    count both unchanged, so an at-least-once foreachBatch never
    double-appends index rows."""
    t = str(tmp_path / "idx")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, band long")
    b1 = spark.createDataFrame([(3, 10)], "k long, band long")
    assert lake.latest_batch_id(t) is None  # empty table
    assert lake.commit_append_batch(b0, t, batch_id=0) == 0
    assert lake.latest_batch_id(t) == 0
    assert lake.commit_append_batch(b1, t, batch_id=1) == 1
    # replay of the LAST batch (the one legitimate SS replay): no-op
    assert lake.commit_append_batch(b1, t, batch_id=1) is None
    # an id STRICTLY BELOW the marker means a reset checkpoint — a
    # silent skip would be data loss, so it raises (round-10 advice)
    with pytest.raises(lake.BatchIdRegression):
        lake.commit_append_batch(b0, t, batch_id=0)
    assert lake.versions(t) == [0, 1]
    assert lake.read_table(spark, t).count() == 3
    # a later batch still appends normally
    assert lake.commit_append_batch(b0, t, batch_id=2) == 2
    assert lake.read_table(spark, t).count() == 5


def test_batch_marker_survives_foreign_commits(spark, tmp_path):
    """Round-10 advice, silent-wrong-data mode (a): a foreign commit
    on the index table AFTER batch N (a compaction, a manual append)
    must NOT erase the replay marker — the newest-first marker scan
    finds it past the foreign manifest, so a later replay of batch N
    is still skipped instead of double-appended."""
    t = str(tmp_path / "idx")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, band long")
    b1 = spark.createDataFrame([(3, 30)], "k long, band long")
    assert lake.commit_append_batch(b0, t, batch_id=0, query_id="q") == 0
    assert lake.commit_append_batch(b1, t, batch_id=1, query_id="q") == 1
    # foreign commits: a compaction AND a manual unmarked append
    lake.compact(spark, t, target_files=1)
    lake.commit_write(
        spark.createDataFrame([(9, 90)], "k long, band long"), t, "append"
    )
    assert lake.latest_batch_id(t, "q") == 1  # marker scanned past both
    rows = lake.read_table(spark, t).count()
    # replay of batch 1 after the foreign commits: still skipped
    assert lake.commit_append_batch(b1, t, batch_id=1, query_id="q") is None
    assert lake.read_table(spark, t).count() == rows
    # and the stream continues normally
    assert lake.commit_append_batch(b0, t, batch_id=2, query_id="q") is not None
    assert lake.read_table(spark, t).count() == rows + 2


def test_batch_markers_are_query_scoped(spark, tmp_path):
    """Two streaming queries writing one table keep INDEPENDENT replay
    markers (Delta's (appId, batchId) txn pattern): query B committing
    batch 5 neither skips nor breaks query A's batch 2, and each
    query's replay test sees only its own marker."""
    t = str(tmp_path / "shared")
    b = spark.createDataFrame([(1, 10)], "k long, band long")
    assert lake.commit_append_batch(b, t, batch_id=0, query_id="A") == 0
    assert lake.commit_append_batch(b, t, batch_id=5, query_id="B") == 1
    # A's next batch is unaffected by B's higher id
    assert lake.commit_append_batch(b, t, batch_id=1, query_id="A") == 2
    assert lake.latest_batch_id(t, "A") == 1
    assert lake.latest_batch_id(t, "B") == 5
    assert lake.latest_batch_id(t, None) is None  # no unscoped marker
    # replays resolve per query
    assert lake.commit_append_batch(b, t, batch_id=1, query_id="A") is None
    assert lake.commit_append_batch(b, t, batch_id=5, query_id="B") is None


def test_batch_marker_stamped_atomically_in_manifest(spark, tmp_path):
    """The batch_id / txn_app_id marker is part of the committed
    manifest itself (extra_manifest inside the O_EXCL publish), not a
    post-publish rewrite — so no crash window can leave a committed
    version missing its marker. Verified by reading the manifest JSON
    straight off disk."""
    t = str(tmp_path / "idx")
    b = spark.createDataFrame([(1, 10)], "k long, band long")
    assert lake.commit_append_batch(b, t, batch_id=7, query_id="q7") == 0
    m = json.loads((Path(t) / "_log" / "00000000.json").read_text())
    assert m["batch_id"] == 7 and m["txn_app_id"] == "q7"
    # upsert sibling: same atomic stamp
    lake.commit_upsert_batch(
        b, t, keys=["k"], order_by=["band"], batch_id=8, query_id="q7"
    )
    m1 = json.loads((Path(t) / "_log" / "00000001.json").read_text())
    assert m1["batch_id"] == 8 and m1["txn_app_id"] == "q7"


def test_extra_manifest_rejects_protocol_keys(spark, tmp_path):
    """extra_manifest shadowing a protocol key (files, version, ...)
    would corrupt the snapshot silently — rejected up front."""
    t = str(tmp_path / "tbl")
    b = spark.createDataFrame([(1, 10)], "k long, band long")
    with pytest.raises(ValueError, match="protocol keys"):
        lake.commit_write(b, t, "append", extra_manifest={"files": []})


def test_concurrent_writers_one_winner_per_version(spark, tmp_path):
    """TRUE concurrent appends (threads racing the O_EXCL link
    protocol, not a monkeypatched interleave): every commit lands,
    each version has exactly one manifest, no version gaps, no rows
    lost, and fsck finds a fully-consistent table — the observed
    behavior behind the optimistic-concurrency argument."""
    import threading

    t = str(tmp_path / "race")
    n_writers, per_writer = 4, 3
    # pre-stage each writer's parquet bytes so the racing section is
    # the commit protocol itself, not Spark job scheduling
    frames = {
        (w, i): spark.createDataFrame(
            [(w, i)], "writer long, seq long"
        )
        for w in range(n_writers)
        for i in range(per_writer)
    }
    errs: list[Exception] = []
    barrier = threading.Barrier(n_writers)

    def _writer(w: int) -> None:
        try:
            barrier.wait()
            for i in range(per_writer):
                lake.commit_write(frames[(w, i)], t, "append")
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [
        threading.Thread(target=_writer, args=(w,))
        for w in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    total = n_writers * per_writer
    assert lake.versions(t) == list(range(total))
    report = lake.fsck(t)
    assert report["ok"] and not report["version_gaps"]
    got = sorted(
        (r.writer, r.seq) for r in lake.read_table(spark, t).collect()
    )
    assert got == sorted(frames.keys())


def test_stream_upsert_lake_converges_and_versions(spark, tmp_path):
    """3-micro-batch stream through the exactly-once lake sink: final
    snapshot equals one-shot last-wins compaction, and every batch is
    a time-travel-readable version."""
    from sales_etl_spark.operators.upsert import upsert_last_wins

    schema = "k long, v string, ver long"
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, "a0", 1), (2, "b0", 1)],
        [(1, "a2", 3), (2, "b1", 2)],
        [(1, "a1", 2), (4, "d0", 1)],  # stale update for k=1
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    want = {
        (r.k, r.v, r.ver)
        for r in upsert_last_wins(
            spark.createDataFrame(
                [r for b in batches for r in b], schema
            ),
            ["k"], ["ver"],
        ).collect()
    }
    t = str(tmp_path / "tbl")
    q = (
        lake.stream_upsert_lake(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            t, ["k"], ["ver"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {(r.k, r.v, r.ver) for r in lake.read_table(spark, t).collect()}
    assert got == want
    assert len(lake.versions(t)) == 3  # one version per micro-batch
    assert lake.read_table(spark, t, 0).count() == 2  # history intact


def test_schema_evolution_merge_on_read(spark, tmp_path):
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    lake.commit_write(
        spark.createDataFrame(
            [(2, "b", 9.5)], "k long, v string, score double"
        ), t, "append",
    )
    got = {
        r.k: (r.v, r.score)
        for r in lake.read_table(spark, t, merge_schema=True).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_change_feed_for_append_commits(spark, tmp_path):
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    lake.commit_write(
        spark.createDataFrame([(2, "b")], "k long, v string"), t, "append"
    )
    lake.commit_write(
        spark.createDataFrame([(3, "c")], "k long, v string"), t, "append"
    )
    assert _rows(lake.read_changes(spark, t, 0)) == [(2, "b"), (3, "c")]
    assert _rows(lake.read_changes(spark, t, 1, 2)) == [(3, "c")]
    assert lake.read_changes(spark, t, 2).count() == 0
    # overwrite breaks row-level deltas: refuse loudly
    lake.commit_write(
        spark.createDataFrame([(9, "z")], "k long, v string"), t, "overwrite"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lake.read_changes(spark, t, 0)


def test_compact_binpacks_files_and_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE: after many small appends, compact() must produce one
    new version whose snapshot has identical rows in target_files
    files, while every pre-compact version stays time-travelable."""
    t = str(tmp_path / "tbl")
    for i in range(4):
        lake.commit_write(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
            t, "append",
        )
    before = _rows(lake.read_table(spark, t))
    n_files_before = len(
        json.loads(
            (Path(t) / "_log" / "00000003.json").read_text()
        )["files"]
    )
    assert n_files_before >= 4

    v = lake.compact(spark, t, target_files=1)
    assert v == 4
    manifest = json.loads(
        (Path(t) / "_log" / "00000004.json").read_text()
    )
    assert len(manifest["files"]) == 1
    assert _rows(lake.read_table(spark, t)) == before
    # history intact until vacuum
    assert _rows(lake.read_table(spark, t, 3)) == before
    assert _rows(lake.read_table(spark, t, 0)) == [(0, "v0")]


def test_compact_refuses_to_drop_a_concurrent_append(spark, tmp_path, monkeypatch):
    """Lost-update guard: an append that lands between compact()'s
    snapshot read and its publish must NOT vanish — the CAS commit
    detects the advanced version and the compaction re-reads,
    retries, and keeps the new row."""
    t = str(tmp_path / "tbl")
    for i in range(2):
        lake.commit_write(
            spark.createDataFrame([(i,)], "k long"), t, "append"
        )

    real_commit = lake.commit_write
    raced = {"done": False}

    def racing_commit(df, table_path, mode="append", max_retries=10,
                      expected_base=None, **kwargs):
        # inject a concurrent append the first time compact() publishes
        if expected_base is not None and not raced["done"]:
            raced["done"] = True
            real_commit(
                spark.createDataFrame([(99,)], "k long"), t, "append"
            )
        return real_commit(
            df, table_path, mode=mode, max_retries=max_retries,
            expected_base=expected_base,
        )

    monkeypatch.setattr(lake, "commit_write", racing_commit)
    v = lake.compact(spark, t, target_files=1)
    got = sorted(r.k for r in lake.read_table(spark, t).collect())
    assert got == [0, 1, 99]  # the racing append survived compaction
    assert v == lake.versions(t)[-1]


def test_commit_write_cas_raises_on_stale_base(spark, tmp_path):
    t = str(tmp_path / "tbl")
    lake.commit_write(spark.createDataFrame([(1,)], "k long"), t)
    lake.commit_write(spark.createDataFrame([(2,)], "k long"), t, "append")
    import pytest as _pytest

    with _pytest.raises(lake.CommitConflict):
        lake.commit_write(
            spark.createDataFrame([(3,)], "k long"), t, "overwrite",
            expected_base=0,
        )


def test_upsert_remerges_when_compaction_lands_mid_merge(spark, tmp_path, monkeypatch):
    """A scheduled compaction landing between an upsert's snapshot
    read and its publish must force a re-merge (CommitConflict), not
    be overwritten away."""
    t = str(tmp_path / "tbl")
    lake.commit_upsert_batch(
        spark.createDataFrame([(1, 1, "a")], "k long, v long, p string"),
        t, keys=["k"], order_by=["v"], batch_id=0,
    )
    lake.commit_write(
        spark.createDataFrame([(2, 1, "b")], "k long, v long, p string"),
        t, "append",
    )

    real_commit = lake.commit_write
    raced = {"done": False}

    def racing_commit(df, table_path, mode="append", max_retries=10,
                      expected_base=None, **kwargs):
        if expected_base is not None and not raced["done"]:
            raced["done"] = True
            # compaction completes first: rewrites the 2-row snapshot
            lake.compact(spark, t, target_files=1)
        return real_commit(
            df, table_path, mode=mode, max_retries=max_retries,
            expected_base=expected_base, **kwargs,
        )

    monkeypatch.setattr(lake, "commit_write", racing_commit)
    v = lake.commit_upsert_batch(
        spark.createDataFrame([(1, 2, "a2")], "k long, v long, p string"),
        t, keys=["k"], order_by=["v"], batch_id=1,
    )
    assert v == lake.versions(t)[-1]
    got = sorted((r.k, r.v, r.p) for r in lake.read_table(spark, t).collect())
    # k=1 took the newer payload, and no row was lost to the blind
    # overwrite the CAS exists to prevent (the first publish attempt
    # was staged against the pre-compaction version)
    assert got == [(1, 2, "a2"), (2, 1, "b")]


@pytest.mark.parametrize("op", ["merge_into", "delete_where"])
def test_dml_redoes_work_when_compaction_lands_mid_call(
    spark, tmp_path, monkeypatch, op
):
    """A compaction landing between a merge's or a delete's snapshot
    read and its publish must make the call recompute its deletion
    vectors against the compacted snapshot (CommitConflict, re-read)
    — never publish vectors that point at the files it replaced."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t
    )
    lake.commit_write(
        spark.createDataFrame([(3, "c")], "k long, v string"), t, "append"
    )

    real_commit = lake.commit_staged
    raced = {"done": False}

    def racing_commit(table_path, new_files, mode="append", **kwargs):
        if mode in ("merge", "delete") and not raced["done"]:
            raced["done"] = True
            # compaction completes first: rewrites the 3-row snapshot
            lake.compact(spark, t, target_files=1)
        return real_commit(table_path, new_files, mode, **kwargs)

    monkeypatch.setattr(lake, "commit_staged", racing_commit)
    if op == "merge_into":
        v = lake.merge_into(
            spark, t,
            spark.createDataFrame([(2, "b2"), (4, "d")], "k long, v string"),
            keys=["k"],
        )
        want = [(1, "a"), (2, "b2"), (3, "c"), (4, "d")]
    else:
        v = lake.delete_where(spark, t, "k = 2")
        want = [(1, "a"), (3, "c")]
    assert raced["done"]
    # v0, v1, the compaction's v2, then the redone call
    assert v == lake.versions(t)[-1] == 3
    compacted = lake._read_manifest(t, 2)["files"]
    m = lake._read_manifest(t, v)
    assert m["files"][: len(compacted)] == compacted
    dv = spark.read.parquet(*[str(Path(t) / f) for f in m["delete_files"]])
    assert {r["__file"] for r in dv.collect()} == {
        Path(f).name for f in compacted
    }
    assert _rows(lake.read_table(spark, t)) == want
    report = lake.fsck(t)
    assert report["ok"] and not report["missing_files"]


def test_merge_into_empty_table_merges_when_a_writer_creates_it_first(
    spark, tmp_path, monkeypatch
):
    """A merge into an empty table commits as the table's first version
    (expected_base=-1); when another writer creates the table first,
    the merge must re-read and merge into it, not raise."""
    t = str(tmp_path / "tbl")
    real_commit = lake.commit_staged
    raced = {"done": False}

    def racing_commit(table_path, new_files, mode="append", **kwargs):
        if kwargs.get("expected_base") == -1 and not raced["done"]:
            raced["done"] = True
            lake.commit_write(
                spark.createDataFrame(
                    [(1, "a"), (2, "b")], "k long, v string"
                ),
                t,
            )
        return real_commit(table_path, new_files, mode, **kwargs)

    monkeypatch.setattr(lake, "commit_staged", racing_commit)
    v = lake.merge_into(
        spark, t,
        spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"),
        keys=["k"],
    )
    assert raced["done"]
    assert v == 1 and lake._read_manifest(t, v)["mode"] == "merge"
    assert _rows(lake.read_table(spark, t)) == [(1, "a"), (2, "b2"), (3, "c")]


def test_merge_and_delete_manifests_keep_their_keys_and_modes(
    spark, tmp_path
):
    """Merge and delete publish through the same commit as appends,
    yet their manifests keep the layout readers and existing tables
    rely on: the same keys in the same order, the ``delete``/``merge``
    labels, and deletion vectors, stats and blooms carried forward."""
    t = str(tmp_path / "tbl")
    v0 = lake.commit_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ),
        t, stats_cols=["k"], bloom_cols=["k"],
    )
    m0 = lake._read_manifest(t, v0)
    full = ["version", "mode", "files", "n_new_files", "delete_files",
            "stats", "bloom"]

    vd = lake.delete_where(spark, t, "k = 1")
    md = lake._read_manifest(t, vd)
    assert list(md) == full
    assert (md["version"], md["mode"], md["n_new_files"]) == (1, "delete", 0)
    assert md["files"] == m0["files"]
    assert len(md["delete_files"]) == 1
    assert (md["stats"], md["bloom"]) == (m0["stats"], m0["bloom"])

    vm = lake.merge_into(
        spark, t,
        spark.createDataFrame([(2, "x"), (20, "y")], "k long, v string"),
        keys=["k"],
    )
    mm = lake._read_manifest(t, vm)
    assert list(mm) == full
    assert (mm["version"], mm["mode"]) == (2, "merge")
    new = mm["files"][len(md["files"]):]
    assert mm["files"][: len(md["files"])] == md["files"]
    assert mm["n_new_files"] == len(new) >= 1
    assert mm["delete_files"][: len(md["delete_files"])] == md["delete_files"]
    assert len(mm["delete_files"]) == len(md["delete_files"]) + 1
    # the merge's new files carry no skip index (unknown => read)
    assert (mm["stats"], mm["bloom"]) == (m0["stats"], m0["bloom"])

    # a pure-insert merge into a table with no vectors or skip index
    # writes only the four core keys
    t2 = str(tmp_path / "plain")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t2
    )
    v = lake.merge_into(
        spark, t2, spark.createDataFrame([(5, "e")], "k long, v string"),
        keys=["k"],
    )
    m = lake._read_manifest(t2, v)
    assert list(m) == ["version", "mode", "files", "n_new_files"]
    assert m["mode"] == "merge"

    # both labels are read-modify-write: positions need a pinned base
    for mode in ("merge", "delete"):
        with pytest.raises(ValueError, match="expected_base"):
            lake.commit_staged(t2, [], mode)


def test_delete_where_removes_rows_without_rewriting_files(spark, tmp_path):
    """Deletion vectors: DELETE drops rows at read time, data files
    stay byte-identical, time travel shows pre-delete state, and a
    no-match predicate burns no version."""
    t = str(tmp_path / "tbl")
    v0 = lake.commit_write(
        spark.createDataFrame(
            [(i, "keep" if i % 2 else "drop") for i in range(10)],
            "k long, v string",
        ),
        t,
    )
    data_files = sorted((Path(t) / "data").glob("*.parquet"))
    before = [(f.name, f.stat().st_size, f.stat().st_mtime_ns) for f in data_files]

    v1 = lake.delete_where(spark, t, "v = 'drop'")
    assert v1 == v0 + 1
    after = [(f.name, f.stat().st_size, f.stat().st_mtime_ns)
             for f in sorted((Path(t) / "data").glob("*.parquet"))]
    assert before == after  # data files untouched
    assert _rows(lake.read_table(spark, t)) == [
        (i, "keep") for i in range(10) if i % 2
    ]
    # time travel: pre-delete snapshot intact
    assert len(_rows(lake.read_table(spark, t, version=v0))) == 10
    # no-match delete is a no-op, not a version
    assert lake.delete_where(spark, t, "v = 'nope'") is None
    assert lake.versions(t)[-1] == v1


def test_deletes_compose_and_append_carries_vectors_forward(spark, tmp_path):
    """A second DELETE composes with the first, and an APPEND after a
    delete must carry the vectors forward — otherwise deleted rows
    resurrect in the appended snapshot."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
        ),
        t,
    )
    lake.delete_where(spark, t, "k = 1")
    lake.delete_where(spark, t, "k = 3")
    assert _rows(lake.read_table(spark, t)) == [(2, "b"), (4, "d")]
    lake.commit_write(
        spark.createDataFrame([(5, "e")], "k long, v string"), t, "append"
    )
    assert _rows(lake.read_table(spark, t)) == [(2, "b"), (4, "d"), (5, "e")]
    # the delete commit is row-level: CDC must refuse to cross it
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lake.read_changes(spark, t, from_version=0)


def test_compact_materializes_deletions_and_vacuum_reclaims_vectors(
    spark, tmp_path
):
    """OPTIMIZE reads through the vectors and commits a clean file
    list (delete_files cleared, rows still absent); vacuum then
    reclaims the now-unreferenced vector files."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(i, str(i)) for i in range(8)], "k long, v string"
        ),
        t,
    )
    lake.delete_where(spark, t, "k >= 6")
    v = lake.compact(spark, t, target_files=1)
    m = json.loads((Path(t) / "_log" / f"{v:08d}.json").read_text())
    assert not m.get("delete_files")
    assert _rows(lake.read_table(spark, t)) == [(i, str(i)) for i in range(6)]
    reclaimed = lake.vacuum(t, keep_versions=1)
    assert any(r.startswith("deletes/") for r in reclaimed)
    assert _rows(lake.read_table(spark, t)) == [(i, str(i)) for i in range(6)]


def test_delete_does_not_rerecord_already_deleted_rows(spark, tmp_path):
    """An overlapping predicate must only record NEW positions: the
    second delete's vectors exclude rows the first already removed
    (re-recording would be harmless for reads but would grow vectors
    unboundedly under repeated retention sweeps)."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(i, "x") for i in range(6)], "k long, v string"
        ),
        t,
    )
    lake.delete_where(spark, t, "k < 4")       # deletes 0-3
    lake.delete_where(spark, t, "k < 5")       # only 4 is newly deleted
    m = json.loads(
        (Path(t) / "_log" / f"{lake.versions(t)[-1]:08d}.json").read_text()
    )
    dv = spark.read.parquet(
        *[str(Path(t) / f) for f in m["delete_files"]]
    )
    assert dv.count() == 5  # 4 + 1, not 4 + 5
    assert _rows(lake.read_table(spark, t)) == [(5, "x")]


def test_merge_into_updates_and_inserts_in_one_commit(spark, tmp_path):
    """MERGE: matched keys replaced, new keys inserted, ONE version
    bump; untouched data files stay byte-identical and the pre-merge
    snapshot time-travels."""
    t = str(tmp_path / "tbl")
    v0 = lake.commit_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        t,
    )
    before = [
        (f.name, f.stat().st_size, f.stat().st_mtime_ns)
        for f in sorted((Path(t) / "data").glob("*.parquet"))
    ]
    v1 = lake.merge_into(
        spark,
        t,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        keys=["k"],
    )
    assert v1 == v0 + 1
    assert _rows(lake.read_table(spark, t)) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d")
    ]
    assert _rows(lake.read_table(spark, t, version=v0)) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    now = [
        (f.name, f.stat().st_size, f.stat().st_mtime_ns)
        for f in sorted((Path(t) / "data").glob("*.parquet"))
    ]
    assert set(before) <= set(now)  # original files untouched, new added


def test_merge_into_empty_table_is_insert(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v = lake.merge_into(
        spark,
        t,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        keys=["k"],
    )
    assert v == 0
    assert _rows(lake.read_table(spark, t)) == [(1, "a")]


def test_merge_composes_with_deletes_and_compaction(spark, tmp_path):
    """delete -> merge -> compact: the merge must respect prior
    vectors (a deleted row's key counts as absent, so its re-merge is
    an INSERT that does not resurrect the old row), and compaction
    materializes the whole stack."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        t,
    )
    lake.delete_where(spark, t, "k = 1")
    lake.merge_into(
        spark,
        t,
        spark.createDataFrame([(1, "A2"), (3, "C2")], "k long, v string"),
        keys=["k"],
    )
    assert _rows(lake.read_table(spark, t)) == [
        (1, "A2"), (2, "b"), (3, "C2")
    ]
    v = lake.compact(spark, t, target_files=1)
    m = json.loads((Path(t) / "_log" / f"{v:08d}.json").read_text())
    assert not m.get("delete_files")
    assert _rows(lake.read_table(spark, t)) == [
        (1, "A2"), (2, "b"), (3, "C2")
    ]


def test_manifest_stats_enable_file_skipping(spark, tmp_path):
    """Data skipping: per-file min/max recorded at commit prunes
    non-intersecting files at read time; files without stats are
    always read (unknown is never skipped); results equal the
    unpruned filter."""
    t = str(tmp_path / "tbl")
    # three range-disjoint commits -> three stat'ed files (coalesced
    # so each commit is exactly one file; multi-file commits skip
    # per-file just the same, only the counts change)
    for lo in (0, 100, 200):
        lake.commit_write(
            spark.createDataFrame(
                [(lo + i, "x") for i in range(10)], "k long, v string"
            ).coalesce(1),
            t, "append", stats_cols=["k"],
        )
    v = lake.versions(t)[-1]
    keep, skipped = lake.pruned_files(t, v, "k", 100, 109)
    assert skipped == 2 and len(keep) >= 1
    got = sorted(
        r.k
        for r in lake.read_table(spark, t, prune=("k", 100, 109))
        .filter("k BETWEEN 100 AND 109")
        .collect()
    )
    assert got == list(range(100, 110))
    # a stats-less append is never skipped
    lake.commit_write(
        spark.createDataFrame([(105, "y")], "k long, v string")
        .coalesce(1),
        t, "append",
    )
    v2 = lake.versions(t)[-1]
    keep2, skipped2 = lake.pruned_files(t, v2, "k", 300, 400)
    assert skipped2 == 3  # the three stat'ed files skip; unknown stays
    assert any("part" in f for f in keep2)


def test_stats_survive_delete_merge_and_compaction(spark, tmp_path):
    """The skipping index must ride through the DML stack: carried by
    delete and merge commits (old files), re-harvested by compaction
    (new files)."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(i, "x") for i in range(20)], "k long, v string"
        ),
        t, "append", stats_cols=["k"],
    )
    lake.delete_where(spark, t, "k = 3")
    lake.merge_into(
        spark, t,
        spark.createDataFrame([(5, "new")], "k long, v string"),
        keys=["k"],
    )
    v = lake.versions(t)[-1]
    m = json.loads((Path(t) / "_log" / f"{v:08d}.json").read_text())
    assert m.get("stats")  # carried through delete + merge
    v2 = lake.compact(spark, t, target_files=1)
    m2 = json.loads((Path(t) / "_log" / f"{v2:08d}.json").read_text())
    assert m2.get("stats") and all("k" in s for s in m2["stats"].values())
    # and the compacted table still reads correctly under pruning
    got = sorted(
        r.k for r in lake.read_table(spark, t, prune=("k", 0, 50)).collect()
    )
    assert got == [i for i in range(20) if i != 3]


def test_bloom_index_point_skipping(spark, tmp_path):
    """Bloom skip index: hash-distributed files (overlapping ranges —
    zone maps prune nothing) still skip on point lookups; present
    keys are NEVER skipped (no false negatives); results equal the
    unpruned filter; bloom-less files are always read."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(400)], "k long, v string"
    ).repartition(8, "k")
    lake.commit_write(df, t, "append", bloom_cols=["k"])
    v = lake.versions(t)[-1]
    # min/max cannot skip here (every file spans ~the full range)...
    m = json.loads((Path(t) / "_log" / f"{v:08d}.json").read_text())
    assert len(m["files"]) == 8 and m.get("bloom")
    # ...but the bloom skips most files for a point key
    keep, skipped = lake.bloom_pruned_files(spark, t, v, "k", 123)
    assert skipped >= 6
    got = (
        lake.read_table(spark, t, point=("k", 123))
        .filter("k = 123").collect()
    )
    assert [(r.k, r.v) for r in got] == [(123, "v123")]
    # no false negatives: every present key keeps its file
    for probe in range(0, 400, 37):
        rows = (
            lake.read_table(spark, t, point=("k", probe))
            .filter(f"k = {probe}").collect()
        )
        assert len(rows) == 1 and rows[0].v == f"v{probe}"
    # an absent key may prune everything — and reads as empty
    assert (
        lake.read_table(spark, t, point=("k", 10_000))
        .filter("k = 10000").count() == 0
    )
    # a bloom-less append is never skipped
    lake.commit_write(
        spark.createDataFrame([(123, "dup")], "k long, v string"), t,
        "append",
    )
    v2 = lake.versions(t)[-1]
    keep2, _ = lake.bloom_pruned_files(spark, t, v2, "k", 777)
    assert any(f not in (m.get("bloom") or {}) for f in keep2)


def test_bloom_survives_delete_merge_and_compaction(spark, tmp_path):
    """The bloom index rides the DML stack like min/max stats:
    carried by delete/merge commits (sound — a dead key is only a
    false positive), re-harvested by compaction."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(i, "x") for i in range(50)], "k long, v string"
        ).repartition(4, "k"),
        t, "append", bloom_cols=["k"],
    )
    lake.delete_where(spark, t, "k = 7")
    lake.merge_into(
        spark, t,
        spark.createDataFrame([(9, "new")], "k long, v string"),
        keys=["k"],
    )
    v = lake.versions(t)[-1]
    m = json.loads((Path(t) / "_log" / f"{v:08d}.json").read_text())
    assert m.get("bloom")  # carried through delete + merge
    # updated key 9 lives in a bloom-less merge file: still found
    rows = (
        lake.read_table(spark, t, point=("k", 9))
        .filter("k = 9").collect()
    )
    assert [r.v for r in rows] == ["new"]
    v2 = lake.compact(spark, t, target_files=2)
    m2 = json.loads((Path(t) / "_log" / f"{v2:08d}.json").read_text())
    assert m2.get("bloom") and all(
        "k" in b for b in m2["bloom"].values()
    )
    got = sorted(
        r.k for r in lake.read_table(spark, t, point=("k", 30))
        .filter("k = 30").collect()
    )
    assert got == [30]


def test_bloom_autosizes_to_file_cardinality(spark, tmp_path):
    """m is a floor: a file with many keys gets a proportionally
    larger filter (≥16 bits/row) so fpp stays useful instead of the
    filter saturating."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame(
            [(i,) for i in range(3000)], "k long"
        ).coalesce(1),
        t, "append", bloom_cols=["k"],
    )
    m = json.loads((Path(t) / "_log" / "00000000.json").read_text())
    ent = next(iter(m["bloom"].values()))["k"]
    assert ent["m"] >= 16 * 3000
    assert len(ent["words"]) == ent["m"] // 64


def test_fsck_clean_table_and_every_finding_class(spark, tmp_path):
    """fsck: a healthy table reports ok; orphans, stale index
    entries, version gaps, and missing files each surface in their
    own bucket (missing = the one fatal state)."""
    t = str(tmp_path / "tbl")
    lake.commit_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t,
        "append", stats_cols=["k"], bloom_cols=["k"],
    )
    lake.commit_write(
        spark.createDataFrame([(2, "b")], "k long, v string"), t,
        "append",
    )
    rep = lake.fsck(t)
    assert rep["ok"] and not any(
        rep[k] for k in ("missing_files", "orphan_files",
                         "stale_stats", "stale_bloom", "version_gaps")
    )
    # orphan: a data file no manifest references
    orphan = Path(t) / "data" / "deadbeef-part00000.parquet"
    src = next((Path(t) / "data").glob("*.parquet"))
    orphan.write_bytes(src.read_bytes())
    rep = lake.fsck(t)
    assert rep["ok"] and rep["orphan_files"] == [
        "data/deadbeef-part00000.parquet"
    ]
    orphan.unlink()
    # version gap: drop v0 from the log (vacuum-style history trim)
    (Path(t) / "_log" / "00000000.json").unlink()
    rep = lake.fsck(t)
    assert rep["version_gaps"] == [] and rep["versions"] == [1]
    lake.commit_write(
        spark.createDataFrame([(3, "c")], "k long, v string"), t,
        "append",
    )
    lake.commit_write(
        spark.createDataFrame([(4, "d")], "k long, v string"), t,
        "append",
    )
    (Path(t) / "_log" / "00000002.json").unlink()
    rep = lake.fsck(t)
    assert rep["version_gaps"] == [2] and rep["ok"]
    # missing file: manifest references a file the fs lacks
    victim = next((Path(t) / "data").glob("*.parquet"))
    victim.unlink()
    rep = lake.fsck(t)
    assert not rep["ok"] and rep["missing_files"]
    # stale index entries: stats/bloom for a file not in the list
    m_path = Path(t) / "_log" / "00000003.json"
    m = json.loads(m_path.read_text())
    m["stats"] = {"data/ghost.parquet": {"k": [0, 1]}}
    m["bloom"] = {"data/ghost.parquet": {"k": {}}}
    m_path.write_text(json.dumps(m))
    rep = lake.fsck(t)
    assert rep["stale_stats"] == [(3, "data/ghost.parquet")]
    assert rep["stale_bloom"] == [(3, "data/ghost.parquet")]


def test_cli_lake_fsck(spark, tmp_path, capsys):
    from sales_etl_spark.__main__ import main

    t = str(tmp_path / "tbl")
    lake.commit_write(spark.createDataFrame([(1,)], "k long"), t)
    assert main(["--lake-fsck", t]) == 0
    out = capsys.readouterr().out
    assert '"ok": true' in out
    next((Path(t) / "data").glob("*.parquet")).unlink()
    assert main(["--lake-fsck", t]) == 1


def test_python_datasource_sink_writes_atomic_versions(spark, tmp_path):
    """The DataSource writer: executor-parallel parquet files publish
    as ONE atomic lake version (append and overwrite SaveModes);
    interleaves with commit_write on the same table; empty partitions
    contribute no files; time travel and fsck hold."""
    from sales_etl_spark.sources.lake_sink import register_lake_sink

    register_lake_sink(spark)
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    ).repartition(4)
    df.write.format("lake_table").option("path", t).mode("append").save()
    assert lake.versions(t) == [0]
    m = json.loads((Path(t) / "_log" / "00000000.json").read_text())
    assert m["n_new_files"] == 4  # one file per task
    got = sorted(r.k for r in lake.read_table(spark, t).collect())
    assert got == list(range(40))
    # interleave: a commit_write append lands as v1 on the same log
    lake.commit_write(
        spark.createDataFrame([(100, "x")], "k long, v string"), t,
        "append",
    )
    # DataSource append on top — sees v1 as its base
    spark.createDataFrame([(200, "y")], "k long, v string").repartition(
        8
    ).write.format("lake_table").option("path", t).mode("append").save()
    assert lake.versions(t) == [0, 1, 2]
    assert lake.read_table(spark, t).count() == 42
    # 8 partitions of 1 row → 7 empty tasks contribute no files
    m2 = json.loads((Path(t) / "_log" / "00000002.json").read_text())
    assert m2["n_new_files"] == 1
    # overwrite SaveMode = overwrite commit; history stays readable
    spark.createDataFrame([(9, "z")], "k long, v string").write.format(
        "lake_table"
    ).option("path", t).mode("overwrite").save()
    assert [r.k for r in lake.read_table(spark, t).collect()] == [9]
    assert lake.read_table(spark, t, 2).count() == 42  # time travel
    assert lake.fsck(t)["ok"]


def test_dv_staging_write_is_bounded_not_single_task(
    spark, tmp_path, monkeypatch
):
    """The deletion-vector staging write may coalesce(1) ONLY while
    the DV row count sits under _DV_SINGLE_FILE_MAX_ROWS; past the
    bound it must keep its natural partitioning so a corpus-sized
    retraction cannot route through one task. Proven by shrinking the
    bound: the same delete that stages one file at the default bound
    stages multiple part files (and still reads back correctly) when
    the bound is below the match count."""
    df = spark.createDataFrame(
        [(i, "drop" if i < 40 else "keep") for i in range(50)],
        "k long, v string",
    ).repartition(4)

    # small DV, default bound: exactly one staged dv file
    t1 = str(tmp_path / "one")
    lake.commit_write(df, t1)
    lake.delete_where(spark, t1, "v = 'drop'")
    m1 = lake._read_manifest(t1, lake.versions(t1)[-1])
    assert len(m1["delete_files"]) == 1

    # same delete with the bound forced under the match count: the
    # natural partitioning survives (multiple dv files), values intact
    monkeypatch.setattr(lake, "_DV_SINGLE_FILE_MAX_ROWS", 5)
    t2 = str(tmp_path / "many")
    lake.commit_write(df, t2)
    lake.delete_where(spark, t2, "v = 'drop'")
    m2 = lake._read_manifest(t2, lake.versions(t2)[-1])
    assert len(m2["delete_files"]) > 1
    assert _rows(lake.read_table(spark, t2).select("k", "v")) == [
        (i, "keep") for i in range(40, 50)
    ]
