"""Snapshot tables: atomic manifest commits, time travel, reader
isolation across concurrent maintenance (the mv torn-state test
pattern applied to the table layer)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.sources import snapshots as snap


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v double")


def test_commit_append_overwrite_and_history(spark, tmp_path):
    t = str(tmp_path / "t")
    assert snap.snapshot_commit(_df(spark, [(1, 1.0), (2, 2.0)]), t,
                                mode="overwrite") == 1
    assert snap.snapshot_commit(_df(spark, [(3, 3.0)]), t, mode="append") == 2
    got = {r.k: r.v for r in snap.read_as_of(spark, t).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    # time travel: v1 is still the two-row table
    assert snap.read_as_of(spark, t, 1).count() == 2
    hist = {r.version: (r.op, r.n_rows) for r in
            snap.table_history(spark, t).collect()}
    assert hist == {1: ("overwrite", 2), 2: ("append", 3)}
    # overwrite drops the old file list going forward, keeps history
    snap.snapshot_commit(_df(spark, [(9, 9.0)]), t, mode="overwrite")
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {9}
    assert snap.read_as_of(spark, t, 2).count() == 3


def test_reader_isolated_across_compaction_and_vacuum(spark, tmp_path):
    """The torn-state pin: a reader pinned at version N must return
    N's exact content even after a compaction commits N+1 and a
    vacuum (keep=2) runs — its files are immutable and still
    referenced. Only when vacuum drops N itself does the read fail
    LOUDLY (version not retained), never silently serve other data."""
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(i, float(i)) for i in range(10)]), t,
                         mode="overwrite")
    snap.snapshot_commit(_df(spark, [(10, 10.0)]), t, mode="append")
    reader = snap.read_as_of(spark, t, 2)          # pinned, lazy
    v3 = snap.snapshot_compact(spark, t)
    assert v3 == 3
    snap.snapshot_vacuum(t, keep=2, min_age_seconds=0)                # retains v2, v3
    got = {r.k for r in reader.collect()}          # materialize AFTER both
    assert got == set(range(11))
    # compaction result identical content, fewer files
    hist = {r.version: r for r in snap.table_history(spark, t).collect()}
    assert set(hist) == {2, 3}
    assert hist[3].n_files == 1 and hist[3].n_rows == 11
    # v1 was vacuumed: loud failure
    with pytest.raises(ValueError, match="not retained"):
        snap.read_as_of(spark, t, 1)
    # v2's files survived vacuum (still referenced by a retained manifest)
    snap.read_as_of(spark, t, 2).count() == 11


def test_crashed_commit_leaves_no_visible_state_and_vacuums(spark, tmp_path):
    """A crash between data-write and manifest-link (simulated by
    calling the data writer without publishing) is invisible to every
    reader; vacuum retires the orphan files."""
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0)]), t, mode="overwrite")
    snap._write_data(_df(spark, [(99, 99.0)]), t, version_hint=2)  # no publish
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {1}
    rep = snap.snapshot_vacuum(t, keep=2, min_age_seconds=0)
    assert rep["commit_dirs_removed"] == 1
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {1}


def test_concurrent_commit_race_never_overwrites(spark, tmp_path):
    """Two committers racing for the same version: os.link EEXIST
    pushes the loser to the next slot — both commits survive."""
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0)]), t, mode="overwrite")
    # adversary steals version 2 with a handwritten manifest
    m2 = os.path.join(t, "_manifests", "v=2.json")
    m1 = json.load(open(os.path.join(t, "_manifests", "v=1.json")))
    json.dump({"version": 2, "op": "adversary", "files": m1["files"],
               "n_rows": m1["n_rows"]}, open(m2, "w"))
    v = snap.snapshot_commit(_df(spark, [(2, 2.0)]), t, mode="append")
    assert v == 3  # retried past the stolen slot
    hist = {r.version: r.op for r in snap.table_history(spark, t).collect()}
    assert hist == {1: "overwrite", 2: "adversary", 3: "append"}
    assert {r.k for r in snap.read_as_of(spark, t, 3).collect()} == {1, 2}


def test_upsert_is_key_safe_and_versioned(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), t,
                         mode="overwrite")
    snap.snapshot_upsert(
        spark, t, _df(spark, [(2, 20.0), (4, 4.0)]), key_cols=["k"]
    )
    got = {r.k: r.v for r in snap.read_as_of(spark, t).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}
    # the pre-upsert version is intact
    assert {r.k: r.v for r in snap.read_as_of(spark, t, 1).collect()} == {
        1: 1.0, 2: 2.0, 3: 3.0
    }


def test_snapshot_publish_single_pointer_wap(spark, tmp_path):
    """WAP on the snapshot layer: a failing audit publishes NOTHING
    (no version, readers untouched, orphans vacuumable); a passing one
    appears atomically as the next version."""
    from algoritmos_etl_spark.operators import expectations as ex

    t = str(tmp_path / "t")
    rules = [ex.in_range("v", 0, 100)]
    rep = snap.snapshot_publish(_df(spark, [(1, 10.0)]), t, rules)
    assert rep["published"] is True and rep["version"] == 1
    rep = snap.snapshot_publish(_df(spark, [(2, 999.0)]), t, rules)
    assert rep["published"] is False and rep["version"] is None
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {1}
    # the rejected files are orphans: vacuum retires them
    n_dirs = len(glob.glob(os.path.join(t, "data", "c*")))
    rep = snap.snapshot_vacuum(t, keep=2, min_age_seconds=0)
    assert rep["commit_dirs_removed"] == n_dirs - 1
    rep = snap.snapshot_publish(_df(spark, [(3, 30.0)]), t, rules)
    assert rep == {"published": True, "version": 2, "violations": []}
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {3}


def test_snapshot_changes_between_versions(spark, tmp_path):
    """Time travel x keyed diff: changes between two retained versions
    cover added / removed / changed; a vacuumed from_version fails
    loudly instead of diffing against the wrong snapshot."""
    import pytest as _pt

    t = str(tmp_path / "t")
    snap.snapshot_commit(
        _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), t, mode="overwrite"
    )
    snap.snapshot_commit(
        _df(spark, [(1, 1.0), (2, 20.0), (4, 4.0)]), t, mode="overwrite"
    )
    got = {
        r.k: (r.diff_type, r.changed_cols)
        for r in snap.snapshot_changes(
            spark, t, 1, 2, key_cols=["k"]
        ).collect()
    }
    assert got == {
        2: ("changed", "v"),
        3: ("removed", None),
        4: ("added", None),
    }
    # vacuumed from_version: loud failure
    snap.snapshot_commit(_df(spark, [(9, 9.0)]), t, mode="overwrite")
    snap.snapshot_vacuum(t, keep=2, min_age_seconds=0)
    with _pt.raises(ValueError, match="not retained"):
        snap.snapshot_changes(spark, t, 1, 3, key_cols=["k"])


def test_commit_race_lost_update_is_revalidated(spark, tmp_path,
                                                monkeypatch):
    """The ADVICE r8 scenario: an adversary append lands BETWEEN the
    victim's prior-list read and its manifest publish. The victim must
    re-validate from the new head on the EEXIST retry — the adversary's
    rows may never silently vanish from the table head."""
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0)]), t, mode="overwrite")

    orig = snap._write_data
    fired = []

    def hook(df, table_dir, hint):
        files = orig(df, table_dir, hint)
        if not fired:
            fired.append(True)
            # concurrent committer wins version 2 while the victim's
            # files are already on disk but its manifest is not
            snap.snapshot_commit(
                _df(spark, [(7, 7.0)]), table_dir, mode="append"
            )
        return files

    monkeypatch.setattr(snap, "_write_data", hook)
    v = snap.snapshot_commit(_df(spark, [(2, 2.0)]), t, mode="append")
    assert v == 3
    head = {r.k: r.v for r in snap.read_as_of(spark, t).collect()}
    assert head == {1: 1.0, 2: 2.0, 7: 7.0}  # adversary row SURVIVES


def test_snapshot_delete_copy_on_write_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0), (2, 2.0)]), t,
                         mode="overwrite")
    snap.snapshot_commit(_df(spark, [(3, 3.0), (4, 4.0)]), t, mode="append")
    m2 = json.load(open(os.path.join(t, "_manifests", "v=2.json")))
    keys = spark.createDataFrame([(2,), (999,)], "k long")
    v = snap.snapshot_delete(spark, t, keys, key_cols=["k"])
    assert v == 3
    # head: row gone
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {1, 3, 4}
    # time travel: pre-delete versions still show the row
    assert {r.k for r in snap.read_as_of(spark, t, 2).collect()} == {
        1, 2, 3, 4
    }
    # copy-on-write: only the file(s) containing k=2 were rewritten —
    # v2's OTHER commit dir files carry over verbatim
    m3 = json.load(open(os.path.join(t, "_manifests", "v=3.json")))
    carried = set(m2["files"]) & set(m3["files"])
    assert carried, "untouched files must carry over, not rewrite"
    # changes across the delete emit the removed row
    ch = snap.snapshot_changes(spark, t, 2, 3, key_cols=["k"]).collect()
    assert [(r.k, r.diff_type) for r in ch] == [(2, "removed")]
    # vacuum retires the pre-delete versions -> deleted data is gone
    snap.snapshot_vacuum(t, keep=1, min_age_seconds=0)
    with pytest.raises(ValueError, match="not retained"):
        snap.read_as_of(spark, t, 2)


def test_snapshot_delete_no_match_still_versions(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0)]), t, mode="overwrite")
    v = snap.snapshot_delete(
        spark, t, spark.createDataFrame([(42,)], "k long"), key_cols=["k"]
    )
    assert v == 2
    hist = {r.version: r.op for r in snap.table_history(spark, t).collect()}
    assert hist[2] == "delete"
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {1}


def test_snapshot_add_column_null_backfill(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0), (2, 2.0)]), t,
                         mode="overwrite")
    v = snap.snapshot_add_column(t, "tag", "string")
    assert v == 2
    head = snap.read_as_of(spark, t)
    assert head.columns == ["k", "v", "tag"]
    assert {(r.k, r.tag) for r in head.collect()} == {(1, None), (2, None)}
    # old version: old schema
    assert snap.read_as_of(spark, t, 1).columns == ["k", "v"]
    # an append carrying the new column mixes with NULL-backfilled files
    extra = spark.createDataFrame([(3, 3.0, "new")],
                                  "k long, v double, tag string")
    snap.snapshot_commit(extra, t, mode="append")
    got = {r.k: r.tag for r in snap.read_as_of(spark, t).collect()}
    assert got == {1: None, 2: None, 3: "new"}
    # delete still works across mixed-schema files
    snap.snapshot_delete(
        spark, t, spark.createDataFrame([(1,)], "k long"), key_cols=["k"]
    )
    got = {r.k: r.tag for r in snap.read_as_of(spark, t).collect()}
    assert got == {2: None, 3: "new"}
    # duplicate add is an error
    with pytest.raises(ValueError, match="already exists"):
        snap.snapshot_add_column(t, "tag", "string")


def test_vacuum_grace_period_spares_young_orphans(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0)]), t, mode="overwrite")
    # orphan commit dir: data written, manifest never linked (crash /
    # in-flight commit)
    snap._write_data(_df(spark, [(9, 9.0)]), t, 99)
    orphans = [d for d in os.listdir(os.path.join(t, "data"))
               if d.startswith("c99-")]
    assert len(orphans) == 1
    rep = snap.snapshot_vacuum(t, keep=2)  # default grace: 10 min
    assert rep["commit_dirs_removed"] == 0  # young orphan SURVIVES
    assert os.path.isdir(os.path.join(t, "data", orphans[0]))
    rep = snap.snapshot_vacuum(t, keep=2, min_age_seconds=0)
    assert rep["commit_dirs_removed"] == 1  # explicit no-writer vacuum
    assert not os.path.isdir(os.path.join(t, "data", orphans[0]))


def test_scan_plan_prunes_by_manifest_metrics(spark, tmp_path):
    """Three stats-carrying commits with disjoint k ranges: a range
    scan must keep only the overlapping files, read none of the
    others, and still equal the plain filtered read row-for-row."""
    t = str(tmp_path / "t")
    for lo in (0, 100, 200):
        snap.snapshot_commit(
            _df(spark, [(lo + i, float(i)) for i in range(10)]).coalesce(1),
            t, mode="append", stats_cols=["k"],
        )
    kept, all_files, _ = snap.scan_plan(t, "k", lo=100, hi=109)
    assert len(all_files) == 3
    assert len(kept) == 1
    got = sorted(
        tuple(r) for r in snap.snapshot_scan(spark, t, "k", 100, 109).collect()
    )
    want = sorted(
        tuple(r)
        for r in snap.read_as_of(spark, t)
        .filter((F.col("k") >= 100) & (F.col("k") <= 109))
        .collect()
    )
    assert got == want and len(got) == 10
    # boundary overlap: a range touching two files keeps exactly two
    kept2, _, _ = snap.scan_plan(t, "k", lo=105, hi=205)
    assert len(kept2) == 2
    # fully out of range: zero files, empty result, schema preserved
    kept3, _, _ = snap.scan_plan(t, "k", lo=900, hi=999)
    assert kept3 == []
    empty = snap.snapshot_scan(spark, t, "k", 900, 999)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_scan_plan_is_conservative_without_metrics(spark, tmp_path):
    """Commits made without stats_cols (or rewritten by delete/compact)
    carry no metrics and must ALWAYS be kept."""
    t = str(tmp_path / "t")
    snap.snapshot_commit(
        _df(spark, [(0, 0.0), (1, 1.0)]), t, mode="append"
    )  # no stats
    snap.snapshot_commit(
        _df(spark, [(500, 5.0)]).coalesce(1), t, mode="append",
        stats_cols=["k"],
    )
    kept, all_files, _ = snap.scan_plan(t, "k", lo=900, hi=999)
    # stats-less files kept, the provably-out-of-range stats file pruned
    assert len(kept) == len(all_files) - 1
    got = snap.snapshot_scan(spark, t, "k", 0, 1).count()
    assert got == 2


def test_scan_stats_survive_append_carryover(spark, tmp_path):
    """Append commits must carry prior files' metrics forward in the
    new manifest (Iceberg semantics), so old files stay prunable."""
    t = str(tmp_path / "t")
    snap.snapshot_commit(
        _df(spark, [(0, 0.0)]).coalesce(1), t, mode="append",
        stats_cols=["k"],
    )
    snap.snapshot_commit(
        _df(spark, [(100, 1.0)]).coalesce(1), t, mode="append",
        stats_cols=["k"],
    )
    kept, all_files, m = snap.scan_plan(t, "k", lo=0, hi=0)
    assert len(all_files) == 2 and len(kept) == 1
    assert set(m.get("stats", {})) == set(all_files)


def test_registered_file_skipping_prunes(spark):
    """The registered query's staged table must actually skip files:
    2 of the 7 year-commits intersect the 1997-1998 scan."""
    import datetime

    # driver_queries must load first: ext is registration-order-coupled
    # to it (the REGISTRY assert runs at the end of driver_queries)
    from algoritmos_etl_spark import driver_queries  # noqa: F401
    from algoritmos_etl_spark.driver_queries_ext import _snap_scan_setup

    work = _snap_scan_setup(spark, "/root/testdata/sf0.001")
    kept, all_files, _ = snap.scan_plan(
        f"{work}/orders_by_year", "o_orderdate",
        lo=datetime.datetime(1997, 1, 1),
        hi=datetime.datetime(1998, 12, 31, 23, 59, 59),
    )
    assert len(all_files) == 7
    assert len(kept) == 2


def test_scan_stats_survive_delete_and_add_column(spark, tmp_path):
    """A copy-on-write delete keeps untouched files' metrics (only the
    rewritten file loses them), and a metadata-only add_column keeps
    every metric — file skipping stays effective across both."""
    t = str(tmp_path / "t")
    for lo in (0, 100, 200):
        snap.snapshot_commit(
            _df(spark, [(lo + i, float(i)) for i in range(10)]).coalesce(1),
            t, mode="append", stats_cols=["k"],
        )
    # delete one key out of the middle file
    snap.snapshot_delete(
        spark, t, _df(spark, [(105, 0.0)]).select("k"), key_cols=["k"]
    )
    kept, all_files, m = snap.scan_plan(t, "k", lo=0, hi=9)
    # 3 files total (one rewritten): the two untouched keep metrics, so
    # the 200-file is pruned and the rewritten middle file is kept
    # conservatively alongside the matching 0-file
    assert len(all_files) == 3
    assert len(kept) == 2
    stats = m.get("stats", {})
    assert len(stats) == 2  # untouched files only
    # metadata-only evolution keeps everything
    snap.snapshot_add_column(t, "note", "string")
    kept2, all2, m2 = snap.scan_plan(t, "k", lo=0, hi=9)
    assert (len(kept2), len(all2)) == (2, 3)
    assert m2.get("stats", {}) == stats


# --------------------------------------------- merge-on-read deletes


def test_mor_delete_reads_and_history(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(i, float(i)) for i in range(10)]), t,
                         mode="overwrite")
    m1 = snap._read_manifest(t, 1)
    v = snap.snapshot_delete_mor(
        spark, t, _df(spark, [(3, 0.0), (7, 0.0), (99, 0.0)]), ["k"])
    assert v == 2
    # data files untouched: one new (key) file only, manifest files equal
    m2 = snap._read_manifest(t, 2)
    assert m2["files"] == m1["files"]
    assert len(m2["deletes"]) == 1
    assert len(m2["deletes"][0]["files"]) == 1
    # head read excludes the keys; time travel still sees them; the
    # missing key 99 deletes nothing
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(10)) - {3, 7})
    assert snap.read_as_of(spark, t, 1).count() == 10
    hist = {r.version: (r.op, r.n_rows) for r in
            snap.table_history(spark, t).collect()}
    assert hist[2] == ("delete_mor", 8)


def test_mor_applies_to_scope_allows_reinsert(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(1, 1.0), (2, 2.0)]), t,
                         mode="overwrite")
    snap.snapshot_delete_mor(spark, t, _df(spark, [(2, 0.0)]), ["k"])
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {1}
    # re-insert the deleted key: the append's files are OUTSIDE the
    # delete entry's applies_to scope, so the new row is visible
    snap.snapshot_commit(_df(spark, [(2, 22.0)]), t, mode="append")
    got = {r.k: r.v for r in snap.read_as_of(spark, t).collect()}
    assert got == {1: 1.0, 2: 22.0}
    hist = {r.version: r.n_rows for r in
            snap.table_history(spark, t).collect()}
    assert hist == {1: 2, 2: 1, 3: 2}


def test_mor_stacks_and_compact_folds_to_cow_equality(spark, tmp_path):
    rows = [(i, float(i * i)) for i in range(20)]
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (mor, cow):
        snap.snapshot_commit(_df(spark, rows), t, mode="overwrite")
    d1 = _df(spark, [(2, 0.0), (4, 0.0)])
    d2 = _df(spark, [(4, 0.0), (11, 0.0)])
    snap.snapshot_delete_mor(spark, mor, d1, ["k"])
    snap.snapshot_delete_mor(spark, mor, d2, ["k"])
    snap.snapshot_delete(spark, cow, d1, ["k"])
    snap.snapshot_delete(spark, cow, d2, ["k"])
    def read(t):
        return {(r.k, r.v) for r in snap.read_as_of(spark, t).collect()}
    assert read(mor) == read(cow) == {
        (k, v) for k, v in rows if k not in (2, 4, 11)}
    # compact folds the delete entries into plain data files
    snap.snapshot_compact(spark, mor)
    m = snap._read_manifest(t := mor, snap._versions(mor)[-1])
    assert "deletes" not in m
    assert read(mor) == read(cow)
    hist = {r.version: r.n_rows for r in
            snap.table_history(spark, mor).collect()}
    assert hist[3] == hist[4] == 17


def test_mor_write_cost_beats_cow_for_small_deletes(spark, tmp_path):
    """The reason MoR exists: a small delete writes ONE key file while
    CoW rewrites every touched data file."""
    rows = [(i, float(i)) for i in range(64)]
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (mor, cow):
        # 8 data files so the delete's keys spread across several
        snap.snapshot_commit(_df(spark, rows).repartition(8), t,
                             mode="overwrite")
    keys = _df(spark, [(5, 0.0), (23, 0.0), (41, 0.0), (59, 0.0)])

    def files_written(t, before):
        return len(glob.glob(os.path.join(t, "data", "*", "*.parquet"))) - before

    b_mor = len(glob.glob(os.path.join(mor, "data", "*", "*.parquet")))
    b_cow = len(glob.glob(os.path.join(cow, "data", "*", "*.parquet")))
    snap.snapshot_delete_mor(spark, mor, keys, ["k"])
    snap.snapshot_delete(spark, cow, keys, ["k"])
    wrote_mor = files_written(mor, b_mor)
    wrote_cow = files_written(cow, b_cow)
    assert wrote_mor == 1
    assert wrote_cow > wrote_mor  # rewrote every touched file
    assert ({r.k for r in snap.read_as_of(spark, mor).collect()}
            == {r.k for r in snap.read_as_of(spark, cow).collect()})


def test_mor_then_cow_delete_interplay(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(
        _df(spark, [(i, float(i)) for i in range(12)]).repartition(3), t,
        mode="overwrite")
    snap.snapshot_delete_mor(spark, t, _df(spark, [(1, 0.0)]), ["k"])
    # CoW delete another key: the rewrite must not resurrect key 1,
    # and the surviving entry's applies_to prunes to remaining files
    snap.snapshot_delete(spark, t, _df(spark, [(5, 0.0)]), ["k"])
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(12)) - {1, 5})
    m = snap._read_manifest(t, snap._versions(t)[-1])
    for d in m.get("deletes", []):
        assert set(d["applies_to"]) <= set(m["files"])
    hist = {r.version: r.n_rows for r in
            snap.table_history(spark, t).collect()}
    assert hist == {1: 12, 2: 11, 3: 10}


def test_mor_changes_and_scan_and_vacuum(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(i, float(i)) for i in range(10)]), t,
                         mode="overwrite", stats_cols=["k"])
    snap.snapshot_delete_mor(spark, t, _df(spark, [(4, 0.0)]), ["k"])
    # changes-since sees the MoR-deleted row as removed
    ch = {(r.k, r.diff_type) for r in
          snap.snapshot_changes(spark, t, 1, 2, key_cols=["k"]).collect()}
    assert ch == {(4, "removed")}
    # file-skipping scan still applies the residual delete
    got = {r.k for r in snap.snapshot_scan(spark, t, "k", lo=2, hi=6).collect()}
    assert got == {2, 3, 5, 6}
    # vacuum with the delete version retained keeps its key file
    snap.snapshot_vacuum(t, keep=2, min_age_seconds=0.0)
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(10)) - {4})
    # fold + vacuum to a single retained version: key file dir retires
    snap.snapshot_compact(spark, t)
    snap.snapshot_vacuum(t, keep=1, min_age_seconds=0.0)
    m = snap._read_manifest(t, snap._versions(t)[-1])
    live_dirs = {f.split("/")[1] for f in m["files"]}
    on_disk = set(os.listdir(os.path.join(t, "data")))
    assert on_disk == live_dirs
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(10)) - {4})


# ------------------------------------------- position-grain deletes


def test_position_delete_handles_duplicate_keys(spark, tmp_path):
    """The case equality deletes cannot express: a table with
    duplicate keys where only the physically-matching rows must go."""
    t = str(tmp_path / "t")
    rows = [(1, 1.0), (1, 1.0), (2, 2.0), (2, 9.0), (3, 3.0)]
    snap.snapshot_commit(_df(spark, rows), t, mode="overwrite")
    snap.snapshot_delete_mor_positions(spark, t, "k = 2 AND v = 9.0")
    got = sorted((r.k, r.v) for r in snap.read_as_of(spark, t).collect())
    # only the (2, 9.0) physical row is gone; the (2, 2.0) twin stays
    assert got == [(1, 1.0), (1, 1.0), (2, 2.0), (3, 3.0)]
    assert snap.read_as_of(spark, t, 1).count() == 5  # time travel
    hist = {r.version: (r.op, r.n_rows) for r in
            snap.table_history(spark, t).collect()}
    assert hist[2] == ("delete_mor_pos", 4)


def test_position_delete_is_self_scoped_and_folds(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(_df(spark, [(i, float(i)) for i in range(8)]), t,
                         mode="overwrite")
    snap.snapshot_delete_mor_positions(spark, t, "k IN (2, 5)")
    # an appended row matching the same predicate is NOT touched by
    # the stale positions (self-scoping via file path)
    snap.snapshot_commit(_df(spark, [(2, 22.0)]), t, mode="append")
    got = {(r.k, r.v) for r in snap.read_as_of(spark, t).collect()}
    assert got == {(0, 0.0), (1, 1.0), (3, 3.0), (4, 4.0), (6, 6.0),
                   (7, 7.0), (2, 22.0)}
    # live-view matching: a second position delete on k=2 removes the
    # re-inserted row only (the original k=2 row is already dead)
    snap.snapshot_delete_mor_positions(spark, t, "k = 2")
    m = snap._read_manifest(t, snap._versions(t)[-1])
    assert sum(1 for d in m["deletes"] if d.get("grain") == "position") == 2
    got = {r.k for r in snap.read_as_of(spark, t).collect()}
    assert got == {0, 1, 3, 4, 6, 7}
    # compact folds both position files into plain data
    snap.snapshot_compact(spark, t)
    m = snap._read_manifest(t, snap._versions(t)[-1])
    assert "deletes" not in m
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == {
        0, 1, 3, 4, 6, 7}


def test_position_and_equality_deletes_stack_with_cow(spark, tmp_path):
    t = str(tmp_path / "t")
    snap.snapshot_commit(
        _df(spark, [(i, float(i)) for i in range(12)]).repartition(3), t,
        mode="overwrite")
    snap.snapshot_delete_mor(spark, t, _df(spark, [(1, 0.0)]), ["k"])
    snap.snapshot_delete_mor_positions(spark, t, "k = 4")
    # CoW delete of a third key must resurrect neither
    snap.snapshot_delete(spark, t, _df(spark, [(8, 0.0)]), ["k"])
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(12)) - {1, 4, 8})
    hist = {r.version: r.n_rows for r in
            snap.table_history(spark, t).collect()}
    assert hist == {1: 12, 2: 11, 3: 10, 4: 9}
    # changes-since across all three sees exactly the removed keys
    ch = {(r.k, r.diff_type) for r in
          snap.snapshot_changes(spark, t, 1, 4, key_cols=["k"]).collect()}
    assert ch == {(1, "removed"), (4, "removed"), (8, "removed")}


def test_deletes_survive_uri_hostile_table_dir(spark, tmp_path):
    """r10 ADVICE (medium): input_file_name() emits a PERCENT-ENCODED
    URI, so a table dir containing a space or '%' used to defeat the
    prefix strip that scopes delete anti-joins — MoR-deleted rows
    silently resurrected and CoW touched-file discovery saw zero
    files. Pin all three delete paths on a hostile dir."""
    t = str(tmp_path / "sp ace%25 dir" / "t")
    snap.snapshot_commit(_df(spark, [(i, float(i)) for i in range(10)]), t,
                         mode="overwrite")
    # equality-grain MoR: anti-join scoped by applies_to ∈ _mor_file
    snap.snapshot_delete_mor(spark, t, _df(spark, [(3, 0.0)]), ["k"])
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(10)) - {3})
    # position-grain MoR: anti-join keyed on (_mor_file, _mor_pos)
    snap.snapshot_delete_mor_positions(spark, t, "k = 7")
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(10)) - {3, 7})
    # CoW delete: touched-file discovery via the same provenance strip
    snap.snapshot_delete(spark, t, _df(spark, [(5, 0.0)]), ["k"])
    assert {r.k for r in snap.read_as_of(spark, t).collect()} == (
        set(range(10)) - {3, 5, 7})
