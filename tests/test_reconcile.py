"""reconcile.table_diff / cdc_merge + linkage.fuzzy_join semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import linkage, reconcile


@pytest.fixture(scope="module")
def snap_pair(spark):
    left = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, "c", None),
            (4, "d", 40.0),
        ],
        "k long, s string, v double",
    )
    right = spark.createDataFrame(
        [
            (1, "a", 10.0),    # unchanged
            (2, "B", 21.0),    # two columns changed
            (3, "c", None),    # unchanged (NULL == NULL null-safely)
            (5, "e", 50.0),    # added
        ],
        "k long, s string, v double",
    )
    return left, right


def test_table_diff_classification(snap_pair):
    left, right = snap_pair
    rows = {
        r.k: r for r in reconcile.table_diff(left, right, ["k"]).collect()
    }
    assert set(rows) == {2, 4, 5}  # key 1 and 3 identical → absent
    assert rows[2].diff_type == "changed"
    assert rows[2].changed_cols == "s,v"  # sorted column list
    assert rows[4].diff_type == "removed" and rows[4].changed_cols is None
    assert rows[5].diff_type == "added" and rows[5].changed_cols is None


def test_table_diff_null_vs_value_is_a_change(spark):
    left = spark.createDataFrame([(1, None)], "k long, v double")
    right = spark.createDataFrame([(1, 5.0)], "k long, v double")
    row = reconcile.table_diff(left, right, ["k"]).first()
    assert row.diff_type == "changed" and row.changed_cols == "v"


def test_table_diff_compare_subset(snap_pair):
    left, right = snap_pair
    # comparing only `s` (the projection is the column subset): key 2
    # still changed, value-only changes vanish
    rows = {
        r.k: r
        for r in reconcile.table_diff(
            left.select("k", "s"), right.select("k", "s"), ["k"]
        ).collect()
    }
    assert rows[2].changed_cols == "s"


def _merge(spark, target_rows, change_rows):
    target = spark.createDataFrame(
        target_rows, "k long, ts long, s string"
    )
    changes = spark.createDataFrame(
        change_rows, "k long, ts long, s string, op string"
    )
    return {
        r.k: r
        for r in reconcile.cdc_merge(
            target, changes, key_cols=["k"], ts_col="ts", op_col="op"
        ).collect()
    }


def test_cdc_merge_upsert_delete_resurrect(spark):
    out = _merge(
        spark,
        [(1, 10, "old"), (2, 10, "keep"), (3, 10, "gone")],
        [
            (1, 20, "new", "U"),          # update wins by ts
            (3, 20, None, "D"),           # delete
            (4, 20, "ins", "U"),          # insert of unseen key
            (5, 20, None, "D"),           # delete then re-insert
            (5, 30, "back", "U"),
        ],
    )
    assert out[1].s == "new" and out[1].ts == 20
    assert out[2].s == "keep"          # untouched target row survives
    assert 3 not in out                # tombstoned
    assert out[4].s == "ins"
    assert out[5].s == "back"          # resurrection: newest op wins


def test_cdc_merge_stale_change_loses_to_target(spark):
    # a change OLDER than the snapshot row must not regress the target
    # (idempotent replay over an overlapping change window)
    out = _merge(spark, [(1, 50, "current")], [(1, 20, "stale", "U")])
    assert out[1].s == "current" and out[1].ts == 50


def test_fuzzy_join_blocked_recall_vs_brute_force(spark):
    """On two-token names with single-token typos, blocking must find
    exactly the brute-force ≤2-edit pairs; an every-token-edited name
    is the documented recall limit."""
    dirty = spark.createDataFrame(
        [
            (1, "red platee"),   # 1 edit in token 2 → blocked via 'red'
            (2, "rd plate"),     # 1 edit in token 1 → blocked via 'plate'
            (3, "rd platee"),    # both tokens edited → NOT a candidate
            (4, "blue rng"),
        ],
        "id long, name string",
    )
    catalog = spark.createDataFrame(
        [(100, "red plate"), (101, "blue ring")],
        "cid long, cname string",
    )
    out = {
        (r.left_id, r.right_id): r.distance
        for r in linkage.fuzzy_join(
            dirty, catalog, "id", "name", "cid", "cname", max_distance=2
        ).collect()
    }
    assert out == {(1, 100): 1, (2, 100): 1, (4, 101): 1}
    # brute force finds the (3, 100) pair blocking must miss — the
    # contract documented on the operator
    brute = (
        dirty.crossJoin(catalog)
        .withColumn("d", F.levenshtein("name", "cname"))
        .filter(F.col("d") <= 2)
    )
    assert (3, 100) in {(r.id, r.cid) for r in brute.collect()}


def test_cdc_merge_incremental_equals_oneshot_property(spark):
    """The invariant streaming_cdc_state rides on, as a property test:
    for ANY split of a change stream into two batches (including
    out-of-order splits), tombstone-keeping incremental merge over the
    batches equals the one-shot merge of everything — and the serving
    filter then equals the full recompute."""
    import random

    rnd = random.Random(7)
    ops = ["U", "U", "U", "D"]
    changes = [
        (rnd.randrange(6), t, f"v{t}", rnd.choice(ops))
        for t in range(40)
    ]
    schema = "k long, ts long, s string, op string"
    all_df = spark.createDataFrame(changes, schema)
    empty = all_df.filter(F.lit(False))

    def merge(target, batch, **kw):
        from algoritmos_etl_spark.operators.reconcile import cdc_merge

        return cdc_merge(
            target, batch, key_cols=["k"], ts_col="ts", op_col="op",
            keep_tombstones=True, target_op_col="op", **kw
        )

    oneshot = {
        r.k: (r.ts, r.op, r.s) for r in merge(empty, all_df).collect()
    }
    for seed in range(3):
        r2 = random.Random(seed)
        mask = [r2.random() < 0.5 for _ in changes]
        b1 = spark.createDataFrame(
            [c for c, m in zip(changes, mask) if m], schema
        )
        b2 = spark.createDataFrame(
            [c for c, m in zip(changes, mask) if not m], schema
        )
        stepped = {
            r.k: (r.ts, r.op, r.s)
            for r in merge(merge(empty, b1), b2).collect()
        }
        assert stepped == oneshot, f"split seed {seed} diverged"


def test_fuzzy_join_stopword_blocks_fail_distance(spark):
    """A stop-word token shared by the whole catalog blocks a name
    against every catalog row, and the distance filter rejects them
    all; a typo on the stop token still matches through the
    discriminative token."""
    catalog = spark.createDataFrame(
        [(i, f"acme{i} inc") for i in range(10)] + [(99, "zeta inc")],
        "cid long, cname string",
    )
    dirty = spark.createDataFrame(
        [(1, "zeta ink"),      # typo on the STOP token; 'zeta' blocks
         (2, "query inc")],    # only 'inc' shared → too far from all
        "id long, name string",
    )
    out = linkage.fuzzy_join(
        dirty, catalog, "id", "name", "cid", "cname", max_distance=2
    )
    assert {(r.left_id, r.right_id) for r in out.collect()} == {(1, 99)}
