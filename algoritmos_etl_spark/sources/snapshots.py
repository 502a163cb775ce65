"""Manifest-based snapshot tables: atomic commits + time travel.

The versioned-read pattern of `streaming.mv.read_cdc_state`
generalized to the WHOLE table-maintenance family (the mini-Iceberg
the reference's flat CSV master lacks, and the layer that gives
compaction, upsert and write-audit-publish true reader isolation):

  <table>/data/c<version>-<nonce>/part-*.parquet   immutable data files
  <table>/_manifests/v=<version>.json              the commit pointer

A commit writes NEW immutable data files first, then publishes ONE
manifest file via a tmp-write + os.link (exclusive create) — the
single-pointer atomic publish that a two-rename stage-and-swap cannot
give. Readers resolve a manifest (newest, or any retained historical
version) and read EXACTLY its file list, so:

- a reader is ATOMIC against concurrent compaction/publish: the files
  a manifest names are never mutated, only superseded and eventually
  vacuumed;
- time travel is `read_as_of(version)`; lineage is `table_history`;
- a crash between data-write and manifest-link leaves orphan data
  files that no reader can see — `vacuum` retires them.

Concurrency contract: os.link fails (EEXIST) when the target version
was taken, so racing committers never silently overwrite each other —
the loser RE-VALIDATES against the new head (Iceberg-style: an append
recomputes the prior file list, compact/upsert/delete recompute their
rewrite from the new head) and retries at the next version number.
Local-POSIX scope, same as the rest of the layout family (object
stores want a conditional-PUT here).

Schema evolution (r9): every manifest records the snapshot's Spark
schema; `read_as_of` reads with that EXPLICIT schema, so files written
before an `snapshot_add_column` backfill the new column with NULLs at
read time — no data rewrite. Row-level deletes (`snapshot_delete`) are
copy-on-write of the touched files only; deleted rows stay visible
as-of older versions until vacuum retires them.

Reference anchor: the reference re-reads its whole CSV master per
request (`app.py:109`, `main.py:118`) — no versioning, last-writer
wins; this module is the scale-safe replacement surface.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _versions(table_dir: str) -> list[int]:
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v=") and name.endswith(".json"):
            out.append(int(name[2:-5]))
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(table_dir), f"v={version}.json")) as f:
        return json.load(f)


def _publish_at(table_dir: str, manifest: dict, version: int) -> bool:
    """Single atomic publish ATTEMPT at exactly `version`.

    tmp-write + os.link: link is atomic AND fails with EEXIST if a
    racing committer took the version — content is fully durable
    before the pointer appears, and no commit ever overwrites another.
    Returns False on a lost race so the CALLER re-validates its
    manifest against the new head before retrying (an append's prior
    file list, a compact/upsert/delete's rewrite — all are stale the
    moment another commit lands; blindly re-linking the same manifest
    at the next slot would silently drop the winner's changes).
    """
    mdir = _manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    try:
        manifest["version"] = version
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(mdir, f"v={version}.json"))
            return True
        except FileExistsError:
            return False
    finally:
        os.unlink(tmp)


def _publish_manifest(table_dir: str, manifest: dict) -> int:
    """Publish a PRIOR-INDEPENDENT manifest (its file list does not
    derive from the head snapshot: overwrite, WAP publish) at the next
    free version, retrying past stolen slots. Prior-DEPENDENT commits
    must NOT use this — they re-validate via their own _publish_at
    loops (see the concurrency contract in the module docstring)."""
    version = (_versions(table_dir) or [0])[-1] + 1
    while not _publish_at(table_dir, manifest, version):
        version = _versions(table_dir)[-1] + 1
    return manifest["version"]


def _schema_json(df: DataFrame) -> dict:
    return json.loads(df.schema.json())


def _merge_schema(prior: dict | None, new: dict) -> dict:
    """Append-time schema union: prior fields keep their order, new
    fields append at the end; a name present in both with a different
    type is a commit-time error (no implicit type evolution)."""
    if prior is None:
        return new
    by_name = {f["name"]: f for f in prior["fields"]}
    fields = list(prior["fields"])
    for f in new["fields"]:
        have = by_name.get(f["name"])
        if have is None:
            fields.append(f)
        elif have["type"] != f["type"]:
            raise ValueError(
                f"snapshot schema conflict on {f['name']!r}: "
                f"{have['type']} vs {f['type']}"
            )
    return {**prior, "fields": fields}


def _read_manifest_df(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    file_col: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """Read exactly a manifest's file list, under its recorded schema
    when present — files older than an add_column backfill the new
    column with NULLs (schema-on-read evolution). Pre-r9 manifests
    carry no schema and read bare.

    Merge-on-read deletes (r10): when the manifest carries `deletes`
    entries (`snapshot_delete_mor`), each entry's key file anti-joins
    the rows of the data files it `applies_to` — the Iceberg equality-
    delete read path. Scoping by `applies_to` (the data files present
    when the delete committed) is what lets a later append RE-INSERT a
    deleted key: new files are not in any earlier entry's scope. Key
    files broadcast (delete batches are small by the same contract as
    the CoW path). Entries with grain='position'
    (`snapshot_delete_mor_positions`) anti-join on (file, row_index)
    instead — the Delta deletion-vector shape: physical-row precise,
    key-free, self-scoped (a position row names its file, so rewritten
    or appended files are never touched by stale positions)."""
    from pyspark.sql import functions as F

    paths = [os.path.join(table_dir, f) for f in m["files"]]
    reader = spark.read
    if m.get("schema"):
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(m["schema"]))
    df = reader.parquet(*paths)
    deletes = m.get("deletes") or []
    need_pos = pos_col is not None or any(
        d.get("grain") == "position" for d in deletes
    )
    # the table-relative provenance column must attach BEFORE any
    # delete anti-join (input_file_name is only unambiguous next to
    # the scan); `file_col` keeps it in the output for callers that
    # need touched-file discovery (snapshot_delete). input_file_name
    # emits a URI whose scheme slashes vary (file:/ vs file:///) and
    # whose path is PERCENT-ENCODED (a space in table_dir arrives as
    # %20) — normalize the scheme, then strip the URI-encoded form of
    # the absolute table dir first and the raw form second (equal for
    # plain-ASCII dirs; the safe set reproduces Java URI path
    # encoding — RFC 2396 pchar — so the encoded strip matches what
    # input_file_name actually emits, and the raw strip is the
    # belt-and-braces second pass). A prefix that failed to strip
    # would silently match NOTHING in the delete anti-joins — deleted
    # rows resurrecting — which is why this is pinned by a pytest on
    # a table dir containing a space and a '%'.
    if file_col is not None or deletes:
        raw_prefix = os.path.abspath(table_dir) + "/"
        enc_prefix = quote(raw_prefix, safe="/!~*'():@&=+$,")
        local = F.regexp_replace(
            F.input_file_name(), "^file:/+", "/"
        )
        stripped = F.replace(local, F.lit(enc_prefix), F.lit(""))
        if raw_prefix != enc_prefix:
            stripped = F.replace(stripped, F.lit(raw_prefix), F.lit(""))
        df = df.withColumn("_mor_file", stripped)
    if need_pos:
        df = df.withColumn("_mor_pos", F.col("_metadata.row_index"))
    present = set(m["files"])
    for d in deletes:
        dpaths = [os.path.join(table_dir, f) for f in d["files"]]
        if d.get("grain") == "position":
            # positions are self-scoped: each row names its file, so
            # files rewritten/appended later can never match
            pos = spark.read.parquet(*dpaths).select(
                F.col("file").alias("_mor_file"),
                F.col("pos").alias("_mor_pos"),
                F.lit(True).alias("_mor_hit"),
            )
            df = (
                df.join(F.broadcast(pos), ["_mor_file", "_mor_pos"], "left")
                .filter(~F.coalesce(F.col("_mor_hit"), F.lit(False)))
                .drop("_mor_hit")
            )
            continue
        applies = sorted(set(d["applies_to"]) & present)
        if not applies:
            continue
        keys = (
            spark.read.parquet(*dpaths)
            .select(*d["key_cols"])
            .withColumn("_mor_hit", F.lit(True))
        )
        df = (
            df.join(F.broadcast(keys), d["key_cols"], "left")
            .filter(
                ~(
                    F.coalesce(F.col("_mor_hit"), F.lit(False))
                    & F.col("_mor_file").isin(*applies)
                )
            )
            .drop("_mor_hit")
        )
    if pos_col:
        df = df.withColumnRenamed("_mor_pos", pos_col)
    elif need_pos:
        df = df.drop("_mor_pos")
    return (
        df.withColumnRenamed("_mor_file", file_col)
        if file_col
        else df.drop("_mor_file")
    )


def _write_data(df: DataFrame, table_dir: str, version_hint: int) -> list[str]:
    """Write df as immutable files under a fresh commit subdir; returns
    table-relative file paths."""
    sub = f"data/c{version_hint}-{uuid.uuid4().hex[:8]}"
    out = os.path.join(table_dir, sub)
    df.write.mode("error").parquet(out)
    return sorted(
        f"{sub}/{name}"
        for name in os.listdir(out)
        if name.endswith(".parquet")
    )


def _count_rows(table_dir: str, files: list[str]) -> int:
    """Exact row count from parquet footers — local metadata reads,
    no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
        for f in files
    )


def _stat_value(v):
    """Canonicalize a parquet statistics value for JSON storage and
    cross-type-safe comparison: numbers stay numbers, bytes decode,
    date/datetime become ISO strings (lexicographic == chronological)."""
    import datetime

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return v


def _file_stats(
    table_dir: str, files: list[str], cols: list[str]
) -> dict:
    """Per-file min/max/null_count for `cols` from parquet footers —
    local metadata reads, no Spark job (the Iceberg data-file metrics).
    A column chunk without written statistics yields None bounds, which
    readers treat as un-prunable (conservative)."""
    import pyarrow.parquet as pq

    out: dict = {}
    for f in files:
        md = pq.ParquetFile(os.path.join(table_dir, f)).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        per_col: dict = {}
        for c in cols:
            if c not in idx:
                continue
            mn = mx = None
            nulls = 0
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                else:
                    v0, v1 = _stat_value(st.min), _stat_value(st.max)
                    mn = v0 if mn is None or v0 < mn else mn
                    mx = v1 if mx is None or v1 > mx else mx
                nulls += st.null_count if st and st.null_count is not None else 0
            per_col[c] = [mn if ok else None, mx if ok else None, nulls]
        out[f] = per_col
    return out


def snapshot_commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    op: str | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Commit `df` as a new table version. mode='append' adds its
    files to the current snapshot; 'overwrite' replaces the file list.
    `stats_cols` records per-file min/max/null-count metrics in the
    manifest (Iceberg-style) so `snapshot_scan` can skip whole files;
    append carries the prior manifest's metrics forward. Returns the
    committed version number."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"snapshot_commit: unknown mode {mode!r}")
    versions = _versions(table_dir)
    hint = (versions[-1] if versions else 0) + 1
    new_files = _write_data(df, table_dir, hint)
    new_schema = _schema_json(df)
    new_stats = (
        _file_stats(table_dir, new_files, stats_cols) if stats_cols else {}
    )
    while True:
        # re-validated per attempt: a lost race means another commit
        # moved the head, so the append's prior file list (and schema)
        # must be recomputed from the NEW head — the already-written
        # data files stay valid across retries
        versions = _versions(table_dir)
        head = versions[-1] if versions else 0
        prior: list[str] = []
        prior_schema = None
        prior_stats: dict = {}
        if mode == "append" and versions:
            m = _read_manifest(table_dir, head)
            prior = m["files"]
            prior_schema = m.get("schema")
            prior_stats = m.get("stats", {})
        prior_deletes = (
            (m.get("deletes") or []) if mode == "append" and versions else []
        )
        files = prior + new_files
        manifest = {
            "op": op or mode,
            "files": files,
            "schema": _merge_schema(prior_schema, new_schema),
            # pending MoR deletes make footer counts overstate the live
            # table: carry the prior LIVE count and add only the new
            # files' rows (appended files are outside every delete
            # entry's applies_to scope, so all their rows are live)
            "n_rows": (
                m["n_rows"] + _count_rows(table_dir, new_files)
                if prior_deletes
                else _count_rows(table_dir, files)
            ),
        }
        if prior_deletes:
            manifest["deletes"] = prior_deletes
        stats = {**prior_stats, **new_stats}
        if stats:
            manifest["stats"] = stats
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1


def read_as_of(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The table exactly as manifest `version` (default: newest)
    recorded it. The returned DataFrame stays valid across ANY later
    commit/compaction (files are immutable until vacuum drops the
    version)."""
    versions = _versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshots under {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(
            f"version {v} not retained (have {versions}) — vacuumed or "
            "never committed"
        )
    m = _read_manifest(table_dir, v)
    if not m["files"]:
        raise ValueError(f"version {v} of {table_dir} is empty")
    return _read_manifest_df(spark, table_dir, m)


def scan_plan(
    table_dir: str,
    col: str,
    lo=None,
    hi=None,
) -> tuple[list[str], list[str], dict]:
    """File-skipping plan for a range predicate on `col`: which of the
    current manifest's files can contain a matching row, by the per-file
    min/max metrics `snapshot_commit(stats_cols=...)` recorded.
    Pure metadata — no Spark job, no file I/O beyond the manifest.

    Conservative by construction: a file without metrics for `col`
    (pre-stats commits, compaction/delete rewrites) is always kept; a
    file is skipped ONLY when its recorded [min, max] provably misses
    [lo, hi]. Rows with NULL `col` never match a range predicate, so
    skipped files lose nothing. `lo`/`hi` MUST be the column's own
    type (datetime bounds for a timestamp column, not a date or a
    string) — metrics and bounds canonicalize through the same
    `_stat_value` and a mixed-grain comparison ("1998-12-31" vs
    "1998-12-31 00:00:00") would mis-prune the boundary file. Returns
    (kept, all_files, manifest)."""
    versions = _versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshots under {table_dir}")
    m = _read_manifest(table_dir, versions[-1])
    stats = m.get("stats", {})
    qlo, qhi = _stat_value(lo), _stat_value(hi)
    kept = []
    for f in m["files"]:
        s = stats.get(f, {}).get(col)
        if s is None or s[0] is None or s[1] is None:
            kept.append(f)  # no metrics -> cannot prune
            continue
        fmin, fmax = s[0], s[1]
        if qlo is not None and fmax < qlo:
            continue
        if qhi is not None and fmin > qhi:
            continue
        kept.append(f)
    return kept, m["files"], m


def snapshot_scan(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Range-filtered read of the current snapshot with manifest-level
    file skipping: only files whose recorded [min, max] can intersect
    [lo, hi] are opened (Iceberg scan planning), then the residual row filter
    applies — pruning is file-grain, correctness is row-grain, so the
    result EQUALS `read_as_of(...).filter(lo <= col <= hi)` exactly
    (that identity is the registered oracle's contract)."""
    from pyspark.sql import functions as F

    kept, _all, m = scan_plan(table_dir, col, lo, hi)
    if not kept:
        base = _read_manifest_df(spark, table_dir, m)  # schema only
        return base.filter(F.lit(False))
    df = _read_manifest_df(spark, table_dir, {**m, "files": kept})
    if lo is not None:
        df = df.filter(F.col(col) >= lo)
    if hi is not None:
        df = df.filter(F.col(col) <= hi)
    return df


def table_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """(version, op, n_files, n_rows) per retained manifest — the
    audit/lineage view."""
    rows = [
        (
            v,
            m["op"],
            len(m["files"]),
            m["n_rows"],
        )
        for v in _versions(table_dir)
        for m in [_read_manifest(table_dir, v)]
    ]
    return spark.createDataFrame(
        rows, "version long, op string, n_files long, n_rows long"
    )


def snapshot_compact(spark: SparkSession, table_dir: str) -> int:
    """Rewrite the current snapshot into one file and commit the
    result as a new version. Readers pinned at older
    versions keep their (still-present) files — snapshot isolation,
    where an in-place overwrite would race them."""
    while True:
        versions = _versions(table_dir)
        if not versions:
            raise ValueError(f"no snapshots under {table_dir}")
        head = versions[-1]
        m = _read_manifest(table_dir, head)
        cur = _read_manifest_df(spark, table_dir, m)
        files = _write_data(cur.coalesce(1), table_dir, head + 1)
        manifest = {
            "op": "compact",
            "files": files,
            "schema": m.get("schema") or _schema_json(cur),
            "n_rows": _count_rows(table_dir, files),
        }
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1
        # lost the race: the head moved, so this rewrite no longer
        # reflects it — recompact from the new head (the orphaned
        # attempt's files retire via vacuum)


def snapshot_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """Keyed MERGE committed as a new version: update rows replace
    current rows with the same key (updates must be unique on
    key_cols). Unlike a partition-overwrite upsert this is key-safe
    under partition moves — the whole current snapshot participates."""
    from pyspark.sql import functions as F

    while True:
        versions = _versions(table_dir)
        if not versions:
            raise ValueError(f"no snapshots under {table_dir}")
        head = versions[-1]
        m = _read_manifest(table_dir, head)
        cur = _read_manifest_df(spark, table_dir, m)
        cols = cur.columns
        tagged = (
            cur.select(*cols)
            .withColumn("_src", F.lit(0))
            .unionByName(updates.select(*cols).withColumn("_src", F.lit(1)))
        )
        merged = (
            tagged.groupBy(*key_cols)
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols if c not in key_cols]),
                    F.col("_src"),
                ).alias("_w")
            )
            .select(
                *key_cols,
                *[
                    F.col(f"_w.{c}").alias(c)
                    for c in cols
                    if c not in key_cols
                ],
            )
        )
        files = _write_data(merged, table_dir, head + 1)
        manifest = {
            "op": "upsert",
            "files": files,
            "schema": m.get("schema") or _schema_json(cur),
            "n_rows": _count_rows(table_dir, files),
        }
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1
        # lost the race: re-merge against the new head


def snapshot_publish(
    df: DataFrame, table_dir: str, rules: list
) -> dict:
    """Write-Audit-Publish on the snapshot layer: stage data files,
    audit WHAT WAS WRITTEN, and publish with the ONE-rename manifest
    commit — no two-rename stage-and-swap window (readers here always
    resolve a complete manifest; a failed audit publishes nothing and
    leaves no stage dir to recover)."""
    from ..operators import expectations

    spark = df.sparkSession
    versions = _versions(table_dir)
    hint = (versions[-1] if versions else 0) + 1
    files = _write_data(df, table_dir, hint)
    staged = spark.read.parquet(
        *[os.path.join(table_dir, f) for f in files]
    )
    report = expectations.check(staged, rules).collect()
    violations = [
        (r.rule, int(r.n_violations)) for r in report if not r.passed
    ]
    if violations:
        # unpublished files are invisible to every reader; vacuum
        # retires them like any other orphan
        return {"published": False, "version": None, "violations": violations}
    v = _publish_manifest(
        table_dir,
        {
            "op": "publish",
            "files": files,
            "schema": _schema_json(df),
            "n_rows": _count_rows(table_dir, files),
        },
    )
    return {"published": True, "version": v, "violations": []}


def snapshot_delete(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key_cols: list[str],
) -> int:
    """Row-level DELETE (the GDPR right-to-be-forgotten surface) as
    COPY-ON-WRITE of the touched files only: files containing no
    matching key carry over to the new manifest untouched; files with
    at least one hit are rewritten minus the deleted keys. Deleted
    rows remain visible as-of every OLDER version until
    `snapshot_vacuum` retires those versions — time-travel semantics
    are preserved, and `snapshot_changes` across the delete emits the
    rows as `removed`.

    Scale shape: the key set broadcasts (a delete batch is small by
    contract), touched-file discovery is one semi-join carrying
    `input_file_name`, and the rewrite cost is |touched files| — a
    10-file delete on a 100k-file table costs 10 files, the
    partition-upsert discipline at row grain. A delete that
    touches nothing still publishes (op='delete', same files), so the
    audit trail records the attempt.

    MoR interplay: touched-file discovery and the rewrite both read
    through the manifest's pending equality-delete entries (a MoR-
    suppressed row can neither mark a file touched nor resurrect in a
    rewrite); surviving entries carry forward with their `applies_to`
    pruned to the files that remain."""
    from pyspark.sql import functions as F

    key_set = keys.select(*key_cols).distinct()
    while True:
        versions = _versions(table_dir)
        if not versions:
            raise ValueError(f"no snapshots under {table_dir}")
        head = versions[-1]
        m = _read_manifest(table_dir, head)
        cur = _read_manifest_df(spark, table_dir, m, file_col="_file")
        # bounded collect: one row per TOUCHED FILE (<= |delete batch|
        # file spread), declared in test_plan_hygiene._COLLECT_BOUNDED
        touched = sorted(
            {
                r._file
                for r in cur.join(
                    F.broadcast(key_set), key_cols, "left_semi"
                )
                .select("_file")
                .distinct()
                .collect()
            }
        )
        rewritten: list[str] = []
        if touched:
            kept = _read_manifest_df(
                spark, table_dir, {**m, "files": touched}
            ).join(F.broadcast(key_set), key_cols, "left_anti")
            rewritten = _write_data(kept, table_dir, head + 1)
        untouched = [f for f in m["files"] if f not in set(touched)]
        files = untouched + rewritten
        new_deletes = []
        for d in m.get("deletes") or []:
            if d.get("grain") == "position":
                # self-scoped: rows naming rewritten files are inert
                new_deletes.append(d)
                continue
            remaining = [f for f in d["applies_to"] if f in set(untouched)]
            if remaining:
                new_deletes.append({**d, "applies_to": remaining})
        manifest = {
            "op": "delete",
            "files": files,
            "schema": m.get("schema"),
            "n_rows": (
                m["n_rows"]
                - cur.join(F.broadcast(key_set), key_cols, "left_semi").count()
                if new_deletes
                else _count_rows(table_dir, files)
            ),
        }
        if new_deletes:
            manifest["deletes"] = new_deletes
        # untouched files keep their still-valid min/max metrics;
        # rewritten files carry none (conservatively re-read) until a
        # stats-recording commit re-covers them
        carried = {
            f: s
            for f, s in m.get("stats", {}).items()
            if f not in set(touched)
        }
        if carried:
            manifest["stats"] = carried
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1
        # lost the race: recompute the touched split from the new head


def snapshot_delete_mor(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key_cols: list[str],
) -> int:
    """Row-level DELETE as MERGE-ON-READ (the Iceberg equality-delete
    / Delta deletion-vector other half of `snapshot_delete`): instead
    of rewriting every touched data file, commit ONE small key file
    and let readers anti-join it — a 10-row GDPR delete on a 100k-file
    table writes one file instead of rewriting every file that holds a
    matching row (the CoW table-rewrite tax at 100 TB).

    The manifest entry records `applies_to` = the data files present
    at delete time, so a LATER append can re-insert a deleted key (new
    files are outside the scope — Iceberg's sequence-number rule at
    explicit file-list grain; a production tier would compress the
    list to a sequence number). Deletes stack; each adds one broadcast
    anti-join to the read until `snapshot_compact` folds them into
    plain data files — after which a CoW and a MoR table that saw the
    same operations read identically (pinned in tests). Older versions
    still see the rows (time travel), `snapshot_changes` across the
    delete emits them as `removed`, and vacuum retires key files with
    the manifests that reference them."""
    key_set = keys.select(*key_cols).distinct()
    from pyspark.sql import functions as F

    delete_files: list[str] | None = None
    while True:
        versions = _versions(table_dir)
        if not versions:
            raise ValueError(f"no snapshots under {table_dir}")
        head = versions[-1]
        m = _read_manifest(table_dir, head)
        if delete_files is None:
            # one small file regardless of input partitioning (the key
            # set is bounded by the delete-batch contract), written
            # once — it stays valid across race retries
            delete_files = _write_data(
                key_set.coalesce(1), table_dir, head + 1
            )
        hits = (
            _read_manifest_df(spark, table_dir, m)
            .join(F.broadcast(key_set), key_cols, "left_semi")
            .count()
        )
        manifest = {
            "op": "delete_mor",
            "files": m["files"],
            "schema": m.get("schema"),
            "n_rows": m["n_rows"] - hits,
            "deletes": (m.get("deletes") or [])
            + [
                {
                    "files": delete_files,
                    "key_cols": list(key_cols),
                    "applies_to": m["files"],
                }
            ],
        }
        if m.get("stats"):
            # data files untouched -> every per-file metric stays a
            # valid (conservative) bound for scan planning
            manifest["stats"] = m["stats"]
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1
        # lost the race: recompute hits/scope from the new head (the
        # written key file stays valid across retries)


def snapshot_delete_mor_positions(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
) -> int:
    """Row-level DELETE at POSITION grain (the Delta deletion-vector
    shape, vs `snapshot_delete_mor`'s Iceberg equality shape): every
    LIVE row matching `predicate` (a SQL expression over the table's
    columns) is recorded as a (file, row_index) pair in one committed
    position file; readers anti-join on physical position. Key-free —
    it works on tables with duplicate or absent keys, where an
    equality delete would be over- or under-inclusive — and
    physical-row precise: a position row names its file, so it can
    never touch a file rewritten or appended later (no applies_to
    list needed; re-insert works by construction). `row_index` is the
    parquet scan's `_metadata.row_index` — stable for immutable files,
    which is exactly what the snapshot layout guarantees.

    Matching runs against the LIVE view (pending MoR deletes applied),
    so already-deleted rows are never re-recorded. Deletes stack until
    `snapshot_compact` folds them; vacuum treats position files as
    references; `snapshot_changes` reports the rows as removed."""
    from pyspark.sql import functions as F

    while True:
        versions = _versions(table_dir)
        if not versions:
            raise ValueError(f"no snapshots under {table_dir}")
        head = versions[-1]
        m = _read_manifest(table_dir, head)
        cur = _read_manifest_df(
            spark, table_dir, m, file_col="_file", pos_col="_pos"
        )
        matches = cur.filter(F.expr(predicate)).select(
            F.col("_file").alias("file"), F.col("_pos").alias("pos")
        )
        # recomputed per attempt (unlike the equality path's reusable
        # key file): positions are only valid against THIS head's
        # files; a lost race orphans the stale position file (vacuum)
        delete_files = _write_data(matches.coalesce(1), table_dir, head + 1)
        hits = _count_rows(table_dir, delete_files)
        manifest = {
            "op": "delete_mor_pos",
            "files": m["files"],
            "schema": m.get("schema"),
            "n_rows": m["n_rows"] - hits,
            "deletes": (m.get("deletes") or [])
            + [{"files": delete_files, "grain": "position"}],
        }
        if m.get("stats"):
            manifest["stats"] = m["stats"]
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1


def snapshot_add_column(table_dir: str, name: str, dtype: str) -> int:
    """METADATA-ONLY schema evolution: add a nullable column to the
    table schema without touching a single data file. Readers at the
    new version see the column NULL-backfilled (read_as_of applies
    the manifest schema explicitly); readers at older versions see
    the old schema — exactly the Iceberg/Delta add-column contract.
    `dtype` is a Spark DDL type string ('double', 'string', ...)."""
    from pyspark.sql.types import StructType

    field = json.loads(StructType().add(name, dtype, True).json())["fields"][0]
    while True:
        versions = _versions(table_dir)
        if not versions:
            raise ValueError(f"no snapshots under {table_dir}")
        head = versions[-1]
        m = _read_manifest(table_dir, head)
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                "snapshot_add_column: head manifest predates schema "
                "tracking — commit once with current code first"
            )
        if any(f["name"] == name for f in schema["fields"]):
            raise ValueError(f"column {name!r} already exists")
        manifest = {
            "op": "add_column",
            "files": m["files"],
            "schema": {**schema, "fields": schema["fields"] + [field]},
            "n_rows": m["n_rows"],
        }
        if m.get("deletes"):
            # metadata-only: pending MoR deletes ride along unchanged
            manifest["deletes"] = m["deletes"]
        if m.get("stats"):
            # files unchanged -> every per-file metric stays valid
            manifest["stats"] = m["stats"]
        if _publish_at(table_dir, manifest, head + 1):
            return head + 1


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental read between two RETAINED versions — time travel
    composed with the keyed diff: (key…, diff_type ∈ {added, removed,
    changed}, changed_cols) for everything that changed between
    `from_version` and `to_version` (default: newest). This is the
    Iceberg/Delta "read the changes since snapshot N" surface: a
    downstream consumer syncs from v_N to head by ONE diff instead of
    reprocessing the table.

    Cost is |v_from| + |v_to| through one full-outer key join — both
    snapshots are plain file lists, so at 100 TB this is the same
    plan as any two-table diff (bucketed layouts make it
    exchange-free). `key_cols` must key both versions (the table_diff
    contract).
    """
    from ..operators.reconcile import table_diff

    if key_cols is None:
        raise ValueError("snapshot_changes: key_cols is required")
    left = read_as_of(spark, table_dir, from_version)
    right = read_as_of(spark, table_dir, to_version)
    return table_diff(left, right, key_cols)


def snapshot_vacuum(
    table_dir: str, keep: int = 2, min_age_seconds: float = 600.0
) -> dict:
    """Retire manifests beyond the `keep` newest (>= 1 — the current
    version always survives) plus every data file no retained manifest
    references (including orphans from crashed commits). Readers of
    retained versions are untouched: their files are all referenced.

    Unreferenced commit dirs YOUNGER than `min_age_seconds` survive
    (mtime-based grace, the Iceberg/Delta vacuum convention): an
    in-flight commit sits between _write_data and its manifest link
    exactly in this state, and deleting its files would publish a
    manifest pointing at nothing. The default 10-minute grace covers
    any realistic commit; pass 0 ONLY when no writer can be active
    (vacuum and writers are otherwise mutually exclusive)."""
    import shutil
    import time

    keep = max(1, int(keep))
    versions = _versions(table_dir)
    doomed = versions[:-keep] if len(versions) > keep else []
    kept = [v for v in versions if v not in doomed]
    for v in doomed:
        os.unlink(os.path.join(_manifest_dir(table_dir), f"v={v}.json"))
    live: set[str] = set()
    for v in kept:
        m = _read_manifest(table_dir, v)
        live.update(m["files"])
        for d in m.get("deletes") or []:
            live.update(d["files"])  # MoR key files are references too
    data_dir = os.path.join(table_dir, "data")
    removed = 0
    now = time.time()
    if os.path.isdir(data_dir):
        for sub in os.listdir(data_dir):
            subdir = os.path.join(data_dir, sub)
            rel = f"data/{sub}"
            if any(f.startswith(rel + "/") for f in live):
                continue
            try:
                age = now - os.path.getmtime(subdir)
            except OSError:
                continue  # vanished under us (concurrent vacuum)
            if age < min_age_seconds:
                continue  # grace period: possibly an in-flight commit
            shutil.rmtree(subdir, ignore_errors=True)
            removed += 1
    return {"manifests_removed": len(doomed), "commit_dirs_removed": removed}
