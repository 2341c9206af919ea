"""Maintenance operations (SURVEY.md §2.10,
docs/10-maintenance-operations.md): compaction, clustering rewrite,
manifest rewrite, snapshot expiration, orphan cleanup.

All data movement is distributed Spark; the metadata edits are
driver-side JSON commits through the same CAS path as DML, so
maintenance is snapshot-isolated from readers exactly like writes.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import time

from pyspark.sql import functions as F

from .io import read_files
from .manifest import manifest_summary
from .metadata import Snapshot, TableMetadata
from .session import local_df
from .table import _LAST_UPDATED_COL, _ROW_ID_COL, lineage_preserving

_LINEAGE_COLS = [_ROW_ID_COL, _LAST_UPDATED_COL]


def compact(
    table,
    target_file_size: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
    cluster_strategy: str | None = None,
    where=None,
) -> Snapshot:
    """ALTER ICEBERG TABLE ... COMPACT DATA [TARGET_FILE_SIZE]
    (docs/10:33-49, docs/02:90-95) + optional CLUSTER BY rewrite
    (docs/09:156-168): read all live data (merge-on-read deletes are
    folded in — restoring read health, docs/10:123), repartition to the
    target file size, optionally range-cluster + sort within partitions
    for tighter per-file min/max bounds, rewrite, and replace
    everything in one ``replace`` snapshot.

    ``cluster_strategy`` (or table property ``write.sort-order.strategy``):

    - ``linear`` (default): lexicographic ``repartitionByRange`` —
      tight bounds on the FIRST cluster column, the rest only within
      ties.  Right when one column dominates the predicates.
    - ``zorder``: interleave the bits of all cluster columns and range-
      partition on the Z-value — every file becomes a small hyper-cube
      in the key space, so min/max pruning stays effective on EACH
      column independently (multi-dimensional point/range workloads).

    ``where`` (an ``icepack.expr`` predicate) scopes the rewrite to the
    files whose stats/partitions may match — `ALTER ... COMPACT DATA
    WHERE partition = ...` (docs/03-metadata-management.md:192-195):
    maintain one hot partition of a 100 TB table without touching the
    rest.  Scoped runs fold the applicable MOR deletes into the
    rewritten files (their new sequence number outranks the delete
    files) but keep the delete files alive for the untouched rest;
    only a full compaction retires them."""
    files = table.live_files(content="all")
    if not files:
        return table._commit_snapshot("replace", [])
    if cluster_by is None:
        # auto-clustering re-applies the table's declared order on
        # every compaction (docs/09:156-168): first-class metadata sort
        # order (replace_sort_order) wins; the legacy
        # ``write.sort-order`` property is the fallback spelling
        mo = table.meta.sort_order
        if mo.fields:
            schema = table.meta.schema
            cluster_by = [
                f.name + (" desc" if sf_.direction == "desc" else "")
                for sf_ in mo.fields
                if (f := schema.field_by_id(sf_.source_id)) is not None
            ]
        else:
            prop = table.meta.properties.get("write.sort-order")
            if prop:
                cluster_by = [c.strip() for c in prop.split(",")]
    if cluster_strategy is None:
        cluster_strategy = table.meta.properties.get("write.sort-order.strategy", "linear")
    # each cluster col may carry a direction suffix ("o_totalprice desc")
    cnames = [c.split()[0] for c in cluster_by] if cluster_by else []
    ccols = [
        F.col(c.split()[0]).desc() if c.lower().endswith(" desc") else F.col(c.split()[0])
        for c in (cluster_by or [])
    ]
    if where is not None:
        hit, _ = table.plan_files(where)
        # every non-data content folds: parquet tombstones AND v3
        # deletion-vectors (an endswith("-deletes") filter here would
        # silently skip DV entries and resurrect their rows in the
        # rewritten files)
        deletes = [f for f in files if f.content != "data"]
        if not hit:
            return table._commit_snapshot("replace", [])
        total_bytes = sum(f.file_size_bytes for f in hit)
        n_out = max(1, -(-total_bytes // target_file_size))
        lin = lineage_preserving(table)
        df = (
            table._lineage_df(hit, deletes)
            if lin
            else table._read_with_deletes(hit, deletes)
        )
        if cluster_by and cluster_strategy == "zorder" and len(cluster_by) > 1:
            df = (
                df.withColumn("_z", _zvalue(df, cnames))
                .repartitionByRange(n_out, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif cluster_by:
            df = df.repartitionByRange(n_out, *ccols).sortWithinPartitions(*ccols)
        else:
            df = df.repartition(n_out)
        new_entries = table._write_data_files(
            df, extra_cols=_LINEAGE_COLS if lin else None
        )
        return table._commit_snapshot("replace", new_entries, {f.path for f in hit})
    total_bytes = sum(f.file_size_bytes for f in files if f.content == "data")
    n_out = max(1, -(-total_bytes // target_file_size))  # ceil
    lin = lineage_preserving(table)
    # v3: compaction MATERIALIZES _row_id/_last_updated into the
    # rewritten parquet (public spec "Row Lineage": compaction must
    # preserve row ids) — the lineage read resolves them, the write
    # carries them as physical columns, later scans prefer them
    df = table.toDF(row_lineage=True) if lin else table.toDF()  # deletes applied
    if cluster_by and cluster_strategy == "zorder" and len(cluster_by) > 1:
        df = (
            df.withColumn("_z", _zvalue(df, cnames))
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif cluster_by:
        df = df.repartitionByRange(n_out, *ccols).sortWithinPartitions(*ccols)
    else:
        df = df.repartition(n_out)
    new_entries = table._write_data_files(
        df, extra_cols=_LINEAGE_COLS if lin else None
    )
    return table._commit_snapshot("replace", new_entries, {f.path for f in files})


def _zvalue(df, cols: list[str], bits: int = 12):
    """Z-order (Morton) value of ``cols`` as a single LONG column.

    Each column is min/max-normalized into a ``bits``-wide integer grid
    (one tiny global agg — a driver-side scalar per column, never a
    window over the data, which would serialize 100 TB through one
    partition), then the grid coordinates' bits are interleaved with a
    pure JVM-side expression tree — no UDF, stays inside whole-stage
    codegen.  Numeric / date / timestamp columns only (strings have no
    meaningful linear order for interleaving; pre-hash them to a
    number first if needed).  Temporal columns normalize through
    unix_date/unix_micros — DATE has no direct DOUBLE cast (ANSI
    refuses it; found by a doc-claim probe), and the epoch numbers
    are monotone in the column, which is all interleaving needs."""
    types = {f.name: f.dataType for f in df.schema.fields}

    def _num(c: str):
        from pyspark.sql import types as T

        col, t = F.col(c), types.get(c)
        if isinstance(t, T.DateType):
            return F.unix_date(col).cast("double")
        if isinstance(t, T.TimestampType):
            return F.unix_micros(col).cast("double")
        if isinstance(t, T.TimestampNTZType):
            return F.unix_micros(col.cast("timestamp")).cast("double")
        return col.cast("double")

    bits = min(bits, 62 // len(cols))
    aggs = []
    for c in cols:
        d = _num(c)
        aggs += [F.min(d).alias(f"mn_{c}"), F.max(d).alias(f"mx_{c}")]
    row = df.agg(*aggs).first()
    k = len(cols)
    z = None
    for j, c in enumerate(cols):
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
        scaled = F.floor(
            (_num(c) - F.lit(mn or 0.0)) / F.lit(span) * ((1 << bits) - 1)
        ).cast("long")
        scaled = F.coalesce(scaled, F.lit(0))
        for i in range(bits):
            term = F.shiftleft(F.shiftright(scaled, i).bitwiseAND(F.lit(1)), i * k + j)
            z = term if z is None else z + term
    return z


def rewrite_position_deletes(table) -> Snapshot | None:
    """Consolidate position-delete files (docs/10:112-123: delete files
    should stay under 10% of data files — every MOR read pays one
    broadcast anti-join per delete-file group).  All live position
    tombstones are unioned, de-duplicated, stripped of entries whose
    target data file is no longer live, and rewritten as ONE delete
    file; the data files are untouched.  Safe without sequence
    bookkeeping because a position delete names its target
    (file_path, pos) explicitly — a newer sequence number can never
    widen its blast radius.  Equality deletes are left alone (their
    application is sequence-ordered); a full ``compact()`` retires
    those."""
    from .specio import spec_format_version

    if spec_format_version(table.meta.properties) >= 3:
        raise ValueError(
            "rewrite_position_deletes writes position-delete parquet, "
            "which Iceberg v3 forbids adding: on a format.spec-version=3 "
            "table consolidate with write_deletion_vectors() instead "
            "(unset the property first if you really want the v2 form)"
        )
    live = table.live_files(content="all")
    pos = [f for f in live if f.content == "position-deletes"]
    dvs = [f for f in live if f.content == "deletion-vectors"]
    if len(pos) <= 1 and not dvs:
        return None
    from .dml import _write_delete_entries

    spark = table.spark
    from .iceberg_import import canonical_file_path

    live_norms = {
        canonical_file_path(f.path) for f in live if f.content == "data"
    }
    parts = []
    if pos:
        parts.append(
            read_files(spark, [f.path for f in pos]).select("file_path", "pos")
        )
    if dvs:
        # v3 deletion-vectors fold back into the consolidated parquet
        # form — the reverse migration (export and spec-primary
        # conversion require v2-shaped tombstones).  DV targets are
        # RAW manifest paths while native parquet tombstones carry
        # Spark's percent-encoded URIs; rather than re-encode, flip
        # the table to the uniform CANONICAL spelling (the same
        # property adopted foreign trees use): _write_delete_entries
        # then canonicalizes what it writes and every read
        # canonicalizes both join sides.
        from .dv import dv_positions_df

        if (
            table.meta.properties.get("read.canonicalize-delete-file-paths")
            != "true"
        ):
            table.set_properties(
                **{"read.canonicalize-delete-file-paths": "true"}
            )
        parts.append(dv_positions_df(spark, dvs))
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    keys = keys.distinct()
    # tombstones carry _metadata.file_path URIs — PERCENT-ENCODED
    # ('file:/a/sp%20ace/...'), so a scheme-strip regexp is not enough:
    # a spaced path would never match its manifest spelling and every
    # live tombstone would be judged dangling (deleted rows resurrect).
    # Both sides go through the one canonicalizer every other path join
    # uses — as a DISTINCT-spelling semi-join (O(files-with-deletes)
    # strings collect, driver canon, broadcast LocalTableScan), not a
    # per-row pandas UDF (r13: each such stage costs ~0.5 s fixed
    # JVM↔Python latency).
    sps = [r[0] for r in keys.select("file_path").distinct().collect()]
    keep = [(s,) for s in sps if canonical_file_path(s) in live_norms]
    keys = keys.join(
        F.broadcast(local_df(spark, keep, "file_path string")),
        "file_path",
        "left_semi",
    )
    entries = _write_delete_entries(table, keys, "position-deletes")
    return table._commit_snapshot(
        "replace", entries, {f.path for f in pos} | {f.path for f in dvs}
    )


def write_deletion_vectors(
    table, max_puffin_bytes: int = 64 * 1024 * 1024
) -> Snapshot | None:
    """Consolidate MOR position deletes into Iceberg v3 DELETION
    VECTORS: one roaring bitmap of deleted positions per target data
    file, stored as ``deletion-vector-v1`` blobs in Puffin files
    (icepack/roaring.py documents the public byte formats).

    Versus the v2 parquet consolidation (:func:`rewrite_position_deletes`)
    this is the v3 read-health endgame: the scan applies AT MOST ONE
    delete structure per data file, the bitmap is ~orders denser than
    (path, pos) parquet rows, and membership never needs the dedupe
    the parquet path pays.  Reversible via
    :func:`rewrite_position_deletes` (exports and spec-primary
    conversion need v2-shaped tombstones and refuse on DV content).

    Scale shape: tombstone reading, target-file scoping, and bitmap
    construction are all distributed (``dv.build_dv_blobs`` —
    positions never visit the driver); only the FINISHED blobs
    (roaring-compressed, ~KBs/file) are collected for Puffin assembly,
    split into multiple Puffin files past ``max_puffin_bytes`` so one
    consolidation of a million-file table writes a bounded series of
    container files rather than one unbounded buffer.

    Equality deletes are left alone (sequence-ordered application;
    ``compact()`` retires them) — same contract as the parquet
    consolidation."""
    from .dv import (
        build_dv_blob_rows,
        build_dv_blobs,
        driver_deletes,
        dv_positions_df,
        write_dv_puffins,
    )
    from .iceberg_import import canonical_file_path
    from .manifest import DataFile

    if table.spec_primary:
        from .specio import spec_format_version

        if spec_format_version(table.meta.properties) < 3:
            raise ValueError(
                "write_deletion_vectors refuses on a spec-primary v2 "
                "table: Iceberg v2 has no DV entry shape (set "
                "format.spec-version=3, or use rewrite_position_deletes "
                "as the v2 consolidation)"
            )
    spark = table.spark

    # (canonical → raw-manifest) spelling map of the LIVE data files:
    # tombstones may carry percent-encoded URIs while the DV entry must
    # reference the raw manifest spelling the read path compares against.
    # Past the auto plan-mode thresholds the snapshot's entries come
    # from the DISTRIBUTED planner's entries DataFrame instead of a
    # driver walk: the driver collects only the DELETE-content entries
    # (O(files-with-deletes)), and the data-file spelling map is built
    # executor-side — a million-file table never materializes a
    # million-row Python list (or a million driver createDataFrame
    # rows) just to consolidate its tombstones.
    snap = table.meta.current_snapshot
    live_by_norm: dict[str, str] | None = None
    if snap is not None and table._use_distributed_planner(snap):
        import json as _json

        import pandas as pd  # noqa: F401

        from .scanplan import _entries_df

        @F.pandas_udf("string")
        def _canon(s):
            return s.map(canonical_file_path)

        live_df = _entries_df(table, snap).filter(F.col("status") != "deleted")
        del_entries = [
            DataFile.from_json(_json.loads(r))
            for r in live_df.filter(
                F.col("content").isin("position-deletes", "deletion-vectors")
            )
            .toJSON()
            .collect()
        ]
        pos = [f for f in del_entries if f.content == "position-deletes"]
        dvs = [f for f in del_entries if f.content == "deletion-vectors"]
        live_map = live_df.filter(F.col("content") == "data").select(
            _canon(F.col("path")).alias("_norm"), F.col("path").alias("_raw")
        )
    else:
        live = table.live_files(content="all")
        pos = [f for f in live if f.content == "position-deletes"]
        dvs = [f for f in live if f.content == "deletion-vectors"]
        live_by_norm = {
            canonical_file_path(f.path): f.path for f in live if f.content == "data"
        }
    n_puffins = len({f.path for f in dvs})
    if not pos and n_puffins <= 1:
        return None  # already consolidated (or nothing to do)
    if live_by_norm is not None:
        # FULL driver lane (guide §4 boundary-cost removal): below the
        # dv.driver_deletes row bound the whole consolidation — tombstone
        # parquet read, DV decode, spelling substitution, bitmap build —
        # is bounded driver work, and the Spark shape it replaces was
        # two collects plus a fixed-latency applyInPandas stage over
        # the same driver-bound data.  Zero Spark jobs on this lane;
        # the distributed lane below is untouched past the gate.
        tombs = driver_deletes([*pos, *dvs])
        if tombs is not None:
            # canonicalize each UNIQUE tombstone spelling once, map to
            # the raw manifest spelling, drop dangling tombstones
            pdf = tombs.to_pandas()
            spell = {
                s: live_by_norm.get(canonical_file_path(s))
                for s in pdf["file_path"].unique()
            }
            pdf = pdf.assign(file_path=pdf["file_path"].map(spell))
            pdf = pdf[pdf["file_path"].notna()]
            entries = []
            if len(pdf):
                entries = write_dv_puffins(
                    table,
                    build_dv_blob_rows(pdf),
                    table.meta.current_snapshot.snapshot_id,
                    max_puffin_bytes=max_puffin_bytes,
                )
            return table._commit_snapshot(
                "replace", entries, {f.path for f in pos} | {f.path for f in dvs}
            )
    parts = []
    if pos:
        parts.append(
            read_files(spark, [f.path for f in pos]).select("file_path", "pos")
        )
    if dvs:
        parts.append(dv_positions_df(spark, dvs))
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    if live_by_norm is None:
        # distributed: per-row Arrow canon + executor-built map join
        keys = (
            keys.withColumn("_norm", _canon("file_path"))
            .join(live_map, "_norm")  # drops dangling tombstones
            .select(F.col("_raw").alias("file_path"), "pos")
        )
    else:
        # small-table lane (r13): the tombstones' DISTINCT spellings are
        # O(files-with-deletes) — collect them (one column-pruned JVM
        # job, the dml._write_dv_entries discipline), canonicalize in
        # plain driver Python, and substitute through a broadcast
        # LocalTableScan map.  This removes the per-row canon
        # ArrowEvalPython stage from the consolidation entirely —
        # measured ~0.5 s of fixed Python-boundary latency at any size.
        spellings = [r[0] for r in keys.select("file_path").distinct().collect()]
        pairs = []
        for s in spellings:
            raw = live_by_norm.get(canonical_file_path(s))
            if raw is not None:  # dangling tombstones drop, as before
                pairs.append((s, raw))
        keys = keys.join(
            F.broadcast(local_df(spark, pairs, "file_path string, _raw string")),
            "file_path",
        ).select(F.col("_raw").alias("file_path"), "pos")
    blobs = build_dv_blobs(keys).collect()
    if not blobs:
        # every tombstone was dangling: retire the delete files outright
        return table._commit_snapshot(
            "replace", [], {f.path for f in pos} | {f.path for f in dvs}
        )
    entries = write_dv_puffins(
        table,
        blobs,
        table.meta.current_snapshot.snapshot_id,
        max_puffin_bytes=max_puffin_bytes,
    )
    return table._commit_snapshot(
        "replace", entries, {f.path for f in pos} | {f.path for f in dvs}
    )


def _rewrite_manifests_distributed(table, prev) -> list[tuple] | None:
    """Executor-side manifest rewrite for large tables: past the auto
    plan-mode thresholds the current snapshot's manifest LINES are
    re-grouped in Spark and each output group writes its own manifest
    (JSONL via the SAME DataFile codec the driver path uses — raw
    lines ship, so stat/partition value types keep full fidelity; the
    stringly entries DataFrame is pruning-only).  The driver collects
    one (name, length, summary) row per OUTPUT manifest — O(manifests)
    — instead of decoding every entry.  Returns None (caller keeps the
    driver walk) below the thresholds, on a non-picklable store, or
    when the snapshot has no manifests.

    Unlike the driver path's single coalesced manifest, the output is
    ``ceil(live entries / rewrite.manifests.target-entries)`` manifests
    (default 16384 entries ≈ 8-16 MB JSONL) — bounded manifest sizes
    are the point of the operation at warehouse scale, and later plans
    decode them in parallel."""
    from .scanplan import _pickled_store

    if not table._use_distributed_planner(prev):
        return None
    store_pkl = _pickled_store(table.store)
    if store_pkl is None:
        return None
    descs = table._read_mlist(prev.manifest_list)
    names = [m["manifest-path"] for m in descs]
    if not names:
        return None
    est = sum(
        m.get("live-files")
        if m.get("live-files") is not None
        else (m.get("added-files-count") or 0)
        + (m.get("existing-files-count") or 0)
        for m in descs
    )
    try:
        target = int(
            table.meta.properties.get("rewrite.manifests.target-entries", "16384")
        )
    except (TypeError, ValueError):
        target = 16384
    n_out = max(1, -(-max(est, 1) // max(target, 1)))
    mdir = table._mdir
    from .scanplan import manifest_lines_df

    lines = manifest_lines_df(table, names)
    if lines is None:
        return None

    def _write_group(batches):
        import json as _json
        import pickle

        import pandas as pd

        # absolute imports: runs in Python workers
        from icepack.manifest import DataFile, manifest_summary, write_manifest

        st = pickle.loads(store_pkl)
        entries = []
        for pdf in batches:
            for ln in pdf["value"]:
                if not ln or not ln.strip():
                    continue
                d = _json.loads(ln)
                if d.get("status") == "deleted":
                    continue
                entries.append(DataFile.from_json(d))
        if not entries:
            yield pd.DataFrame({"r": pd.Series([], dtype="object")})
            return
        name, mlen = write_manifest(mdir, entries, store=st)
        yield pd.DataFrame(
            {
                "r": [
                    _json.dumps(
                        {
                            "name": name,
                            "len": mlen,
                            "summary": manifest_summary(entries),
                        }
                    )
                ]
            }
        )

    rows = (
        lines.repartition(n_out).mapInPandas(_write_group, "r string").collect()
    )
    import json as _json

    out = []
    for r in rows:
        d = _json.loads(r[0])
        out.append((d["name"], d["len"], d["summary"]))
    return out


def rewrite_manifests(table) -> Snapshot:
    """REWRITE MANIFESTS (docs/10:80-95): coalesce all manifest entries
    of the current snapshot into one manifest; data files untouched
    (entries keep their DATA sequence numbers, so MOR delete ordering
    is preserved).  The commit itself takes a fresh snapshot id and the
    next commit sequence number like every other commit — a duplicate
    sequence number would make offset→snapshot resolution ambiguous
    for the streaming source — and goes through the same CAS
    conflict/retry loop as rollback."""
    from .table import CommitConflict, _snapshot_id

    for _ in range(5):
        meta = table.meta
        prev = meta.current_snapshot
        sid = _snapshot_id()
        written = None
        if prev is not None and not table.spec_primary:
            written = _rewrite_manifests_distributed(table, prev)
        if written is None:
            entries = table.live_files(content="all")
            written = table._write_manifests(entries)
        names, summaries = [], []
        for name, mlen, ms in written:
            names.append(name)
            summaries.append(
                {**ms, "manifest-length": mlen, "added-snapshot-id": sid}
            )
        mlist = table._write_mlist(
            sid,
            names,
            summaries,
            meta.last_sequence_number + 1,
            prev.snapshot_id if prev else None,
        )
        snap = Snapshot(
            snapshot_id=sid,
            parent_snapshot_id=prev.snapshot_id if prev else None,
            timestamp_ms=int(time.time() * 1000),
            operation="replace",
            manifest_list=mlist,
            schema_id=meta.current_schema_id,
            sequence_number=meta.last_sequence_number + 1,
            summary={"rewritten-manifests": "all", **table._pop_row_assign()},
        )
        new_meta = meta.copy_with(
            snapshots=meta.snapshots + [snap],
            current_snapshot_id=snap.snapshot_id,
            last_sequence_number=snap.sequence_number,
        )
        try:
            table._write_version(table._version + 1, new_meta)
            return snap
        except CommitConflict:
            table.refresh()
    raise CommitConflict("rewrite_manifests gave up after retries")


def expire_snapshots(
    table, older_than_ms: int | None = None, retain_last: int = 1, dry_run: bool = False
) -> dict:
    """EXPIRE SNAPSHOTS (docs/05:101-119, docs/10:53-78): drop snapshot
    entries older than the cutoff while always retaining the current
    snapshot and the ``retain_last`` most recent; physically delete
    manifests/manifest-lists/data files reachable ONLY from expired
    snapshots (reachability = set difference, computed over manifest
    file lists).  Default cutoff honors the table property
    ``DATA_RETENTION_TIME_IN_DAYS`` (docs/01:155)."""
    meta = table.meta
    if older_than_ms is None:
        days = float(meta.properties.get("DATA_RETENTION_TIME_IN_DAYS", 1))
        older_than_ms = int(time.time() * 1000 - days * 86400_000)
    ordered = sorted(meta.snapshots, key=lambda s: s.timestamp_ms)
    keep_ids = {s.snapshot_id for s in ordered[-max(retain_last, 1):]}
    if meta.current_snapshot_id is not None:
        keep_ids.add(meta.current_snapshot_id)
    # named refs pin their snapshots (docs/05:141-158 — tags mark
    # releases/audits; a branch head must stay readable)
    keep_ids |= {r["snapshot-id"] for r in meta.refs.values()}
    kept = [s for s in meta.snapshots if s.snapshot_id in keep_ids or s.timestamp_ms >= older_than_ms]
    # ...and so must the PARENT CHAIN from each ref head back to a kept
    # snapshot: fast-forward publish (WAP / multi-statement txn,
    # docs/05:150-172) proves ancestry by walking parent pointers, so
    # expiring an intermediate staged snapshot would strand the branch —
    # an open transaction could never COMMIT after a concurrent expire
    # (found by the round-4 MOR×WAP×expire audit; pinned in
    # tests/test_mor_interactions.py).  Cost is O(branch length).
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    kept_ids = {s.snapshot_id for s in kept}
    for r in meta.refs.values():
        if r.get("type") != "branch":
            continue  # a tag's snapshot is self-contained (manifest
            # list carries the full file set); only branches need the
            # parent chain, for the fast-forward ancestry proof
        head = by_id.get(r["snapshot-id"])
        walk = head.parent_snapshot_id if head else None
        while walk is not None and walk not in kept_ids:
            s = by_id.get(walk)
            if s is None:
                break
            kept_ids.add(walk)
            walk = s.parent_snapshot_id
    kept = [s for s in meta.snapshots if s.snapshot_id in kept_ids]
    expired = [s for s in meta.snapshots if s not in kept]
    if not expired:
        return {"expired": 0, "deleted_files": 0}

    def reachable_meta(snaps):
        """(manifest-lists, manifests) of a snapshot set — O(manifests)
        driver work; entry-level reachability is computed separately so
        each unique manifest is decoded at most ONCE (snapshots carry
        most manifests forward unchanged, so the old per-snapshot entry
        walk re-decoded the same manifests N times)."""
        mls, mans = set(), set()
        for s in snaps:
            mls.add(s.manifest_list)
            for m in table._read_mlist(s.manifest_list):
                mans.add(m["manifest-path"])
        return mls, mans

    keep_mls, keep_mans = reachable_meta(kept)
    exp_mls, exp_mans = reachable_meta(expired)
    # file-level reachability: a file is doomed iff some expired-only
    # manifest names it and NO kept-snapshot manifest does.  Manifests
    # shared with a kept snapshot can't contribute doomed files, so
    # candidates come only from (expired − kept) manifests.  Past the
    # auto plan-mode manifest threshold the path sets are evaluated in
    # Spark (one distinct + left_anti over the entries DataFrames) and
    # the driver collects only the DOOMED paths — work proportional to
    # what is actually deleted, not to table history size.
    cand_mans = sorted(exp_mans - keep_mans)
    if not cand_mans:
        doomed_files: set[str] = set()
    elif table._distributed_maintenance(len(keep_mans | exp_mans)):
        from .scanplan import entries_df_for_manifests

        cand = entries_df_for_manifests(table, cand_mans).select("path").distinct()
        keep_df = (
            entries_df_for_manifests(table, sorted(keep_mans))
            .select("path")
            .distinct()
        )
        doomed_files = {
            r[0] for r in cand.join(keep_df, "path", "left_anti").collect()
        }
    else:
        paths_of: dict[str, set] = {}

        def _paths(man: str) -> set:
            if man not in paths_of:
                paths_of[man] = {e.path for e in table._read_mentries(man)}
            return paths_of[man]

        keep_datas: set[str] = (
            set().union(*map(_paths, keep_mans)) if keep_mans else set()
        )
        doomed_files = set().union(*map(_paths, cand_mans)) - keep_datas
    # statistics files (Puffin) ride their snapshot's lifetime
    expired_ids = {s.snapshot_id for s in expired}
    kept_stats = [
        e for e in meta.statistics if e.get("snapshot-id") not in expired_ids
    ]
    doomed_stats = [
        e["statistics-path"]
        for e in meta.statistics
        if e.get("snapshot-id") in expired_ids
    ]
    # partition-statistics files ride their snapshot's lifetime too
    kept_pstats = [
        e
        for e in meta.partition_statistics
        if e.get("snapshot-id") not in expired_ids
    ]
    doomed_stats += [
        e["statistics-path"]
        for e in meta.partition_statistics
        if e.get("snapshot-id") in expired_ids
    ]
    if not dry_run:
        meta_new = meta.copy_with(
            snapshots=kept,
            statistics=kept_stats,
            partition_statistics=kept_pstats,
        )
        table._write_version(table._version + 1, meta_new)
        for p in doomed_stats:
            try:
                table.store.delete(p)
            except OSError:
                pass
        for p in doomed_files:
            _rm(p)
        for m in exp_mans - keep_mans:
            table.store.delete(table.store.join(table._mdir, m))
        for ml in exp_mls - keep_mls:
            table.store.delete(table.store.join(table._mdir, ml))
    return {"expired": len(expired), "deleted_files": len(doomed_files)}


def remove_orphan_files(table, older_than_ms: int | None = None, dry_run: bool = False) -> list[str]:
    """REMOVE ORPHAN FILES (docs/10:97-111): files under data/ not
    referenced by ANY snapshot, older than the cutoff (default 24h —
    in-flight commits may have written files not yet referenced).

    Also sweeps superseded ``v<N>-<uuid>.metadata.json`` documents:
    REST-cataloged commits (restcat.py) write a uniquely-named metadata
    doc per attempt and the catalog CAS picks the winner, so a lost
    race leaves an unreferenced doc behind.  Only the current pointer
    (``table._metadata_location``) is live — history travels inside
    each doc, so older ones past the cutoff are safe to collect.
    Plain ``v<N>.metadata.json`` versions (local-pointer tables probe
    them on refresh) are never touched.

    The handle is refreshed against its catalog FIRST: a stale handle's
    ``_metadata_location`` may lag the catalog's CURRENT pointer, and
    sweeping with the stale value would delete the doc the catalog
    points at — bricking the table.  Handles with no
    ``_metadata_location`` at all (e.g. a plain ``IceTable.load`` opened
    on a REST-cataloged location) skip the doc sweep entirely: they
    cannot know which doc the catalog considers live."""
    if older_than_ms is None:
        older_than_ms = int(time.time() * 1000) - 86400_000
    table.refresh()
    # every manifest reachable from ANY snapshot — decoded at most once
    # (snapshots carry most manifests forward, so a per-snapshot entry
    # walk re-decodes the same manifests N times over)
    all_mans: set[str] = set()
    for s in table.meta.snapshots:
        for m in table._read_mlist(s.manifest_list):
            all_mans.add(m["manifest-path"])
    candidates = []  # on-disk files old enough to be sweep candidates
    for pat in ("*.parquet", "*.puffin"):  # .puffin: DV containers (a
        # lost write_deletion_vectors CAS leaves its file behind)
        for p in _glob.glob(
            os.path.join(table.location, "data", "**", pat), recursive=True
        ):
            if os.path.getmtime(p) * 1000 < older_than_ms:
                candidates.append(p)
    if not candidates:
        orphans: list[str] = []
    elif table._distributed_maintenance(len(all_mans)):
        # large history: the referenced-path set (O(every file ever
        # written)) never materializes in driver memory — candidates
        # anti-join the entries DataFrames in Spark and the driver
        # collects only the ORPHANS (work ∝ what gets deleted).  The
        # candidate listing itself is the store's inventory seam: a
        # driver glob here (local FS), an object-store inventory /
        # listing job at warehouse scale.
        from .scanplan import entries_df_for_manifests

        cand_df = local_df(table.spark, [(p,) for p in candidates], "path string")
        ref_df = (
            entries_df_for_manifests(table, sorted(all_mans))
            .select("path")
            .distinct()
        )
        orphans = sorted(
            r[0] for r in cand_df.join(ref_df, "path", "left_anti").collect()
        )
    else:
        referenced: set[str] = set()
        for man in all_mans:
            for e in table._read_mentries(man):
                referenced.add(e.path)
        orphans = [p for p in candidates if p not in referenced]
    doc_orphans = []  # metadata docs: swept through the metadata store
    current_doc = getattr(table, "_metadata_location", None)
    if current_doc is not None:
        for p in table.store.glob(table.store.join(table._mdir, "v*-*.metadata.json")):
            if p != current_doc and table.store.mtime_ms(p) < older_than_ms:
                doc_orphans.append(p)
    # Puffin stats files not referenced by any statistics entry (a lost
    # stat-commit CAS leaves its just-written file behind)
    live_stats = {e.get("statistics-path") for e in table.meta.statistics}
    for p in table.store.glob(table.store.join(table._mdir, "*.stats")):
        if p not in live_stats and table.store.mtime_ms(p) < older_than_ms:
            doc_orphans.append(p)
    # partition-stats parquet not referenced by any entry (lost CAS)
    live_pstats = {
        e.get("statistics-path") for e in table.meta.partition_statistics
    }
    for p in table.store.glob(
        table.store.join(table._mdir, "partition-stats-*.parquet")
    ):
        if p not in live_pstats and table.store.mtime_ms(p) < older_than_ms:
            doc_orphans.append(p)
    if not dry_run:
        for p in orphans:
            _rm(p)
        for p in doc_orphans:
            table.store.delete(p)
    return sorted(orphans + doc_orphans)


def table_health(table) -> dict:
    """The reference's table-health checklist
    (docs/10-maintenance-operations.md:115-123) as a report.

    Counts come from the manifest-LIST summaries when every manifest
    carries them — O(manifests) driver work, the same basis the auto
    plan-mode decision reads, so a million-file table answers its
    health check without decoding a single entry.  Summary-less
    layouts (pre-upgrade metadata, reconstructed foreign summaries)
    fall back to the exact entry walk.  live-bytes includes delete
    files, so avg file size uses the live-files denominator — the
    compaction heuristics only need its order of magnitude."""
    snap_count = len(table.meta.snapshots)
    man_count = 0
    n = 0
    ndel = 0
    avg = 0.0
    descs = []
    if table.meta.current_snapshot:
        descs = table._read_mlist(table.meta.current_snapshot.manifest_list)
        man_count = len(descs)
    if descs and all(
        m.get("live-files") is not None
        and m.get("delete-content-files") is not None
        and m.get("live-bytes") is not None
        and not m.get("reconstructed")
        for m in descs
    ):
        live = sum(m["live-files"] for m in descs)
        ndel = sum(m["delete-content-files"] for m in descs)
        n = live - ndel
        avg = (sum(m["live-bytes"] for m in descs) / live) if live else 0.0
    else:
        files = table.live_files(content="all")
        data = [f for f in files if f.content == "data"]
        n = len(data)
        ndel = len(files) - n
        avg = (sum(f.file_size_bytes for f in data) / n) if n else 0.0
    return {
        "file_count": n,
        "avg_file_size_bytes": int(avg),
        "snapshot_count": snap_count,
        "manifest_count": man_count,
        "delete_file_ratio": (ndel / n) if n else 0.0,
        "needs_compaction": n > 10_000 or (0 < avg < 100 * 1024 * 1024 and n > 1),
        "needs_expire": snap_count > 100,
        "needs_manifest_rewrite": man_count > 100,
        "needs_delete_compaction": n > 0 and ndel / n > 0.10,
    }


def _rm(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _one_data_check(kind: str, path: str, want: int, off: int, size: int):
    """One ``check_data`` probe (footer row count / DV blob decode);
    returns a finding string or None.  Pure function of its arguments
    so it runs identically in driver Python and in Spark workers."""
    if kind == "dv":
        from icepack.roaring import read_dv_blob

        try:
            with open(path, "rb") as fh:
                fh.seek(off)
                n = len(read_dv_blob(fh.read(size)))
        except Exception as ex:  # noqa: BLE001 — report, keep walking
            return f"{path}@{off}: deletion-vector blob undecodable: {ex}"
        if n != want:
            return (
                f"{path}@{off}: manifest record-count {want} "
                f"!= decoded cardinality {n}"
            )
        return None
    from icepack.manifest import harvest_stats

    nrows, _, _ = harvest_stats(path)
    if nrows != want:
        return f"{path}: manifest record-count {want} != footer {nrows}"
    return None


def _run_data_checks(table, checks: list[tuple]) -> list[str]:
    """Run fsck's ``check_data`` probes — footer re-harvest and DV blob
    decode are per-file and independent, so past the auto plan-mode
    file threshold they fan out as a Spark job (the probes read file
    footers/blob ranges, not data pages; workers on a shared
    filesystem see the same paths the driver does) and only the
    FINDINGS come back.  Below it, or with no distributable session
    benefit, the driver loop is exact and cheaper."""
    if not checks:
        return []
    if len(checks) < table.AUTO_PLAN_FILE_THRESHOLD:
        return [
            f
            for c in checks
            if (f := _one_data_check(*c)) is not None
        ]

    def _probe(batches):
        import pandas as pd

        from icepack.maintenance import _one_data_check as one

        for pdf in batches:
            out = [
                f
                for row in pdf.itertuples(index=False)
                if (
                    f := one(
                        row.kind, row.path, int(row.want), int(row.off), int(row.size)
                    )
                )
                is not None
            ]
            yield pd.DataFrame({"finding": pd.Series(out, dtype="object")})

    df = local_df(
        table.spark, checks, "kind string, path string, want long, off long, size long"
    )
    n_parts = max(1, min(len(checks) // 256, 256))
    return [
        r[0]
        for r in df.repartition(n_parts)
        .mapInPandas(_probe, "finding string")
        .collect()
    ]


def verify_decimal_buckets(table) -> list[str]:
    """Recompute spec-murmur3 bucket partition values for DATA files of
    DECIMAL-bucketed tables and flag rows whose hash disagrees with the
    stored tuple (ADVICE r11 / murmur3.py minimal two's-complement fix):
    tables written BEFORE r11 encoded unscaled values of exactly
    -(2^(8k-1)) (e.g. -1.28 at scale 2) with an over-padded sign byte
    (ff80 instead of 80), so their rows sit under the OLD bucket — the
    new spec-correct bytes are what point predicates prune with, and a
    mismatch silently prunes the file holding the match.  The fix is a
    REWRITE of the affected files (``compact`` re-buckets under the
    corrected hash), never a revert — the new bytes match the public
    Iceberg spec (Appendix B) and external engines.

    Distributed: one column-pruned scan per affected (spec, field),
    bucket recomputed by the same Arrow-batched UDF the write path
    uses, compared file-by-file through the bounded distinct-spelling
    broadcast map.  Returns findings; empty = healthy (and non-decimal
    or non-mmh3 tables short-circuit to [] without reading anything)."""
    from . import transforms as tr
    from .iceberg_import import canonical_file_path

    meta = table.meta
    targets: dict[int, list] = {}
    for sp in meta.partition_specs:
        for pf in sp.fields:
            if not pf.transform.startswith("mmh3bucket["):
                continue
            src = None
            for sc in meta.schemas:
                src = src or sc.field_by_id(pf.source_id)
            if src is None or not str(src.type).startswith("decimal"):
                continue
            targets.setdefault(sp.spec_id, []).append((pf, src))
    if not targets:
        return []
    findings: list[str] = []
    live = [f for f in table.live_files() if f.content == "data"]
    for spec_id, fields in targets.items():
        files = [f for f in live if f.spec_id == spec_id]
        if not files:
            continue
        for pf, src in fields:
            expected = {}
            for f in files:
                v = f.partition.get(pf.name)
                expected[f.path] = int(v) if v is not None else None
            bcol = tr.parse(pf.transform).spark_column(
                F.col(src.name), dtype=src.spark_type()
            )
            df = table._read_files(files, with_pos=True).select(
                F.col("_file"), bcol.alias("_b")
            )
            sps = [r[0] for r in df.select("_file").distinct().collect()]
            em = local_df(
                table.spark,
                [(s, expected.get(canonical_file_path(s))) for s in sps]
                or [(None, None)],
                "_sp string, _exp int",
            )
            bad = (
                df.join(F.broadcast(em), df["_file"] == em["_sp"])
                .filter(~F.col("_b").eqNullSafe(F.col("_exp")))
                .groupBy("_file")
                .agg(F.count("*").alias("n"), F.first("_exp").alias("exp"))
                .collect()
            )
            for r in bad:
                findings.append(
                    f"decimal-bucket drift: {canonical_file_path(r['_file'])} "
                    f"stores {pf.name}={r['exp']} but {r['n']} row(s) hash to "
                    "a different bucket under the spec-correct minimal "
                    "two's-complement encoding (r11 murmur3 fix) — rewrite "
                    "the file (compact) so point predicates stop pruning "
                    "past the match"
                )
    return findings


def verify_table(
    table, check_data: bool = False, check_buckets: bool = False
) -> list[str]:
    """Metadata-tree integrity check (fsck): walk the CURRENT snapshot's
    manifest list and validate every invariant the planners TRUST —
    returns a list of human-readable findings, empty = healthy.

    At 100 TB the pruning stack makes silent assumptions a verifier
    should be able to audit after an incident (partial restore, manual
    file surgery, a buggy external writer via add_files):

    - pointer/snapshot graph: current snapshot exists, every ref
      resolves, parent chain is intact, commit sequence numbers are
      unique and <= last-sequence-number;
    - manifests: every listed manifest is readable, and the STORED
      summary equals one recomputed from the entries — phase-0 skips
      whole manifests on the stored ranges, so a drifted summary is a
      row-loss hazard, not a cosmetic one;
    - entries: data-sequence <= commit watermark, known spec/schema
      ids, file paths exist;
    - with ``check_data=True``: re-harvest each live file's footer and
      compare record counts (reads footers only, no data pages).
    """
    findings: list[str] = []
    meta = table.meta
    snap = meta.current_snapshot
    if meta.current_snapshot_id is not None and snap is None:
        return [f"current-snapshot-id {meta.current_snapshot_id} not in snapshots"]
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    seqs = [s.sequence_number for s in meta.snapshots]
    if len(seqs) != len(set(seqs)):
        findings.append("duplicate commit sequence numbers in snapshot list")
    if seqs and max(seqs) > meta.last_sequence_number:
        findings.append(
            f"last-sequence-number {meta.last_sequence_number} behind max commit {max(seqs)}"
        )
    for name, r in meta.refs.items():
        if r["snapshot-id"] not in by_id:
            findings.append(f"ref {name!r} points at missing snapshot {r['snapshot-id']}")
    for e in meta.statistics:
        if e.get("snapshot-id") not in by_id:
            findings.append(
                f"statistics entry for missing snapshot {e.get('snapshot-id')}"
            )
        elif not table.store.exists(e.get("statistics-path", "")):
            findings.append(
                f"statistics file missing: {e.get('statistics-path')}"
            )
    if snap is None:
        return findings
    spec_ids = {sp.spec_id for sp in meta.partition_specs}
    schema_ids = {sc.schema_id for sc in meta.schemas}
    # file-anchored delete coherence: both planners (driver
    # table._relevant_deletes and distributed scanplan's semi-join)
    # skip DV / file-scoped position-delete entries whose
    # referenced-data-file is not a live data path VERBATIM — that is
    # only row-safe if references and entry paths share one spelling
    # domain (write_deletion_vectors maps tombstones to the raw
    # manifest spelling; adoption canonicalizes).  An anchored delete
    # referencing no live data file is either retired-file residue or
    # spelling drift; either way the rows it was meant to mask would
    # resurrect, so fsck flags it.
    descs = table._read_mlist(snap.manifest_list)
    dist = _verify_manifests_distributed(
        table, descs, snap.sequence_number, spec_ids, schema_ids, check_data
    )
    if dist is not None:
        findings.extend(dist)
        if check_buckets:
            findings.extend(verify_decimal_buckets(table))
        return findings
    live_data_paths: set = set()
    anchored_refs: list = []
    data_checks: list[tuple] = []  # (kind, path, expected, offset, size)
    for m in descs:
        try:
            entries = table._read_mentries(m["manifest-path"])
        except Exception as e:  # noqa: BLE001 — report, keep walking
            findings.append(f"manifest {m['manifest-path']} unreadable: {e}")
            continue
        f, paths, anchors, checks = _manifest_checks(
            m["manifest-path"], entries,
            {k: v for k, v in m.items() if k != "manifest-path"},
            snap.sequence_number, spec_ids, schema_ids, check_data,
        )
        findings.extend(f)
        live_data_paths.update(paths)
        anchored_refs.extend(anchors)
        data_checks.extend(checks)
    findings.extend(_run_data_checks(table, data_checks))
    for dpath, ref in anchored_refs:
        if ref not in live_data_paths:
            findings.append(_dangling_anchor_finding(dpath, ref))
    by_ref: dict = {}
    for _dpath, ref in anchored_refs:
        by_ref[ref] = by_ref.get(ref, 0) + 1
    findings.extend(
        _multi_dv_finding(ref, n) for ref, n in sorted(by_ref.items()) if n > 1
    )
    if check_buckets:
        findings.extend(verify_decimal_buckets(table))
    return findings


def _multi_dv_finding(ref: str, n: int) -> str:
    return (
        f"data file {ref!r} has {n} live deletion vectors — the v3 "
        "one-DV-per-file rule (and this engine's own invariant at any "
        "version) allows exactly one; concurrent-writer residue or "
        "manual surgery.  Run write_deletion_vectors() to consolidate"
    )


def _dangling_anchor_finding(dpath: str, ref) -> str:
    return (
        f"{dpath}: anchored delete references no live data file "
        f"({ref!r}) — retired-file residue or spelling drift; "
        "the planners skip it, so any rows it was meant to mask "
        "resurrect.  Run rewrite_position_deletes / expire, or "
        "fix the reference spelling"
    )


def _manifest_checks(
    mpath: str,
    entries: list,
    stored: dict,
    seq_watermark: int,
    spec_ids: set,
    schema_ids: set,
    check_data: bool,
) -> tuple[list[str], list[str], list[tuple], list[tuple]]:
    """One manifest's fsck checks — shared VERBATIM by the driver walk
    and the distributed lane so the two produce identical finding
    strings.  Returns (findings, live data paths, (delete path, ref)
    anchors, queued data checks)."""
    findings: list[str] = []
    live_paths: list[str] = []
    anchors: list[tuple] = []
    checks: list[tuple] = []
    recomputed = manifest_summary(entries)
    if stored.get("reconstructed"):
        # foreign spec manifest: the summary is a conservative
        # never-skip reconstruction, not a stored claim — nothing
        # trusts its placeholder values, so no drift to flag
        stored = {}
    if stored and any(
        k in stored and stored[k] != v for k, v in recomputed.items()
    ):
        drift = sorted(
            k for k, v in recomputed.items() if k in stored and stored[k] != v
        )
        findings.append(
            f"manifest {mpath} summary drift in {drift} — "
            "phase-0 skipping trusts these; run rewrite_manifests"
        )
    for e in entries:
        if e.status == "deleted":
            continue
        if e.content == "data":
            live_paths.append(e.path)
        elif e.referenced_data_file is not None:
            anchors.append((e.path, e.referenced_data_file))
        if e.sequence_number > seq_watermark:
            findings.append(
                f"{e.path}: data sequence {e.sequence_number} beyond "
                f"snapshot watermark {seq_watermark}"
            )
        if e.spec_id not in spec_ids:
            findings.append(f"{e.path}: unknown spec-id {e.spec_id}")
        if e.schema_id not in schema_ids and e.schema_id != -1:
            # -1 = foreign spec file (probe-resolved, no stash)
            findings.append(f"{e.path}: unknown schema-id {e.schema_id}")
        if not os.path.exists(e.path):
            findings.append(f"{e.path}: file missing from storage")
        elif check_data and e.content == "deletion-vectors":
            if e.content_offset is None or e.content_size is None:
                # corrupt metadata is a FINDING, not a crash — fsck
                # exists to report exactly this (ADVICE r10)
                findings.append(
                    f"{e.path}: deletion-vector entry missing "
                    "content_offset/content_size — blob unreadable"
                )
                continue
            checks.append(
                (
                    "dv",
                    e.path,
                    int(e.record_count),
                    int(e.content_offset),
                    int(e.content_size),
                )
            )
        elif check_data:
            checks.append(("footer", e.path, int(e.record_count), 0, 0))
    return findings, live_paths, anchors, checks


def _verify_manifests_distributed(
    table, descs, seq_watermark, spec_ids, schema_ids, check_data
) -> list[str] | None:
    """The fsck metadata walk as a Spark job (VERDICT r10 item 5):
    past the plan-mode manifest threshold each executor task decodes
    its own manifests (JSONL or spec Avro — the same codecs
    ``_read_mentries`` uses), runs :func:`_manifest_checks` on them,
    probes check_data footers/blobs in place, and emits FINDINGS plus
    the (live data path / anchored reference) rows the dangling-anchor
    cross-check needs; that cross-check is one ``left_anti`` join and
    the driver collects only findings — O(findings), never O(files).
    Returns None below the threshold, when ``read.plan-mode=driver``
    pins the walk (the driver lane stays the below-threshold trust
    anchor), or on a non-picklable store.  The auto flip is ENTRY
    -count-based (measured in r11: crossover ~256k entries with the
    worst-case O(entries) findings collect; a healthy table crosses
    earlier) — ``fsck.auto.entry-threshold`` overrides."""
    import pickle

    from .scanplan import _pickled_store

    if not table._distributed_by_entries(
        table._est_live_entries(descs), "fsck.auto.entry-threshold", 262_144
    ):
        return None
    store_pkl = _pickled_store(table.store)
    if store_pkl is None:
        return None
    meta_json = table.meta.to_json()
    mdir = table._mdir
    rows = [
        (
            m["manifest-path"],
            json.dumps({k: v for k, v in m.items() if k != "manifest-path"}),
        )
        for m in descs
    ]
    spec_ids_l, schema_ids_l = sorted(spec_ids), sorted(schema_ids)

    def _walk(batches):
        import json as _json

        import pandas as pd

        from icepack.maintenance import (
            _manifest_checks as mc,
            _one_data_check as probe,
        )
        from icepack.manifest import read_manifest
        from icepack.metadata import TableMetadata
        from icepack.specio import read_spec_manifest

        st = pickle.loads(store_pkl)
        meta = TableMetadata.from_json(meta_json)
        for pdf in batches:
            out = []  # (kind, a, b): finding | data path | anchor
            for name, stored_json in zip(pdf["name"], pdf["stored"]):
                try:
                    entries = (
                        read_spec_manifest(mdir, name, st, meta)
                        if name.endswith(".avro")
                        else read_manifest(mdir, name, store=st)
                    )
                except Exception as e:  # noqa: BLE001 — report, keep walking
                    out.append(("finding", f"manifest {name} unreadable: {e}", ""))
                    continue
                f, paths, anchors, checks = mc(
                    name, entries, _json.loads(stored_json),
                    seq_watermark, set(spec_ids_l), set(schema_ids_l),
                    check_data,
                )
                out.extend(("finding", x, "") for x in f)
                out.extend(("data", p, "") for p in paths)
                out.extend(("anchor", p, r) for p, r in anchors)
                # check_data probes run HERE — the entries never leave
                # the executor, findings are the only thing that does
                for c in checks:
                    x = probe(*c)
                    if x is not None:
                        out.append(("finding", x, ""))
            yield pd.DataFrame(out, columns=["kind", "a", "b"])

    res = (
        local_df(table.spark, rows, "name string, stored string")
        .repartition(min(len(rows), 64))
        .mapInPandas(_walk, "kind string, a string, b string")
        .persist()
    )
    try:
        findings = [r[0] for r in res.filter("kind = 'finding'").select("a").collect()]
        data = res.filter("kind = 'data'").select(F.col("a").alias("p")).distinct()
        anchors = res.filter("kind = 'anchor'").select("a", "b")
        dangling = anchors.join(
            data, anchors["b"] == data["p"], "left_anti"
        ).collect()
        findings.extend(_dangling_anchor_finding(r["a"], r["b"]) for r in dangling)
        multi = (
            anchors.groupBy("b")
            .agg(F.count("*").alias("n"))
            .filter("n > 1")
            .collect()
        )
        findings.extend(_multi_dv_finding(r["b"], int(r["n"])) for r in multi)
        return findings
    finally:
        res.unpersist()


def _range_overlaps(bounds: list[tuple]) -> list[int]:
    """Per-range count of OTHER ranges it intersects, O(n log n) via
    two sorted endpoint arrays + binary search: for range i,
    ``overlaps_i = n-1 − #{lo_j > hi_i} − #{hi_j < lo_i}``.  The metric
    targets large tables (~100k files, docs/09:156-168) where the naive
    pairwise loop is minutes of driver CPU.  A NaN bound is garbage
    stats and behaves as ±inf on its own side (matching the pairwise
    ``_lt → None`` behavior).  Unorderable mixed types fall back to
    the exact quadratic loop."""
    import bisect
    import datetime as _dt

    from .expr import _isnan, _lt, _norm

    def _fix(v):
        # a NaN bound is garbage stats: pairwise ``_lt → None`` makes
        # it behave as ±inf on its own side; model that exactly
        return None if _isnan(v) else _norm(v)

    norm = [(_fix(lo), _fix(hi)) for lo, hi in bounds]
    # a single date/datetime mix across files: promote dates so the
    # global sort below compares like _cmp_norm does pairwise
    flat = [v for pair in norm for v in pair if v is not None]
    if any(isinstance(v, _dt.datetime) for v in flat):
        norm = [
            tuple(
                _dt.datetime(v.year, v.month, v.day)
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
                else v
                for v in pair
            )
            for pair in norm
        ]
    try:
        los = sorted(lo for lo, _ in norm if lo is not None)  # non-(-inf) los
        his = sorted(hi for _, hi in norm if hi is not None)  # non-(+inf) his
        n = len(norm)
        overlaps = []
        for lo, hi in norm:
            # j strictly right: lo_j > hi_i — never true for -inf los or +inf hi_i
            strictly_right = 0 if hi is None else len(los) - bisect.bisect_right(los, hi)
            # j strictly left: hi_j < lo_i — never true for +inf his or -inf lo_i
            strictly_left = 0 if lo is None else bisect.bisect_left(his, lo)
            overlaps.append(n - 1 - strictly_right - strictly_left)
        return overlaps
    except TypeError:
        out = []
        for i, (lo, hi) in enumerate(bounds):
            c = 0
            for j, (lo2, hi2) in enumerate(bounds):
                if i == j:
                    continue
                if _lt(hi, lo2) is True or _lt(hi2, lo) is True:
                    continue
                c += 1
            out.append(c)
        return out


def clustering_information(table, columns: list[str] | None = None) -> dict:
    """SYSTEM$CLUSTERING_INFORMATION analog (docs/07-partitioning.md:
    168-173) computed from manifest stats — no data I/O.  For each
    requested column (default: the table's declared sort-order /
    cluster keys): ``average_overlaps`` (how many OTHER files a file's
    [min,max] range intersects) and ``average_depth`` (how many files a
    random point in a file's range hits, ~Snowflake's depth), plus a
    depth histogram.  0 overlaps = perfectly clustered → min/max file
    pruning resolves a point predicate to one file; ranges that span
    the domain make pruning useless, which is exactly what this metric
    exposes (docs/09:156-168 motivates CLUSTER BY with it)."""
    from .expr import _le, _lt

    if not columns:
        mo = table.meta.sort_order
        schema = table.meta.schema
        columns = [
            f.name
            for sf_ in mo.fields
            if (f := schema.field_by_id(sf_.source_id)) is not None
        ]
    files = table.live_files()
    out: dict = {
        "cluster_by_keys": f"LINEAR({', '.join(columns)})" if columns else None,
        "total_file_count": len(files),
        "columns": {},
    }
    for c in columns:
        bounds = [
            (f.stats[c]["min"], f.stats[c]["max"])
            for f in files
            if c in f.stats
            and f.stats[c].get("min") is not None
            and f.stats[c].get("max") is not None
        ]
        if len(bounds) < 2:
            out["columns"][c] = {
                "files_with_statistics": len(bounds),
                "average_overlaps": 0.0,
                "average_depth": 1.0,
                "depth_histogram": {str(len(bounds)): len(bounds)},
            }
            continue
        overlaps = _range_overlaps(bounds)
        depths = [n + 1 for n in overlaps]
        hist: dict[str, int] = {}
        for d in depths:
            hist[str(d)] = hist.get(str(d), 0) + 1
        out["columns"][c] = {
            "files_with_statistics": len(bounds),
            "average_overlaps": round(sum(overlaps) / len(overlaps), 4),
            "average_depth": round(sum(depths) / len(depths), 4),
            "depth_histogram": dict(sorted(hist.items(), key=lambda kv: int(kv[0]))),
        }
    return out


def migrate_bucket_transform(table) -> Snapshot | None:
    """One-shot migration of a table partitioned by the NATIVE xxhash64
    ``bucket[N]`` transform onto the spec-compatible ``mmh3bucket[N]``
    (murmur3_x86_32, Iceberg Appendix B), clearing the way for
    ``convert_to_spec_primary`` (VERDICT r6 item 4):

    1. partition evolution: the default spec's ``bucket[N]`` fields
       become ``mmh3bucket[N]`` on the same source columns (other
       fields carry over unchanged);
    2. clustering compaction: every live row rewrites under the new
       spec in one ``replace`` snapshot (merge-on-read deletes fold in
       — the rewrite reads the VISIBLE rows), so no live file
       references the retired spec afterwards.

    Returns the compaction snapshot, or None when the default spec has
    no native bucket field (nothing to migrate).  The retired spec
    stays in the metadata for pre-migration native time travel; the
    conversion check skips it because no live entry references it."""
    schema = table.meta.schema
    spec = table.meta.spec
    # LIVE files may reference a retired native-bucket spec even when
    # the default spec has already evolved past it — those files block
    # conversion just the same, so the migration triggers on live
    # references, not only on the default spec's own fields
    live_spec_ids = {e.spec_id for e in table.live_files(content="all")}
    live_has_bucket = any(
        pf.transform.startswith("bucket[")
        for sp in table.meta.partition_specs
        if sp.spec_id in live_spec_ids
        for pf in sp.fields
    )
    default_has_bucket = any(
        pf.transform.startswith("bucket[") for pf in spec.fields
    )
    if not default_has_bucket and not live_has_bucket:
        return None
    if default_has_bucket:
        new_by = []
        for pf in spec.fields:
            src = schema.field_by_id(pf.source_id)
            if src is None:
                raise ValueError(
                    f"partition source field id {pf.source_id} is not in the "
                    "current schema; drop the partition field before migrating"
                )
            tr_ = pf.transform
            if tr_.startswith("bucket["):
                tr_ = "mmh3bucket[" + tr_[len("bucket[") :]
            new_by.append((src.name, tr_))
        table.update_spec(new_by)
    # default spec is already expressible but live files still sit
    # under a retired bucket spec: the clustering rewrite alone
    # re-homes every live row under the current default spec
    return compact(table)


def convert_to_spec_primary(table) -> Snapshot:
    """Metadata-only migration of a NON-EMPTY native table to
    ``format.spec-primary`` (docs/11:112-120): live data files are
    untouched; every live manifest rewrites to spec Avro under one
    ``replace`` snapshot, MOR delete parquet re-shapes to spec form
    (originals preserved — historical snapshots' native manifests keep
    resolving), and the metadata document flips to the spec layout in
    the same commit.  Entry sequence numbers are PRESERVED, so MOR
    visibility rules are unchanged.

    External engines see the table from the conversion snapshot
    forward; pre-conversion snapshots remain natively time-travelable
    (reads dispatch per file) but reference native manifests external
    engines cannot parse — run ``expire_snapshots`` afterwards if the
    external metadata-history walk matters."""
    from .metadata import PartitionSpec
    from .specio import (
        PROPERTY,
        check_spec_expressible,
        is_spec_shaped_delete,
        rewrite_delete_file_spec,
    )
    from .table import CommitConflict, _snapshot_id

    if table.spec_primary:
        return table.meta.current_snapshot
    # only the specs LIVE entries reference (+ the default, which all
    # future writes use) must be spec-expressible: a retired native
    # bucket[N] spec left behind by migrate_bucket_transform serializes
    # as void but is never referenced by a spec manifest
    live_ids = {e.spec_id for e in table.live_files(content="all")}
    live_ids.add(table.meta.default_spec_id)
    try:
        check_spec_expressible(table.meta, spec_ids=live_ids)
    except ValueError as e:
        raise ValueError(
            f"{e} — for a native xxhash64 bucket table, run "
            "maintenance.migrate_bucket_transform(table) first (one-shot "
            "clustering rewrite onto mmh3bucket), then convert"
        ) from None
    for _ in range(5):
        meta = table.meta
        specs = meta.partition_specs
        if not any(not sp.fields for sp in specs):
            specs = specs + [
                PartitionSpec(max(sp.spec_id for sp in specs) + 1, [])
            ]
        staged = meta.copy_with(
            properties={**meta.properties, PROPERTY: "true"},
            partition_specs=specs,
        )
        prev = meta.current_snapshot
        entries = table.live_files(content="all")
        sid = _snapshot_id()
        # run the writers under the STAGED meta so they take the spec
        # path and the manifest OCF metadata reflects the new spec list
        table.meta = staged
        try:
            from .specio import spec_format_version

            fv = spec_format_version(staged.properties)
            for e in entries:
                if e.content == "deletion-vectors":
                    if fv >= 3:
                        continue  # v3 spec trees carry DV entries natively
                    raise ValueError(
                        "convert_to_spec_primary: table has live v3 "
                        "deletion-vectors, which the v2 spec tree cannot "
                        "express; set format.spec-version=3 to keep them, "
                        "or run rewrite_position_deletes() first to fold "
                        "them into parquet tombstones"
                    )
                if e.content != "data" and not is_spec_shaped_delete(e):
                    rewrite_delete_file_spec(table, e, keep_original=True)
            names, summaries = [], []
            for name, mlen, ms in table._write_manifests(entries):
                names.append(name)
                summaries.append(
                    {**ms, "manifest-length": mlen, "added-snapshot-id": sid}
                )
            mlist = table._write_mlist(
                sid,
                names,
                summaries,
                meta.last_sequence_number + 1,
                prev.snapshot_id if prev else None,
            )
        finally:
            table.meta = meta
        snap = Snapshot(
            snapshot_id=sid,
            parent_snapshot_id=prev.snapshot_id if prev else None,
            timestamp_ms=int(time.time() * 1000),
            operation="replace",
            manifest_list=mlist,
            schema_id=meta.current_schema_id,
            sequence_number=meta.last_sequence_number + 1,
            summary={"converted-to": "spec-primary", **table._pop_row_assign()},
        )
        new_meta = staged.copy_with(
            snapshots=meta.snapshots + [snap],
            current_snapshot_id=sid,
            last_sequence_number=snap.sequence_number,
        )
        try:
            table._write_version(table._version + 1, new_meta)
            return snap
        except CommitConflict:
            table.refresh()
    raise CommitConflict("convert_to_spec_primary gave up after retries")


def optimize(table, dry_run: bool = False) -> dict:
    """One-command maintenance (docs/10's health checklist, acted on):
    consult :func:`table_health` and run exactly the operations it
    recommends — compaction when files are small/many or delete files
    exceed the 10% read-health bar (docs/10:112-123), manifest rewrite
    past the manifest-count bar, snapshot expiry past the history bar.
    Orphan collection is NOT included (it deletes unreferenced files
    by mtime cutoff — an operator decision, run it explicitly).

    ``dry_run`` reports the planned actions without running anything.
    Returns {"health_before", "actions", "health_after"} so schedulers
    (CREATE TASK ... AS ALTER ... OPTIMIZE) can log the delta."""
    before = table_health(table)
    actions = []
    if before["needs_compaction"] or before["needs_delete_compaction"]:
        actions.append("compact")
    if before["needs_manifest_rewrite"]:
        actions.append("rewrite_manifests")
    if before["needs_expire"]:
        actions.append("expire_snapshots")
    if dry_run:
        return {"health_before": before, "actions": actions, "health_after": before}
    for a in actions:
        if a == "compact":
            compact(table)
        elif a == "rewrite_manifests":
            rewrite_manifests(table)
        elif a == "expire_snapshots":
            expire_snapshots(table)
    return {
        "health_before": before,
        "actions": actions,
        "health_after": table_health(table),
    }
