"""IceTable — the Iceberg-style table built natively on PySpark.

Realizes the reference's 5-level metadata tree
(docs/01-table-format-architecture.md:9-46) on any filesystem Spark
can read:

    <location>/metadata/version-hint.json         (catalog pointer)
    <location>/metadata/v<N>.metadata.json        (table metadata)
    <location>/metadata/snap-<id>.manifest-list.json
    <location>/metadata/manifest-<uuid>.jsonl
    <location>/data/<commit-uuid>/[_p_k=v/...]*.parquet   (immutable)

Commits are optimistic-concurrency CAS
(docs/08-acid-transactions.md:52-78): the writer of ``v<N+1>`` wins via
O_EXCL exclusive file creation (atomic on POSIX); losers re-read the
new base, re-validate, and retry.  Data files are never mutated — every
operation writes new files and a new snapshot; old snapshots remain
readable for time travel (docs/05-snapshots-time-travel.md).

Read path (docs/09-query-performance.md:17-55): snapshot → manifest
list (phase-1 partition pruning on partition summaries) → manifests
(phase-2 file pruning on column min/max/null stats) → a plain parquet
DataFrame over the surviving files (phase-3 row-group pruning is the
stock vectorized Parquet reader).  The manifests already name those
files, so ``icepack.io.read_files`` lists them on the driver and never
by a Spark job.  Everything downstream of ``toDF()`` is stock Catalyst
— joins/aggs/windows over IceTables use the relational battery
unchanged.

Scale: metadata ops are driver-side JSON (a few KB per commit); every
data movement is a distributed Spark job.  File counts per commit
follow the write's partitioning; compaction (maintenance.py) enforces
the reference's file-size health targets (BASELINE.md).
"""

from __future__ import annotations

import dataclasses
import glob as _glob
import json
import os
import re
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import transforms as tr
from .expr import (
    Expr,
    manifest_may_match,
    partition_tuple_matches,
    project_to_partition,
)
from .io import read_files
from .manifest import (
    DataFile,
    harvest_stats,
    manifest_summary,
    read_manifest,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)
from .metadata import (
    PROMOTIONS,
    IceSchema,
    NestedField,
    PartitionField,
    PartitionSpec,
    Snapshot,
    TableMetadata,
    type_to_str,
)
from .session import ensure_confs, local_df
from .storage import MetadataStore, store_for

_PART_PREFIX = "_p_"
#: Iceberg v3 row-lineage metadata column names (public spec "Row
#: Lineage"): served by ``toDF(row_lineage=True)`` on v3 tables, and
#: materialized as PHYSICAL columns by lineage-preserving rewrites
#: (compaction / COW DML) so ids survive data-file rewrites.
_ROW_ID_COL = "_row_id"
_LAST_UPDATED_COL = "_last_updated_sequence_number"


class CommitConflict(Exception):
    """Another writer committed the same version first."""


class MirrorExportError(Exception):
    """The spec-format mirror export failed — but the table commit it
    mirrors had ALREADY succeeded.  Distinct from a DML failure so
    callers don't retry the (durable) write."""


def _snapshot_id() -> int:
    return uuid.uuid4().int >> 80  # 48-bit id


def build_partition_spec(
    ice_schema: IceSchema, partition_by: list[tuple[str, str]] | None
) -> PartitionSpec:
    """Build spec 0 from ordered [(source_column, transform)] pairs —
    shared by local CREATE and the REST createTable request path."""
    pfields = []
    for i, (src, transform) in enumerate(partition_by or []):
        f = ice_schema.field_by_name(src)
        if f is None:
            raise ValueError(f"partition source column {src!r} not in schema")
        tr.parse(transform)  # validate
        suffix = transform.split("[")[0]
        name = src if transform == "identity" else f"{src}_{suffix}"
        pfields.append(PartitionField(f.id, 1000 + i, transform, name))
    return PartitionSpec(0, pfields)


def lineage_preserving(table) -> bool:
    """Whether rewrites of *table* must carry v3 row lineage (the
    table is spec-primary with format.spec-version=3 — the mode whose
    manifest-list commits assign row ids)."""
    from .specio import spec_format_version

    return table.spec_primary and spec_format_version(table.meta.properties) >= 3


def _inherit_first_row_ids(desc: dict, entries: list) -> None:
    """Iceberg v3 row-id inheritance, run at manifest decode: data
    entries without an explicit ``first_row_id`` take the manifest's
    field-520 assignment (carried in the list descriptor as
    ``first-row-id``) plus the record counts of the PRECEDING
    null-id data entries, in manifest order — the public v3 spec's
    reader rule.  Deleted entries still consumed their slot at write
    time, so they advance the counter too.  No-op on v2 / native
    descriptors (no assignment to inherit)."""
    base = desc.get("first-row-id")
    if base is None:
        return
    running = int(base)
    for e in entries:
        if e.content != "data":
            continue
        if e.first_row_id is None:
            e.first_row_id = running
            running += e.record_count


def _scan_report(all_entries: list, scanned: list) -> dict:
    """Pruning-effectiveness record for one scan plan — the per-query
    metrics the reference monitors via QUERY_HISTORY
    (docs/09-query-performance.md:183-194): partitions/files/bytes
    scanned vs total."""

    def _parts(entries):
        return {tuple(sorted(e.partition.items())) for e in entries if e.partition}

    return {
        "files_total": len(all_entries),
        "files_scanned": len(scanned),
        "partitions_total": len(_parts(all_entries)),
        "partitions_scanned": len(_parts(scanned)),
        "bytes_total": sum(e.file_size_bytes for e in all_entries),
        "bytes_scanned": sum(e.file_size_bytes for e in scanned),
    }


class IceTable:
    """Handle to one icepack table (catalog entry S2-S4)."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        meta: TableMetadata,
        store: MetadataStore | None = None,
    ):
        # spark=None is a METADATA-ONLY handle: the Python Data Source
        # plan/commit runner processes have no JVM gateway, and
        # SparkSession.builder.getOrCreate() there LAUNCHES A FRESH
        # LOCAL SPARK per call (measured r13: +4 JVMs and ~26 s per
        # streaming AvailableNow run).  Every metadata op (refresh,
        # live_files, _commit_snapshot below its distributed-hit-search
        # threshold) is pure store I/O; anything that would need a
        # session checks ``self.spark is not None`` first.
        self.spark = ensure_confs(spark) if spark is not None else None
        #: metadata I/O seam (storage.py) — local FS by default; an
        #: object-store adapter swaps in here without touching the
        #: table logic (docs/01:101-124)
        self.store = store_for(location, store)
        self.location = self.store.canonical(location)
        self.meta = meta
        #: per-scan pruning metrics, appended by toDF (session-scoped,
        #: like the QUERY_HISTORY the docs monitor — docs/09:183-194)
        self._scan_log: list[dict] = []

    # -- catalog ------------------------------------------------------------

    @property
    def _mdir(self) -> str:
        return self.store.join(self.location, "metadata")

    # -- metadata format dispatch (specio.py, docs/11:112-120) -------------
    # With format.spec-primary=true the table's ONLY metadata tree is
    # Apache Iceberg v2 spec files (Avro manifests + spec
    # metadata.json); reads dispatch on the file extension so a table
    # history that predates the property still resolves.

    @property
    def spec_primary(self) -> bool:
        from .specio import is_spec_primary

        return self.meta is not None and is_spec_primary(self.meta.properties)

    def _read_mlist(self, name: str) -> list[dict]:
        if name.endswith(".avro"):
            from .specio import read_spec_manifest_list

            return read_spec_manifest_list(self._mdir, name, self.store)
        return read_manifest_list(self._mdir, name, store=self.store)

    def _read_mentries(self, name: str) -> list[DataFile]:
        if name.endswith(".avro"):
            from .specio import read_spec_manifest

            return read_spec_manifest(self._mdir, name, self.store, self.meta)
        return read_manifest(self._mdir, name, store=self.store)

    def _write_manifests(self, entries: list[DataFile]) -> list[tuple[str, int, dict]]:
        """Write *entries* as one native manifest, or (spec-primary)
        as spec manifests split by (content, spec); freshly-written MOR
        delete parquet is rewritten to its spec shape first (idempotent
        across commit retries — rewritten files are prefixed)."""
        if self.spec_primary:
            from .specio import (
                is_spec_shaped_delete,
                rewrite_delete_file_spec,
                spec_format_version,
                write_spec_manifests,
            )

            fv = spec_format_version(self.meta.properties)
            for e in entries:
                if e.content == "deletion-vectors":
                    if fv >= 3:
                        continue  # v3 trees carry DV entries natively
                    raise ValueError(
                        "deletion-vectors cannot commit to a spec-primary "
                        "v2 table: Iceberg v2 has no DV entry shape.  Set "
                        "format.spec-version=3, or run "
                        "rewrite_position_deletes() to fold DVs back to "
                        "parquet tombstones."
                    )
                if e.content != "data" and not is_spec_shaped_delete(e):
                    # shape detection is CONTENT-based (reserved field
                    # ids in the footer), not name-based: entries
                    # flowing through rewrite_manifests keep their
                    # original manifest status, and a foreign tree's
                    # delete files carry arbitrary names.  Originals
                    # are never removed here — a file referenced by a
                    # historical snapshot must survive; a truly fresh
                    # pre-rewrite file is unreferenced and orphan
                    # cleanup collects it.
                    rewrite_delete_file_spec(self, e, keep_original=True)
            return write_spec_manifests(self._mdir, entries, self.meta, self.store)
        name, mlen = write_manifest(self._mdir, entries, store=self.store)
        return [(name, mlen, manifest_summary(entries))]

    def _write_mlist(
        self,
        snapshot_id: int,
        names: list[str],
        summaries: list[dict],
        sequence_number: int,
        parent_snapshot_id: int | None,
    ) -> str:
        if self.spec_primary:
            from .specio import (
                assign_first_row_ids,
                spec_format_version,
                spec_next_row_id,
                write_spec_manifest_list,
            )

            fv = spec_format_version(self.meta.properties)
            if fv >= 3:
                # v3 row lineage: new data manifests get their starting
                # row id here (manifest-list field 520, the assignment
                # external readers run inheritance from); the snapshot
                # writer picks the exact numbers up via _pop_row_assign
                base = spec_next_row_id(self.meta)
                nxt = assign_first_row_ids(summaries, base)
                self._row_assign = {
                    "first-row-id": str(base),
                    "assigned-rows": str(nxt - base),
                }
            return write_spec_manifest_list(
                self._mdir,
                snapshot_id,
                sequence_number,
                parent_snapshot_id,
                names,
                summaries,
                self.store,
                codec=self.meta.properties.get("write.avro.codec", "null"),
                format_version=fv,
            )
        return write_manifest_list(
            self._mdir, snapshot_id, names, summaries, store=self.store
        )

    def _pop_row_assign(self) -> dict:
        """The v3 lineage summary recorded by the LAST _write_mlist call
        (empty for v2 / native trees) — consumed exactly once by the
        Snapshot writer so dump_spec_metadata serializes the same
        numbers the manifest list encodes."""
        d = getattr(self, "_row_assign", None) or {}
        self._row_assign = None
        return d

    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        schema: "T.StructType | IceSchema",
        partition_by: list[tuple[str, str]] | None = None,
        properties: dict | None = None,
        store: MetadataStore | None = None,
    ) -> "IceTable":
        """CREATE ICEBERG TABLE (docs/01:182-205): write v1 metadata.

        ``partition_by``: ordered [(source_column, transform)] pairs,
        e.g. ``[("event_type", "identity"), ("ts", "day")]``.

        ``schema`` may be a Spark StructType, or an :class:`IceSchema`
        directly for Iceberg logical types with no native Spark
        counterpart — e.g. a ``time`` field (micros since midnight),
        which runs as LongType at the Spark layer while the metadata
        keeps the ``time`` annotation.
        """
        st = store_for(location, store)
        location = st.canonical(location)
        st.mkdirs(st.join(location, "metadata"))
        ice_schema = (
            schema
            if isinstance(schema, IceSchema)
            else IceSchema.from_struct(schema)
        )
        spec = build_partition_spec(ice_schema, partition_by)
        meta = TableMetadata.new(location, ice_schema, spec, properties)
        if any(pf.transform.startswith("truncate[") for pf in spec.fields):
            # version the truncate SEMANTICS at spec creation (ADVICE
            # r6): integral truncate is spec arithmetic (v - v mod W),
            # not string prefix.  Legacy prefix-string tuples (written
            # before this stamp existed) are typed str and therefore
            # unprunable against arithmetic projections — safe, just
            # unpruned; future semantics changes gate on this property.
            meta = meta.copy_with(
                properties={
                    **meta.properties,
                    "icepack.truncate-semantics": "spec-arithmetic",
                }
            )
        from .specio import check_spec_expressible, is_spec_primary

        if is_spec_primary(meta.properties):
            check_spec_expressible(meta)
            if spec.fields:
                # delete manifests write under an UNPARTITIONED spec
                # (spec engines match deletes to data by partition;
                # dml's empty tuple would otherwise read as all-null) —
                # register it up front so its id can never collide with
                # a later partition-evolution spec
                meta = meta.copy_with(
                    partition_specs=meta.partition_specs
                    + [PartitionSpec(spec.spec_id + 1, [])]
                )
        # v1's create_exclusive is the CREATE-race arbiter, but on a
        # table whose v1 was pruned by the metadata-retention knob it
        # would silently "succeed" — any surviving version file means
        # the table exists
        if st.glob(st.join(location, "metadata", "v*.metadata.json")):
            raise FileExistsError(f"table already exists at {location}")
        table = IceTable(spark, location, meta, store=st)
        table._write_version(1, meta)
        return table

    @staticmethod
    def load(
        spark: SparkSession, location: str, store: MetadataStore | None = None
    ) -> "IceTable":
        t = IceTable(spark, location, None, store=store)  # type: ignore[arg-type]
        t.refresh()
        return t

    def refresh(self) -> "IceTable":
        """REFRESH (docs/11:174-183): re-read the version pointer; probe
        past a stale hint (hint update is best-effort after commit)."""
        st = self.store
        version = 0
        hint = st.join(self._mdir, "version-hint.json")
        if st.exists(hint):
            version = json.loads(st.read_text(hint))["version"]
        while st.exists(st.join(self._mdir, f"v{version + 1}.metadata.json")):
            version += 1
        if version == 0 or not st.exists(
            st.join(self._mdir, f"v{version}.metadata.json")
        ):
            # hint missing/stale AND early versions pruned by the
            # metadata-retention knob: recover the latest from a
            # listing instead of the v1-upward probe
            found = []
            for p in st.glob(st.join(self._mdir, "v*.metadata.json")):
                m = re.search(r"v(\d+)\.metadata\.json$", p)
                if m:
                    found.append(int(m.group(1)))
            if not found:
                raise FileNotFoundError(f"no icepack table at {self.location}")
            version = max(found)
        text = st.read_text(st.join(self._mdir, f"v{version}.metadata.json"))
        from .specio import PROPERTY as _SPEC_PROP
        from .specio import load_spec_metadata, looks_like_spec_metadata

        if looks_like_spec_metadata(json.loads(text)):
            self.meta = load_spec_metadata(text)
            # a spec-shaped tree STAYS spec on every commit — a foreign
            # (externally-written) table carries no icepack properties,
            # so inject the marker; the first commit persists it
            self.meta.properties.setdefault(_SPEC_PROP, "true")
        else:
            self.meta = TableMetadata.loads(text)
        self._version = version
        return self

    # -- commit (D7: optimistic CAS) ---------------------------------------

    def _write_version(self, version: int, meta: TableMetadata) -> None:
        """Exclusive-create v<version>; first writer wins (POSIX O_EXCL
        — the version-check-and-rename race the survey flags is avoided
        because creation itself is the check)."""
        from .specio import dump_spec_metadata, is_spec_primary

        meta.last_updated_ms = int(time.time() * 1000)
        spec = is_spec_primary(meta.properties)
        if spec:
            # spec metadata-log: extend the previous version's chain so
            # external engines can walk metadata history (files are
            # immutable; a missing/foreign predecessor just shortens
            # the chain)
            mlog: list = []
            prev_path = self.store.join(self._mdir, f"v{version - 1}.metadata.json")
            if version > 1 and self.store.exists(prev_path):
                try:
                    prev_md = json.loads(self.store.read_text(prev_path))
                    mlog = (prev_md.get("metadata-log") or []) + [
                        {
                            "timestamp-ms": prev_md.get("last-updated-ms", 0),
                            "metadata-file": prev_path,
                        }
                    ]
                except ValueError:
                    pass
            # the metadata-log is trimmed to the retention window so it
            # never references files the post-commit prune deletes
            keep = self._metadata_versions_to_keep(meta.properties)
            if keep is not None and len(mlog) > keep:
                mlog = mlog[-keep:]
            text = dump_spec_metadata(meta, self._mdir, metadata_log=mlog)
        else:
            text = meta.dumps()
        path = self.store.join(self._mdir, f"v{version}.metadata.json")
        try:
            self.store.create_exclusive(path, text)
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        # best-effort pointer update (atomic replace; stale is fine — refresh probes)
        self.store.replace_text(
            self.store.join(self._mdir, "version-hint.json"),
            json.dumps({"version": version}),
        )
        if spec:
            # HadoopCatalog-convention hint for external followers
            self.store.replace_text(
                self.store.join(self._mdir, "version-hint.text"), str(version)
            )
        self._version = version
        self.meta = meta
        self._prune_old_metadata(version)

    @staticmethod
    def _metadata_versions_to_keep(props: dict) -> int | None:
        """None = retention disabled; else how many PREVIOUS metadata
        versions to retain (Iceberg's
        ``write.metadata.delete-after-commit.enabled`` /
        ``write.metadata.previous-versions-max`` pair — the managed
        metadata-lifecycle behavior of docs/04-catalog-systems.md:44;
        unbounded version files are docs/03:152's metadata-growth
        problem applied to the metadata documents themselves)."""
        if (
            props.get("write.metadata.delete-after-commit.enabled", "").lower()
            != "true"
        ):
            return None
        try:
            return max(1, int(props.get("write.metadata.previous-versions-max", "100")))
        except ValueError:
            return 100

    def _prune_old_metadata(self, version: int) -> None:
        """Best-effort post-commit deletion of metadata versions older
        than the retention window.  Runs AFTER the new version is
        durable, so a crash mid-prune only leaves extra (immutable)
        files for the next commit to re-prune; ``refresh`` recovers a
        pruned-tail table from a directory listing when the
        version-hint is stale or lost."""
        keep = self._metadata_versions_to_keep(self.meta.properties)
        if keep is None:
            return
        # keep the current version PLUS `keep` previous ones
        floor = version - keep - 1  # delete v1 .. v(floor)
        if floor < 1:
            return
        for p in self.store.glob(self.store.join(self._mdir, "v*.metadata.json")):
            m = re.search(r"v(\d+)\.metadata\.json$", p)
            if m and int(m.group(1)) <= floor:
                try:
                    self.store.delete(p)
                except OSError:
                    pass  # a racing pruner already removed it

    def _commit_snapshot(
        self,
        operation: str,
        new_entries: list[DataFile],
        replaced_paths: set[str] | None = None,
        max_retries: int = 5,
        branch: str | None = None,
        extra_summary: dict | None = None,
    ) -> Snapshot:
        """Build snapshot = (previous live files ∖ replaced) ∪ new, then
        CAS.  On conflict: reload, re-validate, retry from the new base
        (append vs append always merges, docs/08:71-78; replace/delete
        conflicts abort if the replaced set changed underneath).

        Manifests are INCREMENTAL: an append reuses the previous
        snapshot's manifests untouched and adds one new manifest for the
        new files — commit metadata cost is O(new files), not O(table),
        which is what keeps a 100 TB table (millions of files) at <100
        manifests with cheap commits.  DML rewrites only the manifests
        that actually contain replaced files."""
        replaced_paths = replaced_paths or set()
        for _ in range(max_retries):
            if branch is not None:
                r = self.meta.ref(branch)
                if r["type"] != "branch":
                    raise ValueError(f"ref {branch!r} is a tag, not a branch")
                prev = self.meta.snapshot_by_id(r["snapshot-id"])
            else:
                prev = self.meta.current_snapshot
            seq = self.meta.last_sequence_number + 1
            manifests: list[str] = []
            summaries: list[dict] = []
            new_summaries: list[dict] = []
            total_files = 0
            seen_replaced: set[str] = set()
            descs = (
                self._read_mlist(prev.manifest_list) if prev is not None else []
            )
            # REPLACE-commit hit search: past the threshold (estimated
            # total entries — same order as the distributed-plan
            # crossover measured in SCALE.md) the path→manifest mapping
            # runs in Spark and the driver decodes ONLY hit manifests,
            # keeping DELETE/UPDATE/MERGE commit cost O(hit manifests)
            # instead of O(table entries).  hit_names=None (below
            # threshold, or a non-distributable store) keeps the exact
            # driver walk.
            hit_names = None
            if replaced_paths and descs:
                thr = int(
                    self.meta.properties.get(
                        "commit.hit-search.threshold", "131072"
                    )
                )
                est = sum(
                    m["live-files"]
                    if m.get("live-files") is not None
                    else (
                        (
                            m.get("added-files-count")
                            or m.get("added_files_count")
                            or 0
                        )
                        + (
                            m.get("existing-files-count")
                            or m.get("existing_files_count")
                            or 0
                        )
                        or 1000  # summary-less: assume big
                    )
                    for m in descs
                )
                if est > thr and self.spark is not None:
                    from .scanplan import replaced_hit_manifests

                    hit_names = replaced_hit_manifests(
                        self, descs, replaced_paths
                    )
            if prev is not None:
                for m in descs:
                    if not replaced_paths or (
                        hit_names is not None
                        and m["manifest-path"] not in hit_names
                    ):
                        # SUMMARY carry: nothing to search for in this
                        # manifest (append commit, or the distributed
                        # hit search proved it holds no replaced path),
                        # so carry it forward from its LIST summary
                        # alone — commit cost O(manifests), not
                        # O(table entries).  Profiled before this path
                        # existed: at 200 manifests × 500 entries every
                        # append re-decoded 100k JSON entries (~1.6 s of
                        # driver CPU per commit, linear in table size).
                        lf = m.get("live-files")
                        if lf is not None:
                            # 'live-files' counts every live entry
                            # including delete-content ones (DVs,
                            # position deletes) — total-DATA-files must
                            # exclude those or MOR tables over-report
                            lf -= m.get("delete-content-files") or 0
                        if lf is None:  # spec-format / legacy spellings
                            if m.get("content") == 1:
                                lf = 0  # spec DELETE manifest: no data files
                            else:
                                a = m.get("added-files-count") or m.get(
                                    "added_files_count"
                                )
                                x = m.get("existing-files-count") or m.get(
                                    "existing_files_count"
                                )
                                if a is not None or x is not None:
                                    lf = (a or 0) + (x or 0)
                        if lf is None:  # summary-less layout: read once
                            lf = sum(
                                1
                                for e in self._read_mentries(m["manifest-path"])
                                if e.status != "deleted" and e.content == "data"
                            )
                        manifests.append(m["manifest-path"])
                        summaries.append(
                            {k: v for k, v in m.items() if k != "manifest-path"}
                        )
                        total_files += lf
                        continue
                    entries = self._read_mentries(m["manifest-path"])
                    # v3: resolve row-id inheritance BEFORE the rewrite
                    # so kept entries re-encode with EXPLICIT ids — a
                    # metadata rewrite must never renumber live rows
                    _inherit_first_row_ids(m, entries)
                    hit = [e for e in entries if e.path in replaced_paths]
                    if not hit:
                        manifests.append(m["manifest-path"])
                        summaries.append(
                            {k: v for k, v in m.items() if k != "manifest-path"}
                        )
                        # live DATA count: same basis as the append fast path
                        total_files += sum(
                            1
                            for e in entries
                            if e.status != "deleted" and e.content == "data"
                        )
                        continue
                    seen_replaced.update(e.path for e in hit)
                    # dataclasses.replace preserves EVERY field — in
                    # particular the DV identity triple
                    # (referenced_data_file, content_offset, content_size).
                    # A positional rebuild here once nulled those after
                    # rewrite_manifests coalesced DV entries into a data
                    # manifest, silently resurrecting MOR-deleted rows on
                    # the next replace-type commit.
                    kept = [
                        dataclasses.replace(e, status="existing")
                        for e in entries
                        if e.path not in replaced_paths
                    ]
                    if kept:
                        for mname, mlen, ms in self._write_manifests(kept):
                            manifests.append(mname)
                            s = {**ms, "manifest-length": mlen}
                            summaries.append(s)
                            new_summaries.append(s)
                        total_files += sum(1 for e in kept if e.content == "data")
            if not replaced_paths <= seen_replaced and replaced_paths:
                raise CommitConflict(
                    "files to replace no longer live (concurrent delete/compact)"
                )
            new_dv_refs = {
                e.referenced_data_file
                for e in new_entries
                if e.content == "deletion-vectors"
            }
            if new_dv_refs:
                # v3 one-DV-per-file under CONCURRENCY: two DML commits
                # that each computed a DV for the same data file from
                # the same base would BOTH land as plain appends (no
                # shared replaced path), leaving two live DVs for one
                # file — a tree the public v3 spec forbids and a strict
                # external reader may reject or half-apply.  Validate
                # against the (possibly rebased) base: any live DV for
                # one of our referenced files that we are NOT replacing
                # is a concurrent writer — conflict out (the caller
                # re-runs its DELETE from fresh state, which then
                # merges both bitmaps).  Cost: O(delete manifests),
                # decoded only on DV commits; all-clean manifests skip
                # via their summary counts.
                for m in descs:
                    if m.get("delete-content-files") == 0 or m.get("content") == 0:
                        continue
                    for e in self._read_mentries(m["manifest-path"]):
                        if (
                            e.status != "deleted"
                            and e.content == "deletion-vectors"
                            and e.referenced_data_file in new_dv_refs
                            and e.path not in replaced_paths
                        ):
                            raise CommitConflict(
                                "concurrent deletion-vector commit for "
                                f"data file {e.referenced_data_file!r} "
                                "(v3 allows one DV per file) — re-run "
                                "the DELETE/UPDATE/MERGE from the "
                                "current snapshot"
                            )
            for e in new_entries:
                e.sequence_number = seq
            if new_entries:
                for mname, mlen, ms in self._write_manifests(new_entries):
                    manifests.append(mname)
                    s = {**ms, "manifest-length": mlen}
                    summaries.append(s)
                    new_summaries.append(s)
                total_files += sum(1 for e in new_entries if e.content == "data")
            sid = _snapshot_id()
            # manifests WRITTEN BY this commit are attributed to its
            # snapshot (Iceberg manifest-list added_snapshot_id);
            # carried-forward descriptors keep their original attribution
            for s in new_summaries:
                s["added-snapshot-id"] = sid
            mlist = self._write_mlist(
                sid, manifests, summaries, seq, prev.snapshot_id if prev else None
            )
            snap = Snapshot(
                snapshot_id=sid,
                parent_snapshot_id=prev.snapshot_id if prev else None,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                manifest_list=mlist,
                schema_id=self.meta.current_schema_id,
                sequence_number=seq,
                summary={
                    "added-data-files": str(len(new_entries)),
                    "removed-data-files": str(len(replaced_paths)),
                    "total-data-files": str(total_files),
                    "added-records": str(sum(e.record_count for e in new_entries)),
                    **self._pop_row_assign(),
                    **(extra_summary or {}),
                },
            )
            meta = self.meta
            if branch is not None:
                new_meta = meta.copy_with(
                    snapshots=meta.snapshots + [snap],
                    last_sequence_number=seq,
                    refs={**meta.refs, branch: {"snapshot-id": sid, "type": "branch"}},
                )
            else:
                new_meta = meta.copy_with(
                    snapshots=meta.snapshots + [snap],
                    current_snapshot_id=sid,
                    last_sequence_number=seq,
                )
            try:
                self._write_version(self._version + 1, new_meta)
                self._mirror_after_commit(branch)
                return snap
            except CommitConflict:
                self.refresh()  # new base; loop re-validates and retries
        raise CommitConflict(f"gave up after {max_retries} retries")

    def _mirror_after_commit(self, branch: str | None) -> None:
        """Opt-in spec-format MIRROR (table property
        ``write.iceberg-export.enabled=true``): after every MAIN commit,
        re-export versioned Iceberg v2 metadata so external engines
        follow the table continuously — export-on-commit instead of the
        scheduled-task spelling.  Branch/txn staging commits don't
        export (main is unchanged).  Export cost is O(live files)
        metadata-only, the table's own commit has ALREADY succeeded,
        and mirror failures raise by default (opt-in strictness);
        ``write.iceberg-export.mode=best-effort`` downgrades them to a
        stderr note for deployments that prefer availability."""
        if branch is not None:
            return
        if str(self.meta.properties.get("write.iceberg-export.enabled", "")).lower() != "true":
            return
        try:
            from .iceberg_export import export_iceberg

            export_iceberg(self)
        except Exception as exc:
            if (
                str(self.meta.properties.get("write.iceberg-export.mode", "strict")).lower()
                == "best-effort"
            ):
                import sys
                import traceback

                print(
                    "icepack: best-effort iceberg-export mirror failed:\n"
                    + traceback.format_exc(),
                    file=sys.stderr,
                )
            else:
                # distinct error type: the table commit itself has
                # ALREADY succeeded — a bare re-raise would read as a
                # failed DML and invite a dangerous retry of the write
                raise MirrorExportError(
                    "spec-format mirror export failed AFTER the table "
                    "commit succeeded (the new snapshot is durable); "
                    "re-run `export_iceberg(table)` or set "
                    "write.iceberg-export.mode=best-effort: "
                    f"{exc}"
                ) from exc

    # -- write path (S6 append, D1) ----------------------------------------

    def _partition_columns(self) -> list[tuple[PartitionField, tr.Transform]]:
        spec, schema = self.meta.spec, self.meta.schema
        out = []
        for pf in spec.fields:
            out.append((pf, tr.parse(pf.transform)))
        return out

    def _write_data_files(
        self, df: DataFrame, extra_cols: list[str] | None = None
    ) -> list[DataFile]:
        """Write immutable parquet under data/<commit-uuid>/, hidden
        partition columns materialized as directory keys; harvest
        footer stats into manifest entries.  ``extra_cols`` names
        columns OUTSIDE the table schema to materialize physically
        (the v3 lineage carry — lineage-preserving rewrites write
        ``_row_id``/``_last_updated_sequence_number`` alongside the
        data so row ids survive data-file rewrites)."""
        schema, spec = self.meta.schema, self.meta.spec
        names = [f.name for f in schema.fields]
        extras = [c for c in (extra_cols or []) if c in df.columns]
        df = df.select(*names, *extras)  # enforce column order/presence
        commit_dir = os.path.join(self.location, "data", uuid.uuid4().hex)
        pcols = self._partition_columns()
        part_names = []
        for pf, t in pcols:
            sfield = self.meta.schema.field_by_id(pf.source_id)
            df = df.withColumn(
                _PART_PREFIX + pf.name,
                t.spark_column(F.col(sfield.name), dtype=sfield.spark_type()),
            )
            part_names.append(_PART_PREFIX + pf.name)
        sort_cols = self._sort_columns()
        if part_names and self.meta.properties.get("write.distribution-mode", "hash") == "hash":
            # hash-distribute by partition values before partitionBy:
            # otherwise every task writes a file into every partition it
            # touches (tasks × partitions tiny files — the small-file
            # anti-pattern, docs/09:130-147; measured 32×).  One shuffle
            # per append buys one well-sized file per partition; set the
            # property to "none" to skip for pre-clustered inputs.
            df = df.repartition(*[F.col(c) for c in part_names])
        elif sort_cols and self.meta.properties.get("write.distribution-mode") == "range":
            # WRITE ORDERED BY + range distribution: files become
            # disjoint slices of the sort key space, so min/max file
            # pruning on that key approaches partition-grade selectivity
            # without a partition spec (docs/09:156-168).  The explicit
            # partition count keeps the incoming parallelism (and
            # disables AQE's coalesce, which would fold a small append
            # into one file and erase the disjoint layout)
            df = df.repartitionByRange(max(1, df.rdd.getNumPartitions()), *sort_cols)
        if sort_cols:
            # Iceberg write order: task-local sort — every data file is
            # internally ordered and carries tight min/max bounds for
            # the sort columns, whatever the distribution above chose
            df = df.sortWithinPartitions(*([F.col(c) for c in part_names] + sort_cols))
        writer = df.write.mode("error")
        codec = self.meta.properties.get("write.parquet.compression-codec")
        if codec:
            writer = writer.option("compression", codec)
        # Iceberg-style per-column bloom filters (point-lookup file
        # skipping inside the parquet reader — complements min/max
        # stats, which are useless for high-cardinality equality keys)
        bloom_prefix = "write.parquet.bloom-filter-enabled.column."
        for prop, val in self.meta.properties.items():
            if prop.startswith(bloom_prefix) and str(val).lower() == "true":
                column = prop[len(bloom_prefix):]
                writer = writer.option(f"parquet.bloom.filter.enabled#{column}", "true")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(commit_dir)
        return self._collect_entries(commit_dir, spec, schema)

    def _collect_entries(self, commit_dir: str, spec, schema) -> list[DataFile]:
        """Manifest entries for freshly written files.  Footer-stat
        harvest is a pure metadata read per file — parallelized with a
        thread pool (I/O bound); at warehouse scale the same harvest
        runs as a distributed job over the path list."""
        from concurrent.futures import ThreadPoolExecutor

        paths = sorted(
            _glob.glob(os.path.join(commit_dir, "**", "*.parquet"), recursive=True)
        )
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as pool:
            harvested = list(pool.map(harvest_stats, paths))
        entries = []
        for path, (nrows, size, stats) in zip(paths, harvested):
            if nrows == 0:
                continue
            partition = {}
            rel = os.path.relpath(path, commit_dir)
            for comp in rel.split(os.sep)[:-1]:
                if "=" in comp and comp.startswith(_PART_PREFIX):
                    k, v = comp.split("=", 1)
                    partition[k[len(_PART_PREFIX):]] = _decode_part(urllib.parse.unquote(v))
            entries.append(
                DataFile(
                    path=path,
                    status="added",
                    partition=partition,
                    spec_id=spec.spec_id,
                    schema_id=schema.schema_id,
                    record_count=nrows,
                    file_size_bytes=size,
                    stats=stats,
                )
            )
        return entries

    def append(
        self,
        df: DataFrame,
        branch: str | None = None,
        extra_summary: dict | None = None,
    ) -> Snapshot:
        """INSERT/append (docs/08-acid-transactions.md:84-96); with
        ``branch``, the commit advances that ref only (docs/05:150-158 —
        e.g. an audit lineage validated before fast-forwarding main).
        ``extra_summary`` entries land in the snapshot summary inside
        the same commit (e.g. the streaming sink's batch-id marker)."""
        return self._commit_snapshot(
            "append", self._write_data_files(df), branch=branch, extra_summary=extra_summary
        )

    def overwrite_all(self, df: DataFrame) -> Snapshot:
        """INSERT OVERWRITE: replace the whole table in one snapshot."""
        live = {f.path for f in self.live_files()}
        return self._commit_snapshot("overwrite", self._write_data_files(df), live)

    def add_files(self, paths: list[str]) -> Snapshot:
        """Register existing parquet files as table data WITHOUT
        rewriting or moving them — the Iceberg migration path: parquet
        is engine-neutral (docs/11-multi-engine-compatibility.md:31-42),
        a table is metadata over files, so adopting foreign files is a
        metadata-only commit.  Footer stats are harvested exactly like
        native writes, so min/max file pruning works immediately; the
        files keep their external location (orphan cleanup only scans
        the table directory, so adopted files are never collected).

        Partitioned specs adopt from hive-style directory keys
        (docs/11-multi-engine-compatibility.md:174-183): each spec
        field's value is read from a ``<name>=<value>`` path component
        (the field name, its ``_p_`` spelling, the source column, or —
        when unambiguous — the bare transform kind), and the adoption
        REFUSES any file whose tuple is underivable rather than commit
        unprunable entries.  For monotone transforms the derived value
        is cross-checked against the file's footer min/max of the
        source column — a mislabeled directory fails loudly instead of
        silently mis-pruning forever.  Every table column must exist in
        each file's footer with a compatible type (exact match or a
        permitted widening, file narrower than table) — extra file
        columns are ignored by the name-based read projection.  The
        input list is deduplicated, and a path already live in the
        table is rejected: adopting it again would double-count its
        rows in a metadata-only commit."""
        return self._commit_snapshot("append", self._adoption_entries(paths))

    def _adoption_entries(self, paths: list[str]) -> list[DataFile]:
        """Validated DataFile entries for foreign parquet (the shared
        core of ``add_files`` and spec-format MOR adoption, which
        replays sequence groups as separate commits)."""
        from concurrent.futures import ThreadPoolExecutor

        spec, schema = self.meta.spec, self.meta.schema
        names = {f.name for f in schema.fields}
        paths = sorted({os.path.abspath(p) for p in paths})
        already = {f.path for f in self.live_files()} & set(paths)
        if already:
            raise ValueError(
                f"paths already live in table at {self.location}: {sorted(already)}"
            )
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as pool:
            harvested = list(pool.map(harvest_stats, paths))
        import pyarrow.parquet as _pq

        from pyspark.sql.pandas.types import from_arrow_type

        # timestamp vs timestamp_ntz differ only in session-tz
        # interpretation; name-based parquet read coerces them, so
        # adoption treats the pair as compatible (both directions)
        _TS_PAIR = {("timestamp", "timestamp_ntz"), ("timestamp_ntz", "timestamp")}

        entries = []
        for path, (nrows, size, stats) in zip(paths, harvested):
            fschema = _pq.read_schema(path)
            missing = names - set(fschema.names)
            if missing:
                raise ValueError(
                    f"file {path} lacks table columns {sorted(missing)}"
                )
            for f in schema.fields:
                have = from_arrow_type(
                    fschema.field(f.name).type, prefer_timestamp_ntz=True
                ).simpleString()
                want = f.spark_type().simpleString()
                if (
                    have != want
                    and (have, want) not in PROMOTIONS
                    and (have, want) not in _TS_PAIR
                ):
                    raise ValueError(
                        f"file {path} column {f.name!r} has type {have}, "
                        f"incompatible with table type {want}"
                    )
            if nrows == 0:
                continue
            entries.append(
                DataFile(
                    path=path,
                    status="added",
                    partition=self._adoption_partition(path, stats),
                    spec_id=spec.spec_id,
                    schema_id=schema.schema_id,
                    record_count=nrows,
                    file_size_bytes=size,
                    stats=stats,
                )
            )
        return entries

    def _adoption_partition(self, path: str, stats: dict) -> dict:
        """Partition tuple for one FOREIGN file, derived from hive-style
        directory keys and validated against footer stats where the
        transform permits (see add_files docstring)."""
        pcols = self._partition_columns()
        if not pcols:
            return {}
        kv = {}
        for comp in os.path.dirname(path).split(os.sep):
            if "=" in comp:
                k, v = comp.split("=", 1)
                kv[k] = _decode_part(urllib.parse.unquote(v))
        kinds = [t.kind for _, t in pcols]
        partition = {}
        for pf, t in pcols:
            sf = self.meta.schema.field_by_id(pf.source_id)
            cands = [pf.name, _PART_PREFIX + pf.name, sf.name]
            if kinds.count(t.kind) == 1:
                cands.append(t.kind)  # e.g. a bare day=... layout
            key = next((c for c in cands if c in kv), None)
            if key is None:
                raise ValueError(
                    f"cannot derive partition value for spec field "
                    f"{pf.name!r} ({pf.transform} of {sf.name!r}) from the "
                    f"directory layout of {path}; expected a path component "
                    f"named one of {cands} — adopt into an unpartitioned "
                    f"table and append() to apply the spec instead"
                )
            val = kv[key]
            if t.monotone and val is not None:
                st = stats.get(sf.name) or {}
                lo, hi = st.get("min"), st.get("max")
                if lo is not None and hi is not None:
                    try:
                        plo = t.apply(lo, dtype=sf.spark_type())
                        phi = t.apply(hi, dtype=sf.spark_type())
                    except (TypeError, ValueError):
                        plo = phi = None  # stats spelling unparseable: skip
                    if (
                        plo is not None
                        and plo == phi
                        and str(plo) != str(val)
                    ):
                        raise ValueError(
                            f"directory key {key}={val!r} of {path} "
                            f"contradicts the file's {sf.name} stats "
                            f"({lo!r}..{hi!r} -> {pf.transform} = {plo!r}); "
                            "refusing a mislabeled adoption"
                        )
            partition[pf.name] = val
        return partition

    # -- read path (S1/S8/T2, scan planning §3.1) --------------------------

    def live_files(
        self, snapshot: Snapshot | None = None, content: str = "data"
    ) -> list[DataFile]:
        """Live file entries of a snapshot; ``content`` selects "data",
        "deletes" (any merge-on-read delete file), "equality-deletes",
        "position-deletes", or "all".

        Delete-only listings skip manifests whose summary says they
        hold zero delete-content files (the common all-clean case) —
        every scan lists deletes (toDF's MOR application), and without
        the skip that re-read EVERY manifest even on tables that never
        saw a DELETE.  Absent summary counts (pre-upgrade layouts) are
        treated as unknown and read."""
        snap = snapshot or self.meta.current_snapshot
        if snap is None:
            return []
        delete_only = content not in ("data", "all")
        out = []
        for m in self._read_mlist(snap.manifest_list):
            if delete_only and m.get("delete-content-files") == 0:
                continue
            entries = self._read_mentries(m["manifest-path"])
            _inherit_first_row_ids(m, entries)
            for e in entries:
                if e.status == "deleted":
                    continue
                if (
                    content == "all"
                    or e.content == content
                    or (content == "deletes" and e.content != "data")
                ):
                    out.append(e)
        return out

    def plan_files(
        self, predicate: Expr | None = None, snapshot: Snapshot | None = None
    ) -> tuple[list[DataFile], dict]:
        """Manifest-list partition pruning (phase 1) + per-file stats
        pruning (phase 2).  Returns (files, pruning report).  Always a
        superset of matching files — Spark re-applies the full filter.

        Past the auto plan-mode thresholds, a PREDICATED plan delegates
        to the distributed planner (scanplan.py) like toDF does — so
        DML target pruning (DELETE/UPDATE/MERGE hit-file search) also
        stops walking millions of entries in driver Python at
        warehouse scale.  The distributed selection is a pinned
        superset of this walk, and a superset of hit files only means
        extra rewrites, never wrong rows.  Unpredicated plans stay
        driver-side: selecting everything collects O(table) either
        way, and callers that want all files use live_files."""
        snap = snapshot or self.meta.current_snapshot
        if snap is None:
            return [], _scan_report([], [])
        if predicate is not None and self._use_distributed_planner(snap):
            from .scanplan import plan_entries_distributed

            files, _dels = plan_entries_distributed(self, predicate, snap)
            totals = {"files": 0, "bytes": 0}
            for m in self._read_mlist(snap.manifest_list):
                lf = m.get("live-files")
                if lf is None:  # spec-format (Iceberg avro) spellings
                    lf = (
                        m.get("added-files-count")
                        or m.get("added_files_count")
                        or 0
                    ) + (
                        m.get("existing-files-count")
                        or m.get("existing_files_count")
                        or 0
                    )
                totals["files"] += lf or 0
                lb = m.get("live-bytes")
                if lb is None:
                    lb = m.get("total-size-bytes") or m.get("total_size_bytes")
                totals["bytes"] += lb or 0
            return files, {
                "planner": "distributed",
                "files_scanned": len(files),
                "files_total": totals["files"],
                "bytes_scanned": sum(f.file_size_bytes for f in files),
                "bytes_total": totals["bytes"],
            }
        schema = self.meta.schema_by_id(snap.schema_id)
        if predicate is not None:
            files = []
            all_entries = []
            # cache projections per spec (partition evolution T4: each file
            # is pruned under the spec it was written with)
            proj: dict[int, Expr] = {}

            def _proj_for(sid: int) -> Expr | None:
                if sid not in proj:
                    try:
                        spec = self.meta.spec_by_id(sid)
                    except StopIteration:
                        return None
                    proj[sid] = project_to_partition(predicate, spec, schema, self.spark)
                return proj[sid]

            # phase 0: manifest-list partition-range skip — whole
            # manifests whose summary ranges exclude the predicate are
            # never opened, so planning reads O(candidate manifests),
            # not O(all entries) (docs/03:77-92; safety rules in
            # expr.manifest_may_match).  Skipped manifests still feed
            # the scan-report totals from their summary counts.
            sk_manifests = sk_files = sk_bytes = sk_parts = 0
            for m in self._read_mlist(snap.manifest_list):
                if not manifest_may_match(m, _proj_for):
                    sk_manifests += 1
                    sk_files += m.get("live-files", 0)
                    sk_bytes += m.get("live-bytes", 0)
                    sk_parts += m.get("distinct-partitions", 0)
                    continue
                entries = self._read_mentries(m["manifest-path"])
                _inherit_first_row_ids(m, entries)
                for e in entries:
                    if e.status == "deleted" or e.content != "data":
                        continue
                    all_entries.append(e)
                    if _proj_for(e.spec_id) is None:
                        raise ValueError(f"file {e.path} has unknown spec {e.spec_id}")
                    # phase 1: partition-tuple check
                    if e.partition and not partition_tuple_matches(
                        proj[e.spec_id], e.partition
                    ):
                        continue
                    # phase 2: per-file column stats check
                    if not predicate.may_match_file(e.stats, e.record_count):
                        continue
                    files.append(e)
            rep = _scan_report(all_entries, files)
            if sk_manifests:
                rep["manifests_skipped"] = sk_manifests
                rep["files_total"] += sk_files
                rep["bytes_total"] += sk_bytes
                # distinct tuples are per-manifest counts; overlap across
                # manifests can overcount the total — totals stay exact
                # whenever nothing is skipped
                rep["partitions_total"] += sk_parts
            return files, rep
        files = self.live_files(snap)
        return files, _scan_report(files, files)

    def _read_files(
        self,
        files: list[DataFile],
        with_pos: bool = False,
        lineage: bool = False,
    ) -> DataFrame:
        """Read a set of data files under the CURRENT schema.  Per-file
        schema-ID reconciliation (docs/06-schema-evolution.md:75-91):
        files from old schema versions are renamed/cast/padded by
        column ID before unionByName, so renames and widenings are
        metadata-only.

        ``with_pos`` appends ``_file``/``_pos`` columns from Spark's
        hidden ``_metadata`` struct (file path URI + row ordinal within
        the file) — the (file_path, pos) identity Iceberg position
        deletes are keyed on.  Computed by the parquet reader itself,
        so it is stable across reads and free of shuffles.

        ``lineage`` additionally projects the PHYSICAL v3 lineage
        columns ``_row_id`` / ``_last_updated_sequence_number``: files
        rewritten by lineage-preserving maintenance materialize them
        (schema-on-read yields null for everything else, which the
        caller coalesces with the inherited assignment)."""
        current = self.meta.schema
        if not files:
            df = local_df(self.spark, [], current.to_struct())
            if with_pos:
                df = df.withColumn("_file", F.lit(None).cast("string")).withColumn(
                    "_pos", F.lit(None).cast("long")
                )
            if lineage:
                for c in (_ROW_ID_COL, _LAST_UPDATED_COL):
                    df = df.withColumn(c, F.lit(None).cast("long"))
            return df
        by_schema: dict[int, list[DataFile]] = {}
        for f in files:
            by_schema.setdefault(f.schema_id, []).append(f)
        parts = []
        for sid, group in sorted(by_schema.items()):
            if sid == -1:
                # FOREIGN files (spec tree written by an external
                # engine; no per-file schema stash): resolve columns
                # like an Iceberg reader instead of imposing a schema
                parts.append(self._read_foreign_files(group, with_pos, lineage))
                continue
            old = self.meta.schema_by_id(sid)
            read_struct = old.to_struct()
            if lineage:
                read_struct = T.StructType(
                    read_struct.fields
                    + [
                        T.StructField(_ROW_ID_COL, T.LongType()),
                        T.StructField(_LAST_UPDATED_COL, T.LongType()),
                    ]
                )
            df = read_files(self.spark, [f.path for f in group], schema=read_struct)
            cols = []
            for cf in current.fields:
                of = old.field_by_id(cf.id)
                if of is None:  # column added after these files were written
                    cols.append(F.lit(None).cast(cf.spark_type()).alias(cf.name))
                else:  # rename and/or widen by stable ID
                    cols.append(F.col(of.name).cast(cf.spark_type()).alias(cf.name))
            if with_pos:
                cols.append(F.col("_metadata.file_path").alias("_file"))
                cols.append(F.col("_metadata.row_index").alias("_pos"))
            if lineage:
                cols.append(F.col(_ROW_ID_COL))
                cols.append(F.col(_LAST_UPDATED_COL))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_foreign_files(
        self, files: list[DataFile], with_pos: bool, lineage: bool = False
    ) -> DataFrame:
        """Read data files from a FOREIGN spec tree under the CURRENT
        schema, resolved per the Iceberg reader rules: a file that
        embeds parquet field ids resolves by ID exclusively (renames
        are invisible to it); a file without ids resolves current-name
        first, then the table's ``schema.name-mapping.default``
        historical names.  Absent columns null-fill, narrower physical
        types cast.  Files group by their resolution plan so each
        group is one scan (one footer read per file at plan time —
        the cost every external-table reader pays)."""
        import pyarrow.parquet as _pq

        current = self.meta.schema
        nm: dict[int, list] = {}
        raw_nm = self.meta.properties.get("schema.name-mapping.default")
        if raw_nm:
            try:
                for e in json.loads(raw_nm):
                    nm[e["field-id"]] = e.get("names", [])
            except (ValueError, TypeError, KeyError):
                pass
        groups: dict[tuple, list[str]] = {}
        for f in files:
            fsch = _pq.read_schema(f.path)
            names = {fld.name: str(fld.type) for fld in fsch}
            by_fid: dict[int, str] = {}
            for fld in fsch:
                fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    try:
                        by_fid[int(fid)] = fld.name
                    except ValueError:
                        pass
            plan = []
            for cf in current.fields:
                if by_fid:  # spec rule: embedded ids win outright
                    src = by_fid.get(cf.id)
                elif cf.name in names:
                    src = cf.name
                else:
                    src = next((n for n in nm.get(cf.id, []) if n in names), None)
                plan.append((src, cf.name, names.get(src)))
            groups.setdefault(tuple(plan), []).append(f.path)
        parts = []
        for plan, paths in sorted(groups.items()):
            raw = read_files(self.spark, paths)
            cols = []
            for src, cur_name, _ftype in plan:
                cf = current.field_by_name(cur_name)
                if src is None:
                    cols.append(F.lit(None).cast(cf.spark_type()).alias(cur_name))
                else:
                    cols.append(F.col(src).cast(cf.spark_type()).alias(cur_name))
            if with_pos:
                cols.append(F.col("_metadata.file_path").alias("_file"))
                cols.append(F.col("_metadata.row_index").alias("_pos"))
            if lineage:
                # foreign files: no materialized lineage columns are
                # assumed — rows resolve through manifest inheritance
                # (null here feeds the caller's coalesce)
                cols.append(F.lit(None).cast("long").alias(_ROW_ID_COL))
                cols.append(F.lit(None).cast("long").alias(_LAST_UPDATED_COL))
            parts.append(raw.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    #: auto plan-mode flip points: past either bound the O(entries)
    #: driver-side plan is the scan's bottleneck posture at 100 TB
    #: (SCALE.md) and the Spark-side planner wins despite its one
    #: plan job.  Property-overridable per table.
    AUTO_PLAN_FILE_THRESHOLD = 100_000
    AUTO_PLAN_MANIFEST_THRESHOLD = 64

    def _use_distributed_planner(self, snap: Snapshot) -> bool:
        """``read.plan-mode``: ``driver`` | ``distributed`` | ``auto``
        (default).  Auto decides from the manifest LIST alone —
        O(manifests) driver work the plan pays anyway — flipping to the
        distributed planner when the snapshot's manifest count or
        summed live-file count crosses the (property-overridable)
        thresholds, so a many-manifest table never silently planful
        walks millions of entries in driver Python."""
        if self.spark is None:
            return False  # metadata-only handle (datasource runners)
        mode = str(self.meta.properties.get("read.plan-mode", "auto")).lower()
        if mode == "distributed":
            return True
        if mode != "auto":  # "driver" and any legacy spelling
            return False
        props = self.meta.properties

        def _n(key: str, default: int) -> int:
            try:
                return int(props.get(key, default))
            except (TypeError, ValueError):
                return default

        mthresh = _n(
            "read.plan-mode.auto.manifest-threshold",
            self.AUTO_PLAN_MANIFEST_THRESHOLD,
        )
        fthresh = _n(
            "read.plan-mode.auto.file-threshold", self.AUTO_PLAN_FILE_THRESHOLD
        )
        try:
            mlist = self._read_mlist(snap.manifest_list)
        except (OSError, ValueError):
            return False  # unreadable list: the scan itself will report
        if len(mlist) >= mthresh:
            return True
        total = 0
        for m in mlist:
            lf = m.get("live-files")
            if lf is None:  # spec-format (Iceberg avro) summary spellings
                lf = (m.get("added-files-count") or m.get("added_files_count") or 0) + (
                    m.get("existing-files-count") or m.get("existing_files_count") or 0
                )
            total += lf or 0
            if total >= fthresh:
                return True
        return False

    def _distributed_by_entries(
        self, est_entries: int, prop: str, default: int
    ) -> bool:
        """Plan-mode decision for maintenance ops whose work scales
        with ENTRY count, not manifest count (partition stats, fsck):
        an r11 measurement put their driver/distributed crossover at
        ~256k entries — 4× past the generic 64-manifest flip, which
        paid ~3.5 s of Spark overhead at 128k entries for nothing.
        ``read.plan-mode`` pins still rule; ``prop`` overrides the
        measured default per table."""
        if self.spark is None:
            return False  # metadata-only handle (datasource runners)
        mode = str(self.meta.properties.get("read.plan-mode", "auto")).lower()
        if mode == "distributed":
            return True
        if mode != "auto":
            return False
        try:
            thresh = int(self.meta.properties.get(prop, default))
        except (TypeError, ValueError):
            thresh = default
        return est_entries >= thresh

    @staticmethod
    def _est_live_entries(descs: list[dict]) -> int:
        """Live-entry estimate from manifest-list summaries —
        O(manifests) driver work the caller already paid."""
        total = 0
        for m in descs:
            lf = m.get("live-files")
            if lf is None:
                lf = (m.get("added-files-count") or 0) + (
                    m.get("existing-files-count") or 0
                )
            total += lf or 0
        return total

    def _distributed_maintenance(self, n_manifests: int) -> bool:
        """Plan-mode decision for maintenance ops that already hold a
        cross-snapshot manifest COUNT (expire reachability, orphan
        sweep) — same contract as ``_use_distributed_planner`` but
        count-based: ``read.plan-mode=driver`` pins the driver walk,
        ``distributed`` forces Spark, ``auto`` compares the count
        against the property-overridable manifest threshold (ADVICE
        r10: the raw class constant ignored both)."""
        if self.spark is None:
            return False  # metadata-only handle (datasource runners)
        mode = str(self.meta.properties.get("read.plan-mode", "auto")).lower()
        if mode == "distributed":
            return True
        if mode != "auto":
            return False
        try:
            thresh = int(
                self.meta.properties.get(
                    "read.plan-mode.auto.manifest-threshold",
                    self.AUTO_PLAN_MANIFEST_THRESHOLD,
                )
            )
        except (TypeError, ValueError):
            thresh = self.AUTO_PLAN_MANIFEST_THRESHOLD
        return n_manifests >= thresh

    def toDF(
        self,
        predicate: Expr | None = None,
        snapshot: Snapshot | None = None,
        row_lineage: bool = False,
    ) -> DataFrame:
        """Table scan → plain DataFrame (full read lifecycle §3.1).
        Merge-on-read deletes (equality AND position) are applied
        sequence-correctly: a delete file affects only data files with
        a strictly lower sequence number, so rows re-inserted after
        the delete survive.  Position deletes additionally key on the
        (file_path, pos) identity so they can never touch other files.

        ``row_lineage=True`` (v3 spec-primary tables only) appends the
        Iceberg v3 metadata columns ``_row_id`` and
        ``_last_updated_sequence_number`` (public spec "Row Lineage"):
        materialized per-row values from lineage-preserving rewrites
        win, everything else resolves from the manifest-list field-520
        assignment (first_row_id + row position in file; last-updated =
        the file's data sequence number).  Both planner lanes carry the
        resolved per-file ids: the driver walk inherits at decode, the
        distributed lane runs the same inheritance inside each
        manifest's executor-side decode task."""
        snap = snapshot or self.meta.current_snapshot
        current = self.meta.schema
        if row_lineage:
            from .specio import spec_format_version

            if not (
                self.spec_primary
                and spec_format_version(self.meta.properties) >= 3
            ):
                raise ValueError(
                    "row_lineage requires format.spec-primary=true with "
                    "format.spec-version=3 (row ids are assigned by v3 "
                    "manifest-list commits)"
                )
            clash = {f.name for f in current.fields} & {
                _ROW_ID_COL,
                _LAST_UPDATED_COL,
            }
            if clash:
                # the spec RESERVES these names; serving lineage over a
                # table that shadows them would silently misread the
                # user column as the metadata column
                raise ValueError(
                    f"table columns {sorted(clash)} shadow the reserved "
                    "Iceberg v3 lineage metadata columns — rename them "
                    "before scanning with row_lineage=True"
                )
        if snap is None:
            return local_df(self.spark, [], current.to_struct())
        if self._use_distributed_planner(snap):
            # warehouse-scale planning (scanplan.py): pruning evaluated
            # in Spark over the manifests; driver holds O(selected)
            from .scanplan import plan_entries_distributed

            files, deletes = plan_entries_distributed(self, predicate, snap)
            report = {
                "planner": "distributed",
                "files_scanned": len(files),
                "bytes_scanned": sum(f.file_size_bytes for f in files),
            }
        else:
            files, report = self.plan_files(predicate, snap)
            deletes = _relevant_deletes(files, self.live_files(snap, content="deletes"))
        self._scan_log.append(
            {
                "seq": len(self._scan_log) + 1,
                "predicate": str(predicate) if predicate is not None else None,
                "snapshot_id": snap.snapshot_id,
                **report,
            }
        )
        out = (
            self._lineage_df(files, deletes)
            if row_lineage
            else self._read_with_deletes(files, deletes)
        )
        if predicate is not None:
            out = out.filter(predicate.to_column())  # full filter, always
        return out

    def _lineage_df(self, files: list[DataFile], deletes: list[DataFile]) -> DataFrame:
        """The MOR-correct scan of *files* with resolved v3 lineage
        columns: per-row ``coalesce(materialized, inherited)``.  The
        inherited side is a BROADCAST map join keyed on the scan's own
        ``_file`` spellings (O(files) driver canonicalization — the
        same bounded-distinct discipline the DV mask join uses; data
        rows never leave the JVM)."""
        from .iceberg_import import canonical_file_path

        df = self._read_with_deletes(files, deletes, with_pos=True, lineage=True)
        # key by the canonical spelling for ANY scheme-prefixed path
        # (s3a:// unifies to s3://, percent-encoding drops) — the same
        # discipline as the DV mask join; raw paths pass through the
        # canonicalizer verbatim by its own contract (ADVICE r12: a
        # 'file:'-only guard left other schemes missing the broadcast
        # lookup, silently resolving lineage columns to NULL)
        by_canon = {
            canonical_file_path(f.path): (f.first_row_id, f.sequence_number)
            for f in files
            if f.content == "data"
        }
        spellings = [r[0] for r in df.select("_file").distinct().collect()]
        rows = []
        for s in spellings:
            if s is None:
                continue
            frid, seq = by_canon.get(canonical_file_path(s), (None, None))
            rows.append((s, frid, seq))
        mp = local_df(self.spark, 
            rows or [(None, None, None)], "_sp string, _frid long, _fseq long"
        )
        return (
            df.join(F.broadcast(mp), df["_file"] == mp["_sp"], "left")
            .withColumn(
                _ROW_ID_COL,
                F.coalesce(F.col(_ROW_ID_COL), F.col("_frid") + F.col("_pos")),
            )
            .withColumn(
                _LAST_UPDATED_COL,
                F.coalesce(F.col(_LAST_UPDATED_COL), F.col("_fseq")),
            )
            .drop("_sp", "_frid", "_fseq", "_file", "_pos")
        )

    def _read_visible(
        self, files: list[DataFile], with_pos: bool = False, lineage: bool = False
    ) -> DataFrame:
        """Read a file subset with the TABLE'S live delete files
        applied — the view every DML operation must start from.  A DML
        that reads hit files raw resurrects rows masked by earlier MOR
        deletes (its rewrite/append re-materializes them past the old
        delete's sequence number).  ``with_pos`` keeps ``_file``/
        ``_pos`` for ops that write position deletes for matched rows.
        ``lineage`` returns the RESOLVED v3 lineage columns instead
        (mutually exclusive with ``with_pos`` — the resolver consumes
        the position internally)."""
        dels = _relevant_deletes(files, self.live_files(content="deletes"))
        if lineage:
            return self._lineage_df(files, dels)
        return self._read_with_deletes(files, dels, with_pos=with_pos)

    def _read_with_deletes(
        self,
        files: list[DataFile],
        deletes: list[DataFile],
        with_pos: bool = False,
        lineage: bool = False,
    ) -> DataFrame:
        """Read data files with the applicable MOR delete files merged
        in (the sequence-correct anti-joins) — shared by the scan path,
        scoped compaction, and (via _read_visible) every DML read.
        ``with_pos`` retains the ``_file``/``_pos`` identity columns in
        the output."""
        current = self.meta.schema
        if not deletes:
            return self._read_files(files, with_pos=with_pos, lineage=lineage)
        # v3 deletion-vectors name their target data file explicitly
        # (referenced_data_file = the RAW manifest spelling, by
        # construction in maintenance.write_deletion_vectors), so they
        # apply by file identity, never by sequence scoping — and they
        # are the one content kind whose entry path is NOT unique
        # (blobs share a Puffin file), so they must stay out of the
        # path-keyed grouping below
        dvs = [d for d in deletes if d.content == "deletion-vectors"]
        if dvs:
            in_scan = {f.path for f in files}
            dvs = [d for d in dvs if d.referenced_data_file in in_scan]
        seqdels = [d for d in deletes if d.content != "deletion-vectors"]
        # group data files by the set of delete files that apply
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            applicable = tuple(
                sorted(d.path for d in seqdels if f.sequence_number < d.sequence_number)
            )
            groups.setdefault(applicable, []).append(f)
        parts = []
        for applicable, group in sorted(groups.items()):
            by_path = {d.path: d for d in seqdels}
            pos_paths = [
                p for p in applicable if by_path[p].content == "position-deletes"
            ]
            group_paths = {f.path for f in group}
            dvg = [d for d in dvs if d.referenced_data_file in group_paths]
            df = self._read_files(
                group,
                with_pos=with_pos or bool(pos_paths) or bool(dvg),
                lineage=lineage,
            )

            # Canonicalization strategy for path-keyed anti-joins: the
            # data side's ``_file`` is Spark's percent-encoded URI while
            # delete structures may carry raw manifest paths or foreign
            # ``file:`` spellings.  Running the canonicalizer UDF over
            # EVERY data row puts an Arrow/Python stage on the scan hot
            # path (measured: the dominant cost of a DV/spec-primary
            # scan) — instead, canonicalize only the DISTINCT ``_file``
            # spellings (O(files) rows through one column-pruned
            # JVM distinct), map the bounded DELETE side onto those
            # spellings, and anti-join on PLAIN string equality so the
            # data rows never leave the JVM.
            spell_pairs: list | None = None

            def _spellings():
                # Scan-side spellings of this group's data files.  Fast
                # path (guide §1.2): engine-written local paths have a
                # statically predictable URI spelling (pinned by test),
                # so no job runs at all.  Fallback: one bounded
                # metadata collect — a column-pruned distinct over
                # ``_file`` yields O(group files) strings (the parquet
                # reader serves the constant-per-file metadata column
                # without touching data pages), canonicalized in plain
                # driver Python.  A UDF-over-distinct variant was tried
                # first and REJECTED: Catalyst's projection collapse
                # pushed the UDF below the aggregation, putting an
                # ArrowEvalPython stage back over every row.
                nonlocal spell_pairs
                if spell_pairs is None:
                    from .iceberg_import import (
                        canonical_file_path,
                        predicted_scan_spelling,
                    )

                    pred = [predicted_scan_spelling(f.path) for f in group]
                    if all(p is not None for p in pred):
                        spell_pairs = [
                            (p, canonical_file_path(p)) for p in pred
                        ]
                    else:
                        sps = [
                            r[0]
                            for r in df.select("_file").distinct().collect()
                        ]
                        spell_pairs = [
                            (s, canonical_file_path(s)) for s in sps
                        ]
                return spell_pairs

            def _driver_tombstones(entries, remap: bool):
                # gated driver lane (dv.driver_deletes): the tombstones
                # feed the broadcast anti-join as ONE LocalTableScan
                # instead of a distributed read + distinct, or a Python
                # executor decode, per scan construction.  ``remap``
                # substitutes the scan's ``_file`` spellings by
                # canonical path as dict work; unmatched tombstones drop
                from .dv import driver_deletes

                tbl = driver_deletes(entries)
                if tbl is None:
                    return None
                pdf = tbl.to_pandas().drop_duplicates()
                if remap:
                    from .iceberg_import import canonical_file_path

                    by_cn = {cn: sp for sp, cn in _spellings()}
                    sp = {
                        s: by_cn.get(canonical_file_path(s))
                        for s in pdf["file_path"].unique()
                    }
                    pdf = pdf.assign(file_path=pdf["file_path"].map(sp))
                    pdf = pdf[pdf["file_path"].notna()]
                return self.spark.createDataFrame(pdf, "file_path string, pos long")

            tombstones = []
            if dvg:
                # one anti-join applies every DV of the group: the
                # (file_path, pos) identity keeps each bitmap scoped to
                # its own file.  Past the driver gate blobs decode in
                # EXECUTORS (dv.dv_positions_df); target identities are
                # known driver-side, so their canonical forms cost
                # O(files) Python calls here, not a distributed stage.
                dd = _driver_tombstones(dvg, remap=True)
                if dd is None:
                    from .dv import dv_positions_df
                    from .iceberg_import import canonical_file_path

                    refs = local_df(
                        self.spark,
                        {
                            (d.referenced_data_file, canonical_file_path(d.referenced_data_file))
                            for d in dvg
                        },
                        "file_path string, _cn string",
                    )
                    dd = (
                        dv_positions_df(self.spark, dvg)
                        .join(F.broadcast(refs), "file_path")
                        .join(
                            F.broadcast(
                                local_df(
                                    self.spark, _spellings(), "_sp string, _cn string"
                                )
                            ),
                            "_cn",
                        )
                        .select(F.col("_sp").alias("file_path"), "pos")
                    )
                tombstones.append(dd)
            if pos_paths:
                canon_join = self.spec_primary or (
                    self.meta.properties.get("read.canonicalize-delete-file-paths")
                    == "true"
                )
                dels = _driver_tombstones(
                    [by_path[p] for p in pos_paths], canon_join
                )
                if dels is None:
                    dels = (
                        read_files(self.spark, pos_paths)
                        .select("file_path", "pos")
                        .distinct()
                    )
                    if canon_join:
                        # spec-shaped delete files store CANONICAL raw
                        # paths (external engines compare them to manifest
                        # paths), and adopted foreign trees set the
                        # property above.  Foreign engines commonly spell
                        # file_path as a ``file:/abs/path`` URI, and a
                        # verbatim compare would never match, silently
                        # resurrecting deleted rows on adopted tables — so
                        # the delete side's DISTINCT paths (bounded: delete
                        # files are small by design) collect, canonicalize
                        # in plain driver Python, and substitute through a
                        # broadcast LocalTableScan map onto the scan's
                        # actual ``_file`` spellings — no pandas-UDF stage
                        # in the broadcast build (r13: each such stage
                        # costs ~0.5 s of fixed JVM↔Python latency), and
                        # the data side stays JVM.
                        from .iceberg_import import canonical_file_path

                        by_cn = {cn: sp for sp, cn in _spellings()}
                        dsp = [
                            r[0]
                            for r in dels.select("file_path").distinct().collect()
                        ]
                        rows = []
                        for s in dsp:
                            sp = by_cn.get(canonical_file_path(s))
                            if sp is not None:  # unmatched deletes drop, as before
                                rows.append((s, sp))
                        dels = dels.join(
                            F.broadcast(
                                local_df(
                                    self.spark, rows, "file_path string, _sp string"
                                )
                            ),
                            "file_path",
                        ).select(F.col("_sp").alias("file_path"), "pos")
                tombstones.append(dels)
            for dels in tombstones:
                df = df.join(
                    F.broadcast(dels),
                    (df["_file"] == dels["file_path"]) & (df["_pos"] == dels["pos"]),
                    "left_anti",
                )
            if tombstones and not with_pos:
                df = df.drop("_file", "_pos")
            # Equality deletes are keyed by FIELD ID, not name (Iceberg
            # spec): a delete file stores the column names current at
            # delete time, while _read_files reconciles data to the
            # CURRENT schema — resolve each delete column through its
            # schema version's field id to the current name, so a key
            # column renamed after the delete still applies.
            by_cols: dict[tuple, list] = {}
            for d in deletes:
                if d.path in applicable and d.content == "equality-deletes":
                    dschema = self.meta.schema_by_id(
                        d.schema_id
                        if d.schema_id != -1  # foreign: keyed by current names
                        else self.meta.current_schema_id
                    )
                    resolved = []
                    for c in d.equality_columns:
                        f_old = dschema.field_by_name(c)
                        f_cur = current.field_by_id(f_old.id) if f_old else None
                        if f_cur is None:
                            raise ValueError(
                                f"equality-delete file {d.path} keys on "
                                f"{c!r} (field dropped from the current "
                                "schema); compact to materialize the "
                                "deletes before dropping the column"
                            )
                        resolved.append((c, f_cur.name))
                    by_cols.setdefault(tuple(resolved), []).append((d, dschema))
            for eq_map, dentries in sorted(by_cols.items()):
                # delete files by the key types of their schema version
                by_types: dict[tuple, list] = {}
                for d, ds in dentries:
                    types = tuple(
                        ds.field_by_name(old).spark_type() for old, _ in eq_map
                    )
                    by_types.setdefault(types, []).append(d.path)
                dels = None
                # gated driver lane (dv.driver_deletes), read with the
                # delete schema version's exact types; the union's
                # widening across mixed versions belongs to Spark
                if len(by_types) == 1:
                    import pyarrow as pa
                    from pyspark.sql.pandas.types import to_arrow_type

                    from .dv import driver_deletes

                    try:
                        tbl = driver_deletes(
                            [d for d, _ in dentries],
                            pa.schema(
                                [
                                    (old, to_arrow_type(t))
                                    for (old, _), t in zip(eq_map, types)
                                ]
                            ),
                        )
                        if tbl is not None:
                            tbl = tbl.group_by(tbl.schema.names).aggregate([])
                            dels = self.spark.createDataFrame(
                                tbl.rename_columns(
                                    [f"_del_{cur}" for _, cur in eq_map]
                                ),
                                schema=T.StructType(
                                    [
                                        T.StructField(f"_del_{cur}", t)
                                        for (_, cur), t in zip(eq_map, types)
                                    ]
                                ),
                            )
                    except (TypeError, ValueError, pa.ArrowException):
                        pass  # no Arrow form for a key type: Spark read
                if dels is None:
                    # Spark reads a path list with ONE file's key types,
                    # so each type group is read on its own and the
                    # union widens them to a common type
                    reads = [
                        read_files(self.spark, paths).select(
                            *[F.col(old).alias(f"_del_{cur}") for old, cur in eq_map]
                        )
                        for paths in by_types.values()
                    ]
                    dels = reads[0]
                    for r in reads[1:]:
                        dels = dels.unionByName(r)
                    dels = dels.distinct()
                # Iceberg equality-delete semantics: field-by-field
                # equality with null == null (spec "Equality Delete
                # Files"), so the anti-join must be NULL-SAFE — a plain
                # column-name join would let a NULL-keyed delete match
                # nothing and resurrect the row
                cond = None
                for _old, cur in eq_map:
                    piece = df[cur].eqNullSafe(dels[f"_del_{cur}"])
                    cond = piece if cond is None else cond & piece
                df = df.join(F.broadcast(dels), cond, "left_anti")
            parts.append(df)
        if not parts:
            # forward lineage so a v3 row_lineage scan that plans zero
            # data files (e.g. delete-only entry lists) still carries
            # the lineage columns (ADVICE r12)
            return self._read_files([], with_pos=with_pos, lineage=lineage)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def changes(
        self, since_snapshot_id: int | None = None, predicate: Expr | None = None
    ) -> DataFrame:
        """Incremental (changelog) scan — the bronze→silver pattern
        (docs/12-lakehouse-patterns.md:94-104) without manual
        high-water-mark bookkeeping: rows from data files committed
        AFTER the given snapshot (by commit sequence number).  An
        incremental consumer stores the snapshot id it last processed
        and reads only the delta; at 100 TB this reads the new files
        only, never rescanning the table.  Append-only semantics:
        replaced/rewritten files (compaction, DML) surface as new
        sequence numbers — consumers needing exactly-once row deltas
        should run between maintenance windows (documented limitation).
        """
        base_seq = -1
        if since_snapshot_id is not None:
            snap = self.meta.snapshot_by_id(since_snapshot_id)
            if snap is None:
                raise ValueError(f"unknown snapshot {since_snapshot_id}")
            base_seq = snap.sequence_number
        files = [
            f
            for f in self.live_files(content="data")
            if f.sequence_number > base_seq
            and (predicate is None or predicate.may_match_file(f.stats, f.record_count))
        ]
        out = self._read_files(files)
        if predicate is not None:
            out = out.filter(predicate.to_column())
        return out

    def diff(self, from_snapshot_id: int, to_snapshot_id: int | None = None) -> DataFrame:
        """Row-level changelog between two snapshots (the CDC view over
        time travel): rows present only in the newer snapshot are
        ``insert``, rows present only in the older are ``delete``; an
        UPDATE therefore appears as its delete+insert pair.  Multiset
        semantics (exceptAll) so duplicate rows diff correctly.

        File-level fast path: files common to both snapshots cancel out
        and are never read — the diff scans only the symmetric
        difference of the file sets, so diffing adjacent snapshots of a
        100 TB table reads ~one commit's worth of data."""
        old_snap = self.as_of(snapshot_id=from_snapshot_id)
        new_snap = (
            self.as_of(snapshot_id=to_snapshot_id)
            if to_snapshot_id is not None
            else self.meta.current_snapshot
        )
        old_files = {f.path: f for f in self.live_files(old_snap)}
        new_files = {f.path: f for f in self.live_files(new_snap)}
        only_old = [f for p, f in old_files.items() if p not in new_files]
        only_new = [f for p, f in new_files.items() if p not in old_files]
        # NOTE: equality-delete files are snapshot-scoped; apply each
        # side's deletes by scanning through toDF when MOR is in play
        if any(
            self.live_files(s, content="deletes") for s in (old_snap, new_snap)
        ):
            old_df = self.toDF(snapshot=old_snap)
            new_df = self.toDF(snapshot=new_snap)
        else:
            old_df = self._read_files(only_old)
            new_df = self._read_files(only_new)
        inserted = new_df.exceptAll(old_df).withColumn("_change_type", F.lit("insert"))
        deleted = old_df.exceptAll(new_df).withColumn("_change_type", F.lit("delete"))
        return inserted.unionByName(deleted)

    # -- time travel (S8) ---------------------------------------------------

    def as_of(
        self,
        snapshot_id: int | None = None,
        timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> Snapshot:
        """SELECT ... AT(SNAPSHOT => id | TIMESTAMP => ts) — or a named
        tag/branch ref (docs/05-snapshots-time-travel.md:57-72,141-158)."""
        if ref is not None:
            snapshot_id = self.meta.ref(ref)["snapshot-id"]
        if snapshot_id is not None:
            snap = self.meta.snapshot_by_id(snapshot_id)
            if snap is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            return snap
        if timestamp_ms is not None:
            snap = self.meta.snapshot_as_of(timestamp_ms)
            if snap is None:
                raise ValueError(f"no snapshot at or before {timestamp_ms}")
            return snap
        raise ValueError("pass snapshot_id, timestamp_ms, or ref")

    # -- refs: tags, branches, rollback (docs/05:141-172) ------------------

    def _set_ref(self, name: str, snapshot_id: int | None, ref_type: str) -> None:
        sid = snapshot_id if snapshot_id is not None else self.meta.current_snapshot_id
        if sid is None or self.meta.snapshot_by_id(sid) is None:
            raise ValueError(f"cannot ref nonexistent snapshot {sid}")
        refs = {**self.meta.refs, name: {"snapshot-id": sid, "type": ref_type}}
        self._write_version(self._version + 1, self.meta.copy_with(refs=refs))

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Tag = immutable named snapshot (docs/05:143-148: mark
        releases/audits/backups).  Metadata-only commit; the tagged
        snapshot is pinned against expiry."""
        if name in self.meta.refs:
            raise ValueError(f"ref {name!r} exists")
        self._set_ref(name, snapshot_id, "tag")

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Branch = named movable lineage (docs/05:150-158).  Writes via
        ``append(df, branch=name)`` advance only the branch ref; main is
        untouched until ``fast_forward``."""
        if name in self.meta.refs:
            raise ValueError(f"ref {name!r} exists")
        self._set_ref(name, snapshot_id, "branch")

    def drop_ref(self, name: str) -> None:
        refs = dict(self.meta.refs)
        refs.pop(name, None)
        self._write_version(self._version + 1, self.meta.copy_with(refs=refs))

    def refs(self) -> DataFrame:
        """Metadata relation of named refs (name, type, snapshot_id)."""
        rows = [(n, r["type"], r["snapshot-id"]) for n, r in sorted(self.meta.refs.items())]
        return local_df(self.spark, 
            rows if rows else [], "name string, type string, snapshot_id long"
        )

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Rollback (docs/05:160-168): a NEW snapshot pointing at the
        old state's manifest list — history is preserved, time travel to
        the bad snapshots still works, and the rollback itself is one
        atomic CAS commit.  Manifest lists are immutable, so the new
        snapshot shares the target's file set byte-for-byte."""
        target = self.meta.snapshot_by_id(snapshot_id)
        if target is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        for _ in range(5):
            meta = self.meta
            prev = meta.current_snapshot
            snap = Snapshot(
                snapshot_id=_snapshot_id(),
                parent_snapshot_id=prev.snapshot_id if prev else None,
                timestamp_ms=int(time.time() * 1000),
                operation="rollback",
                manifest_list=target.manifest_list,
                schema_id=target.schema_id,
                sequence_number=meta.last_sequence_number + 1,
                summary={"rolled-back-to": str(snapshot_id)},
            )
            new_meta = meta.copy_with(
                snapshots=meta.snapshots + [snap],
                current_snapshot_id=snap.snapshot_id,
                last_sequence_number=snap.sequence_number,
            )
            try:
                self._write_version(self._version + 1, new_meta)
                return snap
            except CommitConflict:
                self.refresh()
        raise CommitConflict("rollback failed after retries")

    def fast_forward(self, branch: str) -> None:
        """Fast-forward main to a branch head (docs/05:170-172) —
        allowed only when main's current snapshot is an ancestor of the
        branch head (the 'apply changes without full merge' fast path;
        anything else needs a real merge)."""
        r = self.meta.ref(branch)
        if r["type"] != "branch":
            raise ValueError(f"ref {branch!r} is not a branch")
        head_id = r["snapshot-id"]
        cur = self.meta.current_snapshot_id
        if cur is not None:  # empty main fast-forwards to anything
            walk = head_id
            seen = set()
            while walk is not None and walk not in seen:
                if walk == cur:
                    break
                seen.add(walk)
                s = self.meta.snapshot_by_id(walk)
                walk = s.parent_snapshot_id if s else None
            else:
                raise ValueError(
                    f"main is not an ancestor of branch {branch!r}; cannot fast-forward"
                )
        self._write_version(
            self._version + 1, self.meta.copy_with(current_snapshot_id=head_id)
        )

    def cherry_pick(self, snapshot_id: int) -> Snapshot:
        """Cherry-pick ONE commit's file delta onto main as a new
        snapshot (docs/05-snapshots-time-travel.md:169-171) — the
        pick-one-commit-off-a-branch counterpart to ``fast_forward``,
        and the classic write-audit-publish publish step when the
        audit branch carried several candidate commits.

        Append-only fast path: the picked snapshot must be a pure
        append (delete/overwrite/MOR deltas change rows the target may
        have diverged on — that needs a real merge).  Conflict-checked
        like fast_forward: a picked file already live on main refuses
        rather than double-counting its rows."""
        src = self.meta.snapshot_by_id(snapshot_id)
        if src is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        if src.operation != "append":
            raise ValueError(
                f"cherry-pick supports append snapshots only; {snapshot_id} "
                f"is {src.operation!r} — fast_forward or merge instead"
            )
        added = [
            f
            for f in self.live_files(src, content="all")
            if f.sequence_number == src.sequence_number
        ]
        if any(f.content != "data" for f in added):
            raise ValueError(
                f"snapshot {snapshot_id} carries delete-content files; "
                "cherry-pick is append-only"
            )
        live = {f.path for f in self.live_files()}
        dup = live & {f.path for f in added}
        if dup:
            raise ValueError(
                f"files already live on main (diverged history?): {sorted(dup)}"
            )
        entries = [
            DataFile(
                f.path, "added", f.partition, f.spec_id, f.schema_id,
                f.record_count, f.file_size_bytes, f.stats,
            )
            for f in added
        ]
        return self._commit_snapshot(
            "append", entries, extra_summary={"cherry-picked-from": str(snapshot_id)}
        )

    # -- metadata tables (S9/S10) ------------------------------------------

    def snapshots(self) -> DataFrame:
        """ICEBERG_TABLE_SNAPSHOTS (docs/03-metadata-management.md:161-181)."""
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.timestamp_ms,
                s.operation,
                s.manifest_list,
                s.sequence_number,
                json.dumps(s.summary),
            )
            for s in self.meta.snapshots
        ]
        return local_df(self.spark, 
            rows,
            "snapshot_id long, parent_id long, committed_at_ms long, operation string,"
            " manifest_list string, sequence_number long, summary string",
        )

    def files(self, snapshot: Snapshot | None = None) -> DataFrame:
        """my_table$FILES (docs/10-maintenance-operations.md:127-140).
        ``first_row_id`` is the file's resolved v3 row-lineage start
        (live_files runs manifest inheritance at decode) — null on
        v2 / native trees that assign no row ids."""
        rows = [
            (
                f.path,
                json.dumps(f.partition),
                f.record_count,
                f.file_size_bytes,
                f.schema_id,
                f.spec_id,
                f.sequence_number,
                f.first_row_id,
            )
            for f in self.live_files(snapshot)
        ]
        return local_df(self.spark, 
            rows,
            "file_path string, partition string, record_count long, file_size_bytes long,"
            " schema_id int, spec_id int, sequence_number long, first_row_id long",
        )

    def manifests(self) -> DataFrame:
        snap = self.meta.current_snapshot
        rows = []
        if snap:
            for m in self._read_mlist(snap.manifest_list):
                rows.append(
                    (
                        m["manifest-path"],
                        m.get("added-files", 0),
                        m.get("existing-files", 0),
                        m.get("deleted-files", 0),
                        m.get("live-files"),
                        m.get("live-bytes"),
                        m.get("distinct-partitions"),
                        m.get("delete-content-files"),
                        m.get("manifest-length"),
                        m.get("added-snapshot-id"),
                        json.dumps(m.get("partition-summaries", {})),
                    )
                )
        return local_df(self.spark, 
            rows,
            "manifest_path string, added_files int, existing_files int,"
            " deleted_files int, live_files int, live_bytes long,"
            " distinct_partitions int, delete_content_files int,"
            " manifest_length long, added_snapshot_id long,"
            " partition_summaries string",
        )

    def partitions(self, snapshot: Snapshot | None = None) -> DataFrame:
        """The ``$PARTITIONS`` metadata relation (docs/07:164-173):
        per-partition file/row/byte totals, computed from manifest
        entries alone — no data files are opened."""
        agg: dict[str, list] = {}
        for f in self.live_files(snapshot):
            key = json.dumps(f.partition, sort_keys=True)
            a = agg.setdefault(key, [0, 0, 0])
            a[0] += 1
            a[1] += f.record_count
            a[2] += f.file_size_bytes
        rows = [(k, *v) for k, v in sorted(agg.items())]
        return local_df(self.spark, 
            rows,
            "partition string, file_count long, record_count long, total_bytes long",
        )

    _PSTAT_DDL = (
        "partition string, spec_id int, data_record_count long,"
        " data_file_count int, total_data_file_size_in_bytes long,"
        " position_delete_record_count long, position_delete_file_count int,"
        " equality_delete_record_count long, equality_delete_file_count int,"
        " total_record_count long"
    )

    @staticmethod
    def _pstat_partition_key(partition: dict) -> str:
        """Canonical JSON render of a partition tuple for the
        $PARTITION_STATS relation: values stringified, nulls skipped —
        the SAME render whether the row comes from a persisted
        partition-statistics file (struct of strings, absent spec
        fields null) or is computed from manifest entries (raw typed
        values), so the two paths are row-identical."""
        return json.dumps(
            {k: str(v) for k, v in partition.items() if v is not None},
            sort_keys=True,
        )

    def partition_stats(self, snapshot: Snapshot | None = None) -> DataFrame:
        """The ``$PARTITION_STATS`` relation (Iceberg spec "Partition
        Statistics"): per-(partition, spec) data/delete file and record
        totals.  Served from the snapshot's REGISTERED partition-stats
        parquet when one exists (stats.write_partition_stats — one
        small read, no manifest walk: the 100 TB dashboard path); falls
        back to computing from manifest entries with identical output."""
        snap = snapshot or self.meta.current_snapshot
        if snap is None:
            return local_df(self.spark, [], self._PSTAT_DDL)
        entry = next(
            (
                e
                for e in self.meta.partition_statistics
                if e.get("snapshot-id") == snap.snapshot_id
            ),
            None,
        )
        if entry is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                pa.BufferReader(self.store.read_bytes(entry["statistics-path"]))
            )
            rows = []
            for r in tbl.to_pylist():
                rows.append(
                    (
                        self._pstat_partition_key(r["partition"]),
                        r["spec_id"],
                        r["data_record_count"],
                        r["data_file_count"],
                        r["total_data_file_size_in_bytes"],
                        r["position_delete_record_count"],
                        r["position_delete_file_count"],
                        r["equality_delete_record_count"],
                        r["equality_delete_file_count"],
                        r["total_record_count"],
                    )
                )
            return local_df(self.spark, rows, self._PSTAT_DDL)
        agg: dict = {}
        for f in self.live_files(snap, content="all"):
            key = (self._pstat_partition_key(f.partition), f.spec_id)
            a = agg.setdefault(key, [0] * 8)
            if f.content == "data":
                a[0] += f.record_count
                a[1] += 1
                a[2] += f.file_size_bytes
            elif f.content in ("position-deletes", "deletion-vectors"):
                a[3] += f.record_count
                a[4] += 1
            elif f.content == "equality-deletes":
                a[5] += f.record_count
                a[6] += 1
        # mirrors stats._fill_total_record_counts (see its rule)
        del_keys = {k for k, a in agg.items() if a[3] or a[5]}
        for k, a in agg.items():
            if not del_keys:
                a[7] = a[0]
            elif del_keys <= {k} and not a[5]:
                a[7] = max(0, a[0] - a[3])
            else:
                a[7] = None
        rows = [
            (k[0], k[1], a[0], a[1], a[2], a[3], a[4], a[5], a[6], a[7])
            for k, a in sorted(agg.items())
        ]
        return local_df(self.spark, rows, self._PSTAT_DDL)

    def count(self, predicate: Expr | None = None) -> int:
        """SELECT COUNT(*) answered from manifest metadata when
        provably exact: no delete files in play, and every candidate
        file either fully matches the predicate (stats-proven) or
        can't match at all.  Only the unprovable remainder is scanned —
        at 100 TB an unfiltered COUNT(*) or a partition-aligned count
        touches zero data bytes."""
        snap = self.meta.current_snapshot
        if snap is None:
            return 0
        if self.live_files(snap, content="deletes"):
            return self.toDF(predicate).count()
        if predicate is None:
            return sum(f.record_count for f in self.live_files(snap))
        may, _ = self.plan_files(predicate, snap)
        proven = [
            f
            for f in may
            if predicate.all_match_file(f.stats, f.record_count)
        ]
        proven_paths = {f.path for f in proven}
        rest = [f for f in may if f.path not in proven_paths]
        total = sum(f.record_count for f in proven)
        if rest:
            total += self._read_files(rest).filter(predicate.to_column()).count()
        return total

    def _sort_columns(self) -> list:
        """Default sort order resolved to Spark sort Columns (by stable
        column ID, so renames don't break the order)."""
        cols = []
        for sf_ in self.meta.sort_order.fields:
            f = self.meta.schema.field_by_id(sf_.source_id)
            if f is None:  # column dropped after the order was set
                continue
            c = F.col(f.name).desc() if sf_.direction == "desc" else F.col(f.name).asc()
            cols.append(c)
        return cols

    def replace_sort_order(self, *cols: str) -> None:
        """ALTER TABLE ... WRITE ORDERED BY (metadata sort order,
        docs/03-metadata-management.md:53-75).  Each col is a name with
        an optional direction suffix (``"o_orderdate"``,
        ``"o_totalprice DESC"``); no cols → back to unsorted.  The
        default order is applied by every subsequent append (task-local
        sort; add table property ``write.distribution-mode=range`` for
        globally disjoint file bounds) and re-applied by compaction.
        Metadata-only commit, same CAS+retry as set_properties."""
        from .metadata import SortField, SortOrder

        fields = []
        for spec in cols:
            parts = spec.split()
            name = parts[0]
            direction = parts[1].lower() if len(parts) > 1 else "asc"
            if direction not in ("asc", "desc"):
                raise ValueError(f"bad direction in sort spec {spec!r}")
            f = self.meta.schema.field_by_name(name)
            if f is None:
                raise ValueError(f"unknown sort column {name!r}")
            fields.append(SortField(f.id, direction))
        for _ in range(5):
            orders = list(self.meta.sort_orders)
            if not fields:
                new_id = 0
            else:
                existing = next(
                    (
                        o.order_id
                        for o in orders
                        if [(f.source_id, f.direction) for f in o.fields]
                        == [(f.source_id, f.direction) for f in fields]
                    ),
                    None,
                )
                if existing is not None:
                    new_id = existing
                else:
                    new_id = max(o.order_id for o in orders) + 1
                    orders = orders + [SortOrder(new_id, fields)]
            try:
                self._write_version(
                    self._version + 1,
                    self.meta.copy_with(sort_orders=orders, default_sort_order_id=new_id),
                )
                return
            except CommitConflict:
                self.refresh()
        raise CommitConflict("replace_sort_order failed after retries")

    def set_properties(self, **props: str) -> None:
        """ALTER TABLE ... SET TBLPROPERTIES: metadata-only commit; a
        value of None unsets the key.  Same CAS+retry as schema
        evolution — a property edit racing a concurrent append rebases
        onto the new snapshot list."""
        from .specio import PROPERTY as _SPEC_PROP
        from .specio import check_spec_expressible, is_spec_primary

        for _ in range(5):
            merged = dict(self.meta.properties)
            for k, v in props.items():
                if v is None:
                    merged.pop(k, None)
                else:
                    merged[k] = str(v)
            extra_specs = []
            if is_spec_primary(merged) and not self.spec_primary:
                # enabling mid-life would leave prior native manifests
                # (and URI-form delete files) in a tree external engines
                # can't read — only an EMPTY table may convert
                if self.meta.current_snapshot is not None:
                    raise ValueError(
                        f"{_SPEC_PROP} can only be enabled at CREATE or on "
                        "an empty table; use maintenance."
                        "convert_to_spec_primary (SQL: ALTER ICEBERG TABLE "
                        "... CONVERT TO SPEC PRIMARY) for a metadata-only "
                        "migration of a populated table"
                    )
                check_spec_expressible(self.meta)
                if not any(not sp.fields for sp in self.meta.partition_specs):
                    extra_specs = [
                        PartitionSpec(
                            max(sp.spec_id for sp in self.meta.partition_specs) + 1,
                            [],
                        )
                    ]
            try:
                self._write_version(
                    self._version + 1,
                    self.meta.copy_with(
                        properties=merged,
                        partition_specs=self.meta.partition_specs + extra_specs,
                    ),
                )
                return
            except CommitConflict:
                self.refresh()
        raise CommitConflict("set_properties failed after retries")

    def history(self) -> DataFrame:
        # is_current_ancestor mirrors Iceberg's history table: false for
        # rolled-back lineage and for branch/WAP/txn staging — the same
        # main-ancestry set timestamp travel resolves against
        anc = self.meta.main_ancestry_ids()
        rows = [
            (s.timestamp_ms, s.snapshot_id, s.parent_snapshot_id,
             s.snapshot_id == self.meta.current_snapshot_id,
             s.snapshot_id in anc)
            for s in sorted(self.meta.snapshots, key=lambda s: s.timestamp_ms)
        ]
        return local_df(self.spark, 
            rows,
            "committed_at_ms long, snapshot_id long, parent_id long,"
            " is_current boolean, is_current_ancestor boolean",
        )

    def query_history(self) -> DataFrame:
        """QUERY_HISTORY-style monitoring relation
        (docs/09-query-performance.md:183-194): one row per toDF scan
        of this table handle with partitions/files/bytes scanned vs
        total — the pruning-effectiveness signal the docs' health
        checklist watches (partitions_scanned ≪ partitions_total).
        Session-scoped, like INFORMATION_SCHEMA.QUERY_HISTORY."""
        rows = [
            (
                r["seq"], r["predicate"], r["snapshot_id"],
                r["partitions_scanned"], r["partitions_total"],
                r["files_scanned"], r["files_total"],
                r["bytes_scanned"], r["bytes_total"],
            )
            for r in self._scan_log
        ]
        return local_df(self.spark, 
            rows,
            "seq int, predicate string, snapshot_id long,"
            " partitions_scanned int, partitions_total int,"
            " files_scanned int, files_total int,"
            " bytes_scanned long, bytes_total long",
        )

    def describe(self) -> dict:
        """DESCRIBE / SYSTEM$GET_ICEBERG_TABLE_INFORMATION
        (docs/03-metadata-management.md:163-171)."""
        m = self.meta
        return {
            "location": self.location,
            "table-uuid": m.table_uuid,
            "format-version": m.format_version,
            "metadata-version": self._version,
            "current-snapshot-id": m.current_snapshot_id,
            "schema": [f.to_json() for f in m.schema.fields],
            "partition-spec": [f.to_json() for f in m.spec.fields],
            "sort-order": [f.to_json() for f in m.sort_order.fields],
            "properties": m.properties,
            "snapshot-count": len(m.snapshots),
        }

    # -- DML / maintenance delegates ---------------------------------------

    def rewrite_position_deletes(self):
        from . import maintenance

        return maintenance.rewrite_position_deletes(self)

    def delete(self, predicate, mode: str | None = None):
        from . import dml

        return dml.delete(self, predicate, mode)

    def update(self, predicate, assignments: dict, mode: str | None = None):
        from . import dml

        return dml.update(self, predicate, assignments, mode)

    def merge(self, source: DataFrame, on: list[str], **kwargs):
        from . import dml

        return dml.merge(self, source, on, **kwargs)

    def compact(
        self,
        target_file_size: int = 128 * 1024 * 1024,
        cluster_by=None,
        cluster_strategy=None,
        where=None,
    ):
        from . import maintenance

        return maintenance.compact(
            self, target_file_size, cluster_by, cluster_strategy, where
        )

    def rewrite_manifests(self):
        from . import maintenance

        return maintenance.rewrite_manifests(self)

    def expire_snapshots(self, older_than_ms=None, retain_last: int = 1, dry_run=False):
        from . import maintenance

        return maintenance.expire_snapshots(self, older_than_ms, retain_last, dry_run)

    def remove_orphan_files(self, older_than_ms=None, dry_run=False):
        from . import maintenance

        return maintenance.remove_orphan_files(self, older_than_ms, dry_run)

    def duplication_ratio(
        self,
        column: str,
        threshold: float | None = None,
        refresh: bool = False,
    ) -> float:
        """Snapshot-keyed rows/NDV statistic for ``column`` (persisted
        as a ``stats.ndv.<column>`` table property; appends-only
        commits re-answer a thresholded request from metadata bounds
        without a scan — see icepack/stats.py)."""
        from . import stats

        return stats.duplication_ratio(self, column, threshold, refresh)

    def health(self) -> dict:
        from . import maintenance

        return maintenance.table_health(self)

    def verify(self, check_data: bool = False) -> list[str]:
        """Metadata-tree integrity check (fsck); [] = healthy."""
        from . import maintenance

        return maintenance.verify_table(self, check_data)

    # -- schema evolution (M8, docs/06-schema-evolution.md) -----------------

    def _evolve(self, new_fields: list[NestedField], last_column_id: int) -> None:
        meta = self.meta
        new_schema = IceSchema(meta.current_schema_id + 1, new_fields)
        new_meta = meta.copy_with(
            last_column_id=last_column_id,
            schemas=meta.schemas + [new_schema],
            current_schema_id=new_schema.schema_id,
        )
        for _ in range(5):
            try:
                self._write_version(self._version + 1, new_meta)
                return
            except CommitConflict:
                self.refresh()
                new_meta.snapshots = self.meta.snapshots
                new_meta.current_snapshot_id = self.meta.current_snapshot_id
        raise CommitConflict("schema evolution failed after retries")

    def add_column(self, name: str, dtype: T.DataType | str, after: str | None = None) -> None:
        """ADD COLUMN [AFTER pos] — metadata only, fresh column ID; old
        files read NULL (docs/06:20-27)."""
        if self.meta.schema.field_by_name(name):
            raise ValueError(f"column {name} exists")
        ts = dtype if isinstance(dtype, str) else type_to_str(dtype)
        nid = self.meta.last_column_id + 1
        fields = list(self.meta.schema.fields)
        nf = NestedField(nid, name, ts, required=False)
        if after is None:
            fields.append(nf)
        else:
            idx = next(i for i, f in enumerate(fields) if f.name == after)
            fields.insert(idx + 1, nf)
        self._evolve(fields, nid)

    def drop_column(self, name: str) -> None:
        """DROP COLUMN — ID retired, never reused (docs/06:33-37)."""
        fields = [f for f in self.meta.schema.fields if f.name != name]
        if len(fields) == len(self.meta.schema.fields):
            raise ValueError(f"no column {name}")
        self._evolve(fields, self.meta.last_column_id)

    def rename_column(self, name: str, new_name: str) -> None:
        """RENAME — same ID, data files untouched (docs/06:29-31)."""
        fields = [
            NestedField(f.id, new_name if f.name == name else f.name, f.type, f.required)
            for f in self.meta.schema.fields
        ]
        self._evolve(fields, self.meta.last_column_id)

    def widen_column(self, name: str, new_type: T.DataType | str) -> None:
        """Type widening int→long, float→double etc. (docs/06:39-44,138-152)."""
        ts = new_type if isinstance(new_type, str) else type_to_str(new_type)
        # normalize spellings ("long" vs "bigint") through the parser
        from .metadata import type_from_str

        fields = []
        for f in self.meta.schema.fields:
            if f.name == name:
                same = type_from_str(f.type) == type_from_str(ts)
                widen_ok = (f.type, ts) in PROMOTIONS or (
                    type_from_str(f.type).simpleString(),
                    type_from_str(ts).simpleString(),
                ) in PROMOTIONS
                if not same and not widen_ok:
                    raise ValueError(f"illegal promotion {f.type} → {ts} (docs/06:146-152)")
                fields.append(NestedField(f.id, f.name, ts, f.required))
            else:
                fields.append(f)
        self._evolve(fields, self.meta.last_column_id)

    def update_spec(self, partition_by: list[tuple[str, str]]) -> None:
        """Partition evolution (docs/07-partitioning.md:117-129): new
        spec applies to new writes; existing files keep their spec."""
        schema = self.meta.schema
        pfields = []
        base = max((pf.field_id for s in self.meta.partition_specs for pf in s.fields), default=999)
        for i, (src, transform) in enumerate(partition_by):
            f = schema.field_by_name(src)
            if f is None:
                raise ValueError(f"partition source {src!r} not in schema")
            tr.parse(transform)
            suffix = transform.split("[")[0]
            name = src if transform == "identity" else f"{src}_{suffix}"
            pfields.append(PartitionField(f.id, base + 1 + i, transform, name))
        new_spec = PartitionSpec(max(s.spec_id for s in self.meta.partition_specs) + 1, pfields)
        meta = self.meta
        new_meta = meta.copy_with(
            partition_specs=meta.partition_specs + [new_spec],
            default_spec_id=new_spec.spec_id,
        )
        if any(pf.transform.startswith("truncate[") for pf in pfields):
            # same semantics stamp as CREATE (ADVICE r6): records that
            # this spec's integral truncate is arithmetic, not prefix
            new_meta = new_meta.copy_with(
                properties={
                    **new_meta.properties,
                    "icepack.truncate-semantics": "spec-arithmetic",
                }
            )
        if self.spec_primary:
            from .specio import check_spec_expressible

            # only the NEW spec and specs live entries still reference
            # need to be spec-expressible — a retired native bucket[N]
            # spec left behind by migrate_bucket_transform (referenced
            # only by pre-conversion snapshots) must not permanently
            # block partition evolution on the converted table
            live_ids = {e.spec_id for e in self.live_files(content="all")}
            live_ids.add(new_spec.spec_id)
            check_spec_expressible(new_meta, spec_ids=live_ids)
        self._write_version(self._version + 1, new_meta)


def _relevant_deletes(files: list, deletes: list) -> list:
    """Drop FILE-ANCHORED delete entries (v3 DVs, file-scoped position
    deletes: ``referenced_data_file`` set) that reference none of the
    files this read touches — they cannot mask any row of it, and on a
    v3 table DVs are one-per-deleted-from-file, so a pruned scan that
    still decodes every DV blob pays O(table deletes) for O(selected)
    data.  Un-anchored deletes (equality, multi-file position parquet,
    old layouts) always pass through.  Mirrors the distributed
    planner's Spark-side semi-join (scanplan.plan_entries_distributed);
    referenced paths and entry paths come from the same manifest tree,
    so their spellings agree."""
    anchored = [d for d in deletes if d.referenced_data_file is not None]
    if not anchored:
        return deletes
    paths = {f.path for f in files}
    return [
        d
        for d in deletes
        if d.referenced_data_file is None or d.referenced_data_file in paths
    ]


def _decode_part(v: str):
    """Directory partition values arrive as strings; keep ints as ints
    and finite floats as floats.  MUST stay value-for-value identical
    to transforms._decode_like (the DSv2 task writer's decode) or the
    same logical partition splits into two tuples depending on which
    writer produced it — e.g. Spark spells 1e-7 as "1.0E-7" in a
    directory key while Python str() spells "1e-07"; both now decode
    to the float."""
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    from .transforms import _decode_like

    return _decode_like(v)
