"""Distributed scan planning: evaluate file pruning IN SPARK over the
manifests themselves.

The default planner (``table.plan_files``) walks manifests driver-side
— O(files) Python per query, fine to ~10⁵ files but a real bottleneck
for a 100 TB table with millions of files (SCALE.md lists it as the
known trade-off; docs/09-query-performance.md:17-44 describes the same
two-phase pruning).  Manifests here are JSONL, i.e. *data*: this module
reads every manifest of a snapshot as a DataFrame (one row per file
entry) and translates the pruning predicate into a Spark Column with
exactly the Python evaluator's three-valued semantics, so the per-file
stats evaluation runs on executors and the driver only ever collects
the SURVIVING entries — O(selected), not O(table).

Semantics contract (pinned by tests/test_scanplan.py):

- The distributed selection is a SUPERSET of the driver-side one —
  translation differences may only ever lose pruning, never rows.
  Phase-1 partition-tuple pruning runs here too (r9): the predicate is
  projected per spec exactly like the driver planner
  (``expr.project_to_partition`` — bucket literals hashed ONCE
  driver-side, the per-entry comparison distributes), then evaluated
  against each entry's ``partition`` map in Spark.  This matters most
  for bucket(N) specs, where min/max stats prune nothing (files in one
  bucket span the full source range — docs/07-partitioning.md:51,
  docs/09-query-performance.md:19-31) and the tuple check is the
  PRIMARY pruning dimension.  One deliberate asymmetry: tuple values
  travel as strings here and compare under the literal's cast, so a
  LEGACY string-spelled numeric tuple ("1.5" written before the float
  decode alignment) can be pruned by a float predicate the driver's
  type-strict walk refuses to judge — pruning an identity tuple by its
  exact value is always row-correct, so this only ever drops files
  whose rows provably cannot match.
- Stat values live in JSON as their writer types; they are read as
  strings and cast according to the LITERAL's Python type — the same
  normalization `expr._cmp_norm` applies (ISO strings compare as
  timestamps, numbers as doubles).  A failed cast yields NULL, which
  coalesces to "keep".
- Like the driver planner, correctness never depends on pruning: the
  read path re-applies the full filter.

Use ``read_distributed(table, predicate)`` for an end-to-end scan, or
``plan_entries_distributed`` for the pruned entry lists.  The default
``toDF`` keeps the driver planner (cheaper below ~10⁵ files — one Spark
job per plan is not free); at warehouse scale, flip per table via the
property ``read.plan-mode = 'distributed'``.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .expr import (
    AlwaysTrue,
    And,
    Cmp,
    Expr,
    In,
    IsNull,
    NotNull,
    Or,
    manifest_may_match,
    project_to_partition,
)
from .io import read_files
from .manifest import DataFile, read_manifest_list
from .storage import LocalStore

#: manifest-entry schema for spark.read.json — stat bounds as strings
#: (absorbing any writer type), null counts as longs
ENTRY_SCHEMA = (
    "path string, status string, `spec-id` int, `schema-id` int,"
    " `record-count` long, `file-size-bytes` long,"
    " `sequence-number` long, content string,"
    " `equality-columns` array<string>,"
    " partition map<string,string>,"
    " stats map<string, struct<min string, max string, nulls long>>,"
    # v3 deletion-vector identity: dropping these here would strip
    # referenced_data_file from DV entries, and the read path would
    # then silently skip the DV (resurrecting its rows) whenever
    # read.plan-mode=distributed
    " `referenced-data-file` string, `content-offset` long,"
    " `content-size-in-bytes` long,"
    # v3 row lineage: resolved per-file first_row_id rides the entry
    # frame so distributed-planned files feed lineage-preserving
    # rewrites with the same ids the driver lane resolves
    " `first-row-id` long"
)


def _typed(raw: Column, v):
    """(cast stat column, literal column) under the literal's type —
    mirrors expr._cmp_norm's normalization.  None → untranslatable
    literal type: caller keeps the file.

    Every cast is ``try_cast``: the documented semantics are "a failed
    cast yields NULL, which coalesces to keep" — under Spark 4's
    default ANSI mode a plain ``cast`` THROWS instead (found by ice60:
    an int literal over a double column's "499978.59" stat string
    failed the whole scan the moment auto plan-mode made distributed
    planning the default on that table)."""
    if isinstance(v, bool):
        return raw.try_cast("boolean"), F.lit(v)
    if isinstance(v, int):
        if not (-(1 << 63) <= v < (1 << 63)):
            # beyond int64: a wide-decimal truncate partition value
            # (r11, unscaled int of a decimal(p>18) column).  F.lit
            # cannot hold it as a long; decimal(38,0) carries up to 38
            # digits exactly.  Wider still → untranslatable: keep.
            if abs(v) >= 10**38:
                return None
            import decimal as _decmod

            return raw.try_cast("decimal(38,0)"), F.lit(_decmod.Decimal(v))
        # exact 64-bit compare: casting to double loses precision past
        # 2^53, and hash-derived id columns exceed that routinely — a
        # rounded bound could prune a file the exact planner keeps.
        # Float-valued stats (e.g. "1.5" for a double column queried
        # with an int literal) try_cast to NULL → coalesce keeps the
        # file.
        return raw.try_cast("long"), F.lit(v)
    if isinstance(v, float):
        return raw.try_cast("double"), F.lit(v)
    if isinstance(v, _dt.datetime):
        return raw.try_cast("timestamp_ntz"), F.lit(v)
    if isinstance(v, _dt.date):
        return raw.try_cast("timestamp_ntz"), F.lit(
            _dt.datetime(v.year, v.month, v.day)
        )
    if isinstance(v, str):
        try:
            ts = _dt.datetime.fromisoformat(v)
        except ValueError:
            return raw, F.lit(v)
        return raw.try_cast("timestamp_ntz"), F.lit(ts)
    return None


#: max In-list literals expanded into a per-value OR chain.  Each
#: equality expands to ~15 Column nodes; a MERGE's prune predicate can
#: carry up to MERGE_PRUNE_MAX_KEYS (100k) literals per key, which as
#: an OR chain would be a multi-million-node Catalyst expression (driver
#: OOM / analysis stall).  Above the cap the In collapses to a min/max
#: RANGE check — a superset of the per-value test (every v lies inside
#: [min, max]), so pruning only ever loses precision, never rows.
IN_EXPAND_MAX = 64


def _in_range_bounds(values):
    """(lo, hi) for the range collapse of a large In, or None when the
    values are unordered (mixed types) or contain None — caller keeps
    the file (no pruning), mirroring the driver evaluator's keep-on-
    unknown posture."""
    vals = list(values)
    if not vals or any(v is None for v in vals):
        return None
    try:
        return min(vals), max(vals)
    except TypeError:
        return None


def may_match_column(e: Expr, stats: Column, rc: Column) -> Column:
    """Translate ``Expr.may_match_file`` into a Spark Column over one
    manifest-entry row (``stats`` map + ``record-count``)."""
    if isinstance(e, And):
        return may_match_column(e.left, stats, rc) & may_match_column(e.right, stats, rc)
    if isinstance(e, Or):
        return may_match_column(e.left, stats, rc) | may_match_column(e.right, stats, rc)
    if isinstance(e, In):
        if len(e.values) > IN_EXPAND_MAX:
            b = _in_range_bounds(e.values)
            if b is None:
                return F.lit(True)
            return may_match_column(
                Cmp(e.name, ">=", b[0]), stats, rc
            ) & may_match_column(Cmp(e.name, "<=", b[1]), stats, rc)
        out = F.lit(False)
        for v in e.values:
            out = out | may_match_column(Cmp(e.name, "=", v), stats, rc)
        return out
    if isinstance(e, (IsNull, NotNull)):
        s = F.element_at(stats, e.name)
        nulls = s["nulls"]
        unknown = s.isNull() | nulls.isNull()
        if isinstance(e, IsNull):
            return unknown | (nulls > 0)
        return unknown | (nulls < rc)
    if isinstance(e, Cmp):
        s = F.element_at(stats, e.name)
        typed = _typed(s["min"], e.value)
        if typed is None or e.op not in ("<", "<=", ">", ">=", "=", "!="):
            return F.lit(True)
        lo, v = typed
        hi = _typed(s["max"], e.value)[0]
        nulls = F.coalesce(s["nulls"], F.lit(None).cast("long"))
        missing = s.isNull() | s["min"].isNull() | s["max"].isNull()
        all_null = nulls.isNotNull() & (nulls == rc)
        if e.op == "<":
            core = lo < v
        elif e.op == "<=":
            core = lo <= v
        elif e.op == ">":
            core = v < hi
        elif e.op == ">=":
            core = v <= hi
        elif e.op == "=":
            core = (lo <= v) & (v <= hi)
        else:  # "!=": prunable only when every row provably equals v
            core = ~((lo.eqNullSafe(hi)) & (lo.eqNullSafe(v)) & (nulls.eqNullSafe(F.lit(0))))
        # cast failures → NULL core → keep (same as Python's None → True)
        return F.when(missing, F.lit(True)).when(all_null, F.lit(False)).otherwise(
            F.coalesce(core, F.lit(True))
        )
    return F.lit(True)  # AlwaysTrue / unknown node: keep


def partition_match_column(e: Expr, part: Column) -> Column:
    """Translate a PROJECTED predicate (``expr.project_to_partition``
    output: Cmp/In/And/Or over partition-field names, literals already
    transformed) into a Spark Column over one entry's ``partition``
    map — the distributed twin of ``expr.partition_tuple_matches``,
    which treats each tuple value as min == max with zero nulls.

    Same keep-on-unknown posture as the stats translation: a missing
    key, a null value, or a failed cast coalesces to keep.

    SPELLING-COLLISION GUARD (r9 ADVICE, high): the write path decodes
    directory values numerically (``transforms._decode_like``), so an
    identity tuple for a STRING column whose value happens to spell a
    number ("1.50") is STORED as the float 1.5 and re-serialized
    "1.5".  A raw string compare against the literal "1.50" would then
    evaluate false and prune a file whose rows DO match — the one way
    a tuple compare can lose rows.  Whenever the literal is a plain
    string but the stored tuple value itself casts to a number, the
    compare is therefore UNKNOWN (numeric re-spelling may have
    diverged) and the entry is kept — the driver planner's type-strict
    walk keeps these too, preserving the superset contract."""
    if isinstance(e, And):
        return partition_match_column(e.left, part) & partition_match_column(
            e.right, part
        )
    if isinstance(e, Or):
        return partition_match_column(e.left, part) | partition_match_column(
            e.right, part
        )
    if isinstance(e, In):
        if len(e.values) > IN_EXPAND_MAX:
            b = _in_range_bounds(e.values)
            if b is None:
                return F.lit(True)
            rng = partition_match_column(
                Cmp(e.name, ">=", b[0]), part
            ) & partition_match_column(Cmp(e.name, "<=", b[1]), part)
            member = _in_membership_column(e, part)
            return rng & member if member is not None else rng
        out = F.lit(False)
        for v in e.values:
            out = out | partition_match_column(Cmp(e.name, "=", v), part)
        return out
    if isinstance(e, Cmp):
        raw = F.element_at(part, e.name)
        typed = _typed(raw, e.value)
        if typed is None or e.op not in ("<", "<=", ">", ">=", "=", "!="):
            return F.lit(True)
        pv, v = typed
        if e.op == "<":
            core = pv < v
        elif e.op == "<=":
            core = pv <= v
        elif e.op == ">":
            core = pv > v
        elif e.op == ">=":
            core = pv >= v
        elif e.op == "=":
            core = pv == v
        else:  # "!=": tuple value is both min and max, nulls == 0
            core = pv != v
        if _is_raw_string(e.value):
            core = F.when(
                _respellable(raw), F.lit(None).cast("boolean")
            ).otherwise(core)
        return F.coalesce(core, F.lit(True))
    return F.lit(True)  # AlwaysTrue / unprojected node: keep


def _respellable(raw: Column) -> Column:
    """True when a stored tuple value belongs to a type family whose
    serialization can diverge from the source value's spelling — a
    number (the float decode re-spells "1.50" as "1.5") or a
    date/timestamp (the driver evaluator compares these as timestamps
    and refuses a non-ISO string literal, keeping the file).  A raw
    STRING literal compared against such a value is unknown."""
    return (
        raw.try_cast("double").isNotNull()
        | raw.try_cast("timestamp_ntz").isNotNull()
    )


def _is_raw_string(v) -> bool:
    """True when ``_typed`` compares ``v`` as a RAW string (a str that
    is not an ISO timestamp) — the only lane where the stored tuple's
    numeric re-spelling can disagree with the literal's spelling."""
    if not isinstance(v, str):
        return False
    try:
        _dt.datetime.fromisoformat(v)
        return False
    except ValueError:
        return True


def _in_membership_column(e: In, part: Column) -> Column | None:
    """EXACT membership test for a range-collapsed In over a partition
    tuple, or None when the value set isn't safely testable.  The
    collapse alone degrades a 100k-key MERGE prune on an identity /
    truncate-partitioned key to a [min,max] check — superset-safe but
    far weaker than the driver planner's sorted-bisect exact walk (r9
    ADVICE).  ``Column.isin`` over the full literal list is ONE
    Catalyst node (InSet past the conversion threshold — a hash-set
    probe, not the ~15-node-per-value OR chain IN_EXPAND_MAX exists to
    avoid), so it restores exact pruning at any list size.

    Type rules mirror ``_typed``: all-int lists probe as long (exact
    64-bit); int/float mixes as double (equal exacts → equal doubles,
    so a double probe can only ever KEEP extra files); raw-string
    lists probe as string with the numeric re-spelling guard.  NULL
    probes (missing key / failed cast) coalesce to keep."""
    vals = list(e.values)
    raw = F.element_at(part, e.name)
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        probe = raw.try_cast("long").isin(vals)
    elif all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
    ):
        probe = raw.try_cast("double").isin([float(v) for v in vals])
    elif all(_is_raw_string(v) for v in vals):
        probe = F.when(
            _respellable(raw), F.lit(None).cast("boolean")
        ).otherwise(raw.isin(vals))
    else:
        return None  # timestamps / mixed types: range check only
    return F.coalesce(probe, F.lit(True))


def _partition_prune_column(table, snap, predicate: Expr) -> Column | None:
    """Phase-1 tuple-prune condition over the entry DataFrame, or None
    when no spec projects anything useful.  Each entry is judged under
    the spec it was written with (partition evolution T4); unknown
    spec ids and empty tuples keep the entry."""
    schema = table.meta.schema_by_id(snap.schema_id)
    part = F.col("partition")
    cond = None
    for sp in table.meta.partition_specs:
        if not sp.fields:
            continue
        pexpr = project_to_partition(predicate, sp, schema, table.spark)
        if isinstance(pexpr, AlwaysTrue):
            continue
        guarded = F.when(
            part.isNull() | (F.size(part) == 0), F.lit(True)
        ).otherwise(F.coalesce(partition_match_column(pexpr, part), F.lit(True)))
        prev = F.lit(True) if cond is None else cond
        cond = F.when(
            F.col("`spec-id`").eqNullSafe(F.lit(sp.spec_id)), guarded
        ).otherwise(prev)
    return cond


def _entries_df(table, snap, predicate: Expr | None = None) -> DataFrame:
    descs = table._read_mlist(snap.manifest_list)
    if predicate is not None and not isinstance(predicate, AlwaysTrue):
        # phase 0, same as the driver planner: manifest-list partition
        # ranges skip whole manifests BEFORE Spark ever lists them —
        # fewer input files for the distributed evaluation too
        schema = table.meta.schema_by_id(snap.schema_id)
        proj: dict[int, Expr] = {}

        def _proj_for(sid: int):
            if sid not in proj:
                try:
                    spec = table.meta.spec_by_id(sid)
                except StopIteration:
                    return None
                proj[sid] = project_to_partition(predicate, spec, schema, table.spark)
            return proj[sid]

        descs = [m for m in descs if manifest_may_match(m, _proj_for)]
    return entries_df_for_manifests(
        table,
        [m["manifest-path"] for m in descs],
        first_row_ids={
            m["manifest-path"]: m["first-row-id"]
            for m in descs
            if m.get("first-row-id") is not None
        },
    )


def manifest_lines_df(table, names: list[str]) -> DataFrame | None:
    """The given manifests' RAW JSONL lines as DF[value string], read
    executor-side (spark.read.text on a local store; the pickled
    store's own client otherwise).  Raw lines preserve full value
    fidelity — the typed pruning schema (ENTRY_SCHEMA) stringifies
    stats and partition values, so maintenance ops that REWRITE or
    AGGREGATE entries must parse the original lines with the DataFile
    codec instead.  Spec-primary tables store Avro manifests
    (``*.avro``); those are decoded executor-side with the pure-Python
    spec reader and re-emitted as native entry-JSON lines — byte-wise a
    different file, but ``json.dumps(DataFile.to_json())`` is exactly
    the line format native JSONL manifests hold, so callers parse both
    identically.  Returns None when the store can't be reached from
    executors (caller keeps its driver walk)."""
    paths = [os.path.join(table._mdir, n) for n in names]
    if not paths:
        return None
    any_avro = any(n.endswith(".avro") for n in names)
    if isinstance(table.store, LocalStore) and not any_avro:
        return read_files(table.spark, paths, fmt="text")
    store_pkl = _pickled_store(table.store)
    if store_pkl is None:
        return None
    mdir = table._mdir
    meta_json = table.meta.to_json() if any_avro else None

    def _read_lines(batches):
        import pickle

        import pandas as pd

        st = pickle.loads(store_pkl)
        meta = None
        if meta_json is not None:
            from icepack.metadata import TableMetadata

            meta = TableMetadata.from_json(meta_json)
        for pdf in batches:
            out = []
            for name in pdf["name"]:
                if name.endswith(".avro"):
                    from icepack.specio import read_spec_manifest

                    out.extend(
                        json.dumps(e.to_json())
                        for e in read_spec_manifest(mdir, name, st, meta)
                    )
                else:
                    out.extend(
                        ln
                        for ln in st.read_text(
                            os.path.join(mdir, name)
                        ).splitlines()
                        if ln.strip()
                    )
            yield pd.DataFrame({"value": out})

    from .session import local_df

    return (
        local_df(table.spark, [(n,) for n in names], "name string")
        .repartition(min(len(names), 64))
        .mapInPandas(_read_lines, "value string")
    )


def entries_df_for_manifests(
    table, names: list[str], first_row_ids: dict[str, int] | None = None
) -> DataFrame:
    """Entries of the given manifests as a DataFrame — the decode
    machinery `_entries_df` uses for one snapshot's list, addressable
    by manifest NAME so maintenance ops (expire-snapshot reachability,
    DV consolidation) can evaluate cross-snapshot manifest sets in
    Spark instead of walking every entry in driver Python.

    ``first_row_ids`` (manifest name → field-520 assignment) runs v3
    row-id inheritance DURING the executor-side decode — a per-manifest
    running sum, local to the one task that decodes that manifest — so
    lineage survives the distributed lane without any extra stage."""
    first_row_ids = first_row_ids or {}
    store = table.store
    paths = [os.path.join(table._mdir, n) for n in names]
    if not paths:  # every manifest skipped by phase 0
        return table.spark.createDataFrame([], ENTRY_SCHEMA)
    store_pkl = _pickled_store(store)
    if any(n.endswith(".avro") for n in names):
        if store_pkl is not None:
            # spec-primary manifests are Avro: ship the manifest PATHS
            # and the (small, picklable) STORE to executors and decode
            # each manifest with the pure-Python avroenc reader inside
            # mapInPandas, so a 100 TB ``format.spec-primary=true``
            # table keeps O(selected) driver work — the driver never
            # touches an entry that doesn't survive pruning.  This runs
            # for EVERY picklable store (LocalStore, S3Store — the
            # stores a warehouse actually deploys on), not just local
            # paths (r9 verdict item 3: an S3-backed table must not
            # silently re-centralize the planner it just gained).
            # (spark-avro would let Spark read the manifests natively;
            # it is an external package absent in this offline
            # environment, and the pure-Python decode is one pass over
            # KB-scale metadata per manifest.)
            meta_json = table.meta.to_json()
            mdir = table._mdir

            frids = first_row_ids

            def _decode(batches):
                import pickle

                import pandas as pd

                # absolute imports: this closure runs in Python workers
                from icepack.metadata import TableMetadata
                from icepack.specio import read_spec_manifest
                from icepack.table import _inherit_first_row_ids

                meta = TableMetadata.from_json(meta_json)
                st = pickle.loads(store_pkl)
                for pdf in batches:
                    out = []
                    for name in pdf["name"]:
                        es = read_spec_manifest(mdir, name, st, meta)
                        _inherit_first_row_ids(
                            {"first-row-id": frids.get(name)}, es
                        )
                        out.extend(json.dumps(e.to_json()) for e in es)
                    yield pd.DataFrame({"line": out})

            from .session import local_df

            names_df = local_df(
                table.spark, [(n,) for n in names], "name string"
            ).repartition(min(len(names), 64))
            lines_df = names_df.mapInPandas(_decode, "line string")
            return lines_df.select(
                F.from_json("line", ENTRY_SCHEMA).alias("e")
            ).select("e.*")
        # non-picklable store (seam proofs, crash injectors): decode
        # driver-side into the native entry JSON and distribute that
        # (entries, not files — the pruning evaluation itself still
        # runs in Spark)
        from icepack.table import _inherit_first_row_ids

        lines = []
        for n in names:
            es = table._read_mentries(n)
            _inherit_first_row_ids({"first-row-id": first_row_ids.get(n)}, es)
            lines.extend(json.dumps(e.to_json()) for e in es)
        rdd = table.spark.sparkContext.parallelize(lines or [], max(1, len(paths)))
        return table.spark.read.json(rdd, schema=ENTRY_SCHEMA)
    if isinstance(store, LocalStore):
        return read_files(table.spark, paths, fmt="json", schema=ENTRY_SCHEMA)
    if store_pkl is not None:
        # Non-POSIX but PICKLABLE store (S3Store: a handful of strings
        # plus a module-function transport): ship it into the closure
        # the same way meta_json ships, and each executor reads its
        # manifests straight from the object store — the driver never
        # sees a manifest line.  (A Hadoop-FS-speaking deployment would
        # hand URIs to spark.read.json directly; the offline container
        # has no hadoop-aws jar, so the store's own client does the I/O
        # — same wire calls, same locality.)
        mdir = table._mdir

        def _read_lines(batches):
            import pickle

            import pandas as pd

            st = pickle.loads(store_pkl)
            for pdf in batches:
                out = [
                    ln
                    for name in pdf["name"]
                    for ln in st.read_text(os.path.join(mdir, name)).splitlines()
                    if ln.strip()
                ]
                yield pd.DataFrame({"line": out})

        from .session import local_df

        names_df = local_df(
            table.spark, [(n,) for n in names], "name string"
        ).repartition(min(len(names), 64))
        lines_df = names_df.mapInPandas(_read_lines, "line string")
        return lines_df.select(
            F.from_json("line", ENTRY_SCHEMA).alias("e")
        ).select("e.*")
    # Store that is neither POSIX nor picklable (the in-memory seam
    # proof holds a threading.Lock; crash-injecting test wrappers hold
    # driver state): ship the manifest JSONL through the driver.  This
    # path exists so distributed planning composes with EVERY store,
    # not for its scale properties.
    lines = [
        ln
        for p in paths
        for ln in store.read_text(p).splitlines()
        if ln.strip()
    ]
    rdd = table.spark.sparkContext.parallelize(lines or [], max(1, len(paths)))
    return table.spark.read.json(rdd, schema=ENTRY_SCHEMA)


def _pickled_store(store) -> bytes | None:
    """Round-trip-pickled store bytes, or None when the store cannot
    move to executors.  Pickling is the capability test: LocalStore and
    S3Store serialize to a few strings (S3Store's default transport is
    a module-level function — pickled by reference); InMemoryStore
    holds a ``threading.Lock`` and fails, which is CORRECT — a worker's
    unpickled copy would see a frozen snapshot of the driver's dict,
    and its whole point is to be the non-distributable seam proof.  The
    round trip (not just dumps) proves a worker can actually
    reconstruct it."""
    import pickle

    try:
        pickle.loads(pickle.dumps(store))
        return pickle.dumps(store)
    except Exception:
        return None


def replaced_hit_manifests(table, descs: list, replaced_paths) -> set | None:
    """Names of the manifests that contain ANY of ``replaced_paths`` —
    the Spark-side twin of the replace-commit hit search.  A
    DELETE/UPDATE/MERGE commit must rewrite exactly the manifests whose
    entries it replaces; finding them by decoding every manifest's
    entries driver-side is O(table entries) per commit (the same
    linear walk the distributed planner exists to avoid — r9 verdict
    item 2).  Here each executor parses its own manifests into
    (manifest, path) rows and a join against the replaced-path set
    returns just the HIT manifest names; the driver then decodes only
    those.

    Returns None when the store can't move to executors (the caller
    keeps the driver walk).  AQE picks the join strategy: a typical
    MERGE's path set broadcasts; a millions-of-paths DELETE shuffles."""
    store_pkl = _pickled_store(table.store)
    if store_pkl is None:
        return None
    names = [m["manifest-path"] for m in descs]
    if not names:
        return set()
    meta_json = table.meta.to_json()
    mdir = table._mdir

    def _emit(batches):
        import pickle

        import pandas as pd

        from icepack.metadata import TableMetadata

        st = pickle.loads(store_pkl)
        meta = None
        for pdf in batches:
            mfs, pts = [], []
            for name in pdf["name"]:
                if name.endswith(".avro"):
                    from icepack.specio import read_spec_manifest

                    if meta is None:
                        meta = TableMetadata.from_json(meta_json)
                    for e in read_spec_manifest(mdir, name, st, meta):
                        mfs.append(name)
                        pts.append(e.path)
                else:
                    for ln in st.read_text(
                        os.path.join(mdir, name)
                    ).splitlines():
                        if ln.strip():
                            mfs.append(name)
                            pts.append(json.loads(ln).get("path"))
            yield pd.DataFrame({"mf": mfs, "path": pts})

    from .session import local_df

    spark = table.spark
    names_df = local_df(
        spark, [(n,) for n in names], "name string"
    ).repartition(min(len(names), 64))
    entries = names_df.mapInPandas(_emit, "mf string, path string")
    rp = local_df(spark, [(p,) for p in replaced_paths], "rp string")
    hits = (
        entries.join(rp, entries["path"] == rp["rp"], "inner")
        .select("mf")
        .distinct()
        .collect()
    )
    return {r["mf"] for r in hits}


def plan_entries_distributed(
    table, predicate: Expr | None = None, snapshot=None
) -> tuple[list[DataFile], list[DataFile]]:
    """(surviving data entries, live delete entries relevant to them)
    with the pruning evaluated in Spark.  Driver memory is
    O(survivors + relevant deletes): file-anchored delete entries
    (v3 DVs, file-scoped position deletes) referencing pruned-away
    files are dropped Spark-side — on a v3 table deletes are
    O(files), so collecting them all would be O(table)."""
    snap = snapshot or table.meta.current_snapshot
    if snap is None:
        return [], []
    live = _entries_df(table, snap, predicate).filter(F.col("status") != "deleted")
    datas = live.filter(F.col("content") == "data")
    if predicate is not None and not isinstance(predicate, AlwaysTrue):
        # phase 1: partition-tuple check per entry — the only pruning
        # dimension for bucket(N) specs, whose min/max stats span the
        # full source range
        pcond = _partition_prune_column(table, snap, predicate)
        if pcond is not None:
            datas = datas.filter(pcond)
        # phase 2: per-file column stats check
        datas = datas.filter(
            may_match_column(predicate, F.col("stats"), F.col("record-count"))
        )
    deletes = live.filter(F.col("content") != "data")
    if predicate is not None and not isinstance(predicate, AlwaysTrue):
        # FILE-ANCHORED delete pruning: a v3 table carries one DV entry
        # per deleted-from data file, so collecting every delete entry
        # is O(table) driver memory — the exact posture this planner
        # exists to avoid.  An entry whose ``referenced-data-file``
        # names a file NOT in the pruned data selection cannot mask any
        # row of this scan (``_read_with_deletes`` applies deletes only
        # to the files read; referenced paths and entry paths come from
        # the same manifest tree, so their spellings agree — foreign
        # adoption canonicalizes at import).  Un-anchored deletes
        # (equality deletes, multi-file position-delete parquet, old
        # layouts: ``referenced-data-file`` null) are always kept.
        ref = F.col("`referenced-data-file`")
        anchored = deletes.filter(ref.isNotNull())
        broad = deletes.filter(ref.isNull())
        kept = anchored.join(
            datas.select(F.col("path").alias("_dp")).distinct(),
            anchored["referenced-data-file"] == F.col("_dp"),
            "leftsemi",
        )
        deletes = broad.unionByName(kept)

    def _collect(df) -> list[DataFile]:
        return [DataFile.from_json(json.loads(r)) for r in df.toJSON().collect()]

    return _collect(datas), _collect(deletes)


def read_distributed(
    table, predicate: Expr | None = None, snapshot=None
) -> DataFrame:
    """toDF twin with Spark-side planning: same MOR-sequence-correct
    read, same full re-filter; only WHERE the pruning predicate is
    evaluated differs."""
    snap = snapshot or table.meta.current_snapshot
    if snap is None:
        return table.spark.createDataFrame([], table.meta.schema.to_struct())
    files, deletes = plan_entries_distributed(table, predicate, snap)
    out = table._read_with_deletes(files, deletes)
    if predicate is not None:
        out = out.filter(predicate.to_column())
    return out
