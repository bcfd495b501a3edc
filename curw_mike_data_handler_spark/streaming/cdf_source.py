"""Structured Streaming source over the manifest change feed
(round 12, r11 verdict #2): drive a stream from
``read_manifest_changes``'s commit-level diffs with per-VERSION
offsets, so a downstream pipeline consumes a manifest table's
row-level inserts/deletes incrementally with checkpoint-restart
exactly-once — no version skipped, none double-read, across kills.

    spark.dataSource.register(ManifestCDFDataSource)
    feed = (spark.readStream.format("manifest_cdf")
            .option("root", root).option("table", "events")
            .option("startingVersion", 0)
            .load())
    # → the table's physical schema + _change_type string
    #   ('insert' | 'delete') + _commit_version long

Spark-first design notes:

* **Offsets are snapshot versions.**  ``{"version": N}`` = "changes
  of all commits ≤ N consumed".  The manifests are immutable and
  retained, so a replayed ``(start, end]`` range re-derives exactly
  the same rows — determinism comes from the table format, not from
  a recorded batch list.  Retention expiring a
  still-unconsumed version fails the plan loudly (the standing
  retention contract), never silently shrinks a batch.
* **Partitions mirror the feed's cost shape.**  Each commit plans
  partitions bounded by its REWRITTEN region, executor-side via
  pyarrow (no Spark-in-Spark):
  - append / MoR-delta commits → one partition per NEW file (rows
    are inserts, read straight out of the file);
  - vector growth (MoR delete/upsert) → one partition per touched
    file (positions filter the file scan, rows are deletes);
  - COW rewrites → one DIFF partition per touched BUCKET: bucket
    files only ever rewrite within their bucket, so the old/new
    multiset diff is bucket-local — each partition Counter-diffs its
    bucket's old rows (parent vectors applied) against its new ones.
  Content-preserving compaction/rebucket commits plan nothing.
* **Arrow out.**  Every partition yields one ``pyarrow.RecordBatch``
  (column-built; no per-row Python objects cross the boundary).

Schema evolution (round 12, roadmap #1): the stream's OUTPUT schema
is pinned at construction (Spark streams cannot grow columns
mid-query), but the covered window need NOT be schema-stable — each
commit plans against its OWN manifest schema:

* an ``evolve_shred`` commit is metadata-only (no row changes) and
  plans nothing;
* commits OLDER than the stream's schema lack later-added columns —
  those surface as typed NULLs, exactly like the batch feed's
  ``allowMissingColumns`` union (and like ``spark.read.schema`` over
  a file missing the column);
* commits NEWER than the stream's schema diff on their FULL column
  set (so a row changing only in a later-added column still emits its
  delete+insert pair) and the extra columns are projected away —
  restart the stream to surface them (the inherent fixed-schema
  constraint, now the ONLY reason to restart);
* files predating an evolve physically lack the added ``_shred_*``
  columns even inside schema-stable windows (lazy materialization
  repairs them only at the next rewrite) — every file read
  NULL-pads what the file doesn't store, matching
  ``spark.read.schema`` semantics.

Declared limits (loud errors, not silent wrongness): map/array/
struct-typed columns are unsupported (no hashable canonical form for
the bucket-local diff; the batch feed's sort-entries canonicalization
covers top-level maps) — refused at construction for the stream's
schema and at PLANNING time for columns a later evolve added.

Reference parity: the reference's change detection is the
``fgt_last_hour`` freshness poll re-run per cron tick
(``extract/extract_fgt.py``); this source subsumes it with exact
row-level deltas derived from manifest truth.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from curw_mike_data_handler_spark.sources import manifest_bucketed as mb


@dataclass
class CDFPartition(InputPartition):
    kind: str  # 'insert' | 'dv' | 'diff'
    commit_version: int
    columns: tuple[str, ...]
    # SQL types parallel to ``columns`` — the executor derives arrow
    # types from these (NOT from the files: a pre-evolve file lacks
    # later columns entirely, and batch schemas must agree across
    # partitions regardless of which file each one happened to read)
    column_types: tuple[str, ...] = ()
    # insert: files to read whole; diff: the commit's NEW bucket files
    new_files: tuple[str, ...] = ()
    # dv: [(file, (pos, ...)), ...] — positions newly dead this commit
    # diff: the OLD bucket files with the PARENT's already-dead
    # positions to exclude before diffing
    old_files: tuple = ()


def _refuse_nested(column: str, sql_type: str, hint: str) -> None:
    """The bucket-local diff keys a Counter on python row tuples:
    map/array/struct values arrive as unhashable dicts/lists from
    to_pylist — refuse LOUDLY (at construction for the stream's
    schema, at planning for evolve-added columns) instead of a bare
    TypeError deep in an executor mid-stream (review findings; the
    batch read_manifest_changes feed supports array/struct and
    top-level maps)."""
    low = sql_type.lower()
    for nested in ("map<", "array<", "struct<"):
        if nested in low:
            raise NotImplementedError(
                f"manifest_cdf: {hint}{nested.rstrip('<')}-typed column "
                f"{column!r} has no hashable form for the bucket-local "
                f"diff — use the batch read_manifest_changes feed"
            )


def _arrow_type(sql_type: str):
    """The canonical arrow type of a manifest SQL type — used to
    NULL-pad columns a file predates and to pin one batch schema
    across every partition.  Matches the types Spark's own parquet
    writes read back as (so casts on present columns are no-ops)."""
    import pyarrow as pa

    s = sql_type.strip().lower()
    simple = {
        "tinyint": pa.int8(), "smallint": pa.int16(),
        "int": pa.int32(), "integer": pa.int32(),
        "bigint": pa.int64(), "long": pa.int64(),
        "float": pa.float32(), "real": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(), "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in simple:
        return simple[s]
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    raise NotImplementedError(
        f"manifest_cdf: no arrow mapping for SQL type {sql_type!r}"
    )


def _read_file_table(
    path: str, columns: tuple[str, ...], types: tuple[str, ...]
):
    """One file's rows as EXACTLY ``columns`` in canonical arrow
    types: present columns cast (a no-op for Spark-written parquet),
    absent ones NULL-padded — a file predating an ``evolve_shred``
    physically lacks the added ``_shred_*`` columns until the next
    rewrite repairs it, and ``spark.read.schema`` (the batch feed's
    read) treats those as NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # ONE footer open serves both the present-column set and the read
    # (pq.read_schema + pq.read_table would parse it twice per file —
    # a full extra GET on object storage; review finding); the context
    # manager keeps the close deterministic on error paths
    with pq.ParquetFile(path) as pf:
        have = set(pf.schema_arrow.names)
        present = [c for c in columns if c in have]
        t = pf.read(columns=present)
    n = t.num_rows
    arrays = []
    for c, st in zip(columns, types):
        at = _arrow_type(st)
        if c in have:
            arrays.append(t.column(c).cast(at).combine_chunks())
        else:
            arrays.append(pa.nulls(n, type=at))
    return pa.table(arrays, names=list(columns))


_NAN = "\x00__nan__"  # canonical stand-in: NaN != NaN and (since
# py3.10) hash(nan) is identity-based, so raw-NaN tuples would never
# match across two reads and an UNCHANGED NaN row in a rewritten
# bucket would emit a spurious delete+insert pair (review finding —
# the batch feed's eqNullSafe treats NaN = NaN, and the stream must
# match it)


def _canon(v):
    if isinstance(v, float) and v != v:
        return _NAN
    return v


def _rows_counter(
    table, columns, drop_positions=(), originals: dict | None = None
) -> Counter:
    """Multiset of a file's rows keyed on NaN-canonicalized python
    tuples, minus the given 0-based positions (the parent's deletion
    vectors).  ``originals`` (if given) records a representative
    ORIGINAL tuple per canonical key, so emitted rows carry real NaN
    values, not the sentinel."""
    drop = set(drop_positions)
    cols = [table.column(c).to_pylist() for c in columns]
    n = table.num_rows
    out: Counter = Counter()
    for i in range(n):
        if i in drop:
            continue
        row = tuple(col[i] for col in cols)
        key = tuple(_canon(v) for v in row)
        out[key] += 1
        if originals is not None and key not in originals:
            originals[key] = row
    return out


def _out_schema(columns: tuple[str, ...], types: tuple[str, ...]):
    """The stream's fixed arrow batch schema: the pinned columns in
    canonical types + the two change-feed columns."""
    import pyarrow as pa

    fields = [pa.field(c, _arrow_type(t)) for c, t in zip(columns, types)]
    fields.append(pa.field("_change_type", pa.string()))
    fields.append(pa.field("_commit_version", pa.int64()))
    return pa.schema(fields)


class ManifestCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        # Spark hands Python sources a case-insensitive option dict —
        # normalize so callers may write startingVersion naturally
        opts = {str(k).lower(): v for k, v in options.items()}
        self.root = opts["root"]
        self.table = opts["table"]
        head = mb.read_manifest(self.root, self.table)
        if "startingversion" in opts:
            self.start_version = int(opts["startingversion"])
        else:
            self.start_version = head["version"]
        # the stream's fixed OUTPUT schema, pinned at construction;
        # per-commit planning handles windows whose manifests carry a
        # different (older or newer) schema
        self.schema_ddl = head["schema_ddl"]
        ddl_cols = mb._ddl_columns(self.schema_ddl)
        self.columns = tuple(ddl_cols)
        self.column_types = tuple(ddl_cols.values())
        for c, t in ddl_cols.items():
            _refuse_nested(c, t, "")
            _arrow_type(t)  # unmappable types fail HERE, not mid-task

    # -- offsets ----------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        return {"version": mb.current_version(self.root, self.table)}

    def commit(self, end: dict) -> None:
        pass

    # -- planning ---------------------------------------------------
    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[CDFPartition] = []
        v = hi
        child = mb.read_manifest(self.root, self.table, v)
        while v > lo:
            parent_v = child.get("parent")
            if parent_v is None:
                raise ValueError(
                    f"{self.table} version {v} has no parent — offset "
                    f"{lo} predates the table's first manifest"
                )
            parent = mb.read_manifest(self.root, self.table, parent_v)
            parts.extend(self._commit_partitions(child, parent))
            v, child = parent_v, parent
        # the API requires ≥1 partition even for an empty range
        return parts or [
            CDFPartition("insert", hi, self.columns, self.column_types)
        ]

    def _commit_diff_columns(self, child: dict):
        """The columns a commit's DIFF partitions compare on: the
        commit's OWN schema, so a row changing only in a later-added
        column still emits its delete+insert pair.  Columns beyond the
        stream's pinned schema (an evolve after the stream started)
        are validated here — nested types have no hashable diff form
        and must fail at PLANNING, with the restart hint, not as a
        bare executor TypeError."""
        ddl_cols = mb._ddl_columns(child["schema_ddl"])
        pinned = set(self.columns)
        for c, t in ddl_cols.items():
            if c in pinned:
                continue  # construction already validated these
            _refuse_nested(c, t, "evolve added ")
            _arrow_type(t)
        return tuple(ddl_cols), tuple(ddl_cols.values())

    def _commit_partitions(self, child: dict, parent: dict):
        if child.get("compacted_from") is not None or (
            child.get("rebucketed_from") is not None
        ):
            return []  # content-preserving rewrite: no row changes
        tdir = mb._table_dir(self.root, self.table)
        gen_c = os.path.join(tdir, child["generation"])
        gen_p = os.path.join(tdir, parent["generation"])
        cv = child["version"]
        child_files = set(child["files"])
        parent_files = set(parent["files"])
        new_files = sorted(child_files - parent_files)
        old_files = sorted(parent_files - child_files)
        parts: list[CDFPartition] = []

        # vector growth on kept files → per-file delete partitions
        old_dv = {f: set(ps)
                  for f, ps in mb._dv_positions_of(parent).items()}
        for f, ps in sorted(mb._dv_positions_of(child).items()):
            if f not in parent_files or f not in child_files:
                continue
            added = tuple(sorted(set(ps) - old_dv.get(f, set())))
            if added:
                parts.append(CDFPartition(
                    "dv", cv, self.columns, self.column_types,
                    old_files=((os.path.join(gen_p, f), added),),
                ))

        if old_files:
            # COW rewrite: bucket-local multiset diff — group BOTH
            # sides by bucket id (files only ever rewrite within
            # their bucket).  A file whose name carries no parseable
            # bucket id cannot be diffed bucket-locally: raise loudly
            # rather than silently dropping its changes (review
            # finding — the batch feed diffs the whole region and
            # would disagree)
            diff_cols, diff_types = self._commit_diff_columns(child)
            by_bucket: dict[int, tuple[list, list]] = {}
            for f in old_files:
                b = mb._file_bucket(f)
                if b is None:
                    raise ValueError(
                        f"manifest_cdf: {self.table} v{cv} file {f!r} "
                        f"has no bucket id — cannot plan a "
                        f"bucket-local diff; use the batch feed"
                    )
                by_bucket.setdefault(b, ([], []))[0].append(
                    (os.path.join(gen_p, f),
                     tuple(sorted(old_dv.get(f, ()))))
                )
            for f in new_files:
                b = mb._file_bucket(f)
                if b is None:
                    raise ValueError(
                        f"manifest_cdf: {self.table} v{cv} file {f!r} "
                        f"has no bucket id — cannot plan a "
                        f"bucket-local diff; use the batch feed"
                    )
                by_bucket.setdefault(b, ([], []))[1].append(
                    os.path.join(gen_c, f)
                )
            for b in sorted(by_bucket):
                olds, news = by_bucket[b]
                parts.append(CDFPartition(
                    "diff", cv, diff_cols, diff_types,
                    new_files=tuple(news), old_files=tuple(olds),
                ))
        elif new_files:
            # pure file growth (append, MoR delta): inserts
            for f in new_files:
                parts.append(CDFPartition(
                    "insert", cv, self.columns, self.column_types,
                    new_files=(os.path.join(gen_c, f),),
                ))
        return parts

    # -- execution (runs on executors) -------------------------------
    def read(self, partition: CDFPartition):
        import pyarrow as pa

        cols = partition.columns
        types = partition.column_types
        sch = _out_schema(self.columns, self.column_types)

        if partition.kind == "insert":
            # cols == the stream's pinned schema by construction
            for path in partition.new_files:
                t = _read_file_table(path, cols, types)
                arrays = [t.column(c).combine_chunks() for c in cols]
                n = t.num_rows
                arrays.append(pa.array(["insert"] * n, type=pa.string()))
                arrays.append(pa.array(
                    [partition.commit_version] * n, type=pa.int64()
                ))
                if n:
                    yield pa.record_batch(arrays, schema=sch)
            return

        if partition.kind == "dv":
            for path, positions in partition.old_files:
                t = _read_file_table(path, cols, types)
                keep = [p for p in positions if p < t.num_rows]
                sub = t.take(keep)
                arrays = [sub.column(c).combine_chunks() for c in cols]
                n = sub.num_rows
                arrays.append(pa.array(["delete"] * n, type=pa.string()))
                arrays.append(pa.array(
                    [partition.commit_version] * n, type=pa.int64()
                ))
                if n:
                    yield pa.record_batch(arrays, schema=sch)
            return

        # diff: bucket-local multiset diff, |count_new - count_old|,
        # keyed on the COMMIT's own columns (cols may be wider than
        # the stream schema after a mid-stream evolve); emitted rows
        # project onto the stream's pinned columns — missing ones
        # (commits older than the stream schema) surface as NULLs,
        # extras are dropped
        old_counts: Counter = Counter()
        new_counts: Counter = Counter()
        originals: dict = {}
        for path, dead in partition.old_files:
            t = _read_file_table(path, cols, types)
            old_counts.update(_rows_counter(t, cols, dead, originals))
        for path in partition.new_files:
            t = _read_file_table(path, cols, types)
            new_counts.update(_rows_counter(t, cols, (), originals))
        rows: list = []
        tags: list = []
        for key in set(old_counts) | set(new_counts):
            delta = new_counts.get(key, 0) - old_counts.get(key, 0)
            if delta:
                tag = "insert" if delta > 0 else "delete"
                row = originals[key]
                for _ in range(abs(delta)):
                    rows.append(row)
                    tags.append(tag)
        if rows:
            pos = {c: i for i, c in enumerate(cols)}
            arrays = []
            for c, st in zip(self.columns, self.column_types):
                at = _arrow_type(st)
                i = pos.get(c)
                if i is None:
                    arrays.append(pa.nulls(len(rows), type=at))
                else:
                    arrays.append(
                        pa.array([r[i] for r in rows], type=at)
                    )
            arrays.append(pa.array(tags, type=pa.string()))
            arrays.append(pa.array(
                [partition.commit_version] * len(rows), type=pa.int64()
            ))
            yield pa.record_batch(arrays, schema=sch)


class ManifestCDFDataSource(DataSource):
    """``spark.readStream.format("manifest_cdf")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "manifest_cdf"

    def schema(self) -> str:
        opts = {str(k).lower(): v for k, v in self.options.items()}
        head = mb.read_manifest(opts["root"], opts["table"])
        return (
            head["schema_ddl"]
            + ", `_change_type` string, `_commit_version` bigint"
        )

    def streamReader(self, schema) -> ManifestCDFStreamReader:
        return ManifestCDFStreamReader(dict(self.options))
