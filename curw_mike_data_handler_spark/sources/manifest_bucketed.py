"""Manifest-published bucketed tables: snapshot-isolated appends and
an ATOMIC compaction swap on top of the plain bucketed layout of
``sources/bucketed.py`` (post-drain roadmap #4).

The design is the minimal Iceberg-shaped core, built from three
primitives the local filesystem already gives us:

* **immutable generation directories** — every snapshot is ONE
  directory of bucketed parquet files.  An append creates the next
  directory by HARD-LINKING the previous generation's files (O(files),
  zero data copy) and inserting the new batch beside them; a
  compaction writes a fresh single-file-per-bucket directory.  No
  published directory is ever mutated, so a reader that planned
  against generation k keeps a consistent snapshot for as long as k is
  retained — there is no window where its files change or vanish
  mid-scan.
* **manifests** — ``manifests/manifest-K.json`` records the bucket
  spec, the generation directory, and the exact file list.  Readers
  resolve files only through manifests, never by listing directories,
  so a half-written next generation is INVISIBLE until published.
* **an atomically swapped pointer** — ``LATEST`` names the current
  manifest and is replaced via write-temp + ``os.replace`` (atomic on
  POSIX): every reader sees either the old snapshot or the new one,
  never a mixture and never a missing table (the failure mode of a
  DROP TABLE + RENAME swap).

Time travel falls out for free: ``read(version=k)`` resolves
``manifest-K`` instead of ``LATEST``; ``expire`` bounds retention.

Round-10 extensions on the same three primitives:

* **variant/JSON shredding** — typed field columns materialized beside
  the raw JSON at publish, per-file/per-field footer stats in the
  manifest, routed reads with raw fallback and shred-stat file pruning
  (see the shredding section below);
* **shred evolution** — ``evolve_shred`` publishes a METADATA-ONLY
  generation (shares the parent's data directory) adding/removing
  fields; new fields materialize lazily via coalesce repair until a
  compaction rewrites every file;
* **concurrent writers** — link-CAS claim files serialize one writer per
  generation with dead-owner takeover; every retrying writer (and the
  transaction catalog's swap) commits through ONE claim-and-retry
  routine, ``_claim_next``;
* **streaming ingestion** — ``foreach_batch_append`` lands micro-
  batches exactly-once (epoch batch_ids, manifest-chain dedupe).

Spark integration: each generation is registered once as an EXTERNAL
bucketed table (``.option("path", gen_dir)`` + ``bucketBy``), so scans
keep the bucketed output partitioning and same-spec joins stay
exchange-free — the whole point of the layout (plan-guarded in
tests/test_partitioned_layout.py).

Local/POSIX scope: hard links and atomic replace need one local
filesystem.  On an object store this module's job is done natively by
a table format (Iceberg/Delta); the manifest/pointer/expire shape here
is exactly that contract scaled down.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.sources.local import local_frame

_BUCKET_RE = re.compile(r"_(\d{5})(?:\.|$)")
_TABLE_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_FIELD_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _check_table_name(table: str) -> str:
    """Table names double as directory names AND catalog identifiers —
    a dash or space would be a fine directory but a ParseException in
    every generated DROP/CREATE statement, so reject it up front.
    Leading underscores are RESERVED for root-level metadata (the
    ``_txn`` transaction catalog lives beside the table dirs)."""
    if not _TABLE_NAME_RE.fullmatch(table):
        raise ValueError(
            f"table name {table!r} must match [A-Za-z_][A-Za-z0-9_]* "
            f"(it is interpolated into catalog identifiers)"
        )
    if table.startswith("_"):
        raise ValueError(
            f"table name {table!r} is reserved (leading underscore "
            f"names root-level metadata such as the _txn catalog)"
        )
    return table


def _table_dir(root: str, table: str) -> str:
    return os.path.join(root, table)


def _manifest_path(root: str, table: str, version: int) -> str:
    return os.path.join(_table_dir(root, table), "manifests", f"manifest-{version}.json")


def _latest_path(root: str, table: str) -> str:
    return os.path.join(_table_dir(root, table), "LATEST")


def _catalog_name(root: str, table: str, version: int) -> str:
    # a generation's catalog entry must be unique per (root, table):
    # two roots may host the same table name
    tag = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:8]
    return f"cm_mf_{table}_{tag}_g{version}"


def current_version(root: str, table: str) -> int:
    """The published snapshot version (the LATEST pointer)."""
    with open(_latest_path(root, table)) as fh:
        return int(fh.read().strip())


def read_manifest(root: str, table: str, version: int | None = None) -> dict:
    """Resolve a manifest — LATEST by default, a pinned ``version`` for
    time travel.  Expired versions raise FileNotFoundError with the
    retention hint."""
    v = current_version(root, table) if version is None else version
    path = _manifest_path(root, table, v)
    try:
        with open(path) as fh:
            m = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{table} has no manifest-{v} — the version was never "
            f"published or has been expired (see expire_generations)"
        ) from None
    return m


class ConcurrentWriteError(RuntimeError):
    """Another live writer holds the claim for the generation this
    writer wanted to publish.  Every retrying writer already retries
    on top of the competitor's snapshot once it lands (_claim_next) and
    raises this only after _MAX_RETRIES; the single-shot claims
    (create_manifest_table, evolve_shred) raise it at once."""


def _claim_path(root: str, table: str, version: int) -> str:
    return os.path.join(_table_dir(root, table), "manifests",
                        f"claim-{version}")


def _proc_stat(pid: int) -> list[bytes] | None:
    """Fields 3 onward of /proc/<pid>/stat (index 0 is the state
    letter, index 19 the starttime), or None where /proc is
    unavailable (non-Linux) or the pid is gone.  comm (field 2) may
    contain spaces/parens, so the split starts after the LAST ')'."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            fields = fh.read().rsplit(b")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields if len(fields) > 19 else None


def _proc_start_time(pid: int) -> int | None:
    """The kernel's starttime for ``pid`` (/proc/<pid>/stat field 22,
    clock ticks since boot) — the disambiguator that makes pid-based
    liveness checks safe against pid RECYCLING: a crashed writer's pid
    reused by an unrelated process has a different starttime, so its
    stale claim is correctly judged dead instead of blocking all
    writers on that generation forever (advisor finding).  None where
    /proc is unavailable (non-Linux) — callers then fall back to the
    plain pid-exists check."""
    fields = _proc_stat(pid)
    return None if fields is None else int(fields[19])


def _parse_claim(content: str) -> tuple[int, int | None]:
    """``(pid, starttime)`` from claim-file content.  The format is
    "pid starttime"; a bare "pid" (older claims, tests) parses with
    starttime None — liveness then degrades to the pid-exists check."""
    parts = content.strip().split()
    try:
        pid = int(parts[0])
    except (IndexError, ValueError):
        return -1, None
    start = None
    if len(parts) > 1:
        try:
            start = int(parts[1])
        except ValueError:
            start = None
    return pid, start


def _claim_owner_alive(content: str) -> bool:
    """Is the writer that recorded this claim content still running?
    Unparseable content is conservatively LIVE (never steal a claim we
    can't attribute); our own pid is live (another thread of this
    process); a pid that exists but whose /proc starttime differs from
    the recorded one is a RECYCLED pid — the original writer is dead."""
    pid, recorded_start = _parse_claim(content)
    if pid <= 0:
        return True
    if pid == os.getpid():
        # own-pid claims are only OURS if the recorded starttime matches
        # THIS process: a dead writer's pid recycled as our own pid
        # would otherwise read as "another thread of this process"
        # forever, wedging every writer on the generation (advisor
        # finding) — the starttime proves the original owner dead
        if recorded_start is not None:
            own_start = _proc_start_time(os.getpid())
            if own_start is not None and own_start != recorded_start:
                return False
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # exists, owned by someone else
    fields = _proc_stat(pid)
    if fields is None:
        return True  # no /proc: the pid-exists check stands
    if fields[0] in (b"Z", b"X"):
        # exited but not yet reaped: a zombie passes kill(pid, 0) and
        # keeps its starttime, yet it writes nothing more
        return False
    # a different starttime is a recycled pid: same number, other process
    return recorded_start is None or int(fields[19]) == recorded_start


def _acquire_claim(root: str, table: str, version: int) -> None:
    _acquire_claim_path(
        _claim_path(root, table, version), f"{table} generation {version}"
    )


def _acquire_claim_path(path: str, what: str) -> None:
    """Serialize writers per claim file: an ``os.link`` of a
    pre-written temp file onto the claim path is the commit-intent
    CAS — exactly one writer owns the claimed slot (a table
    generation, the txn catalog slot, a mirror's sync), and the
    claim's pid content is atomic with its existence (no empty-content
    window for a reader to misjudge).  A claim whose recorded pid is
    DEAD is the debris of a crashed writer (kill -9 between claim and
    publish): it is RENAMED aside — rename of one source admits
    exactly one recoverer — and the link create re-raced.  A LIVE
    claim (including another thread of this process, or unreadable
    content) raises ConcurrentWriteError for the caller to retry after
    the competing publish lands.  Same single-host/POSIX scope as the
    rest of the module — on an object store this is the table format's
    conditional-put commit."""
    import uuid as _uuid

    os.makedirs(os.path.dirname(path), exist_ok=True)
    # the claim is created by os.link of a PRE-WRITTEN temp file, never
    # by open(O_EXCL)+write: a reader can then never observe an empty
    # claim and misjudge a live writer as dead (review finding)
    tmp = f"{path}.tmp-{os.getpid()}-{_uuid.uuid4().hex[:8]}"
    start = _proc_start_time(os.getpid())
    with open(tmp, "w") as fh:
        # pid + kernel starttime: the starttime disambiguates a
        # RECYCLED pid from the original writer (see _claim_owner_alive)
        fh.write(str(os.getpid()) if start is None
                 else f"{os.getpid()} {start}")
        fh.flush()
        os.fsync(fh.fileno())
    try:
        for _ in range(2):
            try:
                os.link(tmp, path)
                return
            except FileExistsError:
                pass
            try:
                with open(path) as fh:
                    content = fh.read()
            except FileNotFoundError:
                continue  # holder released between link and read: re-race
            except OSError:
                content = ""  # unreadable ⇒ _claim_owner_alive says LIVE
            if _claim_owner_alive(content):
                raise ConcurrentWriteError(
                    f"{what} is being written by "
                    f"pid {_parse_claim(content)[0]}"
                )
            # dead owner: RENAME the stale claim aside — rename of one
            # source admits exactly one winner among racing recoverers
            # (the loser's rename raises FileNotFoundError and it
            # re-races the link, losing to the winner's fresh claim) —
            # then re-race the link create.  An unlink here could
            # delete a COMPETITOR's freshly-won claim (review finding).
            try:
                os.rename(path, f"{path}.dead-{_uuid.uuid4().hex[:8]}")
            except FileNotFoundError:
                pass
        raise ConcurrentWriteError(
            f"{what}: claim could not be acquired "
            f"after stale-owner recovery"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _release_claim(root: str, table: str, version: int) -> None:
    _release_claim_path(_claim_path(root, table, version))


def _release_claim_path(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass
    # sweep rename-aside debris from dead-owner takeovers
    d, base = os.path.split(path)
    try:
        for f in os.listdir(d):
            if f.startswith(base + ".dead-"):
                try:
                    os.unlink(os.path.join(d, f))
                except FileNotFoundError:
                    pass
    except FileNotFoundError:
        pass


def _claim_wait(
    root: str, table: str, version: int, attempt: int, base_wait_s: float
) -> None:
    """Back off behind a LIVE competitor's claim — but wait on the
    competitor's PROGRESS, not a fixed clock (advisor finding: a
    legitimate Spark write routinely holds a claim far longer than the
    old 20 × 0.5 s budget, and the loser would raise
    ConcurrentWriteError even though no one crashed).  The wait for
    retry ``attempt`` is exponential (base · 2^attempt, capped at 30 s
    per attempt — ~8 min total at _MAX_RETRIES = 20 retries from
    _RETRY_WAIT_S = 0.5 s, instead of 10 s), polled at 50 ms, and
    returns EARLY the moment any of:

    * the claim vanishes (the competitor released — published or
      failed),
    * the snapshot advances past ``version - 1`` (the competitor
      published; the retry will re-read and target the next version),
    * the claim's owner dies (takeover is now possible).

    So the common case — a competitor that publishes quickly — still
    retries with sub-second latency; only a genuinely long-running
    competitor consumes the larger budget."""

    def progressed() -> bool:
        try:
            return current_version(root, table) >= version
        except FileNotFoundError:
            return False

    _claim_path_wait(_claim_path(root, table, version), attempt,
                     base_wait_s, progressed)


def _claim_path_wait(
    path: str, attempt: int, base_wait_s: float, progressed=None
) -> None:
    """The shared wait loop behind a live claim at any path:
    exponential budget, 50 ms polls, early return the moment the claim
    vanishes, its owner dies, or the optional ``progressed`` predicate
    reports the competitor's work landed (one loop for the versioned
    and versionless waiters — review finding: two near-copies would
    drift)."""
    import time

    wait_s = min(base_wait_s * (2 ** attempt), 30.0)
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        try:
            with open(path) as fh:
                content = fh.read()
        except FileNotFoundError:
            return  # claim released
        except OSError:
            content = ""
        if progressed is not None and progressed():
            return  # competitor's publish landed
        if not _claim_owner_alive(content):
            return  # owner crashed: the retry can take the claim over
        time.sleep(0.05)


def _durable_write(path: str, text: str) -> None:
    """temp + fsync + replace + DIRECTORY fsync — the one crash-durable
    pointer-write discipline, shared by table publishes and the txn
    catalog (review finding: a duplicated copy would silently keep the
    weaker behavior when this one is fixed).  Without the directory
    fsync POSIX gives no ordering between two renames' metadata, and a
    power loss could durably keep LATEST=v while manifest-v's rename
    is lost."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _write_manifest_file(root: str, table: str, manifest: dict) -> None:
    """Durably write manifest-K.json WITHOUT touching LATEST — the
    staging half of a publish.  A manifest file alone is invisible to
    every LATEST-following reader; multi-table transactions stage all
    tables this way and publish through the txn catalog first."""
    bid = manifest.get("batch_id")
    recent = manifest.get("recent_batch_ids")
    if bid is not None and recent is not None and not any(
        b == bid and v == manifest["version"] for b, v in recent
    ):
        # programming-error guard: a batch_id the index misses would
        # let the O(1) lookup report the batch unpublished and
        # double-apply it — every stamp must go through
        # _with_recent_batch_ids
        raise ValueError(
            f"{table} v{manifest['version']}: batch_id {bid!r} not in "
            f"recent_batch_ids — stamp via _with_recent_batch_ids"
        )
    mpath = _manifest_path(root, table, manifest["version"])
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    _durable_write(mpath, json.dumps(manifest, indent=1))


def _swap_latest(root: str, table: str, version: int) -> None:
    """Atomically point LATEST at ``version`` (callers must hold the
    ordering guarantees — a claim, or the manifest already committed
    via the txn catalog)."""
    _durable_write(_latest_path(root, table), str(version))


def _publish(root: str, table: str, manifest: dict) -> None:
    """Write the manifest, then swap LATEST atomically (os.replace) —
    the single linearization point of every commit.  BOTH files go
    through temp + fsync + replace: a durable LATEST pointing at a
    manifest whose blocks never reached disk would be a torn publish,
    exactly what the pointer design exists to rule out."""
    _write_manifest_file(root, table, manifest)
    _swap_latest(root, table, manifest["version"])


def _complete_lagging_txn_publish(root: str, table: str, v: int) -> bool:
    """Must be called UNDER the claim for ``v``: if ``v`` was already
    committed by a transaction (txn-catalog-pinned, manifest durable)
    but its per-table LATEST swap was lost to a crash, complete the
    swap and return True — the caller re-reads the (now advanced)
    snapshot and retries on top.  Without this, a writer would either
    wedge on the immutable-generation guard or, worse, treat committed
    data as rebuildable debris."""
    if v in _all_txn_pins(root, table) and os.path.exists(
        _manifest_path(root, table, v)
    ):
        _swap_latest(root, table, v)
        return True
    return False


# every retrying writer's budget behind a live competitor: with
# _claim_wait's progress-aware exponential wait, ~8 min in total
_MAX_RETRIES = 20
_RETRY_WAIT_S = 0.5


def _claim_next(root: str, name: str, *, batch_id: str | None = None):
    """The one optimistic claim-and-retry loop every retrying writer
    commits through.  ``name`` is a table, or ``_TXN`` for the
    transaction catalog (its LATEST and ``manifests/claim-N`` sit at
    the same relative paths).  Each attempt:

    1. reads the head (manifest, or txn catalog) and, given a
       ``batch_id`` that already landed, returns ``(None, landed)`` —
       the exactly-once replay no-op, no claim taken;
    2. claims head+1 (link-CAS; a dead owner's claim is taken over in
       _acquire_claim).  Behind a LIVE owner it waits on the owner's
       progress (_claim_wait) and retries on top of its publish — both
       writes land, serialized, never lost;
    3. under the claim, re-checks that the head is still LATEST (the
       competitor may have published between our read and our claim)
       and rolls a committed transaction's lost LATEST swap forward
       (_complete_lagging_txn_publish); either failure releases the
       claim and retries on the new head.

    Returns ``(head, None)`` with the claim on ``head["version"] + 1``
    HELD — the caller runs its one-shot body under ``try/finally:
    _release_claim``.  Raises ConcurrentWriteError after
    _MAX_RETRIES + 1 lost attempts."""
    txn = name == _TXN
    for attempt in range(_MAX_RETRIES + 1):
        head = read_txn_catalog(root) if txn else read_manifest(root, name)
        if batch_id is not None:
            landed = (_txn_batch_published(root, batch_id) if txn
                      else _batch_id_published(root, name, batch_id))
            if landed is not None:
                # the version the batch LANDED at, not the current head:
                # a pinning caller (commit_multi_table) must not adopt
                # versions carrying other writers' later, possibly
                # half-transactional data
                return None, landed
        v = head["version"] + 1
        try:
            _acquire_claim(root, name, v)
        except ConcurrentWriteError:
            if attempt == _MAX_RETRIES:
                raise
            _claim_wait(root, name, v, attempt, _RETRY_WAIT_S)
            continue
        held = False
        try:
            now = (read_txn_catalog(root)["version"] if txn
                   else current_version(root, name))
            held = now == head["version"] and (
                txn or not _complete_lagging_txn_publish(root, name, v)
            )
        finally:
            if not held:
                _release_claim(root, name, v)
        if held:
            return head, None
    raise ConcurrentWriteError(
        f"{name}: lost the publish race {_MAX_RETRIES + 1} times "
        f"(competing writer holding the claim throughout?)"
    )


def _data_files(gen_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(gen_dir)
        if f.startswith("part-") and _BUCKET_RE.search(f)
    )


# ---------------------------------------------------------------------------
# Variant/JSON shredding (round-10 roadmap #1)
#
# A shred spec names ONE semi-structured string column and the typed
# fields to materialize beside it at write time:
#
#     shred = {"column": "payload", "fields": {"k": "bigint", "t": "string"}}
#
# Every generation then stores, next to the raw JSON bytes, one real
# parquet column per shredded field (``_shred_payload_k`` ...), computed
# once at publish via parse_json + variant_get — the columnar-variant
# layout Spark 4's VARIANT/Delta-Iceberg-v3 shredding targets, scaled
# down to this manifest format.  The payoff is read-side:
#
# * a routed read that asks only for shredded fields projects the
#   materialized columns and NEVER touches the raw JSON (column pruning
#   reaches the scan: at 100 TB the raw blob column — usually the
#   widest in the table — is not read at all);
# * a field that was never shredded falls back transparently to the
#   same parse_json + variant_get expression over the raw column, so
#   shredding is an optimization, never a semantic fork (both paths are
#   THE SAME expression, evaluated at write time vs read time);
# * the manifest records per-file [min, max, null_count] for every
#   shredded field straight from the parquet footers, so a range
#   predicate on a shredded field prunes whole FILES at planning time
#   (shred_pruned_files), before parquet row-group skipping sees the
#   survivors.
# ---------------------------------------------------------------------------


# simple-or-parameterized SQL type names (bigint, string, decimal(10,2),
# array<int>, map<string,int> ...) — NO backticks/newlines, because the
# type string is interpolated into generated CREATE TABLE DDL
_TYPE_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_<>(), ]*")


def _valid_sql_type(t: str) -> bool:
    """Character-class check PLUS a bracket-depth walk: commas and
    spaces are legal only INSIDE balanced (...) / <...> parameter lists
    (decimal(10,2), map<string, int>).  A top-level comma would smuggle
    an extra column into the generated ``CREATE TABLE`` column list
    ('bigint, extra int' passed the old regex — advisor finding); a
    top-level space or unbalanced bracket would mangle the DDL at
    register time.  Reject all three up front."""
    if not _TYPE_RE.fullmatch(t):
        return False
    stack: list[str] = []
    pairs = {">": "<", ")": "("}
    for ch in t:
        if ch in "<(":
            stack.append(ch)
        elif ch in ">)":
            # a STACK, not a depth counter: 'array<int)' must not
            # validate by closing '<' with ')' (review finding)
            if not stack or stack.pop() != pairs[ch]:
                return False
        elif ch in ", " and not stack:
            return False
    return not stack


def _check_shred(shred: dict) -> dict:
    """Validate a shred spec: field names are interpolated into column
    names and '$.field' paths, the COLUMN name into column names, and
    the TYPE strings into generated CREATE TABLE DDL — restrict all
    three (a backtick or comma-smuggling type would mangle every later
    _register)."""
    if set(shred) != {"column", "fields"} or not isinstance(shred["fields"], dict):
        raise ValueError(
            'shred spec must be {"column": <name>, "fields": {name: type}}'
        )
    if not isinstance(shred["column"], str) or not _FIELD_NAME_RE.fullmatch(
        shred["column"]
    ):
        raise ValueError(
            f"shred column {shred['column']!r} must match "
            f"[A-Za-z_][A-Za-z0-9_]*"
        )
    for f, t in shred["fields"].items():
        if not _FIELD_NAME_RE.fullmatch(f):
            raise ValueError(
                f"shredded field {f!r} must match [A-Za-z_][A-Za-z0-9_]*"
            )
        if not isinstance(t, str) or not _valid_sql_type(t):
            raise ValueError(
                f"shredded field {f!r} type {t!r} is not a plain SQL type "
                f"(it is interpolated into generated DDL; commas/spaces "
                f"are legal only inside balanced parens/angle brackets)"
            )
    return shred


def _ddl_columns(ddl: str) -> dict[str, str]:
    """Parse a schema_ddl string this module GENERATED back into
    ``{name: type}``.  Split on commas that precede a backticked name —
    commas inside parameterized types (decimal(10,2)) don't."""
    out: dict[str, str] = {}
    for part in re.split(r",\s*(?=`)", ddl):
        m = re.fullmatch(r"`([^`]+)`\s+(.+)", part.strip())
        if m:
            out[m.group(1)] = m.group(2).strip()
    return out


def shred_col_name(column: str, field: str) -> str:
    return f"_shred_{column}_{field}"


def shred_expr(column: str, field: str, dtype: str):
    """The ONE extraction expression both the write-time shred and the
    read-time raw fallback evaluate: parse the JSON string into the
    VARIANT encoding, extract the typed field.  try_parse_json keeps a
    malformed row a NULL field instead of a failed job (matching SQL
    json_extract semantics)."""
    return F.variant_get(F.try_parse_json(F.col(column)), f"$.{field}", dtype)


def apply_shred(df: DataFrame, shred: dict) -> DataFrame:
    """Materialize the shredded columns beside the raw column (write
    path).  Idempotent per field name; the raw column is kept verbatim
    so un-shredded fields stay readable forever."""
    col = shred["column"]
    if col not in df.columns:
        raise ValueError(f"shred column {col!r} not in DataFrame")
    for field, dtype in shred["fields"].items():
        df = df.withColumn(
            shred_col_name(col, field), shred_expr(col, field, dtype)
        )
    return df


def _repair_shred_columns(full: DataFrame, spec: dict) -> DataFrame:
    """Repair lazily-evolved shred fields during a FULL rewrite
    (compaction, rebucket): a field added by evolve_shred is NULL in
    pre-evolution files (parquet missing-column read) — re-derive it
    from the raw JSON so the rewritten generation is fully covered and
    routed reads drop the coalesce path.  Rewrites that skip this
    repair would physically materialize all-NULL columns, flip
    covered_fields to true, and silently corrupt routed reads (review
    finding on the rebucket path)."""
    shred = spec.get("shred")
    if not shred:
        return full
    scol = shred["column"]
    for fname, ftype in shred["fields"].items():
        cname = shred_col_name(scol, fname)
        full = full.withColumn(
            cname, F.coalesce(F.col(cname), shred_expr(scol, fname, ftype))
        )
    return full


def _shred_file_stats(
    gen_dir: str,
    files: list[str],
    shred: dict | None,
    carry: dict | None = None,
) -> dict:
    """Per-file footer stats for every shredded column:
    ``{file: {field: [min, max, null_count]}}`` — O(files) metadata
    reads, no data scan.  Hard-linked files inherit via ``carry`` (same
    inode, same footer).  Same JSON-clean-scalars-only policy as
    _file_stats; a field without clean stats gets min/max None (its
    null_count is still recorded when available) and the pruner then
    always keeps the file."""
    if not shred:
        return {}
    import pyarrow.parquet as pq
    from pyarrow.lib import ArrowNotImplementedError

    cols = {shred_col_name(shred["column"], f): f for f in shred["fields"]}
    out: dict[str, dict] = {}
    for fn in files:
        if carry and fn in carry:
            out[fn] = carry[fn]
            continue
        try:
            md = pq.ParquetFile(os.path.join(gen_dir, fn)).metadata
        except (OSError, ValueError):  # ArrowInvalid is a ValueError
            continue
        idx = {
            md.schema.column(i).name: i
            for i in range(md.num_columns)
            if md.schema.column(i).name in cols
        }
        per_field: dict[str, list] = {}
        for cname, field in cols.items():
            if cname not in idx:
                continue
            mn = mx = None
            nnull: int | None = 0
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[cname]).statistics
                if st is None:
                    ok = False
                    break
                if st.null_count is None:
                    # a partial sum would lie: one statless row group
                    # makes the whole file's null count unknown
                    nnull = None
                elif nnull is not None:
                    nnull += st.null_count
                try:
                    if st.has_min_max:
                        if mn is None or st.min < mn:
                            mn = st.min
                        if mx is None or st.max > mx:
                            mx = st.max
                except (NotImplementedError, ArrowNotImplementedError):
                    # pyarrow cannot extract min/max for some logical
                    # types (decimal): degrade to no-range — the file
                    # is then never pruned, null counts still count
                    mn = mx = None
            clean = (
                ok
                and type(mn) in (int, float, str)
                and type(mx) in (int, float, str)
            )
            per_field[field] = [mn if clean else None,
                                mx if clean else None,
                                int(nnull) if ok and nnull is not None
                                else None]
        if per_field:
            out[fn] = per_field
    return out


def _shred_field_summary(shred_stats: dict, shred: dict | None) -> dict:
    """Manifest-level rollup of the per-file shred stats:
    ``{field: {"min": m, "max": M, "n_nulls": N}}`` (n_nulls is None
    when any file lacked a null count — a partial sum would lie)."""
    if not shred:
        return {}
    out: dict[str, dict] = {}
    for field in shred["fields"]:
        mn = mx = None
        nn: int | None = 0
        for per_field in shred_stats.values():
            s = per_field.get(field)
            if s is None:
                nn = None
                continue
            fmn, fmx, fnn = s
            if fmn is not None and (mn is None or fmn < mn):
                mn = fmn
            if fmx is not None and (mx is None or fmx > mx):
                mx = fmx
            if nn is not None:
                nn = None if fnn is None else nn + fnn
        out[field] = {"min": mn, "max": mx, "n_nulls": nn}
    return out


def shred_pruned_files(
    manifest: dict, field: str, *, lower=None, upper=None
) -> list[str]:
    """Manifest file names whose [min, max] on the SHREDDED ``field``
    can intersect [lower, upper]; files without stats for the field are
    always kept (skipping is an optimization, never a filter).  NULL
    field values carry no min/max, so a file of matches-plus-nulls is
    kept by its non-null range and an all-null file by the no-stats
    rule — compose with a real filter, which also settles the rows."""
    stats = manifest.get("shred_stats", {})

    def keep(fn: str) -> bool:
        s = stats.get(fn, {}).get(field)
        if s is None:
            return True
        mn, mx, _ = s
        if mn is None or mx is None:
            return True
        if lower is not None and mx < lower:
            return False
        if upper is not None and mn > upper:
            return False
        return True

    return [fn for fn in manifest["files"] if keep(fn)]


def covered_fields(manifest: dict, files: list[str] | None = None) -> set[str]:
    """Shredded fields whose materialized column exists in EVERY file
    of the read set (shred_stats records a per-file entry exactly when
    the column is physically present in that file's schema).  A field
    added by evolve_shred is uncovered until a compaction rewrites the
    old files — reads use the coalesce repair path until then."""
    shred = manifest.get("shred") or {}
    stats = manifest.get("shred_stats", {})
    fns = manifest["files"] if files is None else files
    return {
        f for f in shred.get("fields", {})
        if all(fn in stats and f in stats[fn] for fn in fns)
    }


def _routed_projection(
    df: DataFrame, shred: dict | None, fields: dict[str, str],
    base_cols: list[str],
    covered: set[str] | None = None,
) -> DataFrame:
    """The read router: each requested field resolves to its stored
    shredded column when the spec covers it WITH the same type, else to
    the raw-fallback expression over the JSON column.  Identical
    semantics either way (same expression, different evaluation time).

    ``covered`` (from covered_fields): a spec'd field whose column is
    MISSING from some files of the read set — the lazy window after an
    evolve_shred, before compaction materializes it everywhere — takes
    ``coalesce(stored, fallback)``: files with the column read it (a
    parquet reader returns NULL for a column absent from a file, never
    an error), files without it re-parse the raw JSON.  Correct in
    every case: a genuinely-NULL field falls through to the fallback,
    which parses the raw payload and returns the same NULL."""
    shredded = (shred or {}).get("fields", {})
    col = (shred or {}).get("column")
    out = list(base_cols)
    for field, dtype in fields.items():
        if col is not None and shredded.get(field) == dtype:
            stored = F.col(shred_col_name(col, field))
            if covered is None or field in covered:
                out.append(stored.alias(field))
            else:
                out.append(
                    F.coalesce(stored, shred_expr(col, field, dtype))
                    .alias(field)
                )
        else:
            src = col if col is not None else None
            if src is None:
                raise ValueError(
                    f"field {field!r} is not shredded and the table has "
                    f"no shred column to fall back to"
                )
            out.append(shred_expr(src, field, dtype).alias(field))
    return df.select(*out)


def read_manifest_table_shredded(
    spark: SparkSession,
    root: str,
    table: str,
    fields: dict[str, str],
    *,
    base_cols: str | list[str] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Routed snapshot read: ``fields`` maps requested JSON field names
    to their types; shredded fields come from the materialized columns
    (the raw JSON column is NOT in the projection — column pruning
    keeps it out of the scan entirely, plan-guarded), un-shredded
    fields fall back to parse-at-read over the raw column.  Goes
    through the generation's catalog entry, so an all-shredded
    projection keeps the bucketed output partitioning."""
    m = read_manifest(root, table, version)
    base = [base_cols] if isinstance(base_cols, str) else list(base_cols or [])
    return _routed_projection(
        read_manifest_table(spark, root, table, version),
        m.get("shred"), fields, base,
        covered=covered_fields(m),
    )


def read_manifest_table_shred_pruned(
    spark: SparkSession,
    root: str,
    table: str,
    fields: dict[str, str],
    *,
    prune_field: str,
    lower=None,
    upper=None,
    base_cols: str | list[str] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Routed read restricted to files whose shredded ``prune_field``
    range can intersect [lower, upper] — the shred stats prune whole
    files at PLANNING time, then the routed projection keeps the raw
    JSON out of the scan when every requested field is shredded.  Same
    contract as read_manifest_table_pruned: stats prune files, not
    rows; compose with a real filter (which parquet pushes down into
    the surviving files' row groups — the shredded column is a plain
    typed column, so the filter reaches the scan, unlike a
    get_json_object predicate)."""
    m = read_manifest(root, table, version)
    if prune_field not in (m.get("shred") or {}).get("fields", {}):
        raise ValueError(
            f"prune_field {prune_field!r} is not a shredded field of {table}"
        )
    kept = shred_pruned_files(m, prune_field, lower=lower, upper=upper)
    base = [base_cols] if isinstance(base_cols, str) else list(base_cols or [])
    return _routed_projection(
        _read_files(spark, root, table, m, kept), m.get("shred"), fields,
        base, covered=covered_fields(m, kept),
    )


def drop_catalog_entries(spark: SparkSession, root: str, table: str) -> None:
    """Drop every catalog entry this (root, table) registered in the
    session — cleanup for ephemeral tables built in temp dirs (the
    data dirs are the caller's to remove)."""
    tag = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:8]
    # the catalog stores identifiers lowercased — compare lowercased or
    # a mixed-case table name's entries are never matched (review
    # finding)
    prefix = f"cm_mf_{table}_{tag}_g".lower()
    for t in spark.catalog.listTables():
        if t.name.lower().startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _file_stats(
    gen_dir: str,
    files: list[str],
    sort_cols: list[str],
    carry: dict | None = None,
) -> dict:
    """Per-file [min, max] of the FIRST sort column, straight from the
    parquet footers (row-group statistics — O(files) metadata reads,
    no data scan).  Hard-linked files inherit their stats from the
    parent manifest via ``carry`` (same inode, same footer).  Only
    JSON-clean scalar types (int/float/str) are recorded; a file whose
    stats are absent or exotic simply gets no entry — the pruner then
    always keeps it (skipping is an optimization, never a filter)."""
    if not sort_cols:
        return {}
    import pyarrow.parquet as pq

    col = sort_cols[0]
    out: dict[str, list] = {}
    for f in files:
        if carry and f in carry:
            out[f] = carry[f]
            continue
        try:
            md = pq.ParquetFile(os.path.join(gen_dir, f)).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).name == col
            )
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no row-group stats")
                mn = st.min if mn is None or st.min < mn else mn
                mx = st.max if mx is None or st.max > mx else mx
            if (
                mn is not None
                and type(mn) in (int, float, str)
                and type(mx) in (int, float, str)
            ):
                out[f] = [mn, mx]
        except (OSError, ValueError, StopIteration):
            continue
    return out


def _size_stats(
    gen_dir: str,
    files: list[str],
    carry: dict | None = None,
) -> dict:
    """Per-file ``[rows, disk_bytes, uncompressed_bytes]`` straight
    from the parquet footers and os.stat — O(files) METADATA reads, no
    column data touched (r10 verdict #2: table statistics for the
    optimizer must come from manifest truth, and be free to record).
    ``uncompressed_bytes`` sums the row groups' total_byte_size — the
    in-memory size proxy the broadcast decision needs, which the
    on-disk size systematically understates for dictionary/RLE-friendly
    columns (a 10×-compressed 9 MB file is a 90 MB broadcast).
    Hard-linked files inherit via ``carry`` (same inode, same footer)."""
    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    for fn in files:
        if carry and fn in carry:
            out[fn] = carry[fn]
            continue
        path = os.path.join(gen_dir, fn)
        try:
            md = pq.ParquetFile(path).metadata
            disk = os.stat(path).st_size
        except (OSError, ValueError):
            # pyarrow raises ArrowInvalid (a ValueError) for corrupt/
            # truncated footers — the degrade contract is "no entry,
            # no hint", never a failed publish (review finding)
            continue
        unc = sum(
            md.row_group(i).total_byte_size for i in range(md.num_row_groups)
        )
        out[fn] = [md.num_rows, disk, unc]
    return out


# per-type in-memory widths, the same defaults Spark's CBO assumes
# (strings/binary/complex: 20).  Used with the manifest's EXACT row
# count — the part of the estimate Spark's file-size guess lacks.
_TYPE_WIDTHS = {
    "bigint": 8, "long": 8, "double": 8, "timestamp": 8,
    "timestamp_ntz": 8, "decimal": 16, "date": 4, "int": 4,
    "integer": 4, "float": 4, "smallint": 2, "tinyint": 1, "boolean": 1,
}


def _schema_row_width(schema_ddl: str) -> int:
    width = 8  # per-tuple overhead
    for _, t in _ddl_columns(schema_ddl).items():
        base = t.split("(")[0].split("<")[0].strip().lower()
        width += _TYPE_WIDTHS.get(base, 20)
    return width


def _size_rollup(size_stats: dict, n_files: int, schema_ddl: str) -> dict | None:
    """Manifest-level totals of the per-file size stats.  None when
    any file lacks an entry — a partial row count would lie to the
    planner, and absent stats must degrade to no-hint, never to a
    wrong hint.

    ``in_memory_est`` is what a broadcast of this table would
    actually ship: parquet's footer "uncompressed" size is measured
    AFTER dictionary/RLE encoding, so it too understates the decoded
    rows — take the max of it and row_count × CBO-style row width."""
    if len(size_stats) != n_files:
        return None
    rows = sum(v[0] for v in size_stats.values())
    unc = sum(v[2] for v in size_stats.values())
    return {
        "row_count": rows,
        "total_bytes": sum(v[1] for v in size_stats.values()),
        "uncompressed_bytes": unc,
        "in_memory_est": max(unc, rows * _schema_row_width(schema_ddl)),
    }


def pruned_files(
    manifest: dict, *, lower=None, upper=None
) -> list[str]:
    """The manifest's file names whose [min, max] range on the first
    sort column can intersect [lower, upper] (None = unbounded); files
    without stats are always kept.  This is the data-skipping the
    manifest records at publish time — the planner-side twin of
    parquet row-group skipping, pruning whole files before any footer
    is even opened."""
    stats = manifest.get("file_stats", {})

    def keep(f: str) -> bool:
        s = stats.get(f)
        if s is None:
            return True
        mn, mx = s
        if lower is not None and mx < lower:
            return False
        if upper is not None and mn > upper:
            return False
        return True

    return [f for f in manifest["files"] if keep(f)]


def files_per_bucket(manifest: dict) -> dict[int, int]:
    """Bucket id → file count, from the manifest's file list (the
    bucket id Spark embeds in every bucketed file name)."""
    out: dict[int, int] = {}
    for f in manifest["files"]:
        m = _BUCKET_RE.search(f)
        if m:
            b = int(m.group(1))
            out[b] = out.get(b, 0) + 1
    return out


def _write_generation(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    table: str,
    version: int,
    spec: dict,
    *,
    link_from: dict | None = None,
    mode: str = "append",
    link_files: list[str] | None = None,
) -> dict:
    """Materialize generation ``version``: hard-link the parent
    snapshot's files (if any; ``link_files`` restricts the linked
    subset — the copy-on-write rewrite path links only UNTOUCHED
    files), register the external bucketed table, insert ``df``, and
    return the UNPUBLISHED manifest.

    Crash recovery (single-writer contract): a generation dir whose
    version was never published is the debris of a failed append or
    compaction — it is invisible to every reader (resolution goes
    through manifests only), so the retry DELETES and rebuilds it
    instead of wedging the table forever on makedirs(exist_ok=False)."""
    gen_rel = f"gen-{version:05d}"
    gen_dir = os.path.join(_table_dir(root, table), gen_rel)
    if os.path.exists(gen_dir):
        # published means LATEST REACHED this version — NOT "a
        # manifest file exists": a crash between the manifest write
        # and the LATEST swap leaves manifest-v on disk with LATEST
        # still at v-1, and that generation must be rebuildable or the
        # table wedges forever (review finding)
        try:
            published = current_version(root, table) >= version
        except FileNotFoundError:
            published = False
        if not published and version in _all_txn_pins(root, table):
            # committed via the transaction CATALOG (the commit point)
            # with the per-table LATEST swap lost to a crash: the data
            # is live for atomic readers — deleting it would destroy a
            # committed transaction.  Writers roll LATEST forward and
            # retry (see the pinned-version check in their loops).
            published = True
        if published:
            raise FileExistsError(
                f"{table} generation {version} is already published — "
                f"generations are immutable"
            )
        shutil.rmtree(gen_dir)
    os.makedirs(gen_dir, exist_ok=False)  # generations are immutable
    if link_from is not None:
        src_dir = os.path.join(_table_dir(root, table), link_from["generation"])
        to_link = (
            link_from["files"] if link_files is None else list(link_files)
        )
        for f in to_link:
            try:
                os.link(os.path.join(src_dir, f), os.path.join(gen_dir, f))
            except OSError:
                # cross-device fallback: copy
                shutil.copy2(os.path.join(src_dir, f), os.path.join(gen_dir, f))

    name = _catalog_name(root, table, version)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    n, cols, sort = spec["num_buckets"], spec["bucket_cols"], spec["sort_cols"]
    # cluster INTO the bucket spec: one file per bucket per insert
    # (see bucketed.write_bucketed for why)
    writer = (
        df.repartition(n, *cols)
        .write.format("parquet")
        .bucketBy(n, *cols)
    )
    if sort:
        writer = writer.sortBy(*sort)
    if link_from is None:
        # fresh generation: CTAS-style external create at the dir
        writer.option("path", gen_dir).mode(mode).saveAsTable(name)
    else:
        # linked generation: REGISTER the external table over the
        # hard-linked files first, then append the batch into the
        # existing table — a create-with-path here would run CTAS
        # and clobber the linked snapshot (observed, not
        # hypothetical: the appends silently became replacements)
        _register(spark, root, table,
                  dict(spec, version=version, generation=gen_rel))
        writer.mode("append").saveAsTable(name)
    files = _data_files(gen_dir)
    shred = spec.get("shred")
    shred_stats = _shred_file_stats(
        gen_dir, files, shred,
        carry=link_from.get("shred_stats") if link_from else None,
    )
    size_stats = _size_stats(
        gen_dir, files,
        carry=link_from.get("size_stats") if link_from else None,
    )
    # deletion vectors follow their files: a hard-linked file keeps its
    # vector (same bytes, same positions); a REWRITTEN file's vector is
    # dropped — the rewrite read applied it, the deletes are physical
    # now.  New files never have one.
    file_set = set(files)
    carried_dvs = {
        f: ps
        for f, ps in (link_from.get("delete_vectors") or {}).items()
        if f in file_set
    } if link_from else {}
    return {
        "table": table,
        "version": version,
        "generation": gen_rel,
        "parent": None if link_from is None else link_from["version"],
        "bucket_cols": spec["bucket_cols"],
        "num_buckets": spec["num_buckets"],
        "sort_cols": spec["sort_cols"],
        "schema_ddl": spec["schema_ddl"],
        "shred": shred,
        "files": files,
        "file_stats": _file_stats(
            gen_dir, files, spec["sort_cols"],
            carry=link_from.get("file_stats") if link_from else None,
        ),
        "shred_stats": shred_stats,
        "shred_field_stats": _shred_field_summary(shred_stats, shred),
        "size_stats": size_stats,
        "size_rollup": _size_rollup(size_stats, len(files),
                                    spec["schema_ddl"]),
        "delete_vectors": carried_dvs,
        "dv_positions": sum(len(ps) for ps in carried_dvs.values()),
        "point_filters": spec.get("point_filters"),
        "point_filter_stats": _point_filter_stats(
            spark, gen_dir, files, spec.get("point_filters"),
            carry=link_from.get("point_filter_stats") if link_from else None,
        ),
    }


def _register(spark: SparkSession, root: str, table: str, m: dict) -> str:
    """Idempotently register snapshot ``m``'s generation as an external
    bucketed catalog table (readers on another SparkSession arrive
    here; the writer's saveAsTable already registered its own).  The
    data directory is ``m["generation"]`` — a metadata-only generation
    (evolve_shred, delete_mor) SHARES its parent's directory, so the
    dir name cannot be derived from the version."""
    name = _catalog_name(root, table, m["version"])
    if spark.catalog.tableExists(name):
        return name
    gen_dir = os.path.join(_table_dir(root, table), m["generation"])
    cols = ", ".join(f"`{c}`" for c in m["bucket_cols"])
    sorted_by = (
        ("SORTED BY (" + ", ".join(f"`{c}`" for c in m["sort_cols"]) + ") ")
        if m["sort_cols"]
        else ""
    )
    spark.sql(
        f"CREATE TABLE {name} ({m['schema_ddl']}) USING parquet "
        f"CLUSTERED BY ({cols}) {sorted_by}"
        f"INTO {m['num_buckets']} BUCKETS "
        f"LOCATION '{gen_dir}'"
    )
    return name


def _spec_of(m: dict) -> dict:
    """The layout spec a manifest carries — what the next generation
    written on top of it inherits."""
    return {k: m.get(k) for k in ("bucket_cols", "num_buckets", "sort_cols",
                                  "schema_ddl", "shred", "point_filters")}


def _scan_files(
    spark: SparkSession, root: str, table: str, m: dict, files: list[str]
) -> DataFrame:
    """Raw parquet scan of ``files`` (names in snapshot ``m``'s
    generation) under m's registered schema — a FILE scan, so
    ``_metadata`` resolves, and no catalog bucketing claim.  A catalog
    read claims HashPartitioning(bucket cols, n), so the optimizer
    elides a re-clustering repartition on top of it — and then the
    adaptive autoBucketedScan (which disables bucketed scans no
    operator needs) runs a plain size-split scan whose tasks mix
    buckets, fanning a "compacted" write back out to many files per
    bucket.  An empty list reads as an empty frame of that schema."""
    schema = spark.table(_register(spark, root, table, m)).schema
    if not files:
        return local_frame(spark, [], schema)
    gen_dir = os.path.join(_table_dir(root, table), m["generation"])
    return spark.read.schema(schema).parquet(
        *[os.path.join(gen_dir, f) for f in files]
    )


def _read_files(
    spark: SparkSession, root: str, table: str, m: dict, files: list[str]
) -> DataFrame:
    """The live rows of ``files`` of snapshot ``m``: _scan_files with
    m's deletion vectors applied — the one reader behind every pruned
    read and every rewrite of existing files."""
    df = _scan_files(spark, root, table, m, files)
    return _dv_filter(spark, df, m) if files else df


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def create_manifest_table(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    table: str,
    *,
    bucket_cols: str | list[str],
    num_buckets: int,
    sort_cols: str | list[str] | None = None,
    shred: dict | None = None,
    point_filter_cols: str | list[str] | None = None,
) -> int:
    """Write generation 0 and publish manifest 0.  Returns the
    version (0).  ``shred`` materializes typed JSON fields beside the
    raw column (see the shredding section above); the spec is recorded
    in every manifest and re-applied to appended batches.
    ``point_filter_cols`` records a per-file Bloom filter for each
    named column at every publish (int/string columns only) — the
    point-lookup analog of the sort-column min/max stats."""
    _check_table_name(table)
    if shred is not None:
        df = apply_shred(df, _check_shred(shred))
    point_filters = None
    if point_filter_cols is not None:
        cols = ([point_filter_cols] if isinstance(point_filter_cols, str)
                else list(point_filter_cols))
        by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        for c in cols:
            t = by_name.get(c)
            if t is None:
                raise ValueError(f"point filter column {c!r} not in schema")
            if t not in ("string", "int", "bigint", "smallint",
                         "tinyint"):
                raise ValueError(
                    f"point filter column {c!r} has type {t} — only "
                    f"int/string columns have a canonical hash form"
                )
        point_filters = {"cols": cols, "hashes": _BLOOM_HASHES}
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    if sort_cols is None:
        sort_cols = []
    elif isinstance(sort_cols, str):
        sort_cols = [sort_cols]
    spec = {
        "bucket_cols": bucket_cols,
        "num_buckets": num_buckets,
        "sort_cols": list(sort_cols),
        "schema_ddl": _schema_ddl(df),
        "shred": shred,
        "point_filters": point_filters,
    }
    _acquire_claim(root, table, 0)
    try:
        manifest = _write_generation(
            spark, df, root, table, 0, spec, mode="errorifexists"
        )
        # birth the batch-id index: every later publish maintains it,
        # making _batch_id_published O(1) on this chain
        _with_recent_batch_ids(manifest, None, None)
        _publish(root, table, manifest)
    finally:
        _release_claim(root, table, 0)
    return 0


_RECENT_BATCH_IDS_CAP = 256
# manifests (or txn catalogs) a batch-id chain walk reads before it
# gives up and logs the truncation
_BATCH_ID_WALK_LIMIT = 256


def _with_recent_batch_ids(
    manifest: dict, prev: dict | None, batch_id: str | None
) -> None:
    """Stamp ``batch_id`` on the manifest AND maintain the bounded
    ``recent_batch_ids`` index — [[batch_id, version], ...], newest
    last, capped at _RECENT_BATCH_IDS_CAP — that makes the common
    ``_batch_id_published`` lookup O(1) instead of a manifest-chain
    walk (r11 verdict #6).  Every publish path must stamp through
    here (enforced at write time by _write_manifest_file): a manifest
    carrying a batch_id the index misses would let the fast path
    wrongly report the batch unpublished and double-apply it.

    The index is only maintained on chains that have it from birth
    (prev carries the key, or this is generation 0): on a pre-feature
    chain the key stays absent and lookups keep the full walk — a
    fresh index there would misreport older batches as unpublished."""
    if batch_id is not None:
        manifest["batch_id"] = batch_id
    if prev is None:
        recent: list = []
    elif "recent_batch_ids" in prev:
        recent = [list(e) for e in prev["recent_batch_ids"]]
    else:
        return  # pre-feature chain: stay walk-only
    if batch_id is not None:
        recent.append([batch_id, manifest["version"]])
    manifest["recent_batch_ids"] = recent[-_RECENT_BATCH_IDS_CAP:]


def _batch_id_published(root: str, table: str, batch_id: str) -> int | None:
    """Was ``batch_id`` already published, and at which version?  The
    head manifest's ``recent_batch_ids`` index answers O(1) on the
    common path (newest entry wins — a compaction re-stamps its
    commit's id at the compacted version, matching what the walk's
    head-first order returned): a HIT returns the landed version, and
    a MISS on an index shorter than its cap is authoritative — the
    index then lists EVERY batch-id publish since generation 0.  Only
    a cap-saturated index (or a pre-feature chain without one) falls
    back to the head-first chain walk, which survives OTHER writers
    landing between a crash and the retry (head-only comparison would
    miss it and double-apply).  The walk is bounded by retention
    anyway (expired manifests end it); hitting the explicit cap is
    logged because a truncated search weakens exactly-once — size
    retention/_BATCH_ID_WALK_LIMIT to the worst-case number of
    publishes between a crash and its replay."""
    try:
        v = current_version(root, table)
    except FileNotFoundError:
        return None
    try:
        head = read_manifest(root, table, v)
    except FileNotFoundError:
        return None
    recent = head.get("recent_batch_ids")
    if recent is not None:
        for bid, ver in reversed(recent):
            if bid == batch_id:
                return int(ver)
        if len(recent) < _RECENT_BATCH_IDS_CAP:
            return None  # complete index: authoritative miss
        # saturated index: the batch could predate the window — walk
    for _ in range(_BATCH_ID_WALK_LIMIT):
        try:
            m = read_manifest(root, table, v)
        except FileNotFoundError:
            return None
        if m.get("batch_id") == batch_id:
            # the LANDED version, not the current head: a replayed
            # caller that pins versions (commit_multi_table) must see
            # where its batch actually lives — returning the head here
            # would let a replay pin another in-flight transaction's
            # half-published data (review finding)
            return m["version"]
        if m.get("parent") is None:
            return None
        v = m["parent"]
    import logging

    logging.getLogger(__name__).warning(
        "%s: batch_id search truncated at %d manifests — a replayed "
        "batch older than that could double-apply", table,
        _BATCH_ID_WALK_LIMIT,
    )
    return None


def append_manifest_table(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    table: str,
    *,
    compact_files_per_bucket: int = 8,
    batch_id: str | None = None,
) -> int:
    """Append ``df`` as a NEW snapshot (previous files hard-linked, the
    batch inserted beside them, manifest + LATEST swapped atomically),
    then compact into a further generation when any bucket exceeds
    ``compact_files_per_bucket`` files.  Readers holding older
    versions are never disturbed — their directories are immutable
    until expired.  Returns the published version.

    ``batch_id`` makes the retry-after-crash loop safe END TO END: the
    id is recorded in the published manifest (and carried through a
    compaction of the same commit), and an append whose batch_id
    matches the CURRENT manifest's is a no-op returning the published
    version.  Without it, a crash in the post-publish compaction
    window followed by the documented retry would append the batch a
    second time — exactly-once callers (e.g. a foreachBatch sink)
    should always pass their batch identifier.

    CONCURRENT writers serialize (round 10): each generation is owned
    by exactly one writer via a link-CAS claim file; a writer that loses
    the claim (or whose parent goes stale between read and claim) waits
    on the competitor's progress and retries on top of its published
    snapshot, up to _MAX_RETRIES times (_claim_next) — both batches
    always land, in some serial order, and a reader never sees a
    mixture (every published manifest's parent chain is a real
    snapshot).  Claims with a dead owner pid are crashed-writer debris
    and are taken over.

    Scale shape: the append shuffles ONLY the new batch (one clustered
    exchange); linking is O(existing files) metadata work; compaction
    is the amortized full rewrite, published by a pointer replace, not
    a catalog rename."""
    prev, landed = _claim_next(root, table, batch_id=batch_id)
    if landed is not None:
        return landed
    v = prev["version"] + 1
    try:
        manifest = _write_generation(
            spark, _shaped_batch(df, prev, table), root, table, v,
            _spec_of(prev), link_from=prev,
        )
        _with_recent_batch_ids(manifest, prev, batch_id)
        _publish(root, table, manifest)
    finally:
        _release_claim(root, table, v)
    return _maybe_compact(spark, root, table, manifest, batch_id,
                          compact_files_per_bucket)


def _maybe_compact(
    spark: SparkSession,
    root: str,
    table: str,
    manifest: dict,
    batch_id: str | None,
    compact_files_per_bucket: int,
) -> int:
    """Compact the just-published ``manifest`` into a further
    generation when any bucket exceeds ``compact_files_per_bucket``
    files — the amortized full rewrite shared by the append and
    merge-on-read upsert paths (the MoR write keeps adding one file
    per touched bucket per commit; the compaction is what folds the
    delta files AND materializes pending deletion vectors, bounding
    the read-side tax).  Returns the final published version."""
    v = manifest["version"]
    per_bucket = files_per_bucket(manifest)
    if not per_bucket or max(per_bucket.values()) <= compact_files_per_bucket:
        return v
    # compaction = next generation: read the RAW snapshot files (a
    # catalog read would claim the bucket partitioning and let the
    # optimizer elide the re-clustering shuffle) and materialize
    # pending deletion vectors — the fresh generation starts
    # vector-free
    spec = _spec_of(manifest)
    full = _repair_shred_columns(
        _read_files(spark, root, table, manifest, manifest["files"]), spec
    )
    v2 = v + 1
    try:
        _acquire_claim(root, table, v2)
    except ConcurrentWriteError:
        # a competitor is already appending on top of our snapshot:
        # skip the compaction — the file bound re-fires on a later
        # append and compacts then (amortization only deferred)
        return v
    try:
        if current_version(root, table) != v:
            return v
        compacted = _write_generation(
            spark, full, root, table, v2, spec, mode="errorifexists"
        )
        compacted["parent"] = v
        compacted["compacted_from"] = v
        # the compaction is part of the same logical commit: keep
        # the batch id visible (and indexed at the COMPACTED
        # version — newest entry wins) so a retry still
        # short-circuits
        _with_recent_batch_ids(compacted, manifest, batch_id)
        # re-publish with the corrected parent chain
        _publish(root, table, compacted)
    finally:
        _release_claim(root, table, v2)
    return v2


def evolve_shred(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    add: dict[str, str] | None = None,
    remove: list[str] | None = None,
    column: str | None = None,
) -> int:
    """Evolve the shred spec as a METADATA-ONLY generation (round-10
    roadmap #1): the new manifest shares its parent's data directory —
    no file is written, the publish is O(1) — and only the spec (plus
    the schema DDL for newly added fields) changes.

    * ``add``: new fields materialize LAZILY — appended batches carry
      them immediately; pre-evolution files lack the column, so routed
      reads repair with ``coalesce(stored, parse_raw)`` until the next
      compaction rewrites every file (at which point covered_fields
      reports full coverage and reads drop both the coalesce AND the
      raw-column scan).
    * ``remove``: spec-level retirement — reads fall back to
      parse-at-read; the physical column lingers in existing files
      (harmless, pruned from every projection) until compactions cycle
      it out.
    * ``column`` names the JSON column when the table has no shred
      spec yet; otherwise it must match (one shred column per table).

    Re-adding a previously materialized field with a DIFFERENT type is
    rejected: the physical column's parquet type is fixed, and a
    type-changing read belongs in the fallback path (request the field
    with the new type against a spec that does not shred it)."""
    add = dict(add or {})
    remove = list(remove or [])
    if not add and not remove:
        raise ValueError("evolve_shred: nothing to add or remove")
    prev = read_manifest(root, table)
    shred = prev.get("shred")
    if shred is None:
        if not add:
            raise ValueError("cannot remove fields: table has no shred spec")
        if column is None:
            raise ValueError(
                "column is required when the table has no shred spec yet"
            )
        shred = {"column": column, "fields": {}}
    elif column is not None and column != shred["column"]:
        raise ValueError(
            f"table {table} shreds column {shred['column']!r}; "
            f"one shred column per table"
        )
    fields = dict(shred["fields"])
    for f in remove:
        fields.pop(f, None)
    ddl = prev["schema_ddl"]
    ddl_cols = _ddl_columns(ddl)
    for f, t in add.items():
        cname = shred_col_name(shred["column"], f)
        prior = ddl_cols.get(cname)
        if prior is not None and prior != t:
            raise ValueError(
                f"field {f!r} was materialized as {prior}; "
                f"re-adding it as {t} would mistype the stored column"
            )
        if f in fields and fields[f] != t:
            raise ValueError(
                f"field {f!r} already shredded as {fields[f]}; remove it "
                f"first (or keep the type)"
            )
    fields.update(add)
    new_shred = _check_shred({"column": shred["column"], "fields": fields})
    for f, t in fields.items():
        cname = shred_col_name(shred["column"], f)
        if cname not in ddl_cols:
            ddl = f"{ddl}, `{cname}` {t}"
            ddl_cols[cname] = t

    v = prev["version"] + 1
    _acquire_claim(root, table, v)
    try:
        if (current_version(root, table) != prev["version"]
                or _complete_lagging_txn_publish(root, table, v)):
            raise ConcurrentWriteError(
                f"{table}: snapshot advanced past {prev['version']} during "
                f"evolve_shred — re-read and retry"
            )
        _publish(root, table, _metadata_successor(
            prev,
            shred=new_shred,
            schema_ddl=ddl,
            shred_field_stats=_shred_field_summary(
                prev.get("shred_stats", {}), new_shred
            ),
        ))
    finally:
        _release_claim(root, table, v)
    return v


def _metadata_successor(prev: dict, **fields) -> dict:
    """A METADATA-ONLY next generation of ``prev`` (evolve_shred,
    delete_mor): same data directory and files, the parent's one-commit
    stamps dropped, ``fields`` applied."""
    manifest = dict(prev)
    for stale in ("batch_id", "compacted_from", "rebucketed_from",
                  "op", "rewritten_files", "linked_files"):
        manifest.pop(stale, None)
    manifest.update(version=prev["version"] + 1, parent=prev["version"],
                    **fields)
    return manifest


# ---------------------------------------------------------------------------
# Per-file membership filters (round 10): point-lookup file skipping
#
# Min/max footer stats prune RANGE predicates on the sort column; a
# point lookup on any other high-cardinality column (a secondary key)
# gets no help from them.  A small per-file Bloom filter — computed at
# publish from the file's distinct values, carried across hard links
# like every other stat — lets `key = x` skip files with the usual
# Bloom contract: no false negatives (a file containing x is ALWAYS
# kept — deterministic md5 hashing, no RNG), bounded false positives
# (a kept file may lack x; the composed real filter settles rows).
# Iceberg/Parquet bloom filters are this exact idea; here the filter
# lives in the manifest so planning never opens a file.
# ---------------------------------------------------------------------------

# bits are sized PER FILE from the observed distinct count (~10
# bits/value at 4 hashes ≈ 1–2% fp), clamped to [1024, 2^17]; past the
# cap the fill fraction (and fp rate) rises gracefully instead of the
# filter being dropped — a fixed global size saturates to all-ones at
# exactly the cardinalities point lookups target (review finding)
_BLOOM_MIN_BITS = 1024
_BLOOM_MAX_BITS = 1 << 17
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_HASHES = 4


def _bloom_bits_for(n_distinct: int) -> int:
    bits = _BLOOM_MIN_BITS
    while bits < n_distinct * _BLOOM_BITS_PER_VALUE and bits < _BLOOM_MAX_BITS:
        bits <<= 1
    return bits


def _bloom_hashes(value, bits: int, k: int) -> list[int]:
    """Deterministic bit positions for a value: md5 over the value's
    canonical string with a per-hash salt.  int and str values only —
    their str() is canonical; floats are rejected at spec time."""
    s = str(value)
    out = []
    for i in range(k):
        h = hashlib.md5(f"{s}|{i}".encode()).hexdigest()
        out.append(int(h[:12], 16) % bits)
    return out


def _bloom_of_values(values, bits: int, k: int) -> str:
    bitset = 0
    for v in values:
        if v is None:
            continue
        for pos in _bloom_hashes(v, bits, k):
            bitset |= 1 << pos
    return format(bitset, "x")


def bloom_may_contain(bloom_hex: str, value, bits: int, k: int) -> bool:
    bitset = int(bloom_hex, 16) if bloom_hex else 0
    return all((bitset >> pos) & 1 for pos in _bloom_hashes(value, bits, k))


def _point_filter_stats(
    spark: SparkSession,
    gen_dir: str,
    files: list[str],
    spec_pf: dict | None,
    carry: dict | None = None,
) -> dict:
    """Per-file Bloom filters for the spec'd columns:
    ``{file: {col: [bits, hex_bitset]}}``.  Unlike footer stats this
    READS the columns (the publish-time cost the skip buys) — so the
    build is DISTRIBUTED (r10 verdict #1): one Spark job scans only
    the NEW files' spec'd columns, a JVM-side ``collect_set`` per
    (file, column) dedupes before anything crosses into Python, an
    Arrow-batched ``mapInPandas`` folds each distinct set into its
    bitset executor-side, and only the O(files × cols) hex strings
    return to the driver.  The old implementation re-read every new
    file's full column ON THE DRIVER in a serial loop — a publish-time
    scale-killer once an append lands hundreds of files.

    Canonical hash form: values are cast to STRING in the JVM before
    collection — bigint 5 → "5", exactly ``str(5)``, the form
    ``_bloom_hashes`` uses at probe time (and the reason the spec
    restricts filter columns to int/string types).  Going through
    pandas with the native types instead would be a silent corruption:
    Arrow→pandas turns a nullable int64 column into float64, and
    ``str(5.0)`` is not ``str(5)``.

    Hard-linked files inherit via ``carry`` (same inode, same
    content).  If the build job fails, the new files simply get no
    entry — skipping is an optimization, never a filter, so a missing
    bitset degrades point reads to keep-the-file, not to a wrong
    answer."""
    if not spec_pf:
        return {}
    out: dict[str, dict] = {}
    new: list[str] = []
    for fn in files:
        if carry and fn in carry:
            out[fn] = carry[fn]
        else:
            new.append(fn)
    if not new:
        return out
    k = spec_pf["hashes"]
    cols = list(spec_pf["cols"])

    def _run_build(paths: list[str]) -> list:
        distinct = (
            spark.read.parquet(*paths)
            .select(
                F.input_file_name().alias("_file"),
                *[F.col(c).cast("string").alias(c) for c in cols],
            )
            .groupBy("_file")
            .agg(*[F.collect_set(c).alias(c) for c in cols])
        )

        def build(pdfs):
            import pandas as pd

            for pdf in pdfs:
                rows = []
                for _, r in pdf.iterrows():
                    fn = os.path.basename(r["_file"])
                    for c in cols:
                        vals = list(r[c])
                        bits = _bloom_bits_for(len(vals))
                        rows.append(
                            (fn, c, bits, _bloom_of_values(vals, bits, k),
                             len(vals))
                        )
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["file", "col", "bits", "bloom", "ndv"],
                    )

        return distinct.mapInPandas(
            build,
            schema="file string, col string, bits int, bloom string, "
                   "ndv bigint",
        ).collect()

    try:
        built = _run_build([os.path.join(gen_dir, f) for f in new])
    except Exception:
        # ONE bad file must not drop every new file's filter (review
        # finding: the single job is all-or-nothing) — retry per file,
        # still executor-side, losing only the genuinely unreadable
        # ones (which then simply never prune)
        import logging

        built = []
        bad = 0
        for f in new:
            try:
                built.extend(_run_build([os.path.join(gen_dir, f)]))
            except Exception:
                bad += 1
        logging.getLogger(__name__).warning(
            "point-filter build degraded to per-file retries: %d/%d "
            "files unreadable — they get no filter and are never "
            "pruned (reads stay correct)", bad, len(new),
        )
    for r in built:
        # the per-file exact distinct COUNT rides along for free — the
        # manifest's NDV evidence (see column_ndv_bounds)
        out.setdefault(r["file"], {})[r["col"]] = [
            r["bits"], r["bloom"], r["ndv"],
        ]
    return out


def column_ndv_bounds(manifest: dict, col: str) -> tuple[int, int] | None:
    """Hard ``(lower, upper)`` bounds on a point-filter column's table-
    wide distinct count, from the EXACT per-file distinct counts the
    Bloom build records (r10 verdict #2's NDV estimates — manifest
    truth at zero extra cost): the table NDV is at least the largest
    single file's count and at most min(sum over files, row count).
    None when the column has no filter, any file lacks a count (older
    manifests recorded [bits, bloom] only), the table is empty, or
    deletion vectors are pending — a vectored row may hold a value's
    last occurrence, so the recorded per-file counts are no longer a
    LOWER bound on the live table (review finding; the next rewrite
    clears the vectors and restores the bounds)."""
    pf = manifest.get("point_filters")
    if not pf or col not in pf.get("cols", []):
        return None
    if manifest.get("delete_vectors"):
        return None
    stats = manifest.get("point_filter_stats", {})
    counts = []
    for fn in manifest["files"]:
        ent = stats.get(fn, {}).get(col)
        if ent is None or len(ent) < 3:
            return None
        counts.append(ent[2])
    if not counts:
        return None
    upper = sum(counts)
    rollup = manifest.get("size_rollup")
    if rollup:
        upper = min(upper, rollup["row_count"])
    return max(counts), upper


def point_pruned_files(manifest: dict, col: str, value) -> list[str]:
    """Manifest file names whose Bloom filter for ``col`` may contain
    ``value``; files without a filter are always kept (skipping is an
    optimization, never a filter).  NULL probes keep everything (a
    Bloom filter records non-null values only)."""
    pf = manifest.get("point_filters")
    if value is None or not pf or col not in pf.get("cols", []):
        return list(manifest["files"])
    stats = manifest.get("point_filter_stats", {})
    k = pf["hashes"]

    def keep(fn: str) -> bool:
        ent = stats.get(fn, {}).get(col)
        if ent is None:
            return True
        bits, blm = ent[0], ent[1]  # ent[2] (ndv, newer manifests) unused
        return bloom_may_contain(blm, value, bits, k)

    return [fn for fn in manifest["files"] if keep(fn)]


def read_manifest_table_point(
    spark: SparkSession,
    root: str,
    table: str,
    col: str,
    value,
    *,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read restricted to the files whose Bloom filter may
    contain ``col = value``.  Same contract as the other pruned reads:
    filters prune FILES, not rows — compose with the real equality
    filter, which parquet then pushes into the surviving files."""
    m = read_manifest(root, table, version)
    return _read_files(spark, root, table, m, point_pruned_files(m, col, value))


# ---------------------------------------------------------------------------
# Row-level MERGE / DELETE — copy-on-write rewrites (round 10)
#
# The lakehouse write path the append/compact layout was building
# toward: an upsert or delete rewrites ONLY the files that can contain
# affected rows — selected by BUCKET pruning (the update keys' bucket
# ids, exact because bucket placement is pmod(hash(cols), n), the same
# expression repartition/bucketBy use) or by the manifest's sort-column
# file stats for range deletes — and hard-links every untouched file
# into the new generation.  At 100 TB an upsert of one customer's rows
# rewrites a handful of bucket files, not the table; readers keep
# snapshot isolation through the same manifest/pointer machinery, and
# the claim CAS serializes rewrites against appends and each other.
# ---------------------------------------------------------------------------


def spark_bucket_id(num_buckets: int, *cols):
    """The bucket id Spark assigns a row: ``pmod(hash(cols), n)`` —
    the same Murmur3 expression ``repartition(n, cols)`` and the
    bucketed writer use (the equivalence write_bucketed relies on)."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(num_buckets))


def _file_bucket(fname: str) -> int | None:
    m = _BUCKET_RE.search(fname)
    return int(m.group(1)) if m else None


def _cow_rewrite(
    spark: SparkSession,
    root: str,
    table: str,
    select_touched,
    transform,
    op: str,
    *,
    batch_id: str | None = None,
) -> int:
    """Shared copy-on-write engine: ``select_touched(manifest) ->
    [file, ...]`` names the files that may contain affected rows;
    ``transform(old_rows, manifest) -> new_rows`` produces the touched
    region's replacement content (physical schema).  Untouched files hard-link;
    the manifest records the rewrite ratio for observability.
    ``batch_id`` gives rewrites the same exactly-once replay contract
    as appends (manifest-chain dedupe)."""
    prev, landed = _claim_next(root, table, batch_id=batch_id)
    if landed is not None:
        return landed  # same landed-version contract as append
    v = prev["version"] + 1
    try:
        manifest = _rewrite_generation(
            spark, root, table, v, prev, list(select_touched(prev)),
            transform, op,
        )
        _with_recent_batch_ids(manifest, prev, batch_id)
        _publish(root, table, manifest)
    finally:
        _release_claim(root, table, v)
    return v


def _rewrite_generation(
    spark: SparkSession,
    root: str,
    table: str,
    v: int,
    prev: dict,
    touched: list[str],
    transform,
    op: str,
) -> dict:
    """The copy-on-write rewrite body shared by _cow_rewrite (single
    table, caller publishes) and commit_multi_table's staged merges
    (transactional, caller stages): read the touched region,
    transform, and write generation ``v`` with the untouched files
    hard-linked.  Returns the UNPUBLISHED manifest carrying the
    rewrite-ratio stamps."""
    touched_set = set(touched)
    untouched = [f for f in prev["files"] if f not in touched_set]
    spec = _spec_of(prev)
    # the touched files' deletion vectors apply BEFORE the transform —
    # a vectored row must not survive into the rewritten region (it
    # would resurrect a deleted row)
    new_rows = transform(_read_files(spark, root, table, prev, touched), prev)
    # repair lazily-evolved shred fields in the REWRITTEN region:
    # surviving rows from pre-evolution files carry NULL in an added
    # field's physical column — writing them back unrepaired would
    # materialize the NULLs, flip covered_fields to true, and
    # silently corrupt routed reads (review finding, reproduced live;
    # same rule as compaction and rebucket)
    new_rows = _repair_shred_columns(new_rows, spec)
    manifest = _write_generation(
        spark, new_rows, root, table, v, spec,
        link_from=prev, link_files=untouched,
    )
    manifest["op"] = op
    manifest["rewritten_files"] = len(touched)
    manifest["linked_files"] = len(untouched)
    return manifest


def _shaped_batch(df: DataFrame, prev: dict, table: str) -> DataFrame:
    """An incoming LOGICAL-shape batch brought to the table's physical
    schema (shred materialization + retired-column padding via
    _physical_shape), with the bucket/sort columns verified present —
    the shared shaping step of append_manifest_table and the staged
    multi-table commit."""
    base = _physical_shape(df, prev)
    missing = [c for c in prev["bucket_cols"] + prev["sort_cols"]
               if c not in base.columns]
    if missing:
        raise ValueError(
            f"append to {table} is missing bucket/sort columns {missing}"
        )
    return base


def _physical_shape(df: DataFrame, prev: dict) -> DataFrame:
    """Bring a LOGICAL-shape frame to the table's physical schema:
    materialize the shred spec's columns and pad retired ones with
    typed NULLs (same rules as append_manifest_table)."""
    shred = prev.get("shred")
    if shred is not None and not all(
        shred_col_name(shred["column"], f) in df.columns
        for f in shred["fields"]
    ):
        df = apply_shred(df, shred)
    for cname, ctype in _ddl_columns(prev["schema_ddl"]).items():
        if cname.startswith("_shred_") and cname not in df.columns:
            df = df.withColumn(cname, F.lit(None).cast(ctype))
    return df


def _bucket_pruned_selector(
    prev0: dict, frame: DataFrame, keys: list[str], *, validate: bool
):
    """Shared bucket-pruning recipe for the key-addressed rewrites:
    check the key covers the bucket columns, optionally validate the
    key set (unique AND non-null — a NULL key never equi-joins, so a
    NULL-key update would duplicate instead of replace; review
    finding), run the bounded bucket census, and return the
    select_touched closure.  The validation and the census are Spark
    jobs and run HERE, before the writer claims its generation —
    select_touched itself runs under the claim and is a lookup unless
    a concurrent rebucket changed the spec."""
    if not set(prev0["bucket_cols"]) <= set(keys):
        raise ValueError(
            f"key_cols {keys} must contain the bucket columns "
            f"{prev0['bucket_cols']} (bucket pruning needs the key to "
            f"determine the row's bucket)"
        )
    if validate:
        null_any = None
        for k in keys:
            c = F.col(k).isNull()
            null_any = c if null_any is None else (null_any | c)
        bad = (
            frame.groupBy(*keys)
            .count()
            .filter((F.col("count") > 1) | null_any)
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "updates carry duplicate or NULL keys — a duplicate "
                "makes the winner nondeterministic and a NULL key never "
                "equi-joins (it would INSERT beside the old NULL-key "
                "row instead of replacing it); clean the key set first"
            )
    # the census is keyed by the BUCKET SPEC it was computed against,
    # and select_touched recomputes it when the manifest it actually
    # filters carries a DIFFERENT spec — a concurrent
    # rebucket_manifest_table publishing between the caller's manifest
    # read and the claimed rewrite would otherwise have the old spec's
    # bucket ids filter the new layout's files, hard-linking files
    # that contain affected keys and inserting beside the surviving
    # old row: silent duplicate keys (advisor finding).  ``frame`` is
    # localCheckpoint()ed by every caller, so re-evaluating the census
    # is deterministic.
    census_cache: dict[tuple, set] = {}

    def _census(n: int, cols: list[str]) -> set:
        ck = (n, tuple(cols))
        if ck not in census_cache:
            census_cache[ck] = {
                r[0]
                for r in frame.select(
                    spark_bucket_id(n, *cols).alias("b")
                ).distinct().collect()
            }
        return census_cache[ck]

    def select_touched(m: dict) -> list[str]:
        if not set(m["bucket_cols"]) <= set(keys):
            raise ValueError(
                f"table was re-bucketed onto {m['bucket_cols']} during "
                f"the rewrite; key_cols {keys} no longer cover the "
                f"bucket columns — re-issue the operation with a key "
                f"set containing them"
            )
        touched_buckets = _census(m["num_buckets"], m["bucket_cols"])
        return [f for f in m["files"] if _file_bucket(f) in touched_buckets]

    _census(prev0["num_buckets"], prev0["bucket_cols"])
    return select_touched


def _upsert_transform(updates: DataFrame, keys: list[str]):
    """The COW MERGE transform: old rows whose key the update set
    carries are replaced by the (physically shaped) updates; every
    other key's rows survive and keys new to the table insert."""

    def transform(old: DataFrame, prev: dict) -> DataFrame:
        survivors = old.join(updates.select(*keys), keys, "left_anti")
        return survivors.unionByName(_physical_shape(updates, prev))

    return transform


def merge_manifest_table(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    table: str,
    *,
    key_cols: str | list[str],
    validate_unique_keys: bool = True,
    batch_id: str | None = None,
) -> int:
    """Row-level UPSERT (MERGE): rows of ``updates`` REPLACE same-key
    rows of the table; keys with no existing row INSERT.  ``key_cols``
    must contain the table's bucket columns, so every affected row
    lives in a bucket computable from the update itself — the rewrite
    then touches ONLY those buckets' files (bucket pruning is exact,
    not statistical) and hard-links the rest.

    Scale shape: one bounded distinct over the update keys' bucket ids
    (≤ num_buckets rows to the driver), one anti-join of the touched
    files' rows against the (typically broadcast-sized) update set,
    one clustered write of the touched region.  The whole-table path
    never runs."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    prev0 = read_manifest(root, table)
    # MATERIALIZE the update set before anything reads it: the bucket
    # census, the anti-join, and the write would otherwise re-evaluate
    # the plan — a nondeterministic source (limit/sample) could then
    # place a row in a bucket the census never saw, whose old file
    # hard-links untouched while the new row also inserts: duplicate
    # keys with no error (review finding).  Delta's MERGE materializes
    # its source for exactly this reason.
    updates = updates.localCheckpoint()
    select_touched = _bucket_pruned_selector(
        prev0, updates, keys, validate=validate_unique_keys
    )
    return _cow_rewrite(
        spark, root, table, select_touched, _upsert_transform(updates, keys),
        "merge", batch_id=batch_id,
    )


def delete_manifest_rows(
    spark: SparkSession,
    keys: DataFrame,
    root: str,
    table: str,
    *,
    key_cols: str | list[str],
    batch_id: str | None = None,
) -> int:
    """Row-level DELETE by key set (the GDPR-erasure shape): every row
    whose ``key_cols`` match a row of ``keys`` is removed.  Bucket
    pruning exactly as in merge — only the keys' buckets rewrite.
    ``batch_id`` gives the delete the same exactly-once replay
    contract as merge (manifest-chain dedupe)."""
    kc = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    prev0 = read_manifest(root, table)
    keys = keys.localCheckpoint()  # same determinism contract as merge
    select_touched = _bucket_pruned_selector(
        prev0, keys, kc, validate=False
    )

    def transform(old: DataFrame, prev: dict) -> DataFrame:
        return old.join(keys.select(*kc), kc, "left_anti")

    return _cow_rewrite(
        spark, root, table, select_touched, transform, "delete",
        batch_id=batch_id,
    )


def delete_manifest_range(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    lower=None,
    upper=None,
) -> int:
    """Row-level DELETE of a [lower, upper] range on the FIRST sort
    column (retention sweeps, bad-batch rollbacks): the manifest's
    file stats select the touched files — a file wholly outside the
    range hard-links untouched, a file wholly inside simply drops, and
    only straddling files actually rewrite their surviving rows."""
    prev0 = read_manifest(root, table)
    if not prev0.get("sort_cols"):
        raise ValueError(
            "range delete needs a sort column (file stats are recorded "
            "for the first sort column)"
        )
    col = prev0["sort_cols"][0]

    def select_touched(m: dict) -> list[str]:
        return pruned_files(m, lower=lower, upper=upper)

    def transform(old: DataFrame, prev: dict) -> DataFrame:
        cond = F.lit(False)
        c = F.col(col)
        if lower is not None and upper is not None:
            cond = c.between(lower, upper)
        elif lower is not None:
            cond = c >= lower
        elif upper is not None:
            cond = c <= upper
        # NULL sort values never match a range predicate → survive
        return old.filter(~F.coalesce(cond, F.lit(False)))

    return _cow_rewrite(
        spark, root, table, select_touched, transform, "delete_range"
    )


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors (round 11)
#
# The COW delete rewrites whole bucket files to erase a handful of
# rows — correct, but at 100 TB a daily GDPR erasure of a few thousand
# keys shouldn't rewrite gigabytes.  Deletion vectors are the
# lakehouse answer (Delta DVs, Iceberg v2 positional deletes): record
# WHICH POSITIONS of which files are dead in the MANIFEST, publish a
# metadata-only generation (shares the parent's data directory, like
# evolve_shred — zero data files written), and have every read path
# anti-join the tiny position set back out.  Parquet's stable
# ``_metadata.row_index`` is the position authority: a file is
# immutable, so (file, row_index) names a row forever.
#
# Contract:
# * deletes are O(touched-bucket scan) at write time and O(1) data IO
#   at publish; the read-side tax is one broadcast anti-join, paid
#   only by tables that HAVE vectors;
# * every rewrite (compaction, COW merge/delete, rebucket) first
#   applies the vectors of the files it rewrites, then drops them —
#   vectors never survive past the rewrite that materializes them, so
#   they stay small (bounded by deletes since the last rewrite);
# * a vectored row is dead to EVERY reader — plain, pruned, point,
#   shredded and stats-hinted reads all route through _dv_filter.
# ---------------------------------------------------------------------------


def _dv_positions_of(manifest: dict) -> dict:
    """The manifest's deletion-vector position map (file -> [pos]) —
    the single accessor every reader goes through, so the storage
    representation (inline JSON today, a sidecar file if vectors
    outgrow the manifest) changes in one place."""
    return manifest.get("delete_vectors") or {}


def _dv_filter(spark: SparkSession, df: DataFrame, manifest: dict) -> DataFrame:
    """Drop the manifest's deletion-vector positions from a FILE-SCAN
    DataFrame over this manifest's generation (the df must originate
    from parquet scans so ``_metadata`` resolves).  No vectors → the
    df passes through untouched (zero plan change for DV-free
    tables)."""
    dvs = _dv_positions_of(manifest)
    if not dvs:
        return df
    pairs = [(f, int(p)) for f, ps in dvs.items() for p in ps]
    # temp column names derived COLLISION-FREE from the actual schema:
    # the DDL rules legitimately admit user columns named _dv_file /
    # _dv_pos, and withColumn silently REPLACES an existing column —
    # a fixed name would corrupt such a table's reads whenever vectors
    # exist (advisor finding)
    taken = set(df.columns)
    fcol, pcol = "_dv_file", "_dv_pos"
    while fcol in taken or pcol in taken:
        fcol, pcol = fcol + "_", pcol + "_"
    dv_df = local_frame(spark, pairs, "dv_file string, dv_pos long")
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    return (
        df.withColumn(fcol, fname)
        .withColumn(pcol, F.col("_metadata.row_index"))
        .join(
            F.broadcast(dv_df),
            (F.col(fcol) == dv_df["dv_file"])
            & (F.col(pcol) == dv_df["dv_pos"]),
            "left_anti",
        )
        .drop(fcol, pcol)
    )


def _matching_positions(
    spark: SparkSession,
    root: str,
    table: str,
    prev: dict,
    touched: list[str],
    keys: DataFrame,
    kc: list[str],
    max_positions: int,
    bulk_hint: str,
) -> list:
    """The (file, row_index) positions, within ``touched`` files of
    ``prev``'s generation, whose rows key-match ``keys`` — the shared
    position scan of the merge-on-read delete and upsert.  One
    bucket-pruned scan, one semi join; only O(matched) tiny rows
    return to the driver, capped at ``max_positions`` (positions live
    in the manifest and broadcast at read time — anything bigger is a
    bulk rewrite, not a vector)."""
    if not touched:
        return []
    scan = _scan_files(spark, root, table, prev, touched).select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("_f"),
        F.col("_metadata.row_index").alias("_p"),
        *kc,
    )
    hits = scan.join(keys.select(*kc), kc, "left_semi").select("_f", "_p")
    pairs = hits.limit(max_positions + 1).collect()
    if len(pairs) > max_positions:
        raise ValueError(
            f"{table}: more than {max_positions} rows match — that is "
            f"a bulk rewrite, not a vector: use {bulk_hint} instead"
        )
    return pairs


def _union_vectors(prev: dict, pairs: list) -> dict:
    """prev's deletion vectors unioned with new (file, pos) pairs, in
    the manifest's sorted-list form."""
    dvs = {f: set(ps) for f, ps in _dv_positions_of(prev).items()}
    for r in pairs:
        dvs.setdefault(r["_f"], set()).add(int(r["_p"]))
    return {f: sorted(ps) for f, ps in dvs.items()}


def delete_manifest_rows_mor(
    spark: SparkSession,
    keys: DataFrame,
    root: str,
    table: str,
    *,
    key_cols: str | list[str],
    max_positions: int = 1_000_000,
) -> int:
    """Row-level DELETE by key set as a MERGE-ON-READ deletion vector:
    no data file is written — the touched buckets' files are scanned
    once for the matching (file, row_index) positions, the positions
    union into the parent's vectors, and a metadata-only generation
    publishes.  The read-side anti-join makes the rows dead to every
    reader; the next rewrite of those files (compaction, COW, rebucket)
    materializes the deletes and clears the vectors.

    ``max_positions`` bounds the vector a single call may add
    (positions live in the manifest JSON and broadcast at read time):
    a delete bigger than that is a bulk erase — use the COW
    ``delete_manifest_rows``, which rewrites the files instead.

    Scale shape: write cost is one bucket-pruned scan + an O(deleted)
    manifest append — versus the COW path's full rewrite of every
    touched file.  The GDPR-erasure daily sweep at 100 TB becomes
    metadata work."""
    kc = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    prev0 = read_manifest(root, table)
    keys = keys.localCheckpoint()  # same determinism contract as merge
    select_touched = _bucket_pruned_selector(prev0, keys, kc, validate=False)
    prev, _ = _claim_next(root, table)
    v = prev["version"] + 1
    try:
        new_pairs = _matching_positions(
            spark, root, table, prev, select_touched(prev), keys, kc,
            max_positions, "the copy-on-write delete_manifest_rows",
        )
        dvs = _union_vectors(prev, new_pairs)
        _publish(root, table, _metadata_successor(
            prev,
            op="delete_mor",
            delete_vectors=dvs,
            dv_positions=sum(len(ps) for ps in dvs.values()),
        ))
    finally:
        _release_claim(root, table, v)
    return v


def merge_manifest_table_mor(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    table: str,
    *,
    key_cols: str | list[str],
    validate_unique_keys: bool = True,
    max_positions: int = 1_000_000,
    compact_files_per_bucket: int = 8,
    batch_id: str | None = None,
) -> int:
    """Row-level UPSERT (MERGE) as MERGE-ON-READ delta files — the
    r11 verdict's completion of the deletion-vector work into the
    full Iceberg-v2 positional-delete / Delta-DV write path: instead
    of rewriting every touched bucket file (the COW
    ``merge_manifest_table``), one commit

    * marks the REPLACED rows dead via deletion vectors (one
      bucket-pruned scan finds their (file, row_index) positions —
      exactly the delete_mor machinery), and
    * writes ONLY the update batch as new bucketed delta files beside
      the hard-linked base (one clustered exchange over the updates,
      never over the base).

    Every reader already merges on read: the snapshot scan unions
    base + delta files (they share the generation's bucketed layout,
    so bucket pruning and same-spec joins keep working) and the DV
    anti-join hides the replaced rows.  The read-side tax — extra
    files per bucket plus the growing vector set — is bounded by
    ``compact_files_per_bucket``: when any bucket exceeds it, the
    shared compaction folds the deltas and materializes the vectors,
    and the fresh generation is MoR-debt-free.

    Same contracts as the COW merge: ``key_cols`` must contain the
    bucket columns (pruning is exact), updates are validated unique
    and non-null per key, ``batch_id`` gives exactly-once crash
    replay, concurrent writers serialize on the generation claim.
    ``max_positions`` routes bulk updates to the COW merge — a
    rewrite of most of a bucket is cheaper than carrying its vector.

    Scale shape: write cost is O(touched-bucket scan) + O(|updates|)
    data written, versus COW's full rewrite of every touched file —
    the hourly CDC upsert of a few thousand keys at 100 TB stops
    rewriting gigabytes; the amortized compaction pays the rewrite
    once per ``compact_files_per_bucket`` commits instead of every
    commit."""
    kc = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    prev0 = read_manifest(root, table)
    # materialize before anything reads it — same determinism contract
    # (and reason) as the COW merge: census, position scan, and write
    # must all see one winner set
    updates = updates.localCheckpoint()
    select_touched = _bucket_pruned_selector(
        prev0, updates, kc, validate=validate_unique_keys
    )
    prev, landed = _claim_next(root, table, batch_id=batch_id)
    if landed is not None:
        return landed  # same landed-version contract as append
    v = prev["version"] + 1
    try:
        # positions of the rows the updates REPLACE (fail fast on the
        # cap before any data is written)
        pairs = _matching_positions(
            spark, root, table, prev, select_touched(prev), updates, kc,
            max_positions, "the copy-on-write merge_manifest_table",
        )
        # delta files: the base hard-links in full; only the update
        # batch writes (carried vectors follow the links)
        manifest = _write_generation(
            spark, _shaped_batch(updates, prev, table), root, table, v,
            _spec_of(prev), link_from=prev,
        )
        dvs = _union_vectors(prev, pairs)
        manifest["delete_vectors"] = dvs
        manifest["dv_positions"] = sum(len(ps) for ps in dvs.values())
        manifest["op"] = "merge_mor"
        manifest["replaced_positions"] = len(pairs)
        _with_recent_batch_ids(manifest, prev, batch_id)
        _publish(root, table, manifest)
    finally:
        _release_claim(root, table, v)
    return _maybe_compact(spark, root, table, manifest, batch_id,
                          compact_files_per_bucket)


def rebucket_manifest_table(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    num_buckets: int | None = None,
    bucket_cols: str | list[str] | None = None,
    sort_cols: str | list[str] | None = None,
) -> int:
    """Layout evolution (round 10): re-cluster the table into a NEW
    bucket spec — more buckets as data grows, different bucket columns
    as the dominant join key shifts — as one generational rewrite.
    Because every manifest carries ITS OWN spec, readers pinned to
    older versions keep the old layout (time travel included), readers
    of the new snapshot get the new bucketing's exchange-free joins,
    and every subsequent append/merge/compaction follows the new spec
    automatically; the claim CAS serializes the rewrite against
    concurrent writers exactly like any other publish.  The shred spec
    and point filters ride along unchanged (shredded columns are plain
    columns by now; filters recompute for the new files).

    Scale shape: ONE full clustered rewrite (the same amortized cost
    class as a compaction) — the price of a layout change, paid once,
    versus a shuffle on every future join at the wrong bucket count."""
    kc = ([bucket_cols] if isinstance(bucket_cols, str)
          else list(bucket_cols) if bucket_cols is not None else None)
    sc = ([sort_cols] if isinstance(sort_cols, str)
          else list(sort_cols) if sort_cols is not None else None)
    prev, _ = _claim_next(root, table)
    v = prev["version"] + 1
    try:
        spec = _spec_of(prev)
        if num_buckets is not None:
            spec["num_buckets"] = int(num_buckets)
        if kc is not None:
            spec["bucket_cols"] = kc
        if sc is not None:
            spec["sort_cols"] = sc
        if (spec["num_buckets"] == prev["num_buckets"]
                and spec["bucket_cols"] == prev["bucket_cols"]
                and spec["sort_cols"] == prev.get("sort_cols")):
            # idempotent "ensure this layout": a retry after a crash
            # that actually published must SUCCEED, not raise — the
            # rebucket analog of append's batch_id no-op (review
            # finding)
            return prev["version"]
        ddl_cols = _ddl_columns(prev["schema_ddl"])
        missing = [c for c in spec["bucket_cols"] + spec["sort_cols"]
                   if c not in ddl_cols]
        if missing:
            raise ValueError(
                f"rebucket: columns {missing} are not in the table schema"
            )
        # read the RAW snapshot files (not the catalog entry: its OLD
        # bucketing claim would let the optimizer elide the
        # re-clustering shuffle); rebucket rewrites every file, so it
        # applies and clears any pending deletion vectors
        full = _repair_shred_columns(
            _read_files(spark, root, table, prev, prev["files"]), spec
        )
        manifest = _write_generation(
            spark, full, root, table, v, spec, mode="errorifexists"
        )
        manifest["parent"] = prev["version"]
        manifest["rebucketed_from"] = prev["version"]
        _with_recent_batch_ids(manifest, prev, None)
        _publish(root, table, manifest)
    finally:
        _release_claim(root, table, v)
    return v


def foreach_batch_append(
    root: str,
    table: str,
    *,
    compact_files_per_bucket: int = 8,
    batch_id_prefix: str = "epoch",
):
    """Streaming ingestion into a manifest table (round-10 roadmap #2):
    a ``foreachBatch`` sink that appends each micro-batch as a new
    snapshot with EXACTLY-ONCE semantics — the epoch id becomes the
    append's ``batch_id``, so a batch replayed after a failure (the
    foreachBatch at-least-once contract) short-circuits against the
    current manifest instead of landing twice.  The table's shred spec
    (if any) is re-applied to every batch by append_manifest_table, so
    a streaming feed lands SHREDDED — typed columns + file stats — with
    no extra wiring.

    Use: ``df.writeStream.foreachBatch(foreach_batch_append(root, t))``
    against a table pre-created with create_manifest_table (the schema
    and bucket spec are the table's, not the stream's).

    Scale shape: per micro-batch, ONE clustered exchange of the batch
    plus O(existing files) hard links; compaction amortizes exactly as
    in the batch path.  The claim CAS also serializes a concurrent
    batch writer against the stream."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        append_manifest_table(
            batch_df.sparkSession, batch_df, root, table,
            batch_id=f"{batch_id_prefix}-{epoch_id}",
            compact_files_per_bucket=compact_files_per_bucket,
        )

    return sink


def foreach_batch_merge(
    root: str,
    table: str,
    *,
    key_cols: str | list[str],
    order_cols: str | list[str] | None = None,
    batch_id_prefix: str = "epoch",
):
    """Streaming COW upsert (round 10): a ``foreachBatch`` sink that
    MERGES each micro-batch into the manifest table — the CDC sink
    shape, maintaining a keyed table directly from a stream with no
    batch reconciliation pass.  Exactly-once by the same epoch
    batch_id machinery as the append sink (manifest-chain dedupe, so a
    replayed epoch is a no-op even if other writers landed meanwhile).

    ``order_cols``: latest-wins dedupe WITHIN the batch (descending on
    the given columns, e.g. ``["ts", "event_id"]`` with a unique
    tiebreaker) — required when a micro-batch can carry several
    versions of one key; the composite must be tie-free or which row
    wins is nondeterministic.  ACROSS batches the merge is
    last-writer-wins, so a globally-correct "latest state" table needs
    the feed to be time-ordered across epochs (upstream ordering, or
    the replay harness's ``order_by``) — the same contract every CDC
    apply pipeline carries.

    Scale shape: per epoch, one bounded bucket-id distinct + a rewrite
    of only the touched buckets' files."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = ([order_cols] if isinstance(order_cols, str)
             else list(order_cols or []))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        ups = batch_df
        # NULL keys never equi-join (they would insert beside the old
        # row, not replace it) — drop them, the CDC convention
        for kcol in keys:
            ups = ups.filter(F.col(kcol).isNotNull())
        if order:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(
                *[F.col(c).desc() for c in order]
            )
            ups = (
                ups.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        merge_manifest_table(
            batch_df.sparkSession, ups, root, table, key_cols=keys,
            batch_id=f"{batch_id_prefix}-{epoch_id}",
            # the row_number dedupe already guarantees one non-null row
            # per key — skip the redundant per-epoch validation shuffle
            validate_unique_keys=not order,
        )

    return sink


def read_manifest_table(
    spark: SparkSession,
    root: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read — LATEST by default, ``version`` for time travel.
    Goes through the generation's external bucketed catalog entry so
    the scan keeps the bucketed output partitioning (zero-exchange
    same-spec joins)."""
    return _read_table_of(spark, root, table,
                          read_manifest(root, table, version))


def _read_table_of(
    spark: SparkSession, root: str, table: str, m: dict
) -> DataFrame:
    """The snapshot read for an ALREADY-PARSED manifest — shared so
    callers that need the manifest for their own decisions (the
    stats-hinted read) parse it exactly once; with merge-on-read
    vectors a manifest can be multi-MB of positions (review
    finding)."""
    return _dv_filter(spark, spark.table(_register(spark, root, table, m)), m)


def _parse_bytes_conf(v: str) -> int:
    """Spark size confs arrive as '10485760', '10485760b', '10m',
    '1g', ... — normalize to bytes (negative = feature disabled)."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                      ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                      ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def read_manifest_table_stats_hinted(
    spark: SparkSession,
    root: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read whose JOIN STRATEGY is decided from manifest truth
    (r10 verdict #2) instead of Spark's file-size guess.  Spark sizes a
    parquet relation by its ON-DISK bytes, but what a broadcast ships
    is the DECOMPRESSED table — for dictionary/RLE-friendly data the
    two differ by 10×+, so a 9 MB file under the 10 MB threshold can be
    a 90 MB broadcast (executor OOM at scale).  The manifest records
    exact ``row_count`` / ``total_bytes`` / ``uncompressed_bytes`` from
    the parquet footers at publish (zero-cost metadata), and this read
    turns them into the hint Spark's estimator cannot derive:

    * ``in_memory_est`` ≤ threshold → ``broadcast`` hint (safe and
      profitable no matter what the disk size suggests);
    * disk size ≤ threshold < ``in_memory_est`` → ``merge`` hint —
      exactly the case where the file-size guess would wrongly
      broadcast this table, the hint forces the sort-merge plan.
      TRADEOFF, stated plainly (advisor finding): Spark resolves any
      merge hint ahead of size-based broadcast selection for the
      WHOLE join, so this hint also suppresses a legitimate broadcast
      of the other side — a join of this deceptive-compression table
      with a genuinely tiny one runs sort-merge instead of
      broadcasting the tiny side.  That is the safe direction (a
      sort-merge is slower; a 10× oversized broadcast is an executor
      OOM), and a caller who knows the other side is tiny can read it
      with ``read_manifest_table(...).hint("broadcast")`` — an
      explicit broadcast hint on the other side takes precedence over
      this side's merge hint;
    * otherwise no hint (Spark's own estimate already decides
      correctly, and an un-hinted side leaves the optimizer free to
      broadcast the OTHER side of a join).

    ``in_memory_est`` is max(footer uncompressed bytes, exact row
    count × CBO row width) — parquet's "uncompressed" is measured
    after dictionary/RLE encoding and still understates what a
    broadcast ships, while the row count is exact manifest truth.

    Missing stats (older manifests, unreadable footers) degrade to the
    plain read — never to a wrong hint.  Plan-guarded in
    tests/test_manifest_stats.py; NDV evidence for join-key reasoning
    is exposed separately via column_ndv_bounds."""
    m = read_manifest(root, table, version)
    df = _read_table_of(spark, root, table, m)  # one manifest parse
    rollup = m.get("size_rollup")
    if not rollup:
        return df
    try:
        thr = _parse_bytes_conf(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except (ValueError, TypeError):
        return df
    if thr <= 0:
        return df  # broadcasting disabled: respect it, hint nothing
    est = rollup.get("in_memory_est", rollup["uncompressed_bytes"])
    if est <= thr:
        return df.hint("broadcast")
    if rollup["total_bytes"] <= thr:
        return df.hint("merge")
    return df


def read_manifest_table_pruned(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    lower=None,
    upper=None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read restricted to the files whose sort-column range
    can intersect [lower, upper] — the manifest's data-skipping stats
    prune whole files at PLANNING time, before Spark lists or opens
    anything.  The bounds are inclusive and compared against min/max
    of the FIRST sort column; pass values of that column's type.

    Trade documented: the pruned read goes by explicit file list, so
    it does NOT carry bucketing metadata (a downstream same-spec join
    would shuffle) — use it for range-predicate scans, and the plain
    read_manifest_table for exchange-free joins.  Rows outside
    [lower, upper] can still appear (stats prune files, not rows):
    compose with a real filter, which parquet then pushes down
    row-group-level inside the surviving files."""
    m = read_manifest(root, table, version)
    return _read_files(spark, root, table, m,
                       pruned_files(m, lower=lower, upper=upper))


def expire_generations(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    keep: int = 2,
) -> list[int]:
    """Drop all but the newest ``keep`` generations: delete their
    directories and manifests and their catalog entries.  The LATEST
    snapshot is always retained (keep >= 1).  Returns the expired
    versions — readers still holding them will fail their NEXT plan,
    which is the retention contract, not a torn read (files vanish
    only after the snapshot is unpublished)."""
    if keep < 1:
        raise ValueError("keep must be >= 1 (LATEST is always retained)")
    latest = current_version(root, table)
    mdir = os.path.join(_table_dir(root, table), "manifests")
    versions = sorted(
        int(m.group(1))
        for f in os.listdir(mdir)
        if (m := re.fullmatch(r"manifest-(\d+)\.json", f))
    )
    # a version pinned by ANY retained transaction catalog is live for
    # atomic readers no matter its age — expiring it would break not
    # just the head snapshot but the documented txn_version time
    # travel (review finding: the head-only check orphaned older
    # catalogs' pins).  Catalog files are themselves retired with
    # expire_txn_catalogs, which is what bounds this set.
    txn_pinned = _all_txn_pins(root, table)
    expired = [v for v in versions
               if v <= latest - keep and v not in txn_pinned]
    # a metadata-only generation (evolve_shred) SHARES its parent's
    # directory: a data directory may be deleted only when NO retained
    # manifest still references it
    retained_dirs = {
        read_manifest(root, table, v)["generation"]
        for v in versions
        if v > latest - keep or v in txn_pinned
    }
    for v in expired:
        gen_rel = read_manifest(root, table, v)["generation"]
        spark.sql(f"DROP TABLE IF EXISTS {_catalog_name(root, table, v)}")
        if gen_rel not in retained_dirs:
            shutil.rmtree(
                os.path.join(_table_dir(root, table), gen_rel),
                ignore_errors=True,
            )
        os.unlink(_manifest_path(root, table, v))
    return expired


# ---------------------------------------------------------------------------
# Multi-table atomic commit (round 11, README roadmap #2)
#
# A fact+dim publish must be all-or-nothing: a reader must never see
# the new fact joined against the old dim.  Per-table manifests can't
# give that — each LATEST swap is atomic alone, but two swaps have a
# window.  The fix is the standard catalog-level commit (what
# Iceberg's REST/Nessie catalogs do for multi-table transactions),
# scaled down to one more pointer file:
#
# * ``commit_multi_table`` appends every table's batch through the
#   normal per-table machinery FIRST (each publish atomic and
#   claim-serialized, each carrying a per-table batch_id for
#   exactly-once crash replay), and only THEN swaps the root-level
#   ``_txn/LATEST`` pointer at a catalog file pinning
#   ``{table: version}`` — the single linearization point of the
#   cross-table commit.
# * ``read_tables_atomic`` resolves table versions ONLY through that
#   catalog, so a crash anywhere between the per-table publishes
#   leaves atomic readers on the previous txn snapshot in FULL
#   (all-old, never a mixture), and the documented retry completes
#   the commit with every already-published append deduped by its
#   batch_id.
#
# Contract split, stated plainly: cross-table atomicity is a property
# of the ATOMIC read path.  Plain per-table reads keep their standing
# contract — each table individually a consistent snapshot — and may
# observe table A's new version while the txn is still publishing
# table B.  Tables written outside any transaction show atomic
# readers their last txn-pinned version (a consistent, possibly
# stale, cross-table snapshot).
# ---------------------------------------------------------------------------

_TXN = "_txn"


def _txn_catalog_path(root: str, version: int) -> str:
    return os.path.join(root, _TXN, "manifests", f"catalog-{version}.json")


def _txn_latest_path(root: str) -> str:
    return os.path.join(root, _TXN, "LATEST")


def read_txn_catalog(root: str, version: int | None = None) -> dict:
    """The transaction catalog: ``{"version": N, "tables":
    {table: pinned_version}, "parent": N-1, "batch_id": ...}``.
    ``{"version": -1, "tables": {}}`` before any commit."""
    if version is None:
        try:
            with open(_txn_latest_path(root)) as fh:
                version = int(fh.read().strip())
        except FileNotFoundError:
            return {"version": -1, "tables": {}}
    with open(_txn_catalog_path(root, version)) as fh:
        return json.load(fh)


def _txn_batch_published(root: str, batch_id: str) -> int | None:
    """Walk the txn-catalog chain head-first for a prior commit of
    this batch_id — the catalog twin of _batch_id_published.  A
    head-only comparison would let a replay of a COMPLETED transaction
    that other transactions have since built on re-run the catalog
    swap and re-pin stale versions (review finding)."""
    cat = read_txn_catalog(root)
    for _ in range(_BATCH_ID_WALK_LIMIT):
        if cat.get("batch_id") == batch_id:
            return cat["version"]
        parent = cat.get("parent")
        if parent is None:
            return None
        try:
            cat = read_txn_catalog(root, parent)
        except FileNotFoundError:
            return None
    return None


def _publish_txn(root: str, cat: dict) -> None:
    """Durable catalog write + atomic LATEST swap — the same
    temp+fsync+replace+dir-fsync discipline as _publish (shared
    helper), one directory up."""
    path = _txn_catalog_path(root, cat["version"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _durable_write(path, json.dumps(cat, indent=1))
    _durable_write(_txn_latest_path(root), str(cat["version"]))


def _next_txn_catalog(cat: dict, tables: dict, batch_id: str | None) -> dict:
    """The successor of txn catalog ``cat`` pinning ``tables``."""
    new_cat = {
        "version": cat["version"] + 1,
        "parent": cat["version"] if cat["version"] >= 0 else None,
        "tables": tables,
    }
    if batch_id is not None:
        new_cat["batch_id"] = batch_id
    return new_cat


def commit_multi_table(
    spark: SparkSession,
    root: str,
    appends: dict[str, DataFrame],
    *,
    merges: dict[str, dict] | None = None,
    batch_id: str | None = None,
    compact_files_per_bucket: int = 8,
) -> int:
    """Append each table's batch and pin the result as ONE atomic
    cross-table snapshot.  Returns the published txn version.

    ``merges`` (round 12) names tables whose batch is a row-level
    UPSERT instead of an append: ``{table: {"updates": df, "key_cols":
    [...], "validate_unique_keys": bool}}`` — the same bucket-pruned
    copy-on-write rewrite as merge_manifest_table, but STAGED under
    the transaction so a merge and its companion appends commit at
    one catalog swap (the index-maintenance path needs exactly this:
    base MERGE + posting append, atomically).  A table may appear in
    ``appends`` or ``merges``, not both.

    Every table must already exist (create_manifest_table).  The
    commit is STAGED (round-11 review hardening): each table's
    generation and manifest file are written durably while HOLDING the
    per-table claim, but NO per-table LATEST moves and nothing enters
    any table's published chain — a staged batch is invisible to every
    reader.  The txn-catalog pointer swap is then the SINGLE commit
    point for all tables at once; only after it do the per-table
    LATEST pointers roll forward (and any writer completes a lost
    roll-forward before building on the table).  Consequences, which
    the previous publish-then-swap design could not give:

    * a writer crash ANYWHERE before the catalog swap leaves only
      invisible debris (reclaimed by the next writer's dead-claim
      takeover) — a later transaction can never pin another
      transaction's half-published batches, because uncommitted
      batches are never in the chain at all;
    * retention cannot expire a mid-commit version: staged versions
      sit ABOVE each table's LATEST until the catalog (whose pins
      expire_generations honors) makes them visible.

    Claims are held across the whole commit; two transactions (and
    any single-table writers) serialize per table, with table claims
    taken in sorted order so overlapping transactions cannot
    deadlock.  A replay of a COMPLETED transaction (same ``batch_id``)
    is a pure no-op against the catalog CHAIN; a replay of a crashed
    one re-stages from scratch (nothing of the crashed attempt was
    ever visible).  The staged write is one clustered exchange per
    table plus hard links; the amortized compaction runs AFTER the
    catalog swap (content-preserving, next txn adopts it) so tables
    maintained exclusively through transactions — the secondary-index
    contract — keep their file counts bounded (r12 review finding).
    Crash-injection coverage: tests/test_multi_table_txn.py."""
    merges = dict(merges or {})
    if not appends and not merges:
        raise ValueError("commit_multi_table: no tables to commit")
    both = set(appends) & set(merges)
    if both:
        raise ValueError(
            f"commit_multi_table: {sorted(both)} appear in both appends "
            f"and merges — one operation per table per transaction"
        )
    if batch_id is not None:
        done = _txn_batch_published(root, batch_id)
        if done is not None:
            # a replay of a COMPLETED transaction is a pure no-op —
            # checked against the catalog CHAIN, not just the head, so
            # replays arriving after later transactions never re-run
            # the swap with stale pins (review finding)
            return done
    # Prepare each merge ONCE, after the replay short-circuit (a
    # replayed no-op must not pay a materialization job) and OUTSIDE
    # the claimed staging (the duplicate/NULL-key validation and the
    # bucket census are Spark jobs; running them under the claim would
    # lengthen the serialized critical section — review finding):
    # materialize the update set unless the caller already did
    # ("materialized": True — the census, anti-join, and write must see
    # ONE evaluation of a possibly nondeterministic source, same rule
    # as merge_manifest_table), then build the bucket-pruned selector
    # (select_touched re-checks the spec against the manifest it
    # actually filters, so a pre-claim snapshot is a safe base).
    prepared: dict[str, tuple] = {}
    for t, m in merges.items():
        upd = m["updates"]
        if not m.get("materialized"):
            upd = upd.localCheckpoint()
        keys = m["key_cols"]
        keys = [keys] if isinstance(keys, str) else list(keys)
        prepared[t] = (
            _bucket_pruned_selector(
                read_manifest(root, t), upd, keys,
                validate=m.get("validate_unique_keys", True),
            ),
            _upsert_transform(upd, keys),
        )
    staged: dict[str, dict] = {}
    landed: dict[str, int] = {}
    claimed: list[tuple[str, int]] = []
    try:
        # table claims in SORTED order: overlapping transactions
        # acquire in the same order, so they cannot deadlock
        for table in sorted(set(appends) | set(merges)):
            table_bid = None if batch_id is None else f"{batch_id}:{table}"
            # old-style / partially-published crash compat: a batch
            # already in the table's PUBLISHED chain is adopted at the
            # version it landed
            prev, lv = _claim_next(root, table, batch_id=table_bid)
            if lv is not None:
                landed[table] = lv
                continue
            v = prev["version"] + 1
            claimed.append((table, v))
            if table in prepared:
                select_touched, transform = prepared[table]
                manifest = _rewrite_generation(
                    spark, root, table, v, prev, select_touched(prev),
                    transform, "merge",
                )
            else:
                manifest = _write_generation(
                    spark, _shaped_batch(appends[table], prev, table),
                    root, table, v, _spec_of(prev), link_from=prev,
                )
            _with_recent_batch_ids(manifest, prev, table_bid)
            _write_manifest_file(root, table, manifest)  # staged,
            # durable, NOT published — invisible until the catalog
            staged[table] = manifest
            landed[table] = v
        # the catalog swap — THE cross-table commit point, serialized
        # by the same claim CAS one level up
        cat, done = _claim_next(root, _TXN, batch_id=batch_id)
        if done is not None:
            return done  # a concurrent replay won the swap; our
            # staged duplicates stay unpublished debris
        committed = cat["version"] + 1
        try:
            tables = dict(cat["tables"])
            for t, nv in landed.items():
                # MONOTONE pin update: only the batch-id-adopted
                # (already-published) versions can be behind a
                # concurrent pin — staged versions are above every
                # published one by construction
                tables[t] = max(tables.get(t, -1), nv)
            _publish_txn(root, _next_txn_catalog(cat, tables, batch_id))
        finally:
            _release_claim(root, _TXN, committed)
        # post-commit roll-forward: move each staged table's LATEST to
        # its committed version (still under our per-table claims); a
        # crash in this window is repaired by any later writer via
        # _complete_lagging_txn_publish
        for table, manifest in staged.items():
            _swap_latest(root, table, manifest["version"])
        # amortized compaction AFTER the commit point (review finding:
        # indexed tables are maintained EXCLUSIVELY through this path,
        # so without it the file count grew one per bucket per commit
        # and compact_files_per_bucket was a dead knob).  Content-
        # preserving, so atomicity is unaffected; the txn catalog pins
        # the pre-compaction version (retention honors it) and the
        # next transaction's pins adopt the compacted head.  A crash
        # here leaves only normal compaction debris — the bound
        # re-fires on a later commit.
        for table, manifest in staged.items():
            try:
                _maybe_compact(
                    spark, root, table, manifest, manifest.get("batch_id"),
                    compact_files_per_bucket,
                )
            except Exception:  # noqa: BLE001 — the txn is DURABLY
                # committed at this point: a compaction failure must
                # not surface as a transaction failure, or a
                # batch_id-less caller's natural retry would re-apply
                # the committed batch (duplicate rows, no error —
                # review finding).  The bound re-fires on the next
                # commit; debris is reclaimed by dead-claim takeover.
                import logging

                logging.getLogger(__name__).warning(
                    "post-commit compaction of %s failed; deferred to "
                    "the next commit", table, exc_info=True,
                )
        return committed
    finally:
        for table, v in claimed:
            _release_claim(root, table, v)


def pin_tables_txn(
    root: str,
    tables: list[str] | dict[str, int],
    *,
    batch_id: str | None = None,
) -> int:
    """Pin published snapshots into a new txn catalog — registering
    them as one atomic group without writing any data (the bootstrap
    step of a derived table that must be read consistently with its
    base, e.g. a fresh secondary index).  A list pins each table's
    CURRENT version; a dict pins the EXACT versions given — the right
    form when the caller derived something from a specific snapshot
    (review finding: pinning current would adopt a concurrent append
    the derivation never saw).  Monotone like the commit path: a
    concurrent transaction's newer pin is never regressed — when that
    suppresses a requested EXACT pin, the caller's derivation is
    stale and this raises instead of publishing a silently
    inconsistent group."""
    if not tables:
        raise ValueError("pin_tables_txn: no tables to pin")
    if isinstance(tables, dict):
        current = dict(tables)
        exact = True
    else:
        current = {t: current_version(root, t) for t in sorted(set(tables))}
        exact = False
    cat, done = _claim_next(root, _TXN, batch_id=batch_id)
    if done is not None:
        return done
    v = cat["version"] + 1
    try:
        pinned = dict(cat["tables"])
        for t, nv in current.items():
            if exact and pinned.get(t, -1) > nv:
                raise ConcurrentWriteError(
                    f"pin_tables_txn: {t} is already pinned at "
                    f"version {pinned[t]} > requested {nv} — the "
                    f"snapshot this group was derived from is "
                    f"stale; re-derive and retry"
                )
            pinned[t] = max(pinned.get(t, -1), nv)
        _publish_txn(root, _next_txn_catalog(cat, pinned, batch_id))
    finally:
        _release_claim(root, _TXN, v)
    return v


def read_tables_atomic(
    spark: SparkSession,
    root: str,
    tables: list[str],
    *,
    txn_version: int | None = None,
) -> dict[str, DataFrame]:
    """One consistent CROSS-TABLE snapshot: every table resolves at
    the version pinned by a single txn catalog file, so two tables
    committed together are always read together — all-old or all-new,
    never a mixture, even while a commit is mid-flight.
    ``txn_version`` time-travels the whole group."""
    cat = read_txn_catalog(root, txn_version)
    out: dict[str, DataFrame] = {}
    for t in tables:
        v = cat["tables"].get(t)
        if v is None:
            raise KeyError(
                f"table {t!r} has never been committed through a "
                f"transaction (txn catalog version {cat['version']}); "
                f"read it with read_manifest_table, or include it in a "
                f"commit_multi_table call"
            )
        out[t] = read_manifest_table(spark, root, t, version=v)
    return out


# ---------------------------------------------------------------------------
# Incremental change feed (round 11)
#
# A 100 TB downstream pipeline must not diff two full snapshots to
# find what moved.  Every manifest already names exactly which files
# its commit rewrote (parent file set vs child file set — hard links
# carry unchanged files by NAME), so the row-level change feed falls
# out of the layout: per commit, diff ONLY the rewritten region.
# This is the Delta CDF / Iceberg incremental-scan shape, derived from
# the manifests instead of logged on write — no write-path cost, no
# change files, and it works retroactively over any retained history.
# ---------------------------------------------------------------------------


def _step_changes(
    spark: SparkSession, root: str, table: str, child: dict, parent: dict
) -> DataFrame | None:
    """Row-level changes one commit introduced: columns = the child's
    physical schema + ``_change_type`` ('insert' | 'delete').  An
    update is delete(old row) + insert(new row).  MULTISET-exact: per
    distinct row the emitted multiplicity is |count_new − count_old|
    (null-safe comparison on every column).  None = provably no row
    changes (content-preserving rewrites, metadata-only commits).

    Scale shape: the diff joins only the REWRITTEN region (old files
    dropped from the child vs files new in the child) — an append
    diffs nothing (old region empty, the new files ARE the inserts);
    a merge diffs the touched buckets; content-preserving compaction/
    rebucket commits short-circuit to None."""
    if child.get("compacted_from") is not None or (
        child.get("rebucketed_from") is not None
    ):
        # full rewrites that preserve logical content (pending deletion
        # vectors they materialized were already logical deletes at
        # their own commit)
        return None
    child_files = set(child["files"])
    parent_files = set(parent["files"])
    new_files = sorted(child_files - parent_files)
    old_files = sorted(parent_files - child_files)
    # the new files carry no vectors: they were written by this commit
    new = _scan_files(spark, root, table, child, new_files)
    schema = new.schema

    # DELETES FROM VECTOR GROWTH, handled generically: positions this
    # commit ADDED to the vectors of files it kept (delete_mor adds
    # vectors and no files; merge_mor adds vectors AND delta files in
    # the same commit) are row deletes of THIS commit — read them back
    # from the shared, untouched files.  Vectors of files the commit
    # REWROTE never appear here: a rewrite applies and clears them.
    # Kept files are shared with the child's generation (hard links,
    # or the very same directory for a metadata-only commit).
    old_dv = {f: set(ps) for f, ps in _dv_positions_of(parent).items()}
    pairs = [
        (f, int(p))
        for f, ps in _dv_positions_of(child).items()
        for p in ps
        if f in parent_files and f in child_files
        and p not in old_dv.get(f, ())
    ]
    dv_deletes = None
    if pairs:
        files = sorted({f for f, _ in pairs})
        dv_df = local_frame(spark, pairs, "dv_file string, dv_pos long")
        # collision-free temp names, same rule as _dv_filter: the DDL
        # admits user columns named _dv_file/_dv_pos, and withColumn
        # silently REPLACES an existing column (review finding)
        taken = {f.name for f in schema.fields}
        fcol, pcol = "_dv_file", "_dv_pos"
        while fcol in taken or pcol in taken:
            fcol, pcol = fcol + "_", pcol + "_"
        scan = (
            _scan_files(spark, root, table, child, files)
            .withColumn(
                fcol,
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            )
            .withColumn(pcol, F.col("_metadata.row_index"))
        )
        dv_deletes = (
            scan.join(
                F.broadcast(dv_df),
                (F.col(fcol) == dv_df["dv_file"])
                & (F.col(pcol) == dv_df["dv_pos"]),
                "left_semi",
            )
            .drop(fcol, pcol)
            .withColumn("_change_type", F.lit("delete"))
        )

    if not new_files and not old_files:
        # metadata-only commit: vector growth (delete_mor) or spec
        # evolution (no row changes at all)
        return dv_deletes

    cols = [f.name for f in schema.fields]
    if old_files:
        # rows already dead via the parent's vectors were deleted by an
        # earlier commit — they are not deletes of THIS one.  A commit
        # that drops files keeps its parent's schema_ddl (only the
        # metadata-only evolve_shred changes it), so the parent's
        # registered schema is the child's.
        old = _read_files(spark, root, table, parent, old_files)
    else:
        # file growth without file loss (append, merge_mor deltas):
        # the new files are the inserts, no diff needed
        inserts = new.withColumn("_change_type", F.lit("insert"))
        return (
            inserts if dv_deletes is None
            else dv_deletes.unionByName(inserts)
        )

    # the diff groups/joins on every column, but Spark cannot group by
    # MapType — and the shred spec legitimately materializes map
    # columns (review finding).  Canonicalize top-level maps to their
    # key-sorted entry arrays for the diff (map keys are unique, so
    # the sorted-entries form is a bijection) and rebuild the map on
    # the way out; maps NESTED deeper than one level have no orderable
    # canonical form — refuse loudly rather than miscount.
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _nested_map(dt) -> bool:
        if isinstance(dt, ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        if isinstance(dt, MapType):
            return _has_map(dt.keyType) or _has_map(dt.valueType)
        return False

    def _has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        return _nested_map(dt)

    canon, out_exprs = [], []
    for f in schema.fields:
        if isinstance(f.dataType, MapType):
            if _nested_map(f.dataType):
                raise NotImplementedError(
                    f"change feed: column {f.name!r} nests a map inside "
                    f"{f.dataType.simpleString()} — no orderable "
                    f"canonical form to diff on"
                )
            canon.append(
                F.sort_array(F.map_entries(F.col(f.name))).alias(f.name)
            )
            out_exprs.append(F.map_from_entries(F.col(f.name)).alias(f.name))
        else:
            if _has_map(f.dataType):
                raise NotImplementedError(
                    f"change feed: column {f.name!r} nests a map inside "
                    f"{f.dataType.simpleString()} — no orderable "
                    f"canonical form to diff on"
                )
            canon.append(F.col(f.name))
            out_exprs.append(F.col(f.name))

    oldg = old.select(*canon).groupBy(*cols).agg(F.count("*").alias("_n_old"))
    newg = new.select(*canon).groupBy(*cols).agg(F.count("*").alias("_n_new"))
    cond = None
    for c in cols:
        e = oldg[c].eqNullSafe(newg[c])
        cond = e if cond is None else (cond & e)
    joined = oldg.join(newg, cond, "full_outer").select(
        *[F.coalesce(oldg[c], newg[c]).alias(c) for c in cols],
        F.coalesce(F.col("_n_old"), F.lit(0)).alias("_n_old"),
        F.coalesce(F.col("_n_new"), F.lit(0)).alias("_n_new"),
    )
    delta = F.col("_n_new") - F.col("_n_old")
    # multiplicity expansion in TWO bounded explode levels: a single
    # sequence(1, mult) builds the whole array in one executor row —
    # a dropped file of millions of fully-identical rows would OOM on
    # it (review finding).  Chunking caps every materialized array at
    # 65536 entries (the outer chunk array is mult/65536 long).
    chunk = 65536
    diff = (
        joined.filter(delta != 0)
        .withColumn(
            "_change_type",
            F.when(delta > 0, F.lit("insert")).otherwise(F.lit("delete")),
        )
        .withColumn("_mult", F.abs(delta))
        .withColumn(
            "_c",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((F.col("_mult") - 1) / F.lit(chunk))
                    .cast("long"),
                )
            ),
        )
        .withColumn(
            "_i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(chunk),
                        F.col("_mult") - F.col("_c") * F.lit(chunk),
                    ),
                )
            ),
        )
        .select(*out_exprs, "_change_type")
    )
    # no write path today both rewrites files AND grows vectors on
    # kept files in one commit, but the union keeps this function
    # correct if one ever does
    return diff if dv_deletes is None else dv_deletes.unionByName(diff)


def read_manifest_changes(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """The row-level CHANGE FEED of commits ``from_version + 1 ..
    to_version`` (to_version defaults to LATEST): every returned row
    carries ``_change_type`` ('insert' | 'delete') and
    ``_commit_version``.  An update is delete(old) + insert(new) at
    its commit.  Replaying the feed onto the ``from_version`` snapshot
    reproduces the ``to_version`` snapshot exactly (multiset
    semantics, property-tested in tests/test_manifest_changes.py).

    Requires the [from_version, to_version] manifests to still be
    retained (expire_generations raises the retention hint otherwise).
    Cost is bounded by the REWRITTEN regions of the covered commits,
    never by table size — the manifests name exactly which files each
    commit rewrote, so an incremental consumer at 100 TB reads the
    day's touched buckets, not the lake."""
    if to_version is None:
        to_version = current_version(root, table)
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} is newer than to_version "
            f"{to_version}"
        )
    # walk the parent chain child-first, collecting per-commit diffs;
    # each parsed parent becomes the next iteration's child — one
    # manifest parse per commit, not two (review finding: a vectored
    # manifest can be multi-MB)
    steps: list[DataFrame] = []
    v = to_version
    child = read_manifest(root, table, v)
    while v > from_version:
        parent_v = child.get("parent")
        if parent_v is None:
            raise ValueError(
                f"{table} version {v} has no parent — from_version "
                f"{from_version} predates the table's first manifest"
            )
        parent = read_manifest(root, table, parent_v)
        d = _step_changes(spark, root, table, child, parent)
        if d is not None:
            steps.append(
                d.withColumn("_commit_version", F.lit(v).cast("long"))
            )
        v, child = parent_v, parent
    if not steps:
        m = read_manifest(root, table, to_version)
        empty = _scan_files(spark, root, table, m, [])
        return (
            empty.withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0).cast("long"))
        )
    out = steps[0]
    for d in steps[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _all_txn_pins(root: str, table: str) -> set[int]:
    """Every version of ``table`` pinned by ANY retained txn catalog
    file — the set expire_generations must never remove.  Bounded by
    catalog retention (expire_txn_catalogs)."""
    mdir = os.path.join(root, _TXN, "manifests")
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        return set()
    pins: set[int] = set()
    for f in names:
        m = re.fullmatch(r"catalog-(\d+)\.json", f)
        if not m:
            continue
        try:
            cat = read_txn_catalog(root, int(m.group(1)))
        except (FileNotFoundError, json.JSONDecodeError):
            continue
        v = cat["tables"].get(table)
        if v is not None:
            pins.add(v)
    return pins


def expire_txn_catalogs(root: str, *, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` transaction catalogs.  The
    retention boundary of txn TIME TRAVEL: table versions pinned only
    by an expired catalog become expirable by the next
    expire_generations sweep (the same contract as per-table
    retention — readers of an expired txn version fail their next
    resolve with the retention hint, never a torn read)."""
    if keep < 1:
        raise ValueError("keep must be >= 1 (the LATEST catalog stays)")
    latest = read_txn_catalog(root)["version"]
    if latest < 0:
        return []
    mdir = os.path.join(root, _TXN, "manifests")
    versions = sorted(
        int(m.group(1))
        for f in os.listdir(mdir)
        if (m := re.fullmatch(r"catalog-(\d+)\.json", f))
    )
    expired = [v for v in versions if v <= latest - keep]
    for v in expired:
        os.unlink(_txn_catalog_path(root, v))
    return expired


# ---------------------------------------------------------------------------
# Incremental mirror — the change feed's first consumer (round 11,
# roadmap "change-feed streaming source" brought forward)
#
# A downstream keyed table maintained from the feed alone: each sync
# reads ONLY the commits since the last synced version, reduces them
# to the net last change per key, and applies one MERGE (winning
# rows) + one key DELETE (dead keys) to the mirror.  Cost per sync is
# bounded by the window's changed rows — at 100 TB the nightly mirror
# refresh moves the day's changes, never the table.
#
# Exactly-once AND self-healing: the dst writes carry
# window-identified batch_ids (manifest-chain dedupe), and the apply
# is DECLARATIVE — upsert the key's final row / delete the key — so
# replaying a superset window (a crash before the state file advanced)
# converges to the same mirror.  The synced-version state lives in a
# durable MIRROR pointer beside the dst table's manifests.
# ---------------------------------------------------------------------------


def _mirror_state_path(root: str, dst: str) -> str:
    return os.path.join(_table_dir(root, dst), "MIRROR")


def read_mirror_state(root: str, dst: str) -> dict:
    """``{"src": <table>, "synced_version": v}`` for a mirror table."""
    with open(_mirror_state_path(root, dst)) as fh:
        return json.load(fh)


def create_manifest_mirror(
    spark: SparkSession,
    root: str,
    src: str,
    dst: str,
) -> int:
    """Initialize ``dst`` as a mirror of ``src``'s current snapshot
    (same bucket spec, same shred spec) and record the synced version.
    Subsequent ``sync_manifest_mirror`` calls advance it through the
    change feed only.

    Crash-safe ordering: the MIRROR state file (pinning the source
    version) is written FIRST, then the snapshot copies AT THAT PINNED
    VERSION — so a crash mid-copy retries against the same snapshot
    (never a torn baseline from a moved LATEST), and a completed
    initialization is a no-op on replay."""
    _check_table_name(dst)
    os.makedirs(_table_dir(root, dst), exist_ok=True)
    state_path = _mirror_state_path(root, dst)
    if os.path.exists(state_path):
        state = read_mirror_state(root, dst)
        if state["src"] != src:
            raise ValueError(
                f"{dst} already mirrors {state['src']!r}, not {src!r}"
            )
        try:
            current_version(root, dst)
            return state["synced_version"]  # fully initialized: no-op
        except FileNotFoundError:
            pass  # crashed mid-copy: resume at the PINNED version
        m = read_manifest(root, src, state["synced_version"])
    else:
        m = read_manifest(root, src)
        _durable_write(
            state_path,
            json.dumps({"src": src, "synced_version": m["version"]}),
        )
    snap = read_manifest_table(spark, root, src, m["version"])
    pf = m.get("point_filters") or {}
    create_manifest_table(
        spark, snap, root, dst,
        bucket_cols=m["bucket_cols"], num_buckets=m["num_buckets"],
        sort_cols=m["sort_cols"], shred=m.get("shred"),
        # forward the source's point-filter spec: a mirror of a
        # point-filtered table must keep Bloom point-read pruning —
        # silently dropping it would be a capability regression
        # relative to the mirrored source (advisor finding)
        point_filter_cols=pf.get("cols"),
    )
    return m["version"]


def sync_manifest_mirror(
    spark: SparkSession,
    root: str,
    dst: str,
    *,
    key_cols: str | list[str],
) -> int | None:
    """Advance the mirror to its source's current snapshot by applying
    the change feed since the last synced version.  Returns the newly
    synced source version, or None when already current.

    ``key_cols`` is the source's logical key (must contain the bucket
    columns, and the source must keep it unique — the mirror of a
    keyed table is itself keyed).  The window's changes reduce to the
    LAST change per key (commit order; within one commit an update's
    insert beats its delete), then apply as one bucket-pruned MERGE of
    the winning rows plus one bucket-pruned DELETE of the dead keys —
    both with window-derived batch_ids, so a crashed sync replays
    exactly-once, and a replay over a GROWN window (state file lagging
    a crash) still converges: the net-last-change apply is
    declarative.

    CONCURRENT syncs of the same mirror serialize on a claim over the
    MIRROR pointer (advisor finding): without it, two racing syncs
    with different windows could interleave so a stale narrower-window
    winner set lands AFTER the newer one while the state file still
    ends at the newer version — the overwritten commits would then
    never be replayed, permanently diverging the mirror.  The claim is
    held across the whole read-feed → reduce → apply → advance-state
    sequence; a loser waits for the holder's release (or death — a
    crashed sync's claim is taken over, and its half-applied window
    replays idempotently via the batch_id chain) and then re-reads the
    state, so it syncs the REMAINDER, typically a no-op."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    claim = _mirror_state_path(root, dst) + ".claim"
    # the one loop _claim_next does not run: the MIRROR claim is
    # versionless, so there is no head to read, re-check or roll forward
    for attempt in range(_MAX_RETRIES + 1):
        try:
            _acquire_claim_path(claim, f"mirror {dst} sync")
        except ConcurrentWriteError:
            if attempt == _MAX_RETRIES:
                raise
            _claim_path_wait(claim, attempt, _RETRY_WAIT_S)
            continue
        try:
            return _sync_mirror_locked(spark, root, dst, keys)
        finally:
            _release_claim_path(claim)
    raise ConcurrentWriteError(
        f"mirror {dst} sync lost the claim race {_MAX_RETRIES + 1} times"
    )


def _sync_mirror_locked(
    spark: SparkSession, root: str, dst: str, keys: list[str]
) -> int | None:
    """One mirror sync, caller holding the MIRROR claim.  The state
    is (re-)read INSIDE the claim: a loser that waited out a
    concurrent sync sees the advanced version and applies only the
    remainder."""
    from pyspark.sql import Window

    state = read_mirror_state(root, dst)
    src = state["src"]
    from_v = state["synced_version"]
    to_v = current_version(root, src)
    if to_v == from_v:
        return None
    feed = read_manifest_changes(
        spark, root, src, from_version=from_v, to_version=to_v
    )
    # net effect per key: the newest commit wins; within a commit an
    # update emits delete(old)+insert(new) for the same key and the
    # insert is the survivor ('insert' > 'delete' lexicographically)
    w = Window.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(), F.col("_change_type").desc()
    )
    last = (
        feed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_commit_version")
    )
    last = last.localCheckpoint()  # one bounded materialization: the
    # merge and the delete must see the same winner set
    ups = last.filter(F.col("_change_type") == "insert").drop(
        "_change_type"
    )
    doomed = last.filter(F.col("_change_type") == "delete").select(*keys)
    if ups.take(1):
        merge_manifest_table(
            spark, ups, root, dst, key_cols=keys,
            batch_id=f"mirror:{src}:{to_v}:ins",
        )
    if doomed.take(1):
        delete_manifest_rows(
            spark, doomed, root, dst, key_cols=keys,
            batch_id=f"mirror:{src}:{to_v}:del",
        )
    state["synced_version"] = to_v
    _durable_write(_mirror_state_path(root, dst), json.dumps(state))
    return to_v
