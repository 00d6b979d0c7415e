"""Versioned parquet tables: snapshot writes, time-travel reads, and
retention vacuum — the modern restatement of the reference's
idempotent load pattern.

The reference gets safe re-runs from delete&insert restatement
(pipeline.py's month-scoped delete + append; K3 in SURVEY §2.9) and
bounds history with a keep-newest-5 file retention
(pipeline_manual.py:16-28, ``sources/files.prune_old_files``).  A
versioned table gives both properties structurally, the way modern
lakehouse formats do:

* every write is a NEW immutable snapshot directory (``v=N/``) —
  re-running a failed job never corrupts the current table, because
  readers only follow the manifest;
* the manifest flip is an atomic ``os.replace`` of a single JSON file,
  so readers see the old or the new version, never a half-written mix
  (on object stores this is a conditional PUT — same one-pointer
  design);
* old snapshots stay readable (``version=`` time travel) until
  ``vacuum`` retires all but the newest K — the reference's
  MAX_HISTORICO policy applied to table versions instead of CSVs.

Deliberately minimal: one table = one directory, linear version
history, no concurrent multi-writer arbitration (a lakehouse format's
log brings that; the reference is a single nightly writer).  What it
demonstrates is the ENGINE pattern: snapshot isolation via immutable
data + one atomically-swapped pointer.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_manifest.json"


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


def _read_manifest(table_dir: str) -> dict:
    try:
        with open(_manifest_path(table_dir)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {"current": None, "versions": []}


def _dirs_for(man: dict, version: int) -> list[str]:
    """The snapshot directories a version comprises, oldest first.  A
    full write is one materialized dir list; an appended version is
    stored as ``{"base": parent, "add": "v=N"}`` — one entry per
    version, so a B-batch append chain keeps the manifest O(B), not
    O(B²) — and resolved here by walking the parent chain.  ``vacuum``
    materializes survivors' lists so retired ancestors' entries can be
    dropped.  Manifests written before the append feature carry no
    ``dirs`` map — their versions are single-dir by construction."""
    dirs_map = man.get("dirs", {})
    adds: list[str] = []
    v = version
    while True:
        e = dirs_map.get(str(v))
        if e is None:
            base = [f"v={v}"]
            break
        if isinstance(e, list):
            base = e
            break
        if e["add"] is not None:  # delete versions add no dir
            adds.append(e["add"])
        v = e["base"]
    return base + adds[::-1]


def _deletes_for(man: dict, version: int) -> list[tuple[int, str]]:
    """(delete version, predicate) pairs live at ``version``, walking
    the same base-pointer chain as ``_dirs_for`` — a rewrite (write /
    compact / merge) starts a fresh chain, so its materialized
    snapshot (which already excludes deleted rows) naturally resets
    the predicate set.  Entries are stored per delete commit as a
    string; vacuum materializes survivors' CUMULATIVE pair lists
    (same pattern as dirs), so retiring the delete version never
    resurrects its rows."""
    dels = man.get("deletes", {})
    if not dels:
        return []
    dirs_map = man.get("dirs", {})
    out: set[tuple[int, str]] = set()
    v = version
    while True:
        e = dels.get(str(v))
        if isinstance(e, str):
            out.add((v, e))
        elif isinstance(e, list):
            out.update((int(d), p) for d, p in e)
        entry = dirs_map.get(str(v))
        if entry is None or isinstance(entry, list):
            break
        v = entry["base"]
    return sorted(out)


def _flip_manifest(table_dir: str, man: dict) -> None:
    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix="._manifest")
    with os.fdopen(fd, "w") as fh:
        json.dump(man, fh)
    os.replace(tmp, _manifest_path(table_dir))  # atomic pointer flip


@contextlib.contextmanager
def _flip_lock(table_dir: str):
    """Serialize manifest FLIPS (not claims — the put-if-absent marker
    already serializes those).  Without this fence a stalled
    roll-forward helper that read ``current`` before sleeping could
    flip its stale marker content over a newer committed manifest — a
    lost update.  Every flip site re-reads ``current`` under this lock
    and only flips if its version is still next.  flock is
    advisory-per-host, which matches the module contract (one nightly
    writer, helpers on the same host); on an object store the flip
    itself becomes a compare-and-swap and this lock disappears."""
    path = os.path.join(table_dir, ".manifest.lock")
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


class ConcurrentWriteError(RuntimeError):
    """Another writer claimed this version — committing would silently
    discard their work (a lost update).  Re-read the table and retry;
    the retried operation targets the next free version."""


def _commits_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_commits")


def _roll_forward(table_dir: str) -> None:
    """Complete any crashed winner's commit: a marker for version
    current+1 holds the FULL new manifest (written atomically via
    link-from-temp), so any later writer can finish the flip the
    winner never performed — the 'helping' pattern; flipping twice to
    identical content is idempotent.  Markers at or below current
    already flipped: sweep them."""
    cdir = _commits_dir(table_dir)
    try:
        names = os.listdir(cdir)
    except FileNotFoundError:
        return
    markers = [n for n in names
               if n.endswith(".json") and not n.startswith(".")]
    for name in sorted(markers, key=lambda n: int(n[:-5])):
        v = int(name[:-5])
        path = os.path.join(cdir, name)
        with _flip_lock(table_dir):
            # Re-read under the lock: a helper that checked `current`
            # before blocking here must not flip a now-stale marker
            # over a newer committed manifest.
            cur = _read_manifest(table_dir)["current"] or 0
            if v == cur + 1:
                try:
                    with open(path) as fh:
                        content = json.load(fh)
                except FileNotFoundError:
                    continue  # a concurrent helper flipped + swept it
                _flip_manifest(table_dir, content)
        if v <= cur + 1:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass  # a concurrent helper swept it first


def _writer_manifest(table_dir: str) -> dict:
    """The manifest as a WRITER must read it: crashed claims rolled
    forward first, so the new commit targets the true next version.
    Read-only paths keep using ``_read_manifest`` (they must not
    write)."""
    _roll_forward(table_dir)
    return _read_manifest(table_dir)


def _commit(man: dict, table_dir: str, version: int,
            dirs: list[str] | dict, schema_json: str,
            op: str, rows_written: int,
            partition_by: list[str] | None = None,
            pre_flip=None) -> None:
    # Serialized commit protocol (the lakehouse-log shape on a POSIX
    # filesystem): finish any crashed winner first, then — atomically
    # under the flip lock — re-verify the manifest is still at
    # version-1, CLAIM the version by creating
    # `_commits/<version>.json` put-if-absent (os.link from a temp
    # file — atomic, content-complete), and flip the manifest; then
    # sweep the marker.  Exactly one of two racing writers wins;
    # losers get ConcurrentWriteError and retry at the next version.
    # Verify+claim+flip MUST share one critical section: verifying
    # outside it lets a writer claim a version that committed AND
    # swept its marker in between — the claim looks fresh, the writer
    # skips or misdirects its flip, and its commit silently vanishes
    # (caught by the 8-thread protocol stress).  A crash after claim
    # and before flip (the lock dies with the process) is rolled
    # forward by the next writer from the marker's full manifest; a
    # crash after flip leaves a stale marker the next roll-forward
    # sweeps.  (On an object store, link-under-lock becomes the
    # store's conditional PUT of the manifest pointer itself.)
    _roll_forward(table_dir)
    on_disk = _read_manifest(table_dir)["current"]
    expected = version - 1 if version > 1 else None
    if on_disk != expected:  # fast-fail before building the manifest
        raise ConcurrentWriteError(
            f"{table_dir}: manifest moved to version {on_disk} while "
            f"this {op} (targeting {version}) was in flight — "
            "re-read the table and retry the operation")
    man["current"] = version
    man["versions"] = sorted(set(man["versions"]) | {version})
    man.setdefault("dirs", {})[str(version)] = dirs
    man.setdefault("schema", {})[str(version)] = schema_json
    if partition_by:
        man.setdefault("partition_by", {})[str(version)] = partition_by
    man.setdefault("history", []).append(
        {"version": version, "ts": time.time(), "op": op,
         "rows_written": rows_written})

    cdir = _commits_dir(table_dir)
    os.makedirs(cdir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=cdir, prefix=".tmp-")
    with os.fdopen(fd, "w") as fh:
        json.dump(man, fh)
    marker = os.path.join(cdir, f"{version}.json")
    try:
        with _flip_lock(table_dir):
            if _read_manifest(table_dir)["current"] != expected:
                # The manifest moved between the fast check and the
                # lock: this claim would target an already-committed
                # (or skipped-ahead) version — committing it anyway
                # would either regress the manifest or silently lose
                # this write.
                raise ConcurrentWriteError(
                    f"{table_dir}: version {version} committed by "
                    f"another writer while this {op} was in flight — "
                    "re-read the table and retry")
            if os.path.exists(marker):
                # A claim for this exact version already exists: a
                # writer linked its marker, then crashed before the
                # flip (the precise window _roll_forward exists for).
                # The manifest still reads version-1, so the verify
                # above passed — but that claimant's data move already
                # happened and the next roll-forward WILL make its
                # commit durable.  Running pre_flip here would rebuild
                # a *claimed* version's data dir, so roll-forward
                # would flip a manifest whose v=<version> holds THIS
                # writer's rows while this writer retries at N+1 and
                # duplicates them.  Fail before any mutation.  (New
                # markers only appear under the flip lock we hold, so
                # this check cannot go stale before the os.link.)
                raise ConcurrentWriteError(
                    f"{table_dir}: version {version} claimed by a "
                    f"crashed writer awaiting roll-forward — re-read "
                    f"the table and retry this {op}")
            if pre_flip is not None:
                # Caller's data-dir mutation (e.g. the vtable sink's
                # rebuild-and-move of v=<version>) runs INSIDE the
                # verified critical section AFTER the claimed-marker
                # check: the version is proven uncommitted AND
                # unclaimed here, so touching its dir can never
                # destroy a committed winner's snapshot nor a claimed
                # claimant's moved data.  It runs BEFORE the claim —
                # a failure leaves no marker and no flip, so
                # roll-forward can never complete a commit whose data
                # move failed.
                pre_flip()
            try:
                os.link(tmp, marker)  # put-if-absent WITH full content
            except FileExistsError:
                raise ConcurrentWriteError(
                    f"{table_dir}: version {version} already claimed "
                    f"by another writer — re-read the table and retry "
                    f"this {op}") from None
            _flip_manifest(table_dir, man)
    finally:
        os.unlink(tmp)
    try:
        os.remove(marker)
    except FileNotFoundError:
        pass  # a concurrent roll-forward helper swept it


def _write_snapshot(df: DataFrame, vdir: str,
                    partition_by: list[str] | None = None,
                    stats_cols: list[str] | None = None
                    ) -> tuple[int, dict]:
    """Write one snapshot dir (hive-partitioned when ``partition_by``
    is given), returning ``(row count, column stats)`` gathered IN THE
    SAME job via the Observation API (`sinks/observed` pattern) — the
    commit log gets per-commit row counts, and the manifest gets
    per-dir min/max for the declared ``stats_cols``, with zero extra
    scans.  Stats are recorded only for JSON-faithful value types
    (int/float/str); anything else is skipped (absent stats simply
    mean the dir can never be pruned)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(stats_cols or []):
        metrics += [F.min(c).alias(f"mn{i}"), F.max(c).alias(f"mx{i}")]
    writer = df.observe(obs, *metrics).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(vdir)
    got = obs.get
    stats = {}
    for i, c in enumerate(stats_cols or []):
        mn, mx = got[f"mn{i}"], got[f"mx{i}"]
        if (isinstance(mn, (int, float, str)) and not
                isinstance(mn, bool) and mx is not None):
            stats[c] = [mn, mx]
    return int(got["n"]), stats


def _partition_by_for(man: dict, version: int | None) -> list[str]:
    return man.get("partition_by", {}).get(str(version), [])


def _merged_schema(man: dict, prev: int | None, df: DataFrame,
                   merge_schema: bool):
    """Schema evolution on append, the lakehouse way: the new
    version's schema is the previous version's fields (order kept)
    plus the batch's new fields appended — old files simply read the
    added columns as null.  Evolution is OPT-IN (``merge_schema``),
    exactly like Delta's mergeSchema: by default a batch carrying a
    column the table doesn't have is rejected, because the most common
    cause is a typo'd column name that would otherwise silently
    null-fill the real column forever.  A same-name field with a
    DIFFERENT type is always rejected (silent coercion corrupts; an
    explicit cast in the batch is the fix)."""
    import json as _json

    from pyspark.sql.types import StructType

    stored = man.get("schema", {}).get(str(prev))
    if prev is None or stored is None:  # new table / legacy manifest
        return df.schema
    old = StructType.fromJson(_json.loads(stored))
    by_name = {f.name: f for f in old.fields}
    for f in df.schema.fields:
        have = by_name.get(f.name)
        if have is not None and have.dataType != f.dataType:
            raise ValueError(
                f"append schema conflict on '{f.name}': table has "
                f"{have.dataType.simpleString()}, batch has "
                f"{f.dataType.simpleString()} — cast the batch "
                "explicitly")
    new_fields = [f for f in df.schema.fields if f.name not in by_name]
    if new_fields and not merge_schema:
        raise ValueError(
            "append adds columns "
            f"{[f.name for f in new_fields]} the table schema lacks; "
            "pass merge_schema=True to evolve the schema (the default "
            "rejects, which catches typo'd column names)")
    return StructType(old.fields + new_fields)


def _dir_bloom(spark: SparkSession, vdir: str, col: str,
               m_bits: int) -> str:
    """One dir-level Bloom filter over ``col``'s values in a freshly
    written snapshot dir — the equality-predicate complement of the
    min/max dir stats (min/max cannot skip for a point lookup on a
    high-cardinality column; a Bloom can).  Reuses the engine's
    word-packed distributed builder (operators/sketches.bloom_build):
    a keys-only column scan of the NEW dir's files, never the table.
    Size ``m_bits`` to the expected distinct keys per dir (~8 bits
    per key keeps the false-positive rate low single digits); a
    saturated bloom only costs a wasted dir scan, never a wrong
    result."""
    from pyspark.sql import functions as F

    from ..operators.sketches import bloom_build

    keys = spark.read.parquet(vdir).select(col).where(
        F.col(col).isNotNull())
    return bloom_build(keys, col, m_bits=m_bits, n_hashes=3,
                       salt=f"dirbloom:{col}").decode("ascii")


def _bloom_may_contain(spark: SparkSession, hexmap: str, col: str,
                       value, m_bits: int) -> bool:
    """Driver-side probe of one dir bloom: the value's 3 bit positions
    come from the SAME JVM xxhash64 expression the builder used (one
    tiny local job per (col, value), computed once per read)."""
    from pyspark.sql import functions as F

    from ..operators.sketches import _bloom_positions

    # _bloom_positions casts its key to string itself — identical
    # derivation to the builder's.
    pos = _bloom_positions(F.lit(value), 3, m_bits, f"dirbloom:{col}")
    row = spark.range(1).select(
        *[p.alias(f"p{i}") for i, p in enumerate(pos)]).first()
    for i in range(3):
        b = row[f"p{i}"]
        if not (int(hexmap[b // 4], 16) >> (b % 4)) & 1:
            return False
    return True


def _migrate_legacy_blooms(man: dict) -> None:
    """Pin legacy flat bloom entries (``{col: hexmap}``, pre-dating
    per-version bits) to the table-global ``bloom_bits`` they were
    BUILT with, before any caller mutates that global.  Without this,
    a later ``write_version(bloom_cols=..., bloom_bits=<new>)``
    silently changes the probe size for every legacy dir — wrong bit
    positions, FALSE exclusions on time-travel/prune reads: the exact
    wrong-results bug per-version bits fixed for new entries.  The
    shape test matches ``read_version``'s (flat values are hex
    strings, so ``{"bits": int, "cols": dict}`` is unambiguous);
    idempotent, so callers may run it unconditionally."""
    blooms = man.get("blooms")
    if not blooms:
        return
    built_with = man.get("bloom_bits", 1 << 14)
    for d, entry in blooms.items():
        if not (isinstance(entry.get("cols"), dict)
                and isinstance(entry.get("bits"), int)):
            blooms[d] = {"bits": built_with, "cols": entry}


def write_version(df: DataFrame, table_dir: str,
                  op: str = "write",
                  partition_by: list[str] | None = None,
                  stats_cols: list[str] | None = None,
                  bloom_cols: list[str] | None = None,
                  bloom_bits: int = 1 << 14) -> int:
    """Write ``df`` as the table's next snapshot and atomically flip
    the manifest to it.  Returns the new version number.  ``op`` is
    what the commit log records — callers committing on behalf of a
    higher-level operation (merge, compact) pass their own name so
    ``table_history`` can tell a destructive overwrite from table
    maintenance.

    Failure safety: the snapshot directory is fully written BEFORE the
    manifest flip; a crash mid-write leaves an orphan ``v=N`` dir that
    the manifest never references — readers never see it, the next
    write overwrites it (same version number), and ``vacuum`` reclaims
    it — never a corrupt current version."""
    os.makedirs(table_dir, exist_ok=True)
    man = _writer_manifest(table_dir)
    version = (man["current"] or 0) + 1
    vdir = os.path.join(table_dir, f"v={version}")
    sc = (stats_cols if stats_cols is not None
          else man.get("stats_cols") or None)
    n, stats = _write_snapshot(df, vdir, partition_by, sc)
    if sc:
        man["stats_cols"] = sc
        man.setdefault("stats", {})[f"v={version}"] = stats
    bc = (bloom_cols if bloom_cols is not None
          else man.get("bloom_cols") or None)
    if bc:
        mb = (bloom_bits if bloom_cols is not None
              else man.get("bloom_bits", bloom_bits))
        _migrate_legacy_blooms(man)
        man["bloom_cols"], man["bloom_bits"] = bc, mb
        # bits is recorded PER VERSION: time-travel reads must probe
        # each dir's bloom with the m_bits it was built with — probing
        # an old bloom with a later bloom_bits computes wrong positions
        # and can FALSELY exclude a dir that contains the key.
        man.setdefault("blooms", {})[f"v={version}"] = {
            "bits": mb, "cols": {
                c: _dir_bloom(df.sparkSession, vdir, c, mb) for c in bc}}
    _commit(man, table_dir, version, [f"v={version}"],
            df.schema.json(), op=op, rows_written=n,
            partition_by=partition_by)
    return version


def append_version(df: DataFrame, table_dir: str,
                   batch_id: int | None = None,
                   writer_id: str = "default",
                   merge_schema: bool = False) -> int:
    """Append ``df`` as the table's next version WITHOUT rewriting the
    existing data — the lakehouse write path that makes incremental
    loads O(batch), not O(table), at any scale.  Only the batch's own
    files are written (into a new ``v=N`` dir); the new version's
    manifest entry records ``{base: previous, add: new dir}`` (one
    entry per version — the manifest stays O(versions) however long
    the chain), so `read_version` sees the union while every existing
    file stays byte-identical and time travel to the pre-append
    version still reads exactly the old file set.

    ``batch_id`` (optional) is recorded in the manifest under
    ``txn[writer_id]`` IN THE SAME atomic flip as the data pointer —
    the transaction-id idempotence pattern: a streaming replay of an
    already-committed micro-batch is detected by
    :func:`foreach_batch_appender` and skipped, so crash-replays
    cannot double rows.  Transactions are scoped PER WRITER so two
    independent streams feeding one table never skip each other's
    batch numbers.

    Compaction (`compact`) folds an append chain's many dirs/files
    back into one; `vacuum` reference-counts dirs, so retiring an old
    version never deletes a directory a live version still includes."""
    os.makedirs(table_dir, exist_ok=True)
    man = _writer_manifest(table_dir)
    prev = man["current"]
    # Validates BEFORE writing; new columns need merge_schema=True.
    schema = _merged_schema(man, prev, df, merge_schema)
    version = (prev or 0) + 1
    vdir = os.path.join(table_dir, f"v={version}")
    pb = _partition_by_for(man, prev)  # appends inherit partitioning
    sc = man.get("stats_cols") or None  # appends inherit stats cols
    n, stats = _write_snapshot(df, vdir, pb, sc)
    if sc:
        man.setdefault("stats", {})[f"v={version}"] = stats
    bc = man.get("bloom_cols") or None  # appends inherit bloom cols
    if bc:
        mb = man.get("bloom_bits", 1 << 14)
        man.setdefault("blooms", {})[f"v={version}"] = {
            "bits": mb, "cols": {
                c: _dir_bloom(df.sparkSession, vdir, c, mb) for c in bc}}
    dirs = ({"base": prev, "add": f"v={version}"} if prev
            else [f"v={version}"])
    if batch_id is not None:
        man.setdefault("txn", {})[writer_id] = batch_id
    _commit(man, table_dir, version, dirs, schema.json(), op="append",
            rows_written=n, partition_by=pb)
    return version


def foreach_batch_appender(table_dir: str, writer_id: str = "default"):
    """``foreachBatch`` sink function: exactly-once append of each
    micro-batch to the versioned table.  Spark's checkpoint guarantees
    at-least-once delivery of each batch id; the manifest's
    ``txn[writer_id]`` watermark (committed atomically with the data
    pointer by :func:`append_version`) turns that into exactly-once —
    a replayed batch (crash after the append committed but before the
    stream checkpoint did) is recognized and skipped.

    ``writer_id`` must be STABLE for the life of one logical stream
    (and unique across streams sharing a table): the guard compares
    this writer's own batch numbering only.  The standard lakehouse
    caveat applies — resetting the checkpoint restarts batch numbering
    at 0, which the watermark then treats as already-seen; that is
    exactly-once only if the source file set is unchanged since batch
    0 (a grown source re-batches differently and new files could land
    under already-committed ids).  To reprocess a changed source,
    use a new writer_id against a fresh/rebuilt table."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        man = _writer_manifest(table_dir)
        last = man.get("txn", {}).get(writer_id)
        if last is not None and batch_id <= last:
            return  # replay of an already-committed micro-batch
        append_version(batch_df, table_dir, batch_id=batch_id,
                       writer_id=writer_id)
    return _sink


def _merge_frame(target: DataFrame, updates: DataFrame,
                 keys: list[str],
                 deletes: DataFrame | None = None) -> DataFrame:
    """MERGE's logical plan, exposed for plan-shape pinning: the
    tag-union + per-key ``max_by`` winner selection (ONE shuffle on
    the keys, map-side combinable) plus an optional keys-only
    anti-join for deletes.  ``merge_version`` executes exactly this
    frame; tests/test_plan_hygiene.py pins its shuffle count so a
    regression in the merge leg of the lakehouse loop fails CI even
    though the loop query itself is exempt from the plan sweep."""
    from pyspark.sql import functions as F

    others = [c for c in target.columns if c not in keys]

    def tag(df: DataFrame, pri: int) -> DataFrame:
        return df.select(*keys, F.struct(*others).alias("_row"),
                         F.lit(pri).alias("_pri"))

    merged = (tag(target, 0).unionByName(tag(updates, 1))
              .groupBy(*keys)
              .agg(F.max_by("_row", "_pri").alias("_row"))
              .select(*keys, "_row.*")
              .select(*target.columns))  # original column order
    if deletes is not None:
        merged = merged.join(deletes.select(*keys).distinct(),
                             on=keys, how="left_anti")
    return merged


def merge_version(spark: SparkSession, table_dir: str,
                  updates: DataFrame, keys: list[str],
                  deletes: DataFrame | None = None) -> int:
    """MERGE INTO for the versioned table, copy-on-write: matched rows
    are replaced by their ``updates`` row, unmatched update rows are
    inserted, and rows whose key appears in ``deletes`` (a keys-only
    frame) are removed — committed as one new version, so readers see
    the pre-merge or post-merge table, never a mix, and the pre-merge
    version stays time-travelable.

    Executed as the tag-union + per-key ``max_by`` shape (the scale
    form `merge_upsert` pins against its full-outer-join oracle,
    queries/lakehouse.py: one map-side-combinable aggregate instead of
    shuffling snapshot against delta as a join); deletes are one
    anti-join on distinct keys.  ``updates`` must match the table's
    schema; a key in both ``updates`` and ``deletes`` is deleted.

    MERGE's well-formedness rule — at most one row per key on BOTH
    sides — is ENFORCED, not assumed: the winner selection keeps one
    row per key, so a duplicate-key table (legal for appends) or a
    duplicate-key update set would silently lose rows the merge was
    never asked to touch.  Both sides are checked in one cheap
    keys-only aggregate each and a violation raises before anything
    is written (ANSI MERGE raises on the update side for the same
    reason).

    Copy-on-write at version granularity is the honest minimal form —
    a format with file-level manifests rewrites only the files whose
    keys matched; same commit protocol, finer unit.  Returns the new
    version number."""
    from pyspark.sql import functions as F

    target = read_version(spark, table_dir)

    for side, df in (("table", target), ("updates", updates)):
        dup = (df.groupBy(*keys).count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            k = tuple(dup[0][c] for c in keys)
            raise ValueError(
                f"merge_version: {side} has multiple rows for key "
                f"{k}; MERGE requires key-unique sides (deduplicate "
                "or compact first)")

    merged = _merge_frame(target, updates, keys, deletes)
    man = _writer_manifest(table_dir)
    return write_version(merged, table_dir, op="merge",
                         partition_by=_partition_by_for(
                             man, man["current"]))


def delete_where(spark: SparkSession, table_dir: str,
                 predicate: str) -> int:
    """Merge-on-read DELETE — O(1) at any table size: commits a new
    version whose manifest entry carries the SAME data dirs plus a
    deletion PREDICATE; not one data byte is rewritten, and
    `read_version` applies ``NOT (predicate)`` at scan time (pushed
    into the parquet scan by Catalyst).  At 100 TB this is the only
    viable DELETE: copy-on-write (`merge_version` with deletes) would
    rewrite the whole snapshot to drop a few rows.

    Era semantics match SQL DELETE: the predicate applies only to
    rows that existed when the delete committed — a row APPENDED
    later survives even if it matches (each data dir is filtered only
    by deletes committed after it).  The pre-delete version stays
    time-travelable, `table_changes` across the delete emits the
    removed rows as CDC deletes, `compact` materializes survivors and
    folds the predicates away, and vacuum keeps retired chains'
    predicates effective.  The vtable STREAM source fails on a delete
    in its range (a row-append stream cannot represent removals).

    The predicate is validated against the current schema before the
    commit (analysis-time, no scan).  Returns the new version."""
    from pyspark.sql import functions as F

    man = _writer_manifest(table_dir)
    prev = man["current"]
    if prev is None:
        raise FileNotFoundError(
            f"{table_dir}: no committed version to delete from")
    # Analysis-time validation: resolves columns/types, scans nothing.
    read_version(spark, table_dir).filter(F.expr(predicate))
    version = prev + 1
    man.setdefault("deletes", {})[str(version)] = predicate
    schema_json = man.get("schema", {}).get(str(prev))
    if schema_json is None:
        schema_json = read_version(spark, table_dir).schema.json()
    _commit(man, table_dir, version, {"base": prev, "add": None},
            schema_json, op="delete", rows_written=0,
            partition_by=_partition_by_for(man, prev))
    return version


def restore_version(table_dir: str, version: int) -> int:
    """RESTORE (the lakehouse undo): make ``version`` the table's
    current state again by committing a NEW version that points at the
    old version's exact dir list — metadata-only, zero data bytes
    moved, O(1) at any table size.  The mistake stays time-travelable
    (and auditable: op='restore' in the history) until vacuum retires
    it; appends continue on the restored chain.

    Merge-on-read deletes restore WITH the snapshot: the new commit
    carries the restored version's cumulative predicate set, so rows
    deleted before the restore point never resurrect.  A vtable
    consumer checkpointed at-or-before the restored version continues
    correctly (the restored chain is its own chain); one checkpointed
    on the abandoned chain fails with the standard rewrite error."""
    man = _writer_manifest(table_dir)
    if version not in man["versions"]:
        raise ValueError(
            f"{table_dir}: version {version} not available "
            f"(have {man['versions']}) — vacuumed versions cannot "
            "be restored")
    if version == man["current"]:
        return version
    new = man["current"] + 1
    dels = _deletes_for(man, version)
    if dels:
        man.setdefault("deletes", {})[str(new)] = \
            [[d, p] for d, p in dels]
    schema_json = man.get("schema", {}).get(str(version))
    _commit(man, table_dir, new, _dirs_for(man, version), schema_json,
            op="restore", rows_written=0,
            partition_by=_partition_by_for(man, version))
    return new


def read_version(spark: SparkSession, table_dir: str,
                 version: int | None = None,
                 as_of_ts: float | None = None,
                 prune: dict[str, tuple] | None = None,
                 prune_eq: dict | None = None) -> DataFrame:
    """Read the current snapshot, ``version=`` for VERSION AS OF time
    travel, or ``as_of_ts=`` (unix seconds) for TIMESTAMP AS OF — the
    newest version committed at or before that instant, resolved from
    the manifest's commit log.  An appended version is the union of
    its directories (one multi-path parquet scan — the file list comes
    from the manifest, never from directory listing).

    ``prune`` is manifest-level file skipping (the Delta per-file
    stats idea at dir granularity): ``{col: (lo, hi)}`` drops every
    snapshot dir whose recorded min/max for ``col`` (see
    ``write_version(stats_cols=...)``; appends inherit) provably
    misses the interval — a date-range query over a daily append
    chain scans 7 dirs, not 3650.  Either bound may be None
    (one-sided).  It is an OPTIMIZATION HINT, not a filter: kept dirs
    still contain out-of-range rows, so the caller applies its own
    predicate as usual — the law is read(prune).filter(p) ==
    read().filter(p), with strictly fewer input files.  Dirs with no
    recorded stats are always kept (safe).

    ``prune_eq`` is the EQUALITY form over the dir-level Bloom
    filters (``write_version(bloom_cols=...)``; appends inherit):
    ``{col: value}`` drops every dir whose bloom says the value is
    definitively absent — the skip min/max cannot make for a point
    lookup on a high-cardinality column (every dir's [min, max]
    straddles a popular id range; almost no dir actually contains a
    given key).  Same hint-not-filter law; Bloom false positives only
    keep an extra dir, never change the result.  Dirs with no
    recorded bloom are always kept (safe); composes with ``prune``."""
    import json as _json

    from pyspark.sql.types import StructType

    man = _read_manifest(table_dir)
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version= or as_of_ts=, not both")
        eligible = [h["version"] for h in man.get("history", [])
                    if h["ts"] <= as_of_ts and h["version"]
                    in man["versions"]]
        if not eligible:
            raise ValueError(
                f"{table_dir}: no version committed at or before "
                f"{as_of_ts} (or it was vacuumed)")
        version = max(eligible)
    v = man["current"] if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table_dir}: no committed version")
    if v not in man["versions"]:
        raise ValueError(
            f"{table_dir}: version {v} not available "
            f"(have {man['versions']})")
    dirs = _dirs_for(man, v)
    if prune:
        dstats = man.get("stats", {})

        def _misses(d: str) -> bool:
            st = dstats.get(d)
            if not st:
                return False
            for col, (lo, hi) in prune.items():
                if col in st:
                    mn, mx = st[col]
                    if ((hi is not None and mn > hi)
                            or (lo is not None and mx < lo)):
                        return True
            return False

        dirs = [d for d in dirs if not _misses(d)]
    if prune_eq:
        blooms = man.get("blooms", {})

        def _excluded(d: str) -> bool:
            entry = blooms.get(d)
            if not entry:
                return False  # no bloom recorded: keep (safe)
            # Each version's entry carries the m_bits it was built
            # with ({"bits": m, "cols": {col: hexmap}}); probing with
            # any other size computes wrong positions and can falsely
            # exclude a dir.  Legacy entries (flat {col: hexmap},
            # values are hex strings so the shape is unambiguous)
            # predate per-version bits and used the table-global value.
            if (isinstance(entry.get("cols"), dict)
                    and isinstance(entry.get("bits"), int)):
                bm, mb = entry["cols"], entry["bits"]
            else:
                bm, mb = entry, man.get("bloom_bits", 1 << 14)
            for col, value in prune_eq.items():
                if col in bm and not _bloom_may_contain(
                        spark, bm[col], col, value, mb):
                    return True
            return False

        dirs = [d for d in dirs if not _excluded(d)]
    paths = [os.path.join(table_dir, d) for d in dirs]
    stored = man.get("schema", {}).get(str(v))
    schema = (StructType.fromJson(_json.loads(stored))
              if stored is not None else None)
    if not paths:  # every dir pruned: empty frame, committed schema
        return spark.createDataFrame([], schema)

    def scan(*ps: str) -> DataFrame:
        reader = spark.read
        if schema is not None:
            # The version's schema comes from the manifest (committed
            # with the data pointer), not from merging file footers:
            # appended files missing later-added columns read them as
            # null, and the scan needs no footer listing — the
            # Delta-log pattern.
            reader = reader.schema(schema)
        out = reader.parquet(*ps)
        if schema is not None and out.columns != schema.fieldNames():
            # A hive-partitioned scan surfaces partition columns last
            # regardless of the declared order; restore the table's
            # committed column order (a zero-cost projection).
            out = out.select(*schema.fieldNames())
        return out

    deletes = _deletes_for(man, v)
    if deletes:
        # Merge-on-read: each data dir is filtered by NOT(pred) for
        # every delete committed AFTER the dir was added (dir number =
        # the version that added it), so later appends survive older
        # predicates — SQL DELETE era semantics.  Dirs sharing an
        # applicable-predicate set scan together; filters are plain
        # Catalyst expressions, so pushdown into the parquet scan is
        # preserved.  compact() restores the single-scan fast path
        # and folds the predicates away.
        from pyspark.sql import functions as F

        split_hive = len(paths) > 1 and _partition_by_for(man, v)
        groups: dict[tuple[str, ...], list[str]] = {}
        for d, pth in zip(dirs, paths):
            preds = tuple(p for dv, p in deletes if int(d[2:]) < dv)
            groups.setdefault(preds, []).append(pth)
        out = None
        for preds, ps in groups.items():
            part = (scan(ps[0]) if split_hive else scan(*ps))
            if split_hive:
                for pth in ps[1:]:
                    part = part.unionByName(scan(pth))
            for p in preds:
                # SQL DELETE three-valued logic: a NULL predicate does
                # not match, so the row SURVIVES — coalesce before
                # negating, or filter(~p) would drop NULL rows too.
                part = part.filter(~F.coalesce(F.expr(p),
                                               F.lit(False)))
            out = part if out is None else out.unionByName(part)
        return out
    if len(paths) > 1 and _partition_by_for(man, v):
        # Hive-partitioned append chain: the sibling v=N roots would
        # parse as a partition layer in one multi-path scan
        # (CONFLICTING_DIRECTORY_STRUCTURES), so scan each root
        # separately — discovery and partition pruning stay local to
        # each root — and union.  compact folds the chain back to the
        # single-scan fast path.
        out = scan(paths[0])
        for pth in paths[1:]:
            out = out.unionByName(scan(pth))
        return out
    return scan(*paths)


def table_history(table_dir: str) -> list[dict]:
    """The table's commit log (DESCRIBE HISTORY): one dict per commit
    — version, timestamp, op (write/append) — straight from the
    manifest.  Retired versions keep their history rows (an audit
    trail survives vacuum; only data and per-version metadata go)."""
    return list(_read_manifest(table_dir).get("history", []))


def _part_files(vdir: str) -> list[str]:
    """The snapshot's parquet part files (full paths), recursing into
    hive partition subdirectories."""
    out = []
    for root, _dirs, names in os.walk(vdir):
        out += [os.path.join(root, n) for n in names
                if n.startswith("part-") and n.endswith(".parquet")]
    return out


def compact(spark: SparkSession, table_dir: str,
            target_file_bytes: int = 128 << 20,
            sort_by: list[str] | None = None,
            zorder_by: list[str] | None = None) -> tuple[int, int, int]:
    """Rewrite the current snapshot into size-targeted files as a NEW
    version — the lakehouse OPTIMIZE step.  Incremental and streaming
    appends (the reference's nightly loads; our `stream_*` sinks)
    accumulate many small files; at 100 TB small files are the classic
    scan killer (one task + one open per file, metadata listing grows
    unbounded), so compaction is as much a part of the table's
    lifecycle as ``vacuum``.  Returns ``(version, files_before,
    files_after)``.

    * Output file count = ceil(current bytes / ``target_file_bytes``);
      without ``sort_by`` the rewrite is a ``coalesce`` — narrow, no
      shuffle, each output task concatenates whole input files.
    * With ``sort_by`` the rewrite is a range repartition + in-file
      sort on those keys, giving non-overlapping per-file min/max
      ranges so parquet row-group/file skipping can prune scans.
      ``zorder_by`` is the multi-dimensional form: cluster by the
      Morton key over several numeric columns
      (`operators/layout.zorder_layout`), so per-file min/max stays
      tight on EVERY listed column at once.
    * Snapshot safety is inherited from :func:`write_version`: the
      compacted copy is a new ``v=N`` dir and readers follow the
      manifest, so a crash mid-compaction leaves the table untouched
      (the orphan is reclaimed by ``vacuum``).  Time travel to the
      pre-compaction version keeps working until vacuumed.
    * Fast path: if the current snapshot already meets the file-count
      target (and no re-clustering was requested), return it unchanged
      — compaction is idempotent and re-runs don't churn versions.
      The fast path is disabled while merge-on-read delete predicates
      are live: compaction is the documented way to materialize the
      survivors and fold the predicates away (consumers blocked on a
      predicate-bearing version rely on it), so it must rewrite even
      a single under-target dir.

    Single-writer, like ``vacuum``.  At cluster scale the same routine
    runs per partition directory with a manifest per table, and the
    listing moves to the object store's API."""
    import math

    man = _writer_manifest(table_dir)
    if man["current"] is None:
        raise FileNotFoundError(f"{table_dir}: no committed version")
    vdirs = [os.path.join(table_dir, d)
             for d in _dirs_for(man, man["current"])]
    files = [f for d in vdirs for f in _part_files(d)]
    files_before = len(files)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if (files_before <= n_out and sort_by is None
            and zorder_by is None and len(vdirs) == 1
            and not _deletes_for(man, man["current"])):
        return (man["current"], files_before, files_before)
    df = read_version(spark, table_dir)
    if zorder_by:
        if "zkey" in df.columns:
            raise ValueError(
                "compact(zorder_by=...): the table already has a "
                "'zkey' column, which the Morton layout would "
                "overwrite and drop — rename it first")
        from ..operators.layout import zorder_layout
        df = zorder_layout(df, zorder_by, n_out).drop("zkey")
    elif sort_by:
        cols = [df[c] for c in sort_by]
        df = (df.repartitionByRange(n_out, *cols)
                .sortWithinPartitions(*cols))
    else:
        df = df.coalesce(n_out)
    version = write_version(df, table_dir, op="compact",
                            partition_by=_partition_by_for(
                                man, man["current"]))
    files_after = len(_part_files(os.path.join(table_dir, f"v={version}")))
    return (version, files_before, files_after)


def table_changes(spark: SparkSession, table_dir: str,
                  from_version: int,
                  to_version: int | None = None) -> DataFrame:
    """Row-level diff between two committed snapshots: everything a
    consumer that last saw ``from_version`` must apply to reach
    ``to_version`` (default: current).  Returns the table's columns
    plus ``_change_type`` ('insert' | 'delete'); an updated row
    appears as a delete of its old form and an insert of its new one.

    This is the incremental-consumption half of the lakehouse pattern:
    downstream jobs re-process ONLY the delta between the version they
    checkpointed and the current one, instead of the full 100 TB
    table.  Computed keylessly with two ``exceptAll`` anti-diffs
    (multiset semantics: N copies before and M after yields |N-M|
    change rows), one shuffle each on the full row.  When the table
    has a primary key, the keyed CDC operators (`cdc_latest_state`,
    `merge_upsert`) are the cheaper form — this one assumes nothing
    about the schema.  Both endpoints stay readable because snapshots
    are immutable until ``vacuum``; diffing across a vacuumed version
    fails with the same clear error as time travel."""
    from pyspark.sql import functions as F

    new = read_version(spark, table_dir, version=to_version)
    old = read_version(spark, table_dir, version=from_version)
    return (new.exceptAll(old)
               .withColumn("_change_type", F.lit("insert"))
            .unionByName(
                old.exceptAll(new)
                   .withColumn("_change_type", F.lit("delete"))))


def _orphan_dirs(table_dir: str, referenced: set[str]) -> list[str]:
    """``v=N`` dirs on disk that no manifest version references —
    snapshots stranded by a crash between data write and manifest
    flip.  Invisible to readers, but disk they occupy never comes back
    unless reclaimed (a later write only reuses the number if no
    commit happened in between)."""
    orphans = []
    try:
        entries = os.listdir(table_dir)
    except FileNotFoundError:
        return []
    for name in entries:
        if not name.startswith("v="):
            continue
        try:
            int(name[2:])
        except ValueError:
            continue
        if name not in referenced:
            orphans.append(name)
    return sorted(orphans)


def vacuum(table_dir: str, keep: int = 5) -> list[int]:
    """Retire all but the ``keep`` newest versions (the current
    version is always kept), plus any crash-orphaned snapshot dirs the
    manifest never referenced.  Returns the removed version numbers.
    Mirrors the reference's MAX_HISTORICO retention; removal updates
    the manifest FIRST (readers stop seeing the version) and deletes
    data after — the delete is safe because no manifest references
    the snapshot anymore.

    Directories are REFERENCE-COUNTED across versions: an appended
    version includes its ancestors' dirs, so retiring an old version
    only deletes a ``v=N`` dir once no surviving version lists it —
    retiring the pre-append version of a live chain reclaims nothing
    (the live version still reads those files), while retiring a
    superseded chain after a `compact` reclaims the whole chain.

    Single-writer design (like the reference's nightly job): don't run
    vacuum concurrently with a write, or an in-flight
    not-yet-committed snapshot would look like an orphan."""
    import shutil

    man = _writer_manifest(table_dir)
    if man["current"] is None:
        return []
    keepers = set(sorted(man["versions"], reverse=True)[:max(keep, 1)])
    keepers.add(man["current"])
    doomed = [v for v in man["versions"] if v not in keepers]
    referenced = {d for v in keepers for d in _dirs_for(man, v)}
    doomed_dirs = {d for v in doomed for d in _dirs_for(man, v)
                   if d not in referenced}
    doomed_dirs.update(_orphan_dirs(table_dir, {
        d for v in man["versions"] for d in _dirs_for(man, v)}))
    # Staged-but-never-committed files from a crashed/aborted
    # streaming-sink batch (sources/vtable_stream_source
    # .VTableStreamWriter): nothing references _staging — the sink
    # moves files OUT on commit — so under the same single-writer
    # contract everything left inside is reclaimable.
    staging = os.path.join(table_dir, "_staging")
    if os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)
    # Crashed commit-claim temp files (never linked): reclaimable under
    # the same contract.  Real markers are rolled forward by the next
    # commit, never vacuumed blindly.
    try:
        for name in os.listdir(_commits_dir(table_dir)):
            if name.startswith(".tmp-"):
                os.remove(os.path.join(_commits_dir(table_dir), name))
    except FileNotFoundError:
        pass
    if not doomed and not doomed_dirs:
        return []
    man["versions"] = sorted(keepers)
    if "deletes" in man:
        # Materialize each survivor's CUMULATIVE predicate set BEFORE
        # the dirs map collapses (the chain walk needs base pointers);
        # a retired delete version's predicate must keep applying to
        # the live chain, or vacuum would resurrect its rows.
        man["deletes"] = {
            str(v): [[d, p] for d, p in _deletes_for(man, v)]
            for v in keepers if _deletes_for(man, v)}
    if "dirs" in man:
        man["dirs"] = {str(v): _dirs_for(man, v) for v in keepers}
    if "schema" in man:
        man["schema"] = {str(v): s for v, s in man["schema"].items()
                         if int(v) in keepers}
    if "stats" in man:  # per-DIR stats: keep only surviving dirs
        man["stats"] = {d: s for d, s in man["stats"].items()
                        if d in referenced}
    if "blooms" in man:  # per-DIR blooms: same sweep as stats
        man["blooms"] = {d: b for d, b in man["blooms"].items()
                         if d in referenced}
    _flip_manifest(table_dir, man)
    for d in sorted(doomed_dirs):
        shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
    removed = set(doomed) | {int(d[2:]) for d in doomed_dirs}
    return sorted(removed)
