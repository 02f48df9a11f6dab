"""Versioned parquet table store: CAS commit log, copy-on-write and
bucket-scoped MERGE tables, vacuum, time travel, merge-on-read deletes.

The reference gets transactions for free from PostgreSQL; on plain
files the equivalent is an append-only commit log with optimistic
concurrency (`_try_commit`'s os.link CAS), copy-on-write version
directories, and manifest-level tombstones — the same ideas as a Delta
commit, scoped to what the engine needs. `VersionedParquetTable`
rewrites the whole table per merge (the no-log price);
`BucketedParquetTable` is the 100 TB path: hash-bucketed on the merge
key, rewriting only dirty buckets.

Every data write (merge, overwrite, restore, tombstone key set, dirty
buckets) goes through `layout.sized_for_write`: a write that fits in
one scan split (`spark.sql.files.openCostInBytes`) is one file,
whatever the partition count of the plan feeding it, so every later
scan of a small version is one task. A larger write keeps its plan's
partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tp_integ_data_pipeline_spark.operators.layout import sized_for_write
from tp_integ_data_pipeline_spark.operators.merge_ops import (
    insert_if_absent,
    scd1_upsert,
)

class ConcurrentWriteError(RuntimeError):
    """Raised when another writer keeps committing between this writer's
    snapshot read and its commit attempt and the retry budget runs out.
    No partial state is published: every failed attempt's data
    directory is removed and the manifest is untouched."""


def _commits_dir(path: str) -> str:
    return os.path.join(path, "_commits")


def _load_state(path: str) -> tuple[int, dict]:
    """(version, manifest) of the table's latest commit.

    The manifest is a commit LOG: `_commits/{version:020d}.json`, the
    live state being the highest version. Readers see only fully
    written manifests (writers publish via hard-link of a fsync'd temp
    file). (0, {}) for an empty table.
    """
    cdir = _commits_dir(path)
    if os.path.isdir(cdir):
        # Retry on FileNotFoundError: a concurrent vacuum may prune a
        # commit file between listdir and open — re-list and take the
        # (newer) survivor.
        for _ in range(5):
            latest = max(
                (f for f in os.listdir(cdir) if f.endswith(".json")), default=None
            )
            if latest is None:
                break
            try:
                with open(os.path.join(cdir, latest)) as fh:
                    return int(latest[: -len(".json")]), json.load(fh)
            except FileNotFoundError:
                continue
    return 0, {}


def _commit_history(path: str) -> list[tuple[int, dict]]:
    """All commits, ascending by version; empty for a fresh table.
    Same FileNotFoundError handling as `_load_state`: a commit file a
    concurrent vacuum pruned mid-walk is simply skipped (it was below
    the retained window by definition)."""
    cdir = _commits_dir(path)
    if not os.path.isdir(cdir):
        return []
    out = []
    for f in sorted(os.listdir(cdir)):
        if f.endswith(".json"):
            try:
                with open(os.path.join(cdir, f)) as fh:
                    out.append((int(f[: -len(".json")]), json.load(fh)))
            except FileNotFoundError:
                continue
    return out


def _manifest_at(path: str, version: int | None) -> dict:
    """The latest manifest, or — time travel — commit ``version``'s (as
    listed by ``history()``; vacuumed versions are gone)."""
    if version is None:
        return _load_state(path)[1]
    manifests = dict(_commit_history(path))
    if version not in manifests:
        raise ValueError(f"version {version} not in commit log (have {sorted(manifests)})")
    return manifests[version]


def _floor_path(path: str) -> str:
    return os.path.join(_commits_dir(path), "_floor")


def _commit_floor(path: str) -> int:
    """Vacuum's published prune line: slots STRICTLY BELOW the floor
    have been unlinked (the floor slot itself is the oldest kept
    commit, still on disk). `_try_commit` refuses claims at or below
    the floor — claiming the floor slot is impossible anyway (its file
    exists → EEXIST), so the ≤ check adds no false refusals."""
    try:
        with open(_floor_path(path)) as fh:
            return int(fh.read().strip() or "0")
    except FileNotFoundError:
        return 0


def _version_component(p: str) -> str | None:
    """The ``v{time_ns}`` path component of a manifest data path."""
    for part in reversed(os.path.normpath(p).split(os.sep)):
        if part.startswith("v") and part[1:].isdigit():
            return part
    return None


def _manifest_version_dirs(manifest: dict) -> set[str]:
    """NAMES of the version directories a manifest references (a
    bucketed manifest points at per-bucket subdirs inside one). Names,
    not full paths: ``v{time_ns}`` is globally unique, while a manifest
    written under one spelling of the table root (relative vs absolute)
    would never string-match a maintenance job's other spelling — and a
    full-path compare would then delete LIVE directories."""
    names = set()
    dirs = [manifest.get("current")] + list(manifest.get("buckets", {}).values())
    dirs += [t.get("dir") for t in manifest.get("tombstones", [])]
    for d in dirs:
        if d:
            v = _version_component(d)
            if v:
                names.add(v)
    return names


def _manifest_frame(spark, manifest: dict) -> DataFrame | None:
    """Materialize a manifest's logical state: the current data dir
    with every tombstone key set (merge-on-read deletes) anti-joined
    away. THE single definition of 'what this commit contains' —
    read(), time travel, and every copy-on-write merge go through it,
    so an interleaved delete_keys_mor can never be resurrected by a
    writer that only looked at the raw data dir."""
    cur = manifest.get("current")
    if not cur:
        return None
    df = _read_data_dir(spark, cur, manifest.get("schema"))
    for t in manifest.get("tombstones", []):
        df = df.join(_read_data_dir(spark, t["dir"], t.get("schema")), t["keys"], "left_anti")
    return df


def _read_data_dir(spark, path: str, schema: dict | None) -> DataFrame:
    """Read a version or tombstone directory with the schema its commit
    recorded (``df.schema.jsonValue()`` of the frame written there).
    Version directories are write-once, so the record is exact and the
    read starts no footer-inference job; a commit without the key (older
    commits, external ``commit_staged_dir`` callers) is inferred."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


def _with_meta(new_manifest: dict, manifest: dict, meta: dict | None) -> dict:
    """``new_manifest`` carrying the commit meta of an incremental
    writer: ``meta`` shallow-merged over the previous commit's, so
    durable keys a DIFFERENT writer owns (e.g. the streaming rollup's
    last_epoch replay guard) survive interleaved merges/deletes that
    don't set them. Blind replaces (overwrite / commit_staged_dir)
    intentionally reset meta instead."""
    out = {**manifest.get("meta", {}), **(meta or {})}
    if out:
        new_manifest["meta"] = out
    return new_manifest


def vacuum(path: str, keep_last: int = 1, retention_seconds: float = 3600.0) -> list[str]:
    """GC version directories unreferenced by the last ``keep_last``
    commits — without it every merge's copy-on-write dir lives forever.

    Returns the removed directories. Mirrors Delta's VACUUM contract:
    only dirs older than ``retention_seconds`` are eligible (a
    concurrent writer's just-written, not-yet-committed dir must not be
    deleted from under it — version dirs are named ``v{time_ns}``, so
    age comes from the name). Older commit-log entries beyond the kept
    window are pruned too; time travel then only reaches kept versions.

    Vacuum is a single-maintenance-job operation (like Delta's): it is
    safe to run concurrently with readers and WRITERS (the floor marker
    fences laggard commits), but two vacuums with different keep
    windows racing each other may leave the floor at the lower value.
    """
    history = _commit_history(path)
    if not history:
        return []
    kept = history[-keep_last:]
    referenced: set[str] = set()
    for _v, manifest in kept:
        referenced |= _manifest_version_dirs(manifest)
    cutoff_ns = (time.time() - retention_seconds) * 1e9
    removed = []
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if not (entry.startswith("v") and entry[1:].isdigit() and os.path.isdir(full)):
            continue
        if entry in referenced or int(entry[1:]) > cutoff_ns:
            continue
        shutil.rmtree(full, ignore_errors=True)
        removed.append(full)
    # Prune commit-log entries STRICTLY BELOW the kept window — never
    # "not in kept": a commit that landed after the history snapshot is
    # newer than every kept version, and deleting it would destroy a
    # concurrent writer's committed merge. The floor marker is written
    # BEFORE any slot is unlinked so a laggard writer whose snapshot
    # predates the prune cannot re-claim a freed slot (see _try_commit);
    # ordering makes the race safe: before the floor write the slot
    # still exists (EEXIST), after it the floor check rejects.
    cdir = _commits_dir(path)
    if os.path.isdir(cdir):
        floor = min(v for v, _m in kept)
        if floor > _commit_floor(path):
            tmp = os.path.join(cdir, f".floor-{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(str(floor))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, _floor_path(path))
        for f in os.listdir(cdir):
            if f.endswith(".json") and int(f[: -len(".json")]) < floor:
                os.unlink(os.path.join(cdir, f))
    return removed


def _try_commit(path: str, expected_version: int, manifest: dict) -> bool:
    """Atomic compare-and-swap publish of `manifest` as commit
    `expected_version + 1`.

    The reference gets transactional MERGE for free from PostgreSQL
    (transf.py:215-273 runs inside the DB engine); on plain files the
    equivalent is optimistic concurrency: the commit slot is claimed
    with `os.link` (fails with EEXIST if any other writer got there
    first — atomic on POSIX), and the linked temp file is fully written
    and fsync'd beforehand so readers can never observe a torn
    manifest. Returns False on a lost race; the caller re-reads state
    and retries its merge against the winner's table.

    A slot at or below the vacuum floor is refused: vacuum freed those
    slot files, and linking into one would "succeed" while
    `_load_state`'s max() never surfaces it — a silent lost update.
    The floor is re-checked AFTER a successful link (not only before):
    the entry check alone is a TOCTOU — a vacuum can write the floor
    and unlink the slot during this writer's temp-file write. The
    post-link check is race-free against vacuum's write-floor-THEN-
    unlink ordering: while the slot's original file still exists the
    link fails with EEXIST, and once vacuum has freed it the floor is
    already published, so the recheck sees it and retreats.
    """
    if expected_version + 1 <= _commit_floor(path):
        return False
    cdir = _commits_dir(path)
    os.makedirs(cdir, exist_ok=True)
    tmp = os.path.join(cdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    slot = os.path.join(cdir, f"{expected_version + 1:020d}.json")
    try:
        os.link(tmp, slot)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    if expected_version + 1 <= _commit_floor(path):
        # Linked into a slot vacuum freed mid-flight: retreat. (Best
        # effort — the slot may already be unlinked again by vacuum.)
        try:
            os.unlink(slot)
        except FileNotFoundError:
            pass
        return False
    return True


MAX_COMMIT_RETRIES = 5


def _commit_loop(path: str, attempt, what: str, staged: str | None = None) -> None:
    """The commit protocol every writer shares: re-read the latest
    manifest, let ``attempt(manifest)`` build the next one, and publish
    it with `_try_commit`. ``attempt`` returns ``(new_manifest,
    data_dir)``, ``data_dir`` being the directory that attempt wrote
    (or None). On a lost race that directory is removed and the writer
    recomputes against the winner's state; after MAX_COMMIT_RETRIES
    lost races the ``staged`` directory (data the writer wrote once,
    before the loop) is removed too and ConcurrentWriteError is raised:
    nothing is published."""
    for _ in range(MAX_COMMIT_RETRIES):
        version, manifest = _load_state(path)
        new_manifest, data_dir = attempt(manifest)
        # module-global lookup at call time: wrappers that replace
        # `_try_commit` (fault injection, commit counting) see every commit
        if _try_commit(path, version, new_manifest):
            return
        if data_dir is not None:
            shutil.rmtree(data_dir, ignore_errors=True)
    if staged is not None:
        shutil.rmtree(staged, ignore_errors=True)
    raise ConcurrentWriteError(f"{what} lost {MAX_COMMIT_RETRIES} commit races")


def _new_version_dir(path: str) -> str:
    """A fresh version-directory path inside the table root, named
    ``v{time_ns}``: vacuum's age check parses the name."""
    return os.path.join(path, f"v{time.time_ns()}")


# Combines shared by both table classes: (current, stage) -> new state,
# where current is None for a table with no data yet.
def _insert_if_absent_combine(keys: list[str]):
    return lambda cur, stg: stg if cur is None else insert_if_absent(cur, stg, keys)


def _scd1_combine(keys: list[str], **kwargs):
    # The first write still routes through scd1_upsert (empty target) so
    # audit columns exist from version 1, like the reference's CREATE
    # TABLE with audit cols + first MERGE (transf.py:179-206).
    return lambda cur, stg: scd1_upsert(
        cur if cur is not None else stg.limit(0), stg, keys, **kwargs
    )


def _delete_keys_combine(keys: list[str]):
    return lambda cur, stg: stg.limit(0) if cur is None else cur.join(stg, keys, "left_anti")


class VersionedParquetTable:
    """MERGE-capable warehouse table on plain parquet.

    Spark cannot overwrite a parquet dir it is lazily reading, so each
    merge writes a NEW versioned directory and publishes it through an
    append-only commit log with compare-and-swap (`_try_commit`) — the
    same copy-on-write + optimistic-concurrency idea as a Delta commit.
    Concurrent merges serialize: the loser of a commit race re-reads
    the winner's table, recomputes its merge, and retries (bounded by
    ``MAX_COMMIT_RETRIES``); no committed rows are ever lost. Each
    version is one file while it fits in one scan split
    (``layout.sized_for_write``). Remaining limitation vs a real
    log: full-table rewrite per merge (see BucketedParquetTable for the
    partition-scoped variant).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def current_version_dir(self) -> str | None:
        return _load_state(self.path)[1].get("current")

    def meta(self) -> dict:
        """Writer-supplied metadata from the last committed version
        (e.g. the streaming rollup's last-applied epoch)."""
        return _load_state(self.path)[1].get("meta", {})

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current table state, or — time travel — the state as of
        commit ``version`` (as listed by ``history()``; vacuumed
        versions are gone)."""
        # merge-on-read: tombstone key sets (delete_keys_mor) anti-join
        # at read time — deletes cost O(|keys|) I/O, not a table rewrite
        return _manifest_frame(self.spark, _manifest_at(self.path, version))

    def history(self) -> list[dict]:
        """Commit log, ascending: version + manifest per commit."""
        return [{"version": v, **m} for v, m in _commit_history(self.path)]

    def vacuum(self, keep_last: int = 1, retention_seconds: float = 3600.0) -> list[str]:
        return vacuum(self.path, keep_last, retention_seconds)

    def commit_staged_dir(
        self, new_dir: str, meta: dict | None = None, schema: StructType | None = None
    ) -> None:
        """Publish an already-written data directory as the new
        current version (last-committed-wins CAS retry; the staged dir
        is removed on a lost race so a failed publish leaves no
        readable or orphaned state). overwrite() and any external
        staged writer (e.g. observe.constrained_overwrite) publish
        through here. ``schema`` is the schema of the frame written to
        ``new_dir``; without it readers infer it from the files."""
        manifest = {"current": new_dir}
        if schema is not None:
            manifest["schema"] = schema.jsonValue()
        if meta is not None:
            manifest["meta"] = meta
        _commit_loop(
            self.path, lambda _m: (manifest, None), f"commit to {self.path}", staged=new_dir
        )

    def staged_dir(self) -> str:
        """A fresh version-directory path inside the table root."""
        return _new_version_dir(self.path)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> None:
        """Blind replace (no read-modify-write): the data directory is
        written once; only the commit is retried on a lost race, so
        concurrent overwrites serialize as last-committed-wins with no
        torn manifest."""
        new_dir = self.staged_dir()
        sized_for_write(df).write.mode("overwrite").parquet(new_dir)
        self.commit_staged_dir(new_dir, meta, df.schema)

    def restore(self, version: int) -> None:
        """RESTORE TABLE ... TO VERSION AS OF: roll the table back to a
        historical commit by publishing a NEW commit whose data equals
        that version — history is preserved (the bad commits stay
        readable for forensics until vacuum), exactly Delta's RESTORE
        semantics. Data is re-written (not manifest-aliased) so the
        restored commit owns its files and vacuum of the source version
        can't orphan it. Deliberately last-writer-wins: RESTORE's
        meaning is "discard whatever the table says now in favor of
        version N" — a commit racing the restore is discarded with the
        rest; don't run it concurrently with writers you care about.

        An UNKNOWN version raises (from ``read``'s commit-log check);
        a version that exists but holds no data restores to the empty
        state by publishing a data-less commit manifest — the two cases
        are distinct, not conflated."""
        old = self.read(version)  # raises ValueError on unknown version
        if old is None:
            # the version is real but empty: publish an empty commit
            # (no current dir) so read() returns None again
            empty = {"meta": {"op": "restore", "restored_from": version}}
            _commit_loop(self.path, lambda _m: (empty, None), f"restore of {self.path}")
            return
        self.overwrite(old, meta={"op": "restore", "restored_from": version})

    def _merge(self, stage: DataFrame, combine, meta: dict | None = None) -> None:
        def attempt(manifest):
            # tombstone-aware snapshot: a merge after delete_keys_mor
            # sees (and materializes out) the deletions, never the raw
            # data dir — the committed manifest then needs no tombstones
            merged = combine(_manifest_frame(self.spark, manifest), stage)
            new_dir = _new_version_dir(self.path)
            sized_for_write(merged).write.mode("overwrite").parquet(new_dir)
            new_manifest = {"current": new_dir, "schema": merged.schema.jsonValue()}
            return _with_meta(new_manifest, manifest, meta), new_dir

        _commit_loop(self.path, attempt, f"merge into {self.path}")

    def merge_scd1(self, stage: DataFrame, keys: list[str], **kwargs) -> None:
        self._merge(stage, _scd1_combine(keys, **kwargs))

    def merge_insert_if_absent(self, stage: DataFrame, keys: list[str]) -> None:
        self._merge(stage, _insert_if_absent_combine(keys))

    def delete_keys(self, stage: DataFrame, keys: list[str]) -> None:
        """Targeted delete (right-to-be-forgotten / retraction): remove
        every row whose ``keys`` match a stage row. Same CAS commit
        path as the merges; deleting from a non-existent table is a
        no-op (serializes as delete-before-create). Time travel still
        reads the pre-delete versions until ``vacuum`` retires them —
        run vacuum with retention 0 when the point is actual data
        destruction."""
        if self.read() is None:
            return
        self._merge(stage.select(*keys).distinct(), _delete_keys_combine(keys))

    def delete_keys_mor(self, stage: DataFrame, keys: list[str]) -> None:
        """Merge-on-read delete (deletion-vector semantics): write ONLY
        the tombstone key set — O(|stage|) I/O instead of the
        copy-on-write table rewrite of :meth:`delete_keys` — and append
        it to the manifest; every ``read()`` anti-joins the tombstones
        lazily. The 100 TB shape for high-rate retraction streams;
        fold the read-side debt back to zero with
        :meth:`compact_tombstones` on a maintenance cadence. Deleting
        from a non-existent table is a no-op, matching
        :meth:`delete_keys`."""
        if self.current_version_dir() is None:
            return
        ts_dir = _new_version_dir(self.path)
        key_set = stage.select(*keys).distinct()
        sized_for_write(key_set).write.mode("overwrite").parquet(ts_dir)
        entry = {"dir": ts_dir, "keys": list(keys), "schema": key_set.schema.jsonValue()}

        def attempt(manifest):
            tombstones = [*manifest.get("tombstones", []), entry]
            new_manifest = {**manifest, "tombstones": tombstones}
            return _with_meta(new_manifest, manifest, {"op": "delete_mor"}), None

        _commit_loop(self.path, attempt, f"delete_keys_mor of {self.path}", staged=ts_dir)

    def compact_tombstones(self) -> int:
        """Materialize the tombstone-filtered state into a plain
        copy-on-write commit (read-side anti-join debt back to zero);
        returns the number of tombstone sets folded (as of the first
        snapshot — a tombstone landing mid-compact is still folded,
        the count in the commit meta is just conservative). Routed
        through ``_merge``, NOT a read-then-overwrite: a lost commit
        race re-reads the winner's manifest and re-materializes, so a
        concurrent delete_keys_mor can never be erased by the compact.
        The old tombstone dirs stay referenced by PRIOR commits only,
        so a later vacuum retires them with the old versions."""
        n = len(_load_state(self.path)[1].get("tombstones", []))
        if n:
            self._merge(
                None,
                lambda cur, _stage: cur,
                meta={"op": "compact_tombstones", "folded": n},
            )
        return n


class BucketedParquetTable:
    """Partition-scoped MERGE on plain parquet — the 100 TB path.

    ``VersionedParquetTable`` rewrites the WHOLE table per merge (the
    price of no transaction log); at 100 TB a full copy-on-write per
    1000-row stage batch is a scale-killer. This variant hash-buckets
    the table on the merge key — ``pmod(xxhash64(keys), n_buckets)`` —
    and a merge rewrites ONLY the buckets the stage touches: every
    clean bucket's data directory is carried forward by reference in
    the manifest, byte-identical on disk. With a well-sized
    ``n_buckets``, merge I/O drops from O(table) to
    O(table × dirty_buckets / n_buckets) ≈ O(stage × table/bucket).

    The one driver action per merge is collecting the stage's DISTINCT
    bucket ids — bounded by ``n_buckets`` (it's a partition-pruning
    list, same role as Delta's file-skipping stats, not a data
    collect). Commits go through the same CAS commit log as
    `VersionedParquetTable`: a merge that loses the race re-reads the
    winner's manifest — including any buckets the winner rewrote — and
    re-merges, so two concurrent merges (even to disjoint buckets)
    serialize instead of one silently dropping the other's buckets.
    The dirty buckets are written in one write: while they fit in one
    scan split, one task writes one file per dirty bucket.
    """

    BUCKET_COL = "__bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.keys = keys
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)
        # The bucket layout on disk is a function of (keys, n_buckets):
        # reopening with different values would hash stage rows to dirty
        # buckets laid out under the OLD scheme — insert_if_absent would
        # silently duplicate keys and scd1 miss updates. Fail loudly
        # instead (round-5 advice, table_store.py:530).
        self._check_bucket_spec(_load_state(self.path)[1])

    def _check_bucket_spec(self, manifest: dict) -> None:
        spec = manifest.get("bucket_spec")
        if spec is not None and (
            spec.get("keys") != list(self.keys) or spec.get("n_buckets") != self.n_buckets
        ):
            raise ValueError(
                f"bucketed table at {self.path} was committed with "
                f"keys={spec.get('keys')} n_buckets={spec.get('n_buckets')}; "
                f"constructor got keys={list(self.keys)} n_buckets={self.n_buckets} — "
                "a mismatched bucket layout silently corrupts merges"
            )

    def bucket_dirs(self) -> dict[int, str]:
        return {
            int(k): v for k, v in _load_state(self.path)[1].get("buckets", {}).items()
        }

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)).cast("int"),
        )

    def _read_buckets(self, dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        # mergeSchema: clean buckets keep the schema they were written
        # with; a later merge that adds columns (e.g. scd1 audit cols
        # after an insert-only load) must not silently drop them for
        # rows read from pre-evolution bucket files.
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current table state, or the state as of commit ``version``
        (time travel over the bucket manifests)."""
        buckets = _manifest_at(self.path, version).get("buckets", {})
        return self._read_buckets(list(buckets.values()))

    def history(self) -> list[dict]:
        return [{"version": v, **m} for v, m in _commit_history(self.path)]

    def meta(self) -> dict:
        """Writer-supplied metadata from the last committed version —
        same contract as VersionedParquetTable.meta."""
        return _load_state(self.path)[1].get("meta", {})

    def vacuum(self, keep_last: int = 1, retention_seconds: float = 3600.0) -> list[str]:
        return vacuum(self.path, keep_last, retention_seconds)

    def _merge(self, stage: DataFrame, combine, meta: dict | None = None) -> None:
        stage_b = self._with_bucket(stage)
        # bounded driver action: ≤ n_buckets ids (partition pruning list)
        dirty = sorted(
            r[0] for r in stage_b.select(self.BUCKET_COL).distinct().collect()
        )

        def attempt(manifest):
            # re-validate per attempt: a racing writer created the table
            # between our __init__ and this commit loop. A retry re-reads
            # the winner's manifest, which may have rewritten some of OUR
            # dirty buckets.
            self._check_bucket_spec(manifest)
            buckets = dict(manifest.get("buckets", {}))
            cur_dirty_dirs = [buckets[str(b)] for b in dirty if str(b) in buckets]
            target = self._read_buckets(cur_dirty_dirs)
            merged = combine(target, stage_b.drop(self.BUCKET_COL))
            new_dir = _new_version_dir(self.path)
            # one hive-partitioned write; each dirty bucket becomes its
            # own subdir the manifest can point at individually
            sized_for_write(self._with_bucket(merged)).write.partitionBy(
                self.BUCKET_COL
            ).mode("overwrite").parquet(new_dir)
            for b in dirty:
                bdir = os.path.join(new_dir, f"{self.BUCKET_COL}={b}")
                if os.path.isdir(bdir):
                    buckets[str(b)] = bdir
                else:
                    # combine produced no surviving rows for this
                    # bucket (e.g. delete_keys emptied it): the
                    # partitioned write creates no dir, so the bucket
                    # must leave the manifest or reads hit a missing
                    # path. Bounded check: one isdir per dirty bucket.
                    buckets.pop(str(b), None)
            new_manifest = {
                **manifest,
                "buckets": buckets,
                "bucket_spec": {"keys": list(self.keys), "n_buckets": self.n_buckets},
            }
            return _with_meta(new_manifest, manifest, meta), new_dir

        _commit_loop(self.path, attempt, f"merge into {self.path}")

    def merge_scd1(self, stage: DataFrame, **kwargs) -> None:
        self._merge(stage, _scd1_combine(self.keys, **kwargs))

    def merge_insert_if_absent(self, stage: DataFrame) -> None:
        self._merge(stage, _insert_if_absent_combine(self.keys))

    def delete_keys(self, stage: DataFrame) -> None:
        """Targeted delete at 100 TB cost: only the key-buckets the
        stage hashes into are read and rewritten (the merge machinery's
        dirty-bucket scoping applies unchanged — an anti-join over the
        dirty buckets, clean buckets carried by reference). Run
        ``vacuum`` afterwards when the deletion must also destroy the
        historical copies."""
        if self.read() is None:
            return
        self._merge(stage.select(*self.keys).distinct(), _delete_keys_combine(self.keys))


