"""Versioned parquet table store: CAS commit log, copy-on-write MERGE
tables (optionally bucket-scoped), vacuum, time travel, merge-on-read
deletes.

The reference gets transactions for free from PostgreSQL; on plain
files the equivalent is an append-only commit log with optimistic
concurrency (`_try_commit`'s os.link CAS), copy-on-write version
directories, and manifest-level tombstones — the same ideas as a Delta
commit, scoped to what the engine needs. A manifest maps bucket ids to
data directories, each with its recorded schema. An unbucketed table
has one bucket and rewrites the whole table per merge (the no-log
price); a table bucketed on its merge key rewrites only the buckets a
merge touches.

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
from functools import reduce

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
    bucket's data dir may sit inside one). Names, not full paths:
    ``v{time_ns}`` is globally unique, while a manifest written under
    one spelling of the table root (relative vs absolute) would never
    string-match a maintenance job's other spelling — and a full-path
    compare would then delete LIVE directories."""
    dirs = [e["dir"] for e in manifest.get("buckets", {}).values()]
    dirs += [t["dir"] for t in manifest.get("tombstones", [])]
    return {v for v in map(_version_component, dirs) if v}


def _manifest_frame(spark, manifest: dict, only: set[str] | None = None) -> DataFrame | None:
    """Materialize a manifest's logical state — or that of the buckets
    in ``only`` — with every tombstone key set (merge-on-read deletes)
    anti-joined away from the buckets it still applies to. THE single
    definition of 'what this commit contains': read(), time travel, and
    every copy-on-write merge go through it, so an interleaved
    delete_keys_mor can never be resurrected by a writer that only
    looked at the raw data dirs.

    Buckets sharing a recorded schema and a tombstone set are one scan;
    scans with different schemas (a merge added columns to the buckets
    it rewrote) are unioned by name, newest first, so the columns come
    in the order of the latest write. A scan lists at most
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` dirs
    (larger groups are unioned from several scans): past it Spark lists
    the paths with a parallel listing job. None when no bucket holds
    data."""
    tombstones = manifest.get("tombstones", [])
    width = max(1, int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")))
    groups: dict[tuple, list[str]] = {}
    entries = sorted(manifest.get("buckets", {}).items(), key=lambda be: be[1]["dir"], reverse=True)
    for b, e in entries:
        if only is None or b in only:
            applied = tuple(i for i, t in enumerate(tombstones) if b in t["buckets"])
            groups.setdefault((json.dumps(e.get("schema")), applied), []).append(e["dir"])
    frames = []
    for (schema, applied), dirs in groups.items():
        scans = [
            _read_data_dir(spark, dirs[k : k + width], json.loads(schema))
            for k in range(0, len(dirs), width)
        ]
        df = reduce(DataFrame.unionByName, scans)
        for i in applied:
            t = tombstones[i]
            df = df.join(_read_data_dir(spark, [t["dir"]], t.get("schema")), t["keys"], "left_anti")
        frames.append(df)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames) if frames else None


def _read_data_dir(spark, paths: list[str], schema: dict | None) -> DataFrame:
    """Read data or tombstone directories with the schema their commit
    recorded (``df.schema.jsonValue()`` of the frame written there).
    Version directories are write-once, so the record is exact and the
    read starts no footer-inference job; an entry without one (external
    ``commit_staged_dir`` callers that pass no schema) is inferred."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(*paths)


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


# Merge combines: (current, stage) -> new state, where current is None
# for a table (or set of buckets) with no data yet.
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
    (``layout.sized_for_write``).

    The manifest maps bucket ids to data directories. Unbucketed (the
    default) is the one-bucket case: every merge reads and rewrites
    the whole table into one data dir. Opened with ``bucket_keys`` and
    ``n_buckets``, rows are hash-bucketed on the merge key —
    ``pmod(xxhash64(bucket_keys), n_buckets)`` — and a merge rewrites
    ONLY the buckets its stage touches: every clean bucket's data
    directory is carried forward by reference, byte-identical on disk,
    so merge I/O drops from O(table) to O(table × dirty / n_buckets).
    The one extra driver action per bucketed merge is collecting the
    stage's DISTINCT bucket ids — bounded by ``n_buckets``, a
    partition-pruning list like Delta's file-skipping stats. The dirty
    buckets are written in one hive-partitioned write. Merges and
    deletes on a bucketed table must use the bucket keys: on other
    keys, rows in buckets the merge does not rewrite would be missed.
    """

    BUCKET_COL = "__bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_keys: list[str] | None = None,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.bucket_keys = list(bucket_keys) if bucket_keys else None
        self.n_buckets = n_buckets if bucket_keys else 1
        self.bucket_spec = (
            {"keys": self.bucket_keys, "n_buckets": n_buckets} if bucket_keys else None
        )
        os.makedirs(path, exist_ok=True)
        self._check_bucket_spec(_load_state(path)[1])

    def _check_bucket_spec(self, manifest: dict) -> None:
        # The layout on disk is a function of the bucket spec: a handle
        # with another spec (or none) would hash stage rows to buckets
        # laid out under the committed scheme — insert_if_absent would
        # silently duplicate keys and scd1 miss updates. Fail loudly.
        if "current" in manifest:
            # the one-directory manifest that preceded bucket entries:
            # read as empty, a merge would drop the table's rows
            raise ValueError(f"table at {self.path} has a pre-bucket manifest; re-create it")
        committed = manifest.get("bucket_spec")
        if manifest.get("buckets") and committed != self.bucket_spec:
            raise ValueError(
                f"table at {self.path} was committed with bucket spec {committed}; "
                f"opened with {self.bucket_spec} — a mismatched bucket layout "
                "silently corrupts merges"
            )

    def _check_keys(self, keys: list[str]) -> None:
        if self.bucket_keys is not None and set(keys) != set(self.bucket_keys):
            raise ValueError(
                f"table at {self.path} is bucketed on {self.bucket_keys}: a merge or "
                f"delete on {list(keys)} would miss rows in the buckets it does not rewrite"
            )

    def bucket_dirs(self) -> dict[int, str]:
        """Bucket id -> data dir of the current version (an unbucketed
        table's one bucket is 0)."""
        buckets = _load_state(self.path)[1].get("buckets", {})
        return {int(b): e["dir"] for b, e in buckets.items()}

    def current_version_dir(self) -> str | None:
        """The data dir of an unbucketed table (None while it holds no
        data); a bucketed table has one per bucket (``bucket_dirs``)."""
        if self.bucket_spec is not None:
            raise ValueError(f"table at {self.path} is bucketed: use bucket_dirs()")
        return self.bucket_dirs().get(0)

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

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*map(F.col, self.bucket_keys)), F.lit(self.n_buckets)).cast("int"),
        )

    def _write(self, df: DataFrame, new_dir: str, buckets) -> dict:
        """Write ``df`` into ``new_dir``; return {bucket id: manifest
        entry} for every id in ``buckets`` that got rows (an unbucketed
        table's one bucket always does)."""
        if self.bucket_spec is None:
            sized_for_write(df).write.mode("overwrite").parquet(new_dir)
            dirs = {"0": new_dir}
        else:
            # one hive-partitioned write: each bucket becomes its own
            # subdir the manifest can point at. A bucket left with no
            # rows (e.g. delete_keys emptied it) gets no subdir and
            # leaves the manifest.
            sized_for_write(self._with_bucket(df)).write.partitionBy(
                self.BUCKET_COL
            ).mode("overwrite").parquet(new_dir)
            dirs = {b: os.path.join(new_dir, f"{self.BUCKET_COL}={b}") for b in buckets}
            dirs = {b: d for b, d in dirs.items() if os.path.isdir(d)}
        schema = df.schema.jsonValue()
        return {b: {"dir": d, "schema": schema} for b, d in dirs.items()}

    def _publish(self, buckets: dict, meta: dict | None, staged: str | None) -> None:
        """Blind replace: commit ``buckets`` as the whole table (last
        committed wins; the ``staged`` dir is removed on a lost race so a
        failed publish leaves no readable or orphaned state)."""
        manifest = {"buckets": buckets, "bucket_spec": self.bucket_spec}
        if meta is not None:
            manifest["meta"] = meta
        _commit_loop(
            self.path, lambda _m: (manifest, None), f"commit to {self.path}", staged=staged
        )

    def commit_staged_dir(
        self, new_dir: str, meta: dict | None = None, schema: StructType | None = None
    ) -> None:
        """Publish an already-written data directory as the new
        current version of an unbucketed table. External staged writers
        (e.g. observe.constrained_overwrite) publish through here.
        ``schema`` is the schema of the frame written to ``new_dir``;
        without it readers infer it from the files."""
        if self.bucket_spec is not None:
            raise ValueError(f"table at {self.path} is bucketed: a staged dir has no buckets")
        entry = {"dir": new_dir, "schema": schema.jsonValue() if schema is not None else None}
        self._publish({"0": entry}, meta, new_dir)

    def staged_dir(self) -> str:
        """A fresh version-directory path inside the table root."""
        return _new_version_dir(self.path)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> None:
        """Blind replace (no read-modify-write): the data directory is
        written once; only the commit is retried on a lost race, so
        concurrent overwrites serialize as last-committed-wins with no
        torn manifest."""
        new_dir = self.staged_dir()
        buckets = self._write(df, new_dir, [str(b) for b in range(self.n_buckets)])
        self._publish(buckets, meta, new_dir)

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
        meta = {"op": "restore", "restored_from": version}
        if old is None:
            # the version is real but empty: publish a commit with no
            # buckets so read() returns None again
            self._publish({}, meta, None)
        else:
            self.overwrite(old, meta)

    def _merge(self, stage: DataFrame | None, combine, meta: dict | None = None) -> None:
        """Commit ``combine(current, stage)`` over the buckets ``stage``
        hashes into (every bucket when ``stage`` is None); clean buckets
        are carried by reference."""
        if self.bucket_spec is None:
            dirty = {"0"}
        elif stage is None:
            dirty = None
        else:
            # bounded driver action: ≤ n_buckets ids
            rows = self._with_bucket(stage).select(self.BUCKET_COL).distinct().collect()
            dirty = {str(r[0]) for r in rows}

        def attempt(manifest):
            # re-validate per attempt: a racing writer may have created
            # the table since __init__. A retry re-reads the winner's
            # manifest, which may have rewritten some of our buckets.
            self._check_bucket_spec(manifest)
            buckets = manifest.get("buckets", {})
            rewrite = set(buckets) if dirty is None else dirty
            # tombstone-aware snapshot: a merge after delete_keys_mor
            # sees (and materializes out) the deletions in the buckets
            # it rewrites, never their raw data dirs
            merged = combine(_manifest_frame(self.spark, manifest, rewrite), stage)
            new_dir = _new_version_dir(self.path)
            new_buckets = {b: e for b, e in buckets.items() if b not in rewrite}
            new_buckets.update(self._write(merged, new_dir, rewrite))
            # a tombstone is done once every bucket it applied to is rewritten
            tombstones = []
            for t in manifest.get("tombstones", []):
                left = [b for b in t["buckets"] if b not in rewrite]
                if left:
                    tombstones.append({**t, "buckets": left})
            new_manifest = {
                "buckets": new_buckets, "bucket_spec": self.bucket_spec, "tombstones": tombstones
            }
            return _with_meta(new_manifest, manifest, meta), new_dir

        _commit_loop(self.path, attempt, f"merge into {self.path}")

    def merge_scd1(self, stage: DataFrame, keys: list[str], **kwargs) -> None:
        self._check_keys(keys)
        self._merge(stage, _scd1_combine(keys, **kwargs))

    def merge_insert_if_absent(self, stage: DataFrame, keys: list[str]) -> None:
        self._check_keys(keys)
        self._merge(stage, _insert_if_absent_combine(keys))

    def delete_keys(self, stage: DataFrame, keys: list[str]) -> None:
        """Targeted delete (right-to-be-forgotten / retraction): remove
        every row whose ``keys`` match a stage row. Same CAS commit
        path as the merges — on a bucketed table only the buckets the
        doomed keys hash into are read and rewritten. Deleting from a
        non-existent table is a no-op (serializes as
        delete-before-create). Time travel still reads the pre-delete
        versions until ``vacuum`` retires them — run vacuum with
        retention 0 when the point is actual data destruction."""
        self._check_keys(keys)
        if not self.bucket_dirs():
            return
        self._merge(stage.select(*keys).distinct(), _delete_keys_combine(keys))

    def delete_keys_mor(self, stage: DataFrame, keys: list[str]) -> None:
        """Merge-on-read delete (deletion-vector semantics): write ONLY
        the tombstone key set — O(|stage|) I/O instead of the
        copy-on-write rewrite of :meth:`delete_keys` — and append it to
        the manifest; every ``read()`` anti-joins the tombstones
        lazily. A tombstone applies to the buckets the table holds when
        it commits, until a merge rewrites them. The 100 TB shape for
        high-rate retraction streams; fold the read-side debt back to
        zero with :meth:`compact_tombstones` on a maintenance cadence.
        Deleting from a non-existent table is a no-op, matching
        :meth:`delete_keys`."""
        self._check_keys(keys)
        if not self.bucket_dirs():
            return
        ts_dir = _new_version_dir(self.path)
        key_set = stage.select(*keys).distinct()
        sized_for_write(key_set).write.mode("overwrite").parquet(ts_dir)
        entry = {"dir": ts_dir, "keys": list(keys), "schema": key_set.schema.jsonValue()}

        def attempt(manifest):
            applies = {**entry, "buckets": sorted(manifest.get("buckets", {}))}
            tombstones = [*manifest.get("tombstones", []), applies]
            new_manifest = {**manifest, "tombstones": tombstones}
            return _with_meta(new_manifest, manifest, {"op": "delete_mor"}), None

        _commit_loop(self.path, attempt, f"delete_keys_mor of {self.path}", staged=ts_dir)

    def compact_tombstones(self) -> int:
        """Materialize the tombstone-filtered state into a plain
        copy-on-write commit of every bucket (read-side anti-join debt
        back to zero); returns the number of tombstone sets folded (as
        of the first snapshot — a tombstone landing mid-compact is
        still folded, the count in the commit meta is just
        conservative). Routed through ``_merge``, NOT a
        read-then-overwrite: a lost commit race re-reads the winner's
        manifest and re-materializes, so a concurrent delete_keys_mor
        can never be erased by the compact. The old tombstone dirs stay
        referenced by PRIOR commits only, so a later vacuum retires
        them with the old versions."""
        n = len(_load_state(self.path)[1].get("tombstones", []))
        if n:
            self._merge(
                None,
                lambda cur, _stage: cur,
                meta={"op": "compact_tombstones", "folded": n},
            )
        return n
