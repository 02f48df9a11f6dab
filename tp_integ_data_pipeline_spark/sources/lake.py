"""Parquet data-lake layer (SURVEY.md §2.1 S1/S2/S6/S7).

Re-expresses the reference's `DataLake` (main.py:20-150):

- hive-partitioned fact landing (`partition_cols=['fecha_partic']`,
  main.py:93-114) → `partitionBy` writes + partition-pruned reads;
- unpartitioned dimension landing (main.py:41,142-147);
- dedup-before-write: the reference re-reads the whole lake and
  compares scalars / membership lists (main.py:101-107, 127-133) — at
  scale that is O(lake) per write; the engine uses `left_anti` joins
  (and documents the reference's batch-skip policies as options).

Every append goes through `layout.sized_for_write`: a small batch lands
as one file, however many partitions fed it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tp_integ_data_pipeline_spark.operators.layout import sized_for_write


def _key_join(df: DataFrame, existing: DataFrame, keys: list[str], how: str) -> DataFrame:
    """``df`` semi- or anti-joined with ``existing`` on ``keys``,
    null-safe: a NULL key component matches a NULL, as in SQL DISTINCT,
    so a NULL-keyed row counts as present (a plain equi-join's NULL ≠
    NULL would re-append every null-keyed re-delivery forever).
    eqNullSafe still plans as a hash join (EqualNullSafe is an equi-join
    key), so this costs nothing vs ``on=keys``. No distinct on the
    existing side: a semi- or anti-join only tests existence."""
    probe_keys = existing.select(*keys).alias("__probe")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"__in.{k}").eqNullSafe(F.col(f"__probe.{k}"))
    return df.alias("__in").join(probe_keys, cond, how)


class DataLake:
    """Partition-aware parquet lake rooted at `root`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # table -> data schema (non-partition columns) shared by every
        # file of a table this instance created or compacted, for `read`
        # to pass instead of inferring it from a footer (one Spark job
        # per read). In memory only: a sidecar file would go stale when
        # anything else writes the directory.
        self._schemas: dict[str, StructType] = {}

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _recover(self, table: str) -> None:
        """Settle a ``compact`` swap that a crash interrupted. The swap
        renames the live dir to ``<table>.old``, renames the rewrite in,
        then removes ``.old``: with the live dir missing, the first
        rename is undone; beside a live dir, ``.old`` is stale."""
        live = self._path(table)
        backup = live + ".old"
        if not os.path.isdir(backup):
            return
        if os.path.isdir(live):
            shutil.rmtree(backup)
        else:
            os.rename(backup, live)

    def exists(self, table: str) -> bool:
        """Whether ``table`` has data; runs ``_recover`` first, so
        ``read``, ``compact`` and every write, which all ask this,
        never see a half-done swap."""
        self._recover(table)
        p = self._path(table)
        if not os.path.isdir(p):
            return False
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(
        self,
        table: str,
        merge_schema: bool = False,
        tolerate_corrupt: bool = False,
    ) -> DataFrame | None:
        """S1/S2: read a (possibly hive-partitioned) lake table; `None`
        when absent/empty — mirroring leer_parq's None contract
        (main.py:71-75).

        ``merge_schema`` reconciles files written under EVOLVED schemas
        (columns added over the table's life) into the union schema,
        null-filling older files — the read-side half of P5's
        align_to_schema. ``tolerate_corrupt`` skips unreadable files
        instead of failing the scan (a 100 TB landing zone always has
        a torn upload somewhere; losing one file beats losing the
        query). Both default OFF: silent skipping/widening is a policy
        the caller must opt into, not a default.

        A table this instance created or compacted, and has since
        written only with the same data schema, is read with that
        schema; partition columns keep their types from directory
        inference."""
        if not self.exists(table):
            return None
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        elif table in self._schemas:
            reader = reader.schema(self._schemas[table])
        if tolerate_corrupt:
            reader = reader.option("ignoreCorruptFiles", "true")
        return reader.parquet(self._path(table))

    def _note_write(
        self, table: str, df: DataFrame, partition_cols: list[str], whole_table: bool
    ) -> None:
        """Keep the recorded data schema of ``table`` after writing
        ``df`` to it: set when this write produced every file of the
        table (it created or compacted it), kept while later writes
        carry the same data schema, cleared by any other."""
        data = StructType([f for f in df.schema.fields if f.name not in partition_cols])
        if whole_table or self._schemas.get(table) == data:
            self._schemas[table] = data
        else:
            self._schemas.pop(table, None)

    def _dedup_against_existing(
        self,
        df: DataFrame,
        existing: DataFrame,
        dedup_keys: list[str],
        partition_cols: list[str] | None = None,
    ) -> DataFrame | None:
        """Anti-join `df` against the existing lake, probing ONLY the
        hive partitions the incoming batch touches.

        An unrestricted probe rescans the ENTIRE lake per append —
        O(lake) read amplification, inherited from the reference's
        full re-read (main.py:101-107); at 100 TB each 900 s
        micro-batch would rescan everything. Because the partition key
        is derived from the dedup key (fecha_partic =
        date_format(time), main.py:213), a duplicate can only live in
        a partition the batch itself maps to, so restricting the probe
        to the batch's partition values is exact. The distinct
        partition tuples are collected driver-side — bounded by the
        handful of partitions one micro-batch spans, and pushed back
        as a PartitionFilters-able predicate (Delta-style file
        skipping on plain parquet). Callers whose dedup keys do NOT
        determine the partition value must pass partition_cols=None to
        probe the full lake.

        Returns None when the partition collect finds the batch empty:
        there is nothing to append, and no probe to run.
        """
        probe = existing
        if partition_cols:
            combos = df.select(*partition_cols).distinct().collect()
            if not combos:
                return None
            disjuncts = []
            for row in combos:
                conj = F.lit(True)
                for k in partition_cols:
                    # eqNullSafe: a NULL partition value must still
                    # probe the lake's null partition
                    # (__HIVE_DEFAULT_PARTITION__); plain == yields
                    # NULL there and would skip it, re-appending
                    # null-keyed duplicates.
                    conj = conj & F.col(k).eqNullSafe(F.lit(row[k]))
                disjuncts.append(conj)
            cond = disjuncts[0]
            for d in disjuncts[1:]:
                cond = cond | d
            probe = existing.filter(cond)
        return _key_join(df, probe, dedup_keys, "left_anti")

    def write_incremental(
        self,
        table: str,
        df: DataFrame,
        partition_cols: list[str],
        dedup_keys: list[str],
        probe_partitions: bool | None = None,
    ) -> None:
        """S6: partitioned incremental append with dedup-before-write.

        Reference semantics (main.py:101-114): skip rows whose key
        already exists. Implemented as a left_anti join against the
        existing lake — per-row (strictly more precise than the
        reference's last-`time`-only scalar check, which its
        append-only source made equivalent).

        Partition-pruning the dedup probe is only EXACT when the dedup
        keys determine the partition value (otherwise a re-delivered
        key arriving under a different partition value would probe the
        wrong partition and append a silent duplicate):

        - ``probe_partitions=None`` (default): prune only when every
          partition column is itself a dedup key — the one case the
          dependency holds structurally.
        - ``True``: caller asserts dedup_keys → partition functional
          dependency (e.g. the reference's ``fecha_partic =
          date_format(time)``, main.py:213) and opts into the
          O(batch-partitions) probe.
        - ``False``: always probe the full lake.
        """
        existing = self.read(table)
        deduped = df
        if existing is not None:
            if probe_partitions is None:
                probe_partitions = set(partition_cols) <= set(dedup_keys)
            deduped = self._dedup_against_existing(
                df, existing, dedup_keys, partition_cols if probe_partitions else None
            )
            if deduped is None:  # empty batch
                return
        sized_for_write(deduped).write.mode("append").partitionBy(*partition_cols).parquet(
            self._path(table)
        )
        self._note_write(table, df, partition_cols, whole_table=existing is None)

    def write_full(
        self, table: str, df: DataFrame, dedup_keys: list[str], batch_skip: bool = False
    ) -> None:
        """S7: unpartitioned append with key-set dedup.

        `batch_skip=True` reproduces the reference's policy verbatim
        (main.py:127-133: if ANY id already present, skip the whole
        batch); default is the per-row anti-join improvement. Both key
        checks are null-safe like the reference's `isin` (NaN counts as
        present)."""
        existing = self.read(table)
        deduped = df
        if existing is not None:
            if batch_skip:
                if _key_join(df, existing, dedup_keys, "left_semi").take(1):
                    return
            else:
                deduped = self._dedup_against_existing(df, existing, dedup_keys, None)
        sized_for_write(deduped).write.mode("append").parquet(self._path(table))
        self._note_write(table, df, [], whole_table=existing is None)

    def compact(
        self, table: str, target_partitions: int = 1, zorder_cols: list[str] | None = None
    ) -> None:
        """Small-files compaction: rewrite the table to
        `target_partitions` files per hive partition (incremental
        appends leave one file-set per micro-batch — at 100 TB the
        file count, not the byte count, kills scan planning).
        Copy-on-write: rewrite to a sibling of the live dir (same
        filesystem), then swap with two renames.

        `zorder_cols` additionally clusters rows on the interleaved
        z-value during the rewrite (operators/layout.py), so the
        compacted files carry tight parquet min/max envelopes on every
        listed column — compaction and OPTIMIZE ZORDER in one pass,
        like Delta's."""
        # Without a recorded schema the files may differ (evolved
        # appends): read their union, or the rewrite would drop every
        # column the file that inference picks lacks.
        current = self.read(table, merge_schema=table not in self._schemas)
        if current is None:
            return
        hive_cols = self._partition_dirs(table)
        partition_cols = [f.name for f in current.schema.fields if f.name in hive_cols]
        live = self._path(table)
        staging = live + ".compact"
        if zorder_cols:
            from tp_integ_data_pipeline_spark.operators.layout import zorder_dataframe

            writer = zorder_dataframe(current, zorder_cols, target_partitions)
        elif partition_cols:
            writer = current.repartition(target_partitions, *partition_cols)
        else:
            writer = current.coalesce(target_partitions)
        w = writer.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(staging)
        backup = live + ".old"
        os.rename(live, backup)
        os.rename(staging, live)
        shutil.rmtree(backup)
        self._note_write(table, current, partition_cols, whole_table=True)

    def _partition_dirs(self, table: str) -> set[str]:
        """Partition column names inferred from hive-style dir names."""
        cols: set[str] = set()
        for dirpath, dirnames, _files in os.walk(self._path(table)):
            for d in dirnames:
                if "=" in d:
                    cols.add(d.split("=", 1)[0])
        return cols
