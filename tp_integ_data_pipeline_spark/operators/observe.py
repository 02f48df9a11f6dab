"""Inline pipeline observability: audit metrics collected DURING the
action, not by a second scan.

A 100 TB write cannot afford the usual "write, then re-read to count
rows / nulls / ranges" audit pass — that doubles the I/O bill. Spark's
``Observation`` API attaches aggregate expressions to a plan node and
harvests them from the SAME job that materializes the data (metrics
ride the task results; zero extra scan, zero extra shuffle). This
module wraps it into the two shapes a pipeline needs:

* ``with_audit(df, metrics)`` — attach named audit aggregates, get the
  (df, observation) pair back; run any ONE action, then
  ``observation.get`` holds the metric dict.
* ``audited_write(df, path, metrics)`` — the common case: parquet
  write + metrics from that single job.

No reference-repo counterpart (the reference re-queries the DB to
check loads); SURVEY.md §2.10 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def with_audit(
    df: DataFrame, metrics: dict[str, Column]
) -> tuple[DataFrame, Observation]:
    """Attach named aggregate expressions to the frame. The returned
    DataFrame MUST be consumed by exactly one action before reading
    ``observation.get`` (Spark fills an Observation once)."""
    if not metrics:
        raise ValueError("with_audit: metrics must be non-empty")
    obs = Observation("audit")
    named = [col.alias(name) for name, col in metrics.items()]
    return df.observe(obs, *named), obs


def audited_write(
    df: DataFrame, path: str, metrics: dict[str, Column], mode: str = "overwrite"
) -> dict:
    """Write parquet and return the audit metrics computed by the SAME
    job — one scan, one write, metrics for free."""
    observed, obs = with_audit(df, metrics)
    observed.write.mode(mode).parquet(path)
    return dict(obs.get)


class CheckViolation(RuntimeError):
    """Raised by ``constrained_overwrite`` when a CHECK fails; carries
    the per-constraint violation counts for the load report."""

    def __init__(self, counts: dict[str, int]):
        self.counts = counts
        super().__init__(f"CHECK constraints violated: {counts}")


def constrained_overwrite(table, df: DataFrame, checks: dict[str, str]) -> dict:
    """Delta-style CHECK constraints on a CAS-commit table: write the
    candidate version dir while counting violations of every check IN
    THE SAME JOB (Observation metrics — zero extra scan), then commit
    only if all counts are zero; otherwise remove the staged dir and
    raise :class:`CheckViolation`. The committed-or-absent contract of
    ``VersionedParquetTable`` is preserved — a failed load never
    becomes readable, exactly like a Delta transaction that fails its
    constraint after writing its files.

    ``table`` is a ``VersionedParquetTable``; ``checks`` maps
    constraint name -> SQL boolean predicate that every row must
    satisfy (nulls count as violations, matching SQL CHECK's
    treat-unknown-as-failure for data-quality use). Returns the
    violation-count dict (all zeros) on success.
    """
    import shutil

    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.operators.layout import sized_for_write

    metrics = {
        name: F.sum(
            (~F.coalesce(F.expr(pred), F.lit(False))).cast("long")
        )
        for name, pred in checks.items()
    }
    new_dir = table.staged_dir()
    observed, obs = with_audit(df, metrics)
    sized_for_write(observed).write.mode("overwrite").parquet(new_dir)
    counts = {k: int(v or 0) for k, v in dict(obs.get).items()}
    if any(counts.values()):
        shutil.rmtree(new_dir, ignore_errors=True)
        raise CheckViolation(counts)
    table.commit_staged_dir(
        new_dir, meta={"op": "constrained", "checks": counts}, schema=df.schema
    )
    return counts
