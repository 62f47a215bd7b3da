"""Distributed external sort: range partition + per-partition OVC kernel.

The Spark mapping of the reference's Sort operator (SURVEY §1.3 / §3.4):

  salted_repartition_by_range — one deterministic range shuffle; it
                               takes the role of the reference's process
                               boundary/HDD transfer,
  mapInArrow(kernel)         — each task runs the vectorized OVC
                               loser-tree external sort (kernel/) over its
                               Arrow batch stream, spilling to
                               executor-local run files,
  partition order            — range partitions are emitted in key order,
                               so partition-sorted output is globally
                               sorted (same contract as df.orderBy).

Skew: the partitioner splits rows on the whole sort key, so a caller
whose leading key is hot (one H3 cell with half the planet's pages)
appends a high-cardinality column to the key.  The flagship sorts on
(morton, urlh), a 40-bit url hash: the hot cell splits at the
quantiles of its url hashes across adjacent range partitions, and the
output stays globally ordered on the whole key (SURVEY §7 risk list).

At 100 TB: while forming runs the kernel holds at most
``memory_budget_rows`` rows per task; a merge holds one page
(``batch_rows`` rows) per input run, one emitted slice, and 8-16 bytes
of key codes per partition row.  Everything else is spilled run files,
so partition sizing is governed by disk, not RAM.  AQE remains enabled
as a backstop, but the skew split is explicit per north_rule.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel.external_sort import ROW_HASH_COL, ExternalSorter
from ..kernel.keys import key_matrix_table, lexsort_indices

DEFAULT_BUDGET_ROWS = 1 << 20
DEFAULT_BATCH_ROWS = 1 << 16


class _SortMetricsParam(AccumulatorParam):
    """Accumulator value ``{partition_id: record}``.  Per partition the
    record of the highest task attempt wins (ties: the later add), so a
    retried or recomputed task is counted once."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        for pid, rec in value2.items():
            if pid not in value1 or rec["attempt"] >= value1[pid]["attempt"]:
                value1[pid] = rec
        return value1


def _partition_kernel(key_cols, budget, batch_rows, checkpoint_dir, metrics):
    """Build the mapInArrow function (must be picklable, import-light).
    Each task adds its sorter's metrics to the ``metrics`` accumulator."""

    def run(iterator):
        import pyarrow as pa

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if checkpoint_dir:
            spill = os.path.join(checkpoint_dir, f"partition={pid:05d}")
            cleanup = False
        else:
            from ..runtime import default_spill_root

            spill = tempfile.mkdtemp(
                prefix=f"emsort-p{pid}-", dir=default_spill_root()
            )
            cleanup = True
        sorter = ExternalSorter(
            key_cols=list(key_cols),
            spill_dir=spill,
            memory_budget_rows=budget,
            batch_rows=batch_rows,
            checkpoint_inputs=checkpoint_dir is not None,
        )
        try:
            tables = (pa.Table.from_batches([b]) for b in iterator)
            for out in sorter.sort_tables(tables):
                yield from out.to_batches()
            # only a fully drained sort reports: a consumer that stops
            # early (limit) leaves partial counts, which are not sent
            record = sorter.metrics.as_dict()
            record["partition_id"] = pid
            record["attempt"] = ctx.attemptNumber() if ctx is not None else 0
            metrics.add({pid: record})
        finally:
            if cleanup:
                shutil.rmtree(spill, ignore_errors=True)

    return run


def external_sort_df(
    df: DataFrame,
    keys: list[str],
    *,
    num_partitions: int | None = None,
    memory_budget_rows: int = DEFAULT_BUDGET_ROWS,
    batch_rows: int = DEFAULT_BATCH_ROWS,
    checkpoint_dir: str | None = None,
    skip_shuffle: bool = False,
) -> DataFrame:
    """Globally sort ``df`` by ``keys`` (ascending, nulls first) using the
    OVC kernel.  Functionally equivalent to ``df.orderBy(*keys)`` — the
    pytest suite asserts exactly that — but executes the sort in our
    instrumented kernel with spill/merge metrics (``sort_metrics``) and
    optional checkpoint/resume.

    Float keys sort like Spark's: every NaN, either sign, after +inf;
    decimals sort exactly at any precision.  A key type the kernel has
    no code for (struct, array, map) raises TypeError here, while the
    plan is built, before any job runs.

    ``skip_shuffle=True`` sorts within existing partitions only (useful
    after an upstream ``salted_repartition_by_range`` on the same keys).

    With ``checkpoint_dir``, each partition's runs persist in its own
    subdirectory, and a rerun over identical partition input replays
    them instead of merging again.  The identity check is a hidden
    ``_emsort_row_hash`` column added after the range shuffle, just
    before the kernel: ``xxhash64`` over every column plus ``isnull`` of
    each nullable one (Spark's hash skips NULLs, so without the flags
    ``(NULL, 'x')`` and ``('x', NULL)`` would hash alike).  The kernel
    folds it into a per-partition fingerprint and drops it; the output
    schema is ``df.schema``.  Spark's ``xxhash64`` rejects map columns
    when the plan is built (``DATATYPE_MISMATCH.HASH_MAP_TYPE``), so a
    checkpointed sort of a frame that carries a map fails loudly; the
    checkpointing callers (``flagship_pipeline`` and
    ``jobs/flagship_job.py``) carry none.

    Each call registers one accumulator, whose small per-partition dict
    PySpark keeps for the life of the driver: the footprint grows with
    the number of calls, not with the input.
    """
    # raises TypeError for a key type with no code, before any job runs
    key_matrix_table(to_arrow_schema(df.select(*keys).schema).empty_table(), keys)
    if not skip_shuffle:
        df = salted_repartition_by_range(df, keys, num_partitions=num_partitions)
    metrics = df.sparkSession.sparkContext.accumulator({}, _SortMetricsParam())
    fn = _partition_kernel(
        keys, memory_budget_rows, batch_rows, checkpoint_dir, metrics
    )
    src = df
    if checkpoint_dir is not None:
        fields = df.schema.fields
        src = df.withColumn(
            ROW_HASH_COL,
            F.xxhash64(
                *[F.col(f.name) for f in fields],
                *[F.isnull(f.name) for f in fields if f.nullable],
            ),
        )
    # mapInArrow: the kernel is Arrow-native — skip Spark's
    # arrow<->pandas conversion entirely (strings stay in Arrow buffers)
    out = src.mapInArrow(fn, schema=df.schema)
    out._emsort_metrics = metrics  # read through sort_metrics(out)
    return out


def sort_metrics(df: DataFrame) -> list[dict]:
    """Per-partition lineage and metrics of an ``external_sort_df`` frame
    — the north_rule's 'per-partition lineage + metrics'.  One record
    per partition whose sort task ran to completion, ordered by
    ``partition_id``: rows in/out, runs (W), fan-in (B), X, depth,
    passes, spill rows, comparison counts, resume flag, task attempt.
    Records arrive as tasks finish, so read them after an action."""
    metrics = getattr(df, "_emsort_metrics", None)
    if metrics is None:
        raise ValueError("sort_metrics needs a frame returned by external_sort_df")
    value = metrics.value
    return [value[pid] for pid in sorted(value)]


# key types whose Python values round-trip through F.lit(v).cast(type) and
# whose key-code order (kernel/keys.py) equals Spark's struct order
# (strings as UTF-8 bytes, NULLs first)
_SORTABLE_BOUND_TYPES = {
    "tinyint", "smallint", "int", "bigint", "string", "date", "boolean",
}
# the bounds sample keeps rows whose key hash is 0 mod _SAMPLE_MOD,
# at most _SAMPLE_CAP of them
_SAMPLE_MOD = 16
_SAMPLE_CAP = 1 << 18
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _murmur3_long(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashLong`` as a signed 32-bit int: the
    hash that ``F.hash`` and HashPartitioning apply to one BIGINT."""
    h = seed
    for word in (v & _M32, (v >> 32) & _M32):
        k = _rotl32(word * 0xCC9E2D51 & _M32, 15) * 0x1B873593 & _M32
        h = (_rotl32(h ^ k, 13) * 5 + 0xE6546B64) & _M32
    h ^= 8
    h = (h ^ (h >> 16)) * 0x85EBCA6B & _M32
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _identity_shuffle_keys(n: int) -> list[int]:
    """x_t per target partition t with pmod(murmur3(x_t), n) == t, so
    ``repartition(n, x)`` over BIGINT x places bucket t in partition t:
    the smallest non-negative preimage of each t (about n ln n hashes)."""
    xs: dict[int, int] = {}
    x = 0
    while len(xs) < n:
        xs.setdefault(_murmur3_long(x) % n, x)
        x += 1
    return [xs[t] for t in range(n)]


def salted_repartition_by_range(
    df: DataFrame,
    keys: list[str],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic range partition on ``keys`` (ascending, nulls
    first): partition i holds the i-th key range, so sorting each
    partition on the same ``keys`` sorts the whole frame.

    The bounds split on the whole key, so a hot leading key spreads over
    adjacent partitions at the quantiles of its trailing key; rows equal
    on the whole key stay in one partition.

    Bounds are the exact lower quantiles of a sample picked by a hash of
    the key columns, so the same input is partitioned the same way on
    every run, which lets a checkpointed ``external_sort_df`` replay
    (``repartitionByRange`` samples with a seed taken from the RDD id).
    Rows route to buckets through a balanced binary tree of struct
    compares, and a Murmur3 preimage key pins bucket i to partition i.
    Key types outside ``_SORTABLE_BOUND_TYPES`` fall back to
    ``repartitionByRange``.
    """
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    dtypes = dict(df.dtypes)
    if not all(dtypes[k] in _SORTABLE_BOUND_TYPES for k in keys):
        return df.repartitionByRange(n, *keys)
    if n < 2:
        return df.repartition(1)

    def collect(src):
        # the cap bounds the collected sample; while the sample fits under
        # it, the collected set, and so the bounds, are exactly reproducible
        return src.select(*keys).limit(_SAMPLE_CAP).toArrow()

    # a key hash picks the same rows whatever the partition layout,
    # unlike df.sample(seed); it picks all or none of the rows of one key
    # value, so a hot key splits only as far as its trailing columns vary
    sample = collect(
        df.filter(F.pmod(F.xxhash64(*keys, F.lit(1337)), F.lit(_SAMPLE_MOD)) == 0)
    )
    if sample.num_rows < 4 * n:  # degenerate tiny input: use the full data
        sample = collect(df)
    order = lexsort_indices(key_matrix_table(sample, keys))
    m = len(order)
    picks = [order[(i * (m - 1)) // n] for i in range(1, n)] if m else []
    bounds = sample.take(picks).to_pylist()  # n - 1 rows, as dicts

    row = F.struct(*keys)

    def bucket(lo: int, hi: int):
        # bounds[i] separates bucket i from i + 1
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        bound = F.struct(
            *[F.lit(bounds[mid][k]).cast(dtypes[k]).alias(k) for k in keys]
        )
        return F.when(row <= bound, bucket(lo, mid)).otherwise(bucket(mid + 1, hi))

    # murmur3 is type-sensitive: the preimages are BIGINT hashes
    part_key = F.element_at(
        F.array(*[F.lit(x).cast("bigint") for x in _identity_shuffle_keys(n)]),
        bucket(0, len(bounds)) + 1,
    )
    return df.withColumn("_pk", part_key).repartition(n, F.col("_pk")).drop("_pk")
