"""Runtime placement defaults shared by the kernel, operators and bench,
and the one release for frames the package materializes (``release``).

On a single box, disk bandwidth is the one resource that does NOT grow
with cores (a real cluster attaches fresh local disks — typically NVMe
or tmpfs-backed scratch — with every executor it adds).  To make
single-box measurements reflect the per-executor-scratch model, spill
files and Spark shuffle dirs default to ``/dev/shm`` when it is
writable, matching how production Spark nodes mount fast local scratch.

Override with ``SPARK_GRAFT_SPILL_ROOT`` (kernel run files /
checkpoints) and ``SPARK_GRAFT_LOCAL_DIR`` (``spark.local.dir``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_SHM = "/dev/shm"
# tmpfs is only a sane spill target when it actually has room: small
# /dev/shm mounts (Docker defaults to 64 MB) would ENOSPC mid-sort, and
# spilling to RAM on a RAM-starved host defeats the point of an
# out-of-core sort.  Below this free-space floor, fall back to disk.
_SHM_MIN_FREE_BYTES = 8 << 30


def _shm_usable() -> bool:
    if not (os.path.isdir(_SHM) and os.access(_SHM, os.W_OK)):
        return False
    try:
        st = os.statvfs(_SHM)
        return st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES
    except OSError:
        return False


def default_spill_root() -> str | None:
    """Directory for kernel run files + checkpoints (None = tempfile default)."""
    env = os.environ.get("SPARK_GRAFT_SPILL_ROOT")
    if env:
        return env
    if _shm_usable():
        return _SHM
    return None


def default_local_dir() -> str:
    """Directory for ``spark.local.dir`` (shuffle + broadcast scratch)."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if _shm_usable():
        path = os.path.join(_SHM, "emsort-spark-local")
        os.makedirs(path, exist_ok=True)
        return path
    return "/tmp"


def release(df: DataFrame) -> None:
    """Free the blocks ``df`` holds, whether it was ``persist()``ed or is
    a ``localCheckpoint()``.  ``df.unpersist()`` alone does nothing for a
    local checkpoint: its blocks belong to the RDD under the frame's
    ``LogicalRDD`` plan, which the cache manager never saw.  A released
    checkpoint has no lineage left, so reading it afterwards raises."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()  # noqa: SLF001
    if plan.nodeName() == "LogicalRDD" and plan.rdd().isLocallyCheckpointed():
        plan.rdd().unpersist(False)
