"""Process-level allocator tuning: keep freed pages in-process for reuse.

The round-6 §9 page-throttle lesson, generalized (guide §5): on a host whose
page supply is throttled, the dominant cost of an alloc/free-heavy numpy /
Arrow workload is not the arithmetic but the PAGE FAULTS — every buffer that
glibc mmap()s and munmap()s on free (default threshold: dynamic, ≤32 MB) or
that jemalloc's decay returns to the OS is re-faulted from zero on the next
iteration.  Event-log measured on this engine: an identical fused-rescore
stage ran 121 s vs 2.3 s across two windows purely on "time to run Python
workers" (page stalls), and slicing the scorer's temporaries under the
mmap threshold recovered it (OPTIMIZATION_r06.md §9).

This module applies the same principle to the WHOLE process, so every
allocation site (replica scoring and hydration, worker-side
Arrow batches, pandas frames) reuses its pages instead of re-faulting them:

- glibc malloc: raise M_MMAP_THRESHOLD to 256 MB and disable trim, so
  freed large blocks stay on the heap and their pages stay mapped
  (mallopt(3) — runtime equivalent of MALLOC_MMAP_THRESHOLD_ /
  MALLOC_TRIM_THRESHOLD_).
- pyarrow's jemalloc pool: disable decay (`jemalloc_set_decay_ms`), so
  Arrow buffers' pages are retained between batches.

Both are pure allocator policy: no result, schema, or plan is affected.
Cluster-safe (standard production tuning; memory high-water per process is
bounded by the same working sets as before — pages are RETAINED, not
additionally allocated).  Transparent hugepages were measured and REJECTED
on this host (madvise-mode THP faults with synchronous compaction ran ~10×
slower than 4 KiB faults: 2.67 s vs 0.28 s first-touch of 512 MB).

Kill switch: SEISMIC_MALLOC_TUNE=0 disables everything.
"""

from __future__ import annotations

import os

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3

_applied = False


def tune_process_allocators() -> None:
    """Idempotent; call once per process (daemon import / get_spark)."""
    global _applied
    if _applied or os.environ.get("SEISMIC_MALLOC_TUNE", "1") != "1":
        return
    _applied = True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(
            _M_MMAP_THRESHOLD,
            int(os.environ.get("SEISMIC_MALLOC_MMAP_THRESHOLD", str(256 << 20))),
        )
        libc.mallopt(
            _M_TRIM_THRESHOLD,
            int(os.environ.get("SEISMIC_MALLOC_TRIM_THRESHOLD", str(2**31 - 1))),
        )
    except Exception:  # non-glibc platform — policy simply stays stock
        pass
    try:
        import pyarrow as pa

        if pa.default_memory_pool().backend_name == "jemalloc":
            pa.jemalloc_set_decay_ms(
                int(os.environ.get("SEISMIC_JEMALLOC_DECAY_MS", "-1"))
            )
    except Exception:
        pass


def export_child_env() -> None:
    """Mirror the glibc thresholds into the environment so CHILD processes
    (the Spark JVM and anything it spawns) start with the same policy —
    MALLOC_* env is read by glibc at process startup."""
    if os.environ.get("SEISMIC_MALLOC_TUNE", "1") != "1":
        return
    os.environ.setdefault(
        "MALLOC_MMAP_THRESHOLD_",
        os.environ.get("SEISMIC_MALLOC_MMAP_THRESHOLD", str(256 << 20)),
    )
    os.environ.setdefault(
        "MALLOC_TRIM_THRESHOLD_",
        os.environ.get("SEISMIC_MALLOC_TRIM_THRESHOLD", str(2**31 - 1)),
    )
