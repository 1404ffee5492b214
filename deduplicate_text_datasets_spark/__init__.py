"""deduplicate_text_datasets_spark — a from-scratch PySpark-native engine with the
query and data-processing capabilities of google-research/deduplicate-text-datasets.

The reference (/root/reference, Rust + Python) is a single-machine suffix-array
dataflow engine for the ExactSubstr half of Lee et al. 2021
(arXiv:2107.06499); its NearDup half exists only as released cluster CSVs.
This package provides both halves natively on Spark DataFrames:

- ``operators.minhash``  — MinHash signatures + LSH banding (NearDup)
- ``operators.simhash``  — SimHash fingerprints + Hamming-ball blocking
- ``operators.suffix``   — ExactSubstr: window-fingerprint self-similar /
  across-similar, per-shard suffix-array kernels for count-occurrences and
  find-training-data (reference: src/main.rs cmd_self_similar,
  cmd_across_similar, cmd_count_occurrences, cmd_find_training_data_2)
- ``operators.intervals`` — collect/interval coalescing (main.rs:1408-1526)
  and scalable interval joins
- ``operators.strike``   — removal application (scripts/finish_dedup_wiki40b.py)
- ``operators.connected_components`` — small-star/large-star clustering
- ``operators.exact`` / ``operators.ngram`` / ``operators.ann`` /
  ``operators.textstats`` / ``operators.multimodal`` — training-data-pipeline
  extensions (exact dedup, n-gram Jaccard, embedding ANN, text analysis,
  multimodal plumbing)

Everything is DataFrame-first: Catalyst plans the relational stages, and the
only Python on the hot path is vectorized Arrow/pandas kernels.
"""

__version__ = "0.1.0"

# Names of the process tunings installed at import ("allocator",
# "zipimport"); a worker reports them to show the package reached it.
_TUNINGS: set[str] = set()


def _tune_allocator() -> None:
    """Keep large malloc'd buffers in the process heap instead of the
    mmap/munmap cycle.

    On virtualized hosts (and this sandbox measurably — see BASELINE.md),
    first-touch page faults cost orders of magnitude more than the
    arithmetic on the page, and glibc returns every >=128 KiB buffer to the
    OS on free, so each Arrow batch / numpy temporary refaults its pages.
    Raising M_MMAP_THRESHOLD and disabling trim makes the allocator reuse
    heap memory: measured 250x on repeated 320 MB alloc+touch cycles.
    Trade-off: each Python worker retains its peak allocation (bounded by
    batch sizing). No-op off Linux/glibc.
    """
    import ctypes
    import sys

    if not sys.platform.startswith("linux"):
        return
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(2**31 - 1))  # M_TRIM_THRESHOLD
    except Exception:
        return
    _TUNINGS.add("allocator")


def _tune_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed. No-op on CPython >= 3.12, which already defers the
    re-read until the next lookup.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. On CPython < 3.12 each zipimporter then re-parses its
    whole archive directory, and a worker holds one zipimporter per package
    directory it imported from: 16 on ``pyspark.zip`` (1,328 entries), plus
    py4j's zip and the spark-core jar. On a 4-core host that re-parse put
    a trivial 4-task Python job at ~0.45 s, against ~0.21 s without it
    and ~0.06 s for a JVM-only job. Here the re-read happens when the
    archive's (mtime_ns, size) differs from the last read, so a rewritten
    archive, such as an engine zip shipped again with ``--py-files``, is
    still picked up.
    """
    import os
    import sys

    if sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == stamps.get(self.archive) and files is not None:
            self._files = files  # unchanged since the last re-read
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    _TUNINGS.add("zipimport")


def worker_kernel(fn):
    """Wrap a Python kernel handed to ``mapInPandas``/``applyInPandas``/
    ``pandas_udf`` so its worker imports this package, and with it the
    process tunings above, before the kernel runs.

    A kernel defined inside a function is pickled by value, so without
    the wrapper its worker never imports the package. The import is by
    name and tolerant: a worker that cannot import the package (it was
    not shipped with ``--py-files``) runs the kernel untuned, as before.
    The wrapper keeps the kernel's signature and type hints, which PySpark
    reads to choose the grouped-map form (``(pdf)`` or ``(key, pdf)``)
    and the pandas UDF type.
    """
    import inspect
    import typing

    package = __name__

    def run(*args):
        try:
            __import__(package)  # a dict lookup once imported
        except ImportError:
            pass
        return fn(*args)

    run.__signature__ = inspect.signature(fn)
    try:
        # resolved here: PySpark resolves string hints in the globals of
        # the function it is given, which are this module's, not the kernel's
        run.__annotations__ = typing.get_type_hints(fn)
    except (NameError, TypeError):
        run.__annotations__ = dict(getattr(fn, "__annotations__", {}))
    run.__name__ = getattr(fn, "__name__", "kernel")
    return run


_tune_allocator()
_tune_zipimport()
