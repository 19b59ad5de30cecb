"""flowforge — a PySpark-native per-column lightweight-compression engine.

A from-scratch batch columnar encoder over web-page tables
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``:
each column is encoded per partition chunk via vectorized Arrow kernels
(dictionary, RLE, frame-of-reference + bit-packing, delta+zigzag, an
FSST-style symbol-table compressor, and an RLE/dict-or-FSST hybrid), with a
stats-driven codec auto-selector. Partitioning is explicit (salted
repartition by url hash), encoded chunks carry per-partition lineage and
size/throughput metrics, and interrupted runs resume from the last
committed bucket.

Capability parity target: flowtracex/zeek-kafka-parquet (a Go
Kafka -> normalize -> Parquet ETL pipeline; see SURVEY.md). This package
re-expresses that pipeline's essence — schema-driven per-column typed
columnar encoding of semi-structured records, partitioned by key, with
buffered resumable writes and throughput metrics — Spark-first.
"""

__version__ = "0.1.0"


def _guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed on disk.

    Every PySpark Python task, and every Python data-source planner, runs
    ``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
    On CPython 3.11 each cached zipimporter then re-reads its whole archive;
    a worker importing pyspark from ``pyspark.zip`` (1,328 entries) holds
    about 16 of them, which costs 0.2-0.3 s of Python CPU per task. Here
    an archive is re-read only when its ``(st_ino, st_size, st_mtime_ns)``
    differs from the stamp taken at its last read, and every importer of
    that archive adopts that read; otherwise the stock method runs, so a
    rewritten archive is re-read and a deleted one is dropped, as before.

    It is installed once per process at package import, not inside the
    kernels: the data-source planners import flowforge only when they
    unpickle ``ChunkStoreDataSource``, and a process that imported flowforge
    before forking its workers hands them the guard. Installing re-reads
    each cached archive once, so only a worker's first task pays the cost;
    a second install does nothing.
    """
    import os
    import sys
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    # from CPython 3.13 the stock method only drops the cached directory,
    # and the next lookup re-reads it once per archive
    if sys.version_info >= (3, 13) or getattr(stock, "stamp_guarded", False):
        return
    read_at: dict[str, tuple] = {}  # archive -> (stamp, directory read)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        seen = read_at.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        stock(self)  # stamp taken before the read: a racing write re-reads
        if stamp is not None and self._files:
            read_at[self.archive] = (stamp, self._files)
        else:
            read_at.pop(self.archive, None)

    invalidate_caches.stamp_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_guard_zip_invalidation()
