"""A tiny name→location catalog.

The reference addresses every dataset as ``project.dataset.table`` in
BigQuery (SURVEY.md §1). Locally the analogue is a mapping from logical
table names to parquet paths (or registered temp views), so pipelines
can be written against names and pointed at sf0.001/sf0.01/sf0.1 (or a
production lake) without code changes.
"""

from __future__ import annotations

import posixpath
import threading

from pyspark.sql import DataFrame, SparkSession

from idr_data_pipelines_spark.sources.parquet import read_parquet_dir


class Catalog:
    """Resolve logical table names to DataFrames.

    Precedence: explicitly registered DataFrames > parquet files under
    ``root`` > Spark catalog tables.

    A Catalog is one run's snapshot of its inputs: each parquet table
    is resolved (existence probe + schema inference) once per instance
    and the same DataFrame is returned thereafter, so a file rewritten
    in place is seen by the next run's new Catalog, not by this one.
    Resolution is thread-safe — the chains of one nightly pass resolve
    concurrently under ``PipelineRunner`` — and ``register`` still wins
    over a resolved table.
    """

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self._frames: dict[str, DataFrame] = {}
        self._resolved: dict[str, DataFrame] = {}
        self._lock = threading.Lock()
        # one lock per name: a name resolves once, distinct names at once
        self._name_locks: dict[str, threading.Lock] = {}

    def register(self, name: str, df: DataFrame) -> None:
        with self._lock:
            self._frames[name] = df

    def table(self, name: str) -> DataFrame:
        with self._lock:
            if name in self._frames:
                return self._frames[name]
            name_lock = self._name_locks.setdefault(name, threading.Lock())
        with name_lock:
            if name not in self._resolved and self.root is not None:
                path = posixpath.join(self.root, f"{name}.parquet")
                if self._path_exists(path):
                    self._resolved[name] = read_parquet_dir(self.spark, path)
            frame = self._resolved.get(name)
        return self.spark.table(name) if frame is None else frame

    def _path_exists(self, path: str) -> bool:
        """Existence probe on WHATEVER filesystem ``root`` names. A
        plain ``os.path.exists`` is false for every hdfs://gs://s3a://
        path, which would silently skip the parquet branch and
        surface as a confusing "table not found" from the Spark
        catalog (r11 review — the same driver-local-probe class as
        the streaming ``_HLL_B`` sidecar). Classic deployments go
        through the Hadoop FileSystem via the JVM gateway (the
        sink_manifest pattern); Spark Connect has no gateway, so
        there we fall back to the local probe — correct for the
        local/driver-visible roots Connect clients pass.

        The local fallback triggers ONLY when the gateway itself is
        unavailable (r11 ADVICE: a blanket ``except Exception`` made a
        transient DFS error — auth, network — look like "path absent",
        silently re-routing a ``hdfs://`` root to ``spark.table`` and
        reintroducing the confusing failure this probe removes).
        Genuine FileSystem errors propagate to the caller. One
        implementation for the whole driver-side-small-file class:
        ``idr_data_pipelines_spark.fsio`` (shared with the streaming
        ``_state_*`` pointer layer)."""
        from idr_data_pipelines_spark import fsio

        return fsio.exists(self.spark, path)

    def register_views(self, names: list[str]) -> None:
        """Expose tables as temp views so ``spark.sql`` can see them."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)
