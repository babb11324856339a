"""The benchmark workloads.

Each workload owns its inputs (made by ``gen``), its registration and
warm-up, one timed unit of work, and the correctness checks on what the
program wrote. ``idr_nightly`` also owns a closed loop of facility
events, timed after its passes. ``run.py`` drives them through the same
loops.
"""

from __future__ import annotations

import base64
import contextlib
import hashlib
import os
import shutil
from datetime import date, datetime

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

# Digests of every output at the default seed and the default --seconds.
PINNED = {
    "idr_nightly": {
        "art_mmd": "29ecee585d346a9d80fb8c028c751531",
        "vls": "2aba4f006e7cad6bd71c6bfb50928bd5",
        "covid": "435eb7c46927eb911e27a24076eb8379",
        "hts": "49c65e3105814b0a6ad450fb37a383a6",
        # the facility events' latest-result dimension after every event
        "dimension": "05cccf68db6be9663a5c85fe52b48369",
    },
    "corpus_curation": {
        "dedup_minhash_lsh": "d8bd0e2ebc53e0a6034d3a65659f3651",
        "text_quality": "5ecb44aceb6445eb77bba6943d65c60b",
    },
}
DEFAULT_SEED = 1
DEFAULT_SECONDS = 5


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a frame as read back from parquet:
    per-row hashes of the name-sorted columns, sorted."""
    pdf = pdf[sorted(pdf.columns)]
    rows = np.sort(pd.util.hash_pandas_object(pdf, index=False).to_numpy())
    return hashlib.md5(rows.tobytes() + repr(list(pdf.columns)).encode()).hexdigest()


def _cell(v: object) -> str:
    """One rendering of a value for both engines: every null flavour is
    NULL and dates render as timestamps."""
    if v is None or (not isinstance(v, (list, tuple, np.ndarray)) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (pd.Timestamp, datetime, date)):
        return str(pd.Timestamp(v))
    return str(v)


def canonical_digest(pdf: pd.DataFrame) -> str:
    """Engine-neutral order-insensitive digest (Spark ``toPandas`` vs
    DuckDB ``df``): every cell rendered as text first."""
    text = pd.DataFrame({c: [_cell(v) for v in pdf[c]] for c in sorted(pdf.columns)})
    return frame_digest(text)


class Workload:
    """One workload: ``prepare`` (input generation, not part of set-up),
    ``register`` and ``warm_up`` (set-up), ``unit`` (one timed unit),
    ``check`` (end-of-run correctness)."""

    name = ""
    # untimed units before timing: the cold first unit, which pays for
    # class loading, codegen and most of the JIT's work
    warm_units = 1
    # timed units run until --seconds have passed, and at least this
    # many: the JIT keeps warming for several more units, and single units
    # stall when the shared host does: the median of three drops one
    # stalled unit, which the mean of two would not
    min_units = 3
    # a closed loop of events timed after the units, or None
    events: "FacilityEvents | None" = None

    def __init__(self, spark, inputs_dir: str, run_dir: str, seed: int, seconds: int):
        self.spark = spark
        self.inputs_dir = inputs_dir
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.errors: list[str] = []
        self.first_digests: dict[str, str] | None = None

    def pinned(self) -> dict[str, str]:
        if self.seed == DEFAULT_SEED and self.seconds == DEFAULT_SECONDS:
            return PINNED[self.name]
        return {}

    def compare_digests(self, digests: dict[str, str]) -> bool:
        """Each unit's outputs must equal the first unit's and, for the
        default seed, the pinned digests."""
        if self.first_digests is None:
            self.first_digests = digests
            pinned = self.pinned()
            for k, v in digests.items():
                if k in pinned and v != pinned[k]:
                    self.errors.append(f"{k}: digest {v} != pinned {pinned[k]}")
                    return False
            return True
        if digests != self.first_digests:
            self.errors.append(f"unit digests differ from the first unit's: {digests}")
            return False
        return True

    def warm_up(self) -> None:
        for _ in range(self.warm_units):
            self.unit(None)
        if self.events is not None:
            self.events.warm_up()

    def check(self) -> None:
        """End-of-run checks beyond the per-unit digests."""


# ------------------------------------------------------------- nightly

class IdrNightly(Workload):
    """The reference's day: nightly refreshes (the unit: MMD, VLS, COVID
    and HTS chains from the staging tables to parquet warehouse tables,
    full overwrite), then the facility events that re-trigger the load
    between nightly runs."""

    name = "idr_nightly"
    PATIENTS = 15_000

    @classmethod
    def prepare(cls, base: str, seed: int, seconds: int):
        path, rows = gen.nightly_inputs(base, seed, cls.PATIENTS)
        return path, {"rows": rows, "events": FacilityEvents.prepare(base, seed, seconds)}

    def register(self, info) -> None:
        from idr_data_pipelines_spark.sources import Catalog

        self.rows = info["rows"]
        self.wh = os.path.join(self.run_dir, "warehouse_out")
        catalog = Catalog(self.spark, root=self.inputs_dir)
        for t in ("mfl_codes", "hub_details") + gen.STAGING:
            catalog.table(t)
        self.events = FacilityEvents(
            self.spark, info["events"], self.run_dir, self.seconds, self.errors
        )
        self.events.register()

    def check(self) -> None:
        self.events.check(self.pinned().get("dimension"))

    def unit(self, tracer):
        from idr_data_pipelines_spark.pipelines import (
            build_covid_pipeline,
            build_hts_pipeline,
            build_mmd_pipeline,
            build_vls_pipeline,
        )
        from idr_data_pipelines_spark.plans import PipelineRunner
        from idr_data_pipelines_spark.sources import Catalog
        from idr_data_pipelines_spark.sources.parquet import read_parquet_dir
        from idr_data_pipelines_spark.sources.sinks import sink_parquet_overwrite

        spark, wh = self.spark, self.wh
        trace = tracer.wrap if tracer else (lambda fn, _name: fn)
        cat = Catalog(spark, root=self.inputs_dir)
        cat.table = trace(cat.table, "sources.resolve")
        builders = {
            "mmd": lambda: build_mmd_pipeline(cat, as_of=gen.AS_OF),
            "vls": lambda: build_vls_pipeline(cat, as_of=gen.AS_OF),
            "covid": lambda: build_covid_pipeline(cat),
            "hts": lambda: build_hts_pipeline(cat),
        }
        pipes = {k: trace(b, "pipelines.build.factory")() for k, b in builders.items()}

        def sink_mmd(df):
            sink_parquet_overwrite(df, f"{wh}/art_mmd")
            # the reference reads the MMD warehouse back for the VLS merge
            cat.register("art_mmd", read_parquet_dir(spark, f"{wh}/art_mmd"))

        pipes["mmd"].sink = sink_mmd
        for name in ("vls", "covid", "hts"):
            pipes[name].sink = (lambda n: lambda df: sink_parquet_overwrite(df, f"{wh}/{n}"))(name)
        for name, p in pipes.items():
            p.build = trace(p.build, "pipelines.build.frame")
            p.run = trace(p.run, f"plans.run.{name}")
        run = trace(PipelineRunner(retries=0).run, "plans.runner")
        run(spark, list(pipes.values()))
        return self.rows

    def digests(self) -> dict[str, str]:
        return {
            n: frame_digest(pq.read_table(f"{self.wh}/{n}").to_pandas())
            for n in ("art_mmd", "vls", "covid", "hts")
        }


# -------------------------------------------------------------- corpus

class CorpusCuration(Workload):
    """The registry's LLM-data entries over a generated corpus; every
    entry is checked once per run against its DuckDB oracle."""

    name = "corpus_curation"
    DOCS = 5_000
    ENTRIES = ("dedup_minhash_lsh", "text_quality")

    @classmethod
    def prepare(cls, base: str, seed: int, seconds: int):
        return gen.corpus_inputs(base, seed, cls.DOCS), {"rows": cls.DOCS}

    def register(self, info) -> None:
        from idr_data_pipelines_spark.queries import QUERIES

        self.rows = info["rows"]
        self.queries = {n: QUERIES[n] for n in self.ENTRIES}
        self.frames: dict[str, pd.DataFrame] = {}

    def unit(self, tracer):
        trace = tracer.span if tracer else (lambda _name: contextlib.nullcontext())
        self.frames = {}
        for name, q in self.queries.items():
            with trace(f"queries.build.{name}"):
                df = q(self.spark, self.inputs_dir)
            with trace(f"queries.action.{name}"):
                self.frames[name] = df.toPandas()
        return self.rows

    def digests(self) -> dict[str, str]:
        return {n: canonical_digest(pdf) for n, pdf in self.frames.items()}

    def check(self) -> None:
        import duckdb

        from idr_data_pipelines_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute(f"SET temp_directory='{self.run_dir}/duckdb'")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.inputs_dir}/documents.parquet')"
            )
            for name in self.ENTRIES:
                want = canonical_digest(con.execute(ORACLES[name]).df())
                got = (self.first_digests or {}).get(name)
                if got != want:
                    self.errors.append(f"{name}: spark {got} != oracle {want}")
        finally:
            con.close()

    def pair_counts(self) -> dict[str, float]:
        """Candidate and verified MinHash-LSH pairs of the corpus, with
        the parameters of ``dedup_minhash_lsh`` (traced runs only)."""
        from idr_data_pipelines_spark.llmdata.dedup import minhash_lsh_pairs

        docs = self.spark.read.parquet(f"{self.inputs_dir}/documents.parquet")
        kw = dict(num_perm=64, bands=16, shingle_k=3)
        cand = minhash_lsh_pairs(docs, jaccard_threshold=None, **kw).count()
        verified = minhash_lsh_pairs(docs, jaccard_threshold=0.5, **kw).count()
        return {
            "llmdata.candidate_pairs": cand,
            "llmdata.verified_pairs": verified,
            "llmdata.pair_yield": verified / cand if cand else 0.0,
        }


# -------------------------------------------------------------- events

class FacilityEvents:
    """The Pub/Sub trigger path as a closed loop with one client: each
    event lands one facility's VLS delta in the inbox, calls
    ``handle_event`` (audit append) and, via its trigger,
    ``cdc_upsert_drain`` into the latest-result dimension. Run inside
    ``idr_nightly`` after its passes, on the same session."""

    KEYS = 20_000
    ROWS = 2_000
    # an event is short; the second one still pays for cold code paths
    WARM = 2

    @staticmethod
    def events_for(seconds: int) -> int:
        # the count is fixed rather than timed because the inbox and the
        # dimension grow with every event: a faster program must not
        # get more of them
        return max(10, 2 * seconds)

    @classmethod
    def prepare(cls, base: str, seed: int, seconds: int) -> str:
        count = cls.WARM + cls.events_for(seconds)
        return gen.events_inputs(base, seed, cls.KEYS, cls.ROWS, count)

    def __init__(self, spark, inputs_dir: str, run_dir: str, seconds: int, errors: list[str]):
        self.spark = spark
        self.inputs_dir = inputs_dir
        self.run_dir = run_dir
        self.errors = errors
        self.count = self.events_for(seconds)
        self.digest: str | None = None

    def register(self) -> None:
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        self.schema = StructType([
            StructField(f.name, LongType() if str(f.type) == "int64" else StringType())
            for f in gen.DIM_SCHEMA
        ])
        self.inbox = os.path.join(self.run_dir, "inbox")
        self.ckpt = os.path.join(self.run_dir, "checkpoint")
        self.dim_dir = os.path.join(self.run_dir, "dim")
        self.audit = "perfbench_audit"
        os.makedirs(self.inbox)
        self.seq = 0
        self.handled = 0
        self.batches_seen = 0
        self.dim = None
        # seed the dimension: the first landed file carries every key
        self._land("seed.parquet")
        self.dim = self._drain()

    def warm_up(self) -> None:
        for _ in range(self.WARM):
            self.unit(None)

    def _land(self, name: str) -> str:
        tmp = os.path.join(self.inbox, f".{name}.tmp")
        shutil.copyfile(os.path.join(self.inputs_dir, name), tmp)
        os.rename(tmp, os.path.join(self.inbox, name))
        return name

    def _drain(self):
        from idr_data_pipelines_spark.streaming.events import cdc_upsert_drain

        return cdc_upsert_drain(
            self.spark, self.inbox, self.schema, self.ckpt, self.dim_dir,
            key_cols=["ccc_number"], order_cols=["date_test_result_received"],
        )

    def unit(self, tracer):
        from pyspark.sql import functions as F

        from idr_data_pipelines_spark.streaming.events import handle_event

        self.seq += 1
        seq = self.seq
        if tracer is not None:
            self.batches_seen = self._commits()
        name = f"delta-{seq:05d}.parquet"
        delta = pq.read_table(os.path.join(self.inputs_dir, name), columns=["ccc_number"])
        probe_key = delta.column(0)[0].as_py()
        self._land(name)

        def trigger(_pipeline, _event):
            drain = tracer.wrap(self._drain, "streaming.drain") if tracer else self._drain
            self.dim = drain()

        handle = tracer.wrap(handle_event, "streaming.handle") if tracer else handle_event
        payload = base64.b64encode(repr({"facility_event": seq, "file": name}).encode()).decode()
        handle(self.spark, payload, self.audit, pipelines=["vls_latest"],
               trigger=trigger, event_time=f"event-{seq:05d}")
        self.handled += 1
        # readable: the committed dimension serves this event's update
        got = self.dim.filter(F.col("ccc_number") == probe_key).select("event_seq").collect()
        if [r[0] for r in got] != [seq]:
            raise RuntimeError(f"event {seq}: key {probe_key} reads {got}")
        return delta.num_rows

    def _commits(self) -> int:
        """Micro-batches committed so far (the checkpoint's commit log)."""
        return len([f for f in os.listdir(os.path.join(self.ckpt, "commits")) if f.isdigit()])

    def state_counters(self) -> dict[str, float]:
        """Micro-batches committed during the traced event, files in the
        inbox and rows in the committed state."""
        new_batches = self._commits() - self.batches_seen
        with open(os.path.join(self.dim_dir, "CURRENT")) as f:
            version = f.read().strip()
        state = pq.ParquetDataset(os.path.join(self.dim_dir, version))
        return {
            "streaming.batches": new_batches,
            "streaming.inbox_files": len([f for f in os.listdir(self.inbox) if f.endswith(".parquet")]),
            "streaming.state_rows": sum(f.metadata.num_rows for f in state.fragments),
        }

    def check(self, pinned: str | None) -> None:
        """The committed dimension against a DuckDB latest-per-key over
        every landed file (and the pinned digest, if any); one audit row
        per event handled."""
        import duckdb

        names = [f.name for f in gen.DIM_SCHEMA]
        order = ", ".join(f"{c} ASC NULLS FIRST" for c in names if c not in ("ccc_number", "date_test_result_received"))
        sql = f"""
            SELECT {", ".join(names)} FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY ccc_number
                    ORDER BY date_test_result_received DESC NULLS LAST, {order}) AS rn
                FROM read_parquet('{self.inbox}/*.parquet'))
            WHERE rn = 1"""
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.run_dir}/duckdb'")
            want = canonical_digest(con.execute(sql).df())
        finally:
            con.close()
        got = self.digest = canonical_digest(self.dim.toPandas())
        if got != want:
            self.errors.append(f"dimension {got} != latest-per-key oracle {want}")
        if pinned is not None and got != pinned:
            self.errors.append(f"dimension: digest {got} != pinned {pinned}")
        audit_rows = self.spark.table(self.audit).count()
        if audit_rows != self.handled:
            self.errors.append(f"audit table has {audit_rows} rows for {self.handled} events")


WORKLOADS = {w.name: w for w in (IdrNightly, CorpusCuration)}

# Every per-layer metric and its unit; a metric a workload does not
# exercise reads 0 there.
PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("sources.resolve_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.scan_bytes", "B"),
    ("sources.files_read", "count"),
    ("operators.codegen_s", "s"),
    ("operators.exchanges", "count"),
    ("operators.shuffle_write_bytes", "B"),
    ("operators.spill_bytes", "B"),
    ("operators.join_rows_out", "count"),
    ("pipelines.build_s", "s"),
    *[(f"plans.run_s.{p}", "s") for p in ("mmd", "vls", "covid", "hts")],
    ("plans.py4j_calls", "count"),
    *[(f"queries.build_s.{e}", "s") for e in CorpusCuration.ENTRIES],
    *[(f"queries.action_s.{e}", "s") for e in CorpusCuration.ENTRIES],
    ("driver.py4j_calls_build", "count"),
    ("spark.jobs_during_build", "count"),
    ("llmdata.python_rows", "count"),
    ("llmdata.python_bytes", "B"),
    ("llmdata.python_stage_s", "s"),
    ("llmdata.candidate_pairs", "count"),
    ("llmdata.verified_pairs", "count"),
    ("llmdata.pair_yield", "ratio"),
    ("sinks.write_s", "s"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "B"),
    ("sinks.commit_s", "s"),
    ("streaming.handle_s", "s"),
    ("streaming.drain_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.inbox_files", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.state_commit_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("host.probe_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]
