"""Query catalog: one entry per operator from SURVEY.md §2 (+ llmdata
extensions), each expressed over the driver's TPC-H-ish testdata with a
DuckDB oracle.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching entry in ``ORACLES`` is ANSI/DuckDB SQL producing the same
rows with the SAME column names (the driver hashes values after
sorting columns by name).

Cross-engine determinism rules used throughout (so value hashes match
bit-for-bit):

- double aggregation: round the per-row double expression to 2
  decimals (bit-identical in both engines for these inputs), cast to
  DECIMAL(18,2) so the SUM is exact and order-independent, cast the
  final result back to DOUBLE.
- SUM of integers: DuckDB returns HUGEINT → oracle casts to BIGINT to
  match Spark's long.
- timestamps: the events table has nanosecond precision which Spark
  truncates to micros; queries emit epoch-micro BIGINTs or
  date_trunc'd values instead of raw ns timestamps.
- float vectors: cast elements to double *before* arithmetic; dot
  products are left-fold sums in both engines (Spark ``aggregate``
  fold ≡ SQL left-associative ``+`` chain).
"""

from __future__ import annotations

import math
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import (
    as_of_date,
    bq_date_diff,
    case_bucket,
    case_flag,
    case_map,
    extract_part,
    format_date,
    null_default,
    str_sentinel_decode,
)
from idr_data_pipelines_spark.llmdata.dedup import (
    _tokens_sql,
    dedup_exact_hash_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from idr_data_pipelines_spark.llmdata.multimodal import (
    extract_media_meta,
    with_binary_payload,
)
from idr_data_pipelines_spark.llmdata.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from idr_data_pipelines_spark.llmdata.text import (
    fingerprint,
    quality_score,
    token_count,
)
from idr_data_pipelines_spark.operators import (
    agg_max_date,
    agg_pivot_sum_case,
    dedup_distinct,
    dedup_groupby_max,
    dedup_join_back_on_max,
    dedup_latest_per_key,
    filter_derived,
    filter_eq,
    filter_not_null,
    join_inner_dim_cast,
    join_left_fact,
    project_rename,
    project_star_plus,
)
from idr_data_pipelines_spark.sources import (
    read_csv_all_string,
    read_json_dir,
    read_parquet_all_string,
    read_parquet_dir,
    spread_small_scan,
)
from idr_data_pipelines_spark.streaming.events import (
    sessionize,
    windowed_event_counts,
)

AS_OF = "2026-01-01"  # injected CURRENT_DATE for deterministic runs


# Resolved input-table HANDLES, per Spark application — the
# programmatic analogue of registering the inputs in a catalog once
# per session. ``spark.read.parquet`` re-lists the path and re-infers
# the schema (a small executor job, ~0.1 s warm) on EVERY call, so a
# query touching three tables paid ~0.3 s of driver/build time per
# construction (measured r14). The cached object is an UNRESOLVED
# scan plan: no rows, no results, no intermediates — every action
# still reads the parquet files in full, exactly as an uncached
# handle would; only the per-build listing + schema-inference job is
# saved. Keyed by applicationId so a new session never sees another
# session's resolution; the input dirs are immutable during a run
# (nothing in the registry writes into ``sf_dir``).
_TABLE_HANDLES: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_HANDLES.get(key)
    if df is None:
        df = read_parquet_dir(spark, f"{sf_dir}/{name}.parquet")
        _TABLE_HANDLES[key] = df
    return df


def _latest_order_status(df: DataFrame) -> DataFrame:
    """Latest (odate desc, status desc as tie-break) order-status row
    per customer — the ONE snapshot rule shared by every SCD/CDC
    query (scd1/scd2_merge/scd3/scd4/snapshot_diff) and assumed by
    their oracles (r10 review: five inline copies of this window let
    a tie-break fix desynchronize the family)."""
    return dedup_latest_per_key(
        df,
        ["o_custkey"],
        [F.col("odate").desc(), F.col("o_orderstatus").desc()],
    )


def _ts_utc(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (a UTC instant).

    The synthetic events parquet has shipped as both TIMESTAMP(NANOS)
    (read as bigint under ``nanosAsLong``) and TIMESTAMP_NTZ(µs);
    either way the stored wall-clock IS the UTC instant. Convert with
    pure wall-clock arithmetic (``timestampdiff`` from the NTZ epoch)
    rather than a cast, so the result is independent of
    ``spark.sql.session.timeZone`` — watermarks and ``unix_micros``
    then agree with DuckDB's naive-as-UTC reading in any timezone."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # TIMESTAMP(NANOS) read as long nanos
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with ``ts`` normalized to TIMESTAMP
    (see ``_ts_utc``); ``nanosAsLong`` is set first so a NANOS file
    reads as long instead of erroring on Spark 4."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # the handle cache is safe here BECAUSE the conf is set first on
    # every call: all cached events resolutions happen under
    # nanosAsLong=true, so the cached schema can never diverge from a
    # fresh read's
    return _ts_utc(_t(spark, sf_dir, "events"))


def _ab_parity(user_col: str = "user_id") -> F.Column:
    """The experiment-assignment parity shared by EVERY arm-keyed
    readout (`evt_ab_test`, `evt_ab_cuped`, `evt_did_readout`):
    first 8 md5 hex chars of 'ab:'||user as a bigint, mod 2. One
    definition so the queries stay assignment-consistent — the SQL
    twin is ``('0x' || substring(md5('ab:' || user), 1, 8))::BIGINT
    % 2``. Parity 0 = arm A / control, 1 = arm B / treatment."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col(user_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )


def _toks(col: str = "text") -> str:
    """SQL text of the module's canonical whitespace tokenizer,
    ``dedup._tokens_sql`` — split(lower(trim(text)), \\s+) with Java's
    ``\\s``. Every oracle that tokenizes mirrors it as
    ``regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')``:
    RE2's ``\\s`` has no VT, so the oracles spell Java's class out.
    Change BOTH or none."""
    return _tokens_sql(col)


def _money_sum(col) -> F.Column:
    """Cross-engine-exact money sum: convert to integer cents with pure
    double arithmetic (floor(x*100 + 0.5) — bit-identical in Spark and
    DuckDB), sum as BIGINT (exact, order-independent), divide at the
    end. Avoids engine-specific round()/decimal-cast behavior."""
    cents = F.floor(col * F.lit(100.0) + F.lit(0.5))
    return F.sum(cents).cast("double") / F.lit(100.0)


# ===================================================================
# §2.1 sources / sinks
# ===================================================================

def q_src_parquet_dir(spark, sf_dir):
    """src_parquet_dir: multi-file parquet scan (dags/idr_load.py:83-114)."""
    df = read_parquet_dir(spark, f"{sf_dir}/lineitem.parquet")
    return df.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


def q_src_parquet_concat_str(spark, sf_dir):
    """src_parquet_concat_str: all-string ingest + distinct + None→null
    (deps/parquet_solution.py:13-84)."""
    df = read_parquet_all_string(spark, f"{sf_dir}/documents.parquet")
    return df.select("doc_id", "text", "lang", "source", "n_chars")


def q_sink_table_overwrite(spark, sf_dir):
    """sink_table_overwrite: WRITE_TRUNCATE round-trip
    (deps/parquet_solution.py:87-125)."""
    df = _t(spark, sf_dir, "region")
    path = f"{tempfile.mkdtemp(prefix='idr_sink_')}/region"
    df.write.mode("overwrite").parquet(path)
    df.write.mode("overwrite").parquet(path)  # truncate semantics: second write replaces
    return spark.read.parquet(path)


def q_sink_rows_append(spark, sf_dir):
    """sink_rows_append: audit append (cf/main.py:34-47) — two appends
    double the rows."""
    df = _t(spark, sf_dir, "region")
    path = f"{tempfile.mkdtemp(prefix='idr_append_')}/audit"
    df.write.mode("overwrite").parquet(path)
    df.write.mode("append").parquet(path)
    return spark.read.parquet(path)


def q_src_csv_dir(spark, sf_dir):
    """src_csv_dir: CSV ingest with the reference's BQ load options —
    skip_leading_rows=1 ≙ header, allow_quoted_newlines ≙ multiLine
    (dags/idr_load.py:90-91). Stages the documents table to RFC-4180
    CSV (quotes doubled), reads it back all-string + "None"→null (the
    staging-table shape, deps/parquet_solution.py:75-82); the oracle
    replays the projection off the parquet, so the value hash checks
    the entire write→parse roundtrip."""
    docs = _t(spark, sf_dir, "documents")
    path = f"{tempfile.mkdtemp(prefix='idr_csv_')}/documents"
    (
        docs.write.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        # writer-side whitespace trimming defaults ON — disable so the
        # roundtrip is byte-faithful even for ws-edged text
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .mode("overwrite")
        .csv(path)
    )
    out = read_csv_all_string(spark, path, deduplicate=False)
    return out.select("doc_id", "text", "lang", "source", "n_chars")


def q_src_json_dir(spark, sf_dir):
    """src_json_dir: JSON-lines ingest (splittable — the only JSON
    layout that scales) with an explicit schema (inference would cost
    a full extra pass). Stages region to JSONL, reads it back with the
    parquet schema; the oracle is the parquet table."""
    region = _t(spark, sf_dir, "region")
    path = f"{tempfile.mkdtemp(prefix='idr_json_')}/region"
    region.write.mode("overwrite").json(path)
    return read_json_dir(spark, path, schema=region.schema)


def q_src_orc_roundtrip(spark, sf_dir):
    """ORC source surface: stage region to ORC (Spark's second
    columnar built-in — splittable, predicate-pushdown-capable like
    parquet), read it back; the oracle is the original parquet table,
    so the value hash proves the write→read roundtrip is lossless."""
    region = _t(spark, sf_dir, "region")
    path = f"{tempfile.mkdtemp(prefix='idr_orc_')}/region"
    region.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


def q_src_schema_evolution(spark, sf_dir):
    """Schema-evolution read: epoch-1 files carry (n_nationkey,
    n_name); epoch-2 files add a name-length column. mergeSchema
    unions the schemas — epoch-1 rows yield null for the new column —
    exactly the add-a-column-without-rewrite lake situation. The
    oracle replays the two-epoch union on the raw table."""
    from idr_data_pipelines_spark.sources.parquet import read_parquet_evolved

    nation = _t(spark, sf_dir, "nation")
    base = f"{tempfile.mkdtemp(prefix='idr_evo_')}/nation_evolved"
    nation.filter(F.col("n_nationkey") < 12).select(
        "n_nationkey", "n_name"
    ).write.mode("overwrite").parquet(f"{base}/epoch=1")
    nation.filter(F.col("n_nationkey") >= 12).select(
        "n_nationkey",
        "n_name",
        F.length("n_name").cast("long").alias("name_len"),
    ).write.mode("overwrite").parquet(f"{base}/epoch=2")
    out = read_parquet_evolved(spark, base)
    return out.select("epoch", "n_nationkey", "n_name", "name_len")


def q_src_json_corrupt_routing(spark, sf_dir):
    """Dead-letter ingest: nation staged as JSON-lines with every
    (n_nationkey % 5 == 0) row deliberately mangled; PERMISSIVE +
    columnNameOfCorruptRecord routes the bad lines into a quarantine
    column instead of failing the job or silently nulling them.
    Returns the good rows' key stats plus the corrupt count — all
    derivable from the base table, which is what the oracle does."""
    import os

    from idr_data_pipelines_spark.sources.text_formats import (
        read_json_with_corrupt_routing,
    )

    nation = _t(spark, sf_dir, "nation")
    rows = nation.select("n_nationkey", "n_name").collect()  # 25 rows
    staged = tempfile.mkdtemp(prefix="idr_corrupt_")
    with open(os.path.join(staged, "part-0.jsonl"), "w") as fh:
        for r in rows:
            if r["n_nationkey"] % 5 == 0:
                fh.write(f'{{"n_nationkey": {r["n_nationkey"]}, "n_name": \n')
            else:
                fh.write(
                    f'{{"n_nationkey": {r["n_nationkey"]}, '
                    f'"n_name": "{r["n_name"]}"}}\n'
                )
    df = read_json_with_corrupt_routing(
        spark, staged, "n_nationkey long, n_name string"
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias(
            "n_quarantined"
        ),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))
        ).alias("good_key_sum"),
    )


def q_scd3_update(spark, sf_dir):
    """SCD type-3 merge: the customer's latest pre-cutoff order status
    (with a null prev column, first load) updated by the latest
    post-cutoff status — changed keys remember the prior value in
    prev_o_orderstatus, restated values do NOT clobber it, new keys
    arrive with null prev. Bounded column history, one outer join."""
    from idr_data_pipelines_spark.operators.scd import scd3_update

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    cutoff = F.lit("1995-01-01").cast("date")

    def latest(df):
        return _latest_order_status(df).drop("odate")

    base = latest(orders.filter(F.col("odate") <= cutoff)).withColumn(
        "prev_o_orderstatus", F.lit(None).cast("string")
    )
    upd = latest(orders.filter(F.col("odate") > cutoff))
    return scd3_update(base, upd, ["o_custkey"], ["o_orderstatus"])


def q_src_partitioned_prune(spark, sf_dir):
    """Hive-partitioned lake layout + partition pruning: events are
    written partitioned by event date (the standard directory layout
    for a 100 TB fact table), then read back with a one-week filter.
    Catalyst resolves the predicate against the directory listing
    (PartitionFilters) before any file is opened, so only 7 of the 30
    day-directories are scanned — at warehouse scale the difference
    between reading 100 TB and ~3 TB. tests/test_sources.py pins
    ``inputFiles()`` to exactly the matching directories. The result
    aggregates per (day, event_type) so the oracle replays the same
    filter on the raw table."""
    import shutil

    from idr_data_pipelines_spark.sources.sinks import sink_parquet_overwrite

    ev = _events(spark, sf_dir).withColumn("event_date", F.col("ts").cast("date"))
    base = tempfile.mkdtemp(prefix="idr_part_")
    lake = f"{base}/events_by_day"
    sink_parquet_overwrite(
        ev.select("event_id", "user_id", "event_type", "event_date"),
        lake,
        partition_by=["event_date"],
    )
    out = (
        spark.read.parquet(lake)
        .filter(
            F.col("event_date").between(
                F.lit("2024-01-08").cast("date"), F.lit("2024-01-14").cast("date")
            )
        )
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_scd1_upsert(spark, sf_dir):
    """SCD type-1 keyed upsert (MERGE INTO semantics, no history):
    latest pre-cutoff status per customer as the base table, latest
    post-cutoff status as the update batch; updates replace matching
    keys, unmatched base rows pass through. One anti join + union."""
    from idr_data_pipelines_spark.operators.scd import scd1_upsert

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    cutoff = F.lit("1995-01-01").cast("date")

    base = _latest_order_status(orders.filter(F.col("odate") <= cutoff))
    upd = _latest_order_status(orders.filter(F.col("odate") > cutoff))
    return scd1_upsert(base, upd, ["o_custkey"])


def q_agg_histogram(spark, sf_dir):
    """Fixed-width histogram of order totals: bucket index, count,
    bucket min/max — the profile-a-column primitive. Pure groupBy —
    one partial-agged shuffle of n_buckets rows."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(20000.0)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


def q_agg_mode(spark, sf_dir):
    """Deterministic per-group mode: the most common order priority per
    customer market segment (ties → smallest value, unlike the
    built-in ``F.mode`` whose tie winner is arbitrary). Fact⋈dim hash
    join, two-level count + per-group row_number over the collapsed
    (segment, priority) frame (operators/aggregate.py agg_mode)."""
    from idr_data_pipelines_spark.operators import agg_mode

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return agg_mode(
        joined,
        ["c_mktsegment"],
        "o_orderpriority",
        mode_col="top_priority",
        count_col="n_orders",
    )


def q_evt_trigger_audit(spark, sf_dir):
    """evt_trigger end-to-end, driver-visible (§2.8 first half): replay
    a fixed base64 event payload through handle_event
    (cf/main.py:22-47) — decode, literal-parse, audit-append — and
    return the audit row. The audit table is per-call and dropped
    after an eager read, so repeated driver runs stay idempotent."""
    import base64

    from idr_data_pipelines_spark.streaming.events import handle_event

    payload = base64.b64encode(b"{'event': 'load_complete', 'table': 'mmd'}").decode()
    table = f"evt_audit_{uuid.uuid4().hex}"
    handle_event(spark, payload, table, event_time="2026-01-01T00:00:00+00:00")
    out = spark.table(table).localCheckpoint(eager=True)
    spark.sql(f"DROP TABLE {table}")
    return out


def _stage_event_stream(spark, sf_dir, prefix):
    """Stage events.parquet into a fresh inbox directory (the file
    stream source needs a directory — the "subscription") and return
    (inbox, checkpoint_dir, schema). Sets the nanos conf the events
    table needs."""
    import shutil

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    inbox = tempfile.mkdtemp(prefix=f"idr_{prefix}_inbox_")
    ckpt = tempfile.mkdtemp(prefix=f"idr_{prefix}_ckpt_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{inbox}/events.parquet")
    return inbox, ckpt, spark.read.parquet(inbox).schema


def q_src_stream_drain(spark, sf_dir):
    """src_pubsub_drain: Trigger.AvailableNow drain of available
    messages (deps/receiver.py:1-36) into a memory sink, returned as a
    batch DataFrame."""
    inbox, ckpt, schema = _stage_event_stream(spark, sf_dir, "drain")
    name = f"drained_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(schema).parquet(inbox)
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_id", "user_id", "event_type", "value"
    )


def q_sink_stream_republish(spark, sf_dir):
    """sink_pubsub_publish: drain + republish every available message
    to the destination (deps/publisher.py:1-21), exactly once; the
    oracle is the full events table."""
    from idr_data_pipelines_spark.streaming.events import republish

    inbox, ckpt, schema = _stage_event_stream(spark, sf_dir, "rep")
    dest = f"{tempfile.mkdtemp(prefix='idr_rep_dest_')}/topic"
    republish(spark, inbox, schema, ckpt, dest)
    republish(spark, inbox, schema, ckpt, dest)  # idempotent re-drain
    return spark.read.parquet(dest).select(
        "event_id", "user_id", "event_type", "value"
    )


# ===================================================================
# §2.2 dedup
# ===================================================================

def q_dedup_distinct(spark, sf_dir):
    """dedup_distinct: SELECT DISTINCT * (dags/covid_transforms.py:41-54)."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus"
    )
    return dedup_distinct(df)


def q_dedup_groupby_max(spark, sf_dir):
    """dedup_groupby_max: GROUP BY key, MAX(all others)
    (dags/mmd_transforms.py:74-96)."""
    df = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )
    return dedup_groupby_max(df, ["o_custkey"])


def q_dedup_latest_per_key(spark, sf_dir):
    """dedup_latest_per_key: window row_number form (SURVEY §2.6) of the
    greatest-row-per-group (dags/vls_transforms.py:84-117)."""
    df = _t(spark, sf_dir, "orders")
    out = dedup_latest_per_key(
        df, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("latest_date"),
        "o_totalprice",
    )


def q_dedup_join_back_on_max(spark, sf_dir):
    """dedup_join_back_on_max: reference-exact join-back with tie
    fan-out (dags/vls_transforms.py:99-117)."""
    df = _t(spark, sf_dir, "orders")
    out = dedup_join_back_on_max(df, ["o_custkey"], "o_orderdate")
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("latest_date"),
        "o_totalprice",
    )


# ===================================================================
# §2.3 projections / filters
# ===================================================================

def q_project_rename(spark, sf_dir):
    """project_rename: wide select-with-renames (dags/hts_transforms.py:60-67)."""
    df = _t(spark, sf_dir, "customer")
    return project_rename(
        df,
        {
            "customer_id": "c_custkey",
            "customer_name": "c_name",
            "nation_key": "c_nationkey",
            "account_balance": "c_acctbal",
            "segment": "c_mktsegment",
        },
    )


def q_project_star_plus(spark, sf_dir):
    """project_star_plus: SELECT *, expr AS col (dags/covid_transforms.py:79-83)."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return project_star_plus(
        df,
        {
            "revenue": F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "charge": (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            * (F.lit(1.0) + F.col("l_tax")),
        },
    )


def q_filter_not_null(spark, sf_dir):
    """filter_not_null: compound IS NOT NULL (dags/vls_transforms.py:54-68).
    Nulls are synthesized via NULLIF so the filter has work to do."""
    df = _t(spark, sf_dir, "documents").withColumns(
        {
            "lang2": F.nullif(F.col("lang"), F.lit("zh")),
            "source2": F.nullif(F.col("source"), F.lit("src0")),
        }
    )
    return filter_not_null(df, ["lang2", "source2"]).select(
        "doc_id", "lang2", "source2"
    )


def q_filter_eq(spark, sf_dir):
    """filter_eq: WHERE col = value (dags/vls_transforms.py:70-82)."""
    df = _t(spark, sf_dir, "lineitem")
    return filter_eq(df, "l_returnflag", "R").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )


def q_filter_derived(spark, sf_dir):
    """filter_derived: compute-then-filter inline-subquery shape
    (dags/hts_transforms.py:186-212). The CASE has no ELSE → uncovered
    rows are NULL and get filtered."""
    df = _t(spark, sf_dir, "orders")
    bucket = case_bucket(
        [("o_totalprice < 50000", "small"), ("o_totalprice < 150000", "medium")]
    )
    return filter_derived(df, "price_bucket", F.expr(bucket)).select(
        "o_orderkey", "o_totalprice", "price_bucket"
    )


def q_filter_on_join(spark, sf_dir):
    """filter_on_join: LEFT JOIN + WHERE equality on the right side →
    effectively inner (dags/vls_transforms.py:101-110)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    out = join_left_fact(
        orders, cust, orders.o_custkey == cust.c_custkey
    ).filter(F.col("c_mktsegment") == "BUILDING")
    return out.select("o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice")


# ===================================================================
# §2.4 joins
# ===================================================================

def q_join_inner_dim_cast(spark, sf_dir):
    """join_inner_dim_cast: cast-on-key broadcast dim enrichment
    (dags/covid_transforms.py:56-74)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    out = join_inner_dim_cast(
        cust, nation, fact_key="c_nationkey", dim_key="n_nationkey",
        cast_fact_key_to="bigint",
    )
    return out.select("c_custkey", "c_name", "n_name")


def q_join_inner_hub(spark, sf_dir):
    """join_inner_hub: typed-key broadcast dim join
    (dags/mmd_transforms.py:234-257)."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    out = join_inner_dim_cast(
        supp, nation, fact_key="s_nationkey", dim_key="n_nationkey"
    )
    return out.select("s_suppkey", "s_name", "n_name", "s_acctbal")


def q_join_left_fact(spark, sf_dir):
    """join_left_fact: LEFT OUTER fact merge, left keeps all rows
    (dags/vls_transforms.py:132-155)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = join_left_fact(cust, orders, cust.c_custkey == orders.o_custkey)
    return out.select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


def q_join_salted(spark, sf_dir):
    """join_salted: skew-resistant salted equi-join — results must be
    identical to the plain join (the oracle IS the plain join)."""
    from idr_data_pipelines_spark.operators import join_salted

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    out = join_salted(orders, cust, "o_custkey", "c_custkey", n_salts=8)
    return out.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")


def q_join_semi(spark, sf_dir):
    """join_semi: EXISTS — customers with at least one urgent order,
    emitted once, left columns only."""
    from idr_data_pipelines_spark.operators import join_semi

    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = join_semi(cust, urgent, cust.c_custkey == urgent.o_custkey)
    return out.select("c_custkey", "c_name", "c_mktsegment")


def q_join_anti(spark, sf_dir):
    """join_anti: NOT EXISTS — customers with no urgent order (the
    all-orders variant is empty on this synthetic data, which would
    make the oracle check vacuous)."""
    from idr_data_pipelines_spark.operators import join_anti

    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = join_anti(cust, urgent, cust.c_custkey == urgent.o_custkey)
    return out.select("c_custkey", "c_name", "c_acctbal")


# ===================================================================
# §2.5 aggregations
# ===================================================================

def q_agg_groupby_max_all(spark, sf_dir):
    """agg_groupby_max_all: MAX over mixed-type columns
    (dags/mmd_transforms.py:77-88)."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )
    return dedup_groupby_max(df, ["l_orderkey"])


def q_agg_max_date(spark, sf_dir):
    """agg_max_date: MAX(CAST(d AS DATE)) per key
    (dags/vls_transforms.py:84-97)."""
    df = _t(spark, sf_dir, "orders")
    return agg_max_date(df, ["o_custkey"], "o_orderdate", alias="latest_date")


def q_agg_pivot_sum_case(spark, sf_dir):
    """agg_pivot_sum_case: global SUM(CASE WHEN ...) pivot
    (dags/hts_transforms.py:214-232)."""
    df = _t(spark, sf_dir, "orders")
    return agg_pivot_sum_case(
        df,
        {
            "n_fulfilled": F.col("o_orderstatus") == "F",
            "n_open": F.col("o_orderstatus") == "O",
            "n_pending": F.col("o_orderstatus") == "P",
            "n_urgent": F.col("o_orderpriority") == "1-URGENT",
            "n_high": F.col("o_orderpriority") == "2-HIGH",
            "n_low": F.col("o_orderpriority") == "5-LOW",
        },
    )


def q_agg_rollup(spark, sf_dir):
    """GROUP BY ROLLUP: per-(status, priority) counts plus subtotals
    per status and a grand total (NULL marks rolled-up levels)."""
    from idr_data_pipelines_spark.operators import agg_rollup

    df = _t(spark, sf_dir, "orders")
    return agg_rollup(
        df,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum(F.col("o_totalprice")).alias("total_price"),
        ],
    )


def q_set_ops(spark, sf_dir):
    r"""Set operations: (urgent ∪ high) ∩ fulfilled \ low-value — the
    UNION/INTERSECT/EXCEPT surface over order-key sets."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_orderkey")
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    cheap = orders.filter(F.col("o_totalprice") < 50000).select("o_orderkey")
    return (
        urgent.union(high).distinct()
        .intersect(fulfilled)
        .exceptAll(cheap)
    )


# ===================================================================
# §2.7 scalar expressions
# ===================================================================

def q_expr_cast(spark, sf_dir):
    """expr_cast: typed re-cast stage (dags/mmd_transforms.py:55-63) —
    int→string, string→bigint round-trip, timestamp→date, failed cast →
    NULL (SAFE_CAST / try_cast)."""
    df = _t(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_custkey").cast("string").cast("bigint").alias("cust_roundtrip"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_orderpriority").try_cast("bigint").alias("bad_cast"),
    )


def q_expr_case_map(spark, sf_dir):
    """expr_case_map: value-recode CASE (dags/hts_transforms.py:104-117)."""
    df = _t(spark, sf_dir, "orders")
    recode = case_map(
        "o_orderpriority",
        {
            "1-URGENT": "P1",
            "2-HIGH": "P2",
            "3-MEDIUM": "P3",
            "4-NOT SPECIFIED": "P4",
            "5-LOW": "P5",
        },
        default="OTHER",
    )
    return df.select(
        "o_orderkey", "o_orderpriority", F.expr(recode).alias("priority_code")
    )


def q_expr_case_flag(spark, sf_dir):
    """expr_case_flag: boolean flag CASE, preserving the reference's
    mixed-case "Yes"/"NO" quirk (dags/mmd_transforms.py:172-175)."""
    df = _t(spark, sf_dir, "lineitem")
    flag = case_flag("l_returnflag = 'R'", "Yes", "NO")
    return df.select(
        "l_orderkey", "l_linenumber", "l_returnflag", F.expr(flag).alias("returned_flag")
    )


def q_expr_case_bucket(spark, sf_dir):
    """expr_case_bucket: range bucketing with NO ELSE — uncovered
    combos stay NULL (dags/vls_transforms.py:180-191, SURVEY §2.11)."""
    df = _t(spark, sf_dir, "orders")
    bucket = case_bucket(
        [
            ("o_totalprice < 50000", "low"),
            ("o_totalprice < 150000", "mid"),
            ("o_totalprice >= 150000 AND o_orderstatus = 'F'", "high_final"),
        ]
    )
    return df.select(
        "o_orderkey", "o_totalprice", "o_orderstatus", F.expr(bucket).alias("price_band")
    )


def q_expr_null_default(spark, sf_dir):
    """expr_null_default: WHEN NULL THEN 'Unknown'
    (dags/covid_transforms.py:93-118)."""
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(null_default("nullif(l_linestatus, 'O')", "Unknown")).alias("status_clean"),
    )


def q_expr_datediff(spark, sf_dir):
    """expr_datediff: BigQuery DATE_DIFF boundary semantics for
    DAY/MONTH/YEAR (dags/hts_transforms.py:84, mmd:102-104)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_shipdate").cast("date").alias("ship")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("odate")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(bq_date_diff("ship", "odate", "DAY")).alias("diff_day"),
        F.expr(bq_date_diff("ship", "odate", "MONTH")).alias("diff_month"),
        F.expr(bq_date_diff("ship", "odate", "YEAR")).alias("diff_year"),
    )


def q_expr_extract(spark, sf_dir):
    """expr_extract: EXTRACT(YEAR/QUARTER/MONTH/DAY)
    (dags/hts_transforms.py:85-90)."""
    df = _t(spark, sf_dir, "orders")
    d = "CAST(o_orderdate AS DATE)"
    return df.select(
        "o_orderkey",
        F.expr(extract_part(d, "YEAR")).alias("y"),
        F.expr(extract_part(d, "QUARTER")).alias("q"),
        F.expr(extract_part(d, "MONTH")).alias("m"),
        F.expr(extract_part(d, "DAY")).alias("d"),
    )


def q_expr_format_date(spark, sf_dir):
    """expr_format_date: FORMAT_DATETIME("%Y"/"%B")
    (dags/mmd_transforms.py:218-222)."""
    df = _t(spark, sf_dir, "orders")
    d = "CAST(o_orderdate AS DATE)"
    return df.select(
        "o_orderkey",
        F.expr(format_date(d, "%Y")).alias("year_str"),
        F.expr(format_date(d, "%B")).alias("month_name"),
    )


def q_expr_current_date(spark, sf_dir):
    """expr_current_date: injected as-of date for deterministic
    age-of-record arithmetic (dags/mmd_transforms.py:158)."""
    df = _t(spark, sf_dir, "orders")
    d = "CAST(o_orderdate AS DATE)"
    return df.select(
        "o_orderkey",
        F.expr(bq_date_diff(as_of_date(AS_OF), d, "DAY")).alias("age_days"),
    )


def q_expr_str_sentinel(spark, sf_dir):
    """expr_str_sentinel: 'LDL'→0 decode then numeric cast
    (dags/vls_transforms.py:187-190)."""
    df = _t(spark, sf_dir, "lineitem")
    raw = (
        "CASE WHEN l_returnflag = 'N' THEN 'LDL'"
        " ELSE CAST(CAST(l_quantity AS INT) AS STRING) END"
    )
    decoded = str_sentinel_decode(raw, {"LDL": 0}, cast_to="decimal(18,2)")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(decoded).cast("double").alias("result_value"),
    )


def q_expr_null_normalize(spark, sf_dir):
    """expr_null_normalize: literal 'None' → real NULL
    (deps/parquet_solution.py:81-82)."""
    from idr_data_pipelines_spark.functions import null_normalize

    df = _t(spark, sf_dir, "documents").withColumn(
        "lang_raw", F.when(F.col("lang") == "zh", F.lit("None")).otherwise(F.col("lang"))
    )
    out = null_normalize(df, sentinels=("None",), columns=["lang_raw"])
    return out.select("doc_id", F.col("lang_raw").alias("lang_clean"))


def q_expr_string_funcs(spark, sf_dir):
    """String function surface: case-folding, substring, concat,
    length, replace, regexp_extract."""
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.upper(F.col("c_mktsegment")).alias("seg_upper"),
        F.lower(F.col("c_name")).alias("name_lower"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias("seg_key"),
        F.length(F.col("c_name")).cast("long").alias("name_len"),
        F.regexp_extract(F.col("c_name"), r"(\d+)$", 1).alias("name_digits"),
    )


# ===================================================================
# analytics / bench queries
# ===================================================================

def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the flagship scan+agg. Money
    sums are exact (DECIMAL) then surfaced as DOUBLE."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money_sum(F.col("l_quantity")).alias("sum_qty"),
            _money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _money_sum(disc_price).alias("sum_disc_price"),
            _money_sum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_q3_revenue_by_priority(spark, sf_dir):
    """Join-heavy revenue rollup: segment filter → 3-way join →
    group agg with count(distinct)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return j.groupBy("o_orderpriority").agg(
        _money_sum(revenue).alias("revenue"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


def q_evt_windowed_counts(spark, sf_dir):
    """Tumbling-window event counts (streaming-capable definition run
    in batch; watermark applies on a stream)."""
    ev = _events(spark, sf_dir)
    out = windowed_event_counts(ev, "ts", "1 hour", group_cols=["event_type"])
    return out.select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
    )


def q_evt_retention_cohorts(spark, sf_dir):
    """Retention cohort matrix: users grouped by first-active day
    (cohort), counted by days-since-cohort (age) — the standard
    product-analytics triangle, at day grain because the synthetic
    event stream spans one month.

    One full-log shuffle: collect each user's distinct active-day set
    (map-side partial sets, bounded by the calendar — ≤31 elements
    here), derive the cohort as ``array_min`` instead of a second
    aggregation + join-back, explode to (cohort, age) rows and count.
    The exploded frame is still user-partitioned, so the distinct
    phase of the final count reuses it; only the tiny (cohort, age)
    matrix re-shuffles. The join formulation cost 4 shuffles and 2
    event scans."""
    ev = _events(spark, sf_dir)
    day = F.unix_date(F.to_date("ts")).cast("long")
    per_user = (
        ev.select("user_id", day.alias("m"))
        .groupBy("user_id")
        .agg(F.collect_set("m").alias("days"))
    )
    return (
        per_user.select(
            "user_id",
            F.array_min("days").alias("cohort_m"),
            F.explode("days").alias("m"),
        )
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q_evt_funnel(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase: users
    counted at each step they reached, each step strictly after the
    previous one (greedy first-match ≡ recursive min-after, which the
    oracle replays step-by-step). One shuffle on user_id; the per-user
    sequence fold is a JVM array aggregate."""
    from idr_data_pipelines_spark.streaming.events import funnel_depth

    ev = _events(spark, sf_dir)
    steps = ["view", "click", "purchase"]
    depth = funnel_depth(ev, "user_id", "ts", "event_type", steps)
    agg = depth.agg(
        *[
            F.sum((F.col("depth") >= i + 1).cast("long")).alias(f"__s{i}")
            for i in range(len(steps))
        ]
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("long").alias("step_idx"),
                        F.lit(s).alias("step"),
                        F.col(f"__s{i}").alias("n_users"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("r")
    ).select("r.*")


def q_evt_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) via lag + running sum."""
    ev = _events(spark, sf_dir)
    out = sessionize(ev, "user_id", "ts", gap_minutes=30)
    return out.select(
        "user_id",
        "session_id",
        F.unix_micros(F.col("session_start")).alias("start_us"),
        F.unix_micros(F.col("session_end")).alias("end_us"),
        "n_events",
    )


def q_evt_session_window_native(spark, sf_dir):
    """Gap sessionization via Spark's BUILT-IN ``session_window``
    aggregation — the third form beside the batch lag+cumsum
    (``sessionize``) and the stateful stream fold
    (``sessionize_stream``), and the one that runs in Structured
    Streaming with watermarked state eviction for free.

    Boundary semantics differ from the lag form and the oracle
    encodes them exactly: session_window merges an event iff it lands
    STRICTLY inside (previous event + gap) — an event exactly at the
    gap starts a NEW session (the lag form's ``diff > gap`` split
    keeps it) — and the reported window end is last_event + gap, not
    last_event."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
        )
    )


def q_evt_windowed_quantiles(spark, sf_dir):
    """Per-day engagement quantiles: p50/p95 of the per-user daily
    event count, via Spark's EXACT ``percentile`` (not the approx
    sketch). Linear interpolation over integer counts agreed
    bit-for-bit with DuckDB's ``quantile_cont`` on every input tried,
    but a one-ulp divergence in the interpolation formula elsewhere
    would flake, so both sides round to 6 decimals like every other
    libm-sensitive float query in this module (r5 ADVICE). Two
    shuffles: the (day, user) count grain and the per-day quantile
    aggregate."""
    ev = _events(spark, sf_dir)
    per_user_day = (
        ev.groupBy(
            F.to_date("ts").alias("d"), "user_id"
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    return per_user_day.groupBy("d").agg(
        F.round(F.percentile(F.col("n").cast("double"), 0.5), 6).alias("p50"),
        F.round(F.percentile(F.col("n").cast("double"), 0.95), 6).alias("p95"),
        F.max("n").alias("max_n"),
        F.count(F.lit(1)).alias("n_users"),
    )


def q_join_null_safe(spark, sf_dir):
    """Null-safe equi-join (``<=>``): docs keyed by ``nullif(lang,
    'en')`` joined to their per-key totals — the null-key group
    (every 'en' doc) matches the aggregate's null row, where a plain
    equi-join would silently DROP all of them. EqualNullSafe is still
    an equi-key for Spark, so this plans as a hash join, not a
    nested-loop fallback."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("k"), "n_chars"
    )
    g = (
        d.groupBy("k")
        .agg(
            F.sum("n_chars").alias("group_chars"),
            F.count(F.lit(1)).alias("group_docs"),
        )
        .withColumnRenamed("k", "gk")  # disambiguate the self-derived side
    )
    return (
        d.join(F.broadcast(g), F.col("k").eqNullSafe(F.col("gk")))
        .select("doc_id", "k", "group_chars", "group_docs")
    )


def q_mm_embed_stub(spark, sf_dir):
    """Multimodal embed stage: binary payloads → 16-dim stub vectors
    via Arrow-batched mapInPandas, then per-doc INTEGER-exact
    reductions — each float32 component is inverted back to its
    source integer k ∈ [0, 2000) (round(c·1000)+1000; the float32
    representation error ≪ 0.5, so the inversion is exact) and the
    driver sees Σk and Σk² as bigints. Zero float comparison anywhere,
    so no rounding-boundary flake risk: the oracle reproduces every k
    from SQL md5 over the same bytes and the sums are exact in both
    engines. Swap the stub for a real model; this query's plumbing is
    what production runs."""
    from idr_data_pipelines_spark.llmdata.multimodal import (
        embed_media_stub,
        with_binary_payload,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    emb = embed_media_stub(with_binary_payload(docs), dim=16)
    k = lambda x: (F.round(x.cast("double") * 1000) + 1000).cast("long")
    ks = F.transform(F.col("embedding"), k)
    return emb.select(
        "doc_id",
        F.aggregate(
            ks, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_k"),
        F.aggregate(
            ks, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("sumsq_k"),
    )


def q_evt_windowed_counts_stream(spark, sf_dir):
    """The windowed-count aggregation run as a REAL watermarked stream
    (Trigger.AvailableNow, complete mode): one definition serves batch
    and stream, and the stream's final state must equal the batch
    aggregation — which is exactly what the oracle checks."""
    from idr_data_pipelines_spark.streaming.events import windowed_event_counts

    inbox, ckpt, raw_schema = _stage_event_stream(spark, sf_dir, "winstream")
    stream = spark.readStream.schema(raw_schema).parquet(inbox)
    stream = _ts_utc(stream)
    agg = windowed_event_counts(
        stream, "ts", "1 hour", watermark="2 hours", group_cols=["event_type"]
    )
    name = f"winstream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
    )


def q_evt_stream_static_join(spark, sf_dir):
    """Stream-static join: the event stream enriched against the
    STATIC customer→nation dimension (user_id % customer count maps
    events onto customers), aggregated to events-per-nation — the
    standard streaming-enrichment shape. The static side is re-read
    per micro-batch by Structured Streaming (picking up dim updates
    between batches) and needs no watermark or state: only the
    aggregate carries state. Final complete-mode table must equal the
    batch join, which is what the oracle computes."""
    inbox, ckpt, raw_schema = _stage_event_stream(spark, sf_dir, "ssjoin")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n_cust = customer.count()
    stream = spark.readStream.schema(raw_schema).parquet(inbox)
    enriched = (
        stream.withColumn(
            "c_custkey", (F.col("user_id") % F.lit(n_cust)) + 1
        )
        .join(customer, "c_custkey")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    agg = enriched.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_events"))
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def q_join_asof(spark, sf_dir):
    """As-of join: each event enriched with the date of that user's
    most recent order at event time (cogrouped pandas merge_asof —
    one co-partitioning shuffle per side, no range-join explosion).
    Projects only the matched timestamp, which is tie-invariant, so
    the result is engine-portable; the oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from idr_data_pipelines_spark.operators import join_asof

    events = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = join_asof(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderdate"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        # o_orderdate is TIMESTAMP_NTZ; the session TZ is pinned UTC so
        # this cast is the same instant DuckDB's epoch_us sees
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("last_order_us"),
    )


def q_join_range(spark, sf_dir):
    """Range join: orders bucketed into price bands ([lo, hi)
    intervals). join_range turns the interval predicate into a
    hash-equi join on a bucket key (+ residual filter) instead of the
    O(N·M) broadcast-nested-loop Spark would otherwise pick."""
    from idr_data_pipelines_spark.operators import join_range

    orders = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            ("budget", 0.0, 50000.0),
            ("mid", 50000.0, 150000.0),
            ("high", 150000.0, 300000.0),
            ("premium", 300000.0, 500000.0),
        ],
        ["label", "lo", "hi"],
    )
    j = join_range(orders, bands, "o_totalprice", "lo", "hi", bucket_size=50000.0)
    return j.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _money_sum(F.col("o_totalprice")).alias("total_rev"),
    )


def q_evt_rollup_daily(spark, sf_dir):
    """Continuous-aggregate rollup (hypertable pattern): daily totals
    derived by RE-AGGREGATING the hourly aggregate, not the raw events.
    At scale the hourly frame is ~1/1000th of raw, so downstream
    resolutions are nearly free; counts and exact cent sums re-aggregate
    losslessly. The oracle computes daily directly from raw — equality
    proves the rollup is lossless."""
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("cents"),
    )
    return (
        hourly.groupBy(
            F.unix_micros(F.date_trunc("day", F.col("w.start"))).alias("day_us"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("total_value"),
        )
    )


def q_text_top_terms(spark, sf_dir):
    """Corpus-level term frequency: explode whitespace tokens, count,
    take the deterministic top-20 (ties broken by token). The shuffle
    carries (token, partial count) thanks to map-side combine — never
    the exploded token stream."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.selectExpr(f"explode({_toks()}) AS token").filter(
        F.col("token") != ""
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


def q_text_collocations(spark, sf_dir):
    """Corpus collocation mining: the top-50 bigrams by frequency,
    each scored against independence with an EXACT integer lift test —
    ``2·n_xy·N > 3·n_x·n_y`` ⟺ P(xy) > 1.5·P(x)·P(y) — instead of
    float PMI, so the oracle comparison stays bit-exact.

    Single corpus pass: each document emits its unigrams (kind 0) and
    bigrams (kind 1) as one tagged array — pure JVM array HOFs over
    one token split — through ONE explode into ONE map-side combined
    count shuffle. Unigram lookups for both bigram positions read the
    same collapsed count frame (identical subtree → ReuseExchange, no
    recompute), the top-50 side broadcasts into them, and the token
    total broadcasts as a 1-row frame (no collect; its
    BroadcastNestedLoopJoin is the waived 1-row scalar pattern, as in
    q22). The earlier formulation counted unigrams and bigrams as
    separate branches: 4 corpus scans and 4 token-split evaluations
    where one of each suffices."""
    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = spread_small_scan(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    words = docs.selectExpr(f"{_toks()} AS w")
    terms = words.select(
        F.explode(
            F.concat(
                F.expr(
                    "transform(filter(w, t -> t != ''),"
                    " t -> struct(0 as kind, t as term))"
                ),
                F.expr(
                    "transform(filter("
                    "  transform(sequence(0, size(w) - 2),"
                    "            i -> concat(w[i], ' ', w[i+1])),"
                    "  b -> NOT startswith(b, ' ') AND NOT endswith(b, ' ')),"
                    " b -> struct(1 as kind, b as term))"
                ),
            )
        ).alias("e")
    ).select(F.col("e.kind").alias("kind"), F.col("e.term").alias("term"))
    # Materialization barrier on the collapsed (vocab-sized, not
    # corpus-sized) count frame: four consumers follow (top-50, the
    # two unigram lookups, the total), and without the barrier each
    # re-derives the corpus scan + explode + count — Catalyst pushes
    # the diverging kind filters below the aggregate, so subtree reuse
    # cannot kick in. One corpus pass, guaranteed.
    counts = (
        terms.groupBy("kind", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    top = (
        counts.filter(F.col("kind") == 1)
        .select(F.col("term").alias("bigram"), F.col("n").alias("n_xy"))
        .orderBy(F.desc("n_xy"), F.asc("bigram"))
        .limit(50)
    )
    uni = counts.filter(F.col("kind") == 0).select(
        F.col("term").alias("token"), "n"
    )
    total = uni.agg(F.sum("n").alias("n_total"))
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    u1 = uni.select(F.col("token").alias("__t1"), F.col("n").alias("n_x"))
    u2 = uni.select(F.col("token").alias("__t2"), F.col("n").alias("n_y"))
    return (
        top.join(u1, w1 == F.col("__t1"))
        .join(u2, w2 == F.col("__t2"))
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "n_xy",
            "n_x",
            "n_y",
            (
                F.lit(2) * F.col("n_xy") * F.col("n_total")
                > F.lit(3) * F.col("n_x") * F.col("n_y")
            ).alias("is_collocation"),
        )
    )


def q_sketch_approx_distinct(spark, sf_dir):
    """HyperLogLog++ distinct-user sketch per event type
    (approx_count_distinct, rsd=2%). The sketch is O(1) memory per
    group vs O(n_distinct) for exact — the only viable form at 100 TB.
    No SQL oracle (HLL implementations differ across engines); the
    accuracy bound is pinned by a unit test against the exact count."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


def q_sketch_quantiles(spark, sf_dir):
    """Approximate quantiles of order value per priority
    (percentile_approx / GK sketch, accuracy 10000). Mergeable across
    partitions — one pass, no sort. No SQL oracle (sketch
    implementations differ); rank-error bound pinned by a unit test."""
    orders = _t(spark, sf_dir, "orders")
    q = F.percentile_approx(
        F.col("o_totalprice"), F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000
    )
    return orders.groupBy("o_orderpriority").agg(
        q.getItem(0).alias("p50"),
        q.getItem(1).alias("p95"),
        q.getItem(2).alias("p99"),
    )


def q_sketch_count_min(spark, sf_dir):
    """Count-min frequency estimates vs exact counts for every user in
    the events table (depth=4, width=64 — narrower than the 150-key
    space, so collisions are forced: est ≥ exact always, equality
    where a row escapes collision). The sketch build's map-side
    combine caps shuffle volume at partitions·depth·width rows —
    constant in data size. Since r6 the driver entry uses the
    md5-derived hash family (``hash_fn="md5"``): every bucket, counter
    and row-min is exact integer arithmetic an oracle replays, so the
    WHOLE sketch is value-hash checked — not just bounds. The seeded
    xxhash64 family stays the production default (cheaper, unlimited
    depth); its ≥-bound and ε·N overestimate bound remain pinned in
    tests (llmdata/sketches.py)."""
    from idr_data_pipelines_spark.llmdata.sketches import (
        count_min_build,
        count_min_estimate,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    sketch = count_min_build(ev, "user_id", depth=4, width=64, hash_fn="md5")
    keys = ev.select("user_id").distinct()
    est = count_min_estimate(
        sketch, keys, "user_id", depth=4, width=64, hash_fn="md5"
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "user_id").select("user_id", "est_count", "exact_count")


def q_sketch_topk_mg(spark, sf_dir):
    """Bounded-state heavy hitters (Misra-Gries): top-20 users by
    summary estimate with m=64 counters per partition — state is
    independent of stream length AND key cardinality, the
    bounded-memory counterpart to ``evt_topk_stream``'s exact
    key-cardinality state. Estimates are fold-order dependent (not
    SQL-expressible), so this full-row form carries no oracle of its
    own; its registry slot is q_sketch_topk_mg_invariants (r11) and
    the true−N/m ≤ est ≤ true bound and the all-hitters-present
    guarantee are pinned in tests/test_llmdata.py."""
    from idr_data_pipelines_spark.llmdata.sketches import misra_gries_topk

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    return misra_gries_topk(ev, "user_id", m=64, k=20)


def q_sketch_hll_md5(spark, sf_dir):
    """HyperLogLog REGISTERS with the portable md5-32 hash (r6):
    per-source registers over distinct document texts plus the
    bucket-wise-max '__union__' merge — all exact integer arithmetic
    (md5, top-b-bit bucket, bin()-length rho, MAX), so unlike the
    DataSketches entries this exposes the HLL state itself to a full
    value-hash oracle; the float estimate stays a derived quantity
    with accuracy pinned in pytest (hll_estimate_from_registers)."""
    from idr_data_pipelines_spark.llmdata.sketches import hll_md5_registers

    docs = _t(spark, sf_dir, "documents")
    return hll_md5_registers(docs, key_col="text", group_col="source", b=6)


def q_sketch_hll_union(spark, sf_dir):
    """Mergeable distinct-count sketches (Apache DataSketches HLL,
    Spark 3.5+): per-event-type user sketches via hll_sketch_agg,
    merged into the overall estimate with hll_union_agg — the
    re-aggregatable form a 100 TB rollup needs (union sketches across
    days/partitions instead of recounting raw data). Sketch bytes are
    engine-specific, so this full-row form has no oracle of its own;
    its registry slot is q_sketch_hll_union_invariants (r11). The ±5%
    accuracy vs exact distinct is pinned in tests, and the same
    algorithm with the portable md5-32 hash exposes its registers to
    a full value-hash oracle — see sketch_hll_md5."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    per_est = per.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    merged = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    return per_est.unionByName(merged)


def q_scd2_history(spark, sf_dir):
    """SCD type-2 history built from the orders event log: per
    customer, one row per order-status run with
    valid_from/valid_to/is_current — the inverse of the reference's
    latest-state tables, as one window composition (single hash
    shuffle on the business key; operators/scd.py)."""
    from idr_data_pipelines_spark.operators.scd import scd2_from_events

    orders = _t(spark, sf_dir, "orders")
    src = orders.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    return scd2_from_events(
        src, key_cols=["o_custkey"], attr_cols=["o_orderstatus"], ts_col="odate"
    )


def q_join_scd2_asof(spark, sf_dir):
    """Temporal dimension lookup — the warehouse query SCD2 history
    exists FOR: each order joins the status run valid at its date
    (equi-join on the business key + half-open interval predicate
    [valid_from, valid_to) evaluated inside the hash join — both
    sides co-partition on the key, no range explosion, exactly one
    match per fact because the runs partition the timeline). Ties
    where a new run starts mid-date resolve to the newer run, the
    same answer the SQL replay gives."""
    from idr_data_pipelines_spark.operators.scd import scd2_from_events

    orders = _t(spark, sf_dir, "orders")
    src = orders.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    hist = scd2_from_events(
        src, key_cols=["o_custkey"], attr_cols=["o_orderstatus"], ts_col="odate"
    )
    facts = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("__ck"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    return (
        facts.join(
            hist,
            (F.col("__ck") == hist.o_custkey)
            & (F.col("odate") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("odate") < F.col("valid_to"))),
        )
        .select(
            "o_orderkey",
            F.col("__ck").alias("o_custkey"),
            "odate",
            F.col("o_orderstatus").alias("status_at_order"),
            F.col("valid_from").alias("status_since"),
        )
    )


def q_join_fuzzy_names(spark, sf_dir):
    """Blocked fuzzy self-join (entity resolution shape): distinct
    part names within Levenshtein distance 3, candidates blocked on
    the first token so the edit-distance filter runs inside equi-join
    buckets — never the cross product. Bounded levenshtein(l, r, d)
    early-exits the DP per pair."""
    from idr_data_pipelines_spark.operators.joins import join_fuzzy_blocked

    part = _t(spark, sf_dir, "part")
    names = part.select(F.col("p_name")).distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    first_tok = lambda c: F.split(c, " ").getItem(0)  # noqa: E731
    out = join_fuzzy_blocked(a, b, "name_a", "name_b", first_tok, 3)
    return out.filter(F.col("name_a") < F.col("name_b")).select(
        "name_a", "name_b", F.col("dist").cast("long").alias("dist")
    )


def q_sample_stratified(spark, sf_dir):
    """Exact-count stratified sample: the 40 lowest-hashing docs per
    language (md5-keyed → portable, deterministic). One hash shuffle
    on the stratum + per-stratum sort — the latest-per-key plan
    shape; no global sort."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_stratified

    docs = _t(spark, sf_dir, "documents")
    out = sample_stratified(
        docs.select("doc_id", "lang"), ["lang"], 40, "doc_id", rank_col="rk"
    )
    return out.select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))


def q_sample_token_budget(spark, sf_dir):
    """Per-source token-budget prefix sample: fill a 20k-char quota
    per source in deterministic hash order (the "take N tokens of
    source X" step of a training-data recipe); the last kept doc may
    straddle the budget. Running-sum window per source — one shuffle."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_token_budget

    docs = _t(spark, sf_dir, "documents")
    return sample_token_budget(
        docs.select("doc_id", "source", "n_chars"),
        token_col="n_chars",
        budget=20_000,
        key_col="doc_id",
        group_col="source",
        cum_col="cum_before",
    )


def q_validate_warehouse(spark, sf_dir):
    """Declarative QA gate over the warehouse load: null-fraction,
    uniqueness, set-membership, range, and row-count expectations on
    orders/lineitem — every per-table rule compiled into ONE
    conditional aggregate (one scan per table, one 1-row-per-partition
    shuffle). The referential-integrity check (lineitem.l_orderkey →
    orders.o_orderkey) rides lineitem's SAME pass: the broadcast key
    set is pre-joined as a hit marker and the orphan fraction is just
    another custom rule in the aggregate — a standalone
    referential_integrity() call would scan the fact a second time.
    Thresholds chosen so the report contains both passing and failing
    rows."""
    from idr_data_pipelines_spark.operators.validate import (
        col_max,
        col_min,
        custom,
        in_set,
        not_null,
        row_count_min,
        unique,
        validate,
    )

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    rep_orders = validate(
        orders,
        [
            not_null("o_custkey"),
            unique("o_orderkey"),
            in_set("o_orderstatus", ["F", "O"]),  # 'P' exists → fails
            col_min("o_totalprice", 0.0),
            row_count_min(10_000_000),  # fails at test SFs
        ],
        table="orders",
    )
    ref_keys = F.broadcast(
        orders.select(F.col("o_orderkey").alias("l_orderkey"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    rep_lineitem = validate(
        lineitem.join(ref_keys, "l_orderkey", "left"),
        [
            not_null("l_orderkey"),
            custom("qty_positive", F.col("l_quantity") > 0),
            col_max("l_discount", 0.11),
            custom(
                "ref_integrity(l_orderkey)",
                F.col("__hit").isNotNull(),
                column="l_orderkey",
            ),
        ],
        table="lineitem",
    )
    return rep_orders.unionByName(rep_lineitem)


def q_evt_cdc_upsert_stream(spark, sf_dir):
    """Streaming CDC dimension maintenance run as a REAL multi-batch
    stream: order-status updates staged as 4 files, drained 2 files
    per micro-batch (so ≥2 genuine batches), each batch merging
    latest-per-key over (dim ∪ batch) — an associative merge, so the
    final dimension equals the single-window batch answer regardless
    of batching, which is exactly what the oracle checks."""
    import os
    import shutil

    from idr_data_pipelines_spark.streaming.events import cdc_upsert_drain

    upd = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    base = tempfile.mkdtemp(prefix="idr_cdc_")
    inbox, ckpt, dim = f"{base}/in", f"{base}/ckpt", f"{base}/dim"
    upd.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):  # the stream source lists data files only
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))
    out = cdc_upsert_drain(
        spark,
        inbox,
        upd.schema,
        ckpt,
        dim,
        key_cols=["o_custkey"],
        order_cols=["odate", "o_orderstatus"],
        max_files_per_trigger=2,
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_evt_dedup_stream_index(spark, sf_dir):
    """Streaming exact dedup against a persistent fingerprint index,
    run as a REAL multi-batch stream: pre-fingerprinted documents
    staged as 4 files, drained 2 per micro-batch (>= 2 genuine
    batches), each batch merging first-wins-per-fingerprint over
    (index + batch). min(id) is associative, so the final survivor
    set equals the one-shot batch dedup whatever the batching — which
    is exactly what the oracle checks."""
    import os
    import shutil

    from idr_data_pipelines_spark.llmdata.text import fingerprint
    from idr_data_pipelines_spark.streaming.events import dedup_stream_index_drain

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .selectExpr(
            "doc_id", "source", "lang", "n_chars", f"{fingerprint('text')} AS fp"
        )
    )
    base = tempfile.mkdtemp(prefix="idr_dedup_idx_")
    inbox, ckpt, state = f"{base}/in", f"{base}/ckpt", f"{base}/state"
    docs.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):  # the stream source lists data files only
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))
    out = dedup_stream_index_drain(
        spark,
        inbox,
        docs.schema,
        ckpt,
        state,
        fp_col="fp",
        id_col="doc_id",
        max_files_per_trigger=2,
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_evt_topk_stream(spark, sf_dir):
    """Streaming heavy hitters run as a REAL multi-batch stream: events
    staged as 4 files, drained 2 per micro-batch (≥2 genuine batches),
    each batch's partial counts summed into running state — an
    associative merge, so the final exact top-25 users equal the
    single-window batch answer regardless of batching, which is
    exactly what the oracle checks."""
    import os
    import shutil

    from idr_data_pipelines_spark.streaming.events import topk_stream_drain

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    base = tempfile.mkdtemp(prefix="idr_topk_")
    inbox, ckpt, state = f"{base}/in", f"{base}/ckpt", f"{base}/state"
    ev.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):  # the stream source lists data files only
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))
    out = topk_stream_drain(
        spark,
        inbox,
        ev.schema,
        ckpt,
        state,
        key_cols=["user_id"],
        k=25,
        max_files_per_trigger=2,
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_evt_distinct_stream(spark, sf_dir):
    """Streaming approximate distinct users per event type, run as a
    REAL multi-batch stream (4 files, 2 per micro-batch): per-batch
    HLL sketches merged into state with hll_union_agg — register-max
    is associative AND idempotent, so the streamed sketch equals the
    one-shot batch sketch exactly (pinned in tests/test_streaming.py)
    and a replayed batch cannot inflate the count. DataSketches bytes
    aren't portable SQL, so this full-row form has no oracle of its
    own; its registry slot is q_evt_distinct_stream_invariants (r11).
    ±5% accuracy vs exact distinct is asserted in tests, and the
    register-table twin (evt_distinct_stream_md5) carries a full
    value-hash oracle."""
    import os
    import shutil

    from idr_data_pipelines_spark.streaming.events import distinct_stream_drain

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    base = tempfile.mkdtemp(prefix="idr_dist_")
    inbox, ckpt, state = f"{base}/in", f"{base}/ckpt", f"{base}/state"
    ev.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):  # the stream source lists data files only
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))
    out = distinct_stream_drain(
        spark,
        inbox,
        ev.schema,
        ckpt,
        state,
        key_col="user_id",
        group_col="event_type",
        max_files_per_trigger=2,
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_evt_distinct_stream_md5(spark, sf_dir):
    """Streaming distinct-count with the portable md5-32 HLL (r6):
    same real multi-batch drain as evt_distinct_stream (4 files, 2
    per micro-batch, versioned state commits), but the state IS the
    integer register table, merged with MAX per (group, bucket).
    Register-max idempotence makes the drained state equal the
    one-shot batch register table exactly, and md5+bin() arithmetic
    replays in DuckDB — so this streaming operator carries a FULL
    value-hash oracle (the oracle computes the registers straight
    from the events table; stream==batch is the operator's own
    guarantee, additionally pinned in tests/test_streaming.py)."""
    import os
    import shutil

    from idr_data_pipelines_spark.streaming.events import distinct_stream_drain_md5

    ev = _events(spark, sf_dir).select("user_id", "event_type")
    base = tempfile.mkdtemp(prefix="idr_dist5_")
    inbox, ckpt, state = f"{base}/in", f"{base}/ckpt", f"{base}/state"
    ev.repartition(4).write.mode("overwrite").parquet(inbox)
    for f in os.listdir(inbox):  # the stream source lists data files only
        if not f.endswith(".parquet"):
            os.remove(os.path.join(inbox, f))
    out = distinct_stream_drain_md5(
        spark,
        inbox,
        ev.schema,
        ckpt,
        state,
        key_col="user_id",
        group_col="event_type",
        b=6,
        max_files_per_trigger=2,
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_scd2_merge_batch(spark, sf_dir):
    """Incremental SCD2 load: history built from orders up to
    1995-01-01 (scd2_from_events), then one batch of updates — the
    latest post-cutoff status per customer — merged in with
    ``scd2_merge``. One full-outer hash join on the business key; the
    keep/close/open row classes are emitted in a single pass via a
    filtered struct-array explode (no per-class join recompute)."""
    from idr_data_pipelines_spark.operators.scd import scd2_from_events, scd2_merge

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    cutoff = F.lit("1995-01-01").cast("date")
    hist = scd2_from_events(
        orders.filter(F.col("odate") <= cutoff),
        key_cols=["o_custkey"],
        attr_cols=["o_orderstatus"],
        ts_col="odate",
    )
    upd = _latest_order_status(orders.filter(F.col("odate") > cutoff))
    return scd2_merge(hist, upd, ["o_custkey"], ["o_orderstatus"], "odate")


def q_dedup_stream_watermark(spark, sf_dir):
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` over (user_id, event_type, ts)
    behind an event-time watermark. At cluster scale the watermark lets
    Spark expire dedup state instead of holding every key forever; here
    the delay spans the whole dataset, so the streamed result must
    equal batch DISTINCT — which is what the oracle checks."""
    inbox, ckpt, raw_schema = _stage_event_stream(spark, sf_dir, "wmdedup")
    stream = spark.readStream.schema(raw_schema).parquet(inbox)
    stream = _ts_utc(stream)
    deduped = stream.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    name = f"wmdedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )


def q_evt_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join: views joined to the
    same user's purchases within the following hour. Both sides carry
    event-time watermarks and the join condition bounds the time range,
    so Spark can expire join state — the pattern that keeps a
    stream-stream join's memory bounded on an unbounded feed. With the
    whole dataset inside the watermark the emitted matches must equal
    the batch interval self-join, which is what the oracle checks."""
    inbox, ckpt, raw_schema = _stage_event_stream(spark, sf_dir, "ssjoin")

    def _side(event_type: str, prefix: str) -> DataFrame:
        s = spark.readStream.schema(raw_schema).parquet(inbox)
        s = _ts_utc(s)
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            # must exceed the staged dataset's full event-time span:
            # the inbox is one file (one availableNow batch) today, but
            # a multi-file inbox would advance the watermark between
            # batches and silently drop out-of-order rows otherwise
            .withWatermark(f"{prefix}_ts", "3650 days")
        )

    views = _side("view", "v")
    buys = _side("purchase", "b")
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("v_user").alias("user_id"),
        F.unix_micros(F.col("v_ts")).alias("view_ts_us"),
        F.unix_micros(F.col("b_ts")).alias("buy_ts_us"),
    )


def q_evt_sessionize_stream(spark, sf_dir):
    """Stateful streaming sessionization (applyInPandasWithState) run
    as a real stream over the events table with Trigger.AvailableNow.
    Emits closed sessions only — deterministically "all sessions except
    each user's open/last one", so the stateful operator still has an
    exact SQL oracle."""
    from idr_data_pipelines_spark.streaming.events import sessionize_stream

    inbox, ckpt, raw_schema = _stage_event_stream(spark, sf_dir, "sess")
    stream = spark.readStream.schema(raw_schema).parquet(inbox)
    stream = _ts_utc(stream)
    out = sessionize_stream(stream, "user_id", "ts", gap_minutes=30)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id", "session_id", "start_us", "end_us", "n_events"
    )


def q_evt_pivot_user_counts(spark, sf_dir):
    """Per-user event-type pivot (groupBy().pivot() — map-side partial
    agg; explicit value list avoids a discovery pass)."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return out.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in types]
    )


def q_q5_revenue_by_nation(spark, sf_dir):
    """Multi-join rollup: lineitem⋈orders⋈customer⋈nation, revenue per
    nation — the deep-join shape (dims broadcast, facts shuffle once)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return j.groupBy("n_name").agg(
        _money_sum(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_q4_priority_exists(spark, sf_dir):
    """Correlated-EXISTS shape (TPC-H Q4 adapted to this schema): Q1-1996
    orders having at least one line item shipped >90 days after the order
    date, counted per priority. Spark expresses the EXISTS as a LEFT SEMI
    join with a compound non-equi condition; the equi half
    (o_orderkey = l_orderkey) still drives a hash join, the interval
    predicate is applied as a join residual."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_q7_volume_shipping(spark, sf_dir):
    """Two-role dimension join (TPC-H Q7 shape): trade volume between
    distinct (supplier-nation, customer-nation) pairs per ship year.
    The nation dim joins twice under different aliases — both sides
    broadcast so the fact table shuffles only for the final group-by."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(_money_sum(volume).alias("volume"))


def q_q8_market_share(spark, sf_dir):
    """Conditional-share aggregation (TPC-H Q8 shape): NATION_1's share
    of ECONOMY-part revenue per order year. Numerator and denominator
    are exact integer-cent sums; the share is a single double division
    so both engines agree bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nation = _t(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", cents).otherwise(F.lit(0)))
            .cast("double")
            .alias("_num"),
            F.sum(cents).cast("double").alias("_den"),
        )
        .select("o_year", (F.col("_num") / F.col("_den")).alias("mkt_share"))
    )


def q_q10_returned_items(spark, sf_dir):
    """Returned-item revenue report (TPC-H Q10 shape): top-20 customers
    by revenue lost to returns in Q4-1996. Deterministic LIMIT — exact
    money sums break revenue ties via c_custkey."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_money_sum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_evt_transitions(spark, sf_dir):
    """First-order Markov transition matrix over event types (counts +
    row-normalized probabilities; ties on ts break on event_id so the
    sequence is deterministic). One user-key window + one bounded
    |types|² aggregate; exact int/int probability division."""
    from idr_data_pipelines_spark.streaming.events import event_transitions

    ev = _events(spark, sf_dir)
    return event_transitions(ev)


def q_src_text_lines(spark, sf_dir):
    """src_text_lines: plain-text one-document-per-line roundtrip (the
    rawest corpus exchange format). Stages the newline-free documents
    corpus as text files keyed inline (id<TAB>text), reads back with
    spark.read.text and re-splits; the oracle replays the projection
    off parquet, so the value hash checks the whole write->parse
    roundtrip."""
    from idr_data_pipelines_spark.sources.text_formats import (
        read_text_lines,
        write_text_lines,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    path = f"{tempfile.mkdtemp(prefix='idr_txt_')}/documents"
    keyed = docs.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("\t"), F.col("text")).alias("line")
    )
    write_text_lines(keyed, "line", path)
    out = read_text_lines(spark, path)
    tab = F.instr(F.col("value"), "\t")
    return out.select(
        F.substring_index(F.col("value"), "\t", 1).cast("bigint").alias("doc_id"),
        F.col("value").substr(tab + 1, F.length("value")).alias("text"),
    )


def q_src_python_datasource(spark, sf_dir):
    """Custom Python DataSource (the Spark 4 connector API): a
    registered format whose partition planner and per-partition
    readers run in Python — the extension point for systems with no
    built-in connector. The md5-keyed generator is deterministic, so
    the oracle replays the ENTIRE connector path (partition split →
    Python iterator → Arrow) value-for-value; 500 rows over 8
    range partitions."""
    from idr_data_pipelines_spark.sources.pydatasource import (
        SyntheticCorpusDataSource,
    )

    # register() replaces a same-name source, so re-registration in a
    # long-lived session is safe and real failures surface loudly
    spark.dataSource.register(SyntheticCorpusDataSource)
    return (
        spark.read.format("synthetic_corpus")
        .option("n_rows", 500)
        .option("numPartitions", 8)
        .load()
    )


def q_src_python_datasource_stream(spark, sf_dir):
    """The SAME custom connector as a STREAMING source (Spark 4
    ``simpleStreamReader``): dict offsets, micro-batches of 64 ids,
    pure-generator ``readBetweenOffsets`` for exactly-once replay
    from the checkpoint. The driver query drains 300 rows through a
    real micro-batch stream into a memory sink (polling the sink —
    availableNow snapshots only the first prefetched batch for
    simple stream readers), then hands the result to the same
    md5-replay oracle family as the batch path: the full streaming
    connector path is value-hash verified. ``distinct()`` on the
    bounded result pins exactly-once even if a sink retry ever
    double-appended a batch (content per id is pure)."""
    import time

    from idr_data_pipelines_spark.sources.pydatasource import (
        SyntheticCorpusDataSource,
    )

    spark.dataSource.register(SyntheticCorpusDataSource)
    name = f"pydss_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="idr_pydss_ckpt_")
    q = (
        spark.readStream.format("synthetic_corpus")
        .option("n_rows", 300)
        .option("batch_rows", 64)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    drained = False
    died_early = False
    while time.time() < deadline:
        if q.exception() is not None:
            q.stop()
            raise q.exception()
        # count DISTINCT ids: if a sink retry ever double-appended a
        # batch, the raw count would hit 300 early and stop() would
        # kill the stream before the tail offsets drained
        if spark.table(name).select("doc_id").distinct().count() >= 300:
            drained = True
            break
        if not q.isActive:
            died_early = True
            break
        time.sleep(0.5)
    q.stop()
    if not drained:
        # fail LOUDLY (r10 review), and say WHICH failure it was (r10
        # advice): a stream that terminated without an exception before
        # draining is a datasource/connector bug, not host load — the
        # old message blamed "infra timeout" for both exits.
        n = spark.table(name).select("doc_id").distinct().count()
        if died_early:
            raise RuntimeError(
                f"pydatasource stream terminated early (isActive=False, "
                f"no exception) after {n}/300 distinct ids — connector "
                f"stopped producing; lastProgress={q.lastProgress}"
            )
        raise TimeoutError(
            f"pydatasource stream drained {n}/300 distinct ids before "
            "the 120s deadline (stream still active) — infra timeout, "
            "not a value mismatch"
        )
    return spark.table(name).distinct()


def q_join_full_reconcile(spark, sf_dir):
    """FULL OUTER reconciliation (the join-type completer beside
    inner/left/semi/anti): per-customer revenue for 1995 vs 1996,
    full-outer joined so customers active in only one period surface
    with an explicit status. Exact cent sums; the delta is integer
    arithmetic on coalesced cents. One shuffle per period aggregate +
    the key-aligned outer join (both sides share the grain, so AQE
    plans a single co-partitioned merge)."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")

    def period(y):
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey", cents.alias("c"))
            .groupBy("o_custkey")
            .agg(F.sum("c").alias(f"rev_{y}"))
        )

    a, b = period(1995), period(1996)
    j = a.join(b, "o_custkey", "full_outer")
    return j.select(
        "o_custkey",
        "rev_1995",
        "rev_1996",
        (
            F.coalesce(F.col("rev_1996"), F.lit(0))
            - F.coalesce(F.col("rev_1995"), F.lit(0))
        ).alias("delta_cents"),
        F.when(F.col("rev_1995").isNull(), F.lit("only_1996"))
        .when(F.col("rev_1996").isNull(), F.lit("only_1995"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


def q_snapshot_diff(spark, sf_dir):
    """Batch CDC between two snapshots: latest per-customer order
    state as-of 1996 vs as-of 1998, diffed into inserted / deleted /
    updated / unchanged in one full-outer hash join with codegen'd
    null-safe column equality — the "what did this load change"
    primitive feeding SCD merges and incremental aggregates. (No
    deletes arise from a grow-only orders table — the oracle proves
    exactly that, which is itself the audit this op exists for.)"""
    from idr_data_pipelines_spark.operators.scd import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )

    def snap(cutoff):
        return _latest_order_status(
            orders.filter(F.col("odate") <= F.lit(cutoff).cast("date"))
        )

    return snapshot_diff(
        snap("1996-01-01"), snap("1998-01-01"), ["o_custkey"]
    )


def q_orders_abc_analysis(spark, sf_dir):
    """ABC/Pareto classification: parts ranked by revenue; a part is
    class A iff it STARTS inside the first 80% of cumulative revenue
    (so a single dominant part is always A, even holding >80% alone),
    B inside the next 15%, C in the tail. The
    cumulative window orders by exact integer cents with a part-key
    tiebreak, so class boundaries are deterministic; the share math is
    a fixed-order double division off integer sums, rounded to 6. One
    part-grain agg + one ordered window over the collapsed (per-part)
    frame — fact-sized work ends at the first shuffle, and the global
    cumulative runs over |parts| rows only (at a cardinality where
    even that funnel matters, switch to the range-partition +
    broadcast-prefix-sum form assign_global_ids uses)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("bigint")
    per_part = (
        li.select("l_partkey", cents.alias("c"))
        .groupBy("l_partkey")
        .agg(F.sum("c").alias("rev_cents"))
    )
    total = per_part.agg(F.sum("rev_cents").alias("total_cents"))
    w = Window.orderBy(F.col("rev_cents").desc(), F.col("l_partkey").asc())
    ranked = (
        per_part.crossJoin(F.broadcast(total))
        .withColumn("cum_cents", F.sum("rev_cents").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents").cast("double")
    # classify on the share BEFORE this part (exact integer cents):
    # a part belongs to A iff it STARTS inside the first 80% — under
    # a <=-on-own-cum rule, a single dominant part holding >80% would
    # fall in B/C and class A could be empty exactly when
    # concentration is highest
    prev_share = (
        (F.col("cum_cents") - F.col("rev_cents")).cast("double")
        / F.col("total_cents").cast("double")
    )
    return ranked.select(
        F.col("l_partkey").alias("partkey"),
        "rev_cents",
        "cum_cents",
        F.round(share, 6).alias("cum_share"),
        F.when(F.round(prev_share, 6) < 0.80, F.lit("A"))
        .when(F.round(prev_share, 6) < 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def q_evt_dau_stickiness(spark, sf_dir):
    """Product-analytics actives: per day, DAU, trailing-7-day WAU and
    trailing-30-day MAU (all EXACT distinct users), plus the
    DAU/MAU stickiness ratio. The log collapses to distinct
    (day, user) pairs first; each pair then contributes to the ≤7
    (resp. ≤30) future days it keeps a user active in — a bounded
    date-sequence explode over the deduped frame, never over raw
    events — and the per-day distinct count collapses it back.
    Integer counts; one rounded ratio."""
    e = _events(spark, sf_dir)
    pairs = (
        e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    )
    days = pairs.select("d").distinct()

    def actives(window_days, name):
        contrib = pairs.select(
            F.explode(
                F.sequence(
                    F.col("d"), F.date_add(F.col("d"), window_days - 1)
                )
            ).alias("day"),
            "user_id",
        )
        return (
            contrib.join(days, contrib.day == days.d, "left_semi")
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias(name))
        )

    dau = pairs.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = actives(7, "wau")
    mau = actives(30, "mau")
    out = dau.join(wau, "day").join(mau, "day")
    return out.select(
        "day",
        "dau",
        "wau",
        "mau",
        F.round(
            F.col("dau").cast("double") / F.col("mau").cast("double"), 6
        ).alias("stickiness"),
    )


def q_text_rake_keywords(spark, sf_dir):
    """RAKE keyword scoring (Rose et al. 2010): phrases are maximal
    stopword-free word runs; each word scores degree/frequency where
    degree sums the lengths of the phrases it appears in (words that
    live in longer multi-word phrases rank higher than bare frequent
    words). Phrase segmentation is PURE TOKEN ARITHMETIC — a token's
    phrase id is the count of stopwords before it in its document —
    because regex phrase-splitting is NOT portable (Java split and
    RE2 disagree on consecutive stopwords; verified). One doc-key
    window for the running stopword count, one (doc, phrase) length
    agg, one vocabulary-sized word agg."""
    stop = ("the", "a")
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.expr(_toks())).alias("pos", "w")
    ).withColumn("is_stop", F.col("w").isin(*stop).cast("int"))
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = toks.withColumn("phrase_id", F.sum("is_stop").over(wseg)).filter(
        F.col("is_stop") == 0
    )
    plen = seg.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("deg")
    )
    occ = seg.join(plen, ["doc_id", "phrase_id"])
    stats = occ.groupBy(F.col("w").alias("word")).agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("deg").alias("degree"),
    )
    return stats.select(
        "word",
        "freq",
        F.col("degree").cast("bigint").alias("degree"),
        F.round(
            F.col("degree").cast("double") / F.col("freq").cast("double"), 6
        ).alias("rake"),
    )


def q_orders_backlog_sweep(spark, sf_dir):
    """Sweep-line interval counting: how many orders are in flight
    each day (open at o_orderdate, closed when the LAST line ships).
    The interval table event-izes into +1/-1 deltas, one day-grain
    sum collapses them, and a running cumulative over the ~2.5k-day
    frame yields the backlog — the O(n log n) pattern that replaces
    the quadratic day×interval containment join. The global window
    runs over |days| rows only (the prefix-sum form scales it
    further). Exact integers throughout."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    closes = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("cd"))
    )
    iv = orders.join(closes, orders.o_orderkey == closes.l_orderkey)
    deltas = iv.select(F.col("od").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("cd").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        F.col("delta").cast("bigint").alias("delta"),
        F.sum("delta").over(w).cast("bigint").alias("backlog"),
    )


def q_evt_time_to_convert(spark, sf_dir):
    """Conversion-latency distribution: for every purchase credited to
    a preceding click (the evt_attribution pairing), the click→purchase
    gap in epoch MICROSECONDS (pure bigint subtraction — exact in both
    engines), rolled up to count + exact interpolated p50/p90 (rounded
    6, the module's percentile convention) + max. One user-key window
    + a single-row aggregate."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    gaps = (
        e.withColumn("click_ts", click_ts)
        .filter(
            (F.col("event_type") == "purchase") & F.col("click_ts").isNotNull()
        )
        .select(
            (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))
            ).alias("gap_us")
        )
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.percentile(F.col("gap_us").cast("double"), 0.5), 6).alias(
            "p50_us"
        ),
        F.round(F.percentile(F.col("gap_us").cast("double"), 0.9), 6).alias(
            "p90_us"
        ),
        F.max("gap_us").alias("max_us"),
    )


def q_orders_mom_change(spark, sf_dir):
    """Period-over-period trend (the BI lag classic): monthly revenue
    per order-priority with month-over-month absolute and percent
    change; the first month of each series has null change (no prior
    period), and a zero prior month yields null pct (not a
    divide-by-zero). Exact cent sums; the deltas are integer
    subtraction; only the pct is a rounded division. One month-grain
    agg + one priority-key lag window over the collapsed frame."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    monthly = (
        orders.select(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
            cents.alias("c"),
        )
        .groupBy("o_orderpriority", "month")
        .agg(F.sum("c").alias("rev_cents"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        "rev_cents",
        (F.col("rev_cents") - prev).cast("bigint").alias("mom_cents"),
        F.when(
            prev > 0,
            F.round(
                (F.col("rev_cents") - prev).cast("double") / prev.cast("double"),
                6,
            ),
        ).alias("mom_pct"),
    )


def q_supplier_share_of_nation(spark, sf_dir):
    """Share-of-parent contribution (the two-level rollup window):
    each supplier's revenue as a fraction of its nation's total,
    computed with ONE shuffle — the nation total is a window sum over
    the supplier-collapsed frame, so no second aggregate or join back.
    Exact cents; one rounded division; full-key tiebreak-free because
    shares are per-row, not ranked."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("bigint")
    per_supp = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_suppkey", cents.alias("c"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum("c").alias("rev_cents"))
    )
    w = Window.partitionBy("n_name")
    nation_total = F.sum("rev_cents").over(w)
    return per_supp.select(
        F.col("n_name").alias("nation"),
        F.col("s_suppkey").alias("suppkey"),
        "rev_cents",
        nation_total.cast("bigint").alias("nation_cents"),
        F.round(
            F.col("rev_cents").cast("double") / nation_total.cast("double"), 6
        ).alias("share"),
    )


def q_evt_new_vs_returning(spark, sf_dir):
    """Growth-accounting split of daily actives: each active user-day
    is 'new' on the user's first-ever day and 'returning' after. One
    (day, user) dedup, a per-user min-day aggregate broadcast back,
    and a day rollup — the collapsed frames stay user-sized. Exact
    counts; the returning share is one rounded division."""
    e = _events(spark, sf_dir)
    pairs = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    first = pairs.groupBy("user_id").agg(F.min("d").alias("first_d"))
    # user-grain frame: co-partitioned shuffle join (pairs is already
    # hashed by the distinct) — NOT broadcast, users are unbounded
    tagged = pairs.join(first, "user_id").select(
        "d",
        F.when(F.col("d") == F.col("first_d"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    return (
        tagged.groupBy(F.col("d").alias("day"))
        .agg(
            F.sum("is_new").alias("new_users"),
            F.sum(F.lit(1) - F.col("is_new")).alias("returning_users"),
        )
        .select(
            "day",
            F.col("new_users").cast("bigint").alias("new_users"),
            F.col("returning_users").cast("bigint").alias("returning_users"),
            F.round(
                F.col("returning_users").cast("double")
                / (F.col("new_users") + F.col("returning_users")).cast("double"),
                6,
            ).alias("returning_share"),
        )
    )


def q_evt_ab_test(spark, sf_dir):
    """Experimentation analytics: deterministic md5-keyed 50/50 user
    assignment (the same never-reshuffles property as the train split),
    conversion = user had a purchase event, per-arm rates and the
    two-proportion pooled z statistic. Counts are exact integers; the
    rate/z arithmetic is a fixed-order double expression over ONE
    2-row frame, rounded to 6 — and the z formula replays verbatim in
    SQL. One user-grain agg + a 2-row rollup; the final stat is a
    1-row frame joined from the 2-row arm table (broadcast, trivially
    driver-safe)."""
    e = _events(spark, sf_dir)
    users = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn(
            "arm",
            F.when(_ab_parity() == 0, F.lit("A")).otherwise(F.lit("B")),
        )
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    # pooled two-proportion z over the pivoted 1-row frame, broadcast
    # back onto both arm rows
    stat = arms.agg(
        F.sum(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.sum(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("xa"),
        F.sum(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.sum(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("xb"),
    )
    na, xa = F.col("na").cast("double"), F.col("xa").cast("double")
    nb, xb = F.col("nb").cast("double"), F.col("xb").cast("double")
    p = (xa + xb) / (na + nb)
    var = p * (F.lit(1.0) - p) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    # degenerate experiments (p = 0 or 1 — e.g. every sampled user
    # converted) have zero pooled variance: z is undefined → null,
    # not a divide-by-zero
    z = F.when(var > 0.0, (xa / na - xb / nb) / F.sqrt(var))
    stat = stat.select(F.round(z, 6).alias("z_stat"))
    rate = F.col("n_converted").cast("double") / F.col("n_users").cast("double")
    return arms.crossJoin(F.broadcast(stat)).select(
        "arm",
        "n_users",
        F.col("n_converted").cast("bigint").alias("n_converted"),
        F.round(rate, 6).alias("conv_rate"),
        "z_stat",
    )


def q_text_dup_chunk_ratio(spark, sf_dir):
    """Inter-document duplicate-content ratio (RefinedWeb-style
    filter): split each doc into NON-overlapping 16-token blocks,
    fingerprint each block (md5 of the joined tokens — engine-
    portable), count how many of a doc's blocks appear verbatim in
    ANY OTHER document, and emit the duplicated fraction. The df side
    collapses to distinct (block, doc) pairs before counting, so a
    block repeated WITHIN one doc doesn't count as cross-doc
    duplication. Plan: explode → two aggs on the block hash → an
    fp-keyed shuffle join back (block cardinality grows WITH the
    corpus — ~1/16 of its tokens — so the df side must NOT be
    broadcast; both sides arrive hash-partitioned on fp from their
    aggregates, so the join adds no extra exchange). Ratio = exact
    int / exact int, rounded 6."""
    W = 16
    docs = _t(spark, sf_dir, "documents")
    base = docs.selectExpr("doc_id", f"{_toks()} AS toks")
    nblk = F.ceil(F.size("toks") / F.lit(W)).cast("int")
    blocks = (
        base.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), nblk - 1)).alias("b"),
            "toks",
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("toks", F.col("b") * W + 1, W), " ")).alias(
                "fp"
            ),
        )
    )
    pairs = blocks.distinct()  # (doc, block) — within-doc repeats collapse
    docs_per_block = pairs.groupBy("fp").agg(
        F.count(F.lit(1)).alias("ndocs")
    )
    per_doc = (
        blocks.join(docs_per_block, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_blocks",
        F.col("n_dup").cast("bigint").alias("n_dup"),
        F.round(
            F.col("n_dup").cast("double") / F.col("n_blocks").cast("double"), 6
        ).alias("dup_ratio"),
    )


def q_window_range_frame(spark, sf_dir):
    """RANGE-framed window (value-based, not row-based): per event
    type, the count of events whose VALUE lies within ±5.0 of each
    row's value — rows with equal values share one frame, which a
    ROWS frame cannot express. Values go through exact micro-unit
    scaling (floor(v·1e6+0.5), the module's standard trick) so the
    RANGE boundary test is pure integer arithmetic in both engines —
    no float-boundary flakes, and no ordering tiebreak needed because
    RANGE frames are value-defined. One type-key shuffle; frame
    evaluation is a sliding scan over the sorted partition."""
    e = _events(spark, sf_dir)
    v6 = F.floor(
        F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy("v6")
        .rangeBetween(-5_000_000, 5_000_000)
    )
    return (
        e.select("event_id", "event_type", v6.alias("v6"))
        .withColumn("n_within_5", F.count(F.lit(1)).over(w))
    )


def q_agg_rollup_grouping_id(spark, sf_dir):
    """ROLLUP with GROUPING() markers: distinguishes a NULL that IS a
    group value from a NULL meaning 'rolled up' — the semantic the
    plain rollup output cannot express. grouping_id() also gives the
    subtotal level as an integer. Same one-shuffle map-side expansion
    as agg_rollup."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def q_evt_user_perplexity(spark, sf_dir):
    """Behavioral perplexity: each user's event sequence scored under
    the corpus's OWN first-order transition model — mean -log2
    transition probability over the user's consecutive event pairs
    (the event-stream analogue of text_perplexity_unigram; high =
    atypical behavior, the anomaly-detection baseline). The |types|²
    model broadcasts; one user-key window + one user rollup. Rounded
    to 6 decimals (libm log2 ulp + mean summation order)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ONE lead window / ONE events scan: the pairs frame feeds both
    # the model aggregation and the per-user scoring (checkpointed —
    # two lazy references would re-run the corpus-wide window twice)
    pairs = (
        ev.withColumn("__to", F.lead("event_type").over(w))
        .filter(F.col("__to").isNotNull())
        .select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.col("__to").alias("to_type"),
        )
        .localCheckpoint(eager=True)
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = Window.partitionBy("from_type")
    model = counts.withColumn(
        "prob", F.col("n").cast("double") / F.sum("n").over(row).cast("double")
    ).select("from_type", "to_type", "prob")
    scored = pairs.join(F.broadcast(model), ["from_type", "to_type"])
    return (
        scored.groupBy("user_id")
        .agg(
            F.round(F.avg(-F.log2("prob")), 6).alias("mean_neg_log2p"),
            F.count(F.lit(1)).alias("n_transitions"),
        )
    )


def q_evt_daily_fill(spark, sf_dir):
    """Time-series gap fill: each user's DAILY event-count series with
    explicit zero rows for silent days between their first and last
    active day — the resample step every per-entity time-series model
    needs (rolling averages and streak features are wrong on sparse
    series). One date-sequence explode bounded by the activity span;
    counts and span share the user-key shuffle; left join fills."""
    ev = _events(spark, sf_dir)
    day = F.to_date(F.col("ts"))
    counts = ev.select("user_id", day.alias("day")).groupBy(
        "user_id", "day"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    span = counts.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    days = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return (
        days.join(counts, ["user_id", "day"], "left")
        .withColumn("n_events", F.coalesce(F.col("n_events"), F.lit(0)))
    )


def q_window_ffill(spark, sf_dir):
    """Forward fill (last observation carried forward): purchase
    events carry a value, other events observe the most recent one —
    ``last(value, ignorenulls=True)`` over an unbounded-preceding
    user window (ties on ts break on event_id). The standard LOCF
    imputation for sparse per-entity observations; one user-key
    shuffle, state bounded by the frame."""
    ev = _events(spark, sf_dir)
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.last(sparse, ignorenulls=True).over(w), 6).alias("last_purchase_value"),
    )


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    terciles → 27 segments): each customer scored 0-2 on days since
    last order (lower = better), order count and total spend against
    the corpus's exact tercile cuts — the classic warehouse
    segmentation, built from one orders rollup + one broadcast of six
    threshold values. Ties at a cut take the lower bucket in both
    engines; exact cent sums keep the monetary dimension integral."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("monetary_c"),
    ).withColumn(
        "recency_days",
        F.datediff(F.lit(AS_OF).cast("date"), F.col("last_date")),
    )
    cuts = per_cust.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{c}_{i}")
            for c in ("recency_days", "frequency", "monetary_c")
            for i, q in ((1, 1.0 / 3.0), (2, 2.0 / 3.0))
        ]
    )
    j = per_cust.join(F.broadcast(cuts))

    def bucket(c):
        return (
            F.when(F.col(c) <= F.col(f"{c}_1"), F.lit(0))
            .when(F.col(c) <= F.col(f"{c}_2"), F.lit(1))
            .otherwise(F.lit(2))
        )

    return j.select(
        F.col("o_custkey").alias("customer_id"),
        "recency_days",
        "frequency",
        "monetary_c",
        # recency: LOW days = best -> invert so 2 = best everywhere
        (F.lit(2) - bucket("recency_days")).alias("r_score"),
        bucket("frequency").alias("f_score"),
        bucket("monetary_c").alias("m_score"),
    )


def q_q9_product_profit(spark, sf_dir):
    """Product-type profit rollup (TPC-H Q9 shape, adapted: the
    synthetic schema has no partsupp, so profit is
    extendedprice·(1−discount) without the supplycost term): revenue
    from parts whose name contains 'bolt', by supplier nation and
    order year. Plan: part filter pushed to the scan, part/supplier/
    nation dims broadcast, orders joined on the fact key — one
    shuffle for the final (nation, year) rollup; exact cent sums."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("bolt")
    ).select("p_partkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cents = F.round(
        F.col("l_extendedprice") * 100 * (F.lit(1.0) - F.col("l_discount"))
    ).cast("long")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
            cents.alias("c"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("c").alias("profit_cents"))
    )


def q_q13_order_count_distribution(spark, sf_dir):
    """Distribution-of-counts (TPC-H Q13 shape): how many customers
    placed N non-urgent orders, including zero (LEFT OUTER join keeps
    orderless customers; COUNT of a nullable column skips the nulls)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_q14_promo_effect(spark, sf_dir):
    """Conditional-ratio aggregate (TPC-H Q14 shape): PROMO parts' share
    of March-1996 revenue as a single percentage row, computed from
    exact cent sums."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum(cents).cast("double")
        ).alias("promo_revenue_pct")
    )


def q_q16_supplier_part_count(spark, sf_dir):
    """Distinct-count with exclusion anti-join (TPC-H Q16 shape, partsupp
    replaced by observed lineitem pairs): distinct suppliers per part
    brand/type, excluding suppliers in arrears. The exclusion list is
    tiny → broadcast anti-join before the shuffle-heavy distinct."""
    bad_supp = (
        _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_q18_large_volume(spark, sf_dir):
    """Having-then-join-back (TPC-H Q18 shape): orders whose total
    quantity exceeds 250, joined back to order/customer detail. The
    aggregate side is small after the HAVING filter → broadcast it into
    the fact join."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


def q_q19_disjunctive(spark, sf_dir):
    """Disjunctive multi-clause predicate (TPC-H Q19 shape): three OR'd
    brand/size/quantity envelopes evaluated after an equi-join. Catalyst
    extracts the common p_partkey equi-condition; the OR residual stays
    a post-join filter, and the common sub-predicates are pushed to both
    scans where possible."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1.0, 20.0)
    )
    clause2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10.0, 30.0)
    )
    clause3 = (
        (F.col("p_type") == "PROMO")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 20.0)
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.filter(clause1 | clause2 | clause3).agg(
        _money_sum(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_q21_waiting_supplier(spark, sf_dir):
    """EXISTS + NOT-EXISTS on the same relation (TPC-H Q21 shape):
    suppliers who were the sole late shipper on failed multi-supplier
    orders ("late" = shipped >60 days after order date).

    The correlated subqueries are per-order set conditions, so instead
    of the textbook LEFT SEMI + LEFT ANTI self-joins (three lineitem
    scans, each self-join a full fact-fact shuffle) they evaluate as
    two distinct-supplier counts over one order-keyed window: a late
    row survives iff its order has ≥2 suppliers and exactly 1 late
    supplier. One lineitem scan, one order-key shuffle (the window
    rides the join's partitioning), identical row-level semantics —
    the self-join keyspace IS the window partition."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    w = Window.partitionBy("l_orderkey")
    flagged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "__late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            "__late",
            F.size(F.collect_set("l_suppkey").over(w)).alias("__n_supp"),
            F.size(
                F.collect_set(
                    F.when(F.col("__late"), F.col("l_suppkey"))
                ).over(w)
            ).alias("__n_late_supp"),
        )
    )
    l1 = flagged.filter(
        F.col("__late") & (F.col("__n_supp") > 1) & (F.col("__n_late_supp") == 1)
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(F.broadcast(sup), l1.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_q22_idle_rich_customers(spark, sf_dir):
    """Scalar-subquery threshold + anti-join (TPC-H Q22 shape):
    customers above the average positive balance with no orders since
    2000, rolled up by market segment. The average is an exact
    cent-sum / count double, broadcast as a 1-row frame (no collect);
    the anti-join's date filter is pushed to the orders scan."""
    cust = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    avg_df = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(cents).cast("double") / F.count(F.lit(1))).alias("avg_cents"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_df))
        .filter(cents.cast("double") > F.col("avg_cents"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        _money_sum(F.col("c_acctbal")).alias("total_bal"),
    )


def q_window_analytics(spark, sf_dir):
    """Extended window-function surface: quartile bucket (ntile),
    percent_rank, cume_dist, and first/last order value per customer
    over a fully-deterministic ordering (date + key tiebreak). One
    shuffle on the partition key serves all five functions."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_totalprice").over(wall).alias("first_price"),
        F.last("o_totalprice").over(wall).alias("last_price"),
    )


def q_agg_percentiles_exact(spark, sf_dir):
    """Exact interpolated percentiles per priority (Spark
    ``percentile`` ≡ SQL ``quantile_cont``: linear interpolation at
    rank p·(n-1)). Exact percentiles need the group's values together
    — fine for bounded group counts; use sketch_quantiles when
    cardinality is unbounded."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("o_totalprice"), F.lit(0.9)).alias("p90"),
    )


def q_q6_forecast_revenue(spark, sf_dir):
    """Pure scan-aggregate (TPC-H Q6 shape): one-row revenue delta from
    tightly-filtered lineitems. Every predicate is scan-pushable; the
    plan is scan → partial agg → single-partition final agg, the
    cheapest possible shape at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return f.agg(
        _money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_q15_top_supplier(spark, sf_dir):
    """Scalar-max subquery + join-back (TPC-H Q15 shape): supplier(s)
    whose half-year revenue equals the maximum; exact cent sums make
    the equality portable. The supplier-sized revenue aggregate gets a
    materialization barrier before fanning out to the max and match
    branches — measured: AQE does NOT reuse the aggregation stage
    across them (the join's null-filter perturbs the canonical
    subtree), so the lazy form re-scans lineitem for the 1-row max."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
                + F.lit(0.5)
            ).cast("bigint")
        ).alias("rev_cents")
    ).localCheckpoint(eager=True)
    best = rev.agg(F.max("rev_cents").alias("max_cents"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best), rev.rev_cents == best.max_cents)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents").cast("double") / F.lit(100.0)).alias("total_rev"),
        )
    )


def q_q17_small_quantity(spark, sf_dir):
    """Correlated per-group average threshold (TPC-H Q17 shape):
    revenue from Brand#1 lineitems below 20% of their part's average
    quantity. The per-part average is a window over the SAME
    brand-filtered pass that gets filtered — the aggregate-then-
    join-back form scans lineitem twice for identical arithmetic
    (exact-integer sum / count, so the 0.2× threshold is
    bit-identical across engines either way)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    threshold = F.lit(0.2) * (
        F.sum(F.col("l_quantity").cast("bigint")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    small = branded.withColumn("qty_threshold", threshold).filter(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return small.agg(
        _money_sum(F.col("l_extendedprice")).alias("total_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS: order counts at (status, priority),
    (status) and () granularities in one pass — the multi-granularity
    report shape (finer than ROLLUP/CUBE, no unwanted combinations)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 orders per priority by total price (window top-k — the
    per-partition top-k pattern; ties broken by key for determinism)."""
    df = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


def q_agg_having(spark, sf_dir):
    """GROUP BY + HAVING (post-aggregation filter): customers with >20
    orders."""
    df = _t(spark, sf_dir, "orders")
    return (
        df.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 20)
    )


def q_window_running(spark, sf_dir):
    """Window-function surface: lag, running sum and rank per customer
    over order history (frame-accurate running totals)."""
    df = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        (F.sum(cents).over(wsum).cast("double") / F.lit(100.0)).alias("running_total"),
    )


def q_window_rolling_sum(spark, sf_dir):
    """Trailing-frame time series: daily event counts per type, the
    7-row trailing sum, and an integer spike flag (7·today > 2·rolling
    ⟺ today > 2× the trailing daily average — integer arithmetic, so
    the oracle comparison is exact). Bounded ROWS frame over a grouped
    daily series: the frame never buffers more than 7 rows per
    partition, the scale-safe form of rolling statistics (an
    unbounded RANGE frame would buffer whole partitions)."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    rolling = F.sum("cnt").over(w)
    return daily.select(
        "d",
        "event_type",
        "cnt",
        rolling.alias("rolling7"),
        (F.col("cnt") * F.lit(7) > F.lit(2) * rolling).alias("spike"),
    )


def q_join_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join: pairs of 31-day order
    fulfillment windows ([o_orderdate, +30d]) of the SAME customer
    that overlap in time (k1 < k2 to emit each pair once), with the
    overlap length in days. The customer key co-partitions both sides
    — one hash shuffle, overlap predicate evaluated inside the join,
    no cartesian. Intervals with NO shared key would instead bucket
    into fixed time chunks and equi-join on chunk — join_range's band
    trick generalized to interval×interval."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("s"),
    )
    a = o.select(
        F.col("o_custkey").alias("ck1"),
        F.col("o_orderkey").alias("k1"),
        F.col("s").alias("s1"),
        F.date_add("s", 30).alias("e1"),
    )
    b = o.select(
        F.col("o_custkey").alias("ck2"),
        F.col("o_orderkey").alias("k2"),
        F.col("s").alias("s2"),
        F.date_add("s", 30).alias("e2"),
    )
    return (
        a.join(
            b,
            (F.col("ck1") == F.col("ck2"))
            & (F.col("k1") < F.col("k2"))
            & (F.col("s1") <= F.col("e2"))
            & (F.col("s2") <= F.col("e1")),
        )
        .select(
            F.col("ck1").alias("o_custkey"),
            "k1",
            "k2",
            (
                F.datediff(
                    F.least("e1", "e2"), F.greatest("s1", "s2")
                )
                + F.lit(1)
            ).cast("long").alias("overlap_days"),
        )
    )


def q_agg_collect_sorted(spark, sf_dir):
    """Array-aggregation surface: per region, the sorted array of
    nation names plus its cardinality (collect_list is
    order-nondeterministic under parallelism — array_sort makes the
    result reproducible on any cluster, which is what lets the value
    hash check it). The driver-facing projection pipe-joins the array
    (the driver's pandas canonicalizer cannot hash list cells — same
    class of fix as q_mm_frame_sample's hex projection); library users
    wanting the typed array call collect_sorted_array directly."""
    from idr_data_pipelines_spark.operators.aggregate import collect_sorted_array

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    arrays = collect_sorted_array(j, ["r_name"], "n_name", alias="nations")
    return arrays.select(
        "r_name",
        F.concat_ws("|", "nations").alias("nations"),
        F.col("n_nations"),
    )


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (3 steps, d=0.85) over the symmetrized
    customer–supplier order graph: nodes are prefixed customer/supplier
    keys, an undirected edge per distinct (custkey, suppkey) pair that
    co-occurs in an order. Symmetrizing makes the graph dangling-free
    (the operator's contract). Ranks rounded to 6 decimals: the
    contribution SUM order is partitioning-dependent, so engines agree
    to ~1e-15 relative, not bit-for-bit."""
    from idr_data_pipelines_spark.operators.graph import pagerank

    # shared construction with q_graph_khop (r10 review: an inline
    # copy here let the edge rule desynchronize from khop's)
    edges = _cs_edges(spark, sf_dir)
    r = pagerank(edges, iterations=3, damping=0.85)
    return r.select("id", F.round("rank", 6).alias("rank"))


def q_emb_label_centroids(spark, sf_dir):
    """Per-label mean embedding (long form: label, pos, centroid_val)
    — the corpus-drift analytics surface over the embeddings table.
    Means rounded to 6 decimals: summation order is
    partitioning-dependent, so engines agree to ~1e-13, not
    bit-for-bit."""
    from idr_data_pipelines_spark.llmdata.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    c = label_centroids(emb, "label", "embedding")
    return c.select(
        "label",
        "pos",
        F.round("centroid_val", 6).alias("centroid_val"),
    )


def q_text_perplexity_unigram(spark, sf_dir):
    """Unigram-LM quality scores (CCNet-style): per document, the mean
    -log2 token probability under the corpus's own unigram
    distribution, plus the token count. Rounded to 6 decimals (mean
    summation order + libm log ulp differ across engines)."""
    from idr_data_pipelines_spark.llmdata.text import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    s = unigram_logprob_scores(docs)
    return s.select(
        "doc_id",
        F.round("mean_neg_log2p", 6).alias("mean_neg_log2p"),
        "n_tokens",
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup: the ingest-run shape — docs with
    doc_id % 3 == 0 play the accumulated corpus (only their
    fingerprints are consulted), the rest are the new batch; drop
    batch docs whose fingerprint is already indexed, keep one min-id
    survivor per fingerprint within the batch."""
    from idr_data_pipelines_spark.llmdata.dedup import dedup_incremental
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    seen = docs.filter(F.col("doc_id") % 3 == 0).selectExpr(
        f"{fingerprint('text')} AS fp"
    )
    new = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup_incremental(new, seen).select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_agg_incremental(spark, sf_dir):
    """Incremental aggregate refresh: the pre-1996 daily revenue
    aggregate (the 'existing' table from prior runs) merged with the
    1996+ delta batch's partial aggregate must equal the full
    re-aggregation of all orders — which is exactly what the oracle
    computes. Exact cent sums make the equality portable."""
    from idr_data_pipelines_spark.operators.aggregate import agg_incremental_merge

    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("timestamp")

    def daily(df):
        return df.groupBy(
            F.col("o_orderdate").cast("date").alias("d")
        ).agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
            ).alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    existing = daily(orders.filter(F.col("o_orderdate") < cutoff))
    delta = daily(orders.filter(F.col("o_orderdate") >= cutoff))
    return agg_incremental_merge(
        existing, delta, ["d"], {"rev_cents": "sum", "n_orders": "sum"}
    )


def q_project_unpivot(spark, sf_dir):
    """Unpivot (melt): the wide per-region order-priority count matrix
    back to long (region, priority, n) form — DataFrame.unpivot, the
    wide→long leg the pivot queries lack. Zero extra shuffle: unpivot
    is a projection-level expand over the already-aggregated frame."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    wide = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            *[
                F.sum(
                    F.when(F.col("o_orderpriority") == p, 1).otherwise(0)
                ).alias(f"p{i + 1}")
                for i, p in enumerate(pri)
            ]
        )
    )
    return wide.unpivot(
        ["r_name"], [f"p{i + 1}" for i in range(len(pri))], "priority", "n"
    )


def q_mix_weighted_repeat(spark, sf_dir):
    """Upsampling corpus mix: src0 ×2.5, src1 ×1.25, src2 ×0.5,
    src3 ×1 (others dropped) — floor(w) full epochs per row plus the
    fractional epoch decided by portable md5 key hash; repeat_idx
    numbers the copies. Zero-shuffle projection + bounded explode."""
    from idr_data_pipelines_spark.llmdata.sampling import mix_weighted_repeat

    docs = _t(spark, sf_dir, "documents")
    out = mix_weighted_repeat(
        docs.select("doc_id", "source"),
        "source",
        "doc_id",
        {"src0": 2.5, "src1": 1.25, "src2": 0.5, "src3": 1.0},
    )
    return out.select("doc_id", "source", F.col("repeat_idx").cast("long").alias("repeat_idx"))


def q_flagship_event_analytics(spark, sf_dir):
    """Fourth flagship: the event-analytics surface composed end to
    end in ONE lazy plan — gap sessionization (30-min), ordered
    funnel depth (view→click→purchase within 72 h of the first view,
    the windowFunnel form — the time bound is what makes depth
    discriminate), and per-user activity facts, rolled up per funnel
    stage. Composed from the event-level operator surface:
    ``assign_sessions`` shuffles the log on the user key ONCE (the
    session window), then session counts, event counts, active days
    and the ``funnel_fold`` depth all come out of a single per-user
    aggregation that reuses that partitioning — the original
    formulation joined three independently-shuffled branches, i.e. 4
    full-log user exchanges instead of 1 (the difference that matters
    at 100 TB; the plan shape is pinned in tests/test_plans.py).
    Every output is an integer, so the composed DuckDB oracle — the
    sessionize, funnel and activity oracles chained as CTEs — must
    match bit-for-bit, proving the operators compose, not just pass
    in isolation."""
    from idr_data_pipelines_spark.streaming.events import assign_sessions, funnel_fold

    steps = ["view", "click", "purchase"]
    evs = assign_sessions(_events(spark, sf_dir))
    funnel_e = F.when(
        F.col("event_type").isin(steps),
        F.struct(F.col("ts").alias("ts"), F.col("event_type").alias("t")),
    )
    per_user = evs.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("ts").cast("date")).alias("active_days"),
        funnel_fold(
            F.array_sort(F.collect_list(funnel_e)),
            steps,
            window_seconds=72 * 3600,
        ).cast("long").alias("depth"),
    )
    return per_user.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_sessions").cast("long").alias("total_sessions"),
        F.sum("active_days").cast("long").alias("total_active_days"),
        F.sum("n_events").cast("long").alias("total_events"),
    )


def q_ids_global_contiguous(spark, sf_dir):
    """Contiguous global example ids 0..N−1 in doc_id order — range
    repartition + per-partition sequence + broadcast prefix-sum
    offsets, NOT a single-partition row_number window and NOT sparse
    monotonically_increasing_id. The one table shuffle is shared by
    the data and counts branches via ReuseExchange
    (llmdata/sampling.py assign_global_ids)."""
    from idr_data_pipelines_spark.llmdata.sampling import assign_global_ids

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return assign_global_ids(docs, "doc_id")


def q_flagship_data_recipe(spark, sf_dir):
    """Third flagship: the full training-data recipe composed from the
    round-3 operator set, end to end in ONE lazy plan —

      benchmark decontamination (3-gram broadcast overlap, ratio ≤ .05)
      → repetition filter (top-bigram ≤ .05, top-trigram ≤ .04)
      → length floor (≥ 30 tokens) → PII redaction → exact dedup
      (min-id survivor per normalized-text fingerprint) → per-source
      token-budget sample (15k chars, deterministic md5 order)
      → per-source corpus stats.

    Every stage is individually oracled elsewhere; this query proves
    they COMPOSE — the DuckDB oracle replays the entire chain and the
    value hash must survive all six stages."""
    from idr_data_pipelines_spark.llmdata.decontaminate import contamination_scores
    from idr_data_pipelines_spark.llmdata.filters import repetition_metrics
    from idr_data_pipelines_spark.llmdata.redact import redact_pii
    from idr_data_pipelines_spark.llmdata.sampling import sample_token_budget
    from idr_data_pipelines_spark.llmdata.text import fingerprint, token_count

    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    # the corpus side carries all six per-doc regex/HOF stages —
    # spread it when the scan has fewer splits than cores (no-op on a
    # real multi-file corpus; see spread_small_scan). pin=True (r14):
    # the repetition/length stage is a FILTER, and Catalyst pushed it
    # through the bare repartition onto the 1-task scan (plan showed
    # Filter-over-Scan on the anti-join branch, 2×1.1 s serial WSCG);
    # the lazy persist is the pushdown barrier that keeps the heavy
    # filter above the spread — and collapses the two corpus-branch
    # scans into one.
    corpus = spread_small_scan(docs.filter(F.col("doc_id") % 97 != 0), pin=True)

    bad = (
        contamination_scores(corpus, bench, k=3)
        .filter(F.col("contam_ratio") > 0.05)
        .select("doc_id")
    )
    clean = corpus.join(F.broadcast(bad), "doc_id", "left_anti")

    m = repetition_metrics("text")
    kept = clean.filter(
        f"({m['top_bigram_frac']}) <= 0.05D"
        f" AND ({m['top_trigram_frac']}) <= 0.04D"
        f" AND {token_count('text')} >= 30"
    )
    red = kept.withColumn("text", F.expr(redact_pii("text")))
    fp = red.withColumn("fp", F.expr(fingerprint("text")))
    # min-id survivor via row_number, NOT groupBy(min)+semi-join: the
    # self-join form duplicates the whole upstream chain (two corpus
    # scans, the repetition metrics and PII regexes evaluated twice);
    # the window is one shuffle over a single pass.
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        fp.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    sampled = sample_token_budget(
        deduped.select("doc_id", "source", "lang", "n_chars"),
        token_col="n_chars",
        budget=15_000,
        key_col="doc_id",
        group_col="source",
    )
    from idr_data_pipelines_spark.llmdata.dedup import carry_materialized

    return carry_materialized(
        sampled.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
        ),
        corpus,
    )


def q_window_gap_islands(spark, sf_dir):
    """Gaps-and-islands: collapse each customer's consecutive order
    months into contiguous runs (island = month − row_number, the
    classic trick over DISTINCT months) — one row per run with
    start/end/length. Detects activity streaks and coverage gaps; one
    hash shuffle + per-customer sort, same plan family as
    latest-per-key."""
    orders = _t(spark, sf_dir, "orders")
    months = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("m"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    g = months.withColumn("grp", F.col("m") - F.row_number().over(w))
    return (
        g.groupBy("o_custkey", "grp")
        .agg(
            F.min("m").alias("start_m"),
            F.max("m").alias("end_m"),
            F.count("*").alias("n_months"),
        )
        .drop("grp")
    )


def q_expr_json(spark, sf_dir):
    """JSON surface: serialize columns to a JSON string and extract
    fields back out (to_json / get_json_object)."""
    df = _t(spark, sf_dir, "region")
    j = F.to_json(F.struct(F.col("r_regionkey").alias("k"), F.col("r_name").alias("n")))
    return df.select(
        "r_regionkey",
        j.alias("payload"),
        F.get_json_object(j, "$.n").alias("name_back"),
        F.get_json_object(j, "$.k").cast("bigint").alias("key_back"),
    )


# ===================================================================
# llmdata: text analysis
# ===================================================================

def q_text_token_count(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.selectExpr("doc_id", f"{token_count('text')} AS n_tokens")


# ===================================================================
# llmdata: deterministic sampling / splitting / mixing / packing
# (llmdata/sampling.py — md5-keyed, so the oracles replay them exactly)
# ===================================================================

def q_sample_hash_mod(spark, sf_dir):
    """~10% deterministic sample of documents keyed on md5(doc_id) —
    stable across runs/cluster sizes (unlike df.sample's per-partition
    seeding); a pure pushed-down filter. md5 is engine-portable, so
    the oracle reproduces the sample membership bit-for-bit."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_hash_mod

    docs = _t(spark, sf_dir, "documents")
    out = sample_hash_mod(docs, "doc_id", 0.10, salt="s1")
    return out.select("doc_id", "lang", "source")


def q_split_train_holdout(spark, sf_dir):
    """Deterministic 80/20 train/holdout labeling by key hash — a
    document's split never changes as the corpus is reprocessed (no
    train/test leakage across runs)."""
    from idr_data_pipelines_spark.llmdata.sampling import split_train_holdout

    docs = _t(spark, sf_dir, "documents")
    return split_train_holdout(docs, "doc_id", holdout_fraction=0.2).select(
        "doc_id", "split"
    )


def q_mix_weighted(spark, sf_dir):
    """Weighted corpus mixing ("2 parts src0, 1 part src1, …"):
    per-source down-sampling to target ratios, decided per key hash —
    one codegen'd CASE predicate, no shuffle, no weight-table join."""
    from idr_data_pipelines_spark.llmdata.sampling import mix_weighted

    docs = _t(spark, sf_dir, "documents")
    out = mix_weighted(
        docs,
        "source",
        "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0},
        salt="mix",
    )
    return out.select("doc_id", "source")


def q_pack_sequences(spark, sf_dir):
    """LLM sequence packing: documents laid end-to-end per language
    shard (one hash shuffle, per-shard window sort — the scale path;
    global packing would funnel through one partition) and cut into
    512-token windows; each doc gets (pack_id, pack_offset). Running
    SUM window ⇒ exactly SQL-expressible."""
    from idr_data_pipelines_spark.llmdata.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", f"{token_count('text')} AS n_tokens"
    )
    return pack_sequences(
        docs, token_col="n_tokens", order_col="doc_id", max_tokens=512,
        shard_col="lang",
    )


def q_text_quality(spark, sf_dir):
    """Quality signals: chars, tokens, alpha ratio, stopword ratio."""
    df = spread_small_scan(_t(spark, sf_dir, "documents"))
    feats = quality_score("text")
    return df.selectExpr(
        "doc_id",
        *(
            f"{feats[name]} AS {name}"
            for name in ("n_chars", "n_tokens", "alpha_ratio", "stopword_ratio")
        ),
    )


def q_text_fingerprint(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.selectExpr("doc_id", f"{fingerprint('text')} AS fp")


def q_text_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (rolling k-gram hash + window minima,
    SIGMOD'03). xxhash64-based → no portable SQL oracle for the raw
    rows; the registry slot is q_text_winnow_fingerprint_invariants
    (r11) and bench's frozen headline times THIS full-row form.
    Guarantees + overlap properties are asserted in tests. The same
    algorithm with the portable md5-32 k-gram hash IS value-hash
    oracled — see text_winnow_md5."""
    from idr_data_pipelines_spark.llmdata.text import winnow_fingerprint_table

    df = _t(spark, sf_dir, "documents")
    out = winnow_fingerprint_table(df, k=4, window=4)
    return out.select(
        "id",
        F.size("fingerprints").alias("n_fingerprints"),
        F.array_min("fingerprints").alias("fp_min"),
        F.array_max("fingerprints").alias("fp_max"),
    )


def q_text_winnow_md5(spark, sf_dir):
    """Winnowing fingerprints with the engine-portable md5-32 k-gram
    hash (r6): unlike the xxhash64 rolling form this variant's every
    fingerprint replays in DuckDB (md5 bytes + integer window minima),
    so it carries a full value-hash oracle — proving the winnowing
    pipeline (positional k-grams → window minima → distinct) against
    an independent engine. One (doc_id, fp) row per kept fingerprint."""
    from idr_data_pipelines_spark.llmdata.text import winnow_md5_fingerprints

    df = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return df.select(
        "doc_id",
        F.explode(F.expr(winnow_md5_fingerprints("text", k=4, window=4))).alias("fp"),
    )  # fingerprints are array_distinct per doc → (doc_id, fp) already unique


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C): documents with
    ``doc_id % 97 == 0`` act as the held-out benchmark; every other
    document is scored by the fraction of its distinct word 3-grams
    that appear anywhere in the benchmark. Plan: benchmark n-grams
    deduped once and broadcast; corpus side is one projection + explode
    + broadcast join + per-doc count — single small shuffle."""
    from idr_data_pipelines_spark.llmdata.decontaminate import contamination_scores

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    sc = contamination_scores(corpus, bench, k=3)
    return sc.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_matched").cast("long").alias("n_matched"),
        "contam_ratio",
    )


def q_decontaminate_semantic(spark, sf_dir):
    """SEMANTIC decontamination over the embeddings table: the ANN
    probe set (vec_id < 8) plays the held-out benchmark; every other
    vector is screened by max cosine against it (threshold 0.8).
    Plan: benchmark side broadcast (LEFT broadcast nested-loop join),
    corpus side one projection; the per-id rollup map-side combines
    the |bench| scored rows per vector before the single exchange.
    Cosines are sequential JVM array folds, so the DuckDB oracle
    replays every value bit-for-bit (list_reduce left fold)."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        decontaminate_semantic,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    return decontaminate_semantic(corpus, bench, threshold=0.8)


def q_decontaminate_semantic_bucketed(spark, sf_dir):
    """LSH-bucketed semantic decontamination — the lint-clean scale
    path the exact broadcast screen (``decontaminate_semantic``,
    waived cartesian) is the recall baseline for. Same benchmark
    split (vec_id < 8), threshold 0.8; candidates come from a
    broadcast EQUI-join on 2 bands x 3 integer-exact sign-LSH bits
    (never all pairs), exact cosine on candidates only, distinct-hit
    rollup. Buckets are exact bigint arithmetic, so the DuckDB oracle
    replays candidate generation AND every cosine bit-for-bit."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        decontaminate_semantic_bucketed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    return decontaminate_semantic_bucketed(
        corpus, bench, threshold=0.8, bands=2, planes_per_band=3
    )


def q_decontaminate_semantic_recall(spark, sf_dir):
    """Recall eval of the LSH-bucketed semantic screen against its
    exact twin — the ann_recall_eval pattern: the ground-truth side
    embeds the (waived) brute-force scan, the candidate side is the
    banded screen, and the eval emits the flagged counts + recall as
    ONE driver-checkable row. Both sides are SQL-replayable, so this
    carries a full value-hash oracle: the driver verifies the recall
    NUMBER, not just that the eval ran. Flags are a subset by
    construction (pinned in pytest). Threshold 0.3, NOT the twins'
    0.8 screen setting: this corpus's max benchmark cosine is ~0.49,
    so 0.8 flags nothing and the eval would compare 0/0 — 0.3 flags
    ~10% of vectors and actually exercises the banding recall. The
    measured ~0.19 recall at cosine 0.3 is the expected sign-LSH
    math ((1 - acos(t)/pi)^3 per 3-bit band, OR over 2 bands ≈ 0.13
    at t=0.3) — the banded screen is built for the near-duplicate
    regime (~0.86 collision at t=0.9), which is exactly what the
    number makes visible."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        decontaminate_semantic,
        decontaminate_semantic_bucketed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    exact = decontaminate_semantic(corpus, bench, threshold=0.3).select(
        "vec_id", F.col("contaminated").alias("__e")
    )
    buck = decontaminate_semantic_bucketed(
        corpus, bench, threshold=0.3, bands=2, planes_per_band=3
    ).select("vec_id", F.col("contaminated").alias("__b"))
    agg = exact.join(buck, "vec_id").agg(
        F.sum(F.col("__e").cast("long")).alias("n_exact_flagged"),
        F.sum(F.col("__b").cast("long")).alias("n_bucketed_flagged"),
        F.sum((F.col("__e") & F.col("__b")).cast("long")).alias("n_caught"),
    )
    return agg.select(
        "n_exact_flagged",
        "n_bucketed_flagged",
        "n_caught",
        F.when(
            F.col("n_exact_flagged") > 0,
            F.round(
                F.col("n_caught").cast("double")
                / F.col("n_exact_flagged").cast("double"),
                6,
            ),
        ).alias("recall_r"),
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1):
    duplicate-word fraction, duplicate-line fraction, top-bigram /
    top-trigram occupancy, plus a pass flag thresholded to split this
    corpus (0.05 / 0.04). All array HOFs in one JVM projection — zero
    shuffles at any scale."""
    from idr_data_pipelines_spark.llmdata.filters import (
        gopher_repetition_pass,
        repetition_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    m = repetition_metrics("text")
    rep_pass = gopher_repetition_pass(
        "text", max_top_bigram_frac=0.05, max_top_trigram_frac=0.04
    )
    return docs.selectExpr(
        "doc_id",
        *(f"{e} AS {name}" for name, e in m.items()),
        f"{rep_pass} AS rep_pass",
    )


def q_text_redact_pii(spark, sf_dir):
    """PII scrub audit: deterministic synthetic PII (email/IPv4/phone
    derived from doc_id — the corpus itself is PII-free) appended to
    each document, then redacted with typed placeholders and counted
    per class. Pure regexp_replace/extract_all projection — zero
    shuffles; patterns restricted to the Java∩RE2 regex subset so the
    DuckDB oracle replays them exactly."""
    from idr_data_pipelines_spark.llmdata.redact import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.selectExpr(
        "doc_id",
        "concat(text, ' contact user', CAST(doc_id AS STRING),"
        " '@example.com from ', CAST(doc_id % 256 AS STRING),"
        " '.0.0.1 call 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),"
        " '-1234') AS text",
    )
    return seeded.selectExpr(
        "doc_id",
        f"{redact_pii('text')} AS redacted",
        *(f"{e} AS {name}" for name, e in pii_counts("text").items()),
    )


def q_dedup_exact_hash(spark, sf_dir):
    """Exact-dup groups via content-hash groupBy."""
    df = _t(spark, sf_dir, "documents")
    return dedup_exact_hash_groups(df)


def q_dedup_clusters(spark, sf_dir):
    """Transitive closure of a pairwise candidate set → dedup groups:
    every document labeled with the min doc_id reachable through the
    pair graph (its own id when unpaired). The edge rule here is
    deterministic and SQL-expressible (consecutive ids whose n_chars
    sum ≡ 0 mod 3 — produces genuine multi-hop chains), so the DuckDB
    oracle replays the closure with a recursive CTE; the Spark side is
    pointer-doubling min-label propagation (O(log diameter)
    iterations), the same code path a minhash/simhash pair set feeds
    in production (dedup_cluster_collapse)."""
    from idr_data_pipelines_spark.llmdata.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("nc_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("nc_b"))
    edges = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .filter(((F.col("nc_a") + F.col("nc_b")) % 3) == 0)
        .select("id_a", "id_b")
    )
    comp = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def q_ngram_jaccard_adjacent(spark, sf_dir):
    """Exact word-3-gram Jaccard on adjacent-id pairs (deterministic
    candidate set so the oracle is SQL-expressible)."""
    df = _t(spark, sf_dir, "documents")
    ids = df.select(F.col("doc_id").alias("id_a"))
    pairs = ids.withColumn("id_b", F.col("id_a") + 1).join(
        df.select(F.col("doc_id").alias("id_b")), "id_b"
    )
    return ngram_jaccard_pairs(df, pairs, k=3)


# ===================================================================
# llmdata: near-dup / similarity (hash-based full-row forms; since
# r11 their registry slots are *_invariants wrappers with oracles)
# ===================================================================

def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, verified with exact 3-gram Jaccard
    ≥ 0.5. xxhash64-seeded → deterministic; no SQL oracle for the raw
    pairs (hash function not portable) — the registry slot is
    q_dedup_minhash_lsh_invariants (r11), and bench's frozen headline
    times THIS full-row form. The same pipeline with the portable
    md5-32 hash IS value-hash oracled — see dedup_minhash_md5."""
    # not spread here: the operator spreads a narrow input itself
    # (``spread_small_scan`` in its signature and verify stages)
    df = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        df, num_perm=64, bands=16, shingle_k=3, jaccard_threshold=0.5
    )


def q_dedup_simhash(spark, sf_dir):
    """Per-doc 64-bit SimHash signatures (xxhash64-seeded →
    deterministic but not SQL-portable; registry slot:
    q_dedup_simhash_invariants since r11, bench times this full-row
    form). The same pipeline with the portable md5-32 token hash IS
    value-hash oracled — see dedup_simhash_md5."""
    df = _t(spark, sf_dir, "documents")
    return simhash_signatures(df)


def q_dedup_simhash_md5(spark, sf_dir):
    """Per-doc 32-bit SimHash with md5 token hashing — the
    engine-portable variant (r6): md5 bytes are identical in every
    engine, and bits/votes/sign-pack are exact integer arithmetic, so
    unlike the xxhash64 form this fingerprint carries a full
    value-hash DuckDB oracle. Production dedup keeps the xxhash64
    form (cheaper per token); this entry proves the SimHash pipeline
    itself — tokenize → per-token bit votes → sign pack — against an
    independent engine."""
    from idr_data_pipelines_spark.llmdata.dedup import simhash32_md5_signatures

    df = _t(spark, sf_dir, "documents")
    return simhash32_md5_signatures(df)


def q_dedup_minhash_md5(spark, sf_dir):
    """Banded MinHash-LSH near-dup pairs with the engine-portable
    md5-32 shingle hash (r6): the full pipeline — shingle → md5-32
    hash → (a*h+b)%P permutation minima (production's exact
    coefficient family) → band keys → candidate self-join → exact
    Jaccard verify — is integer/IEEE arithmetic DuckDB replays
    bit-for-bit, so unlike ``dedup_minhash_lsh`` (xxhash64, rows-only)
    this entry carries a full value-hash oracle. Both families run the
    same numpy signature kernel, band table and verify; production
    dedup keeps the xxhash64 hash (cheaper, 128 perms), and this
    proves the LSH machinery itself cross-engine."""
    from idr_data_pipelines_spark.llmdata.dedup import minhash_md5_lsh_pairs

    df = _t(spark, sf_dir, "documents")
    return minhash_md5_lsh_pairs(
        df, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5
    )


def q_emb_cosine_near_dup(spark, sf_dir):
    """Embedding near-dup pairs blocked by label, cosine ≥ 0.25 —
    the applyInPandas block operator accumulates dimension-by-dimension,
    reproducing the SQL left-fold double arithmetic bit-for-bit."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        embedding_near_dup_pairs_grouped,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs_grouped(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.25, block_col="label"
    )
    return out.select(
        "id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine_r")
    )


def q_ann_topk_bruteforce(spark, sf_dir):
    """Exact brute-force top-5 cosine neighbors for query vectors
    (vec_id < 8), broadcast query side."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine_r"), "rank"
    )


def q_ann_topk_quantized(spark, sf_dir):
    """Two-stage int8-quantized ANN (4× scan-size reduction; the
    bandwidth-bound scale path): integer-dot candidate scan with 4×
    oversampling, exact float re-rank of candidates only. Fully
    value-hash oracled since r6: the quantizer round(x/norm*127)
    evaluates the same IEEE op sequence in both engines (left-fold
    norm, correctly-rounded /,*, half-away-from-zero ROUND), so the
    int8 corpus and the integer-dot candidate set replay exactly;
    recall vs brute force additionally pinned in tests."""
    from idr_data_pipelines_spark.llmdata.similarity import cosine_topk_quantized

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = cosine_topk_quantized(emb, queries, k=5, oversample=4)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine_r"), "rank"
    )


def q_ann_topk_lsh(spark, sf_dir):
    """Approximate top-5 via sign-LSH buckets — the INTEGER-EXACT
    bucket form (bit p = sign of Σ ±floor(v_i·1e6), ±1 signs from
    seed=42): every bucket step is exact bigint arithmetic, so the
    DuckDB oracle replays the bucketing bit-for-bit and this formerly
    rows-only entry gets a full value-hash check (r5 VERDICT item 6).
    The float-matmul form (``cosine_topk_lsh``, BLAS per Arrow batch)
    remains the high-dim scale path with recall pinned in pytest —
    same candidate generation semantics, summation-order-sensitive
    buckets. Candidates come from a bucket equi-join (never all
    pairs); exact-cosine re-rank on candidates only."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine_topk_lsh_exact_bucket,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # the probe panel is a SLICE of the corpus → split-probe form:
    # one shared persisted bucket table, ONE Arrow stage instead of
    # two (r14; values identical — exact int64 buckets are the same
    # whether the slice is bucketed alone or cut from the shared pass)
    out = cosine_topk_lsh_exact_bucket(
        emb, None, k=5, n_planes=6, query_pred=lambda c: c < 8
    )
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine_r"), "rank"
    )


# ===================================================================
# llmdata: multimodal
# ===================================================================

def q_ann_topk_ivf(spark, sf_dir):
    """Approximate top-5 via an IVF coarse quantizer (deterministic
    hash-seeded centroids + 2 Lloyd steps, nprobe=2 of 8 cells).
    Approximate → no SQL replay of the raw neighbors; the registry
    slot is q_ann_topk_ivf_invariants (r11). Recall vs brute force
    asserted in tests."""
    from idr_data_pipelines_spark.llmdata.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = cosine_topk_ivf(emb, queries, k=5, n_centroids=8, nprobe=2, iters=2)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine_r"), "rank"
    )


def q_ann_topk_ivf_fixed(spark, sf_dir):
    """IVF ANN with a fixed coarse quantizer (centroids = vectors with
    vec_id < 16, no Lloyd steps) — unlike the k-means IVF this index
    is fully replayable in SQL (cell argmax, probe top-2, exact
    re-rank are all deterministic cosine arithmetic), so it carries a
    full value-hash oracle: the driver verifies the IVF machinery
    itself, not just row counts. See cosine_topk_ivf_fixed for the
    100 TB shape (projection assignment, bucket-by-cell pruning)."""
    from idr_data_pipelines_spark.llmdata.similarity import cosine_topk_ivf_fixed

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = cosine_topk_ivf_fixed(emb, queries, k=5, n_centroids=16, nprobe=2)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine_r"), "rank"
    )


def q_text_lang_bpe(spark, sf_dir):
    """Language-ID (marker-stopword argmax heuristic, fully JVM-side)
    and BPE-style subword token estimate (GPT-2-ish pre-tokenizer
    regex) per document — both pure projections, no shuffle."""
    from idr_data_pipelines_spark.llmdata.text import bpe_token_estimate, lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"{lang_id('text')} AS lang_pred",
        f"{bpe_token_estimate('text')} AS bpe_tokens",
    )


def q_udtf_split_sentences(spark, sf_dir):
    """Python UDTF surface (Spark 4): a table function exploding each
    document into numbered sentence rows via LATERAL join. UDTFs are
    the row-to-table API corner; for hot paths prefer mapInPandas
    (Arrow-batched) — this exists to pin the API and its lateral-join
    semantics against a SQL oracle."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: bigint, sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(_re.split(r"\.\s+", text)):
                yield i, s

    spark.udtf.register("split_sentences", SplitSentences)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT doc_id, s.sent_idx, s.sentence
        FROM docs_udtf, LATERAL split_sentences(text) s
        """
    )


def q_flagship_corpus_clean(spark, sf_dir):
    """End-to-end training-data cleaning pipeline: ingest → quality
    filter (token floor) → normalization-aware exact dedup (md5 of
    lowercased whitespace-collapsed text, max-id survivor) → per-doc
    token stats. The corpus is the documents table unioned with
    deterministic case/whitespace-mangled copies, so the dedup stage
    provably collapses real near-identical pairs (the raw table has no
    exact dups). One lazy plan: the only shuffle is the dedup groupBy;
    filters and projections fuse into the scans."""
    from idr_data_pipelines_spark.llmdata.text import fingerprint, token_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # mangled-copy ids are negated (-id-1): disjoint from the real
    # non-negative id space at ANY scale factor (an additive offset
    # would collide once documents outgrows it), and max-survivor
    # selection always keeps the real document
    mangled = docs.select(
        (-F.col("doc_id") - F.lit(1)).alias("doc_id"),
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    corpus = docs.unionByName(mangled)
    quality = corpus.withColumn("n_tokens", F.expr(token_count("text"))).filter(
        F.col("n_tokens") >= 30
    )
    return (
        quality.withColumn("fp", F.expr(fingerprint("text")))
        .groupBy("fp")
        .agg(
            F.max("doc_id").alias("doc_id"),
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def q_mm_media_meta(spark, sf_dir):
    """Multimodal plumbing: binary payload column → Arrow-batched
    mapInPandas metadata extraction (decode step stubbed
    deterministically; see llmdata/multimodal.py)."""
    df = _t(spark, sf_dir, "documents")
    with_bin = with_binary_payload(df, "text", media_type="image")
    return extract_media_meta(with_bin)


def q_mm_frame_sample(spark, sf_dir):
    """Multimodal 1→N fan-out plumbing: each binary payload explodes
    into fixed-stride 'frames' via mapInPandas (the shape a real
    ffmpeg/PIL sampler has — batch in, multi-row batch out, typed
    binary column). The deterministic stub slices bytes, so the DuckDB
    oracle reproduces frames exactly with blob substring.

    Driver surface note: the raw BinaryType column is projected to
    hex + byte-length here because the driver's pandas canonicalizer
    cannot hash ``bytearray`` values; ``frame_sample_stub`` itself
    keeps the binary column for library users."""
    from idr_data_pipelines_spark.llmdata.multimodal import frame_sample_stub

    df = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    with_bin = with_binary_payload(df, "text", media_type="video")
    frames = frame_sample_stub(with_bin, every_n=10)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.hex(F.col("frame_bytes")).alias("frame_hex"),
        F.length(F.col("frame_bytes")).cast("long").alias("frame_len"),
    )


# ===================================================================
# round-6 additions: clustering / CV splits / tokenizer + substring
# dedup statistics (all fully SQL-oracled)
# ===================================================================

def q_emb_kmeans_step(spark, sf_dir):
    """One exact Lloyd k-means iteration over the embeddings table
    (fixed seed centroids = the vectors with vec_id < 16, the same
    SQL-replayable quantizer as ann_topk_ivf_fixed): argmax-cosine
    assignment is a pure projection, the mean update one bounded
    map-side-combined agg — the canonical distributed-Lloyd step.
    Means rounded to 6 decimals (summation order)."""
    from idr_data_pipelines_spark.llmdata.similarity import kmeans_fixed_step

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans_fixed_step(emb, n_clusters=16)
    return out.select(
        "cluster_id",
        "pos",
        F.round("centroid_val", 6).alias("centroid_val"),
        "n_members",
    )


def q_emb_semdedup(spark, sf_dir):
    """SemDeDup (cluster-blocked semantic dedup): fixed-seed cosine
    clustering, then keep only the lowest-id member of every
    within-cluster near-dup pair. Threshold 0.35 because the synthetic
    embeddings are near-random (max within-cluster cosine ≈0.49);
    real-corpus usage keeps the 0.95 default. Cosine IEEE arithmetic
    replays exactly in SQL, so the kept SET is value-hash checkable."""
    from idr_data_pipelines_spark.llmdata.similarity import semdedup_prune

    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    # single-file testdata scans as one split; spread the argmax
    # projection + pair scan the way a multi-file production corpus
    # arrives (no-op when the scan already has enough splits)
    emb = spread_small_scan(_t(spark, sf_dir, "embeddings"))
    kept = semdedup_prune(emb, n_clusters=16, threshold=0.35)
    return kept.select("vec_id", "cluster_id")


def q_sample_exact_k(spark, sf_dir):
    """Exactly-100-row deterministic uniform sample of the documents
    corpus (reservoir-sample distribution, but reproducible across
    engines): order by md5(salt‖doc_id), take the first 100 —
    TakeOrderedAndProject, no global sort shuffle."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_exact_k

    docs = _t(spark, sf_dir, "documents")
    return sample_exact_k(docs, "doc_id", k=100, salt="topk").select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_sample_kfold(spark, sf_dir):
    """Deterministic 5-fold CV assignment by doc_id hash — fold
    membership never changes as the corpus grows (the leakage-free
    split property). Pure projection, no shuffle."""
    from idr_data_pipelines_spark.llmdata.sampling import assign_kfold

    docs = _t(spark, sf_dir, "documents")
    return assign_kfold(docs, "doc_id", n_folds=5).select("doc_id", "fold")


def q_text_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-training statistics: corpus-wide adjacent
    character-pair counts inside lowercase words (the merge-candidate
    scan of Sennrich et al. 2016), top 50 by count desc / pair asc.
    Two explodes into one map-side-combined count over a ≤26² key
    space; top-n is a TakeOrdered."""
    from idr_data_pipelines_spark.llmdata.text import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_n=50)


def q_text_shared_ngrams(spark, sf_dir):
    """Cross-document repeated-n-gram analysis (bucketed approximation
    of Lee et al. 2022 substring dedup): per document, the fraction of
    its distinct word-5-gram set appearing in ≥2 documents corpus-wide;
    docs with shared_frac ≥ 0.5 are flagged boilerplate.
    No pairwise comparison — gram-key and doc-key shuffles only."""
    from idr_data_pipelines_spark.llmdata.dedup import cross_doc_ngram_stats

    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    # spread the shingle scan across cores (single-file testdata
    # reads as one split; no-op on a real multi-file corpus)
    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    out = cross_doc_ngram_stats(docs, k=5, min_docs=2, flag_frac=0.5)
    return out.select("doc_id", "n_grams", "n_shared", "shared_frac", "flagged")


def q_sample_weighted_k(spark, sf_dir):
    """Quality-weighted exact-k subsample (Efraimidis-Spirakis A-ES,
    weight = n_chars): 100 documents chosen without replacement with
    inclusion probability rising in length, deterministically from the
    md5 hash. Output is the selected ROWS (no float rank column):
    the selection depends on ln() only through ordering, and a
    boundary flip would need two ln(u)/w keys within one ulp of each
    other — the oracle replays the same ranking in SQL."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_weighted_k

    docs = _t(spark, sf_dir, "documents")
    return sample_weighted_k(docs, "doc_id", "n_chars", k=100).select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_dedup_winnow_pairs(spark, sf_dir):
    """MOSS-style candidate pairs: documents sharing >= 2 winnowed
    md5-32 fingerprints (common-fingerprint filter at df <= 10 kills
    boilerplate fan-out AND the join skew), with the shared count —
    the partial-overlap dedup candidate generator. Fully
    SQL-replayable via the portable winnow fingerprint form."""
    from idr_data_pipelines_spark.llmdata.dedup import winnow_candidate_pairs
    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    return winnow_candidate_pairs(
        docs, k=4, window=4, min_shared=2, max_fp_freq=10
    )


def q_quality_buckets(spark, sf_dir):
    """CCNet-style per-source quantile bucketing: every document
    labeled low/mid/high against its OWN source's n_chars terciles
    (exact percentile; Spark's interpolation is bit-identical to
    DuckDB's quantile_cont, and ties at a cut go to the lower bucket
    in both engines). |sources| threshold rows broadcast back — the
    corpus never shuffles."""
    from idr_data_pipelines_spark.llmdata.filters import score_buckets

    docs = _t(spark, sf_dir, "documents")
    out = score_buckets(docs, "n_chars", "source")
    return out.select("doc_id", "source", "n_chars", "bucket")


def q_pack_bestfit(spark, sf_dir):
    """Whole-document best-fit-decreasing packing per source (capacity
    1024 estimated tokens). Bin packing is inherently sequential — no
    SQL form exists for the packing rows; the registry slot is
    q_pack_bestfit_invariants (r11), which value-hash-checks the
    capacity/coverage/fill invariants against input-derived oracle
    quantities. Determinism and oversized-doc isolation stay pinned
    in tests/test_llmdata.py."""
    from idr_data_pipelines_spark.llmdata.sampling import pack_sequences_bestfit
    from idr_data_pipelines_spark.llmdata.text import token_count

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "source", f"{token_count('text')} AS n_tok")
    )
    out = pack_sequences_bestfit(
        docs, "n_tok", "doc_id", max_tokens=1024, shard_col="source"
    )
    return out.select("doc_id", "source", "n_tok", "pack_id")


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment verify over the winnow candidate pairs:
    |A∩B|/|A| and |A∩B|/|B| on word 3-grams — catches a document
    quoted inside a much longer one, which symmetric Jaccard washes
    out. Candidate-driven (never all-pairs); exact int/int divisions
    replay in SQL."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        ngram_containment_pairs,
        winnow_candidate_pairs,
    )
    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    # deliberately NOT checkpointed: the verify references the winnow
    # candidate chain three times (id derivation + both join sides),
    # but an eager localCheckpoint would (a) run Spark jobs during
    # plan-only sweeps (the registry lint gate) and (b) truncate the
    # lineage the gate exists to inspect — a future scale-killer in
    # the fingerprint chain would hide behind an opaque RDD scan. The
    # re-evaluation is bounded: winnow candidates are fingerprint-
    # sparse and the chain is one window + one join.
    cand = winnow_candidate_pairs(
        docs, k=4, window=4, min_shared=2, max_fp_freq=10
    ).select("id_a", "id_b")
    return ngram_containment_pairs(docs, cand, k=3)


def q_dedup_remove_spans(spark, sf_dir):
    """Cross-doc duplicate-SPAN removal (Lee et al. 2022 substring
    dedup, transform form): every token covered by a word 5-gram that
    occurs in >= 2 distinct documents is cut; survivors rejoin into
    cleaned_text. ~9% of this corpus's token positions sit under a
    duplicated 5-gram, so the span-merge machinery is exercised
    without degenerating. md5 gram identity -> the DuckDB oracle
    replays the removal decision and the rebuilt strings exactly."""
    from idr_data_pipelines_spark.llmdata.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", k=5, min_df=2)


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered benchmark decontamination — the shape for a
    benchmark n-gram set too big to broadcast as strings: corpus
    3-grams probe a 2^20-bit md5-keyed bitmap (Arrow-batched numpy
    membership, the one justified Python stage), and only bloom
    candidates reach the exact verify join. No false negatives, so the
    scores are IDENTICAL to the exact operator and the oracle is the
    exact SQL. Benchmark = docs with doc_id % 89 == 0."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        contamination_scores_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    corpus = docs.filter(F.col("doc_id") % 89 != 0)
    sc = contamination_scores_bloom(corpus, bench, k=3)
    return sc.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_matched").cast("long").alias("n_matched"),
        "contam_ratio",
    )


def q_sample_topk_per_group(spark, sf_dir):
    """Balanced per-source cap: exactly min(20, |source|) documents
    per source, chosen deterministically by md5 rank within the group
    — one group-key shuffle, rows beyond rank 20 dropped before any
    downstream exchange."""
    from idr_data_pipelines_spark.llmdata.sampling import sample_exact_k_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_exact_k_per_group(docs, "source", "doc_id", k=20).select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_emb_random_project(spark, sf_dir):
    """Johnson-Lindenstrauss 64→8 random projection of the embeddings
    table (fixed-seed Gaussian directions baked in as literals): the
    pre-ANN bandwidth shrink, computed as a pure JVM projection whose
    sequential folds replay bit-for-bit in SQL — no rounding needed.
    Emits the 8 components as scalar DOUBLE columns ``proj_1..proj_8``
    (not one array column) so the result is hashable by any
    pandas-canonicalizing differential harness — r07 showed array
    outputs die in ``sort_values`` (``unhashable type: 'list'``)."""
    from idr_data_pipelines_spark.llmdata.similarity import random_project

    emb = _t(spark, sf_dir, "embeddings")
    proj = random_project(emb, d_in=64, d_out=8)
    return proj.select(
        "vec_id",
        *[F.col("proj")[i].alias(f"proj_{i + 1}") for i in range(8)],
    )


def q_join_bloom(spark, sf_dir):
    """Bloom-prefiltered selective join: orders joined to the rich
    customers (c_acctbal > 9000, ~10% of the dim) — the fact side is
    bitmap-pruned in its map stage BEFORE any shuffle (no false
    negatives, so the result is identical to the plain inner join,
    which is the oracle). The pattern for dims too big to broadcast
    as rows but whose key set fits a 2^22-bit bitmap."""
    from idr_data_pipelines_spark.operators.joins import join_bloom_prefilter

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", "c_name"
    )
    out = join_bloom_prefilter(orders, rich, "o_custkey", "c_custkey")
    return out.select("o_orderkey", "o_custkey", "c_name", "o_totalprice")


def q_layout_zorder(spark, sf_dir):
    """Z-order (Morton) clustering value for the orders fact on
    (customer, order-day) — the multi-dimensional layout key behind
    lakehouse OPTIMIZE ZORDER: range-writing on this value gives BOTH
    dimensions file-level min/max locality, so scans filtered on
    either prune most files (write_zordered does the write; a pytest
    proves the per-file locality). Pure integer bit arithmetic,
    bit-exact against the SQL oracle."""
    from idr_data_pipelines_spark.operators.layout import zorder_value

    orders = _t(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(65536))
    y = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    return orders.select(
        "o_orderkey", zorder_value([x, y], bits=16).alias("zval")
    )


def q_mm_resize(spark, sf_dir):
    """Multimodal resize plumbing: every payload downsampled 4× (byte
    stride — the deterministic stand-in for a real resize) with
    re-derived typed metadata, via Arrow-batched mapInPandas. The
    corpus is pure ASCII, so the DuckDB oracle replays the byte
    stride as a character stride exactly; binary projected to hex
    for the driver hash (as in mm_frame_sample)."""
    from idr_data_pipelines_spark.llmdata.multimodal import (
        resize_media_stub,
        with_binary_payload,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    with_bin = with_binary_payload(docs, "text", media_type="image")
    out = resize_media_stub(with_bin, factor=4)
    return out.select(
        "doc_id",
        F.hex(F.col("resized_bytes")).alias("resized_hex"),
        "n_bytes",
        "width",
        "height",
    )


# ===================================================================
# flagship: the MMD-shaped end-to-end chain (SURVEY §7.4)
# ===================================================================

def q_flagship_warehouse(spark, sf_dir):
    """Flagship: dedup → latest-per-key → broadcast dim enrich →
    as-of datediff → CASE bucket/flag → warehouse projection.

    The Spark re-expression of the reference's MMD chain
    (dags/mmd_transforms.py:277-278): one lazy plan, one shuffle for
    the window, broadcast join for the dims, no intermediate
    materialization."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")

    latest = dedup_latest_per_key(
        dedup_distinct(orders),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    enriched = join_inner_dim_cast(
        latest, F.broadcast(cust), fact_key="o_custkey", dim_key="c_custkey",
        broadcast_dim=False,
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))

    d = "CAST(o_orderdate AS DATE)"
    days = bq_date_diff(as_of_date(AS_OF), d, "DAY")
    recency = case_bucket(
        [(f"{days} <= 365", "active"), (f"{days} <= {3 * 365}", "lapsing")],
        default="dormant",
    )
    out = enriched.withColumns(
        {
            "last_order_date": F.expr(d),
            "days_since": F.expr(days),
            "recency": F.expr(recency),
            "big_spender": F.expr(case_flag("o_totalprice >= 150000", "Yes", "NO")),
        }
    )
    return out.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation"),
        "last_order_date",
        "days_since",
        "recency",
        "big_spender",
        F.col("o_totalprice").alias("last_order_total"),
    )


# ===================================================================
# TPC-H completion (r06 session 3): q2 / q11 / q12 / q20 shapes
# ===================================================================


def q_q2_min_cost_supplier(spark, sf_dir):
    """Correlated-min lookup (TPC-H Q2 shape, adapted: the synthetic
    schema has no partsupp, so the supply cost is the observed unit
    price ``extendedprice/quantity`` from lineitem): for STANDARD
    parts sized 10-30, the supplier(s) offering the minimum observed
    unit cost, with supplier/nation detail. Plan: one (part, supplier)
    agg shuffle, then a part-key window for the per-part min (the
    correlated subquery expressed without a second scan or self-join),
    broadcast dims on top. Unit cost is integer cents (floor(x+0.5) —
    bit-identical in both engines), so the min and the equality filter
    are exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 30))
        .select("p_partkey", "p_size")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cost_cents = F.floor(
        F.col("l_extendedprice") * F.lit(100.0) / F.col("l_quantity") + F.lit(0.5)
    ).cast("bigint")
    # prune the fact to qualifying parts BEFORE the pair aggregation
    # (Catalyst can't push a join below an agg itself) — the shuffle
    # then carries only qualifying-part lines; the detail join after
    # the agg re-attaches p_size
    pairs = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .select("l_partkey", "l_suppkey", cost_cents.alias("c"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("c").alias("pair_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    )
    w = Window.partitionBy("l_partkey")
    best = pairs.withColumn("part_min", F.min("pair_cost").over(w)).filter(
        F.col("pair_cost") == F.col("part_min")
    )
    return (
        best.join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_size").alias("size"),
            F.col("pair_cost").alias("min_cost_cents"),
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
        )
    )


def q_q11_important_parts(spark, sf_dir):
    """Global-threshold HAVING (TPC-H Q11 shape, partsupp value
    replaced by observed shipped revenue): per-part revenue from
    suppliers in nations 0-4, keeping parts above 0.1% of the total.
    The scalar total is a 1-row broadcast frame (no collect, no second
    scan: Spark reuses the agg subtree via the exchange), the
    comparison is exact integer cents."""
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select("s_suppkey")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("bigint")
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select("l_partkey", cents.alias("c"))
        .groupBy("l_partkey")
        .agg(F.sum("c").alias("value_cents"))
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("double")
            > F.col("total_cents").cast("double") * F.lit(0.001)
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            "value_cents",
        )
    )


def q_q12_late_shipments(spark, sf_dir):
    """Join + CASE-sum split (TPC-H Q12 shape; the schema has no
    shipmode/commitdate, so the group key is a ship-delay bucket):
    1997 lineitems shipped >=60 days after the order date, split into
    60-89 / 90+ day buckets, counting high- vs low-priority lines.
    Both filters push to their scans; the join is the only shuffle
    (AQE may broadcast the filtered orders side) and the CASE-sums
    ride the final 2-group agg."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(delay >= 60)
        .select(
            F.when(delay >= 90, F.lit("90+")).otherwise(F.lit("60-89")).alias(
                "delay_bucket"
            ),
            F.when(high, 1).otherwise(0).alias("h"),
            F.when(high, 0).otherwise(1).alias("l"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("h").alias("high_line_count"),
            F.sum("l").alias("low_line_count"),
        )
    )


def q_q20_potential_promotion(spark, sf_dir):
    """Nested semi-join chain (TPC-H Q20 shape, availqty replaced by
    shipped quantity): suppliers who moved >600 units of red parts in
    1996-97, with nation detail. The part filter prunes the fact scan
    via a broadcast semi-join BEFORE the supplier agg, so the shuffle
    carries only red-part lines; quantities are integral doubles cast
    to bigint for an exact sum and threshold."""
    li = _t(spark, sf_dir, "lineitem")
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red %"))
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    qualified = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("red_qty"))
        .filter(F.col("red_qty") > 600)
    )
    return (
        supp.join(F.broadcast(qualified), supp.s_suppkey == qualified.l_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
            "red_qty",
        )
    )


# ===================================================================
# text retrieval scoring (r06 session 3): TF-IDF / BM25
# ===================================================================


def q_text_tfidf_topterm(spark, sf_dir):
    """Per-document top TF-IDF term (sklearn smooth-idf formula:
    tf · (ln((1+N)/(1+df)) + 1)). One explode → (doc, term) count, a
    broadcast df/N join back, and a per-doc rank window. Ranking uses
    the 6-decimal-ROUNDED score (then term asc) so the order is
    libm-ulp-proof across engines; at 100 TB the vocab side stays a
    broadcast (term cardinality ≪ corpus) and the only big shuffle is
    the (doc, term) count."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"explode({_toks()}) AS term")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "score")
    )


#: BM25 constants shared by the query and its oracle builder.
_BM25_TERMS = ("spark", "query", "dup")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-50 retrieval over the corpus for a fixed query
    (terms {spark, query, dup}; k1=1.2, b=0.75; idf =
    ln(1 + (N-df+.5)/(df+.5))). The per-term tf scan filters to the
    query terms FIRST (pushable, vocab-sized), doc lengths come from
    one counting agg, df/N/avgdl are 1-row or vocab-sized broadcast
    frames, and the final top-k is a rank over the 6-decimal-rounded
    score with doc_id tiebreak — deterministic across engines. At
    scale: everything except the (doc, term) count is broadcast-sized,
    and the top-k is a single-column window (use the sketch top-k for
    unbounded k)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"explode({_toks()}) AS term")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_len")
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + k1 * (
        F.lit(1.0)
        - b
        + b * F.col("dl") * F.col("n") / F.col("total_len").cast("double")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (k1 + F.lit(1.0)) / norm), 6
            ).alias("score")
        )
    )
    # top-k via distributed TakeOrdered (orderBy+limit), NOT a global
    # row_number window — no single-partition shuffle of the full
    # score set; the rank window then runs over only the 50 survivors.
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(50)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "score", "rk"
    )


# ===================================================================
# curation additions (r06 session 3): chunking / model-based quality
# / exact embedding standardization
# ===================================================================

#: chunk window / stride (tokens) shared by the query and its oracle.
_CHUNK_W = 32
_CHUNK_S = 24


def q_text_chunk_windows(spark, sf_dir):
    """RAG-style document chunking: overlapping token windows of
    W=32 tokens at stride S=24 (8-token overlap), always emitting at
    least one chunk per document. Pure projection + bounded explode —
    ZERO shuffles, so at 100 TB it is a map-only pass whose output
    parallelism equals the input's. Chunk count per doc is
    1 + max(0, ceil((n-W)/S)) — exact integer arithmetic in both
    engines."""
    W, S = _CHUNK_W, _CHUNK_S
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    base = docs.selectExpr("doc_id", f"{toks} AS toks", f"size({toks}) AS n")
    nch = F.lit(1) + F.greatest(
        F.lit(0),
        F.floor((F.col("n") - F.lit(W) + F.lit(S - 1)) / F.lit(S)).cast("int"),
    )
    chunked = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), nch - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * S + 1
    length = F.least(F.lit(W), F.col("n") - F.col("chunk_id") * S)
    chunk = F.slice("toks", start, length)
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


#: fixed logistic-regression weights for the quality classifier —
#: a deterministic stand-in for a trained fasttext/LR quality model
#: (the Spark-side plumbing is identical for learned weights).
_LR_B0 = -2.0
_LR_W_LOGTOK = 0.35
_LR_W_STOP = -3.0
_LR_W_WLEN = 0.25


def q_quality_logreg(spark, sf_dir):
    """Model-based quality scoring (fasttext/CCNet-style classifier
    gate, expressed as a fixed-weight logistic regression over cheap
    text features: ln(token count), stopword ratio, mean word
    length). One map-only pass — features, logit and sigmoid are all
    column expressions; the keep flag thresholds the ROUNDED
    probability so the cut is libm-ulp-proof. Swapping in trained
    weights changes constants, not the plan."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    base = docs.selectExpr("doc_id", f"{toks} AS toks", f"size({toks}) AS n")
    stop_hits = F.size(F.filter("toks", lambda t: t.isin("the", "a")))
    char_sum = F.aggregate(
        F.transform("toks", lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    logit = (
        F.lit(_LR_B0)
        + F.lit(_LR_W_LOGTOK) * F.log(F.col("n").cast("double"))
        + F.lit(_LR_W_STOP)
        * (stop_hits.cast("double") / F.col("n").cast("double"))
        + F.lit(_LR_W_WLEN)
        * (char_sum.cast("double") / F.col("n").cast("double"))
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return base.select(
        "doc_id",
        prob.alias("prob"),
        (prob >= 0.5).alias("keep"),
    )


def q_emb_standardize(spark, sf_dir):
    """Per-dimension z-score standardization of the embedding corpus
    (the usual pre-whitening step before clustering/ANN). Exactness
    strategy: elements are scaled to integer micro-units
    (floor(x·1e6 + 0.5)), so the per-dimension sums and sums of
    squares are BIGINT — order-independent and bit-identical across
    engines/partitionings — and only the final mean/std/z division
    happens in doubles (fixed operation order, rounded to 6). The
    stats side is 64 rows → broadcast back; the wide shuffle is the
    single dim-keyed partial agg."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("e6"),
    )
    stats = e.groupBy("dim").agg(
        F.sum("e6").alias("s"),
        F.sum(F.col("e6") * F.col("e6")).alias("sq"),
        F.count(F.lit(1)).alias("cnt"),
    )
    mean6 = F.col("s").cast("double") / F.col("cnt").cast("double")
    var6 = F.col("sq").cast("double") / F.col("cnt").cast("double") - mean6 * mean6
    z = (F.col("e6").cast("double") - mean6) / F.sqrt(var6)
    return e.join(F.broadcast(stats), "dim").select(
        "vec_id", "dim", F.round(z, 6).alias("z")
    )


def q_agg_cube(spark, sf_dir):
    """GROUP BY CUBE completion of the grouping family (rollup /
    grouping_sets already covered): aggregates for every subset of
    (status, priority), NULL marking collapsed levels. Spark expands
    the grouping sets map-side — still ONE shuffle regardless of the
    2^k subsets."""
    from idr_data_pipelines_spark.operators import agg_cube

    df = _t(spark, sf_dir, "orders")
    return agg_cube(
        df,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum(F.col("o_totalprice")).alias("total_price"),
        ],
    )


def q_evt_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the most
    recent PRECEDING click by the same user (the marketing-funnel
    join). One user-key window with an ignore-nulls last over an
    unbounded-preceding frame — a single shuffle, no self-join, no
    per-key state beyond the running click id."""
    e = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("click_id", click_id)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "click_id",
            F.col("click_id").isNotNull().alias("attributed"),
        )
    )


def q_sink_compact_files(spark, sf_dir):
    """Small-files compaction round-trip: shatter the orders table
    into 64 tiny files (the streaming-sink pathology), compact with
    the atomic temp-write-then-swap rewrite, read back. Content is
    byte-identical to the source — the oracle is the plain table.
    The file-count collapse itself is pinned in
    tests/test_sources.py::test_compact_parquet_dir_merges_small_files."""
    from idr_data_pipelines_spark.sources.sinks import compact_parquet_dir

    df = _t(spark, sf_dir, "orders")
    path = f"{tempfile.mkdtemp(prefix='idr_compactq_')}/orders"
    df.repartition(64).write.mode("overwrite").parquet(path)
    compact_parquet_dir(spark, path, target_file_bytes=1 << 40)
    return spark.read.parquet(path)


def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: top-20 part pairs by the number of
    orders containing both. Each basket collapses to its SORTED
    distinct part array in one order-keyed shuffle (collect_set —
    dedup and basket assembly in the same aggregation), pairs are the
    in-array combinations (sortedness gives part_a < part_b for
    free), and the support count is exact integers, so ranking needs
    only the (support desc, part_a, part_b) tiebreak. Top-k rides
    TakeOrdered.

    The r10 rewrite removed the order-key SELF-JOIN (distinct →
    basket-size semi-join → co-partitioned self-join was three
    corpus-sized exchanges; this is two — basket assembly and pair
    count — with the quadratic pair fan-out now capped in-row work
    instead of join output).

    r14 (guide §4.1): the fan-out is the ``_bucket_pairs`` two-step
    Generate chain — posexplode the basket, then explode the
    per-member suffix slice — instead of the r10 nested
    transform/flatten/struct array. Higher-order-function lambdas
    evaluate INTERPRETED in Catalyst (outside whole-stage codegen);
    at 600k lineitem rows the nested-transform projection was the
    query's hot stage. posexplode/explode/slice are codegen'd
    operators, pair identity and multiplicity are unchanged (A/B'd
    row-identical, see OPTIMIZATION_r14.md for the interleaved
    timings), and peak per-row memory drops from the full
    C(n,2)-struct array to the basket array itself.

    Scale guard: baskets larger than 32 distinct parts are dropped
    BEFORE pair generation (the standard market-basket practice — a
    bot/bulk order with 10k parts would emit 50M pairs from one key
    and skew the plan; the cap also bounds the per-row pair array at
    C(32,2) = 496). Deterministic filter ⇒ still exactly oracle-able;
    no basket in the synthetic data comes near the cap."""
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= 32)
    )
    pairs = (
        baskets.select(
            F.posexplode("parts").alias("__i", "part_a"), "parts"
        )
        .select(
            "part_a",
            F.explode(
                F.slice("parts", F.col("__i") + F.lit(2), F.size("parts"))
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return pairs.orderBy(
        F.col("support").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(20)


def _zscore_daily(daily: DataFrame) -> DataFrame:
    """Trailing-7-day rolling z-score over a (event_type, d, n) daily
    count frame — shared by the batch query and its streaming twin.
    The rolling sums/sum-of-squares are INTEGER window aggregates
    (bit-identical under any partitioning); only the final mean/var/z
    divisions are doubles with a fixed operation order, rounded to 6."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    s = F.sum("n").over(w)
    sq = F.sum(F.col("n") * F.col("n")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    mean = s.cast("double") / cnt.cast("double")
    var = sq.cast("double") / cnt.cast("double") - mean * mean
    # a flat 7-day window has var 0 → null z (no anomaly signal), not
    # a division blowup
    z = F.when(
        var > 0.0, (F.col("n").cast("double") - mean) / F.sqrt(var)
    )
    return daily.select(
        "event_type",
        "d",
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) >= 2.0).alias("anomaly"),
    )


def q_evt_anomaly_zscore(spark, sf_dir):
    """Time-series anomaly flags: per (event_type, day) counts scored
    against the trailing 7-day rolling mean/std of the same type (see
    ``_zscore_daily`` for the exactness argument). One day-grain count
    shuffle + one type-key window — both on small keys after the
    count collapses the log."""
    e = _events(spark, sf_dir)
    daily = (
        e.select("event_type", F.to_date(F.col("ts")).alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _zscore_daily(daily)


def q_evt_anomaly_stream(spark, sf_dir):
    """The anomaly detector's production shape: a watermarked
    streaming aggregation (Trigger.AvailableNow, complete mode)
    maintains the per-(type, day) counts; the z-scoring is a batch
    view over the maintained state — the dashboard-over-stream
    pattern. Stream state must equal the batch counts, so the oracle
    is the SAME SQL as evt_anomaly_zscore: a streaming operator with
    a full value-hash correctness gate."""
    inbox, ckpt, raw_schema = _stage_event_stream(spark, sf_dir, "anomstream")
    stream = _ts_utc(spark.readStream.schema(raw_schema).parquet(inbox))
    agg = (
        stream.withWatermark("ts", "2 days")
        .groupBy("event_type", F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"anomstream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    daily = spark.table(name).select(
        "event_type",
        F.to_date(F.col("w.start")).alias("d"),
        "n",
    )
    return _zscore_daily(daily)


def _cs_edges(spark, sf_dir):
    """Symmetrized customer–supplier order graph — the SINGLE
    construction site (used by q_graph_pagerank and q_graph_khop, and
    assumed by their oracles): one undirected edge per distinct
    (cust, supp) pair co-occurring in an order."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def q_graph_khop(spark, sf_dir):
    """k-hop reachability (BFS, k=3) from the low-key customer seed
    set over the customer–supplier graph, emitting each reached node's
    minimal hop distance. The Spark side is frontier BFS: each hop is
    one equi-join + an anti-join against the visited set, so a node is
    expanded exactly once (at its minimal hop — which is what makes
    frontier pruning correct) and the work per hop is frontier-sized,
    never path-count-sized. The oracle is a DuckDB RECURSIVE CTE whose
    UNION dedups (node, hop) pairs, with min(hop) on top — a genuinely
    iterative algorithm verified exactly in SQL. Integer hops: no
    float concerns."""
    # lazy checkpoint: the edge list is referenced by all three hops,
    # so truncate its lineage once — but only at FIRST ACTION, so
    # building the DataFrame (plan lint, invariance battery) costs no
    # Spark job. Checkpointing hides the edge-build subtree from this
    # query's lint, so the sweep lints _cs_edges directly.
    edges = _cs_edges(spark, sf_dir).localCheckpoint(eager=False)
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 10)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("id")
        )
    )
    visited = seeds.withColumn("hop", F.lit(0))
    frontier = seeds
    for k in (1, 2, 3):
        # seeded BFS: the frontier and visited set are ≪ the edge
        # list, so BROADCAST both — the big edge table is never
        # shuffled; the only exchange per hop is the frontier-sized
        # distinct. (For frontiers that outgrow a broadcast, switch
        # to the shuffled equi-join form.)
        nxt = (
            edges.join(F.broadcast(frontier), edges.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(F.broadcast(visited.select("id")), "id", "left_anti")
            .withColumn("hop", F.lit(k))
        )
        # 3 fixed iterations: lineage stays shallow, no checkpoint
        # needed; at larger k, localCheckpoint the frontier per round
        visited = visited.unionByName(nxt)
        frontier = nxt.select("id")
    return visited.select("id", F.col("hop").cast("int").alias("hop"))


def q_evt_path_analysis(spark, sf_dir):
    """Sequential-pattern mining lite: the top-10 3-step event-type
    paths across users (two lead windows → path string → count). The
    only log-sized shuffle is the user-key window; the path count
    collapses to ≤|types|³ rows before the TakeOrdered top-k. Exact
    integer support with a full-path tiebreak."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), F.col("path").asc()).limit(10)


def q_scd4_current_history(spark, sf_dir):
    """SCD type-4 merge (current + history TABLES — the family
    completer next to types 1/2/3): the same base/update construction
    as scd1_upsert, but displaced current rows land in a history
    table instead of vanishing. The driver sees both outputs in one
    frame via a ``tbl`` tag; the scale path appends only the
    displaced rows to the history sink (append-only, no rewrite)."""
    from idr_data_pipelines_spark.operators.scd import scd4_upsert

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    cutoff = F.lit("1995-01-01").cast("date")

    base = _latest_order_status(orders.filter(F.col("odate") <= cutoff))
    upd = _latest_order_status(orders.filter(F.col("odate") > cutoff))
    current, history = scd4_upsert(base, upd, ["o_custkey"])
    return current.withColumn("tbl", F.lit("current")).unionByName(
        history.withColumn("tbl", F.lit("history"))
    )


def q_orders_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: customers cohorted by first-order year, then
    average cumulative revenue per customer at each age (years since
    the first order). Revenue stays integer cents through the
    per-customer-year rollup, the (cohort, age) rollup AND the
    running cumulative (an integer window sum over ≤|years| rows per
    cohort) — only the final per-customer division is floating point,
    rounded to 6. Shuffle ladder: customer-year agg → broadcast
    first-year join → cohort/age agg → tiny cohort window."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    per_cy = (
        orders.select(
            "o_custkey",
            F.year(F.col("o_orderdate").cast("date")).alias("y"),
            cents.alias("c"),
        )
        .groupBy("o_custkey", "y")
        .agg(F.sum("c").alias("c"))
    )
    first = per_cy.groupBy("o_custkey").agg(F.min("y").alias("cohort"))
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    aged = (
        per_cy.join(first, "o_custkey")  # customer-grain: shuffle join, not broadcast
        .select("cohort", (F.col("y") - F.col("cohort")).alias("age"), "c")
        .groupBy("cohort", "age")
        .agg(F.sum("c").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        aged.withColumn("cum_cents", F.sum("rev_cents").over(w))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("age").cast("int").alias("age"),
            "cohort_size",
            "rev_cents",
            "cum_cents",
            F.round(
                F.col("cum_cents").cast("double")
                / F.lit(100.0)
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("ltv_per_customer"),
        )
    )



# ===================================================================
# round-7 additions: warehouse profiling / skew diagnostics / PQ codes
# / feature hashing / survival curves / duplicate-invoice detection /
# CCNet-style perplexity buckets
# ===================================================================

def q_profile_table(spark, sf_dir):
    """Data-profiling audit of the orders table: per-column null
    count and EXACT distinct count, unpivoted to one row per column.
    Exact distincts make the result oracle-portable but cost one
    Expand fan-out per distinct column (Spark plans N distinct aggs
    as an N-way row replication) — at 100 TB run the
    approx_count_distinct twin instead; profiling is the deliberate
    full-audit shape here. One input scan either way."""
    orders = _t(spark, sf_dir, "orders")
    cols = sorted(orders.columns)
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__n_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"__d_{c}"))
    aggs.append(F.count(F.lit(1)).alias("__rows"))
    one = orders.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__n_{c}").alias("n_nulls"),
                F.col(f"__d_{c}").alias("n_distinct"),
                F.col("__rows").alias("n_rows"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select(
        "p.col_name", "p.n_nulls", "p.n_distinct", "p.n_rows"
    )


def q_skew_metrics(spark, sf_dir):
    """Key-distribution diagnostics for a prospective join/agg key —
    the "should I salt this?" probe: the top-5 heaviest l_suppkey
    groups with their share of all rows, plus the max/mean group-size
    ratio (the skew factor AQE's skew-join threshold reasons about).
    One count shuffle + a 1-row broadcast total; the top-5 is
    TakeOrdered, not a global window. Shares its counts+totals base
    frame with ``plans.lint.skewed_keys`` via ``key_count_profile``
    (one salting-probe implementation, two consumers)."""
    from idr_data_pipelines_spark.plans.lint import key_count_profile

    li = _t(spark, sf_dir, "lineitem")
    return (
        key_count_profile(li, "l_suppkey")
        .orderBy(F.col("n").desc(), F.col("l_suppkey").asc())
        .limit(5)
        .select(
            "l_suppkey",
            "n",
            F.round(
                F.col("n").cast("double")
                / F.col("__total").cast("double")
                * F.lit(100.0),
                6,
            ).alias("share_pct"),
            F.round(
                F.col("__max_n").cast("double")
                * F.col("__n_keys").cast("double")
                / F.col("__total").cast("double"),
                6,
            ).alias("skew_ratio"),
        )
    )


def q_emb_pq_assign(spark, sf_dir):
    """Product-quantization code assignment (fixed-seed codebook,
    4 sub-spaces x 16 codewords): every embedding compresses to 4
    small codes, the storage layout of an IVF-PQ ANN index. Fully
    SQL-replayable (codewords are table rows, fixed-order double
    arithmetic, lowest-id ties) — the oracle re-derives every code.
    Map-only: one scan, zero shuffles."""
    from idr_data_pipelines_spark.llmdata.similarity import pq_assign_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return pq_assign_fixed(emb, n_centroids=16, n_subspaces=4, dim=64)


def q_text_hashed_features(spark, sf_dir):
    """Hashing-trick featurization (the fastText/Vowpal input shape):
    tokens hash into 32 buckets via the portable md5 idiom and each
    doc emits its sparse (bucket, count) vector rows. Token explode +
    one (doc, bucket) count shuffle; vocabulary size does not matter
    — that is the point of feature hashing at 100 TB."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(F.expr(_toks())).alias("tok")
    ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("bigint")
        % 32
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_evt_survival_retention(spark, sf_dir):
    """User-lifetime survival curve (Kaplan-Meier shape, no
    censoring): for each observed lifespan L (days between a user's
    first and last event), how many users survived AT LEAST L days
    and the share of all users. Per-user reduce -> lifespan histogram
    -> reverse cumulative window over the COLLAPSED histogram (<=
    |distinct lifespans| rows — the aggregation-then-global-window
    pattern the plan linter's collapsed-frame rule certifies)."""
    ev = _events(spark, sf_dir)
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("d1"),
        )
        .select(F.datediff("d1", "d0").alias("lifespan"))
    )
    hist = spans.groupBy("lifespan").agg(F.count(F.lit(1)).alias("n_users"))
    w = (
        Window.orderBy(F.col("lifespan").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.orderBy(F.col("lifespan").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "lifespan",
        "n_users",
        F.sum("n_users").over(w).alias("n_surviving"),
        F.round(
            F.sum("n_users").over(w).cast("double")
            / F.sum("n_users").over(wall).cast("double"),
            6,
        ).alias("survival"),
    )


def q_orders_dup_invoice_pairs(spark, sf_dir):
    """Duplicate-invoice candidate detection (the finance-audit twin
    of near-dup dedup): pairs of orders by the same customer in the
    same 10000-unit price band placed within 90 days. The self-join is
    on the (custkey, band) EQUI-key — the blocking-key pattern: pair
    blowup is bounded per block, never all-pairs — with the date
    predicate applied inside the block and k1 < k2 for a canonical
    pair orientation."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") / F.lit(10000.0)).alias("band"),
        F.to_date("o_orderdate").alias("d"),
    )
    l, r = o.alias("l"), o.alias("r")
    return (
        l.join(
            r,
            (F.col("l.o_custkey") == F.col("r.o_custkey"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l.o_orderkey") < F.col("r.o_orderkey")),
        )
        .withColumn(
            "day_gap", F.abs(F.datediff(F.col("r.d"), F.col("l.d")))
        )
        .filter(F.col("day_gap") <= 90)
        .select(
            F.col("l.o_orderkey").alias("k1"),
            F.col("r.o_orderkey").alias("k2"),
            F.col("l.o_custkey").alias("o_custkey"),
            F.col("l.band").alias("band"),
            "day_gap",
        )
    )


def q_docs_ccnet_buckets(spark, sf_dir):
    """CCNet-style corpus partitioning: per language, documents split
    into head/middle/tail perplexity tertiles (the published CCNet
    recipe buckets Common Crawl by LM perplexity per language and
    trains preferentially on the head). ntile(3) over the per-lang
    window ordered by (rounded score, doc_id) — deterministic across
    engines; the window is partitioned, so no global funnel."""
    from idr_data_pipelines_spark.llmdata.text import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    s = unigram_logprob_scores(docs).select(
        "doc_id", F.round("mean_neg_log2p", 6).alias("ppl_r")
    )
    joined = docs.select("doc_id", "lang").join(s, "doc_id")
    w = Window.partitionBy("lang").orderBy("ppl_r", "doc_id")
    t = F.ntile(3).over(w)
    return joined.select(
        "doc_id",
        "lang",
        "ppl_r",
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def q_text_bigram_lm(spark, sf_dir):
    """Bigram language-model training table (add-0.5 smoothing): the
    top-100 bigrams with conditional log-probability
    log2((c12+0.5)/(c1+0.5V)) — the n-gram-LM step of a perplexity-
    filtering pipeline (the unigram scorer's big sibling). Adjacent
    pairs come from a zip of array slices (pure projection — no
    positional self-join); c1 rolls up from the bigram counts
    (vocab-sized broadcast); V is a 1-row broadcast total (waived
    nested-loop). Top-k via TakeOrdered with a full
    (n desc, w1, w2) tiebreak."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.selectExpr(f"filter({_toks()}, t -> t != '') AS a")
    pairs = (
        toks.filter(F.size("a") >= 2)  # slice(len-1) errors on []
        .select(
            F.explode(
                F.zip_with(
                    F.expr("slice(a, 1, size(a) - 1)"),
                    F.expr("slice(a, 2, size(a) - 1)"),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    c1 = big.groupBy("w1").agg(F.sum("n").alias("c1"))
    vocab = (
        toks.select(F.explode("a").alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    return (
        big.join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .orderBy(F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(100)
        .select(
            "w1",
            "w2",
            "n",
            F.round(
                F.log2(
                    (F.col("n").cast("double") + F.lit(0.5))
                    / (
                        F.col("c1").cast("double")
                        + F.lit(0.5) * F.col("v").cast("double")
                    )
                ),
                6,
            ).alias("logp"),
        )
    )


def q_text_char_stats(spark, sf_dir):
    """Character-level quality signals per document: Shannon entropy
    of the char distribution (low entropy = repetitive boilerplate;
    a Gopher/C4-family filter signal) and KL divergence from the
    corpus char distribution (high KL = encoding garbage / wrong
    language). Both derive from one (doc, char) count shuffle; the
    corpus distribution is a char-alphabet-sized broadcast frame.
    Entropy computed as log2(n) - sum(c*log2(c))/n — one pass, no
    per-char probability division.

    Chars are CODEPOINTS via ``regexp_extract_all(text, '[\\s\\S]')``
    in both engines — Java regex and RE2 both match exactly one
    codepoint per ``[\\s\\S]``, unlike empty-delimiter splits, where
    Spark splits UTF-16 units and DuckDB splits grapheme clusters
    (divergent on combining marks / emoji)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    chars = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[\s\S]"), F.lit(0)
            )
        ).alias("c"),
    ).filter(F.col("c") != "")
    dc = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    corp = dc.groupBy("c").agg(F.sum("n").alias("cn"))
    corp_tot = Window.partitionBy()
    corp = corp.withColumn(
        "p_corp",
        F.col("cn").cast("double") / F.sum("cn").over(corp_tot).cast("double"),
    )
    joined = dc.join(F.broadcast(corp.select("c", "p_corp")), "c")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_chars"),
            F.sum(
                F.col("n").cast("double")
                * F.log2(F.col("n").cast("double"))
            ).alias("__slc"),
            F.sum(
                F.col("n").cast("double")
                * F.log2(
                    F.col("n").cast("double") / F.col("p_corp")
                )
            ).alias("__skl"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(
                F.log2(F.col("n_chars").cast("double"))
                - F.col("__slc") / F.col("n_chars").cast("double"),
                6,
            ).alias("entropy"),
            F.round(
                F.col("__skl") / F.col("n_chars").cast("double")
                - F.log2(F.col("n_chars").cast("double")),
                6,
            ).alias("kl_corpus"),
        )
    )


def q_docs_gopher_rules(spark, sf_dir):
    """Gopher-style rule-based quality filter: per document, the
    published repetition/format heuristics as individual flags plus
    the combined keep decision — mean word length in [3, 10], at
    least 50% alphabetic words, a common-English stopword present,
    and >= 5 words. Pure projection over the token array (ZERO
    shuffles, map-only at any scale); each rule is its own column so
    downstream analysis can attribute rejections."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.selectExpr("doc_id", f"filter({_toks()}, t -> t != '') AS a")
    n_words = F.size("a")
    total_len = F.aggregate(
        "a", F.lit(0), lambda acc, t: acc + F.length(t)
    )
    n_alpha = F.size(F.filter("a", lambda t: t.rlike("^[a-z]+$")))
    has_stop = F.exists(
        "a", lambda t: t.isin("the", "and", "of", "to", "is", "a", "in")
    )
    mean_wl = total_len.cast("double") / n_words.cast("double")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(
            n_alpha.cast("double") / n_words.cast("double"), 6
        ).alias("frac_alpha"),
        has_stop.alias("has_stopword"),
        (
            (n_words >= 5)
            & (mean_wl >= 3.0)
            & (mean_wl <= 10.0)
            & (n_alpha.cast("double") / n_words.cast("double") >= 0.5)
            & has_stop
        ).alias("keep"),
    )


def q_docs_remove_dup_chunks(spark, sf_dir):
    """Cross-document duplicate-chunk REMOVAL (the curation step
    `text_dup_chunk_ratio` only measures): split each doc into
    non-overlapping 16-token blocks, fingerprint them (md5 of joined
    tokens, engine-portable), and rebuild each doc's text keeping a
    block only if it is corpus-unique OR this doc is the block's
    lowest-doc_id holder — one surviving copy corpus-wide (the
    CCNet/RefinedWeb shared-span policy with a deterministic keeper).
    Emits the cleaned text plus kept/total block counts so the
    removal is attributable.

    Plan: explode → distinct (doc, fp) → fp-keyed count+min agg →
    fp-keyed join back (block cardinality grows WITH the corpus, so
    the meta side must NOT be broadcast) → one doc-keyed agg whose
    ordered reassembly is sort_array over (position, chunk) structs —
    collect_list is bounded by single-document length, never corpus
    state. Within-doc repeats of a corpus-unique block are kept
    (ndocs counts distinct docs, matching the ratio op)."""
    W = 16
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.selectExpr("doc_id", f"{_toks()} AS toks")
    nblk = F.ceil(F.size("toks") / F.lit(W)).cast("int")
    blocks = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nblk - 1)).alias("b"),
        "toks",
    ).select(
        "doc_id",
        "b",
        F.array_join(F.slice("toks", F.col("b") * W + 1, W), " ").alias(
            "chunk"
        ),
    ).withColumn("fp", F.md5("chunk"))
    meta = (
        blocks.select("doc_id", "fp")
        .distinct()
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("ndocs"),
            F.min("doc_id").alias("keep_doc"),
        )
    )
    kept = (F.col("ndocs") == 1) | (F.col("doc_id") == F.col("keep_doc"))
    return (
        blocks.join(meta, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(kept.cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(
                                    F.col("b").alias("b"),
                                    F.col("chunk").alias("chunk"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )


def q_text_perplexity_bigram(spark, sf_dir):
    """Bigram-LM fluency scores: per document, the mean -log2
    conditional probability of its adjacent token pairs under the
    corpus's own add-0.5-smoothed bigram table (p = (c12+0.5)/
    (c1+0.5V)) and the derived perplexity 2^mean — the next model
    order above `text_perplexity_unigram`, separating repetitive
    boilerplate (low) from incoherent token soup (high). Pairs from
    array-slice zips (no positional self-join); scoring is a
    corpus-bigram-sized (w1,w2) hash join — never broadcast — then
    one doc-keyed average. Rounded to 6 decimals (summation order +
    libm log ulp differ across engines)."""
    from idr_data_pipelines_spark.llmdata.text import bigram_logprob_scores
    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    # single-file testdata scans as one split, serializing the three
    # tokenize/explode map passes (pairs ×2 + vocab) onto one task —
    # spread the raw rows first, as emb_semdedup/flagship do (no-op on
    # a real multi-file corpus)
    docs = spread_small_scan(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    s = bigram_logprob_scores(docs)
    return s.select(
        "doc_id",
        F.round("mean_neg_log2p", 6).alias("mean_neg_log2p"),
        F.round(F.pow(F.lit(2.0), F.col("mean_neg_log2p")), 6).alias("ppl"),
        "n_pairs",
    )


def q_sink_bucketed_join(spark, sf_dir):
    """Bucketed co-located fact⋈fact join — the `sink_table_bucketed`
    payoff demonstrated end-to-end: stage orders and customer as
    parquet tables bucketed 8 ways on their join keys (sorted within
    buckets), then sort-merge-join the staged tables and aggregate
    per customer. Both scans arrive bucket-aligned, so the join plans
    with ZERO Exchange and zero per-side Sort (pinned by
    tests/test_plans.py::test_bucketed_join_no_exchange); the
    post-join groupBy rides the same custkey partitioning. At 100 TB
    this is the difference between a full two-sided shuffle per run
    and none (write-once, join-many). The merge hint stops Spark
    broadcasting the (locally tiny) customer side, which would
    bypass the bucketed path being demonstrated; values are oracled
    as the plain join+rollup."""
    from idr_data_pipelines_spark.sources.sinks import sink_table_bucketed

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    sink_table_bucketed(
        orders, "bkt_orders", ["o_custkey"], 8, sort_cols=["o_custkey"]
    )
    sink_table_bucketed(
        cust, "bkt_customer", ["c_custkey"], 8, sort_cols=["c_custkey"]
    )
    o = spark.table("bkt_orders")
    c = spark.table("bkt_customer")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(_money_sum(F.col("o_totalprice")), 2).alias(
                "total_price"
            ),
        )
    )


def q_corpus_shuffle_shards(spark, sf_dir):
    """Epoch-deterministic training shuffle, materialized as shards:
    every document gets (shard, pos) as a pure function of
    (doc_id, epoch) — reading shards in order IS the shuffled epoch,
    reproducible on any cluster and restartable mid-epoch; a new
    epoch value is a fresh decorrelated permutation. The shard
    assignment is a pure projection (60-bit md5 prefix mod n_shards);
    within-shard position is a window partitioned BY SHARD — never a
    global ORDER BY funnel (n_shards independent sorts, each ~1/
    n_shards of the corpus; choose n_shards ≈ output-file count at
    100 TB)."""
    from idr_data_pipelines_spark.llmdata.sampling import shuffle_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(docs, "doc_id", n_shards=8, epoch=1)


def q_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing (p_i ∝ n_i^0.5) — the standard
    multi-source LM recipe: alpha<1 up-weights small high-quality
    sources against the web-crawl head. One count shuffle; every
    share computed on the collapsed |sources|-row frame with a 1-row
    broadcast normalizer. Shares rounded to 6 decimals (pow/double
    libm ulp differs across engines)."""
    from idr_data_pipelines_spark.llmdata.sampling import (
        temperature_mix_shares,
    )

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix_shares(docs, "source", alpha=0.5)
    return out.select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.round("nat_share", 6).alias("nat_share"),
        F.round("temp_share", 6).alias("temp_share"),
        F.round("boost", 6).alias("boost"),
    )


def q_text_vocab_coverage(spark, sf_dir):
    """Tokenizer-budget analysis: vocabulary size needed to cover
    50/90/99% of all token occurrences, most-frequent-first. The only
    corpus-sized pass is the token count (one shuffle, map-side
    combine); rank + running total use a global ordered window that
    is safe ONLY on the collapsed vocab frame (the plan linter's
    collapsed-frame rule checks this shape); threshold election is a
    conditional-min agg — thresholds never multiply the vocab frame."""
    from idr_data_pipelines_spark.llmdata.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return vocab_coverage(docs, "text", thresholds=(0.5, 0.9, 0.99))


def q_dedup_keep_best(spark, sf_dir):
    """Near-dup collapse with a QUALITY-chosen survivor (the
    RefinedWeb/FineWeb policy): clusters from the transitive closure
    of the deterministic pair rule (consecutive ids, n_chars sum ≡ 0
    mod 3 — same rule as dedup_clusters so the DuckDB oracle replays
    the closure with a recursive CTE), keeper = the member with MAX
    n_chars (min doc_id on ties) — the best copy survives, not the
    smallest id. Keeper election is a min_by-struct agg over the
    clustered frame: partial-merge, no per-cluster window, no skew
    trap on a mega-cluster."""
    from idr_data_pipelines_spark.llmdata.dedup import cluster_keep_best

    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("nc_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("nc_b"))
    edges = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .filter(((F.col("nc_a") + F.col("nc_b")) % 3) == 0)
        .select("id_a", "id_b")
    )
    return cluster_keep_best(docs, edges, quality_col="n_chars")


def q_emb_matryoshka_truncate(spark, sf_dir):
    """Matryoshka (MRL) prefix truncation: the first 16 of 64
    components renormalized into a valid cheap embedding, plus the
    retained-norm fraction that decides how deep a retrieval funnel
    can truncate. Engine-exact via the scaled-int idiom: components
    → e6 integers, norms from INTEGER sums of squares (order-free),
    only the final divide/sqrt/round in doubles. Pure projection +
    bounded explode — zero shuffles at any scale."""
    from idr_data_pipelines_spark.llmdata.similarity import matryoshka_prefix

    emb = _t(spark, sf_dir, "embeddings")
    return matryoshka_prefix(emb, prefix_dim=16)


def q_emb_sign_hamming(spark, sf_dir):
    """Binary-embedding compression + Hamming search: every vector
    sign-quantizes to 64 bits packed as two 32-bit halves (8 bytes —
    a 32× compression), and adjacent-id pairs (the deterministic
    candidate set, as in ngram_jaccard_adjacent) get their Hamming
    distance via bit_count(xor) — the angular-distance surrogate
    binary retrieval ranks with. All integer ops, exact and
    order-free in both engines; the pack is a projection, the pair
    join id-keyed. At scale the packed table IS the index: 8 bytes a
    row scans two orders of magnitude faster than raw floats."""
    from idr_data_pipelines_spark.llmdata.similarity import sign_bitpack

    emb = _t(spark, sf_dir, "embeddings")
    s = sign_bitpack(emb, dim=64)
    a = s.select(
        F.col("vec_id").alias("id_a"),
        F.col("sig_hi").alias("ah"),
        F.col("sig_lo").alias("al"),
    )
    b = s.select(
        F.col("vec_id").alias("id_b"),
        F.col("sig_hi").alias("bh"),
        F.col("sig_lo").alias("bl"),
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(F.col("ah").bitwiseXOR(F.col("bh")))
                + F.bit_count(F.col("al").bitwiseXOR(F.col("bl")))
            ).cast("bigint").alias("hamming"),
        )
    )


def q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental NEAR-dup probe (the near-dup analogue of
    `dedup_incremental`'s exact anti-join, the daily-ingest shape):
    documents with doc_id % 7 == 0 act as the new batch, the rest as
    the existing corpus; the batch's md5-32 LSH bands probe the
    corpus's band index and collisions are verified with exact
    Jaccard ≥ 0.5. Only the batch is signed fresh; at production
    scale the corpus band table is write-once, bucketed by band_key
    (`sink_table_bucketed`), so each probe shuffles batch-sized data
    only. Fully engine-portable (same md5-32 hash family as
    dedup_minhash_md5), so the whole probe carries a value-hash
    oracle."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        minhash_md5_incremental_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return minhash_md5_incremental_pairs(
        batch, corpus, num_perm=16, bands=4, shingle_k=3,
        jaccard_threshold=0.5,
    )


def q_decontaminate_report(spark, sf_dir):
    """Contamination AUDIT rollup — the per-source report a curation
    run publishes alongside the decontaminated corpus: for each
    source, documents flagged (≥5% of distinct 3-grams found in the
    benchmark), the flag rate, and the corpus-weighted contamination
    (Σ matched / Σ total n-grams — exact integer sums, unlike a mean
    of per-doc ratios whose double summation order would vary with
    partitioning). Same single-pass broadcast-join scoring as
    `decontaminate`; the report adds one |sources|-row aggregate."""
    from idr_data_pipelines_spark.llmdata.decontaminate import (
        contamination_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    sc = contamination_scores(corpus, bench, k=3)
    return (
        sc.join(corpus.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("contam_ratio") >= 0.05).cast("long")).alias(
                "n_flagged"
            ),
            F.sum("n_matched").alias("__m"),
            F.sum("n_ngrams").alias("__t"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            F.round(
                F.col("n_flagged").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("flag_rate"),
            F.round(
                F.col("__m").cast("double") / F.col("__t").cast("double"), 6
            ).alias("contam_weighted"),
        )
    )


def q_orders_basket_lift(spark, sf_dir):
    """Association rules over the capped basket pairs: lift
    (P(ab)/(P(a)·P(b))) and confidence for the top-20 part pairs —
    the step after `basket_pairs`' raw co-occurrence counts. All
    supports are exact integers off ONE capped (order, part) frame
    (the ≤32-parts skew guard applies before pair generation, as in
    basket_pairs); the basket total is a 1-row broadcast; lift is a
    single multiply-divide over integer inputs — bit-identical in
    both engines — rounded to 6 before the rank so the top-k cut is
    partition-invariant. Support ≥2 prunes noise pairs before the
    per-item joins."""
    d0 = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    small = (
        d0.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= 32)
        .select("l_orderkey")
    )
    d = d0.join(small, "l_orderkey", "left_semi")
    nb_total = d.agg(
        F.count_distinct("l_orderkey").alias("__N")
    )
    item = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("ni"))
    a = d.alias("a")
    b = d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    scored = (
        pairs.join(
            item.select(
                F.col("l_partkey").alias("part_a"), F.col("ni").alias("na")
            ),
            "part_a",
        )
        .join(
            item.select(
                F.col("l_partkey").alias("part_b"), F.col("ni").alias("nb")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(nb_total))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.col("__N").cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
            F.round(
                F.col("support").cast("double") / F.col("na").cast("double"),
                6,
            ).alias("confidence"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(20)


def q_ann_recall_eval(spark, sf_dir):
    """ANN index-quality evaluation: recall@5 of the fixed-quantizer
    IVF index (nprobe=2 of 16 cells) against exact brute-force ground
    truth, per query — the measurement a pipeline publishes BEFORE
    trusting an approximate index (you don't ship an ANN index
    without a recall number). Ground truth is the all-pairs baseline
    (the one justified cartesian, same waiver as ann_topk_bruteforce)
    over a BOUNDED query sample — at 100 TB the eval runs on ~1k
    sampled queries, so the brute-force side stays |sample|·corpus
    with the sample broadcast, while the index side is the production
    probe plan. Hit counting is an integer left-join aggregate —
    exact in both engines; recall is one IEEE divide."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine_topk_ivf_fixed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    gt = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ap = cosine_topk_ivf_fixed(
        emb, queries, k=5, n_centroids=16, nprobe=2
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    return (
        gt.join(ap, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"))
        .select(
            "query_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.col("n_hits") / F.lit(5.0), 6).alias("recall_r"),
        )
    )


def q_emb_knn_graph(spark, sf_dir):
    """Cell-local exact k-NN graph (top-3 cosine neighbors within
    each fixed-seed coarse cell) — the candidate graph SemDeDup-style
    curation and graph-based filtering traverse. Assignment is a pure
    projection; the self-join is a cluster-id equi-join (bucketed at
    scale → shuffle-free); fold cosines replay bit-for-bit in SQL so
    the whole graph carries a value-hash oracle. See
    knn_graph_fixed_cells for the 100 TB shape."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        knn_graph_fixed_cells,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_graph_fixed_cells(emb, k=3, n_clusters=16)
    return out.select(
        "src_id",
        "dst_id",
        F.round(F.col("cosine"), 6).alias("cosine_r"),
        "rank",
    )


def q_emb_covariance(spark, sf_dir):
    """Feature covariance + correlation matrix over the embedding
    column (the PCA/whitening/feature-selection input), exact via the
    scaled-int idiom: ONE mapInPandas pass emits per-partition int64
    partial sums (numpy matmul per Arrow batch), merged by a single
    DECIMAL(38,0) aggregation — shuffle volume O(partitions·d²)
    regardless of corpus size, vs the rows·d²/2 a posexplode
    self-join would move. Integer sums are order-free ⇒ partition-
    invariant; the final divides are fixed-order IEEE doubles, so
    the 2080-row matrix hash-matches the SQL oracle."""
    from idr_data_pipelines_spark.llmdata.similarity import covariance_scaled

    emb = _t(spark, sf_dir, "embeddings")
    return covariance_scaled(emb)


def q_sample_balanced_labels(spark, sf_dir):
    """Class-balanced exact downsampling: every label keeps exactly
    min-class-count rows (data-derived floor — here the rarest of the
    10 label classes), elected by md5 rank within the label. The
    deterministic class-rebalancing primitive an eval-set or
    fine-tune mix applies; `sample_exact_k_per_group` with k computed
    FROM the data. One count agg + one per-label rank shuffle."""
    from idr_data_pipelines_spark.llmdata.sampling import (
        sample_balanced_labels,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return sample_balanced_labels(emb, "label", "vec_id").select(
        "vec_id", "label"
    )


def q_docs_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty vs everything earlier in corpus
    order (doc_id as ingest time): fraction of the doc's distinct
    word-3-grams whose FIRST corpus occurrence is this document —
    the curriculum/diversity signal that separates new content from
    re-crawls (order-aware complement of text_shared_ngrams). One
    shingle scan, two shuffles (gram-key window + doc rollup)."""
    from idr_data_pipelines_spark.llmdata.dedup import ngram_novelty_stats

    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    return ngram_novelty_stats(docs, k=3)


def q_docs_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): score every document
    by the mean log-likelihood ratio of its hashed word-bigram
    features under the target slice (lang='en' here) vs the raw
    corpus — the classifier-free reweighting that importance-resamples
    a crawl toward a domain. One shingle scan; the only corpus-wide
    shuffle is the 1024-key bucket aggregate (map-side combined); the
    bucket log-ratio table broadcasts back. md5 buckets + add-0.5
    smoothing keep both engines on identical arithmetic."""
    from idr_data_pipelines_spark.llmdata.sampling import (
        dsir_logratio_weights,
    )

    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    return dsir_logratio_weights(docs, F.col("lang") == "en")


def q_emb_label_agreement(spark, sf_dir):
    """k-NN label-agreement noise screen (Confident-Learning-style):
    per vector, the fraction of its cell-local top-3 cosine neighbors
    sharing its label — near-zero agreement flags probable mislabels
    before anyone trains on the labels. Rides the emb_knn_graph plan
    (cell-bounded self-join) plus one id-keyed label join and an
    integer rollup; lone-in-cell vectors report n_neighbors=0 with a
    null ratio in BOTH engines (0/0 → null in Spark and DuckDB)."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        label_agreement_scores,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return label_agreement_scores(emb, k=3, n_clusters=16)


def q_docs_zipf_lexical(spark, sf_dir):
    """Per-source lexical health profile: token/type/hapax counts,
    type-token ratio, hapax fraction, and the Zipf slope (OLS of
    log-freq on log-rank over the source's top-50 tokens) — the
    corpus-level quality screen that catches template boilerplate
    (flat slope) and generator noise (steep slope). One token scan →
    (source, token) count shuffle; everything after rides the
    collapsed frame. Rank ties can't move the slope (equal counts ⇒
    equal log-freq at interchangeable ranks)."""
    from idr_data_pipelines_spark.llmdata.text import zipf_lexical_stats

    from idr_data_pipelines_spark.sources.parquet import spread_small_scan

    docs = spread_small_scan(_t(spark, sf_dir, "documents"))
    return zipf_lexical_stats(docs, top_n=50)


def q_emb_norm_outliers(spark, sf_dir):
    """Per-label embedding-norm outliers (|z| > 2 on the squared L2
    norm) — the cheap screen that catches truncated vectors, collapsed
    encoders, and scale drift before any similarity search runs.
    Exact via the scaled-int idiom: e6-quantized integer sums of
    squares per row, DECIMAL(38,0) group moments, fixed-order double
    divides at the end. The corpus never shuffles — the 10-row moment
    frame broadcasts back onto the projection."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        norm_outliers_scaled,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return norm_outliers_scaled(emb, z_threshold=2.0)


def q_emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive/retrieval training: per
    anchor, the top-3 highest-cosine vectors with a DIFFERENT label,
    mined cell-locally (the anchor's fixed-seed coarse cell) — exactly
    how production miners draw negatives from an ANN index's buckets
    rather than an exact corpus scan. Rides the emb_knn_graph join
    shape with the label-mismatch predicate in the join condition, so
    same-label pairs never materialize."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        hard_negatives_fixed_cells,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = hard_negatives_fixed_cells(emb, k=3, n_clusters=16)
    return out.select(
        "anchor_id",
        "negative_id",
        F.round(F.col("cosine"), 6).alias("cosine_r"),
        "rank",
    )


def q_emb_power_iteration(spark, sf_dir):
    """First principal component without any ML library: two fixed
    power-iteration steps from the all-ones seed over the 9-decimal
    covariance matrix (emb_covariance's cov_r — bit-identical doubles
    in both engines), plus the Rayleigh-quotient eigenvalue estimate.
    The corpus is touched once (the covariance pass); each iteration
    is a broadcast matvec on the d²-row matrix frame with
    collapsed-frame window normalizations. The final 1-row eigenvalue
    frame crossJoins back (waived — it IS one broadcast row)."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        power_iteration_top_eig,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return power_iteration_top_eig(emb, n_iter=2)


# ===================================================================
# round-7 session-6 additions: data-quality expectations / EWMA
# smoothing / cross-split leakage audit / language-ID audit /
# per-source length-outlier trim
# ===================================================================


# q_dq_expectations fixture-coupled bounds, declared ONCE so a
# testdata regeneration is fixed at one site (PLANS.md records an
# earlier -944 freshness-metric bug from exactly this coupling). The
# as-of date is one year past the fixture's last o_orderdate; the
# quantity range is TPC-H's generator domain.
_DQ_FRESHNESS_AS_OF = "2002-06-30"
_DQ_QTY_LO, _DQ_QTY_HI = 1, 50


def q_dq_expectations(spark, sf_dir):
    """Declarative data-quality expectation suite (the
    Great-Expectations-style pre-publish gate a production pipeline
    runs before promoting a batch): one report row per expectation —
    primary-key uniqueness, referential integrity (orders→customer,
    an anti-join count), value-range violations, null counts, and
    freshness vs a fixed as-of date. Every check collapses its table
    scan to a single row BEFORE the union; the anti-join's dim side
    is broadcast. Failures are data, not exceptions: `passed` is a
    column, so the report can be sunk and alerted on. Each check
    scans independently (orders feeds three of them) — the deliberate
    trade for multi-table coverage and a uniform report schema; for
    many rules on ONE table, `operators` `validate_warehouse`
    compiles the whole rule set into a single pass."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")

    def report_row(name, table, metric_df, threshold):
        return metric_df.select(
            F.lit(name).alias("check_name"),
            F.lit(table).alias("table_name"),
            F.col("metric").cast("bigint").alias("metric"),
            F.lit(threshold).cast("bigint").alias("threshold"),
            (F.col("metric") <= F.lit(threshold)).alias("passed"),
        )

    unique = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias(
            "metric"
        )
    )
    orphans = (
        orders.join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("metric"))
    )
    qty_range = lineitem.agg(
        F.sum(
            (
                (F.col("l_quantity") < _DQ_QTY_LO)
                | (F.col("l_quantity") > _DQ_QTY_HI)
            ).cast("bigint")
        ).alias("metric")
    )
    acct_nulls = customer.agg(
        F.sum(F.col("c_acctbal").isNull().cast("bigint")).alias("metric")
    )
    freshness = orders.agg(
        F.datediff(
            F.lit(_DQ_FRESHNESS_AS_OF).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("metric")
    )
    return (
        report_row("unique_o_orderkey", "orders", unique, 0)
        .unionAll(report_row("fk_orders_customer", "orders", orphans, 0))
        .unionAll(
            report_row(
                f"range_l_quantity_{_DQ_QTY_LO}_{_DQ_QTY_HI}",
                "lineitem",
                qty_range,
                0,
            )
        )
        .unionAll(report_row("not_null_c_acctbal", "customer", acct_nulls, 0))
        .unionAll(report_row("freshness_o_orderdate", "orders", freshness, 365))
    )


# exact DECIMAL-LITERAL weights, not 0.7**j: Python's power
# (0.7**2 = 0.48999…94) differs from the parsed literal 0.49 in the
# last ulp — both engines must parse the SAME decimal strings
_EWMA_WEIGHTS = [
    1.0, 0.7, 0.49, 0.343, 0.2401,
    0.16807, 0.117649, 0.0823543,
]


def _ewma_lag_algebra(w, value_col: str):
    """The EWMA recurrence as closed-form LAG algebra over window
    ``w`` (adjust=True form, decay 0.7, last 8 observations): num =
    Σ rʲ·x₍ᵢ₋ⱼ₎ over PRESENT terms, den = Σ rʲ over the same — one
    window shuffle, no stateful recursion. Null when no present
    terms. Property-tested against a pure-Python replay over
    generated streams (tests/test_session6_property.py)."""
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j, wt in enumerate(_EWMA_WEIGHTS):
        lagged = (
            F.col(value_col) if j == 0 else F.lag(value_col, j).over(w)
        )
        num = num + F.lit(wt) * F.coalesce(lagged, F.lit(0.0))
        den = den + F.lit(wt) * lagged.isNotNull().cast("double")
    return F.when(den > 0, F.round(num / den, 6))


def q_evt_ewma_rolling(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values
    (the smoothing step of an anomaly/trend monitor), decay 0.7 over
    the last 8 observations. The EWMA recurrence is re-expressed as
    closed-form LAG algebra — eight lag terms over ONE partitioned
    ordered window (num = Σ rʲ·x₍ᵢ₋ⱼ₎, den = Σ rʲ over present terms,
    the `adjust=True` form) — so the plan is a single per-user
    window shuffle: no UDF, no recursive state, no array-ordering
    dependence. (ts, event_id) is a total order per user, so lags
    are deterministic in both engines."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        _ewma_lag_algebra(w, "value").alias("ewma"),
    )


def q_dedup_cross_split_leakage(spark, sf_dir):
    """Train/validation LEAKAGE audit — the near-dup check a training
    run publishes before trusting its held-out loss: documents split
    80/20 by the portable md5 hash-bucket (split membership is a pure
    function of doc_id — stable across reruns and engines), then the
    val side's md5-32 MinHash bands probe the train side's band index
    and collisions are verified with exact Jaccard ≥ 0.5. One report
    row per leaked val doc with its best train match (max Jaccard,
    min train id on ties — a min_by-struct agg, no per-doc window).
    Scale shape is `dedup_minhash_incremental`'s: the val side is
    val-sized everywhere, the train band index is write-once and
    bucketed by band_key in production.

    r14: both sides are slices of ONE corpus, so the probe runs
    through ``minhash_md5_split_probe`` — one signature/band pass
    sliced by the split predicate and one shared candidate-shingle
    table, instead of the generic two-frame form's two full corpus
    chains. Pair set, Jaccard values and the report are identical
    (the split predicate is the same pure function of doc_id)."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        minhash_md5_split_probe,
    )
    from idr_data_pipelines_spark.llmdata.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_md5_split_probe(
        docs,
        f"{hash_bucket('id', buckets=5, salt='split')} = 0",
        num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5,
    )
    best = pairs.groupBy("id_new").agg(
        F.min(
            F.struct(
                (-F.col("jaccard_r")).alias("nj"),
                F.col("id_old").alias("tid"),
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    return best.select(
        F.col("id_new").alias("val_doc"),
        F.col("b.tid").alias("train_doc"),
        F.round(-F.col("b.nj"), 6).alias("jaccard_r"),
        "n_matches",
    )


def q_docs_langid_audit(spark, sf_dir):
    """Language-ID quality audit: the confusion crosstab of the
    stored `lang` label vs the marker-stopword heuristic's prediction
    (`llmdata.text.lang_id`), with each cell's share of its true-lang
    row. The classifier is pure column expressions (word-bounded
    regex counts + a first-max CASE — `\\b` means the same thing in
    Java regex and RE2, so the oracle replays the scoring exactly);
    the crosstab is one (lang, predicted) count shuffle plus a
    |langs|-row broadcast total. The audit shape: low diagonal share
    = the heuristic (or the label) is untrustworthy for that slice."""
    from idr_data_pipelines_spark.llmdata.text import lang_id

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pred = docs.selectExpr("lang", f"{lang_id('text')} AS predicted")
    per = pred.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("__t"))
    return per.join(F.broadcast(tot), "lang").select(
        "lang",
        "predicted",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("__t").cast("double"), 6
        ).alias("share"),
    )


def q_docs_length_outliers(spark, sf_dir):
    """Per-source length-outlier trim summary (the tail-clipping step
    published corpus recipes apply before mixing): exact interpolated
    p05/p95 of n_chars WITHIN each source, and how many documents the
    [p05, p95] clip keeps. Two passes over the corpus (percentiles,
    then the flag) with the |sources|-row bounds frame broadcast back
    — the honest exact-percentile recipe; at 100 TB swap in
    approx_percentile with the same plan shape. The kept-flag compares
    UNROUNDED doubles: both engines interpolate lo + frac·(hi−lo)
    from identical integer inputs, so the boundary is bit-identical
    (same contract `agg_percentiles_exact` pins)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    g = docs.groupBy("source").agg(
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.05)).alias(
            "p05"
        ),
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.95)).alias(
            "p95"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )
    kept = (
        docs.join(F.broadcast(g), "source")
        .filter(
            (F.col("n_chars").cast("double") >= F.col("p05"))
            & (F.col("n_chars").cast("double") <= F.col("p95"))
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    # LEFT join + coalesce: a 2-doc source can interpolate BOTH
    # percentiles strictly between its values ([1,100] → [5.95,95.05])
    # and keep nothing — it must still report n_kept=0, not vanish
    return g.join(kept, "source", "left").select(
        "source",
        "n_docs",
        F.round("p05", 6).alias("p05"),
        F.round("p95", 6).alias("p95"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.round(
            F.coalesce("n_kept", F.lit(0)).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("kept_share"),
    )


def _bpe_reseg(word_col: str, bp_col: str):
    """Greedy left-to-right BPE re-segmentation of a single-merge
    round as pure string algebra: chars joined by '|', then a literal
    replace of 'a|b' → 'ab'. replace-all scans left-to-right
    non-overlapping in both Spark and DuckDB — exactly BPE's greedy
    pairing ('aaaa' → (aa)(aa)). Returns the symbol array.
    Property-tested against a pure-Python greedy merger over
    generated words (tests/test_session6_property.py)."""
    return F.split(
        F.replace(
            # 'hello' -> 'h|e|l|l|o' (insert | at every char
            # boundary), then merge the elected pair
            F.regexp_replace(word_col, "(?<=.)(?=.)", "|"),
            F.concat(
                F.substring(bp_col, 1, 1),
                F.lit("|"),
                F.substring(bp_col, 2, 1),
            ),
            F.col(bp_col),
        ),
        r"\|",
    )


def q_text_bpe_merge_round(spark, sf_dir):
    """One FULL BPE training iteration (Sennrich et al. 2016), not
    just the pair statistics: elect the corpus-wide most frequent
    adjacent character pair (ties: pair asc), re-segment every word
    by merging that pair greedily left-to-right, and emit the top-20
    adjacent-SYMBOL pairs of the re-segmented corpus — the input to
    merge round 2. Re-segmentation is pure string algebra replayable
    in any engine: chars joined by '|', then a literal replace of
    'a|b' → 'ab' (replace-all scans left-to-right non-overlapping in
    both Spark and DuckDB — exactly BPE's greedy pairing, e.g.
    'aaaa' → (aa)(aa)). Iterating = re-running this shape with the
    merge list grown by one.

    Scale shape (r10): all pair statistics aggregate over the
    DISTINCT-WORD FREQUENCY TABLE, weighted by word count — Sennrich's
    own formulation — not the raw token stream. The token stream is
    O(corpus); the vocabulary is Zipf-bounded (sf0.1: 601k tokens →
    16k distinct words), so after ONE word-count shuffle (map-side
    combine collapses each partition to its local vocab) every later
    stage — pair election, re-segmentation, round-2 statistics — runs
    on vocab-sized input, and the two plan branches reuse that one
    exchange (ReusedExchange; the pre-r10 form tokenized the corpus
    twice and exploded pairs over the full stream). Counts are
    identical by construction: sum of word frequencies = token count.
    The 1-row elected-merge broadcast is the waived crossJoin."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    p1 = (
        words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "wn",
        )
        .groupBy("pair")
        .agg(F.sum("wn").alias("n"))
    )
    best = (
        p1.orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("bp"))
    )
    seg = (
        words.crossJoin(F.broadcast(best))
        .withColumn("syms", _bpe_reseg("word", "bp"))
        .filter(F.size("syms") >= 2)
    )
    return (
        seg.select(
            "bp",
            F.explode(
                F.zip_with(
                    F.expr("slice(syms, 1, size(syms) - 1)"),
                    F.expr("slice(syms, 2, size(syms) - 1)"),
                    lambda x, y: F.concat(x, F.lit("+"), y),
                )
            ).alias("pair"),
            "wn",
        )
        .groupBy("bp", "pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
        .select(F.col("bp").alias("merge_pair"), "pair", "n")
    )


def q_mm_audio_windows(spark, sf_dir):
    """Audio-modality framing: every payload fans out into OVERLAPPING
    hop windows (frame 32, hop 16 — the STFT front-end shape, unlike
    `mm_frame_sample`'s disjoint stride slices) with per-window
    deterministic features (byte-sum energy proxy + md5 checksum)
    via Arrow-batched mapInPandas. The corpus is ASCII, so the DuckDB
    oracle replays every window with substring arithmetic and ascii()
    sums — the whole binary fan-out is value-hash checked."""
    from idr_data_pipelines_spark.llmdata.multimodal import (
        audio_window_features,
        with_binary_payload,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    with_bin = with_binary_payload(docs, "text", media_type="audio")
    return audio_window_features(with_bin, frame_len=32, hop=16)


def q_emb_pca_project(spark, sf_dir):
    """PCA projection onto the first principal component — the
    compression/drift-monitoring step after `emb_power_iteration`
    trains the direction: every embedding's scalar score along the
    top covariance eigenvector. The eigenvector (d rows) collapses to
    ONE ordered-array row (sort_array of (dim, v) structs inside an
    agg — no global window) and broadcasts onto the corpus (waived
    1-row crossJoin); the projection is a sequential zip_with fold,
    map-only over the corpus. Cross-engine: the fold multiplies the
    6-decimal-rounded eigenvector against double-cast floats in fixed
    dimension order — the same left-fold contract as `_dot_sql`."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        power_iteration_top_eig,
    )

    emb = _t(spark, sf_dir, "embeddings")
    eig = power_iteration_top_eig(emb, n_iter=2)
    vrow = eig.agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("dim"), F.col("v_r")))
            ),
            lambda s: s["v_r"],
        ).alias("vv")
    )
    return emb.crossJoin(F.broadcast(vrow)).select(
        "vec_id",
        "label",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("vv"),
                    F.transform(F.col("embedding"), lambda x: x.cast("double")),
                    lambda v, e: v * e,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("pc1_r"),
    )


def q_dedup_minhash_estimate(spark, sf_dir):
    """MinHash calibration table — est-vs-exact Jaccard for every
    banded candidate pair with NO threshold, the 'can I trust this
    index?' eval a 100 TB dedup run publishes first (the near-dup
    sibling of `ann_recall_eval`). False positives (high est, low
    exact) are precisely the pairs a threshold-only pipeline would
    wrongly collapse. Candidates come from the SAME band join as the
    dedup path; per-pair arithmetic is the portable md5-32 family, so
    the whole calibration replays under the SQL oracle."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        minhash_md5_estimate_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return minhash_md5_estimate_pairs(
        docs, num_perm=16, bands=4, shingle_k=3
    )


def _basket_edges(spark, sf_dir):
    """The support≥2 capped basket co-occurrence graph — the shared
    edge set of `graph_triangles` and `graph_link_prediction` (a<b
    canonical, ≤32-parts skew guard BEFORE pair generation as in
    basket_pairs). Lazy-localCheckpointed: both consumers reference
    the frame several times (degrees, wedge sides, closing joins) and
    the truncation stops the basket pair-agg from being re-planned
    per reference (the graph_khop pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    d0 = li.select("l_orderkey", "l_partkey").distinct()
    small = (
        d0.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("np"))
        .filter(F.col("np") <= 32)
        .select("l_orderkey")
    )
    d = d0.join(small, "l_orderkey")
    return (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("a", "b")
        .localCheckpoint(eager=False)
    )


def q_graph_triangles(spark, sf_dir):
    """Triangle enumeration over the basket co-occurrence graph with
    the published DEGREE-ORDERED orientation (compact-forward /
    Latapy): each undirected edge points from its lower-(degree, id)
    endpoint to the higher, every triangle is found exactly once at
    its lowest-key vertex, and — the 100 TB point — wedge fan-out per
    vertex is bounded by out-degree ≤ O(√m) instead of the raw degree
    of a hot node, so a celebrity part cannot quadratically explode
    the wedge join the way it would under naive a<b orientation.
    Edges are the support≥2 capped basket pairs (`_basket_edges`).
    Output: one row per triangle, part ids sorted ascending.
    key = deg·10¹¹ + id is exact long arithmetic in both engines
    (ids < 10¹¹, degrees < 9·10⁷ by construction here; at larger
    scales widen to a struct comparison)."""
    e = _basket_edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("dg"))
        .select(
            "v", (F.col("dg") * F.lit(100000000000) + F.col("v")).alias("k")
        )
    )
    ek = (
        e.join(deg.withColumnsRenamed({"v": "a", "k": "ka"}), "a")
        .join(deg.withColumnsRenamed({"v": "b", "k": "kb"}), "b")
    )
    o = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.greatest("ka", "kb").alias("kd"),
    ).localCheckpoint(eager=False)  # consumed 3× (two wedge sides + close)
    w1, w2 = o.alias("w1"), o.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.kd") < F.col("w2.kd")),
    ).select(
        F.col("w1.src").alias("x"),
        F.col("w1.dst").alias("y"),
        F.col("w2.dst").alias("z"),
    )
    closed = wedges.join(
        o.select(F.col("src").alias("y"), F.col("dst").alias("z")),
        ["y", "z"],
        "left_semi",
    )
    tri = closed.select(
        F.array_sort(F.array("x", "y", "z")).alias("t")
    ).select(
        F.element_at("t", 1).alias("pa"),
        F.element_at("t", 2).alias("pb"),
        F.element_at("t", 3).alias("pc"),
    )
    return tri


def q_evt_bot_regularity(spark, sf_dir):
    """Timing-regularity bot screen — the event-stream cleaning step
    web/training pipelines run before counting users: per user, the
    coefficient of variation of inter-event gaps (bots fire on
    unnaturally regular schedules → CV near 0; humans are bursty →
    CV ≥ 1). Gaps are EXACT integer microseconds off one per-user
    ordered window; moments are DECIMAL(38,0) sums (a squared gap
    overflows int64 — same exact-moment recipe as
    `emb_norm_outliers`), so only the final fixed-order divides are
    doubles. Users with <5 gaps are excluded (CV of a near-empty
    sample is noise); `is_regular` compares the ROUNDED cv so the
    flag is engine- and partition-stable."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    d = F.col("gap_us").cast("decimal(38,0)")
    # s stays int64 (a per-user gap SUM is a time span, ~3e13 us max);
    # only ss needs decimal headroom
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_us")).alias("s"),
        F.sum(d * d).alias("ss"),
    ).filter(F.col("n_gaps") >= 5)
    n = F.col("n_gaps").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.greatest(
        F.col("ss").cast("double") / n - mean * mean, F.lit(0.0)
    )
    cv = F.when(mean > 0, F.round(F.sqrt(var) / mean, 6))
    # r13 fix (caught by the r15-staging precheck at sf0.1, one row in
    # 1500): ROUND(double, 6) on a ~3e4-magnitude mean needs 10
    # significant digits and the engines' rounding paths split at a
    # half-boundary (Spark 33374.061043 vs DuckDB 33374.061042).
    # Round-half-up of the rational mean s/n microseconds is EXACT in
    # int64 — (2s + n) div (2n) — and dividing that integer by 1e6 is
    # one IEEE-correctly-rounded op, identical in both engines. cv_r
    # keeps the double ROUND: at magnitude ~1 its 6-decimal boundary
    # is not a realistic collision, where the mean's was.
    mean_us_r = F.expr("(2 * s + n_gaps) div (2 * n_gaps)")
    return m.select(
        "user_id",
        "n_gaps",
        (mean_us_r.cast("double") / F.lit(1000000.0)).alias("mean_gap_s"),
        cv.alias("cv_r"),
    ).withColumn("is_regular", F.col("cv_r") < 0.5)


def q_mix_curriculum(spark, sf_dir):
    """Epoch-annealed mixture CURRICULUM (the schedule, not one
    epoch's shares): α interpolates 1.0 → 0.55 over four epochs, so
    training starts on the natural distribution and progressively
    up-weights small high-quality sources (the T5/PaLM α<1 recipe,
    staged). One corpus count shuffle total; the 4-epoch expansion is
    a unionAll of literal-tagged projections of the COLLAPSED
    |sources| frame (no crossJoin, no waiver) and every share rides a
    per-epoch window over |sources|·4 rows. Shares and boosts rounded
    to 6 (pow libm ulp differs across engines)."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("nd")
    )
    epochs = [(1, 1.0), (2, 0.85), (3, 0.7), (4, 0.55)]
    x = None
    for ep, alpha in epochs:
        f = c.select(
            F.lit(ep).alias("epoch"),
            F.lit(alpha).alias("alpha"),
            "source",
            "nd",
            F.pow("nd", F.lit(alpha)).alias("w"),
        )
        x = f if x is None else x.unionAll(f)
    we = Window.partitionBy("epoch")
    share = F.col("w") / F.sum("w").over(we)
    nat = F.col("nd") / F.sum("nd").over(we)
    return x.select(
        "epoch",
        "source",
        F.col("nd").cast("bigint").alias("n"),
        "alpha",
        F.round(share, 6).alias("share_r"),
        F.round(share / nat, 6).alias("boost_r"),
    )


def q_emb_ivf_stats(spark, sf_dir):
    """IVF index HEALTH report — the per-cell audit you publish
    before trusting an IVF ANN index: vectors per cell, cell share
    (imbalance = hot cells = slow probes), and the mean/min cosine of
    members to their own centroid (low mean = the centroid does not
    represent its cell; raise n_clusters). Assignment is the
    fold-path `assign_fixed_clusters` (oracle-replayable); per-vector
    cosines round to e6 INTEGERS before the cell mean so the sum is
    order-exact; shares ride a window over the collapsed 16-row cell
    frame (no crossJoin)."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        _as_double,
        assign_fixed_clusters,
        dot,
        norm,
    )

    emb = _t(spark, sf_dir, "embeddings")
    a = assign_fixed_clusters(emb, n_clusters=16, vectorized=False)
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cluster_id"),
        _as_double("embedding").alias("cvec"),
    )
    cos = dot(F.col("vec"), F.col("cvec")) / (
        F.col("nrm") * norm(F.col("cvec"))
    )
    e = a.join(F.broadcast(cents), "cluster_id").select(
        "cluster_id",
        F.floor(cos * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("ce6"),
    )
    m = e.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("ce6").alias("s"),
        F.min("ce6").alias("mn"),
    )
    w = Window.partitionBy()
    return m.select(
        "cluster_id",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double")
            / F.sum("n_vectors").over(w).cast("double"),
            6,
        ).alias("share_r"),
        F.round(
            F.col("s").cast("double")
            / F.col("n_vectors").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("mean_cos_r"),
        F.round(
            F.col("mn").cast("double") / F.lit(1000000.0), 6
        ).alias("min_cos_r"),
    )


def q_evt_late_arrival_audit(spark, sf_dir):
    """Watermark-tuning audit — the number you need BEFORE choosing a
    streaming watermark: treating event_id as arrival order within
    each user's stream, how late does each event arrive relative to
    the max event-time already seen (running max over the per-user
    arrival window), and what fraction of events each candidate
    watermark would drop? One per-user window + one 1-row rollup per
    candidate (collapsed before the union). Lateness is exact integer
    microseconds; shares ride exact counts."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    late = ev.select(
        (F.greatest(F.max(us).over(w) - us, F.lit(0))).alias("late_us")
    ).select(F.coalesce("late_us", F.lit(0)).alias("late_us"))
    candidates = [
        ("1m", 60_000_000),
        ("10m", 600_000_000),
        ("1h", 3_600_000_000),
        ("1d", 86_400_000_000),
    ]
    # ONE window pass: all candidate drop counts in a single agg, then
    # an exploded struct array fans the 1-row frame to one row per
    # candidate (a per-candidate union would recompute the lateness
    # window 4×)
    one = late.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum((F.col("late_us") > wm_us).cast("bigint")).alias(
                f"__d_{label}"
            )
            for label, wm_us in candidates
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(label).alias("watermark"),
                F.col("__n").alias("n_events"),
                F.col(f"__d_{label}").alias("n_dropped"),
            )
            for label, _ in candidates
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.watermark", "r.n_events", "r.n_dropped")
        .withColumn(
            "drop_share",
            F.round(
                F.col("n_dropped").cast("double")
                / F.col("n_events").cast("double"),
                6,
            ),
        )
    )


def q_ivm_join_delta(spark, sf_dir):
    """Incremental view maintenance of a JOIN view (the delta algebra
    Δ(A⋈B) = ΔA⋈B⁰ ∪ A⁰⋈ΔB ∪ ΔA⋈ΔB): the orders⋈customer revenue
    rollup is maintained from the old snapshot plus delta batches on
    BOTH sides, and must equal the full recomputation — which is
    exactly what the oracle computes, so the driver hash verifies the
    algebra itself (the join sibling of `agg_incremental`'s
    aggregate-merge). All three delta terms are delta-sized joins:
    the old fact is never rescanned against the old dim. Exact cent
    sums keep the equality portable."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    d_o = F.col("o_orderkey") % 13 == 0
    d_c = F.col("c_custkey") % 11 == 0
    o0, do = orders.filter(~d_o), orders.filter(d_o)
    c0, dc = customer.filter(~d_c), customer.filter(d_c)

    def rollup(o, c):
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .select(
                "c_nationkey",
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
                .cast("bigint")
                .alias("cents"),
            )
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents"),
            )
        )

    merged = (
        rollup(o0, c0)
        .unionAll(rollup(do, c0))
        .unionAll(rollup(o0, dc))
        .unionAll(rollup(do, dc))
        .groupBy("c_nationkey")
        .agg(F.sum("n").alias("n_orders"), F.sum("cents").alias("__c"))
    )
    return merged.select(
        "c_nationkey",
        "n_orders",
        (F.col("__c").cast("double") / F.lit(100.0)).alias("revenue"),
    )


def q_dedup_minhash_clusters(spark, sf_dir):
    """The production dedup story END-TO-END with a full value-hash
    oracle: real banded-MinHash near-dup pairs (the md5-32 family) →
    transitive closure via pointer-doubling label propagation →
    (doc_id, cluster_id, cluster_size) for every clustered doc.
    Unlike `dedup_clusters` (whose synthetic edge rule exists so the
    closure itself is verifiable), the edges here are the REAL
    similarity candidates — the oracle replays the entire chain:
    signatures, band join, Jaccard verify, then a recursive-CTE
    closure. Scale shape: pair generation is the bucketed LSH path
    (never all-pairs); propagation converges in O(log diameter)
    doubling rounds, each two shuffles over the (small) clustered
    vertex set only."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        connected_components,
        minhash_md5_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_md5_lsh_pairs(
        docs, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(F.broadcast(sizes), "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


def q_evt_ab_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    the industry-standard pre-experiment covariate adjustment):
    per-user pre-period value (ts < 2024-01-16) is the covariate for
    the post-period metric; θ = cov(pre, post)/var(pre) is fit POOLED
    across arms (the published recipe — fitting per-arm biases the
    contrast), and each arm reports its raw and adjusted means plus
    the theoretical variance-reduction ρ². Every moment is an EXACT
    integer/decimal sum of e6-scaled values (user sums of doubles
    would vary with partition order); θ/ρ²/means are fixed-order
    double expressions over the COLLAPSED 2-row arm frame with pooled
    moments as window sums — no crossJoin, no waiver."""
    e = _events(spark, sf_dir)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    v6 = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cutoff, v6).otherwise(0)).alias(
                "pre6"
            ),
            F.sum(F.when(F.col("ts") >= cutoff, v6).otherwise(0)).alias(
                "post6"
            ),
        )
        .withColumn(
            "arm",
            F.when(
                _ab_parity() == 0,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(d("pre6")).alias("sp"),
        F.sum(d("post6")).alias("so"),
        F.sum(d("pre6") * d("pre6")).alias("spp"),
        F.sum(d("post6") * d("post6")).alias("soo"),
        F.sum(d("pre6") * d("post6")).alias("spo"),
    )
    w = Window.partitionBy()
    n = F.sum("n_users").over(w).cast("double")
    Sp = F.sum("sp").over(w).cast("double")
    So = F.sum("so").over(w).cast("double")
    Spp = F.sum("spp").over(w).cast("double")
    Soo = F.sum("soo").over(w).cast("double")
    Spo = F.sum("spo").over(w).cast("double")
    mpre = Sp / n
    mpost = So / n
    cov = Spo / n - mpre * mpost
    varp = Spp / n - mpre * mpre
    varo = Soo / n - mpost * mpost
    theta = F.when(varp > 0, cov / varp)
    rho2 = F.when((varp > 0) & (varo > 0), cov * cov / (varp * varo))
    na = F.col("n_users").cast("double")
    mean_post = F.col("so").cast("double") / na
    mean_pre = F.col("sp").cast("double") / na
    return arms.select(
        "arm",
        "n_users",
        F.round(mean_post / F.lit(1000000.0), 6).alias("mean_post_r"),
        F.round(
            (mean_post - theta * (mean_pre - mpre)) / F.lit(1000000.0), 6
        ).alias("mean_adj_r"),
        F.round(theta, 6).alias("theta_r"),
        F.round(rho2, 6).alias("rho2_r"),
    )


def q_docs_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix — the provenance question a
    multi-source corpus audit answers ('which feeds copy from each
    other?'): real banded-MinHash near-dup pairs rolled up to
    (source_a, source_b) cell counts, sources ordered so each
    unordered source pair lands in ONE cell (diagonal = within-source
    duplication). Pair generation is the bucketed LSH path; the
    rollup adds one |sources|²-bounded aggregate and two broadcast
    doc→source joins."""
    from idr_data_pipelines_spark.llmdata.dedup import minhash_md5_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_md5_lsh_pairs(
        docs, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5
    )
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.withColumnsRenamed({"doc_id": "id_a", "source": "sa"}),
            "id_a",
        )
        .join(
            src.withColumnsRenamed({"doc_id": "id_b", "source": "sb"}),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def q_evt_user_activity_entropy(spark, sf_dir):
    """Behavioral-diversity screen (the bot screen's second axis —
    `evt_bot_regularity` looks at WHEN, this looks at WHAT): Shannon
    entropy of each user's event-type distribution; a user who only
    ever fires one event type has entropy 0 and reads as a scripted
    client. Entropy via log2(n) − Σ c·log2(c) / n — exact integer
    counts through one (user, type) shuffle + one user rollup, a
    single fixed-order divide at the end."""
    ev = _events(spark, sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.col("c").cast("double") * F.log2(F.col("c").cast("double"))
        ).alias("__clogc"),
    )
    return m.select(
        "user_id",
        "n",
        "n_types",
        F.round(
            F.log2(F.col("n").cast("double"))
            - F.col("__clogc") / F.col("n").cast("double"),
            6,
        ).alias("entropy_r"),
    )


def q_graph_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction over the basket graph — the
    classic "parts frequently co-bought with both of these" candidate
    generator for recommendations/graph curation: for every
    NON-edge pair sharing ≥2 neighbors, the common-neighbor count and
    neighborhood Jaccard (cn / (deg_a + deg_b − cn)). Candidates come
    from a center-keyed wedge join on the symmetrized adjacency,
    existing edges drop out via anti-join, top-20 by (cn desc, a, b)
    via TakeOrdered. HUB CAP: nodes with degree > 128 are excluded as
    wedge CENTERS (the standard link-prediction mitigation — a
    super-popular item's co-occurrence evidence is uninformative, and
    without the cap wedge cost grows with Σdeg²: the 10× densified
    scale check measured ~16× wall pre-cap; every test SF's max
    degree is ≤ 51, so outputs here are unchanged). Jaccard
    denominators keep FULL degrees — only the evidence-counting path
    is capped."""
    e = _basket_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("ctr"), F.col("b").alias("leaf")).unionAll(
        e.select(F.col("b").alias("ctr"), F.col("a").alias("leaf"))
    )
    deg = adj.groupBy("ctr").agg(F.count(F.lit(1)).alias("dg"))
    adj_ctr = adj.join(
        deg.filter(F.col("dg") <= 128).select("ctr"), "ctr"
    )
    cn = (
        adj_ctr.alias("l")
        .join(
            adj_ctr.alias("r"),
            (F.col("l.ctr") == F.col("r.ctr"))
            & (F.col("l.leaf") < F.col("r.leaf")),
        )
        .groupBy(
            F.col("l.leaf").alias("a"), F.col("r.leaf").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= 2)
        .join(e, ["a", "b"], "left_anti")
    )
    return (
        cn.join(deg.withColumnsRenamed({"ctr": "a", "dg": "da"}), "a")
        .join(deg.withColumnsRenamed({"ctr": "b", "dg": "db"}), "b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard_r"),
        )
        .orderBy(F.desc("cn"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


def q_emb_pq_error(spark, sf_dir):
    """PQ reconstruction-error report — the calibration sibling of
    `emb_ivf_stats` for the PQ codes (`emb_pq_assign`): per subspace,
    the mean and max L2 distance to the assigned codeword — the
    quantization loss that decides whether 4 codes can stand in for
    64 floats. Per-row distances floor to e6 INTEGERS before the
    mean so the sum is order-exact; everything upstream is the
    map-only fold assignment."""
    from idr_data_pipelines_spark.llmdata.similarity import pq_assign_fixed

    emb = _t(spark, sf_dir, "embeddings")
    codes = pq_assign_fixed(emb, n_centroids=16, n_subspaces=4, dim=64)
    # dist_r is already the 6-rounded distance both engines emit, so
    # flooring it to e6 integers is the identical double on both sides
    e6 = F.floor(
        F.col("dist_r") * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    return (
        codes.select("subspace", e6.alias("d6"))
        .groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("d6").alias("s"),
            F.max("d6").alias("mx"),
        )
        .select(
            "subspace",
            "n_vectors",
            F.round(
                F.col("s").cast("double")
                / F.col("n_vectors").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("mean_dist_r"),
            F.round(
                F.col("mx").cast("double") / F.lit(1000000.0), 6
            ).alias("max_dist_r"),
        )
    )


# ===================================================================
# invariant-summary forms of the formerly rows-only entries (r11)
#
# Seeded-hash / sketch / sequential operators have no SQL replay, but
# their CONTRACTS do: every one of them guarantees facts an oracle can
# compute from the INPUT alone (exact counts, exact-duplicate
# collapse, accuracy bounds, packing feasibility). Each wrapper below
# runs the full production operator, then reduces its output to a
# summary row set of exact BIGINT counts plus 0/1 invariant flags —
# the counts anchor the hash to input-derived quantities DuckDB
# recomputes independently, and a flag goes 0 (hash mismatch → red
# driver row) the moment the operator violates its contract. This
# turns the driver's weaker rows-only check into a full
# rows+schema+value-hash row (VERDICT r10 item 3) without weakening
# anything: the original full-row forms remain module-level (bench
# times the frozen headline against them — see bench.py
# FROZEN_FORMS — and the accuracy/property tests still consume them),
# and the deterministic md5 twins keep their complete value-hash
# oracles. All flags are BIGINT 0/1, never boolean/float, so the
# driver's dtype-faithful representation hash is stable cross-engine.
# ===================================================================


def _flag(cond) -> F.Column:
    """A boolean invariant as a driver-hashable BIGINT 0/1."""
    return F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("long")


def q_pack_bestfit_invariants(spark, sf_dir):
    """Best-fit-decreasing packing, reduced to its per-source packing
    invariants (VERDICT r10 item 3 — the oracle validates the emitted
    packing instead of replaying the sequential algorithm):
    ``docs_packed``/``tokens_packed`` must equal the input's exact
    count/token mass (every document packed, none invented),
    ``over_capacity_bins`` counts multi-doc bins past capacity (0 by
    the fit rule), ``shared_oversized_bins`` counts oversized docs
    sharing a bin (0 — they are isolated), ``fill_bound_ok`` pins the
    any-fit theorem that at most ONE bin per shard is ≤ half full,
    and ``dup_docs`` is 0 iff no document landed in two packs."""
    return _pack_invariant_summary(q_pack_bestfit(spark, sf_dir))


def _pack_invariant_summary(packs, cap: int = 1024):
    """The packing-invariant reduction behind q_pack_bestfit_invariants,
    factored out so tests can prove the flags are NOT tautologies:
    feeding a deliberately broken packing (over-capacity bin, shared
    oversized doc, double-packed doc, two half-empty bins) must flip
    the corresponding flag/count (tests/test_llmdata.py::
    test_pack_invariant_summary_catches_violations)."""
    bins = packs.groupBy("source", "pack_id").agg(
        F.sum("n_tok").alias("bin_tok"),
        F.count(F.lit(1)).alias("bin_docs"),
        F.max("n_tok").alias("bin_max"),
    )
    per_source = bins.groupBy("source").agg(
        F.sum("bin_docs").cast("long").alias("docs_packed"),
        F.sum("bin_tok").cast("long").alias("tokens_packed"),
        F.sum(
            F.when(
                (F.col("bin_docs") >= 2) & (F.col("bin_tok") > cap), 1
            ).otherwise(0)
        ).cast("long").alias("over_capacity_bins"),
        F.sum(
            F.when(
                (F.col("bin_max") > cap) & (F.col("bin_docs") >= 2), 1
            ).otherwise(0)
        ).cast("long").alias("shared_oversized_bins"),
        _flag(
            F.sum(
                F.when(F.col("bin_tok") * 2 <= cap, 1).otherwise(0)
            ) <= 1
        ).alias("fill_bound_ok"),
    )
    dup = packs.groupBy("source").agg(
        (F.count(F.lit(1)) - F.countDistinct("doc_id"))
        .cast("long")
        .alias("dup_docs")
    )
    return per_source.join(dup, "source").select(
        "source",
        "docs_packed",
        "tokens_packed",
        "over_capacity_bins",
        "shared_oversized_bins",
        "fill_bound_ok",
        "dup_docs",
    )


def q_ann_topk_ivf_invariants(spark, sf_dir):
    """k-means IVF ANN, reduced to its exact contracts: the probe-set
    size anchors the hash to the input; per-query ranks are contiguous
    1..n with n ≤ k and cosines sorted descending; cosines lie in
    [-1, 1]; self never appears; and the IVF top-1 never exceeds the
    exact brute-force top-1 (a probed subset's max cannot beat the
    full corpus max — computed in-session with the same arithmetic,
    1e-6 slack for pipeline-order float drift). Recall floors stay
    pinned in tests; the fixed-quantizer twin (ann_topk_ivf_fixed)
    keeps the complete value-hash oracle."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        cosine_topk_bruteforce,
    )

    out = q_ann_topk_ivf(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)

    w = Window.partitionBy("query_id").orderBy("rank")
    per_q = (
        out.withColumn("__prev_cos", F.lag("cosine_r").over(w))
        .withColumn("__prev_rank", F.lag("rank").over(w))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rank").alias("rmin"),
            F.max("rank").alias("rmax"),
            F.countDistinct("rank").alias("rdist"),
            F.min(
                _flag(
                    F.col("__prev_cos").isNull()
                    | (F.col("cosine_r") <= F.col("__prev_cos"))
                )
            ).alias("sorted_ok"),
            F.min(
                _flag(
                    F.col("__prev_rank").isNull()
                    | (F.col("rank") == F.col("__prev_rank") + 1)
                )
            ).alias("contig_ok"),
            F.min(
                _flag(
                    (F.col("cosine_r") >= -1.000001)
                    & (F.col("cosine_r") <= 1.000001)
                )
            ).alias("range_ok"),
            F.min(
                _flag(F.col("query_id") != F.col("neighbor_id"))
            ).alias("noself_ok"),
            F.max(
                F.when(F.col("rank") == 1, F.col("cosine_r"))
            ).alias("ivf_top1"),
        )
    )
    brute1 = (
        cosine_topk_bruteforce(emb, queries, k=1)
        .filter(F.col("rank") == 1)
        .select(
            "query_id",
            F.round(F.col("cosine"), 6).alias("brute_top1"),
        )
    )
    checked = per_q.join(brute1, "query_id", "left")
    n_probe = queries.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe_queries")
    )
    # coalesce: an empty result set (every probe alone in its probed
    # cells — possible only at toy scale) reads as vacuous truth, not
    # as nulls that would hash-mismatch the oracle's literals
    flags = checked.agg(
        F.coalesce(
            F.min(
                _flag((F.col("rmin") == 1) & (F.col("rmax") == F.col("n"))
                      & (F.col("rdist") == F.col("n")) & (F.col("n") <= 5)
                      & (F.col("contig_ok") == 1))
            ),
            F.lit(1),
        ).cast("long").alias("rank_contract_ok"),
        F.coalesce(F.min("sorted_ok"), F.lit(1)).cast("long")
        .alias("cosine_sorted_ok"),
        F.coalesce(F.min("range_ok"), F.lit(1)).cast("long")
        .alias("cosine_range_ok"),
        F.coalesce(F.min("noself_ok"), F.lit(1)).cast("long")
        .alias("no_self_ok"),
        F.coalesce(
            F.min(
                _flag(
                    F.col("brute_top1").isNotNull()
                    & (F.col("ivf_top1") <= F.col("brute_top1") + 1e-6)
                )
            ),
            F.lit(1),
        ).cast("long").alias("top1_bounded_ok"),
    )
    # Output-side anchor (r11 ADVICE): the flags above coalesce to
    # vacuous 1 on an EMPTY result, so an IVF that returns zero rows
    # for every query would still read green. Every probed cell
    # contains at least the query's own cell minus self — non-trivial
    # at driver scale — so "every probe query got >= 1 neighbor" is a
    # contract the oracle can hard-code, and an empty output flips it
    # to 0 instead of reading as vacuous truth.
    answered = out.agg(
        F.countDistinct("query_id").alias("__answered")
    )
    # broadcast-scalar cross joins: three 1-row frames
    return (
        n_probe.crossJoin(F.broadcast(flags))
        .crossJoin(F.broadcast(answered))
        .select(
            "n_probe_queries",
            "rank_contract_ok",
            "cosine_sorted_ok",
            "cosine_range_ok",
            "no_self_ok",
            "top1_bounded_ok",
            _flag(F.col("__answered") == F.col("n_probe_queries")).alias(
                "all_queries_answered_ok"
            ),
        )
    )


def q_dedup_minhash_lsh_invariants(spark, sf_dir):
    """xxhash64 MinHash-LSH near-dup pairs, reduced to the guarantees
    that hold for ANY correct banded-LSH implementation: exact
    duplicates (identical normalized text) share every signature, so
    they collide in every band and survive the Jaccard-1 verify —
    ``exact_dup_pairs_found`` must therefore equal the input's
    Σ C(n,2) over fingerprint groups, which DuckDB computes
    independently. Plus output discipline: canonical id_a < id_b,
    no duplicate pairs, verified jaccard within (0, 1]. Probabilistic
    near-dup recall stays pinned in tests; dedup_minhash_md5 keeps
    the complete value-hash oracle for the full pipeline."""
    from idr_data_pipelines_spark.llmdata.dedup import minhash_lsh_pairs
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    # Plant exact duplicates: the raw table has none (measured), which
    # would make the recall invariant vacuously 0==0. Re-keyed copies
    # of every 10th document give a KNOWN set of identical-text pairs
    # the LSH is guaranteed to find (identical text -> identical
    # signature -> collision in every band -> Jaccard 1 verify), and
    # the oracle counts the same pairs from the same SQL construction.
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # The re-key offset is max(doc_id)+1, NOT a fixed literal (r11
    # ADVICE: at a scale factor where doc_id reaches a hard-coded
    # offset the planted ids collide with real ids, the id joins fan
    # out, and the invariant rows go red as a data artifact). Pure
    # integer arithmetic over the same unfiltered table as the
    # oracle's subquery, so both engines derive the identical offset;
    # broadcast-scalar cross join (1-row frame), the house pattern.
    off = _t(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + F.lit(1)).alias("__off")
    )
    planted = (
        base.filter(F.col("doc_id") % 10 == 0)
        .crossJoin(F.broadcast(off))
        .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
        .drop("__off")
    )
    corpus = base.unionByName(planted)
    pairs = minhash_lsh_pairs(
        corpus, num_perm=64, bands=16, shingle_k=3, jaccard_threshold=0.5
    )
    docs = corpus.selectExpr("doc_id", f"{fingerprint('text')} AS __fp")
    tagged = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("id_a"), F.col("__fp").alias("fp_a")
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("id_b"), F.col("__fp").alias("fp_b")
            ),
            "id_b",
        )
    )
    # coalesce: aggregates over an EMPTY pair set must read as
    # vacuous truth (0 exact-dup pairs found, no flag violated), not
    # as nulls that would hash-mismatch the oracle's literals
    return tagged.agg(
        F.coalesce(
            F.sum(_flag(F.col("fp_a") == F.col("fp_b"))), F.lit(0)
        ).cast("long").alias("exact_dup_pairs_found"),
        F.coalesce(
            F.min(_flag(F.col("id_a") < F.col("id_b"))), F.lit(1)
        ).cast("long").alias("canonical_ok"),
        _flag(
            F.count(F.lit(1))
            == F.countDistinct(F.col("id_a"), F.col("id_b"))
        ).alias("pairs_unique_ok"),
        F.coalesce(
            F.min(
                _flag((F.col("jaccard") > 0.0) & (F.col("jaccard") <= 1.0))
            ),
            F.lit(1),
        ).cast("long").alias("jaccard_range_ok"),
    )


def q_dedup_simhash_invariants(spark, sf_dir):
    """xxhash64 SimHash signatures, reduced to exact contracts: one
    output row per input row (``n_rows`` anchors the hash), a null
    signature exactly for null text (``null_sigs``), and the
    determinism theorem that identical normalized text yields an
    identical signature (``consistent_ok`` — grouped by content
    fingerprint, each group has exactly one distinct signature).
    Hamming-similarity properties stay pinned in tests;
    dedup_simhash_md5 keeps the complete value-hash oracle."""
    from idr_data_pipelines_spark.llmdata.dedup import simhash_signatures
    from idr_data_pipelines_spark.llmdata.text import fingerprint

    # Same planted-duplicate construction as the minhash invariants:
    # without it every fingerprint group has one member and the
    # consistency check is vacuous. With re-keyed copies, 1-in-10
    # groups have two members whose signatures MUST be bit-identical.
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # max(doc_id)+1 re-key offset, mirrored in the oracle's subquery —
    # see q_dedup_minhash_lsh_invariants for why a fixed literal is a
    # collision hazard at scale
    off = _t(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + F.lit(1)).alias("__off")
    )
    planted = (
        base.filter(F.col("text").isNotNull() & (F.col("doc_id") % 10 == 0))
        .crossJoin(F.broadcast(off))
        .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
        .drop("__off")
    )
    corpus = base.unionByName(planted)
    sigs = simhash_signatures(corpus)  # (id, simhash)
    docs = corpus.select(
        F.col("doc_id").alias("id"),
        "text",
        F.when(
            F.col("text").isNotNull(), F.expr(fingerprint("text"))
        ).alias("__fp"),
    )
    joined = sigs.join(docs, "id")
    per_fp = (
        joined.filter(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.countDistinct("simhash").alias("nsig"))
    )
    counts = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_flag(F.col("simhash").isNull()))
        .cast("long")
        .alias("null_sigs"),
        F.min(
            _flag(F.col("text").isNull() == F.col("simhash").isNull())
        ).alias("null_iff_null_text_ok"),
    )
    consistent = per_fp.agg(
        F.min(_flag(F.col("nsig") == 1)).alias("consistent_ok")
    )
    return counts.crossJoin(F.broadcast(consistent)).select(
        "n_rows", "null_sigs", "null_iff_null_text_ok", "consistent_ok"
    )


def q_text_winnow_fingerprint_invariants(spark, sf_dir):
    """xxhash64 winnowing fingerprints, reduced to the SIGMOD'03
    guarantees an oracle can check from the input: one output row per
    document (``n_rows``); every non-null-text document keeps at
    least one fingerprint (short texts hash whole — so
    ``docs_fingerprinted`` equals the exact non-null count); and per
    document the distinct-fingerprint count never exceeds the k-gram
    count max(1, T-k+1) (``fp_bound_ok``). Window-coverage and
    overlap-detection properties stay pinned in tests;
    text_winnow_md5 keeps the complete value-hash oracle."""
    from idr_data_pipelines_spark.llmdata.text import token_count

    out = q_text_winnow_fingerprint(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.col("text").isNotNull().alias("__has_text"),
        F.greatest(
            F.lit(1), F.expr(token_count("text")) - F.lit(4) + F.lit(1)
        ).alias("__max_fps"),
    )
    joined = out.join(docs, "id")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            _flag(F.col("__has_text") & (F.col("n_fingerprints") >= 1))
        ).cast("long").alias("docs_fingerprinted"),
        F.min(
            _flag(
                ~F.col("__has_text")
                | (F.col("n_fingerprints") <= F.col("__max_fps"))
            )
        ).alias("fp_bound_ok"),
    )


def q_sketch_approx_distinct_invariants(spark, sf_dir):
    """HLL++ distinct-user sketch per event type, checked against the
    exact distinct count computed in the same query: ``exact_users``
    anchors the hash to an input-derived exact quantity, and
    ``within_5pct`` pins the rsd=2% sketch inside the ±max(2, 5%)
    envelope the unit test uses. A broken sketch (or a sketch fed the
    wrong column) flips the flag and the driver row goes red."""
    approx = q_sketch_approx_distinct(spark, sf_dir)
    exact = _events(spark, sf_dir).groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        approx.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            _flag(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.lit(2.0), F.col("exact_users") * F.lit(0.05)
                )
            ).alias("within_5pct"),
        )
    )


def q_sketch_quantiles_invariants(spark, sf_dir):
    """GK-sketch order-value quantiles per priority, checked by rank:
    a percentile_approx result is an actual data value, so its true
    rank is exact — for each of p50/p95/p99 the flag pins
    |rank(approx) − q·n| ≤ max(2, 1%·n) (the unit-test bound;
    accuracy=10000 is ~1e-4 rank error). ``n_orders`` anchors the
    hash; the rank recomputation is one broadcast join of the 5
    summary rows back over orders."""
    approx = q_sketch_quantiles(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    joined = orders.join(F.broadcast(approx), "o_orderpriority")
    ranks = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_flag(F.col("o_totalprice") <= F.col("p50")))
        .alias("r50"),
        F.sum(_flag(F.col("o_totalprice") <= F.col("p95")))
        .alias("r95"),
        F.sum(_flag(F.col("o_totalprice") <= F.col("p99")))
        .alias("r99"),
    )

    def _rank_ok(rank_col: str, q: float) -> F.Column:
        tol = F.greatest(F.lit(2.0), F.col("n_orders") * F.lit(0.01))
        return _flag(
            F.abs(F.col(rank_col) - F.col("n_orders") * F.lit(q)) <= tol
        )

    return ranks.select(
        "o_orderpriority",
        "n_orders",
        _rank_ok("r50", 0.5).alias("p50_ok"),
        _rank_ok("r95", 0.95).alias("p95_ok"),
        _rank_ok("r99", 0.99).alias("p99_ok"),
    )


def q_sketch_hll_union_invariants(spark, sf_dir):
    """DataSketches HLL per-type sketches + hll_union_agg merge,
    checked against exact distinct counts computed in the same query
    — including the union row, whose exact counterpart is the overall
    distinct user count (the merge property the operator exists for).
    ``exact_users`` anchors each group's hash; ``within_5pct`` pins
    the test's accuracy envelope. sketch_hll_md5 exposes actual HLL
    registers to a complete value-hash oracle."""
    approx = q_sketch_hll_union(spark, sf_dir)
    ev = _events(spark, sf_dir)
    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    overall = ev.agg(
        F.lit("ALL").alias("event_type"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    exact = per.unionByName(overall)
    return approx.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        _flag(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(2.0), F.col("exact_users") * F.lit(0.05))
        ).alias("within_5pct"),
    )


def q_sketch_topk_mg_invariants(spark, sf_dir):
    """Misra-Gries top-k heavy hitters, checked against exact counts
    computed in the same query: every estimate is an under-estimate
    (``underestimate_ok``) within N/m of truth (``bound_ok`` — the
    classic MG guarantee, mergeable form), and ``k_returned`` must
    equal min(k, distinct keys) — all three facts DuckDB derives from
    the input alone. Fold-order estimate VALUES are deliberately not
    hashed (partition-order dependent); the exact bounds are the
    portable contract."""
    mg = q_sketch_topk_mg(spark, sf_dir)  # (user_id, est_count)
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    true_counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    n_total = ev.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.countDistinct("user_id").cast("long").alias("__nkeys"),
    )
    joined = mg.join(true_counts, "user_id").crossJoin(
        F.broadcast(n_total)
    )
    return joined.agg(
        # exact input anchors keep the hash non-trivial: the oracle
        # recomputes both from the events table
        F.first("__n").cast("long").alias("n_events"),
        F.first("__nkeys").cast("long").alias("n_keys"),
        _flag(
            F.count(F.lit(1))
            == F.least(F.lit(20), F.first("__nkeys"))
        ).alias("k_returned_ok"),
        F.min(
            _flag(F.col("est_count") <= F.col("true_count"))
        ).alias("underestimate_ok"),
        F.min(
            _flag(
                F.col("est_count")
                >= F.col("true_count") - (F.col("__n") / F.lit(64))
            )
        ).alias("bound_ok"),
    )


def q_evt_distinct_stream_invariants(spark, sf_dir):
    """The streamed DataSketches HLL drain, checked against exact
    per-type distinct counts: the stream (4 files, 2 per micro-batch,
    real checkpointed micro-batches) must land within the batch
    sketch's ±max(2, 5%) envelope of the exact count for every event
    type, and cover exactly the input's event types. Streamed==batch
    sketch equality stays pinned in tests/test_streaming.py;
    evt_distinct_stream_md5 keeps the full register-table oracle."""
    streamed = q_evt_distinct_stream(spark, sf_dir)
    exact = _events(spark, sf_dir).groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return streamed.join(exact, "event_type", "full").select(
        "event_type",
        "exact_users",
        _flag(
            F.col("approx_distinct").isNotNull()
            & F.col("exact_users").isNotNull()
            & (
                F.abs(F.col("approx_distinct") - F.col("exact_users"))
                <= F.greatest(
                    F.lit(2.0), F.col("exact_users") * F.lit(0.05)
                )
            )
        ).alias("within_5pct"),
    )


# ===================================================================
# registry
# ===================================================================

# Ordering contract: the driver records correctness rows for the
# FIRST 50 entries only. Round-7 rotation (VERDICT r6 item 1): the
# window holds the 59-candidate never-driver-checked r6 block minus
# 9 deferrals — all 32 non-streaming session-3 entries (TPC-H
# q2/q11/q12/q20, TF-IDF/BM25/RAKE/chunking, cube/attribution/
# compaction, basket/anomaly, khop/paths, SCD4, cohort LTV,
# reconcile/RANGE frame/snapshot diff, A/B, ABC, stickiness,
# backlog, MoM, share-of-nation, time-to-convert), 15 session-2
# entries (semdedup/kmeans/random-project, winnow/containment,
# bloom decontaminate + bloom join, BPE/shared-ngrams, exact-k/
# weighted-k sampling, zorder, ffill, Python DataSource, mm_resize),
# and the 3 streaming candidates at the tail (in case the cap is
# time-based). The 9 deferred session-2 entries (simple shapes from
# already-driver-verified families: kfold/topk-per-group sampling,
# quality buckets, q9, transitions/user-perplexity/daily-fill, text
# lines source, RFM) lead the post-window section as the first r08
# picks, followed by the ~33 r03-stale greens. NO_ORACLE members are
# never rotated in (their rows can only say err:no_oracle); they sit
# at the dict's very end. Entries after the window are still swept
# every CI run by tests/test_oracle_parity.py.
#
# r09 staging: the 35 new r07 session-2/3/4/5/6 entries (dup-chunk
# removal, bigram perplexity, bucketed join, shuffle-sharding,
# temperature mix, vocab coverage, keep-best dedup, decontamination
# report, basket lift, incremental minhash probe, Matryoshka
# truncation, sign-Hamming compression, ANN recall eval, cell-local
# k-NN graph, scaled-int covariance, balanced downsampling, n-gram
# novelty, DSIR weights, kNN label agreement, Zipf/lexical profile,
# norm outliers, hard-negative mining, power-iteration top eig, DQ
# expectations, EWMA smoothing, cross-split leakage, langid audit,
# length outliers, BPE merge round, audio windows, PCA projection,
# minhash calibration, triangles, bot regularity, curriculum, IVF
# stats, late-arrival audit, IVM join delta) queue with whatever the
# r08 window (9 deferred + 10 new-r07-session-1 + 33 stale =
# 52-for-50) spills.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- driver window: r06 session-3, never driver-checked — TPC-H completion
    "q2_min_cost_supplier": q_q2_min_cost_supplier,
    "q11_important_parts": q_q11_important_parts,
    "q12_late_shipments": q_q12_late_shipments,
    "q20_potential_promotion": q_q20_potential_promotion,
    # -- driver window: r06 session-3 — retrieval scoring / curation
    "text_tfidf_topterm": q_text_tfidf_topterm,
    "text_bm25_topk": q_text_bm25_topk,
    "text_chunk_windows": q_text_chunk_windows,
    "quality_logreg": q_quality_logreg,
    "emb_standardize": q_emb_standardize,
    # -- driver window: r06 session-3 — analytics
    "agg_cube": q_agg_cube,
    "evt_attribution": q_evt_attribution,
    "sink_compact_files": q_sink_compact_files,
    "basket_pairs": q_basket_pairs,
    "evt_anomaly_zscore": q_evt_anomaly_zscore,
    "graph_khop": q_graph_khop,
    "evt_path_analysis": q_evt_path_analysis,
    "scd4_current_history": q_scd4_current_history,
    "orders_cohort_ltv": q_orders_cohort_ltv,
    "join_full_reconcile": q_join_full_reconcile,
    "window_range_frame": q_window_range_frame,
    "agg_rollup_grouping_id": q_agg_rollup_grouping_id,
    "snapshot_diff": q_snapshot_diff,
    "text_dup_chunk_ratio": q_text_dup_chunk_ratio,
    "evt_ab_test": q_evt_ab_test,
    "orders_abc_analysis": q_orders_abc_analysis,
    "evt_dau_stickiness": q_evt_dau_stickiness,
    "evt_new_vs_returning": q_evt_new_vs_returning,
    "text_rake_keywords": q_text_rake_keywords,
    "orders_backlog_sweep": q_orders_backlog_sweep,
    "orders_mom_change": q_orders_mom_change,
    "supplier_share_of_nation": q_supplier_share_of_nation,
    "evt_time_to_convert": q_evt_time_to_convert,
    # -- driver window: r06 session-2, never driver-checked
    "emb_kmeans_step": q_emb_kmeans_step,
    "emb_semdedup": q_emb_semdedup,
    "emb_random_project": q_emb_random_project,
    "dedup_winnow_pairs": q_dedup_winnow_pairs,
    "dedup_containment": q_dedup_containment,
    "dedup_remove_spans": q_dedup_remove_spans,
    "decontaminate_bloom": q_decontaminate_bloom,
    "text_bpe_pairs": q_text_bpe_pairs,
    "text_shared_ngrams": q_text_shared_ngrams,
    "sample_exact_k": q_sample_exact_k,
    "sample_weighted_k": q_sample_weighted_k,
    "layout_zorder": q_layout_zorder,
    "join_bloom": q_join_bloom,
    "window_ffill": q_window_ffill,
    "src_python_datasource": q_src_python_datasource,
    "mm_resize": q_mm_resize,
    # -- driver window tail: true streaming (slowest), never driver-checked
    "evt_dedup_stream_index": q_evt_dedup_stream_index,
    "evt_anomaly_stream": q_evt_anomaly_stream,
    "src_python_datasource_stream": q_src_python_datasource_stream,
    # ================= end of 50-entry driver window =================
    # (everything below is parity-swept in CI each run)
    # -- deferred r06 entries with no driver row ever: FIRST r08 picks
    "sample_kfold": q_sample_kfold,
    "sample_topk_per_group": q_sample_topk_per_group,
    "quality_buckets": q_quality_buckets,
    "q9_product_profit": q_q9_product_profit,
    "evt_transitions": q_evt_transitions,
    "evt_user_perplexity": q_evt_user_perplexity,
    "src_text_lines": q_src_text_lines,
    "rfm_segments": q_rfm_segments,
    "evt_daily_fill": q_evt_daily_fill,
    # -- new in r07 (profiling/skew/PQ/hashing/survival/dup-invoice/
    # CCNet buckets/bigram LM/char stats/Gopher rules), fully oracled,
    # never driver-checked: r08 window picks alongside the deferrals
    # above (9 + 10 + the 33 stale entries below = 52 for 50 slots —
    # the last 2 stale entries spill to r09)
    "profile_table": q_profile_table,
    "skew_metrics": q_skew_metrics,
    "emb_pq_assign": q_emb_pq_assign,
    "text_hashed_features": q_text_hashed_features,
    "evt_survival_retention": q_evt_survival_retention,
    "orders_dup_invoice_pairs": q_orders_dup_invoice_pairs,
    "docs_ccnet_buckets": q_docs_ccnet_buckets,
    "text_bigram_lm": q_text_bigram_lm,
    "text_char_stats": q_text_char_stats,
    "docs_gopher_rules": q_docs_gopher_rules,
    # -- new in r07 session 2 (dup-chunk removal, bigram perplexity,
    # bucketed zero-exchange join): fully oracled, never
    # driver-checked — r09 candidates (the r08 window above is
    # already 52-for-50; these three queue behind it)
    "docs_remove_dup_chunks": q_docs_remove_dup_chunks,
    "text_perplexity_bigram": q_text_perplexity_bigram,
    "sink_bucketed_join": q_sink_bucketed_join,
    # -- new in r07 session 3 (epoch shuffle-sharding, temperature
    # mixing, vocab coverage, keep-best dedup): fully oracled, never
    # driver-checked — r09 candidates alongside the session-2 trio
    "corpus_shuffle_shards": q_corpus_shuffle_shards,
    "mix_temperature": q_mix_temperature,
    "text_vocab_coverage": q_text_vocab_coverage,
    "dedup_keep_best": q_dedup_keep_best,
    "decontaminate_report": q_decontaminate_report,
    "orders_basket_lift": q_orders_basket_lift,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "emb_matryoshka_truncate": q_emb_matryoshka_truncate,
    "emb_sign_hamming": q_emb_sign_hamming,
    # -- new in r07 session 4 (ANN recall evaluation, cell-local k-NN
    # graph, exact scaled-int covariance/correlation, class-balanced
    # downsampling, n-gram novelty scoring): fully oracled, never
    # driver-checked — r09 candidates with the session-2/3 entries
    "ann_recall_eval": q_ann_recall_eval,
    "emb_knn_graph": q_emb_knn_graph,
    "emb_covariance": q_emb_covariance,
    "sample_balanced_labels": q_sample_balanced_labels,
    "docs_ngram_novelty": q_docs_ngram_novelty,
    # -- new in r07 session 5 (DSIR importance weights, kNN
    # label-agreement noise screen, per-source Zipf/lexical profile,
    # per-label norm outliers): fully oracled, never driver-checked —
    # r09 candidates with the session-2/3/4 entries
    "docs_dsir_weights": q_docs_dsir_weights,
    "emb_label_agreement": q_emb_label_agreement,
    "docs_zipf_lexical": q_docs_zipf_lexical,
    "emb_norm_outliers": q_emb_norm_outliers,
    "emb_hard_negatives": q_emb_hard_negatives,
    "emb_power_iteration": q_emb_power_iteration,
    # -- new in r07 session 6 (data-quality expectation suite, lag-
    # algebra EWMA smoothing, train/val near-dup leakage audit,
    # language-ID confusion audit, per-source length-outlier trim):
    # fully oracled, never driver-checked — r09 candidates with the
    # session-2/3/4/5 entries
    "dq_expectations": q_dq_expectations,
    "evt_ewma_rolling": q_evt_ewma_rolling,
    "dedup_cross_split_leakage": q_dedup_cross_split_leakage,
    "docs_langid_audit": q_docs_langid_audit,
    "docs_length_outliers": q_docs_length_outliers,
    "text_bpe_merge_round": q_text_bpe_merge_round,
    "mm_audio_windows": q_mm_audio_windows,
    "emb_pca_project": q_emb_pca_project,
    "dedup_minhash_estimate": q_dedup_minhash_estimate,
    "graph_triangles": q_graph_triangles,
    "evt_bot_regularity": q_evt_bot_regularity,
    "mix_curriculum": q_mix_curriculum,
    "emb_ivf_stats": q_emb_ivf_stats,
    "evt_late_arrival_audit": q_evt_late_arrival_audit,
    "ivm_join_delta": q_ivm_join_delta,
    "graph_link_prediction": q_graph_link_prediction,
    "emb_pq_error": q_emb_pq_error,
    "dedup_minhash_clusters": q_dedup_minhash_clusters,
    "docs_source_overlap": q_docs_source_overlap,
    "evt_user_activity_entropy": q_evt_user_activity_entropy,
    "evt_ab_cuped": q_evt_ab_cuped,
    # -- last green r03 — next r08 picks after the deferrals
    "emb_cosine_near_dup": q_emb_cosine_near_dup,
    "join_asof": q_join_asof,
    "join_range": q_join_range,
    "expr_json": q_expr_json,
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "agg_percentiles_exact": q_agg_percentiles_exact,
    "text_quality": q_text_quality,
    "topk_per_group": q_topk_per_group,
    "agg_grouping_sets": q_agg_grouping_sets,
    "agg_having": q_agg_having,
    "dedup_stream_watermark": q_dedup_stream_watermark,
    "evt_pivot_user_counts": q_evt_pivot_user_counts,
    "evt_rollup_daily": q_evt_rollup_daily,
    "evt_sessionize_stream": q_evt_sessionize_stream,
    "evt_stream_stream_join": q_evt_stream_stream_join,
    "evt_trigger_audit": q_evt_trigger_audit,
    "evt_windowed_counts": q_evt_windowed_counts,
    "evt_windowed_counts_stream": q_evt_windowed_counts_stream,
    "mm_media_meta": q_mm_media_meta,
    "ngram_jaccard_adjacent": q_ngram_jaccard_adjacent,
    "q19_disjunctive": q_q19_disjunctive,
    "q22_idle_rich_customers": q_q22_idle_rich_customers,
    "q6_forecast_revenue": q_q6_forecast_revenue,
    "sample_hash_mod": q_sample_hash_mod,
    "src_csv_dir": q_src_csv_dir,
    "src_json_dir": q_src_json_dir,
    "text_fingerprint": q_text_fingerprint,
    "text_lang_bpe": q_text_lang_bpe,
    "text_token_count": q_text_token_count,
    "text_top_terms": q_text_top_terms,
    "udtf_split_sentences": q_udtf_split_sentences,
    "window_analytics": q_window_analytics,
    "window_running": q_window_running,
    # -- last green r04/r05
    "agg_pivot_sum_case": q_agg_pivot_sum_case,
    "agg_rollup": q_agg_rollup,
    "dedup_latest_per_key": q_dedup_latest_per_key,
    "evt_cdc_upsert_stream": q_evt_cdc_upsert_stream,
    "evt_funnel": q_evt_funnel,
    "evt_retention_cohorts": q_evt_retention_cohorts,
    "evt_topk_stream": q_evt_topk_stream,
    "expr_case_map": q_expr_case_map,
    "expr_datediff": q_expr_datediff,
    "flagship_warehouse": q_flagship_warehouse,
    "join_salted": q_join_salted,
    "join_semi": q_join_semi,
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_revenue_by_priority": q_q3_revenue_by_priority,
    "q5_revenue_by_nation": q_q5_revenue_by_nation,
    "set_ops": q_set_ops,
    "src_parquet_dir": q_src_parquet_dir,
    "pack_sequences": q_pack_sequences,
    "mm_frame_sample": q_mm_frame_sample,
    "flagship_data_recipe": q_flagship_data_recipe,
    "flagship_event_analytics": q_flagship_event_analytics,
    "split_train_holdout": q_split_train_holdout,
    "mix_weighted": q_mix_weighted,
    "mix_weighted_repeat": q_mix_weighted_repeat,
    "sample_stratified": q_sample_stratified,
    "sample_token_budget": q_sample_token_budget,
    "ids_global_contiguous": q_ids_global_contiguous,
    "dedup_clusters": q_dedup_clusters,
    "decontaminate": q_decontaminate,
    "decontaminate_semantic": q_decontaminate_semantic,
    "decontaminate_semantic_bucketed": q_decontaminate_semantic_bucketed,
    "decontaminate_semantic_recall": q_decontaminate_semantic_recall,
    "text_repetition": q_text_repetition,
    "text_redact_pii": q_text_redact_pii,
    "text_collocations": q_text_collocations,
    "scd1_upsert": q_scd1_upsert,
    "scd2_history": q_scd2_history,
    "scd2_merge_batch": q_scd2_merge_batch,
    "scd3_update": q_scd3_update,
    "join_scd2_asof": q_join_scd2_asof,
    "join_interval_overlap": q_join_interval_overlap,
    "join_fuzzy_names": q_join_fuzzy_names,
    "validate_warehouse": q_validate_warehouse,
    "agg_histogram": q_agg_histogram,
    "agg_collect_sorted": q_agg_collect_sorted,
    "graph_pagerank": q_graph_pagerank,
    "emb_label_centroids": q_emb_label_centroids,
    "text_perplexity_unigram": q_text_perplexity_unigram,
    "dedup_incremental": q_dedup_incremental,
    "agg_incremental": q_agg_incremental,
    "project_unpivot": q_project_unpivot,
    "src_schema_evolution": q_src_schema_evolution,
    "evt_session_window_native": q_evt_session_window_native,
    "join_null_safe": q_join_null_safe,
    "mm_embed_stub": q_mm_embed_stub,
    "evt_stream_static_join": q_evt_stream_static_join,
    "src_json_corrupt_routing": q_src_json_corrupt_routing,
    "q21_waiting_supplier": q_q21_waiting_supplier,
    "q15_top_supplier": q_q15_top_supplier,
    "q17_small_quantity": q_q17_small_quantity,
    "evt_sessionize": q_evt_sessionize,
    "agg_mode": q_agg_mode,
    "window_gap_islands": q_window_gap_islands,
    "window_rolling_sum": q_window_rolling_sum,
    "src_orc_roundtrip": q_src_orc_roundtrip,
    "src_partitioned_prune": q_src_partitioned_prune,
    # -- last green r06 (rotated out of the window this round)
    "src_parquet_concat_str": q_src_parquet_concat_str,
    "sink_table_overwrite": q_sink_table_overwrite,
    "sink_rows_append": q_sink_rows_append,
    "dedup_distinct": q_dedup_distinct,
    "dedup_groupby_max": q_dedup_groupby_max,
    "dedup_join_back_on_max": q_dedup_join_back_on_max,
    "project_rename": q_project_rename,
    "project_star_plus": q_project_star_plus,
    "filter_not_null": q_filter_not_null,
    "filter_eq": q_filter_eq,
    "filter_derived": q_filter_derived,
    "filter_on_join": q_filter_on_join,
    "join_inner_dim_cast": q_join_inner_dim_cast,
    "join_inner_hub": q_join_inner_hub,
    "join_left_fact": q_join_left_fact,
    "join_anti": q_join_anti,
    "agg_groupby_max_all": q_agg_groupby_max_all,
    "agg_max_date": q_agg_max_date,
    "expr_cast": q_expr_cast,
    "expr_string_funcs": q_expr_string_funcs,
    "expr_case_flag": q_expr_case_flag,
    "expr_case_bucket": q_expr_case_bucket,
    "expr_null_default": q_expr_null_default,
    "expr_extract": q_expr_extract,
    "expr_format_date": q_expr_format_date,
    "expr_current_date": q_expr_current_date,
    "expr_str_sentinel": q_expr_str_sentinel,
    "expr_null_normalize": q_expr_null_normalize,
    "q4_priority_exists": q_q4_priority_exists,
    "q7_volume_shipping": q_q7_volume_shipping,
    "q8_market_share": q_q8_market_share,
    "q10_returned_items": q_q10_returned_items,
    "q13_order_count_distribution": q_q13_order_count_distribution,
    "q14_promo_effect": q_q14_promo_effect,
    "q16_supplier_part_count": q_q16_supplier_part_count,
    "q18_large_volume": q_q18_large_volume,
    "evt_windowed_quantiles": q_evt_windowed_quantiles,
    "ann_topk_lsh": q_ann_topk_lsh,
    "dedup_simhash_md5": q_dedup_simhash_md5,
    "sketch_count_min": q_sketch_count_min,
    "ann_topk_quantized": q_ann_topk_quantized,
    "dedup_minhash_md5": q_dedup_minhash_md5,
    "text_winnow_md5": q_text_winnow_md5,
    "ann_topk_ivf_fixed": q_ann_topk_ivf_fixed,
    "sketch_hll_md5": q_sketch_hll_md5,
    "flagship_corpus_clean": q_flagship_corpus_clean,
    "dedup_exact_hash": q_dedup_exact_hash,
    "src_stream_drain": q_src_stream_drain,
    "sink_stream_republish": q_sink_stream_republish,
    "evt_distinct_stream_md5": q_evt_distinct_stream_md5,
    # -- formerly rows-only entries, registered since r11 through their
    # invariant-summary forms (VERDICT r10 item 3): the seeded/sketch/
    # sequential algorithm runs in full, then reduces to exact BIGINT
    # counts + 0/1 contract flags that a DuckDB oracle derives from the
    # input alone — every registry entry now carries a value-hash
    # oracle. The full-row forms stay module-level for bench
    # (FROZEN_FORMS) and the accuracy/property tests.
    "ann_topk_ivf": q_ann_topk_ivf_invariants,
    "dedup_minhash_lsh": q_dedup_minhash_lsh_invariants,
    "dedup_simhash": q_dedup_simhash_invariants,
    "evt_distinct_stream": q_evt_distinct_stream_invariants,
    "sketch_approx_distinct": q_sketch_approx_distinct_invariants,
    "sketch_hll_union": q_sketch_hll_union_invariants,
    "sketch_quantiles": q_sketch_quantiles_invariants,
    "sketch_topk_mg": q_sketch_topk_mg_invariants,
    "text_winnow_fingerprint": q_text_winnow_fingerprint_invariants,
    "pack_bestfit": q_pack_bestfit_invariants,
}

# Frozen bench forms (r11): three of the formerly rows-only entries sit
# in bench.py's FROZEN-since-r01 headline. Their registry slots now
# point at the invariant-summary wrappers (above), which add a
# verification aggregation the headline never timed — timing the
# wrapper would silently inflate the frozen series and break
# round-over-round comparability (the 2x gate). bench.py therefore
# times THESE original full-row callables for exactly those names;
# everything else times its registry entry.
FROZEN_FORMS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_winnow_fingerprint": q_text_winnow_fingerprint,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
}


# ===================================================================
# oracles (DuckDB SQL) — same column names as the Spark results
# ===================================================================

def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Left-associative double dot product — matches Spark's fold.

    COMPACT ``list_reduce`` form, not an unrolled ``+`` chain. The
    fold order is identical (list_reduce seeds with element 1 and
    folds left, exactly the old ``((a1*b1 + a2*b2) + ...)`` chain and
    Spark's ``F.aggregate`` sequence), so results are bit-for-bit
    unchanged — verified old-vs-new driver_hash equality on all 14
    affected oracles at sf0.01. The POINT of the compact form is the
    r08 post-mortem: 64-term unrolled expressions inside
    window-over-join sorts made DuckDB's buffer manager retain
    10k–30k 256 KB blocks (one mmap each) per oracle, exhausting the
    kernel's vm.max_map_count (65,530) mid-window and OOM-killing 30
    of the round's 50 correctness slots. The list form keeps the
    expression tree ~200× smaller; measured fresh-connection map
    deltas drop from ~29,000 to <1,000 (tools/oracle_map_profile.py).
    """
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[CAST(i AS INT)] AS DOUBLE)"
        f" * CAST({b}[CAST(i AS INT)] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _norm_sql(a: str, dim: int = 64) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[CAST(i AS INT)] AS DOUBLE)"
        f" * CAST({a}[CAST(i AS INT)] AS DOUBLE)), (acc, x) -> acc + x))"
    )


_COS_LR = f"({_dot_sql('l.embedding', 'r.embedding')} / ({_norm_sql('l.embedding')} * {_norm_sql('r.embedding')}))"


def _rp_proj_sql(col: str, d_in: int = 64, d_out: int = 8, seed: int = 1337) -> str:
    """SQL list literal of the JL projection — the same fixed-seed
    matrix as similarity.random_project. Each component is a
    ``list_reduce`` sequential fold over STRING-cast coefficients.
    Two DuckDB traps pinned here: (1) a plain chained ``a + b*c + ...``
    sum drifts 1 ulp off Spark's mul-then-add fold (contraction /
    reassociation, parentheses notwithstanding) — ``list_reduce`` pins
    the operation sequence; (2) a bare decimal literal parses as
    DECIMAL and DuckDB's DECIMAL→DOUBLE cast is NOT correctly rounded
    (0.9914682807805609 casts to …608), while the string→DOUBLE parse
    is — so every coefficient goes in as ``'repr'::DOUBLE``."""
    from idr_data_pipelines_spark.llmdata.similarity import random_projection_matrix

    M = random_projection_matrix(d_in, d_out, seed)
    comps = []
    for row in M.tolist():
        coeffs = "[" + ", ".join(f"'{c!r}'::DOUBLE" for c in row) + "]"
        comps.append(
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {d_in + 1}), "
            f"i -> CAST({col}[i] AS DOUBLE) * ({coeffs})[i])), (a, b) -> a + b)"
        )
    return "[" + ", ".join(comps) + "]"


def _zorder_sql(xcol: str, ycol: str, bits: int = 16) -> str:
    """DuckDB replay of operators.layout.zorder_value for two columns:
    the same unrolled shift/mask/sum integer arithmetic (exact in both
    engines)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _cm_bucket_sql(col: str, d: int, width: int) -> str:
    """DuckDB replay of ``sketches._bucket_md5``: parse hex chars
    [8d+1, 8d+8] of md5(string(key)) as a 32-bit integer (nibble sum —
    DuckDB has no hex→int cast), mod width."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(CAST({col} AS VARCHAR)),"
        f" {8 * d + 1 + i}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({terms}) % {width})"


def _int_lsh_bucket_sql(col: str, dim: int = 64, n_planes: int = 6,
                        seed: int = 42, scale: int = 1_000_000) -> str:
    """DuckDB replay of ``similarity.int_lsh_bucket``: the same ±1
    sign matrix (seeded, inlined as list literals) over floor-scaled
    bigint components — exact integer arithmetic in both engines, so
    the buckets agree bit-for-bit and sign-LSH becomes value-hash
    oracle-able.

    ``dim`` is baked into the inlined sign matrix at SQL-build time,
    while the Spark side (``similarity._int_lsh_bucket_table``) infers
    it per Arrow batch — so a dataset whose embedding length drifts
    from ``dim`` would silently bucket with the WRONG matrix here. The
    emitted SQL therefore guards every row: a length mismatch raises
    via DuckDB ``error()`` instead of producing divergent buckets
    (r13 ADVICE item 3)."""
    from idr_data_pipelines_spark.llmdata.similarity import (
        signed_projection_signs,
    )

    parts = []
    for p, row in enumerate(signed_projection_signs(dim, n_planes, seed)):
        slist = "[" + ",".join(str(int(s)) for s in row) + "]"
        parts.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> ({slist})[i] * CAST(FLOOR(CAST(({col})[i] AS DOUBLE)"
            f" * {scale}.0) AS BIGINT))) > 0 THEN {1 << p} ELSE 0 END)"
        )
    guard = (
        f"CASE WHEN len({col}) <> {dim} THEN "
        f"CAST(error('int_lsh_bucket oracle built for dim={dim} but "
        f"embedding has len=' || len({col})) AS BIGINT) ELSE 0 END"
    )
    return "(" + " + ".join(parts) + f" + ({guard}))"

_SHINGLES_SQL = """
    list_distinct(list_transform(
        range(0, greatest(len(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) - 2, 0)),
        i -> array_to_string(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')[i+1:i+3], ' ')
    ))
"""

def _md5_shingle_hashes_sql(k: int) -> str:
    """Distinct word-k-shingle md5-32 hashes as a DuckDB list expr —
    mirrors ``llmdata.dedup.md5_shingle_hashes`` exactly: tokens =
    split(lower(trim(text)), [\\t\\n\\v\\f\\r ]+); docs shorter than k
    tokens yield their whole text as one shingle; hash = first 32 bits
    of md5."""
    return f"""
        list_distinct(list_transform(
            CASE WHEN len(toks) < {k}
                 THEN [array_to_string(toks, ' ')]
                 ELSE list_distinct([array_to_string(toks[i:i+{k - 1}], ' ')
                       for i in generate_series(1, len(toks) - {k - 1})])
            END,
            s -> ('0x' || substr(md5(s), 1, 8))::BIGINT))
    """


def _minhash_md5_sql(num_perm: int, bands: int, k: int, threshold: float) -> str:
    """DuckDB replay of ``minhash_md5_lsh_pairs`` — same coefficient
    family (``_perm_coefficients``), modulus, band keys and Jaccard
    verify, generated from the same Python constants."""
    return f"""
        WITH {_minhash_md5_cte_prefix(num_perm, bands, k)}, pairs AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, jaccard_r FROM (
            SELECT p.id_a, p.id_b,
                   ROUND(CAST(len(list_intersect(a.hv, b.hv)) AS DOUBLE)
                         / CAST(len(list_distinct(a.hv || b.hv)) AS DOUBLE),
                         6) AS jaccard_r
            FROM pairs p
            JOIN hs a ON p.id_a = a.doc_id
            JOIN hs b ON p.id_b = b.doc_id
        ) WHERE jaccard_r >= {threshold}
    """


def _minhash_md5_cte_prefix(num_perm: int, bands: int, k: int) -> str:
    """The shared hs/sig/banded WITH-body of the portable md5 MinHash
    oracles — one signature per document row, as the numpy kernel
    computes it (mirrors ``llmdata.dedup._bands`` over ``_signatures``
    for the md5 family)."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        _MERSENNE_P,
        _perm_coefficients,
    )

    r = num_perm // bands
    coeffs = _perm_coefficients(num_perm)
    mins = ", ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {_MERSENNE_P}))"
        for a, b in coeffs
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws('_', "
        + ", ".join(f"CAST(s[{b * r + j + 1}] AS VARCHAR)" for j in range(r))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""hs AS (
            SELECT doc_id, {_md5_shingle_hashes_sql(k)} AS hv
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
                  FROM documents WHERE text IS NOT NULL)
        ), sig AS (
            SELECT doc_id, [{mins}] AS s FROM hs
        ), banded AS (
            {band_rows}
        )"""


def _minhash_md5_split_pairs_sql(
    num_perm: int,
    bands: int,
    k: int,
    threshold: float,
    new_pred: str,
    old_pred: str,
) -> str:
    """DuckDB replay of ``minhash_md5_incremental_pairs`` over an
    arbitrary two-sided doc_id split — identical signature CTEs to
    ``_minhash_md5_sql``; only the pair join is restricted to
    new-side × old-side via the two predicate strings (which may
    reference ``b.doc_id`` / ``c.doc_id``). Yields
    (id_new, id_old, jaccard_r)."""
    return f"""
        WITH {_minhash_md5_cte_prefix(num_perm, bands, k)}, pairs AS (
            SELECT DISTINCT b.doc_id AS id_new, c.doc_id AS id_old
            FROM banded b JOIN banded c
              ON b.band_idx = c.band_idx AND b.band_key = c.band_key
            WHERE {new_pred} AND {old_pred}
        )
        SELECT id_new, id_old, jaccard_r FROM (
            SELECT p.id_new, p.id_old,
                   ROUND(CAST(len(list_intersect(n.hv, o.hv)) AS DOUBLE)
                         / CAST(len(list_distinct(n.hv || o.hv)) AS DOUBLE),
                         6) AS jaccard_r
            FROM pairs p
            JOIN hs n ON p.id_new = n.doc_id
            JOIN hs o ON p.id_old = o.doc_id
        ) WHERE jaccard_r >= {threshold}
    """


def _minhash_md5_incremental_sql(
    num_perm: int, bands: int, k: int, threshold: float
) -> str:
    """DuckDB replay of ``minhash_md5_incremental_pairs`` over the
    doc_id % 7 batch/corpus split."""
    return _minhash_md5_split_pairs_sql(
        num_perm, bands, k, threshold,
        "b.doc_id % 7 = 0", "c.doc_id % 7 <> 0",
    )


# the portable md5 hash-bucket (sampling.hash_bucket) in DuckDB form;
# {col} is the key expression, salt/buckets baked by the caller
def _hash_bucket_sql(col: str, buckets: int, salt: str) -> str:
    return (
        f"(('0x' || substr(md5('{salt}' || CAST({col} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {buckets})"
    )


def _cross_split_leakage_sql(
    num_perm: int, bands: int, k: int, threshold: float, buckets: int
) -> str:
    """DuckDB replay of q_dedup_cross_split_leakage: md5 hash-bucket
    split (bucket 0 = val), the split-restricted pair probe, then the
    best-train-match rollup per leaked val doc (max Jaccard, min
    train id on ties)."""
    val_pred = _hash_bucket_sql("b.doc_id", buckets, "split") + " = 0"
    train_pred = _hash_bucket_sql("c.doc_id", buckets, "split") + " <> 0"
    pairs = _minhash_md5_split_pairs_sql(
        num_perm, bands, k, threshold, val_pred, train_pred
    )
    return f"""
        WITH hits AS ({pairs})
        SELECT id_new AS val_doc, id_old AS train_doc, jaccard_r, n_matches
        FROM (
            SELECT id_new, id_old, jaccard_r,
                   ROW_NUMBER() OVER (PARTITION BY id_new
                                      ORDER BY jaccard_r DESC, id_old ASC)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY id_new) AS n_matches
            FROM hits
        ) WHERE rn = 1
    """


def _langid_audit_sql() -> str:
    """DuckDB replay of q_docs_langid_audit: the same marker-word
    regex counts, greatest() argmax with first-max-wins tie order
    (_LANG_MARKERS insertion order), min_hits=1 → 'und' fallback."""
    from idr_data_pipelines_spark.llmdata.text import _LANG_MARKERS

    def score(words):
        return " + ".join(
            f"len(regexp_extract_all(lt, '\\b{w}\\b'))" for w in words
        )

    s_cols = ",\n                   ".join(
        f"({score(ws)}) AS s_{lang}" for lang, ws in _LANG_MARKERS.items()
    )
    langs = list(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN s_{l} = best AND best >= 1 THEN '{l}'" for l in langs
        )
        + " ELSE 'und' END"
    )
    return f"""
        WITH scored AS (
            SELECT lang,
                   {s_cols}
            FROM (SELECT lang, lower(text) AS lt
                  FROM documents WHERE text IS NOT NULL)
        ), pred AS (
            SELECT lang, {case} AS predicted
            FROM (SELECT lang, {best} AS best, * FROM scored)
        ), per AS (
            SELECT lang, predicted, COUNT(*) AS n
            FROM pred GROUP BY lang, predicted
        ), tot AS (
            SELECT lang, COUNT(*) AS t FROM pred GROUP BY lang
        )
        SELECT per.lang, per.predicted, per.n,
               ROUND(CAST(per.n AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
                   AS share
        FROM per JOIN tot ON per.lang = tot.lang
    """


def _winnow_md5_sql(k: int, window: int) -> str:
    """DuckDB replay of ``text.winnow_md5_fingerprints``: positional
    (duplicates kept) word-k-gram md5-32 hashes, min of every
    ``window`` consecutive hashes (short tails clamp in both engines),
    distinct per doc."""
    return f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(
                       CASE WHEN len(toks) < {k}
                            THEN [array_to_string(toks, ' ')]
                            ELSE [array_to_string(toks[i:i+{k - 1}], ' ')
                                  for i in generate_series(1, len(toks) - {k - 1})]
                       END,
                       s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hv
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
                  FROM documents WHERE text IS NOT NULL)
        )
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   unnest([list_min(hv[i:i+{window - 1}])
                           for i in generate_series(1, greatest(len(hv) - {window - 1}, 1))]) AS fp
            FROM hs
        )
    """


ORACLES: dict[str, str] = {
    "src_parquet_dir": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        FROM lineitem
    """,
    "src_parquet_concat_str": """
        SELECT DISTINCT
            CAST(doc_id AS VARCHAR) AS doc_id,
            text, lang, source,
            CAST(n_chars AS VARCHAR) AS n_chars
        FROM documents
    """,
    "sink_table_overwrite": "SELECT * FROM region",
    "sink_rows_append": "SELECT * FROM region UNION ALL SELECT * FROM region",
    "src_stream_drain": "SELECT event_id, user_id, event_type, value FROM events",
    "sink_stream_republish": "SELECT event_id, user_id, event_type, value FROM events",
    # src_csv_dir roundtrips documents through RFC-4180 CSV; the oracle
    # replays the all-string projection off the parquet, so the value
    # hash validates the whole write→parse path
    "src_csv_dir": """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               text, lang, source,
               CAST(n_chars AS VARCHAR) AS n_chars
        FROM documents
    """,
    "src_json_dir": "SELECT * FROM region",
    # handle_event's audit row for the fixed replayed payload:
    # literal_eval of the python-dict payload, re-serialized as
    # sorted-key JSON, with the injected deterministic event time
    "evt_trigger_audit": """
        SELECT '{"event": "load_complete", "table": "mmd"}' AS payload,
               '2026-01-01T00:00:00+00:00' AS event_time
    """,
    "dedup_distinct": """
        SELECT DISTINCT l_orderkey, l_returnflag, l_linestatus FROM lineitem
    """,
    "dedup_groupby_max": """
        SELECT o_custkey,
               MAX(o_orderkey) AS o_orderkey,
               MAX(o_orderstatus) AS o_orderstatus,
               MAX(o_totalprice) AS o_totalprice,
               MAX(CAST(o_orderdate AS DATE)) AS o_orderdate,
               MAX(o_orderpriority) AS o_orderpriority
        FROM orders GROUP BY o_custkey
    """,
    "dedup_latest_per_key": """
        SELECT o_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS latest_date,
               o_totalprice
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
        ) = 1
    """,
    "dedup_join_back_on_max": """
        SELECT o.o_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS latest_date,
               o.o_totalprice
        FROM orders o
        LEFT JOIN (
            SELECT o_custkey, MAX(o_orderdate) AS max_date
            FROM orders GROUP BY o_custkey
        ) m ON o.o_custkey = m.o_custkey
        WHERE o.o_orderdate = m.max_date
    """,
    "project_rename": """
        SELECT c_custkey AS customer_id, c_name AS customer_name,
               c_nationkey AS nation_key, c_acctbal AS account_balance,
               c_mktsegment AS segment
        FROM customer
    """,
    "project_star_plus": """
        SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax,
               l_extendedprice * (1.0 - l_discount) AS revenue,
               (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charge
        FROM lineitem
    """,
    "filter_not_null": """
        SELECT doc_id, NULLIF(lang, 'zh') AS lang2, NULLIF(source, 'src0') AS source2
        FROM documents
        WHERE NULLIF(lang, 'zh') IS NOT NULL AND NULLIF(source, 'src0') IS NOT NULL
    """,
    "filter_eq": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem WHERE l_returnflag = 'R'
    """,
    "filter_derived": """
        SELECT o_orderkey, o_totalprice, price_bucket FROM (
            SELECT *, CASE WHEN o_totalprice < 50000 THEN 'small'
                           WHEN o_totalprice < 150000 THEN 'medium' END AS price_bucket
            FROM orders
        ) WHERE price_bucket IS NOT NULL
    """,
    "filter_on_join": """
        SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
    """,
    "join_inner_dim_cast": """
        SELECT c_custkey, c_name, n_name
        FROM customer JOIN nation ON n_nationkey = CAST(c_nationkey AS BIGINT)
    """,
    "join_inner_hub": """
        SELECT s_suppkey, s_name, n_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
    "join_left_fact": """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    "join_anti": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
    """,
    "join_salted": """
        SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "agg_groupby_max_all": """
        SELECT l_orderkey,
               MAX(l_quantity) AS l_quantity,
               MAX(l_extendedprice) AS l_extendedprice,
               MAX(l_returnflag) AS l_returnflag,
               MAX(l_linestatus) AS l_linestatus,
               MAX(CAST(l_shipdate AS DATE)) AS l_shipdate
        FROM lineitem GROUP BY l_orderkey
    """,
    "agg_max_date": """
        SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS latest_date
        FROM orders GROUP BY o_custkey
    """,
    "agg_pivot_sum_case": """
        SELECT
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled,
            CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
            CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
            CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
            CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
            CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        FROM orders
    """,
    "agg_rollup": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR((o_totalprice)*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_price
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "set_ops": """
        SELECT o_orderkey FROM (
            SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
            INTERSECT
            SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        )
        EXCEPT ALL
        SELECT o_orderkey FROM orders WHERE o_totalprice < 50000
    """,
    "expr_string_funcs": """
        SELECT c_custkey,
               upper(c_mktsegment) AS seg_upper,
               lower(c_name) AS name_lower,
               substring(c_name, 1, 8) AS name_prefix,
               concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
               CAST(length(c_name) AS BIGINT) AS name_len,
               regexp_extract(c_name, '(\\d+)$', 1) AS name_digits
        FROM customer
    """,
    "expr_cast": """
        SELECT o_orderkey,
               CAST(o_orderkey AS VARCHAR) AS key_str,
               CAST(CAST(o_custkey AS VARCHAR) AS BIGINT) AS cust_roundtrip,
               CAST(o_orderdate AS DATE) AS order_date,
               TRY_CAST(o_orderpriority AS BIGINT) AS bad_cast
        FROM orders
    """,
    "expr_case_map": """
        SELECT o_orderkey, o_orderpriority,
               CASE o_orderpriority
                   WHEN '1-URGENT' THEN 'P1' WHEN '2-HIGH' THEN 'P2'
                   WHEN '3-MEDIUM' THEN 'P3' WHEN '4-NOT SPECIFIED' THEN 'P4'
                   WHEN '5-LOW' THEN 'P5' ELSE 'OTHER'
               END AS priority_code
        FROM orders
    """,
    "expr_case_flag": """
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CASE WHEN l_returnflag = 'R' THEN 'Yes' ELSE 'NO' END AS returned_flag
        FROM lineitem
    """,
    "expr_case_bucket": """
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    WHEN o_totalprice >= 150000 AND o_orderstatus = 'F' THEN 'high_final'
               END AS price_band
        FROM orders
    """,
    "expr_null_default": """
        SELECT l_orderkey, l_linenumber,
               COALESCE(NULLIF(l_linestatus, 'O'), 'Unknown') AS status_clean
        FROM lineitem
    """,
    "expr_datediff": """
        SELECT l_orderkey, l_linenumber,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INT) AS diff_day,
               CAST((year(l_shipdate) - year(o_orderdate)) * 12
                    + (month(l_shipdate) - month(o_orderdate)) AS INT) AS diff_month,
               CAST(year(l_shipdate) - year(o_orderdate) AS INT) AS diff_year
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
    # The r09 self-cap experiment ran HERE (a hand-written
    # ``SET memory_limit='2GB';`` prefix) and the driver hash-matched
    # it (CORRECTNESS_r09), proving the driver executes
    # multi-statement oracles. The prefix graduated to registry-wide
    # policy in r10 — see the self-cap block after the last ORACLES
    # assignment — so this entry is a plain SELECT again.
    "expr_extract": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(day(o_orderdate) AS BIGINT) AS d
        FROM orders
    """,
    "expr_format_date": """
        SELECT o_orderkey,
               strftime(CAST(o_orderdate AS DATE), '%Y') AS year_str,
               strftime(CAST(o_orderdate AS DATE), '%B') AS month_name
        FROM orders
    """,
    "expr_current_date": f"""
        SELECT o_orderkey,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') AS INT) AS age_days
        FROM orders
    """,
    "expr_str_sentinel": """
        SELECT l_orderkey, l_linenumber,
               CAST(CASE WHEN l_returnflag = 'N' THEN CAST(0 AS DECIMAL(18,2))
                    ELSE TRY_CAST(CAST(CAST(l_quantity AS INT) AS VARCHAR) AS DECIMAL(18,2))
               END AS DOUBLE) AS result_value
        FROM lineitem
    """,
    "expr_null_normalize": """
        SELECT doc_id,
               NULLIF(CASE WHEN lang = 'zh' THEN 'None' ELSE lang END, 'None') AS lang_clean
        FROM documents
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(FLOOR((l_quantity)*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
               CAST(SUM(CAST(FLOOR((l_extendedprice)*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS sum_disc_price,
               CAST(SUM(CAST(FLOOR(((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS sum_charge,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_revenue_by_priority": """
        SELECT o_orderpriority,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
               COUNT(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority
    """,
    "q5_revenue_by_nation": """
        SELECT n_name,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q4_priority_exists": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
    """,
    "q7_volume_shipping": """
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3
    """,
    "q8_market_share": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
                             THEN CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)
                             ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q13_order_count_distribution": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "q14_promo_effect": """
        SELECT 100.0
               * CAST(SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)
                               ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               AS promo_revenue_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    "q16_supplier_part_count": """
        SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        GROUP BY 1, 2
    """,
    "q18_large_volume": """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        FROM orders
        JOIN (
            SELECT l_orderkey, SUM(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 250.0
        ) big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_disjunctive": """
        SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1.0 AND 20.0)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
               AND l_quantity BETWEEN 10.0 AND 30.0)
           OR (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 20.0)
    """,
    "q21_waiting_supplier": """
        SELECT s_name, COUNT(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
    """,
    "q22_idle_rich_customers": """
        WITH avg_bal AS (
            SELECT CAST(SUM(CAST(FLOOR(c_acctbal*100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / COUNT(*) AS avg_cents
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(FLOOR(c_acctbal*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_bal
        FROM customer, avg_bal
        WHERE CAST(CAST(FLOOR(c_acctbal*100.0 + 0.5) AS BIGINT) AS DOUBLE) > avg_cents
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_mktsegment
    """,
    "q6_forecast_revenue": """
        SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount)*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24.0
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))*100.0 + 0.5) AS BIGINT)) AS rev_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-07-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(rev_cents AS DOUBLE)/100.0 AS total_rev
        FROM rev
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)
    """,
    "q17_small_quantity": """
        WITH branded AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
        ),
        avg_q AS (
            SELECT l_partkey AS ap_key,
                   0.2 * (CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)) AS qty_threshold
            FROM branded
            GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(FLOOR(l_extendedprice*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_price,
               COUNT(*) AS n_items
        FROM branded
        JOIN avg_q ON l_partkey = ap_key
        WHERE l_quantity < qty_threshold
    """,
    "window_analytics": """
        SELECT o_custkey,
               o_orderkey,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               first_value(o_totalprice) OVER wall AS first_price,
               last_value(o_totalprice) OVER wall AS last_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wall AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "agg_percentiles_exact": """
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.9) AS p90
        FROM orders
        GROUP BY o_orderpriority
    """,
    "agg_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    "topk_per_group": """
        SELECT o_orderpriority,
               CAST(row_number() OVER w AS INT) AS rank,
               o_orderkey, o_totalprice
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
        QUALIFY row_number() OVER w <= 3
    """,
    "agg_having": """
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) > 20
    """,
    "window_running": """
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER w AS INT) AS order_seq,
               lag(o_orderkey) OVER w AS prev_orderkey,
               CAST(SUM(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)/100.0 AS running_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "expr_json": """
        SELECT r_regionkey,
               json_object('k', r_regionkey, 'n', r_name) AS payload,
               r_name AS name_back,
               CAST(r_regionkey AS BIGINT) AS key_back
        FROM region
    """,
    "evt_windowed_counts": """
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    "evt_windowed_counts_stream": """
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    "dedup_stream_watermark": """
        SELECT DISTINCT user_id, event_type, epoch_us(ts) AS ts_us
        FROM events
    """,
    "join_asof": """
        SELECT e.event_id,
               e.user_id,
               epoch_us(e.ts) AS ts_us,
               epoch_us(o.o_orderdate) AS last_order_us
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    "evt_rollup_daily": """
        SELECT epoch_us(date_trunc('day', ts)) AS day_us,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "text_top_terms": """
        SELECT token, COUNT(*) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS token
            FROM documents
            WHERE text IS NOT NULL
        )
        WHERE token <> ''
        GROUP BY token
        ORDER BY cnt DESC, token ASC
        LIMIT 20
    """,
    "join_range": """
        SELECT label,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice*100.0 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_rev
        FROM orders
        JOIN (VALUES ('budget', 0.0, 50000.0),
                     ('mid', 50000.0, 150000.0),
                     ('high', 150000.0, 300000.0),
                     ('premium', 300000.0, 500000.0)) AS bands(label, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY label
    """,
    "evt_stream_stream_join": """
        SELECT v.user_id,
               epoch_us(v.ts) AS view_ts_us,
               epoch_us(p.ts) AS buy_ts_us
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view'
          AND p.event_type = 'purchase'
    """,
    "evt_sessionize": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sid AS (
            SELECT user_id, ts,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) + 1 AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               epoch_us(MIN(ts)) AS start_us,
               epoch_us(MAX(ts)) AS end_us,
               COUNT(*) AS n_events
        FROM sid GROUP BY user_id, session_id
    """,
    "scd3_update": """
        WITH rb AS (
            SELECT o_custkey, o_orderstatus,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE) DESC,
                                o_orderstatus DESC) AS rn
            FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '1995-01-01'
        ), base AS (
            SELECT o_custkey, o_orderstatus FROM rb WHERE rn = 1
        ), ru AS (
            SELECT o_custkey, o_orderstatus,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE) DESC,
                                o_orderstatus DESC) AS rn
            FROM orders WHERE CAST(o_orderdate AS DATE) > DATE '1995-01-01'
        ), upd AS (
            SELECT o_custkey, o_orderstatus FROM ru WHERE rn = 1
        )
        SELECT COALESCE(b.o_custkey, u.o_custkey) AS o_custkey,
               CASE WHEN u.o_custkey IS NOT NULL
                         AND u.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                    THEN u.o_orderstatus ELSE b.o_orderstatus
               END AS o_orderstatus,
               CASE WHEN u.o_custkey IS NOT NULL
                         AND u.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                    THEN b.o_orderstatus ELSE CAST(NULL AS VARCHAR)
               END AS prev_o_orderstatus
        FROM base b FULL OUTER JOIN upd u ON b.o_custkey = u.o_custkey
    """,
    "src_json_corrupt_routing": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_quarantined,
               CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END)
                    AS BIGINT) AS good_key_sum
        FROM nation
    """,
    "evt_stream_static_join": """
        SELECT n.n_name,
               COUNT(*) AS n_events
        FROM events e
        JOIN customer c
          ON (e.user_id % (SELECT COUNT(*) FROM customer)) + 1 = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    # reproduces the stub embedding exactly: md5 over the same utf-8
    # bytes yields k ∈ [0, 2000) per component; the sums are integer
    # arithmetic in both engines — no float comparison at all
    "mm_embed_stub": """
        WITH comps AS (
            SELECT d.doc_id,
                   CAST(('0x' || substr(md5(d.text || ':' || gs.i), 1, 8))
                        AS BIGINT) % 2000 AS k
            FROM documents d CROSS JOIN generate_series(0, 15) AS gs(i)
            WHERE d.text IS NOT NULL
        )
        SELECT doc_id,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(SUM(k * k) AS BIGINT) AS sumsq_k
        FROM comps GROUP BY doc_id
    """,
    "evt_windowed_quantiles": """
        WITH pud AS (
            SELECT CAST(ts AS DATE) AS d, user_id, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT d,
               ROUND(quantile_cont(CAST(n AS DOUBLE), 0.5), 6) AS p50,
               ROUND(quantile_cont(CAST(n AS DOUBLE), 0.95), 6) AS p95,
               CAST(MAX(n) AS BIGINT) AS max_n,
               COUNT(*) AS n_users
        FROM pud GROUP BY d
    """,
    "join_null_safe": """
        WITH d AS (
            SELECT doc_id, nullif(lang, 'en') AS k, n_chars FROM documents
        ), g AS (
            SELECT k, CAST(SUM(n_chars) AS BIGINT) AS group_chars,
                   COUNT(*) AS group_docs
            FROM d GROUP BY k
        )
        SELECT d.doc_id, d.k, g.group_chars, g.group_docs
        FROM d JOIN g ON d.k IS NOT DISTINCT FROM g.k
    """,
    # session_window semantics: split at diff >= gap (not > gap as in
    # the lag form), end = last event + gap
    "evt_session_window_native": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             >= 30*60*1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sid AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_grp
            FROM flagged
        )
        SELECT user_id,
               epoch_us(MIN(ts)) AS start_us,
               epoch_us(MAX(ts)) + 30*60*1000000 AS end_us,
               COUNT(*) AS n_events
        FROM sid GROUP BY user_id, session_grp
    """,
    "evt_sessionize_stream": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sid AS (
            SELECT user_id, ts,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) + 1 AS BIGINT) AS session_id
            FROM flagged
        ), sess AS (
            SELECT user_id, session_id,
                   epoch_us(MIN(ts)) AS start_us,
                   epoch_us(MAX(ts)) AS end_us,
                   COUNT(*) AS n_events
            FROM sid GROUP BY user_id, session_id
        )
        SELECT user_id, session_id, start_us, end_us, n_events
        FROM sess
        QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)
    """,
    "evt_pivot_user_counts": """
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        FROM events GROUP BY user_id
    """,
    "text_token_count": """
        SELECT doc_id,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) END AS BIGINT) AS n_tokens
        FROM documents
    """,
    # hash_bucket(key, buckets, salt) ≡ 60-bit md5 prefix mod buckets —
    # md5 + hex-parse exist in both engines, so sample membership,
    # split labels and mix decisions replay bit-for-bit
    "sample_hash_mod": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE CAST(('0x' || substring(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000 < 100000
    """,
    "src_orc_roundtrip": """
        SELECT * FROM region
    """,
    "src_partitioned_prune": """
        SELECT CAST(ts AS DATE) AS event_date, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        GROUP BY 1, 2
    """,
    # the full six-stage recipe replayed as one CTE chain; each stage's
    # SQL form is the same fragment its standalone oracle uses
    "flagship_data_recipe": """
        WITH nums AS (SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, 4096) t(i)),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 2
            WHERE len(t) >= 3
            UNION ALL
            SELECT doc_id, array_to_string(t, ' ') AS g FROM toks WHERE len(t) < 3
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
        ), cg AS (
            SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0
        ), tot AS (
            SELECT doc_id, COUNT(*) AS n_ngrams FROM cg GROUP BY doc_id
        ), mt AS (
            SELECT cg.doc_id, COUNT(*) AS n_matched
            FROM cg JOIN bench USING (g) GROUP BY cg.doc_id
        ), contam AS (
            SELECT tot.doc_id FROM tot LEFT JOIN mt ON tot.doc_id = mt.doc_id
            WHERE CAST(COALESCE(n_matched, 0) AS DOUBLE)
                  / CAST(n_ngrams AS DOUBLE) > 0.05
        ), bg AS (
            SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 1 WHERE len(t) >= 2
        ), bgtop AS (
            SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS frac
            FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g)
            GROUP BY doc_id
        ), tg AS (
            SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 2 WHERE len(t) >= 3
        ), tgtop AS (
            SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS frac
            FROM (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g)
            GROUP BY doc_id
        ), kept AS (
            SELECT c.doc_id, c.text, c.lang, c.source, c.n_chars
            FROM documents c
            LEFT JOIN contam ON c.doc_id = contam.doc_id
            LEFT JOIN bgtop ON c.doc_id = bgtop.doc_id
            LEFT JOIN tgtop ON c.doc_id = tgtop.doc_id
            WHERE c.doc_id % 97 <> 0
              AND contam.doc_id IS NULL
              AND COALESCE(bgtop.frac, 0.0) <= 0.05
              AND COALESCE(tgtop.frac, 0.0) <= 0.04
              AND (CASE WHEN length(trim(c.text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(c.text), '[\\t\\n\\v\\f\\r ]+')) END) >= 30
        ), red AS (
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IPV4>', 'g'),
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                     '(?:\\+|\\b)\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b', '<PHONE>', 'g') AS text,
                   lang, source, n_chars
            FROM kept
        ), fp AS (
            SELECT *, md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g')))) AS f
            FROM red
        ), reps AS (
            SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f
        ), deduped AS (
            SELECT fp.doc_id, fp.source, fp.lang, fp.n_chars
            FROM fp JOIN reps ON fp.f = reps.f AND fp.doc_id = reps.doc_id
        ), budget AS (
            SELECT doc_id, source, lang, n_chars,
                   COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY
                       CAST(('0x' || substring(md5('budget' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000 ASC,
                       doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM deduped
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM budget WHERE cum < 15000
        GROUP BY source
    """,
    # indexed list_transform pairs each component with its position
    # (DuckDB lambda index is 1-based), so the long-form unnest needs
    # no lateral series; means rounded to 6 dp (summation order).
    "src_schema_evolution": """
        SELECT 1 AS epoch, n_nationkey, n_name,
               CAST(NULL AS BIGINT) AS name_len
        FROM nation WHERE n_nationkey < 12
        UNION ALL
        SELECT 2, n_nationkey, n_name, CAST(length(n_name) AS BIGINT)
        FROM nation WHERE n_nationkey >= 12
    """,
    "project_unpivot": """
        WITH wide AS (
            SELECT r.r_name,
                   CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END) AS BIGINT) AS p1,
                   CAST(SUM(CASE WHEN o.o_orderpriority = '2-HIGH'
                            THEN 1 ELSE 0 END) AS BIGINT) AS p2,
                   CAST(SUM(CASE WHEN o.o_orderpriority = '3-MEDIUM'
                            THEN 1 ELSE 0 END) AS BIGINT) AS p3
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        )
        SELECT r_name, 'p1' AS priority, p1 AS n FROM wide
        UNION ALL SELECT r_name, 'p2', p2 FROM wide
        UNION ALL SELECT r_name, 'p3', p3 FROM wide
    """,
    # full re-aggregation over all raw rows — the incremental merge
    # must equal this exactly (decomposable-aggregate property)
    "agg_incremental": """
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY CAST(o_orderdate AS DATE)
    """,
    "dedup_incremental": """
        WITH docs AS (
            SELECT doc_id, source, lang, n_chars,
                   md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g')))) AS fp
            FROM documents WHERE text IS NOT NULL
        ), seen AS (
            SELECT DISTINCT fp FROM docs WHERE doc_id % 3 = 0
        ), fresh AS (
            SELECT d.* FROM docs d
            WHERE d.doc_id % 3 <> 0
              AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = d.fp)
        )
        SELECT doc_id, source, lang, n_chars
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM fresh
        ) WHERE rn = 1
    """,
    # log2(N)-log2(n) mirrors the Spark expression exactly; rounding
    # absorbs libm ulp + mean-order differences.
    "text_perplexity_unigram": """
        WITH toks AS (
            SELECT doc_id, t.tok
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) AS t
            WHERE t.tok <> ''
        ), vocab AS (
            SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok
        ), tot AS (
            SELECT CAST(SUM(n_tok) AS DOUBLE) AS n_total FROM vocab
        )
        SELECT toks.doc_id,
               ROUND(AVG(log2((SELECT n_total FROM tot))
                         - log2(CAST(vocab.n_tok AS DOUBLE))), 6)
                   AS mean_neg_log2p,
               COUNT(*) AS n_tokens
        FROM toks JOIN vocab ON toks.tok = vocab.tok
        GROUP BY toks.doc_id
    """,
    "emb_label_centroids": """
        SELECT label, u.pos AS pos,
               ROUND(AVG(CAST(u.v AS DOUBLE)), 6) AS centroid_val
        FROM (
            SELECT label,
                   unnest(list_transform(embedding,
                          (x, i) -> struct_pack(pos := i - 1, v := x))) AS u
            FROM embeddings
        )
        GROUP BY label, u.pos
    """,
    # 3 unrolled power-method steps; `CAST(... AS DOUBLE)` everywhere so
    # both engines run IEEE double arithmetic (DuckDB's bare 0.85 / 1.0
    # literals are DECIMALs), and `1 - 0.85` written as an expression so
    # both carry the identical 0.15000000000000002 representation.
    "graph_pagerank": """
        WITH pairs AS (
            SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                            's' || CAST(l.l_suppkey AS VARCHAR) AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ), edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ), deg AS (
            SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ), nodes AS (
            SELECT src AS id FROM deg
        ), nn AS (
            SELECT COUNT(*) AS n FROM nodes
        ), r0 AS (
            SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank
            FROM nodes
        ), r1 AS (
            SELECT nodes.id,
                   (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / (SELECT n FROM nn)
                   + CAST(0.85 AS DOUBLE)
                       * COALESCE(SUM(r0.rank / deg.outdeg), 0) AS rank
            FROM nodes
            LEFT JOIN edges ON edges.dst = nodes.id
            LEFT JOIN deg ON deg.src = edges.src
            LEFT JOIN r0 ON r0.id = edges.src
            GROUP BY nodes.id
        ), r2 AS (
            SELECT nodes.id,
                   (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / (SELECT n FROM nn)
                   + CAST(0.85 AS DOUBLE)
                       * COALESCE(SUM(r1.rank / deg.outdeg), 0) AS rank
            FROM nodes
            LEFT JOIN edges ON edges.dst = nodes.id
            LEFT JOIN deg ON deg.src = edges.src
            LEFT JOIN r1 ON r1.id = edges.src
            GROUP BY nodes.id
        ), r3 AS (
            SELECT nodes.id,
                   (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / (SELECT n FROM nn)
                   + CAST(0.85 AS DOUBLE)
                       * COALESCE(SUM(r2.rank / deg.outdeg), 0) AS rank
            FROM nodes
            LEFT JOIN edges ON edges.dst = nodes.id
            LEFT JOIN deg ON deg.src = edges.src
            LEFT JOIN r2 ON r2.id = edges.src
            GROUP BY nodes.id
        )
        SELECT id, ROUND(rank, 6) AS rank FROM r3
    """,
    "agg_collect_sorted": """
        SELECT r.r_name,
               array_to_string(list_sort(list(n.n_name)), '|') AS nations,
               COUNT(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    "window_gap_islands": """
        WITH m AS (
            SELECT DISTINCT o_custkey,
                   CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
            FROM orders
        ), g AS (
            SELECT o_custkey, m,
                   m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
            FROM m
        )
        SELECT o_custkey, MIN(m) AS start_m, MAX(m) AS end_m,
               COUNT(*) AS n_months
        FROM g GROUP BY o_custkey, grp
    """,
    # the stream's multi-batch associative merge must converge to the
    # single-window latest-per-key answer
    "evt_cdc_upsert_stream": """
        SELECT o_custkey, o_orderstatus, odate FROM (
            SELECT o_custkey, o_orderstatus,
                   CAST(o_orderdate AS DATE) AS odate,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE) DESC,
                                o_orderstatus DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    "evt_topk_stream": """
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY user_id
        ORDER BY cnt DESC, user_id ASC
        LIMIT 25
    """,
    "scd1_upsert": """
        WITH o AS (
            SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS odate
            FROM orders
        ), base AS (
            SELECT o_custkey, o_orderstatus, odate FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY odate DESC, o_orderstatus DESC) AS rn
                FROM o WHERE odate <= DATE '1995-01-01') WHERE rn = 1
        ), upd AS (
            SELECT o_custkey, o_orderstatus, odate FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY odate DESC, o_orderstatus DESC) AS rn
                FROM o WHERE odate > DATE '1995-01-01') WHERE rn = 1
        )
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_custkey = b.o_custkey)
        UNION ALL
        SELECT * FROM upd
    """,
    "agg_histogram": """
        SELECT CAST(FLOOR(o_totalprice / 20000.0) AS BIGINT) AS bucket,
               COUNT(*) AS n,
               MIN(o_totalprice) AS lo,
               MAX(o_totalprice) AS hi
        FROM orders
        GROUP BY 1
    """,
    "text_collocations": """
        WITH words AS (
            SELECT string_split_regex(trim(lower(text)), '[\\t\\n\\v\\f\\r ]+') AS w
            FROM documents WHERE text IS NOT NULL
        ), bg AS (
            SELECT unnest(list_transform(generate_series(1, len(w)-1),
                          i -> w[i] || ' ' || w[i+1])) AS bigram
            FROM words
        ), top AS (
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_xy
            FROM bg GROUP BY bigram ORDER BY n_xy DESC, bigram ASC LIMIT 50
        ), uni AS (
            SELECT unnest(w) AS token FROM words
        ), un AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM uni WHERE token <> '' GROUP BY token
        ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM un)
        SELECT t.bigram, t.n_xy, a.n AS n_x, b.n AS n_y,
               (2 * t.n_xy * n_total > 3 * a.n * b.n) AS is_collocation
        FROM top t
        JOIN un a ON a.token = string_split(t.bigram, ' ')[1]
        JOIN un b ON b.token = string_split(t.bigram, ' ')[2]
        CROSS JOIN tot
    """,
    "flagship_event_analytics": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sid AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) + 1 AS session_id
            FROM flagged
        ), sess AS (
            SELECT user_id, session_id, COUNT(*) AS n_ev
            FROM sid GROUP BY user_id, session_id
        ), per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(n_ev) AS BIGINT) AS n_events
            FROM sess GROUP BY user_id
        ), u1 AS (
            SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS s1
            FROM events GROUP BY user_id
        ), u2 AS (
            SELECT e.user_id, MIN(e.ts) AS s2
            FROM events e JOIN u1 USING (user_id)
            WHERE e.event_type = 'click' AND u1.s1 IS NOT NULL
              AND e.ts > u1.s1 AND e.ts <= u1.s1 + INTERVAL 72 HOURS
            GROUP BY e.user_id
        ), u3 AS (
            SELECT e.user_id, MIN(e.ts) AS s3
            FROM events e JOIN u2 USING (user_id) JOIN u1 USING (user_id)
            WHERE e.event_type = 'purchase'
              AND e.ts > u2.s2 AND e.ts <= u1.s1 + INTERVAL 72 HOURS
            GROUP BY e.user_id
        ), depth AS (
            SELECT u1.user_id,
                   CAST(CASE WHEN u3.s3 IS NOT NULL THEN 3
                             WHEN u2.s2 IS NOT NULL THEN 2
                             WHEN u1.s1 IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS depth
            FROM u1 LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)
        ), activity AS (
            SELECT user_id,
                   CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
            FROM events GROUP BY user_id
        )
        SELECT d.depth,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(p.n_sessions) AS BIGINT) AS total_sessions,
               CAST(SUM(a.active_days) AS BIGINT) AS total_active_days,
               CAST(SUM(p.n_events) AS BIGINT) AS total_events
        FROM per_user p
        JOIN activity a USING (user_id)
        JOIN depth d USING (user_id)
        GROUP BY d.depth
    """,
    "window_rolling_sum": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, event_type,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT d, event_type, cnt,
               CAST(SUM(cnt) OVER w AS BIGINT) AS rolling7,
               (cnt * 7 > 2 * SUM(cnt) OVER w) AS spike
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "join_interval_overlap": """
        WITH o AS (
            SELECT o_custkey, o_orderkey,
                   CAST(o_orderdate AS DATE) AS s,
                   CAST(o_orderdate AS DATE) + 30 AS e
            FROM orders
        )
        SELECT a.o_custkey, a.o_orderkey AS k1, b.o_orderkey AS k2,
               CAST(DATE_DIFF('day', GREATEST(a.s, b.s),
                              LEAST(a.e, b.e)) + 1 AS BIGINT) AS overlap_days
        FROM o a JOIN o b
          ON a.o_custkey = b.o_custkey
         AND a.o_orderkey < b.o_orderkey
         AND a.s <= b.e AND b.s <= a.e
    """,
    "agg_mode": """
        WITH counts AS (
            SELECT c_mktsegment, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        )
        SELECT c_mktsegment, o_orderpriority AS top_priority,
               cnt AS n_orders
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY c_mktsegment
                ORDER BY cnt DESC, o_orderpriority ASC) AS rn
            FROM counts
        ) WHERE rn = 1
    """,
    "evt_retention_cohorts": """
        WITH active AS (
            SELECT DISTINCT user_id,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS m
            FROM events
        ), cohort AS (
            SELECT user_id, MIN(m) AS cohort_m FROM active GROUP BY user_id
        )
        SELECT c.cohort_m, a.m - c.cohort_m AS age,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM active a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY c.cohort_m, a.m - c.cohort_m
    """,
    # recursive min-after-prev-step definition ≡ the Spark side's
    # greedy sorted-array fold (both engines compare micro-truncated
    # timestamps: DuckDB converts TIMESTAMP(NANOS) to micros on read,
    # Spark uses timestamp_micros(nanos div 1000))
    "evt_funnel": """
        WITH u1 AS (
            SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS s1
            FROM events GROUP BY user_id
        ), u2 AS (
            SELECT e.user_id, MIN(e.ts) AS s2
            FROM events e JOIN u1 USING (user_id)
            WHERE e.event_type = 'click' AND u1.s1 IS NOT NULL AND e.ts > u1.s1
            GROUP BY e.user_id
        ), u3 AS (
            SELECT e.user_id, MIN(e.ts) AS s3
            FROM events e JOIN u2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > u2.s2
            GROUP BY e.user_id
        )
        SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
               CAST((SELECT COUNT(s1) FROM u1) AS BIGINT) AS n_users
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'click',
               CAST((SELECT COUNT(*) FROM u2) AS BIGINT)
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'purchase',
               CAST((SELECT COUNT(*) FROM u3) AS BIGINT)
    """,
    "join_fuzzy_names": """
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM n a JOIN n b
          ON string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
         AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    "sample_stratified": """
        SELECT doc_id, lang, rk FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                       CAST(('0x' || substring(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000 ASC,
                       doc_id ASC) AS rk
            FROM documents
            WHERE doc_id IS NOT NULL  -- r12 null-key contract lockstep
        )
        WHERE rk <= 40
    """,
    "sample_token_budget": """
        SELECT doc_id, source, n_chars, cum_before FROM (
            SELECT doc_id, source, n_chars,
                   CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY
                       CAST(('0x' || substring(md5('budget' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000 ASC,
                       doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS cum_before
            FROM documents
            WHERE doc_id IS NOT NULL  -- r12 null-key contract lockstep
        )
        WHERE cum_before < 20000
    """,
    "split_train_holdout": """
        -- two explicit branches, no ELSE (lockstep with the Spark
        -- side's r12 null-key contract: a null key falls through both
        -- and gets a NULL split, never a silent 'train')
        SELECT doc_id,
               CASE WHEN b < 200000 THEN 'holdout'
                    WHEN b >= 200000 THEN 'train' END AS split
        FROM (
            SELECT doc_id,
                   CAST(('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 1000000 AS b
            FROM documents)
    """,
    "mix_weighted_repeat": """
        WITH nums AS (SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, 16) t(i)),
        d AS (
            SELECT doc_id, source,
                   CASE source
                     WHEN 'src0' THEN 2 + CASE WHEN
                       CAST(('0x' || substring(md5('mixrep' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000 < 500000 THEN 1 ELSE 0 END
                     WHEN 'src1' THEN 1 + CASE WHEN
                       CAST(('0x' || substring(md5('mixrep' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000 < 250000 THEN 1 ELSE 0 END
                     WHEN 'src2' THEN 0 + CASE WHEN
                       CAST(('0x' || substring(md5('mixrep' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                           % 1000000 < 500000 THEN 1 ELSE 0 END
                     WHEN 'src3' THEN 1
                     ELSE 0 END AS c
            FROM documents
        )
        SELECT doc_id, source, i AS repeat_idx
        FROM d JOIN nums ON i <= c
        WHERE c > 0
    """,
    "ids_global_contiguous": """
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_id
        FROM documents
    """,
    "mix_weighted": """
        SELECT doc_id, source
        FROM documents
        WHERE CAST(('0x' || substring(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000
              < CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
                            WHEN 'src2' THEN 250000 ELSE 0 END
    """,
    # transitive closure of the deterministic pair set via recursive
    # CTE — min reachable id ≡ the Spark side's label-propagation fixpoint
    "dedup_clusters": """
        WITH RECURSIVE pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            WHERE (a.n_chars + b.n_chars) % 3 = 0
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ), reach(id, r) AS (
            SELECT a, a FROM edges GROUP BY a
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
        )
        SELECT d.doc_id,
               COALESCE(MIN(reach.r), d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN reach ON reach.id = d.doc_id
        GROUP BY d.doc_id
    """,
    "scd2_history": """
        WITH src AS (
            SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS odate
            FROM orders
        ), marked AS (
            SELECT o_custkey, o_orderstatus, odate,
                   CASE WHEN ROW_NUMBER() OVER w = 1
                             OR (o_orderstatus IS DISTINCT FROM LAG(o_orderstatus) OVER w)
                        THEN 1 ELSE 0 END AS new_run
            FROM src
            WINDOW w AS (PARTITION BY o_custkey ORDER BY odate ASC, o_orderstatus ASC)
        ), runs AS (
            SELECT o_custkey, o_orderstatus, odate,
                   SUM(new_run) OVER w AS run_id
            FROM marked
            WINDOW w AS (PARTITION BY o_custkey ORDER BY odate ASC, o_orderstatus ASC)
        ), per_run AS (
            SELECT o_custkey, run_id, o_orderstatus,
                   MIN(odate) AS valid_from
            FROM runs GROUP BY o_custkey, run_id, o_orderstatus
        )
        SELECT o_custkey, o_orderstatus, valid_from,
               LEAD(valid_from) OVER w2 AS valid_to,
               (LEAD(valid_from) OVER w2 IS NULL) AS is_current
        FROM per_run
        WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id ASC)
    """,
    "join_scd2_asof": """
        WITH src AS (
            SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS odate
            FROM orders
        ), marked AS (
            SELECT o_custkey, o_orderstatus, odate,
                   CASE WHEN ROW_NUMBER() OVER w = 1
                             OR (o_orderstatus IS DISTINCT FROM LAG(o_orderstatus) OVER w)
                        THEN 1 ELSE 0 END AS new_run
            FROM src
            WINDOW w AS (PARTITION BY o_custkey ORDER BY odate ASC, o_orderstatus ASC)
        ), runs AS (
            SELECT o_custkey, o_orderstatus, odate,
                   SUM(new_run) OVER w AS run_id
            FROM marked
            WINDOW w AS (PARTITION BY o_custkey ORDER BY odate ASC, o_orderstatus ASC)
        ), per_run AS (
            SELECT o_custkey, run_id, o_orderstatus,
                   MIN(odate) AS valid_from
            FROM runs GROUP BY o_custkey, run_id, o_orderstatus
        ), hist AS (
            SELECT o_custkey, o_orderstatus, valid_from,
                   LEAD(valid_from) OVER w2 AS valid_to
            FROM per_run
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id ASC)
        )
        SELECT o.o_orderkey, o.o_custkey,
               CAST(o.o_orderdate AS DATE) AS odate,
               h.o_orderstatus AS status_at_order,
               h.valid_from AS status_since
        FROM orders o JOIN hist h
          ON o.o_custkey = h.o_custkey
         AND CAST(o.o_orderdate AS DATE) >= h.valid_from
         AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.valid_to)
    """,
    # every rule replayed as a one-row aggregate select; passed =
    # the same metric-vs-threshold comparison
    "validate_warehouse": """
        SELECT 'orders' AS "table", 'not_null(o_custkey)' AS rule,
               'o_custkey' AS "column", metric, 0.0 AS threshold,
               metric <= 0.0 AS passed
        FROM (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS metric FROM orders)
        UNION ALL
        SELECT 'orders', 'unique(o_orderkey)', 'o_orderkey', metric, 0.0,
               metric <= 0.0
        FROM (SELECT CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS DOUBLE)
                     AS metric FROM orders)
        UNION ALL
        SELECT 'orders', 'in_set(o_orderstatus)', 'o_orderstatus', metric, 0.0,
               metric <= 0.0
        FROM (SELECT CAST(SUM(CASE WHEN COALESCE(NOT (o_orderstatus IN ('F','O')), TRUE)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS metric FROM orders)
        UNION ALL
        SELECT 'orders', 'min(o_totalprice)', 'o_totalprice', metric, 0.0,
               metric >= 0.0
        FROM (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS metric FROM orders)
        UNION ALL
        SELECT 'orders', 'row_count_min(*)', NULL, metric, 10000000.0,
               metric >= 10000000.0
        FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS metric FROM orders)
        UNION ALL
        SELECT 'lineitem', 'not_null(l_orderkey)', 'l_orderkey', metric, 0.0,
               metric <= 0.0
        FROM (SELECT CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS metric FROM lineitem)
        UNION ALL
        SELECT 'lineitem', 'qty_positive', NULL, metric, 0.0,
               metric <= 0.0
        FROM (SELECT CAST(SUM(CASE WHEN COALESCE(NOT (l_quantity > 0), TRUE)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS metric FROM lineitem)
        UNION ALL
        SELECT 'lineitem', 'max(l_discount)', 'l_discount', metric, 0.11,
               metric <= 0.11
        FROM (SELECT CAST(MAX(l_discount) AS DOUBLE) AS metric FROM lineitem)
        UNION ALL
        SELECT 'lineitem', 'ref_integrity(l_orderkey)', 'l_orderkey', metric, 0.0,
               metric <= 0.0
        FROM (SELECT CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS metric
              FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey)
    """,
    # replay: history from pre-cutoff orders (same SQL as
    # scd2_history), latest post-cutoff status per customer as the
    # update batch, then the keep/close/open merge as a 4-way union
    "scd2_merge_batch": """
        WITH src AS (
            SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS odate
            FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '1995-01-01'
        ), marked AS (
            SELECT o_custkey, o_orderstatus, odate,
                   CASE WHEN ROW_NUMBER() OVER w = 1
                             OR (o_orderstatus IS DISTINCT FROM LAG(o_orderstatus) OVER w)
                        THEN 1 ELSE 0 END AS new_run
            FROM src
            WINDOW w AS (PARTITION BY o_custkey ORDER BY odate ASC, o_orderstatus ASC)
        ), runs AS (
            SELECT o_custkey, o_orderstatus, odate,
                   SUM(new_run) OVER w AS run_id
            FROM marked
            WINDOW w AS (PARTITION BY o_custkey ORDER BY odate ASC, o_orderstatus ASC)
        ), per_run AS (
            SELECT o_custkey, run_id, o_orderstatus, MIN(odate) AS valid_from
            FROM runs GROUP BY o_custkey, run_id, o_orderstatus
        ), hist AS (
            SELECT o_custkey, o_orderstatus, valid_from,
                   LEAD(valid_from) OVER w2 AS valid_to,
                   (LEAD(valid_from) OVER w2 IS NULL) AS is_current
            FROM per_run
            WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id ASC)
        ), upd AS (
            SELECT o_custkey, new_status, eff FROM (
                SELECT o_custkey, o_orderstatus AS new_status,
                       CAST(o_orderdate AS DATE) AS eff,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY CAST(o_orderdate AS DATE) DESC,
                                    o_orderstatus DESC) AS rn
                FROM orders WHERE CAST(o_orderdate AS DATE) > DATE '1995-01-01'
            ) WHERE rn = 1
        ), cur AS (SELECT * FROM hist WHERE is_current),
        old AS (SELECT * FROM hist WHERE NOT is_current),
        j AS (
            SELECT COALESCE(cur.o_custkey, upd.o_custkey) AS o_custkey,
                   cur.o_orderstatus AS cur_status, cur.valid_from,
                   upd.new_status, upd.eff,
                   (cur.valid_from IS NOT NULL) AS cur_present,
                   (upd.eff IS NOT NULL) AS upd_present,
                   (cur.o_orderstatus IS DISTINCT FROM upd.new_status) AS changed
            FROM cur FULL OUTER JOIN upd ON cur.o_custkey = upd.o_custkey
        )
        SELECT o_custkey, o_orderstatus, valid_from, valid_to, is_current FROM old
        UNION ALL
        SELECT o_custkey, cur_status, valid_from, NULL, TRUE
        FROM j WHERE cur_present AND (NOT upd_present OR NOT changed)
        UNION ALL
        SELECT o_custkey, cur_status, valid_from, eff, FALSE
        FROM j WHERE cur_present AND upd_present AND changed
        UNION ALL
        SELECT o_custkey, new_status, eff, NULL, TRUE
        FROM j WHERE upd_present AND (NOT cur_present OR changed)
    """,
    # word-3-gram overlap vs the %97 benchmark slice; mirrors
    # word_shingles semantics (lower+trim, \s+ split, whole text as
    # one "gram" when < 3 tokens, distinct per doc)
    "decontaminate": """
        WITH nums AS (SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, 4096) t(i)),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 2
            WHERE len(t) >= 3
            UNION ALL
            SELECT doc_id, array_to_string(t, ' ') AS g FROM toks WHERE len(t) < 3
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
        ), cg AS (
            SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0
        ), tot AS (
            SELECT doc_id, COUNT(*) AS n_ngrams FROM cg GROUP BY doc_id
        ), mt AS (
            SELECT cg.doc_id, COUNT(*) AS n_matched
            FROM cg JOIN bench USING (g) GROUP BY cg.doc_id
        )
        SELECT tot.doc_id,
               CAST(n_ngrams AS BIGINT) AS n_ngrams,
               CAST(COALESCE(n_matched, 0) AS BIGINT) AS n_matched,
               CAST(COALESCE(n_matched, 0) AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
                   AS contam_ratio
        FROM tot LEFT JOIN mt ON tot.doc_id = mt.doc_id
    """,
    # per-doc repetition metrics; k-gram mode via groupBy+max (the SQL
    # form of the Spark side's in-array mode computation)
    "text_repetition": """
        WITH nums AS (SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, 4096) t(i)),
        toks AS (
            SELECT doc_id, text,
                   string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS t,
                   string_split(text, chr(10)) AS lines
            FROM documents
        ), base AS (
            SELECT doc_id,
                   CASE WHEN len(t) <= 1 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                                   / CAST(len(t) AS DOUBLE) END AS dup_word_frac,
                   CASE WHEN len(lines) <= 1 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                                   / CAST(len(lines) AS DOUBLE) END AS dup_line_frac
            FROM toks
        ), bg AS (
            SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 1 WHERE len(t) >= 2
        ), bgtop AS (
            SELECT doc_id, MAX(c) AS topc, SUM(c) AS nbg
            FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g)
            GROUP BY doc_id
        ), tg AS (
            SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 2 WHERE len(t) >= 3
        ), tgtop AS (
            SELECT doc_id, MAX(c) AS topc, SUM(c) AS ntg
            FROM (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g)
            GROUP BY doc_id
        )
        SELECT base.doc_id, dup_word_frac, dup_line_frac,
               COALESCE(CAST(bgtop.topc AS DOUBLE) / CAST(bgtop.nbg AS DOUBLE), 0.0)
                   AS top_bigram_frac,
               COALESCE(CAST(tgtop.topc AS DOUBLE) / CAST(tgtop.ntg AS DOUBLE), 0.0)
                   AS top_trigram_frac,
               (dup_line_frac <= 0.30
                AND COALESCE(CAST(bgtop.topc AS DOUBLE) / CAST(bgtop.nbg AS DOUBLE), 0.0) <= 0.05
                AND COALESCE(CAST(tgtop.topc AS DOUBLE) / CAST(tgtop.ntg AS DOUBLE), 0.0) <= 0.04)
                   AS rep_pass
        FROM base
        LEFT JOIN bgtop ON base.doc_id = bgtop.doc_id
        LEFT JOIN tgtop ON base.doc_id = tgtop.doc_id
    """,
    # same seeded PII injection, same Java∩RE2 patterns, same
    # replacement order (email → ipv4 → ssn → phone)
    "text_redact_pii": """
        WITH seeded AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com from ' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.0.1 call 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || '-1234' AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IPV4>', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                 '(?:\\+|\\b)\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b', '<PHONE>', 'g')
                   AS redacted,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                   '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text,
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
               CAST(len(regexp_extract_all(text,
                   '(?:\\+|\\b)\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b')) AS BIGINT) AS n_phone
        FROM seeded
    """,
    "pack_sequences": """
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) END AS BIGINT) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM toks
        )
        SELECT doc_id, lang, n_tokens,
               CAST(floor(cum_before / 512) AS BIGINT) AS pack_id,
               CAST(cum_before % 512 AS BIGINT) AS pack_offset
        FROM cum
    """,
    "text_quality": """
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) END AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / CAST(CASE WHEN length(text) = 0 THEN 1.0 ELSE length(text) END AS DOUBLE) AS alpha_ratio,
               CAST(len(regexp_extract_all(lower(text), '\\bthe\\b'))
                    + len(regexp_extract_all(lower(text), '\\band\\b'))
                    + len(regexp_extract_all(lower(text), '\\bof\\b'))
                    + len(regexp_extract_all(lower(text), '\\bto\\b'))
                    + len(regexp_extract_all(lower(text), '\\bis\\b')) AS DOUBLE)
                   / CAST(CASE WHEN len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) = 0 THEN 1.0
                          ELSE len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) END AS DOUBLE) AS stopword_ratio
        FROM documents
    """,
    "text_fingerprint": """
        SELECT doc_id, md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g')))) AS fp
        FROM documents
    """,
    "dedup_exact_hash": """
        SELECT md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g')))) AS fp,
               COUNT(*) AS group_size,
               MIN(doc_id) AS representative
        FROM documents GROUP BY 1
    """,
    "ngram_jaccard_adjacent": f"""
        WITH sh AS (
            SELECT doc_id,
                   CASE WHEN len(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) < 3
                        THEN [array_to_string(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+'), ' ')]
                        ELSE {_SHINGLES_SQL}
                   END AS sh
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
    "emb_cosine_near_dup": f"""
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               ROUND({_COS_LR}, 6) AS cosine_r
        FROM embeddings l JOIN embeddings r
          ON l.label = r.label AND l.vec_id < r.vec_id
        WHERE {_COS_LR} >= 0.25
    """,
    "ann_topk_bruteforce": f"""
        SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
               ROUND({_COS_LR}, 6) AS cosine_r,
               CAST(row_number() OVER (
                   PARTITION BY l.vec_id
                   ORDER BY {_COS_LR} DESC, r.vec_id ASC
               ) AS INT) AS rank
        FROM embeddings l JOIN embeddings r ON l.vec_id != r.vec_id
        WHERE l.vec_id < 8
        QUALIFY row_number() OVER (
            PARTITION BY l.vec_id
            ORDER BY {_COS_LR} DESC, r.vec_id ASC
        ) <= 5
    """,
    # two-stage quantized ANN replay: the quantizer is
    # round(x/norm*127) over the SAME left-fold norm both engines
    # evaluate bit-for-bit (IEEE ops in identical order), and both
    # engines round doubles half-away-from-zero, so the int8 corpus —
    # and hence the integer-dot candidate set — is exact; the float
    # re-rank is the proven _COS_LR fold.
    "ann_topk_quantized": f"""
        WITH b AS (
            SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
            FROM embeddings
        ), q AS (
            SELECT vec_id, embedding, nrm,
                   list_transform(embedding,
                       x -> CAST(ROUND(CAST(x AS DOUBLE) / nrm * 127.0)
                                 AS BIGINT)) AS qv
            FROM b
        ), cand AS (
            SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id
            FROM q l JOIN q r ON l.vec_id != r.vec_id
            WHERE l.vec_id < 8
            QUALIFY row_number() OVER (
                PARTITION BY l.vec_id
                ORDER BY ({" + ".join(f"(l.qv[{i}]*r.qv[{i}])" for i in range(1, 65))}) DESC,
                         r.vec_id ASC
            ) <= 20
        )
        SELECT c.query_id, c.neighbor_id,
               ROUND({_COS_LR}, 6) AS cosine_r,
               CAST(row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {_COS_LR} DESC, r.vec_id ASC
               ) AS INT) AS rank
        FROM cand c
        JOIN embeddings l ON l.vec_id = c.query_id
        JOIN embeddings r ON r.vec_id = c.neighbor_id
        QUALIFY row_number() OVER (
            PARTITION BY c.query_id
            ORDER BY {_COS_LR} DESC, r.vec_id ASC
        ) <= 5
    """,
    # full count-min replay with the md5 hash family: row-d bucket =
    # hex chars [8d+1, 8d+8] of md5(string(key)) as a 32-bit int mod
    # width — probes, counters and the row-min are all exact integers.
    "sketch_count_min": f"""
        WITH ev AS (
            SELECT user_id FROM events WHERE user_id IS NOT NULL
        ), probes AS (
            {" UNION ALL ".join(
                f"SELECT user_id, {d} AS d, {_cm_bucket_sql('user_id', d, 64)}"
                f" AS bucket FROM ev"
                for d in range(4)
            )}
        ), sketch AS (
            SELECT d, bucket, COUNT(*) AS cnt FROM probes GROUP BY d, bucket
        ), kp AS (
            {" UNION ALL ".join(
                f"SELECT DISTINCT user_id, {d} AS d,"
                f" {_cm_bucket_sql('user_id', d, 64)} AS bucket FROM ev"
                for d in range(4)
            )}
        ), est AS (
            SELECT kp.user_id, MIN(COALESCE(s.cnt, 0)) AS est_count
            FROM kp LEFT JOIN sketch s ON kp.d = s.d AND kp.bucket = s.bucket
            GROUP BY kp.user_id
        ), exact AS (
            SELECT user_id, COUNT(*) AS exact_count FROM ev GROUP BY user_id
        )
        SELECT e.user_id,
               CAST(est_count AS BIGINT) AS est_count,
               CAST(exact_count AS BIGINT) AS exact_count
        FROM est e JOIN exact USING (user_id)
    """,
    # md5-SimHash replay: bit b of a token's hash lives in hex char
    # b//4 (MSB-first within the nibble); votes are exact integers so
    # the sign pack agrees bit-for-bit. Same tokenizer expression as
    # _SHINGLES_SQL (regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')).
    "dedup_simhash_md5": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS t
            FROM documents
            WHERE text IS NOT NULL
        ), h AS (
            SELECT doc_id, md5(t) AS hx FROM tok
        ), votes AS (
            SELECT doc_id,
                   {", ".join(
                       "SUM(CASE WHEN (((strpos('0123456789abcdef', "
                       f"substring(hx, {b // 4 + 1}, 1)) - 1) >> {3 - b % 4})"
                       f" & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
                       for b in range(32)
                   )}
            FROM h GROUP BY doc_id
        )
        SELECT v.doc_id AS id,
               CAST({" + ".join(
                   f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
                   for b in range(32)
               )} AS BIGINT) AS simhash32
        FROM votes v
        UNION ALL
        SELECT doc_id AS id, CAST(NULL AS BIGINT) AS simhash32
        FROM documents WHERE text IS NULL
    """,
    "dedup_minhash_md5": _minhash_md5_sql(
        num_perm=16, bands=4, k=3, threshold=0.5
    ),
    "dedup_minhash_incremental": _minhash_md5_incremental_sql(
        num_perm=16, bands=4, k=3, threshold=0.5
    ),
    "emb_matryoshka_truncate": """
        WITH e AS (
            SELECT vec_id,
                   list_transform(
                       embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                                 AS BIGINT)) AS e6
            FROM embeddings
        ), s AS (
            SELECT vec_id, e6,
                   CAST(list_sum(list_transform(e6[1:16], x -> x * x))
                        AS BIGINT) AS pre,
                   CAST(list_sum(list_transform(e6, x -> x * x))
                        AS BIGINT) AS fl
            FROM e
        )
        SELECT vec_id, CAST(i - 1 AS INT) AS dim,
               ROUND(CAST(e6[i] AS DOUBLE) / sqrt(CAST(pre AS DOUBLE)), 6)
                   AS val_r,
               ROUND(sqrt(CAST(pre AS DOUBLE) / CAST(fl AS DOUBLE)), 6)
                   AS norm_frac_r
        FROM s, unnest(range(1, 17)) AS u(i)
    """,
    "emb_sign_hamming": """
        WITH s AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 33),
                       i -> CASE WHEN CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                                      > 0.0
                                 THEN (CAST(1 AS BIGINT) << (32 - CAST(i AS INT)))
                                 ELSE CAST(0 AS BIGINT) END))
                        AS BIGINT) AS hi,
                   CAST(list_sum(list_transform(range(33, 65),
                       i -> CASE WHEN CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                                      > 0.0
                                 THEN (CAST(1 AS BIGINT) << (64 - CAST(i AS INT)))
                                 ELSE CAST(0 AS BIGINT) END))
                        AS BIGINT) AS lo
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(bit_count(xor(a.hi, b.hi))
                    + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
        FROM s a JOIN s b ON b.vec_id = a.vec_id + 1
    """,
    # recall@5 of the fixed-quantizer IVF vs exact brute force: both
    # sides replay the proven _COS_LR fold; hit counting is integer
    "ann_recall_eval": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), inv AS (
            SELECT neighbor_id, embedding, centroid_id FROM (
                SELECT l.vec_id AS neighbor_id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        ), probes AS (
            SELECT query_id, embedding, centroid_id FROM (
                SELECT l.vec_id AS query_id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
                WHERE l.vec_id < 8
            ) WHERE rn <= 2
        ), approx AS (
            SELECT l.query_id, r.neighbor_id
            FROM probes l JOIN inv r
              ON l.centroid_id = r.centroid_id AND l.query_id != r.neighbor_id
            QUALIFY row_number() OVER (
                PARTITION BY l.query_id
                ORDER BY {_COS_LR} DESC, r.neighbor_id ASC
            ) <= 5
        ), exact AS (
            SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id
            FROM embeddings l JOIN embeddings r ON l.vec_id != r.vec_id
            WHERE l.vec_id < 8
            QUALIFY row_number() OVER (
                PARTITION BY l.vec_id
                ORDER BY {_COS_LR} DESC, r.vec_id ASC
            ) <= 5
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
               ROUND(COUNT(a.neighbor_id) / 5.0, 6) AS recall_r
        FROM exact e LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
    # cell-local k-NN graph: same fixed-quantizer assignment CTE as
    # ann_topk_ivf_fixed, then an in-cell exact top-3 per vector
    "emb_knn_graph": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), a AS (
            SELECT id, embedding, centroid_id FROM (
                SELECT l.vec_id AS id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        )
        SELECT l.id AS src_id, r.id AS dst_id,
               ROUND({_COS_LR}, 6) AS cosine_r,
               CAST(row_number() OVER (
                   PARTITION BY l.id
                   ORDER BY {_COS_LR} DESC, r.id ASC
               ) AS INT) AS rank
        FROM a l JOIN a r
          ON l.centroid_id = r.centroid_id AND l.id != r.id
        QUALIFY row_number() OVER (
            PARTITION BY l.id
            ORDER BY {_COS_LR} DESC, r.id ASC
        ) <= 3
    """,
    # exact scaled-int covariance: e6 quantization (matryoshka idiom),
    # integer cross-product sums, fixed-order double divides at the end
    "emb_covariance": """
        WITH e AS (
            SELECT vec_id,
                   list_transform(
                       embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                                 AS BIGINT)) AS e6
            FROM embeddings WHERE embedding IS NOT NULL
        ), x AS (
            SELECT vec_id, CAST(i AS INT) AS d,
                   e6[CAST(i AS INT) + 1] AS v
            FROM e, unnest(range(0, 64)) AS u(i)
        ), cross_s AS (
            SELECT a.d AS i, b.d AS j, SUM(a.v * b.v) AS sxy
            FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
            GROUP BY a.d, b.d
        ), lin AS (
            SELECT d, SUM(v) AS s FROM x GROUP BY d
        ), nn AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e
        ), cov AS (
            SELECT c.i, c.j,
                   (CAST(c.sxy AS DOUBLE) / nn.n
                    - (CAST(li.s AS DOUBLE) / nn.n)
                      * (CAST(lj.s AS DOUBLE) / nn.n)) / 1000000000000.0
                       AS cv
            FROM cross_s c
            CROSS JOIN nn
            JOIN lin li ON c.i = li.d
            JOIN lin lj ON c.j = lj.d
        )
        SELECT c.i AS dim_i, c.j AS dim_j,
               ROUND(c.cv, 9) AS cov_r,
               ROUND(CASE WHEN di.cv > 0 AND dj.cv > 0
                          THEN c.cv / sqrt(di.cv * dj.cv) END, 6) AS corr_r
        FROM cov c
        JOIN cov di ON di.i = c.i AND di.j = c.i
        JOIN cov dj ON dj.i = c.j AND dj.j = c.j
    """,
    # balanced downsampling: min class count via a window over the
    # collapsed counts frame; md5 rank within label, integer cut
    "sample_balanced_labels": """
        WITH base AS (
            SELECT vec_id, label FROM embeddings
            WHERE label IS NOT NULL AND vec_id IS NOT NULL
        ), c AS (
            SELECT label, COUNT(*) AS n FROM base GROUP BY label
        ), m AS (
            SELECT label, MIN(n) OVER () AS m FROM c
        ), r AS (
            SELECT vec_id, label,
                   row_number() OVER (
                       PARTITION BY label
                       ORDER BY md5('balance' || CAST(vec_id AS VARCHAR)),
                                vec_id
                   ) AS rn
            FROM base
        )
        SELECT r.vec_id, r.label
        FROM r JOIN m USING (label)
        WHERE r.rn <= m.m
    """,
    # n-gram novelty: same shingle construction as text_shared_ngrams
    # (k=3), first occurrence by MIN(doc_id), integer rollup
    "docs_ngram_novelty": """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents WHERE text IS NOT NULL
        ), g AS (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                     ELSE list_distinct(list_transform(range(1, len(toks) - 3 + 2),
                              i -> array_to_string(toks[i:i+2], ' ')))
                END) AS gram
            FROM t
        ), f AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
        ), p AS (
            SELECT g.doc_id,
                   COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM g JOIN f USING (gram) GROUP BY g.doc_id
        )
        SELECT doc_id, n_grams, n_novel,
               ROUND(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty_r
        FROM p
    """,
    # DSIR importance weights: distinct word-bigram shingles → md5-32
    # buckets (portable hash), add-0.5-smoothed target/raw bucket
    # frequencies, per-doc mean log-ratio rounded to 6
    "docs_dsir_weights": """
        WITH t AS (
            SELECT doc_id, lang = 'en' AS tgt,
                   regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents WHERE text IS NOT NULL
        ), g AS (
            SELECT doc_id, tgt,
                   ('0x' || substr(md5(unnest(
                       CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                            ELSE list_distinct(list_transform(range(1, len(toks)),
                                     i -> array_to_string(toks[i:i+1], ' ')))
                       END)), 1, 8))::BIGINT % 1024 AS b
            FROM t
        ), c AS (
            SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc,
                   COUNT(*) AS rc
            FROM g GROUP BY b
        ), tot AS (
            SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM c
        ), lr AS (
            SELECT c.b,
                   ln((c.tc + 0.5) / (tot.tt + 512.0))
                   - ln((c.rc + 0.5) / (tot.rt + 512.0)) AS lr
            FROM c CROSS JOIN tot
        )
        SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               ROUND(AVG(lr.lr), 6) AS weight_r
        FROM g JOIN lr ON g.b = lr.b
        GROUP BY g.doc_id
    """,
    # kNN label agreement: the emb_knn_graph edge set (same CTE) with
    # neighbor labels attached; integer rollup, left join for
    # lone-in-cell vectors (0 neighbors → null ratio in both engines)
    "emb_label_agreement": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), a AS (
            SELECT id, lbl, embedding, centroid_id FROM (
                SELECT l.vec_id AS id, l.label AS lbl,
                       l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        ), e AS (
            SELECT l.id AS src_id, r.lbl AS dst_lbl, l.lbl AS src_lbl
            FROM a l JOIN a r
              ON l.centroid_id = r.centroid_id AND l.id != r.id
            QUALIFY row_number() OVER (
                PARTITION BY l.id
                ORDER BY {_COS_LR} DESC, r.id ASC
            ) <= 3
        ), p AS (
            SELECT src_id, COUNT(*) AS n,
                   SUM(CASE WHEN src_lbl = dst_lbl THEN 1 ELSE 0 END) AS s
            FROM e GROUP BY src_id
        )
        SELECT emb.vec_id, emb.label,
               CAST(COALESCE(p.n, 0) AS BIGINT) AS n_neighbors,
               CAST(COALESCE(p.s, 0) AS BIGINT) AS n_same,
               CASE WHEN p.n IS NULL THEN NULL
                    ELSE ROUND(CAST(p.s AS DOUBLE) / p.n, 6) END AS agree_r
        FROM embeddings emb LEFT JOIN p ON emb.vec_id = p.src_id
    """,
    # per-source Zipf slope + lexical counts: one (source, token)
    # count frame; OLS over the top-50 (count desc, token asc) ranks
    "docs_zipf_lexical": """
        WITH t AS (
            SELECT source, unnest(
                regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS tok
            FROM documents WHERE text IS NOT NULL
        ), tf AS (
            SELECT source, tok, COUNT(*) AS cnt FROM t
            WHERE tok != '' GROUP BY source, tok
        ), lex AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax
            FROM tf GROUP BY source
        ), top AS (
            SELECT source, cnt,
                   row_number() OVER (
                       PARTITION BY source ORDER BY cnt DESC, tok ASC
                   ) AS rnk
            FROM tf
            QUALIFY rnk <= 50
        ), ols AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(ln(CAST(rnk AS DOUBLE))) AS sx,
                   SUM(ln(CAST(cnt AS DOUBLE))) AS sy,
                   SUM(ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)))
                       AS sxy,
                   SUM(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)))
                       AS sxx
            FROM top GROUP BY source
        )
        SELECT lex.source, lex.n_tokens, lex.n_types, lex.n_hapax,
               ROUND(CAST(lex.n_types AS DOUBLE) / lex.n_tokens, 6) AS ttr_r,
               ROUND(CAST(lex.n_hapax AS DOUBLE) / lex.n_types, 6)
                   AS hapax_r,
               ROUND((ols.n * ols.sxy - ols.sx * ols.sy)
                     / (ols.n * ols.sxx - ols.sx * ols.sx), 6)
                   AS zipf_slope_r
        FROM lex JOIN ols ON lex.source IS NOT DISTINCT FROM ols.source
    """,
    # per-label norm outliers: e6 integer sums of squares per row,
    # exact HUGEINT group moments, fixed-order double divides
    "emb_norm_outliers": """
        WITH e AS (
            SELECT vec_id, label,
                   list_sum(list_transform(
                       list_transform(embedding,
                           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0
                                           + 0.5) AS BIGINT)),
                       v -> v * v))::BIGINT AS n2
            FROM embeddings WHERE embedding IS NOT NULL
        ), m AS (
            SELECT label, CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(n2::HUGEINT) AS s,
                   SUM(n2::HUGEINT * n2::HUGEINT) AS ss
            FROM e GROUP BY label
        ), z AS (
            SELECT e.vec_id, e.label, e.n2,
                   (CAST(e.n2 AS DOUBLE)
                    - CAST(m.s AS DOUBLE) / m.n)
                   / sqrt(CAST(m.ss AS DOUBLE) / m.n
                          - (CAST(m.s AS DOUBLE) / m.n)
                            * (CAST(m.s AS DOUBLE) / m.n)) AS zv,
                   sqrt(CAST(m.ss AS DOUBLE) / m.n
                        - (CAST(m.s AS DOUBLE) / m.n)
                          * (CAST(m.s AS DOUBLE) / m.n)) AS sd
            FROM e JOIN m ON e.label = m.label
        )
        SELECT vec_id, label,
               ROUND(sqrt(CAST(n2 AS DOUBLE)) / 1000000.0, 6) AS norm_r,
               ROUND(zv, 6) AS z_r
        FROM z WHERE sd > 0 AND abs(zv) > 2.0
    """,
    # hard negatives: the emb_knn_graph cell join with the
    # label-mismatch predicate; same fold cosine, same tie-breaks
    "emb_hard_negatives": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), a AS (
            SELECT id, lbl, embedding, centroid_id FROM (
                SELECT l.vec_id AS id, l.label AS lbl,
                       l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        )
        SELECT l.id AS anchor_id, r.id AS negative_id,
               ROUND({_COS_LR}, 6) AS cosine_r,
               CAST(row_number() OVER (
                   PARTITION BY l.id
                   ORDER BY {_COS_LR} DESC, r.id ASC
               ) AS INT) AS rank
        FROM a l JOIN a r
          ON l.centroid_id = r.centroid_id AND l.lbl != r.lbl
        QUALIFY row_number() OVER (
            PARTITION BY l.id
            ORDER BY {_COS_LR} DESC, r.id ASC
        ) <= 3
    """,
    # power iteration over the 9-decimal covariance (emb_covariance's
    # cov CTE), two matvecs + fixed-order normalizations
    "emb_power_iteration": """
        WITH e AS (
            SELECT vec_id,
                   list_transform(
                       embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                                 AS BIGINT)) AS e6
            FROM embeddings WHERE embedding IS NOT NULL
        ), x AS (
            SELECT vec_id, CAST(i AS INT) AS d,
                   e6[CAST(i AS INT) + 1] AS v
            FROM e, unnest(range(0, 64)) AS u(i)
        ), cross_s AS (
            SELECT a.d AS i, b.d AS j, SUM(a.v * b.v) AS sxy
            FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
            GROUP BY a.d, b.d
        ), lin AS (
            SELECT d, SUM(v) AS s FROM x GROUP BY d
        ), nn AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e
        ), covr AS (
            SELECT c.i, c.j,
                   ROUND((CAST(c.sxy AS DOUBLE) / nn.n
                          - (CAST(li.s AS DOUBLE) / nn.n)
                            * (CAST(lj.s AS DOUBLE) / nn.n))
                         / 1000000000000.0, 9) AS c
            FROM cross_s c
            CROSS JOIN nn
            JOIN lin li ON c.i = li.d
            JOIN lin lj ON c.j = lj.d
        ), fullm AS (
            SELECT i, j, c FROM covr
            UNION ALL
            SELECT j AS i, i AS j, c FROM covr WHERE i != j
        ), v1 AS (
            SELECT i, SUM(c) AS raw FROM fullm GROUP BY i
        ), v1n AS (
            SELECT i, raw / sqrt((SELECT SUM(raw * raw) FROM v1)) AS v
            FROM v1
        ), v2 AS (
            SELECT f.i, SUM(f.c * v1n.v) AS raw
            FROM fullm f JOIN v1n ON f.j = v1n.i
            GROUP BY f.i
        ), eig AS (
            SELECT SUM(v2.raw * v1n.v) AS e
            FROM v2 JOIN v1n ON v2.i = v1n.i
        )
        SELECT v2.i AS dim,
               ROUND(v2.raw / sqrt((SELECT SUM(raw * raw) FROM v2)), 6)
                   AS v_r,
               ROUND((SELECT e FROM eig), 6) AS eig_r
        FROM v2
    """,
    "text_winnow_md5": _winnow_md5_sql(k=4, window=4),
    # portable HLL registers: b=6 -> bucket = top 6 bits of md5-32,
    # rho over the low 26 bits via minimal-width bin() in both engines
    "sketch_hll_md5": """
        WITH r AS (
            SELECT CAST(source AS VARCHAR) AS grp,
                   hv // 67108864 AS bucket,
                   CAST(CASE WHEN hv % 67108864 = 0 THEN 27
                        ELSE 26 - length(bin(hv % 67108864)) + 1
                   END AS BIGINT) AS rho
            FROM (SELECT source,
                         ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
                  FROM documents WHERE text IS NOT NULL)
        ), base AS (
            SELECT grp, bucket, MAX(rho) AS register
            FROM r GROUP BY grp, bucket
        )
        SELECT grp, bucket, register FROM base
        UNION ALL
        SELECT '__union__' AS grp, bucket, MAX(register) AS register
        FROM base GROUP BY bucket
    """,
    # streaming md5-HLL: drained register state == one-shot batch
    # registers (max idempotence), so the oracle computes them
    # directly from the events table
    "evt_distinct_stream_md5": """
        SELECT grp, bucket, MAX(rho) AS register
        FROM (
            SELECT CAST(event_type AS VARCHAR) AS grp,
                   hv // 67108864 AS bucket,
                   CAST(CASE WHEN hv % 67108864 = 0 THEN 27
                        ELSE 26 - length(bin(hv % 67108864)) + 1
                   END AS BIGINT) AS rho
            FROM (SELECT event_type,
                         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
                  FROM events WHERE user_id IS NOT NULL)
        ) GROUP BY grp, bucket
    """,
    # fixed-centroid IVF: centroids are table rows (vec_id < 16), so
    # cell assignment (argmax cosine, ties -> lowest centroid id),
    # probe top-2 and the exact re-rank all replay in SQL
    "ann_topk_ivf_fixed": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), inv AS (
            SELECT neighbor_id, embedding, centroid_id FROM (
                SELECT l.vec_id AS neighbor_id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        ), probes AS (
            SELECT query_id, embedding, centroid_id FROM (
                SELECT l.vec_id AS query_id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
                WHERE l.vec_id < 8
            ) WHERE rn <= 2
        )
        SELECT l.query_id, r.neighbor_id,
               ROUND({_COS_LR}, 6) AS cosine_r,
               CAST(row_number() OVER (
                   PARTITION BY l.query_id
                   ORDER BY {_COS_LR} DESC, r.neighbor_id ASC
               ) AS INT) AS rank
        FROM probes l JOIN inv r
          ON l.centroid_id = r.centroid_id AND l.query_id != r.neighbor_id
        QUALIFY row_number() OVER (
            PARTITION BY l.query_id
            ORDER BY {_COS_LR} DESC, r.neighbor_id ASC
        ) <= 5
    """,
    "ann_topk_lsh": f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_int_lsh_bucket_sql('embedding')} AS bucket
            FROM embeddings
        )
        SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
               ROUND({_COS_LR}, 6) AS cosine_r,
               CAST(row_number() OVER (
                   PARTITION BY l.vec_id
                   ORDER BY {_COS_LR} DESC, r.vec_id ASC
               ) AS INT) AS rank
        FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id != r.vec_id
        WHERE l.vec_id < 8
        QUALIFY row_number() OVER (
            PARTITION BY l.vec_id
            ORDER BY {_COS_LR} DESC, r.vec_id ASC
        ) <= 5
    """,
    "mm_media_meta": """
        SELECT doc_id,
               'image' AS media_type,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               CAST((octet_length(CAST(text AS BLOB)) % 640) + 1 AS BIGINT) AS width,
               CAST((octet_length(CAST(text AS BLOB)) % 480) + 1 AS BIGINT) AS height,
               md5(text) AS checksum
        FROM documents
    """,
    "text_lang_bpe": """
        WITH s AS (
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|is)\\b')) AS sc_en,
                   len(regexp_extract_all(lower(text), '\\b(?:el|la|de|que|y)\\b')) AS sc_es,
                   len(regexp_extract_all(lower(text), '\\b(?:le|la|les|de|et)\\b')) AS sc_fr,
                   len(regexp_extract_all(lower(text), '\\b(?:der|die|das|und|ist)\\b')) AS sc_de,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\t\\n\\v\\f\\r ]')) AS bpe
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN sc_en = greatest(sc_en, sc_es, sc_fr, sc_de) AND greatest(sc_en, sc_es, sc_fr, sc_de) >= 1 THEN 'en'
                    WHEN sc_es = greatest(sc_en, sc_es, sc_fr, sc_de) AND greatest(sc_en, sc_es, sc_fr, sc_de) >= 1 THEN 'es'
                    WHEN sc_fr = greatest(sc_en, sc_es, sc_fr, sc_de) AND greatest(sc_en, sc_es, sc_fr, sc_de) >= 1 THEN 'fr'
                    WHEN sc_de = greatest(sc_en, sc_es, sc_fr, sc_de) AND greatest(sc_en, sc_es, sc_fr, sc_de) >= 1 THEN 'de'
                    ELSE 'und' END AS lang_pred,
               CAST(bpe AS BIGINT) AS bpe_tokens
        FROM s
    """,
    "mm_frame_sample": """
        -- DuckDB can't substring BLOBs; the corpus is pure ASCII
        -- (octet_length == length for every row), so character
        -- substring == byte slice and the CAST back to BLOB matches
        -- Spark's binary frames exactly.
        WITH nums AS (SELECT i FROM generate_series(0, 99999) AS t(i)),
        d AS (
            SELECT doc_id,
                   text AS t,
                   CAST(CEIL(GREATEST(octet_length(CAST(text AS BLOB)), 1)/10.0) AS BIGINT) AS nf
            FROM documents
            WHERE text IS NOT NULL
        )
        SELECT d.doc_id,
               CAST(n.i AS BIGINT) AS frame_idx,
               hex(CAST(substring(d.t, CAST(n.i*10 + 1 AS BIGINT), 10) AS BLOB)) AS frame_hex,
               CAST(octet_length(CAST(substring(d.t, CAST(n.i*10 + 1 AS BIGINT), 10) AS BLOB)) AS BIGINT) AS frame_len
        FROM d JOIN nums n ON n.i < d.nf
    """,
    "udtf_split_sentences": """
        WITH d AS (
            SELECT doc_id, regexp_split_to_array(text, '\\.[\\t\\n\\v\\f\\r ]+') AS parts
            FROM documents
            WHERE text IS NOT NULL
        ),
        nums AS (SELECT i FROM generate_series(0, 99999) AS t(i))
        SELECT d.doc_id,
               CAST(n.i AS BIGINT) AS sent_idx,
               d.parts[n.i + 1] AS sentence
        FROM d JOIN nums n ON n.i < len(d.parts)
    """,
    "flagship_corpus_clean": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT -doc_id - 1 AS doc_id, upper(replace(text, ' ', '  ')) AS text
            FROM documents
        ),
        quality AS (
            SELECT doc_id, text,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) END AS BIGINT) AS n_tokens
            FROM corpus
        )
        SELECT md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g')))) AS fp,
               MAX(doc_id) AS doc_id,
               MAX(n_tokens) AS n_tokens,
               COUNT(*) AS n_dups
        FROM quality
        WHERE n_tokens >= 30
        GROUP BY 1
    """,
    "flagship_warehouse": f"""
        WITH latest AS (
            SELECT * FROM (SELECT DISTINCT * FROM orders)
            QUALIFY row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
            ) = 1
        )
        SELECT o_custkey AS customer_id,
               c_name AS customer_name,
               n_name AS nation,
               CAST(o_orderdate AS DATE) AS last_order_date,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') AS INT) AS days_since,
               CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') <= 365 THEN 'active'
                    WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') <= 1095 THEN 'lapsing'
                    ELSE 'dormant' END AS recency,
               CASE WHEN o_totalprice >= 150000 THEN 'Yes' ELSE 'NO' END AS big_spender,
               o_totalprice AS last_order_total
        FROM latest
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    """,
    # fixed-seed Lloyd step: assignment replays as argmax cosine over
    # table-row centroids (same quantizer as ann_topk_ivf_fixed); the
    # mean update is AVG over the long-form unnest
    "emb_kmeans_step": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT l.vec_id AS vec_id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        )
        SELECT centroid_id AS cluster_id, u.pos AS pos,
               ROUND(AVG(CAST(u.v AS DOUBLE)), 6) AS centroid_val,
               COUNT(*) AS n_members
        FROM (
            SELECT centroid_id,
                   unnest(list_transform(embedding,
                          (x, i) -> struct_pack(pos := i - 1, v := x))) AS u
            FROM assigned
        )
        GROUP BY centroid_id, u.pos
    """,
    # SemDeDup: same fixed-quantizer assignment, then the within-
    # cluster i<j cosine-threshold pair scan and lowest-id survivor
    # policy replay exactly (IEEE double cosine on both engines)
    "emb_semdedup": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT l.vec_id AS vec_id, l.embedding AS embedding,
                       r.centroid_id AS centroid_id,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.centroid_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        ), dropped AS (
            SELECT DISTINCT r.vec_id AS vec_id
            FROM assigned l JOIN assigned r
              ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
            WHERE {_COS_LR} >= 0.35
        )
        SELECT a.vec_id AS vec_id, a.centroid_id AS cluster_id
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        WHERE d.vec_id IS NULL
    """,
    "sample_exact_k": """
        SELECT doc_id, source, lang, n_chars
        FROM documents
        WHERE doc_id IS NOT NULL  -- r12 null-key contract lockstep
        ORDER BY md5('topk' || CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 100
    """,
    "sample_kfold": """
        SELECT doc_id,
               CAST(CAST(('0x' || substring(md5('kfold' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 5 AS INT) AS fold
        FROM documents
    """,
    "text_bpe_pairs": """
        WITH w AS (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents WHERE text IS NOT NULL
        ), p AS (
            SELECT unnest(list_transform(range(1, length(word)),
                          i -> substring(word, i, 2))) AS pair
            FROM w WHERE length(word) >= 2
        )
        SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 50
    """,
    # word_shingles mirror: docs shorter than k tokens contribute their
    # whole text as one gram; otherwise the distinct k-gram set
    "text_shared_ngrams": """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents WHERE text IS NOT NULL
        ), g AS (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                     ELSE list_distinct(list_transform(range(1, len(toks) - 5 + 2),
                              i -> array_to_string(toks[i:i+4], ' ')))
                END) AS gram
            FROM t
        ), freq AS (
            SELECT gram, COUNT(*) AS doc_freq FROM g GROUP BY gram
        ), per_doc AS (
            SELECT g.doc_id,
                   COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN freq.doc_freq >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_shared
            FROM g JOIN freq USING (gram) GROUP BY g.doc_id
        )
        SELECT doc_id, n_grams, n_shared,
               ROUND(CAST(n_shared AS DOUBLE) / n_grams, 6) AS shared_frac,
               (CAST(n_shared AS DOUBLE) / n_grams >= 0.5) AS flagged
        FROM per_doc
    """,
    # bloom prefilter has no false negatives -> scores equal the exact
    # operator; the oracle IS the exact n-gram overlap SQL (% 89 split)
    "decontaminate_bloom": """
        WITH nums AS (SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, 4096) t(i)),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 2
            WHERE len(t) >= 3
            UNION ALL
            SELECT doc_id, array_to_string(t, ' ') AS g FROM toks WHERE len(t) < 3
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 89 = 0
        ), cg AS (
            SELECT doc_id, g FROM grams WHERE doc_id % 89 <> 0
        ), tot AS (
            SELECT doc_id, COUNT(*) AS n_ngrams FROM cg GROUP BY doc_id
        ), mt AS (
            SELECT cg.doc_id, COUNT(*) AS n_matched
            FROM cg JOIN bench USING (g) GROUP BY cg.doc_id
        )
        SELECT tot.doc_id,
               CAST(n_ngrams AS BIGINT) AS n_ngrams,
               CAST(COALESCE(n_matched, 0) AS BIGINT) AS n_matched,
               CAST(COALESCE(n_matched, 0) AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
                   AS contam_ratio
        FROM tot LEFT JOIN mt ON tot.doc_id = mt.doc_id
    """,
    "sample_topk_per_group": """
        SELECT doc_id, source, lang, n_chars FROM (
            SELECT doc_id, source, lang, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('grouptopk' || CAST(doc_id AS VARCHAR)),
                                doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 20
    """,
    "emb_random_project": f"""
        WITH p AS (
            SELECT vec_id, {_rp_proj_sql('embedding')} AS proj
            FROM embeddings
        )
        SELECT vec_id,
               {', '.join(f'proj[{i + 1}] AS proj_{i + 1}' for i in range(8))}
        FROM p
    """,
    # A-ES weighted sample: rank by ln(u)/w desc (u from the md5 hash,
    # w = n_chars); selection is ordering-only so libm 1-ulp noise
    # cannot flip it without a near-tie of two keys
    "sample_weighted_k": """
        SELECT doc_id, source, lang, n_chars FROM (
            SELECT doc_id, source, lang, n_chars,
                   ln((CAST(('0x' || substring(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       + 1.0) / (POW(2.0, 60) + 1.0))
                   / CAST(n_chars AS DOUBLE) AS es_key
            FROM documents
            WHERE doc_id IS NOT NULL  -- r12 null-key contract lockstep
              AND n_chars IS NOT NULL AND n_chars > 0
        )
        ORDER BY es_key DESC, doc_id
        LIMIT 100
    """,
    # MOSS candidate pairs over the portable winnow fingerprints; the
    # df <= 10 common-fingerprint filter replays before the self-join
    "dedup_winnow_pairs": f"""
        WITH wf AS ({_winnow_md5_sql(k=4, window=4)}),
        freq AS (SELECT fp, COUNT(*) AS df FROM wf GROUP BY fp),
        rare AS (
            SELECT wf.doc_id, wf.fp FROM wf JOIN freq USING (fp)
            WHERE freq.df <= 10
        )
        SELECT l.doc_id AS id_a, r.doc_id AS id_b,
               COUNT(*) AS n_shared
        FROM rare l JOIN rare r ON l.fp = r.fp AND l.doc_id < r.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
    # per-source terciles: CAST(1 AS DOUBLE)/3 keeps the cut fractions
    # IEEE doubles (bare 1.0/3.0 would be DECIMAL division in DuckDB)
    "quality_buckets": """
        WITH thr AS (
            SELECT source,
                   quantile_cont(CAST(n_chars AS DOUBLE),
                                 CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE)) AS p1,
                   quantile_cont(CAST(n_chars AS DOUBLE),
                                 CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE)) AS p2
            FROM documents GROUP BY source
        )
        SELECT d.doc_id, d.source, d.n_chars,
               CASE WHEN d.n_chars <= thr.p1 THEN 'low'
                    WHEN d.n_chars <= thr.p2 THEN 'mid'
                    ELSE 'high' END AS bucket
        FROM documents d JOIN thr USING (source)
    """,
    # streamed first-wins dedup == one-shot batch min-id dedup (the
    # merge is associative); fp = md5 of normalized text
    "evt_dedup_stream_index": """
        SELECT doc_id, source, lang, n_chars, fp FROM (
            SELECT doc_id, source, lang, n_chars,
                   md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g')))) AS fp,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g'))))
                       ORDER BY doc_id
                   ) AS rn
            FROM documents WHERE text IS NOT NULL
        ) WHERE rn = 1
    """,
    "layout_zorder": f"""
        SELECT o_orderkey,
               {_zorder_sql("(o_custkey % 65536)",
                            "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))")} AS zval
        FROM orders
    """,
    # bloom prune has no false negatives -> identical to the plain join
    "join_bloom": """
        SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal > 9000
    """,
    "q9_product_profit": """
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100 * (1.0 - l.l_discount)) AS BIGINT)) AS BIGINT) AS profit_cents
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%bolt%'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """,
    "evt_transitions": """
        WITH seq AS MATERIALIZED (
            SELECT event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ), c AS (
            SELECT event_type AS from_type, to_type, COUNT(*) AS n
            FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
        FROM c
    """,
    "evt_user_perplexity": """
        WITH seq AS MATERIALIZED (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ), pairs AS (
            SELECT user_id, event_type AS from_type, to_type
            FROM seq WHERE to_type IS NOT NULL
        ), c AS (
            SELECT from_type, to_type, COUNT(*) AS n
            FROM pairs GROUP BY 1, 2
        ), model AS (
            SELECT from_type, to_type,
                   CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
            FROM c
        )
        SELECT p.user_id,
               ROUND(AVG(-log2(m.prob)), 6) AS mean_neg_log2p,
               COUNT(*) AS n_transitions
        FROM pairs p JOIN model m USING (from_type, to_type)
        GROUP BY p.user_id
    """,
    "src_text_lines": """
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    """,
    "rfm_segments": """
        WITH per_cust AS (
            SELECT o_custkey,
                   date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '{AS_OF}') AS recency_days,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS monetary_c
            FROM orders GROUP BY o_custkey
        ), cuts AS (
            SELECT
              quantile_cont(CAST(recency_days AS DOUBLE), CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE)) AS r1,
              quantile_cont(CAST(recency_days AS DOUBLE), CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE)) AS r2,
              quantile_cont(CAST(frequency AS DOUBLE), CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE)) AS f1,
              quantile_cont(CAST(frequency AS DOUBLE), CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE)) AS f2,
              quantile_cont(CAST(monetary_c AS DOUBLE), CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE)) AS m1,
              quantile_cont(CAST(monetary_c AS DOUBLE), CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE)) AS m2
            FROM per_cust
        )
        SELECT p.o_custkey AS customer_id,
               CAST(p.recency_days AS INT) AS recency_days,
               p.frequency, p.monetary_c,
               CAST(2 - (CASE WHEN p.recency_days <= c.r1 THEN 0
                              WHEN p.recency_days <= c.r2 THEN 1 ELSE 2 END) AS INT) AS r_score,
               CASE WHEN p.frequency <= c.f1 THEN 0
                    WHEN p.frequency <= c.f2 THEN 1 ELSE 2 END AS f_score,
               CASE WHEN p.monetary_c <= c.m1 THEN 0
                    WHEN p.monetary_c <= c.m2 THEN 1 ELSE 2 END AS m_score
        FROM per_cust p CROSS JOIN cuts c
    """.replace("{AS_OF}", AS_OF),
    "evt_daily_fill": """
        WITH counts AS (
            SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ), span AS (
            SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
            FROM counts GROUP BY user_id
        ), days AS (
            SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
            FROM span
        )
        SELECT d.user_id, d.day, COALESCE(c.n_events, 0) AS n_events
        FROM days d LEFT JOIN counts c USING (user_id, day)
    """,
    "window_ffill": """
        SELECT event_id, user_id, event_type,
               ROUND(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING), 6) AS last_purchase_value
        FROM events
    """,
    # replays the Python DataSource's md5-nibble generator exactly
    "src_python_datasource": """
        SELECT i AS doc_id,
               concat_ws(' ', (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 2, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 3, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 4, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 5, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 6, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 7, 1)) AS BIGINT) + 1], (['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel','india','juliet','kilo','lima','mike','november','oscar','papa'])[CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 8, 1)) AS BIGINT) + 1]) AS text
        FROM generate_series(0, 499) t(i)
    """,
    # containment over the winnow candidates; 3-gram shingle mirror of
    # word_shingles (short docs -> whole text as one gram)
    "dedup_containment": f"""
        WITH wf AS ({_winnow_md5_sql(k=4, window=4)}),
        freq AS (SELECT fp, COUNT(*) AS df FROM wf GROUP BY fp),
        rare AS (
            SELECT wf.doc_id, wf.fp FROM wf JOIN freq USING (fp)
            WHERE freq.df <= 10
        ), cand AS (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b
            FROM rare l JOIN rare r ON l.fp = r.fp AND l.doc_id < r.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), t AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents WHERE text IS NOT NULL
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(toks[i:i+2], ' ')))
                   END AS s
            FROM t
        )
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment_a,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s) AS containment_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b
    """,
    # ASCII corpus: byte stride == char stride, hex() upper-case both
    # engines
    "mm_resize": """
        WITH r AS (
            SELECT doc_id,
                   array_to_string(
                       list_transform(range(1, length(text) + 1, 4),
                                      i -> substring(text, i, 1)), '') AS rs
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               upper(hex(CAST(rs AS BLOB))) AS resized_hex,
               CAST(length(rs) AS BIGINT) AS n_bytes,
               CAST((length(rs) % 640) + 1 AS BIGINT) AS width,
               CAST((length(rs) % 480) + 1 AS BIGINT) AS height
        FROM r
    """,
    "q2_min_cost_supplier": """
        WITH pairs AS (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(FLOOR(l_extendedprice * 100.0 / l_quantity + 0.5)
                       AS BIGINT)) AS pair_cost
            FROM lineitem GROUP BY 1, 2
        ), pf AS (
            SELECT pr.*, p.p_size
            FROM pairs pr
            JOIN part p ON pr.l_partkey = p.p_partkey
            WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 30
        ), m AS (
            SELECT *, MIN(pair_cost) OVER (PARTITION BY l_partkey) AS part_min
            FROM pf
        )
        SELECT m.l_partkey AS partkey,
               m.p_size AS size,
               m.pair_cost AS min_cost_cents,
               s.s_suppkey AS suppkey,
               s.s_name AS supp_name,
               n.n_name AS nation
        FROM m
        JOIN supplier s ON m.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE m.pair_cost = m.part_min
    """,
    "q11_important_parts": """
        WITH v AS (
            SELECT l_partkey,
                   SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0
                       + 0.5) AS BIGINT)) AS value_cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey < 5
            GROUP BY 1
        ), t AS (SELECT SUM(value_cents) AS total_cents FROM v)
        SELECT v.l_partkey AS partkey, CAST(v.value_cents AS BIGINT) AS value_cents
        FROM v, t
        WHERE CAST(v.value_cents AS DOUBLE) > CAST(t.total_cents AS DOUBLE) * 0.001
    """,
    "q12_late_shipments": """
        SELECT CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) >= 90
                    THEN '90+' ELSE '60-89' END AS delay_bucket,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE datediff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) >= 60
          AND o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
    "q20_potential_promotion": """
        WITH red AS (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red %'
        ), q AS (
            SELECT l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS red_qty
            FROM lineitem l
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
              AND EXISTS (SELECT 1 FROM red WHERE red.p_partkey = l.l_partkey)
            GROUP BY 1
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 600
        )
        SELECT s.s_suppkey AS suppkey,
               s.s_name AS supp_name,
               n.n_name AS nation,
               CAST(q.red_qty AS BIGINT) AS red_qty
        FROM supplier s
        JOIN q ON s.s_suppkey = q.l_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
    # ranking uses the ROUNDED score (libm-ulp-proof) + term/doc_id
    # tiebreaks, mirroring the Spark window exactly
    "text_tfidf_topterm": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        ), n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0),
                         6) AS score
            FROM tf JOIN df USING (term) CROSS JOIN n
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
            FROM scored
        )
        SELECT doc_id, term AS top_term, score FROM ranked WHERE rk = 1
    """,
    # k1/b/terms interpolated from the SAME constants the Spark query
    # uses (_BM25_*) — edits can't drift the two engines apart
    "text_bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS term
            FROM documents
        ), dl AS (
            SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        ), n AS (
            SELECT COUNT(*) AS n, SUM(dl) AS total_len FROM dl
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks
            WHERE term IN ({", ".join(repr(t) for t in _BM25_TERMS)})
            GROUP BY 1, 2
        ), df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        ), scored AS (
            SELECT tf.doc_id,
                   ROUND(SUM(
                       ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * ({_BM25_K1} + 1.0))
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                         + {_BM25_B} * dl.dl * n.n
                                         / CAST(n.total_len AS DOUBLE)))
                   ), 6) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN n
            GROUP BY tf.doc_id
        ), ranked AS (
            SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
            FROM scored
        )
        SELECT doc_id, score, rk FROM ranked WHERE rk <= 50
    """,
    # W/S interpolated from _CHUNK_W/_CHUNK_S (the Spark query's
    # constants); DuckDB list slices are 1-based with INCLUSIVE end,
    # hence the least(start+W-1, n) bound
    "text_chunk_windows": f"""
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents
        ), c AS (
            SELECT doc_id, toks, len(toks) AS n,
                   1 + greatest(0, (len(toks) - {_CHUNK_W} + {_CHUNK_S} - 1)
                                // {_CHUNK_S}) AS nch
            FROM t
        ), e AS (
            SELECT doc_id, toks, n, unnest(range(0, nch)) AS chunk_id
            FROM c
        )
        SELECT doc_id,
               CAST(chunk_id AS INT) AS chunk_id,
               CAST(len(toks[chunk_id * {_CHUNK_S} + 1 :
                            least(chunk_id * {_CHUNK_S} + {_CHUNK_W}, n)])
                    AS INT) AS n_tok,
               array_to_string(toks[chunk_id * {_CHUNK_S} + 1 :
                            least(chunk_id * {_CHUNK_S} + {_CHUNK_W}, n)],
                            ' ') AS chunk_text
        FROM e
    """,
    "quality_logreg": """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents
        ), f AS (
            SELECT doc_id,
                   len(toks) AS n,
                   len(list_filter(toks, x -> x IN ('the', 'a'))) AS stop_hits,
                   list_sum(list_transform(toks, x -> length(x))) AS char_sum
            FROM t
        ), s AS (
            SELECT doc_id,
                   ROUND(1.0 / (1.0 + exp(-(
                       -2.0
                       + 0.35 * ln(CAST(n AS DOUBLE))
                       + -3.0 * (CAST(stop_hits AS DOUBLE) / CAST(n AS DOUBLE))
                       + 0.25 * (CAST(char_sum AS DOUBLE) / CAST(n AS DOUBLE))
                   ))), 6) AS prob
            FROM f
        )
        SELECT doc_id, prob, prob >= 0.5 AS keep FROM s
    """,
    "emb_standardize": """
        WITH e AS (
            SELECT vec_id,
                   CAST(i - 1 AS INT) AS dim,
                   CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT) AS e6
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        ), stats AS (
            SELECT dim,
                   CAST(SUM(e6) AS BIGINT) AS s,
                   CAST(SUM(e6 * e6) AS BIGINT) AS sq,
                   COUNT(*) AS cnt
            FROM e GROUP BY 1
        )
        SELECT e.vec_id, e.dim,
               ROUND((CAST(e.e6 AS DOUBLE)
                      - CAST(s.s AS DOUBLE) / CAST(s.cnt AS DOUBLE))
                     / sqrt(CAST(s.sq AS DOUBLE) / CAST(s.cnt AS DOUBLE)
                            - (CAST(s.s AS DOUBLE) / CAST(s.cnt AS DOUBLE))
                              * (CAST(s.s AS DOUBLE) / CAST(s.cnt AS DOUBLE))),
                     6) AS z
        FROM e JOIN stats s USING (dim)
    """,
    "agg_cube": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "evt_attribution": """
        WITH marked AS (
            SELECT user_id, event_id, event_type,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN event_id END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS click_id
            FROM events
        )
        SELECT user_id,
               event_id AS purchase_id,
               click_id,
               click_id IS NOT NULL AS attributed
        FROM marked WHERE event_type = 'purchase'
    """,
    "sink_compact_files": """
        SELECT * FROM orders
    """,
    "basket_pairs": """
        WITH d0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        d AS (
            SELECT d0.* FROM d0
            WHERE d0.l_orderkey IN (
                SELECT l_orderkey FROM d0 GROUP BY 1 HAVING COUNT(*) <= 32)
        ),
        p AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS support
            FROM d a
            JOIN d b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        )
        SELECT part_a, part_b, support FROM p
        ORDER BY support DESC, part_a ASC, part_b ASC
        LIMIT 20
    """,
    "evt_anomaly_zscore": """
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), win AS (
            SELECT event_type, d, n,
                   SUM(n) OVER w AS s,
                   SUM(n * n) OVER w AS sq,
                   COUNT(*) OVER w AS cnt
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ), scored AS (
            SELECT event_type, d, CAST(n AS BIGINT) AS n,
                   CASE WHEN CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)
                             - (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
                               * (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) > 0.0
                        THEN ROUND(
                            (CAST(n AS DOUBLE)
                             - CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
                            / sqrt(CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)
                                   - (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
                                     * (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))),
                            6)
                   END AS z
            FROM win
        )
        SELECT event_type, d, n, z, abs(z) >= 2.0 AS anomaly FROM scored
    """,
    "graph_khop": """
        WITH edges AS (
            SELECT * FROM (
                WITH pairs AS (
                    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                                    's' || CAST(l.l_suppkey AS VARCHAR) AS s
                    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                )
                SELECT c AS src, s AS dst FROM pairs
                UNION ALL
                SELECT s AS src, c AS dst FROM pairs
            )
        ), seeds AS (
            SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id
            FROM customer WHERE c_custkey < 10
        ), r AS (
            WITH RECURSIVE reach(id, hop) AS (
                SELECT id, 0 FROM seeds
                UNION
                SELECT e.dst, reach.hop + 1
                FROM reach JOIN edges e ON e.src = reach.id
                WHERE reach.hop < 3
            )
            SELECT id, hop FROM reach
        )
        SELECT id, CAST(MIN(hop) AS INT) AS hop FROM r GROUP BY 1
    """,
    "evt_path_analysis": """
        WITH seq AS MATERIALIZED (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), paths AS (
            SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
            FROM seq WHERE e3 IS NOT NULL
            GROUP BY 1
        )
        SELECT path, n FROM paths
        ORDER BY n DESC, path ASC
        LIMIT 10
    """,
    "scd4_current_history": """
        WITH o AS (
            SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS odate
            FROM orders
        ), base AS (
            SELECT o_custkey, o_orderstatus, odate FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY odate DESC, o_orderstatus DESC) AS rn
                FROM o WHERE odate <= DATE '1995-01-01') WHERE rn = 1
        ), upd AS (
            SELECT o_custkey, o_orderstatus, odate FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY odate DESC, o_orderstatus DESC) AS rn
                FROM o WHERE odate > DATE '1995-01-01') WHERE rn = 1
        )
        SELECT b.*, 'current' AS tbl FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_custkey = b.o_custkey)
        UNION ALL
        SELECT u.*, 'current' AS tbl FROM upd u
        UNION ALL
        SELECT b.*, 'history' AS tbl FROM base b
        WHERE EXISTS (SELECT 1 FROM upd u WHERE u.o_custkey = b.o_custkey)
    """,
    "orders_cohort_ltv": """
        WITH per_cy AS (
            SELECT o_custkey,
                   CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT) AS y,
                   SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS c
            FROM orders GROUP BY 1, 2
        ), first AS (
            SELECT o_custkey, MIN(y) AS cohort FROM per_cy GROUP BY 1
        ), sizes AS (
            SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY 1
        ), aged AS (
            SELECT f.cohort, p.y - f.cohort AS age,
                   CAST(SUM(p.c) AS BIGINT) AS rev_cents
            FROM per_cy p JOIN first f USING (o_custkey)
            GROUP BY 1, 2
        ), cum AS (
            SELECT cohort, age, rev_cents,
                   CAST(SUM(rev_cents) OVER (
                       PARTITION BY cohort ORDER BY age
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
            FROM aged
        )
        SELECT c.cohort, CAST(c.age AS INT) AS age, s.cohort_size,
               c.rev_cents, c.cum_cents,
               ROUND(CAST(c.cum_cents AS DOUBLE) / 100.0
                     / CAST(s.cohort_size AS DOUBLE), 6) AS ltv_per_customer
        FROM cum c JOIN sizes s USING (cohort)
    """,
    "join_full_reconcile": """
        WITH a AS (
            SELECT o_custkey,
                   SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev_1995
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1996-01-01'
            GROUP BY 1
        ), b AS (
            SELECT o_custkey,
                   SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev_1996
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        )
        SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
               CAST(a.rev_1995 AS BIGINT) AS rev_1995,
               CAST(b.rev_1996 AS BIGINT) AS rev_1996,
               CAST(COALESCE(b.rev_1996, 0) - COALESCE(a.rev_1995, 0)
                    AS BIGINT) AS delta_cents,
               CASE WHEN a.o_custkey IS NULL THEN 'only_1996'
                    WHEN b.o_custkey IS NULL THEN 'only_1995'
                    ELSE 'both' END AS status
        FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
    "window_range_frame": """
        WITH s AS (
            SELECT event_id, event_type,
                   CAST(FLOOR(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT) AS v6
            FROM events
        )
        SELECT event_id, event_type, v6,
               COUNT(*) OVER (
                   PARTITION BY event_type
                   ORDER BY v6
                   RANGE BETWEEN 5000000 PRECEDING AND 5000000 FOLLOWING
               ) AS n_within_5
        FROM s
    """,
    "agg_rollup_grouping_id": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(GROUPING(o_orderstatus) * 2
                    + GROUPING(o_orderpriority) AS INT) AS gid
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "snapshot_diff": """
        WITH o AS (
            SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS odate
            FROM orders
        ), old AS (
            SELECT o_custkey, o_orderstatus, odate FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY odate DESC, o_orderstatus DESC) AS rn
                FROM o WHERE odate <= DATE '1996-01-01') WHERE rn = 1
        ), new AS (
            SELECT o_custkey, o_orderstatus, odate FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY odate DESC, o_orderstatus DESC) AS rn
                FROM o WHERE odate <= DATE '1998-01-01') WHERE rn = 1
        )
        SELECT COALESCE(n.o_custkey, od.o_custkey) AS o_custkey,
               CASE WHEN n.o_custkey IS NOT NULL THEN n.o_orderstatus
                    ELSE od.o_orderstatus END AS o_orderstatus,
               CASE WHEN n.o_custkey IS NOT NULL THEN n.odate
                    ELSE od.odate END AS odate,
               CASE WHEN od.o_custkey IS NULL THEN 'inserted'
                    WHEN n.o_custkey IS NULL THEN 'deleted'
                    WHEN n.o_orderstatus IS NOT DISTINCT FROM od.o_orderstatus
                     AND n.odate IS NOT DISTINCT FROM od.odate
                    THEN 'unchanged'
                    ELSE 'updated' END AS change
        FROM old od FULL OUTER JOIN new n ON od.o_custkey = n.o_custkey
    """,
    "text_dup_chunk_ratio": """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents
        ), e AS (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks) / 16.0) AS INT))) AS b
            FROM t
        ), blocks AS (
            SELECT doc_id,
                   md5(array_to_string(
                       toks[b * 16 + 1 : least(b * 16 + 16, len(toks))],
                       ' ')) AS fp
            FROM e
        ), pairs AS (SELECT DISTINCT doc_id, fp FROM blocks),
        dpb AS (SELECT fp, COUNT(*) AS ndocs FROM pairs GROUP BY 1)
        SELECT b.doc_id,
               COUNT(*) AS n_blocks,
               CAST(SUM(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup,
               ROUND(CAST(SUM(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS dup_ratio
        FROM blocks b JOIN dpb d USING (fp)
        GROUP BY 1
    """,
    "evt_ab_test": """
        WITH u AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted,
                   CASE WHEN ('0x' || substr(md5('ab:' ||
                            CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm
            FROM events GROUP BY user_id
        ), arms AS (
            SELECT arm, COUNT(*) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_converted
            FROM u GROUP BY 1
        ), s AS (
            SELECT SUM(CASE WHEN arm = 'A' THEN n_users END) AS na,
                   SUM(CASE WHEN arm = 'A' THEN n_converted END) AS xa,
                   SUM(CASE WHEN arm = 'B' THEN n_users END) AS nb,
                   SUM(CASE WHEN arm = 'B' THEN n_converted END) AS xb
            FROM arms
        ), v AS (
            SELECT CAST(na AS DOUBLE) AS na, CAST(xa AS DOUBLE) AS xa,
                   CAST(nb AS DOUBLE) AS nb, CAST(xb AS DOUBLE) AS xb,
                   ((CAST(xa AS DOUBLE) + CAST(xb AS DOUBLE))
                    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                   * (1.0 - (CAST(xa AS DOUBLE) + CAST(xb AS DOUBLE))
                            / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                   * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
                       AS var
            FROM s
        ), zz AS (
            SELECT CASE WHEN var > 0.0
                        THEN ROUND((xa / na - xb / nb) / sqrt(var), 6)
                   END AS z_stat
            FROM v
        )
        SELECT arm, n_users, n_converted,
               ROUND(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE),
                     6) AS conv_rate,
               z_stat
        FROM arms CROSS JOIN zz
    """,
    "orders_abc_analysis": """
        WITH p AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                       * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
            FROM lineitem GROUP BY 1
        ), t AS (SELECT SUM(rev_cents) AS total_cents FROM p),
        r AS (
            SELECT p.l_partkey, p.rev_cents,
                   CAST(SUM(p.rev_cents) OVER (
                       ORDER BY p.rev_cents DESC, p.l_partkey ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
                   t.total_cents
            FROM p CROSS JOIN t
        )
        SELECT l_partkey AS partkey, rev_cents, cum_cents,
               ROUND(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE),
                     6) AS cum_share,
               CASE WHEN ROUND(CAST(cum_cents - rev_cents AS DOUBLE)
                              / CAST(total_cents AS DOUBLE), 6) < 0.80
                    THEN 'A'
                    WHEN ROUND(CAST(cum_cents - rev_cents AS DOUBLE)
                              / CAST(total_cents AS DOUBLE), 6) < 0.95
                    THEN 'B' ELSE 'C' END AS abc_class
        FROM r
    """,
    "evt_dau_stickiness": """
        WITH pairs AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ), days AS (SELECT DISTINCT d FROM pairs),
        wau AS (
            SELECT dy.d AS day, COUNT(DISTINCT p.user_id) AS wau
            FROM days dy JOIN pairs p
              ON p.d BETWEEN dy.d - INTERVAL 6 DAY AND dy.d
            GROUP BY 1
        ), mau AS (
            SELECT dy.d AS day, COUNT(DISTINCT p.user_id) AS mau
            FROM days dy JOIN pairs p
              ON p.d BETWEEN dy.d - INTERVAL 29 DAY AND dy.d
            GROUP BY 1
        ), dau AS (
            SELECT d AS day, COUNT(DISTINCT user_id) AS dau
            FROM pairs GROUP BY 1
        )
        SELECT dau.day, dau.dau, wau.wau, mau.mau,
               ROUND(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE),
                     6) AS stickiness
        FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
    "evt_new_vs_returning": """
        WITH pairs AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ), first AS (
            SELECT user_id, MIN(d) AS first_d FROM pairs GROUP BY 1
        ), tagged AS (
            SELECT p.d, CASE WHEN p.d = f.first_d THEN 1 ELSE 0 END AS is_new
            FROM pairs p JOIN first f USING (user_id)
        )
        SELECT d AS day,
               CAST(SUM(is_new) AS BIGINT) AS new_users,
               CAST(SUM(1 - is_new) AS BIGINT) AS returning_users,
               ROUND(CAST(SUM(1 - is_new) AS DOUBLE)
                     / CAST(SUM(is_new) + SUM(1 - is_new) AS DOUBLE),
                     6) AS returning_share
        FROM tagged GROUP BY 1
    """,
    # token-arithmetic phrase ids — regex splitting is not portable
    # (Java split vs RE2 disagree on consecutive stopwords)
    "text_rake_keywords": """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS ws
            FROM documents
        ), toks AS (
            SELECT doc_id, ws[i] AS w, i - 1 AS pos,
                   CASE WHEN ws[i] IN ('the', 'a') THEN 1 ELSE 0 END AS is_stop
            FROM t, unnest(range(1, len(ws) + 1)) AS u(i)
        ), seg AS (
            SELECT doc_id, w,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS phrase_id,
                   is_stop
            FROM toks
        ), nz AS (SELECT * FROM seg WHERE is_stop = 0),
        plen AS (
            SELECT doc_id, phrase_id, COUNT(*) AS deg
            FROM nz GROUP BY 1, 2
        ), occ AS (
            SELECT nz.w AS word, plen.deg
            FROM nz JOIN plen USING (doc_id, phrase_id)
        )
        SELECT word, COUNT(*) AS freq,
               CAST(SUM(deg) AS BIGINT) AS degree,
               ROUND(CAST(SUM(deg) AS DOUBLE) / COUNT(*), 6) AS rake
        FROM occ GROUP BY 1
    """,
    "orders_backlog_sweep": """
        WITH closes AS (
            SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS cd
            FROM lineitem GROUP BY 1
        ), iv AS (
            SELECT CAST(o.o_orderdate AS DATE) AS od, c.cd
            FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
        ), deltas AS (
            SELECT od AS day, 1 AS delta FROM iv
            UNION ALL
            SELECT cd AS day, -1 AS delta FROM iv
        ), daily AS (
            SELECT day, CAST(SUM(delta) AS BIGINT) AS delta
            FROM deltas GROUP BY 1
        )
        SELECT day, delta,
               CAST(SUM(delta) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
        FROM daily
    """,
    "orders_mom_change": """
        WITH m AS (
            SELECT o_orderpriority,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                       AS rev_cents
            FROM orders GROUP BY 1, 2
        ), lagged AS (
            SELECT o_orderpriority, month,
                   CAST(rev_cents AS BIGINT) AS rev_cents,
                   lag(CAST(rev_cents AS BIGINT)) OVER (
                       PARTITION BY o_orderpriority ORDER BY month) AS prev
            FROM m
        )
        SELECT o_orderpriority, month, rev_cents,
               CAST(rev_cents - prev AS BIGINT) AS mom_cents,
               CASE WHEN prev > 0
                    THEN ROUND(CAST(rev_cents - prev AS DOUBLE)
                               / CAST(prev AS DOUBLE), 6)
               END AS mom_pct
        FROM lagged
    """,
    "supplier_share_of_nation": """
        WITH ps AS (
            SELECT n.n_name, l.l_suppkey,
                   SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount)
                       * 100.0 + 0.5) AS BIGINT)) AS rev_cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name AS nation, l_suppkey AS suppkey,
               CAST(rev_cents AS BIGINT) AS rev_cents,
               CAST(SUM(rev_cents) OVER (PARTITION BY n_name) AS BIGINT)
                   AS nation_cents,
               ROUND(CAST(rev_cents AS DOUBLE)
                     / CAST(SUM(rev_cents) OVER (PARTITION BY n_name)
                            AS DOUBLE), 6) AS share
        FROM ps
    """,
    "evt_time_to_convert": """
        WITH marked AS (
            SELECT event_type, epoch_us(ts) AS ts_us,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN epoch_us(ts) END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS click_us
            FROM events
        ), gaps AS (
            SELECT ts_us - click_us AS gap_us
            FROM marked
            WHERE event_type = 'purchase' AND click_us IS NOT NULL
        )
        SELECT COUNT(*) AS n_conversions,
               ROUND(quantile_cont(CAST(gap_us AS DOUBLE), 0.5), 6) AS p50_us,
               ROUND(quantile_cont(CAST(gap_us AS DOUBLE), 0.9), 6) AS p90_us,
               CAST(MAX(gap_us) AS BIGINT) AS max_us
        FROM gaps
    """,
}

# the streaming anomaly twin must converge to the batch result, so its
# oracle IS the batch query's oracle (stream-equals-batch gate)
ORACLES["evt_anomaly_stream"] = ORACLES["evt_anomaly_zscore"]

# the streaming connector emits ids 0..299 of the same pure generator,
# so its oracle is the batch connector's md5 replay over that range
ORACLES["src_python_datasource_stream"] = ORACLES["src_python_datasource"].replace(
    "generate_series(0, 499)", "generate_series(0, 299)"
)

# Hash-based / approximate operators: the raw row sets have no
# portable SQL equivalent; since r11 their registry slots are
# invariant-summary wrappers with full oracles (see the r11 oracle
# block before the self-cap policy).

# round-7 additions (generated SQL where the Spark side also
# generates its expression chain — identical term order both engines)
ORACLES["profile_table"] = """
        SELECT 'o_custkey' AS col_name,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_custkey) AS n_distinct,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_orderdate' AS col_name,
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_orderdate) AS n_distinct,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_orderkey' AS col_name,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS col_name,
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_orderpriority) AS n_distinct,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus' AS col_name,
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_orderstatus) AS n_distinct,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'o_totalprice' AS col_name,
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_totalprice) AS n_distinct,
               COUNT(*) AS n_rows
        FROM orders
"""
ORACLES["skew_metrics"] = """
        WITH counts AS (
            SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total,
                   COUNT(*) AS n_keys,
                   CAST(MAX(n) AS BIGINT) AS max_n
            FROM counts
        )
        SELECT l_suppkey, CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                     * CAST(100.0 AS DOUBLE), 6) AS share_pct,
               ROUND(CAST(max_n AS DOUBLE) * CAST(n_keys AS DOUBLE)
                     / CAST(total AS DOUBLE), 6) AS skew_ratio
        FROM counts CROSS JOIN tot
        ORDER BY n DESC, l_suppkey ASC
        LIMIT 5
"""
ORACLES["emb_pq_assign"] = """
        SELECT vec_id, 0 AS subspace, CAST(code AS INT) AS code,
               ROUND(dist, 6) AS dist_r
        FROM (
            SELECT l.vec_id AS vec_id, r.cid AS code,
                   ((CAST(l.embedding[1] AS DOUBLE) - CAST(r.embedding[1] AS DOUBLE)) * (CAST(l.embedding[1] AS DOUBLE) - CAST(r.embedding[1] AS DOUBLE)) + (CAST(l.embedding[2] AS DOUBLE) - CAST(r.embedding[2] AS DOUBLE)) * (CAST(l.embedding[2] AS DOUBLE) - CAST(r.embedding[2] AS DOUBLE)) + (CAST(l.embedding[3] AS DOUBLE) - CAST(r.embedding[3] AS DOUBLE)) * (CAST(l.embedding[3] AS DOUBLE) - CAST(r.embedding[3] AS DOUBLE)) + (CAST(l.embedding[4] AS DOUBLE) - CAST(r.embedding[4] AS DOUBLE)) * (CAST(l.embedding[4] AS DOUBLE) - CAST(r.embedding[4] AS DOUBLE)) + (CAST(l.embedding[5] AS DOUBLE) - CAST(r.embedding[5] AS DOUBLE)) * (CAST(l.embedding[5] AS DOUBLE) - CAST(r.embedding[5] AS DOUBLE)) + (CAST(l.embedding[6] AS DOUBLE) - CAST(r.embedding[6] AS DOUBLE)) * (CAST(l.embedding[6] AS DOUBLE) - CAST(r.embedding[6] AS DOUBLE)) + (CAST(l.embedding[7] AS DOUBLE) - CAST(r.embedding[7] AS DOUBLE)) * (CAST(l.embedding[7] AS DOUBLE) - CAST(r.embedding[7] AS DOUBLE)) + (CAST(l.embedding[8] AS DOUBLE) - CAST(r.embedding[8] AS DOUBLE)) * (CAST(l.embedding[8] AS DOUBLE) - CAST(r.embedding[8] AS DOUBLE)) + (CAST(l.embedding[9] AS DOUBLE) - CAST(r.embedding[9] AS DOUBLE)) * (CAST(l.embedding[9] AS DOUBLE) - CAST(r.embedding[9] AS DOUBLE)) + (CAST(l.embedding[10] AS DOUBLE) - CAST(r.embedding[10] AS DOUBLE)) * (CAST(l.embedding[10] AS DOUBLE) - CAST(r.embedding[10] AS DOUBLE)) + (CAST(l.embedding[11] AS DOUBLE) - CAST(r.embedding[11] AS DOUBLE)) * (CAST(l.embedding[11] AS DOUBLE) - CAST(r.embedding[11] AS DOUBLE)) + (CAST(l.embedding[12] AS DOUBLE) - CAST(r.embedding[12] AS DOUBLE)) * (CAST(l.embedding[12] AS DOUBLE) - CAST(r.embedding[12] AS DOUBLE)) + (CAST(l.embedding[13] AS DOUBLE) - CAST(r.embedding[13] AS DOUBLE)) * (CAST(l.embedding[13] AS DOUBLE) - CAST(r.embedding[13] AS DOUBLE)) + (CAST(l.embedding[14] AS DOUBLE) - CAST(r.embedding[14] AS DOUBLE)) * (CAST(l.embedding[14] AS DOUBLE) - CAST(r.embedding[14] AS DOUBLE)) + (CAST(l.embedding[15] AS DOUBLE) - CAST(r.embedding[15] AS DOUBLE)) * (CAST(l.embedding[15] AS DOUBLE) - CAST(r.embedding[15] AS DOUBLE)) + (CAST(l.embedding[16] AS DOUBLE) - CAST(r.embedding[16] AS DOUBLE)) * (CAST(l.embedding[16] AS DOUBLE) - CAST(r.embedding[16] AS DOUBLE))) AS dist,
                   row_number() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY ((CAST(l.embedding[1] AS DOUBLE) - CAST(r.embedding[1] AS DOUBLE)) * (CAST(l.embedding[1] AS DOUBLE) - CAST(r.embedding[1] AS DOUBLE)) + (CAST(l.embedding[2] AS DOUBLE) - CAST(r.embedding[2] AS DOUBLE)) * (CAST(l.embedding[2] AS DOUBLE) - CAST(r.embedding[2] AS DOUBLE)) + (CAST(l.embedding[3] AS DOUBLE) - CAST(r.embedding[3] AS DOUBLE)) * (CAST(l.embedding[3] AS DOUBLE) - CAST(r.embedding[3] AS DOUBLE)) + (CAST(l.embedding[4] AS DOUBLE) - CAST(r.embedding[4] AS DOUBLE)) * (CAST(l.embedding[4] AS DOUBLE) - CAST(r.embedding[4] AS DOUBLE)) + (CAST(l.embedding[5] AS DOUBLE) - CAST(r.embedding[5] AS DOUBLE)) * (CAST(l.embedding[5] AS DOUBLE) - CAST(r.embedding[5] AS DOUBLE)) + (CAST(l.embedding[6] AS DOUBLE) - CAST(r.embedding[6] AS DOUBLE)) * (CAST(l.embedding[6] AS DOUBLE) - CAST(r.embedding[6] AS DOUBLE)) + (CAST(l.embedding[7] AS DOUBLE) - CAST(r.embedding[7] AS DOUBLE)) * (CAST(l.embedding[7] AS DOUBLE) - CAST(r.embedding[7] AS DOUBLE)) + (CAST(l.embedding[8] AS DOUBLE) - CAST(r.embedding[8] AS DOUBLE)) * (CAST(l.embedding[8] AS DOUBLE) - CAST(r.embedding[8] AS DOUBLE)) + (CAST(l.embedding[9] AS DOUBLE) - CAST(r.embedding[9] AS DOUBLE)) * (CAST(l.embedding[9] AS DOUBLE) - CAST(r.embedding[9] AS DOUBLE)) + (CAST(l.embedding[10] AS DOUBLE) - CAST(r.embedding[10] AS DOUBLE)) * (CAST(l.embedding[10] AS DOUBLE) - CAST(r.embedding[10] AS DOUBLE)) + (CAST(l.embedding[11] AS DOUBLE) - CAST(r.embedding[11] AS DOUBLE)) * (CAST(l.embedding[11] AS DOUBLE) - CAST(r.embedding[11] AS DOUBLE)) + (CAST(l.embedding[12] AS DOUBLE) - CAST(r.embedding[12] AS DOUBLE)) * (CAST(l.embedding[12] AS DOUBLE) - CAST(r.embedding[12] AS DOUBLE)) + (CAST(l.embedding[13] AS DOUBLE) - CAST(r.embedding[13] AS DOUBLE)) * (CAST(l.embedding[13] AS DOUBLE) - CAST(r.embedding[13] AS DOUBLE)) + (CAST(l.embedding[14] AS DOUBLE) - CAST(r.embedding[14] AS DOUBLE)) * (CAST(l.embedding[14] AS DOUBLE) - CAST(r.embedding[14] AS DOUBLE)) + (CAST(l.embedding[15] AS DOUBLE) - CAST(r.embedding[15] AS DOUBLE)) * (CAST(l.embedding[15] AS DOUBLE) - CAST(r.embedding[15] AS DOUBLE)) + (CAST(l.embedding[16] AS DOUBLE) - CAST(r.embedding[16] AS DOUBLE)) * (CAST(l.embedding[16] AS DOUBLE) - CAST(r.embedding[16] AS DOUBLE))) ASC, r.cid ASC
                   ) AS rn
            FROM embeddings l CROSS JOIN (
                SELECT vec_id AS cid, embedding FROM embeddings
                WHERE vec_id < 16
            ) r
        ) WHERE rn = 1
        UNION ALL
        SELECT vec_id, 1 AS subspace, CAST(code AS INT) AS code,
               ROUND(dist, 6) AS dist_r
        FROM (
            SELECT l.vec_id AS vec_id, r.cid AS code,
                   ((CAST(l.embedding[17] AS DOUBLE) - CAST(r.embedding[17] AS DOUBLE)) * (CAST(l.embedding[17] AS DOUBLE) - CAST(r.embedding[17] AS DOUBLE)) + (CAST(l.embedding[18] AS DOUBLE) - CAST(r.embedding[18] AS DOUBLE)) * (CAST(l.embedding[18] AS DOUBLE) - CAST(r.embedding[18] AS DOUBLE)) + (CAST(l.embedding[19] AS DOUBLE) - CAST(r.embedding[19] AS DOUBLE)) * (CAST(l.embedding[19] AS DOUBLE) - CAST(r.embedding[19] AS DOUBLE)) + (CAST(l.embedding[20] AS DOUBLE) - CAST(r.embedding[20] AS DOUBLE)) * (CAST(l.embedding[20] AS DOUBLE) - CAST(r.embedding[20] AS DOUBLE)) + (CAST(l.embedding[21] AS DOUBLE) - CAST(r.embedding[21] AS DOUBLE)) * (CAST(l.embedding[21] AS DOUBLE) - CAST(r.embedding[21] AS DOUBLE)) + (CAST(l.embedding[22] AS DOUBLE) - CAST(r.embedding[22] AS DOUBLE)) * (CAST(l.embedding[22] AS DOUBLE) - CAST(r.embedding[22] AS DOUBLE)) + (CAST(l.embedding[23] AS DOUBLE) - CAST(r.embedding[23] AS DOUBLE)) * (CAST(l.embedding[23] AS DOUBLE) - CAST(r.embedding[23] AS DOUBLE)) + (CAST(l.embedding[24] AS DOUBLE) - CAST(r.embedding[24] AS DOUBLE)) * (CAST(l.embedding[24] AS DOUBLE) - CAST(r.embedding[24] AS DOUBLE)) + (CAST(l.embedding[25] AS DOUBLE) - CAST(r.embedding[25] AS DOUBLE)) * (CAST(l.embedding[25] AS DOUBLE) - CAST(r.embedding[25] AS DOUBLE)) + (CAST(l.embedding[26] AS DOUBLE) - CAST(r.embedding[26] AS DOUBLE)) * (CAST(l.embedding[26] AS DOUBLE) - CAST(r.embedding[26] AS DOUBLE)) + (CAST(l.embedding[27] AS DOUBLE) - CAST(r.embedding[27] AS DOUBLE)) * (CAST(l.embedding[27] AS DOUBLE) - CAST(r.embedding[27] AS DOUBLE)) + (CAST(l.embedding[28] AS DOUBLE) - CAST(r.embedding[28] AS DOUBLE)) * (CAST(l.embedding[28] AS DOUBLE) - CAST(r.embedding[28] AS DOUBLE)) + (CAST(l.embedding[29] AS DOUBLE) - CAST(r.embedding[29] AS DOUBLE)) * (CAST(l.embedding[29] AS DOUBLE) - CAST(r.embedding[29] AS DOUBLE)) + (CAST(l.embedding[30] AS DOUBLE) - CAST(r.embedding[30] AS DOUBLE)) * (CAST(l.embedding[30] AS DOUBLE) - CAST(r.embedding[30] AS DOUBLE)) + (CAST(l.embedding[31] AS DOUBLE) - CAST(r.embedding[31] AS DOUBLE)) * (CAST(l.embedding[31] AS DOUBLE) - CAST(r.embedding[31] AS DOUBLE)) + (CAST(l.embedding[32] AS DOUBLE) - CAST(r.embedding[32] AS DOUBLE)) * (CAST(l.embedding[32] AS DOUBLE) - CAST(r.embedding[32] AS DOUBLE))) AS dist,
                   row_number() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY ((CAST(l.embedding[17] AS DOUBLE) - CAST(r.embedding[17] AS DOUBLE)) * (CAST(l.embedding[17] AS DOUBLE) - CAST(r.embedding[17] AS DOUBLE)) + (CAST(l.embedding[18] AS DOUBLE) - CAST(r.embedding[18] AS DOUBLE)) * (CAST(l.embedding[18] AS DOUBLE) - CAST(r.embedding[18] AS DOUBLE)) + (CAST(l.embedding[19] AS DOUBLE) - CAST(r.embedding[19] AS DOUBLE)) * (CAST(l.embedding[19] AS DOUBLE) - CAST(r.embedding[19] AS DOUBLE)) + (CAST(l.embedding[20] AS DOUBLE) - CAST(r.embedding[20] AS DOUBLE)) * (CAST(l.embedding[20] AS DOUBLE) - CAST(r.embedding[20] AS DOUBLE)) + (CAST(l.embedding[21] AS DOUBLE) - CAST(r.embedding[21] AS DOUBLE)) * (CAST(l.embedding[21] AS DOUBLE) - CAST(r.embedding[21] AS DOUBLE)) + (CAST(l.embedding[22] AS DOUBLE) - CAST(r.embedding[22] AS DOUBLE)) * (CAST(l.embedding[22] AS DOUBLE) - CAST(r.embedding[22] AS DOUBLE)) + (CAST(l.embedding[23] AS DOUBLE) - CAST(r.embedding[23] AS DOUBLE)) * (CAST(l.embedding[23] AS DOUBLE) - CAST(r.embedding[23] AS DOUBLE)) + (CAST(l.embedding[24] AS DOUBLE) - CAST(r.embedding[24] AS DOUBLE)) * (CAST(l.embedding[24] AS DOUBLE) - CAST(r.embedding[24] AS DOUBLE)) + (CAST(l.embedding[25] AS DOUBLE) - CAST(r.embedding[25] AS DOUBLE)) * (CAST(l.embedding[25] AS DOUBLE) - CAST(r.embedding[25] AS DOUBLE)) + (CAST(l.embedding[26] AS DOUBLE) - CAST(r.embedding[26] AS DOUBLE)) * (CAST(l.embedding[26] AS DOUBLE) - CAST(r.embedding[26] AS DOUBLE)) + (CAST(l.embedding[27] AS DOUBLE) - CAST(r.embedding[27] AS DOUBLE)) * (CAST(l.embedding[27] AS DOUBLE) - CAST(r.embedding[27] AS DOUBLE)) + (CAST(l.embedding[28] AS DOUBLE) - CAST(r.embedding[28] AS DOUBLE)) * (CAST(l.embedding[28] AS DOUBLE) - CAST(r.embedding[28] AS DOUBLE)) + (CAST(l.embedding[29] AS DOUBLE) - CAST(r.embedding[29] AS DOUBLE)) * (CAST(l.embedding[29] AS DOUBLE) - CAST(r.embedding[29] AS DOUBLE)) + (CAST(l.embedding[30] AS DOUBLE) - CAST(r.embedding[30] AS DOUBLE)) * (CAST(l.embedding[30] AS DOUBLE) - CAST(r.embedding[30] AS DOUBLE)) + (CAST(l.embedding[31] AS DOUBLE) - CAST(r.embedding[31] AS DOUBLE)) * (CAST(l.embedding[31] AS DOUBLE) - CAST(r.embedding[31] AS DOUBLE)) + (CAST(l.embedding[32] AS DOUBLE) - CAST(r.embedding[32] AS DOUBLE)) * (CAST(l.embedding[32] AS DOUBLE) - CAST(r.embedding[32] AS DOUBLE))) ASC, r.cid ASC
                   ) AS rn
            FROM embeddings l CROSS JOIN (
                SELECT vec_id AS cid, embedding FROM embeddings
                WHERE vec_id < 16
            ) r
        ) WHERE rn = 1
        UNION ALL
        SELECT vec_id, 2 AS subspace, CAST(code AS INT) AS code,
               ROUND(dist, 6) AS dist_r
        FROM (
            SELECT l.vec_id AS vec_id, r.cid AS code,
                   ((CAST(l.embedding[33] AS DOUBLE) - CAST(r.embedding[33] AS DOUBLE)) * (CAST(l.embedding[33] AS DOUBLE) - CAST(r.embedding[33] AS DOUBLE)) + (CAST(l.embedding[34] AS DOUBLE) - CAST(r.embedding[34] AS DOUBLE)) * (CAST(l.embedding[34] AS DOUBLE) - CAST(r.embedding[34] AS DOUBLE)) + (CAST(l.embedding[35] AS DOUBLE) - CAST(r.embedding[35] AS DOUBLE)) * (CAST(l.embedding[35] AS DOUBLE) - CAST(r.embedding[35] AS DOUBLE)) + (CAST(l.embedding[36] AS DOUBLE) - CAST(r.embedding[36] AS DOUBLE)) * (CAST(l.embedding[36] AS DOUBLE) - CAST(r.embedding[36] AS DOUBLE)) + (CAST(l.embedding[37] AS DOUBLE) - CAST(r.embedding[37] AS DOUBLE)) * (CAST(l.embedding[37] AS DOUBLE) - CAST(r.embedding[37] AS DOUBLE)) + (CAST(l.embedding[38] AS DOUBLE) - CAST(r.embedding[38] AS DOUBLE)) * (CAST(l.embedding[38] AS DOUBLE) - CAST(r.embedding[38] AS DOUBLE)) + (CAST(l.embedding[39] AS DOUBLE) - CAST(r.embedding[39] AS DOUBLE)) * (CAST(l.embedding[39] AS DOUBLE) - CAST(r.embedding[39] AS DOUBLE)) + (CAST(l.embedding[40] AS DOUBLE) - CAST(r.embedding[40] AS DOUBLE)) * (CAST(l.embedding[40] AS DOUBLE) - CAST(r.embedding[40] AS DOUBLE)) + (CAST(l.embedding[41] AS DOUBLE) - CAST(r.embedding[41] AS DOUBLE)) * (CAST(l.embedding[41] AS DOUBLE) - CAST(r.embedding[41] AS DOUBLE)) + (CAST(l.embedding[42] AS DOUBLE) - CAST(r.embedding[42] AS DOUBLE)) * (CAST(l.embedding[42] AS DOUBLE) - CAST(r.embedding[42] AS DOUBLE)) + (CAST(l.embedding[43] AS DOUBLE) - CAST(r.embedding[43] AS DOUBLE)) * (CAST(l.embedding[43] AS DOUBLE) - CAST(r.embedding[43] AS DOUBLE)) + (CAST(l.embedding[44] AS DOUBLE) - CAST(r.embedding[44] AS DOUBLE)) * (CAST(l.embedding[44] AS DOUBLE) - CAST(r.embedding[44] AS DOUBLE)) + (CAST(l.embedding[45] AS DOUBLE) - CAST(r.embedding[45] AS DOUBLE)) * (CAST(l.embedding[45] AS DOUBLE) - CAST(r.embedding[45] AS DOUBLE)) + (CAST(l.embedding[46] AS DOUBLE) - CAST(r.embedding[46] AS DOUBLE)) * (CAST(l.embedding[46] AS DOUBLE) - CAST(r.embedding[46] AS DOUBLE)) + (CAST(l.embedding[47] AS DOUBLE) - CAST(r.embedding[47] AS DOUBLE)) * (CAST(l.embedding[47] AS DOUBLE) - CAST(r.embedding[47] AS DOUBLE)) + (CAST(l.embedding[48] AS DOUBLE) - CAST(r.embedding[48] AS DOUBLE)) * (CAST(l.embedding[48] AS DOUBLE) - CAST(r.embedding[48] AS DOUBLE))) AS dist,
                   row_number() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY ((CAST(l.embedding[33] AS DOUBLE) - CAST(r.embedding[33] AS DOUBLE)) * (CAST(l.embedding[33] AS DOUBLE) - CAST(r.embedding[33] AS DOUBLE)) + (CAST(l.embedding[34] AS DOUBLE) - CAST(r.embedding[34] AS DOUBLE)) * (CAST(l.embedding[34] AS DOUBLE) - CAST(r.embedding[34] AS DOUBLE)) + (CAST(l.embedding[35] AS DOUBLE) - CAST(r.embedding[35] AS DOUBLE)) * (CAST(l.embedding[35] AS DOUBLE) - CAST(r.embedding[35] AS DOUBLE)) + (CAST(l.embedding[36] AS DOUBLE) - CAST(r.embedding[36] AS DOUBLE)) * (CAST(l.embedding[36] AS DOUBLE) - CAST(r.embedding[36] AS DOUBLE)) + (CAST(l.embedding[37] AS DOUBLE) - CAST(r.embedding[37] AS DOUBLE)) * (CAST(l.embedding[37] AS DOUBLE) - CAST(r.embedding[37] AS DOUBLE)) + (CAST(l.embedding[38] AS DOUBLE) - CAST(r.embedding[38] AS DOUBLE)) * (CAST(l.embedding[38] AS DOUBLE) - CAST(r.embedding[38] AS DOUBLE)) + (CAST(l.embedding[39] AS DOUBLE) - CAST(r.embedding[39] AS DOUBLE)) * (CAST(l.embedding[39] AS DOUBLE) - CAST(r.embedding[39] AS DOUBLE)) + (CAST(l.embedding[40] AS DOUBLE) - CAST(r.embedding[40] AS DOUBLE)) * (CAST(l.embedding[40] AS DOUBLE) - CAST(r.embedding[40] AS DOUBLE)) + (CAST(l.embedding[41] AS DOUBLE) - CAST(r.embedding[41] AS DOUBLE)) * (CAST(l.embedding[41] AS DOUBLE) - CAST(r.embedding[41] AS DOUBLE)) + (CAST(l.embedding[42] AS DOUBLE) - CAST(r.embedding[42] AS DOUBLE)) * (CAST(l.embedding[42] AS DOUBLE) - CAST(r.embedding[42] AS DOUBLE)) + (CAST(l.embedding[43] AS DOUBLE) - CAST(r.embedding[43] AS DOUBLE)) * (CAST(l.embedding[43] AS DOUBLE) - CAST(r.embedding[43] AS DOUBLE)) + (CAST(l.embedding[44] AS DOUBLE) - CAST(r.embedding[44] AS DOUBLE)) * (CAST(l.embedding[44] AS DOUBLE) - CAST(r.embedding[44] AS DOUBLE)) + (CAST(l.embedding[45] AS DOUBLE) - CAST(r.embedding[45] AS DOUBLE)) * (CAST(l.embedding[45] AS DOUBLE) - CAST(r.embedding[45] AS DOUBLE)) + (CAST(l.embedding[46] AS DOUBLE) - CAST(r.embedding[46] AS DOUBLE)) * (CAST(l.embedding[46] AS DOUBLE) - CAST(r.embedding[46] AS DOUBLE)) + (CAST(l.embedding[47] AS DOUBLE) - CAST(r.embedding[47] AS DOUBLE)) * (CAST(l.embedding[47] AS DOUBLE) - CAST(r.embedding[47] AS DOUBLE)) + (CAST(l.embedding[48] AS DOUBLE) - CAST(r.embedding[48] AS DOUBLE)) * (CAST(l.embedding[48] AS DOUBLE) - CAST(r.embedding[48] AS DOUBLE))) ASC, r.cid ASC
                   ) AS rn
            FROM embeddings l CROSS JOIN (
                SELECT vec_id AS cid, embedding FROM embeddings
                WHERE vec_id < 16
            ) r
        ) WHERE rn = 1
        UNION ALL
        SELECT vec_id, 3 AS subspace, CAST(code AS INT) AS code,
               ROUND(dist, 6) AS dist_r
        FROM (
            SELECT l.vec_id AS vec_id, r.cid AS code,
                   ((CAST(l.embedding[49] AS DOUBLE) - CAST(r.embedding[49] AS DOUBLE)) * (CAST(l.embedding[49] AS DOUBLE) - CAST(r.embedding[49] AS DOUBLE)) + (CAST(l.embedding[50] AS DOUBLE) - CAST(r.embedding[50] AS DOUBLE)) * (CAST(l.embedding[50] AS DOUBLE) - CAST(r.embedding[50] AS DOUBLE)) + (CAST(l.embedding[51] AS DOUBLE) - CAST(r.embedding[51] AS DOUBLE)) * (CAST(l.embedding[51] AS DOUBLE) - CAST(r.embedding[51] AS DOUBLE)) + (CAST(l.embedding[52] AS DOUBLE) - CAST(r.embedding[52] AS DOUBLE)) * (CAST(l.embedding[52] AS DOUBLE) - CAST(r.embedding[52] AS DOUBLE)) + (CAST(l.embedding[53] AS DOUBLE) - CAST(r.embedding[53] AS DOUBLE)) * (CAST(l.embedding[53] AS DOUBLE) - CAST(r.embedding[53] AS DOUBLE)) + (CAST(l.embedding[54] AS DOUBLE) - CAST(r.embedding[54] AS DOUBLE)) * (CAST(l.embedding[54] AS DOUBLE) - CAST(r.embedding[54] AS DOUBLE)) + (CAST(l.embedding[55] AS DOUBLE) - CAST(r.embedding[55] AS DOUBLE)) * (CAST(l.embedding[55] AS DOUBLE) - CAST(r.embedding[55] AS DOUBLE)) + (CAST(l.embedding[56] AS DOUBLE) - CAST(r.embedding[56] AS DOUBLE)) * (CAST(l.embedding[56] AS DOUBLE) - CAST(r.embedding[56] AS DOUBLE)) + (CAST(l.embedding[57] AS DOUBLE) - CAST(r.embedding[57] AS DOUBLE)) * (CAST(l.embedding[57] AS DOUBLE) - CAST(r.embedding[57] AS DOUBLE)) + (CAST(l.embedding[58] AS DOUBLE) - CAST(r.embedding[58] AS DOUBLE)) * (CAST(l.embedding[58] AS DOUBLE) - CAST(r.embedding[58] AS DOUBLE)) + (CAST(l.embedding[59] AS DOUBLE) - CAST(r.embedding[59] AS DOUBLE)) * (CAST(l.embedding[59] AS DOUBLE) - CAST(r.embedding[59] AS DOUBLE)) + (CAST(l.embedding[60] AS DOUBLE) - CAST(r.embedding[60] AS DOUBLE)) * (CAST(l.embedding[60] AS DOUBLE) - CAST(r.embedding[60] AS DOUBLE)) + (CAST(l.embedding[61] AS DOUBLE) - CAST(r.embedding[61] AS DOUBLE)) * (CAST(l.embedding[61] AS DOUBLE) - CAST(r.embedding[61] AS DOUBLE)) + (CAST(l.embedding[62] AS DOUBLE) - CAST(r.embedding[62] AS DOUBLE)) * (CAST(l.embedding[62] AS DOUBLE) - CAST(r.embedding[62] AS DOUBLE)) + (CAST(l.embedding[63] AS DOUBLE) - CAST(r.embedding[63] AS DOUBLE)) * (CAST(l.embedding[63] AS DOUBLE) - CAST(r.embedding[63] AS DOUBLE)) + (CAST(l.embedding[64] AS DOUBLE) - CAST(r.embedding[64] AS DOUBLE)) * (CAST(l.embedding[64] AS DOUBLE) - CAST(r.embedding[64] AS DOUBLE))) AS dist,
                   row_number() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY ((CAST(l.embedding[49] AS DOUBLE) - CAST(r.embedding[49] AS DOUBLE)) * (CAST(l.embedding[49] AS DOUBLE) - CAST(r.embedding[49] AS DOUBLE)) + (CAST(l.embedding[50] AS DOUBLE) - CAST(r.embedding[50] AS DOUBLE)) * (CAST(l.embedding[50] AS DOUBLE) - CAST(r.embedding[50] AS DOUBLE)) + (CAST(l.embedding[51] AS DOUBLE) - CAST(r.embedding[51] AS DOUBLE)) * (CAST(l.embedding[51] AS DOUBLE) - CAST(r.embedding[51] AS DOUBLE)) + (CAST(l.embedding[52] AS DOUBLE) - CAST(r.embedding[52] AS DOUBLE)) * (CAST(l.embedding[52] AS DOUBLE) - CAST(r.embedding[52] AS DOUBLE)) + (CAST(l.embedding[53] AS DOUBLE) - CAST(r.embedding[53] AS DOUBLE)) * (CAST(l.embedding[53] AS DOUBLE) - CAST(r.embedding[53] AS DOUBLE)) + (CAST(l.embedding[54] AS DOUBLE) - CAST(r.embedding[54] AS DOUBLE)) * (CAST(l.embedding[54] AS DOUBLE) - CAST(r.embedding[54] AS DOUBLE)) + (CAST(l.embedding[55] AS DOUBLE) - CAST(r.embedding[55] AS DOUBLE)) * (CAST(l.embedding[55] AS DOUBLE) - CAST(r.embedding[55] AS DOUBLE)) + (CAST(l.embedding[56] AS DOUBLE) - CAST(r.embedding[56] AS DOUBLE)) * (CAST(l.embedding[56] AS DOUBLE) - CAST(r.embedding[56] AS DOUBLE)) + (CAST(l.embedding[57] AS DOUBLE) - CAST(r.embedding[57] AS DOUBLE)) * (CAST(l.embedding[57] AS DOUBLE) - CAST(r.embedding[57] AS DOUBLE)) + (CAST(l.embedding[58] AS DOUBLE) - CAST(r.embedding[58] AS DOUBLE)) * (CAST(l.embedding[58] AS DOUBLE) - CAST(r.embedding[58] AS DOUBLE)) + (CAST(l.embedding[59] AS DOUBLE) - CAST(r.embedding[59] AS DOUBLE)) * (CAST(l.embedding[59] AS DOUBLE) - CAST(r.embedding[59] AS DOUBLE)) + (CAST(l.embedding[60] AS DOUBLE) - CAST(r.embedding[60] AS DOUBLE)) * (CAST(l.embedding[60] AS DOUBLE) - CAST(r.embedding[60] AS DOUBLE)) + (CAST(l.embedding[61] AS DOUBLE) - CAST(r.embedding[61] AS DOUBLE)) * (CAST(l.embedding[61] AS DOUBLE) - CAST(r.embedding[61] AS DOUBLE)) + (CAST(l.embedding[62] AS DOUBLE) - CAST(r.embedding[62] AS DOUBLE)) * (CAST(l.embedding[62] AS DOUBLE) - CAST(r.embedding[62] AS DOUBLE)) + (CAST(l.embedding[63] AS DOUBLE) - CAST(r.embedding[63] AS DOUBLE)) * (CAST(l.embedding[63] AS DOUBLE) - CAST(r.embedding[63] AS DOUBLE)) + (CAST(l.embedding[64] AS DOUBLE) - CAST(r.embedding[64] AS DOUBLE)) * (CAST(l.embedding[64] AS DOUBLE) - CAST(r.embedding[64] AS DOUBLE))) ASC, r.cid ASC
                   ) AS rn
            FROM embeddings l CROSS JOIN (
                SELECT vec_id AS cid, embedding FROM embeddings
                WHERE vec_id < 16
            ) r
        ) WHERE rn = 1
"""
ORACLES["text_hashed_features"] = """
        WITH toks AS (
            SELECT doc_id, t.tok
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) AS t
            WHERE t.tok <> ''
        )
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % 32 AS bucket,
               COUNT(*) AS n
        FROM toks
        GROUP BY doc_id, bucket
"""
ORACLES["evt_survival_retention"] = """
        WITH spans AS (
            SELECT user_id,
                   date_diff('day', MIN(CAST(ts AS DATE)),
                             MAX(CAST(ts AS DATE))) AS lifespan
            FROM events GROUP BY user_id
        ), hist AS (
            SELECT CAST(lifespan AS INT) AS lifespan,
                   COUNT(*) AS n_users
            FROM spans GROUP BY lifespan
        )
        SELECT lifespan, n_users,
               CAST(SUM(n_users) OVER (
                   ORDER BY lifespan DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_surviving,
               ROUND(CAST(SUM(n_users) OVER (
                         ORDER BY lifespan DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS DOUBLE)
                     / CAST(SUM(n_users) OVER () AS DOUBLE), 6) AS survival
        FROM hist
"""
ORACLES["orders_dup_invoice_pairs"] = """
        WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(floor(o_totalprice / CAST(10000.0 AS DOUBLE)) AS BIGINT)
                       AS band,
                   CAST(o_orderdate AS DATE) AS d
            FROM orders
        )
        SELECT l.o_orderkey AS k1, r.o_orderkey AS k2,
               l.o_custkey AS o_custkey, l.band AS band,
               CAST(abs(date_diff('day', l.d, r.d)) AS INT) AS day_gap
        FROM o l JOIN o r
          ON l.o_custkey = r.o_custkey AND l.band = r.band
         AND l.o_orderkey < r.o_orderkey
        WHERE abs(date_diff('day', l.d, r.d)) <= 90
"""
ORACLES["docs_ccnet_buckets"] = """
        WITH toks AS (
            SELECT doc_id, t.tok
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) AS t
            WHERE t.tok <> ''
        ), vocab AS (
            SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok
        ), tot AS (
            SELECT CAST(SUM(n_tok) AS DOUBLE) AS n_total FROM vocab
        ), s AS (
            SELECT toks.doc_id,
                   ROUND(AVG(log2((SELECT n_total FROM tot))
                             - log2(CAST(vocab.n_tok AS DOUBLE))), 6) AS ppl_r
            FROM toks JOIN vocab ON toks.tok = vocab.tok
            GROUP BY toks.doc_id
        ), j AS (
            SELECT d.doc_id, d.lang, s.ppl_r
            FROM documents d JOIN s ON d.doc_id = s.doc_id
        )
        SELECT doc_id, lang, ppl_r,
               CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl_r, doc_id)
                   WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM j
"""


ORACLES["text_bigram_lm"] = """
        WITH toks AS (
            SELECT list_filter(string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+'),
                               t -> t <> '') AS a
            FROM documents WHERE text IS NOT NULL
        ), pairs AS (
            SELECT p[1] AS w1, p[2] AS w2
            FROM (SELECT unnest(list_zip(a[1:-2], a[2:-1])) AS p FROM toks)
        ), big AS (
            SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY w1, w2
        ), c1 AS (
            SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM big GROUP BY w1
        ), vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT unnest(a) AS tok FROM toks)
        )
        SELECT w1, w2, n,
               ROUND(log2((CAST(n AS DOUBLE) + CAST(0.5 AS DOUBLE))
                          / (CAST(c1 AS DOUBLE)
                             + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE))),
                     6) AS logp
        FROM big JOIN c1 USING (w1) CROSS JOIN vocab
        ORDER BY n DESC, w1 ASC, w2 ASC
        LIMIT 100
"""
ORACLES["text_char_stats"] = """
        WITH chars AS (
            SELECT doc_id, c FROM (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), '[\\s\\S]')) AS c
                FROM documents WHERE text IS NOT NULL
            ) t WHERE c <> ''
        ), dc AS (
            SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c
        ), corp AS (
            SELECT c, CAST(SUM(n) AS DOUBLE)
                      / (SELECT CAST(SUM(n) AS DOUBLE) FROM dc) AS p_corp
            FROM dc GROUP BY c
        )
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_chars,
               ROUND(log2(CAST(SUM(n) AS DOUBLE))
                     - SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
                       / CAST(SUM(n) AS DOUBLE), 6) AS entropy,
               ROUND(SUM(CAST(n AS DOUBLE)
                         * log2(CAST(n AS DOUBLE) / p_corp))
                       / CAST(SUM(n) AS DOUBLE)
                     - log2(CAST(SUM(n) AS DOUBLE)), 6) AS kl_corpus
        FROM dc JOIN corp USING (c)
        GROUP BY doc_id
"""
ORACLES["docs_gopher_rules"] = """
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+'),
                               t -> t <> '') AS a
            FROM documents WHERE text IS NOT NULL
        ), m AS (
            SELECT doc_id,
                   CAST(len(a) AS INT) AS n_words,
                   CAST(list_sum(list_transform(a, t -> length(t)))
                        AS DOUBLE) AS total_len,
                   CAST(len(list_filter(a,
                        t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
                       AS n_alpha,
                   len(list_filter(a, t -> t IN
                       ('the','and','of','to','is','a','in'))) > 0
                       AS has_stopword
            FROM d
        )
        SELECT doc_id, n_words,
               ROUND(total_len / CAST(n_words AS DOUBLE), 6)
                   AS mean_word_len,
               ROUND(n_alpha / CAST(n_words AS DOUBLE), 6) AS frac_alpha,
               has_stopword,
               (n_words >= 5
                AND total_len / CAST(n_words AS DOUBLE) >= 3.0
                AND total_len / CAST(n_words AS DOUBLE) <= 10.0
                AND n_alpha / CAST(n_words AS DOUBLE) >= 0.5
                AND has_stopword) AS keep
        FROM m
"""
ORACLES["docs_remove_dup_chunks"] = """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS toks
            FROM documents WHERE text IS NOT NULL
        ), e AS (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks) / 16.0) AS INT))) AS b
            FROM t
        ), fpb AS (
            SELECT doc_id, b,
                   array_to_string(
                       toks[b * 16 + 1 : least(b * 16 + 16, len(toks))],
                       ' ') AS chunk,
                   md5(array_to_string(
                       toks[b * 16 + 1 : least(b * 16 + 16, len(toks))],
                       ' ')) AS fp
            FROM e
        ), meta AS (
            SELECT fp, COUNT(*) AS ndocs, MIN(doc_id) AS keep_doc
            FROM (SELECT DISTINCT doc_id, fp FROM fpb) GROUP BY fp
        )
        SELECT f.doc_id,
               COUNT(*) AS n_blocks,
               CAST(SUM(CASE WHEN m.ndocs = 1 OR f.doc_id = m.keep_doc
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(STRING_AGG(
                   CASE WHEN m.ndocs = 1 OR f.doc_id = m.keep_doc
                        THEN f.chunk END, ' ' ORDER BY f.b), '')
                   AS text_clean
        FROM fpb f JOIN meta m USING (fp)
        GROUP BY f.doc_id
"""
ORACLES["text_perplexity_bigram"] = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+'),
                               t -> t <> '') AS a
            FROM documents WHERE text IS NOT NULL
        ), pairs AS (
            SELECT doc_id, p[1] AS w1, p[2] AS w2
            FROM (SELECT doc_id, unnest(list_zip(a[1:-2], a[2:-1])) AS p
                  FROM toks)
        ), big AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
        ), c1 AS (
            SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1
        ), vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT unnest(a) AS tok FROM toks)
        ), lm AS (
            SELECT w1, w2,
                   -log2((CAST(c12 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(c1 AS DOUBLE)
                            + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE)))
                       AS neg_log2p
            FROM big JOIN c1 USING (w1) CROSS JOIN vocab
        )
        SELECT p.doc_id,
               ROUND(AVG(l.neg_log2p), 6) AS mean_neg_log2p,
               ROUND(POW(CAST(2.0 AS DOUBLE), AVG(l.neg_log2p)), 6) AS ppl,
               COUNT(*) AS n_pairs
        FROM pairs p JOIN lm l ON p.w1 = l.w1 AND p.w2 = l.w2
        GROUP BY p.doc_id
"""
ORACLES["sink_bucketed_join"] = """
        SELECT c.c_custkey, c.c_name,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 100.0, 2)
                   AS total_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
"""
ORACLES["corpus_shuffle_shards"] = """
        WITH h AS (
            SELECT doc_id,
                   md5('shuffle:1:' || CAST(doc_id AS VARCHAR)) AS hx
            FROM documents
        ), s AS (
            SELECT doc_id, hx,
                   CAST(('0x' || substring(hx, 1, 15)) AS BIGINT) % 8 AS shard
            FROM h
        )
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY shard
                                  ORDER BY hx ASC, doc_id ASC) AS pos
        FROM s
"""
ORACLES["mix_temperature"] = """
        WITH c AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS nd
            FROM documents GROUP BY source
        ), t AS (
            SELECT SUM(nd) AS tot,
                   SUM(POW(nd, CAST(0.5 AS DOUBLE))) AS wtot
            FROM c
        )
        SELECT source, CAST(nd AS BIGINT) AS n,
               ROUND(nd / tot, 6) AS nat_share,
               ROUND(POW(nd, CAST(0.5 AS DOUBLE)) / wtot, 6) AS temp_share,
               ROUND(POW(nd, CAST(0.5 AS DOUBLE)) / wtot * tot / nd, 6)
                   AS boost
        FROM c CROSS JOIN t
"""
ORACLES["text_vocab_coverage"] = """
        WITH toks AS (
            SELECT unnest(list_filter(
                       string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+'),
                       t -> t <> '')) AS tok
            FROM documents WHERE text IS NOT NULL
        ), vocab AS (
            SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        ), ranked AS (
            SELECT ROW_NUMBER() OVER w AS rank,
                   SUM(n) OVER (w ROWS UNBOUNDED PRECEDING) AS cum
            FROM vocab
            WINDOW w AS (ORDER BY n DESC, tok ASC)
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS tt FROM vocab
        ), elected AS (
            SELECT MAX(tt) AS total_tokens,
                   MIN(CASE WHEN CAST(cum AS DOUBLE)
                                 >= CAST(0.5 AS DOUBLE) * CAST(tt AS DOUBLE)
                            THEN rank END) AS v0,
                   MIN(CASE WHEN CAST(cum AS DOUBLE)
                                 >= CAST(0.9 AS DOUBLE) * CAST(tt AS DOUBLE)
                            THEN rank END) AS v1,
                   MIN(CASE WHEN CAST(cum AS DOUBLE)
                                 >= CAST(0.99 AS DOUBLE) * CAST(tt AS DOUBLE)
                            THEN rank END) AS v2
            FROM ranked CROSS JOIN tot
        )
        SELECT CAST(0.5 AS DOUBLE) AS coverage, v0 AS vocab_size,
               total_tokens FROM elected
        UNION ALL
        SELECT CAST(0.9 AS DOUBLE), v1, total_tokens FROM elected
        UNION ALL
        SELECT CAST(0.99 AS DOUBLE), v2, total_tokens FROM elected
"""
ORACLES["dedup_keep_best"] = """
        WITH RECURSIVE pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            WHERE (a.n_chars + b.n_chars) % 3 = 0
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ), reach(id, r) AS (
            SELECT a, a FROM edges GROUP BY a
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
        ), clus AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(MIN(reach.r), d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN reach ON reach.id = d.doc_id
            GROUP BY d.doc_id, d.n_chars
        ), keep AS (
            SELECT cluster_id, doc_id AS keeper_id FROM (
                SELECT cluster_id, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY cluster_id
                                          ORDER BY n_chars DESC, doc_id ASC)
                           AS rn
                FROM clus
            ) WHERE rn = 1
        )
        SELECT c.doc_id, c.cluster_id, k.keeper_id,
               c.doc_id = k.keeper_id AS is_keeper
        FROM clus c JOIN keep k USING (cluster_id)
"""
ORACLES["decontaminate_report"] = """
        WITH nums AS (SELECT CAST(i AS BIGINT) AS i
                      FROM generate_series(1, 4096) t(i)),
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks JOIN nums ON i <= len(t) - 2
            WHERE len(t) >= 3
            UNION ALL
            SELECT doc_id, array_to_string(t, ' ') AS g
            FROM toks WHERE len(t) < 3
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
        ), cg AS (
            SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0
        ), tot AS (
            SELECT doc_id, COUNT(*) AS n_ngrams FROM cg GROUP BY doc_id
        ), mt AS (
            SELECT cg.doc_id, COUNT(*) AS n_matched
            FROM cg JOIN bench USING (g) GROUP BY cg.doc_id
        ), scored AS (
            SELECT tot.doc_id,
                   CAST(n_ngrams AS BIGINT) AS n_ngrams,
                   CAST(COALESCE(n_matched, 0) AS BIGINT) AS n_matched,
                   CAST(COALESCE(n_matched, 0) AS DOUBLE)
                       / CAST(n_ngrams AS DOUBLE) AS contam_ratio
            FROM tot LEFT JOIN mt ON tot.doc_id = mt.doc_id
        )
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN s.contam_ratio >= CAST(0.05 AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               ROUND(CAST(SUM(CASE WHEN s.contam_ratio >= CAST(0.05 AS DOUBLE)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS flag_rate,
               ROUND(CAST(SUM(s.n_matched) AS DOUBLE)
                     / CAST(SUM(s.n_ngrams) AS DOUBLE), 6)
                   AS contam_weighted
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
        GROUP BY d.source
"""
ORACLES["orders_basket_lift"] = """
        WITH d0 AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM d0 GROUP BY l_orderkey
            HAVING COUNT(*) <= 32
        ), d AS (
            SELECT d0.* FROM d0 JOIN small USING (l_orderkey)
        ), nb_total AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nn FROM d
        ), item AS (
            SELECT l_partkey, COUNT(*) AS ni FROM d GROUP BY l_partkey
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS support
            FROM d a JOIN d b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= 2
        )
        SELECT part_a, part_b, support,
               ROUND(CAST(support AS DOUBLE) * CAST(nn AS DOUBLE)
                     / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)), 6)
                   AS lift,
               ROUND(CAST(support AS DOUBLE) / CAST(ia.ni AS DOUBLE), 6)
                   AS confidence
        FROM pairs
        JOIN item ia ON ia.l_partkey = part_a
        JOIN item ib ON ib.l_partkey = part_b
        CROSS JOIN nb_total
        ORDER BY lift DESC, part_a ASC, part_b ASC
        LIMIT 20
"""

ORACLES["dq_expectations"] = f"""
        SELECT 'unique_o_orderkey' AS check_name, 'orders' AS table_name,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                   AS metric,
               CAST(0 AS BIGINT) AS threshold,
               (COUNT(*) - COUNT(DISTINCT o_orderkey)) <= 0 AS passed
        FROM orders
        UNION ALL
        SELECT 'fk_orders_customer', 'orders',
               CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT), COUNT(*) <= 0
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'range_l_quantity_{_DQ_QTY_LO}_{_DQ_QTY_HI}', 'lineitem',
               CAST(SUM(CASE WHEN l_quantity < {_DQ_QTY_LO}
                               OR l_quantity > {_DQ_QTY_HI}
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(0 AS BIGINT),
               SUM(CASE WHEN l_quantity < {_DQ_QTY_LO}
                          OR l_quantity > {_DQ_QTY_HI}
                        THEN 1 ELSE 0 END) <= 0
        FROM lineitem
        UNION ALL
        SELECT 'not_null_c_acctbal', 'customer',
               CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(0 AS BIGINT),
               SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) <= 0
        FROM customer
        UNION ALL
        SELECT 'freshness_o_orderdate', 'orders',
               CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                              DATE '{_DQ_FRESHNESS_AS_OF}') AS BIGINT),
               CAST(365 AS BIGINT),
               date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                         DATE '{_DQ_FRESHNESS_AS_OF}') <= 365
        FROM orders
"""
ORACLES["evt_ewma_rolling"] = """
        SELECT event_id, user_id, value,
               CASE WHEN den > 0 THEN ROUND(num / den, 6) END AS ewma
        FROM (
            SELECT event_id, user_id, value,
                   COALESCE(value, 0)
                   + 0.7 * COALESCE(LAG(value, 1) OVER w, 0)
                   + 0.49 * COALESCE(LAG(value, 2) OVER w, 0)
                   + 0.343 * COALESCE(LAG(value, 3) OVER w, 0)
                   + 0.2401 * COALESCE(LAG(value, 4) OVER w, 0)
                   + 0.16807 * COALESCE(LAG(value, 5) OVER w, 0)
                   + 0.117649 * COALESCE(LAG(value, 6) OVER w, 0)
                   + 0.0823543 * COALESCE(LAG(value, 7) OVER w, 0) AS num,
                   (CASE WHEN value IS NULL THEN 0 ELSE 1 END)
                   + 0.7 * (CASE WHEN LAG(value, 1) OVER w IS NULL
                                 THEN 0 ELSE 1 END)
                   + 0.49 * (CASE WHEN LAG(value, 2) OVER w IS NULL
                                  THEN 0 ELSE 1 END)
                   + 0.343 * (CASE WHEN LAG(value, 3) OVER w IS NULL
                                   THEN 0 ELSE 1 END)
                   + 0.2401 * (CASE WHEN LAG(value, 4) OVER w IS NULL
                                    THEN 0 ELSE 1 END)
                   + 0.16807 * (CASE WHEN LAG(value, 5) OVER w IS NULL
                                     THEN 0 ELSE 1 END)
                   + 0.117649 * (CASE WHEN LAG(value, 6) OVER w IS NULL
                                      THEN 0 ELSE 1 END)
                   + 0.0823543 * (CASE WHEN LAG(value, 7) OVER w IS NULL
                                       THEN 0 ELSE 1 END) AS den
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
"""
ORACLES["dedup_cross_split_leakage"] = _cross_split_leakage_sql(
    num_perm=16, bands=4, k=3, threshold=0.5, buckets=5
)
ORACLES["text_bpe_merge_round"] = """
        WITH w2 AS (
            SELECT word FROM (
                SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                    AS word
                FROM documents WHERE text IS NOT NULL
            ) WHERE length(word) >= 2
        ), p1 AS (
            SELECT pair, COUNT(*) AS n FROM (
                SELECT unnest([substr(word, i, 2)
                               for i in generate_series(1, length(word) - 1)])
                    AS pair
                FROM w2
            ) GROUP BY pair
        ), best AS (
            SELECT pair AS bp FROM p1 ORDER BY n DESC, pair ASC LIMIT 1
        ), seg AS (
            SELECT bp,
                   string_split(
                       replace(
                           array_to_string(
                               [word[i] for i in
                                generate_series(1, length(word))], '|'),
                           substr(bp, 1, 1) || '|' || substr(bp, 2, 1),
                           bp),
                       '|') AS syms
            FROM w2 CROSS JOIN best
        ), np AS (
            SELECT bp, syms[i] || '+' || syms[i + 1] AS pair
            FROM seg, unnest(generate_series(1, len(syms) - 1)) AS u(i)
            WHERE len(syms) >= 2
        )
        SELECT bp AS merge_pair, pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM np GROUP BY bp, pair
        ORDER BY n DESC, pair ASC
        LIMIT 20
"""
ORACLES["dedup_minhash_estimate"] = f"""
        WITH {_minhash_md5_cte_prefix(16, 4, 3)}, pairs AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key
            WHERE l.doc_id < r.doc_id
        )
        SELECT id_a, id_b,
               ROUND(est, 6) AS est_r,
               ROUND(exact, 6) AS exact_r,
               ROUND(ABS(est - exact), 6) AS abs_err_r
        FROM (
            SELECT p.id_a, p.id_b,
                   CAST(len(list_filter(
                       [sa.s[i] = sb.s[i]
                        for i in generate_series(1, 16)],
                       m -> m)) AS DOUBLE) / 16.0 AS est,
                   CAST(len(list_intersect(na.hv, nb.hv)) AS DOUBLE)
                   / CAST(len(list_distinct(na.hv || nb.hv)) AS DOUBLE)
                       AS exact
            FROM pairs p
            JOIN sig sa ON p.id_a = sa.doc_id
            JOIN sig sb ON p.id_b = sb.doc_id
            JOIN hs na ON p.id_a = na.doc_id
            JOIN hs nb ON p.id_b = nb.doc_id
        )
"""
# the support≥2 capped basket edge set — shared WITH-body of the
# graph_triangles and graph_link_prediction oracles (mirrors
# _basket_edges)
_BASKET_EDGES_CTE = """d0 AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), small AS (
            SELECT l_orderkey FROM d0 GROUP BY l_orderkey
            HAVING COUNT(*) <= 32
        ), d AS (
            SELECT d0.* FROM d0 JOIN small USING (l_orderkey)
        ), e AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM d x JOIN d y
              ON x.l_orderkey = y.l_orderkey
             AND x.l_partkey < y.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        )"""

ORACLES["graph_triangles"] = f"""
        WITH {_BASKET_EDGES_CTE}, deg AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) * 100000000000 + v AS k
            FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
            GROUP BY v
        ), o AS (
            SELECT CASE WHEN da.k < db.k THEN e.a ELSE e.b END AS src,
                   CASE WHEN da.k < db.k THEN e.b ELSE e.a END AS dst,
                   greatest(da.k, db.k) AS kd
            FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
        ), w AS (
            SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
            FROM o w1 JOIN o w2
              ON w1.src = w2.src AND w1.kd < w2.kd
        ), c AS (
            SELECT x, y, z FROM w
            WHERE EXISTS (SELECT 1 FROM o
                          WHERE o.src = w.y AND o.dst = w.z)
        )
        SELECT t[1] AS pa, t[2] AS pb, t[3] AS pc
        FROM (SELECT list_sort([x, y, z]) AS t FROM c)
"""
ORACLES["evt_ab_cuped"] = """
        WITH pu AS (
            SELECT user_id,
                   SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                            THEN CAST(FLOOR(value * 1000000.0 + 0.5)
                                      AS BIGINT) ELSE 0 END) AS pre6,
                   SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                            THEN CAST(FLOOR(value * 1000000.0 + 0.5)
                                      AS BIGINT) ELSE 0 END) AS post6
            FROM events GROUP BY user_id
        ), tagged AS (
            SELECT *,
                   CASE WHEN ('0x' || substr(md5('ab:' ||
                              CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                             % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm
            FROM pu
        ), arms AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                   SUM(pre6::HUGEINT) AS sp,
                   SUM(post6::HUGEINT) AS so,
                   SUM(pre6::HUGEINT * pre6::HUGEINT) AS spp,
                   SUM(post6::HUGEINT * post6::HUGEINT) AS soo,
                   SUM(pre6::HUGEINT * post6::HUGEINT) AS spo
            FROM tagged GROUP BY arm
        ), pooled AS (
            -- pooled aliases must NOT collide case-insensitively with
            -- the arm-level sp/so (DuckDB identifiers are
            -- case-insensitive: 'Sp' IS 'sp')
            SELECT arm, n_users, sp, so,
                   CAST(SUM(n_users) OVER () AS DOUBLE) AS pn,
                   CAST(SUM(sp) OVER () AS DOUBLE) AS psp,
                   CAST(SUM(so) OVER () AS DOUBLE) AS pso,
                   CAST(SUM(spp) OVER () AS DOUBLE) AS pspp,
                   CAST(SUM(soo) OVER () AS DOUBLE) AS psoo,
                   CAST(SUM(spo) OVER () AS DOUBLE) AS pspo
            FROM arms
        ), st AS (
            SELECT arm, n_users,
                   CAST(so AS DOUBLE) / CAST(n_users AS DOUBLE)
                       AS mean_post,
                   CAST(sp AS DOUBLE) / CAST(n_users AS DOUBLE)
                       AS mean_pre,
                   psp / pn AS mpre, pso / pn AS mpost,
                   pspo / pn - (psp / pn) * (pso / pn) AS cov,
                   pspp / pn - (psp / pn) * (psp / pn) AS varp,
                   psoo / pn - (pso / pn) * (pso / pn) AS varo
            FROM pooled
        )
        SELECT arm, n_users,
               ROUND(mean_post / 1000000.0, 6) AS mean_post_r,
               ROUND((mean_post
                      - (CASE WHEN varp > 0 THEN cov / varp END)
                        * (mean_pre - mpre)) / 1000000.0, 6)
                   AS mean_adj_r,
               ROUND(CASE WHEN varp > 0 THEN cov / varp END, 6)
                   AS theta_r,
               ROUND(CASE WHEN varp > 0 AND varo > 0
                          THEN cov * cov / (varp * varo) END, 6)
                   AS rho2_r
        FROM st
"""
ORACLES["docs_source_overlap"] = f"""
        WITH mh AS ({_minhash_md5_sql(16, 4, 3, 0.5)})
        SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM mh
        JOIN documents sa ON mh.id_a = sa.doc_id
        JOIN documents sb ON mh.id_b = sb.doc_id
        GROUP BY 1, 2
"""
ORACLES["evt_user_activity_entropy"] = """
        WITH c AS (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id, event_type
        ), m AS (
            SELECT user_id,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                       AS clogc
            FROM c GROUP BY user_id
        )
        SELECT user_id, n, n_types,
               ROUND(log2(CAST(n AS DOUBLE))
                     - clogc / CAST(n AS DOUBLE), 6) AS entropy_r
        FROM m
"""
ORACLES["dedup_minhash_clusters"] = f"""
        WITH RECURSIVE mh AS ({_minhash_md5_sql(16, 4, 3, 0.5)}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM mh
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM mh
        ), reach(id, r) AS (
            SELECT a, a FROM edges GROUP BY a
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
        ), comp AS (
            SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
        ), sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM comp GROUP BY cluster_id
        )
        SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size
        FROM comp JOIN sizes USING (cluster_id)
"""
ORACLES["graph_link_prediction"] = f"""
        WITH {_BASKET_EDGES_CTE}, adj AS (
            SELECT a AS ctr, b AS leaf FROM e
            UNION ALL
            SELECT b AS ctr, a AS leaf FROM e
        ), deg AS (
            SELECT ctr, CAST(COUNT(*) AS BIGINT) AS dg
            FROM adj GROUP BY ctr
        ), adj_ctr AS (
            SELECT adj.* FROM adj JOIN deg USING (ctr)
            WHERE deg.dg <= 128
        ), cn AS (
            SELECT l.leaf AS a, r.leaf AS b,
                   CAST(COUNT(*) AS BIGINT) AS cn
            FROM adj_ctr l JOIN adj_ctr r
              ON l.ctr = r.ctr AND l.leaf < r.leaf
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), cand AS (
            SELECT cn.* FROM cn
            WHERE NOT EXISTS (SELECT 1 FROM e
                              WHERE e.a = cn.a AND e.b = cn.b)
        )
        SELECT cand.a, cand.b, cand.cn,
               ROUND(CAST(cand.cn AS DOUBLE)
                     / CAST(da.dg + db.dg - cand.cn AS DOUBLE), 6)
                   AS jaccard_r
        FROM cand
        JOIN deg da ON da.ctr = cand.a
        JOIN deg db ON db.ctr = cand.b
        ORDER BY cand.cn DESC, cand.a ASC, cand.b ASC
        LIMIT 20
"""
# composed AFTER dict creation: the codes CTE is the emb_pq_assign
# oracle VERBATIM (its dist_r is the 6-rounded distance both engines
# floor to e6 integers — dist ≥ 0, so HALF_UP == half-away)
_PQ_ERROR_SQL_TEMPLATE = """
        WITH codes AS ({pq}), e6 AS (
            SELECT subspace,
                   CAST(FLOOR(dist_r * 1000000.0 + 0.5) AS BIGINT) AS d6
            FROM codes
        )
        SELECT subspace, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               ROUND(CAST(SUM(d6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     / 1000000.0, 6) AS mean_dist_r,
               ROUND(CAST(MAX(d6) AS DOUBLE) / 1000000.0, 6)
                   AS max_dist_r
        FROM e6 GROUP BY subspace
"""
ORACLES["evt_late_arrival_audit"] = """
        WITH late AS (
            SELECT COALESCE(greatest(
                       MAX(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING
                       ) - epoch_us(ts), 0), 0) AS late_us
            FROM events
        ), wm AS (
            SELECT * FROM (VALUES ('1m', 60000000),
                                  ('10m', 600000000),
                                  ('1h', 3600000000),
                                  ('1d', 86400000000))
                AS t(watermark, wm_us)
        )
        SELECT watermark,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN late_us > wm_us THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               ROUND(CAST(SUM(CASE WHEN late_us > wm_us
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS drop_share
        FROM late CROSS JOIN wm
        GROUP BY watermark
"""
ORACLES["ivm_join_delta"] = """
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c_nationkey
"""
ORACLES["mix_curriculum"] = """
        WITH c AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS nd
            FROM documents GROUP BY source
        ), e AS (
            SELECT * FROM (VALUES (1, CAST(1.0 AS DOUBLE)),
                                  (2, CAST(0.85 AS DOUBLE)),
                                  (3, CAST(0.7 AS DOUBLE)),
                                  (4, CAST(0.55 AS DOUBLE)))
                AS t(epoch, alpha)
        ), x AS (
            SELECT epoch, alpha, source, nd, POW(nd, alpha) AS w
            FROM c CROSS JOIN e
        )
        SELECT epoch, source, CAST(nd AS BIGINT) AS n, alpha,
               ROUND(w / SUM(w) OVER (PARTITION BY epoch), 6) AS share_r,
               ROUND((w / SUM(w) OVER (PARTITION BY epoch))
                     / (nd / SUM(nd) OVER (PARTITION BY epoch)), 6)
                   AS boost_r
        FROM x
"""
ORACLES["emb_ivf_stats"] = f"""
        WITH cents AS (
            SELECT vec_id AS cluster_id, embedding FROM embeddings
            WHERE vec_id < 16
        ), a AS (
            SELECT id, cluster_id, cos FROM (
                SELECT l.vec_id AS id, r.cluster_id,
                       {_COS_LR} AS cos,
                       row_number() OVER (
                           PARTITION BY l.vec_id
                           ORDER BY {_COS_LR} DESC, r.cluster_id ASC
                       ) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        ), ee AS (
            SELECT cluster_id,
                   CAST(FLOOR(cos * 1000000.0 + 0.5) AS BIGINT) AS ce6
            FROM a
        ), m AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
                   SUM(ce6) AS s, MIN(ce6) AS mn
            FROM ee GROUP BY cluster_id
        )
        SELECT cluster_id, n_vectors,
               ROUND(CAST(n_vectors AS DOUBLE)
                     / CAST(SUM(n_vectors) OVER () AS DOUBLE), 6)
                   AS share_r,
               ROUND(CAST(s AS DOUBLE) / CAST(n_vectors AS DOUBLE)
                     / 1000000.0, 6) AS mean_cos_r,
               ROUND(CAST(mn AS DOUBLE) / 1000000.0, 6) AS min_cos_r
        FROM m
"""
ORACLES["evt_bot_regularity"] = """
        WITH g AS (
            SELECT user_id,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        ), m AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps,
                   SUM(gap_us::BIGINT) AS s,
                   SUM(gap_us::HUGEINT * gap_us::HUGEINT) AS ss
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY user_id
            HAVING COUNT(*) >= 5
        ), z AS (
            SELECT user_id, n_gaps, s,
                   CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
                   greatest(
                       CAST(ss AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
                       0.0) AS var
            FROM m
        )
        SELECT user_id, n_gaps,
               -- exact integer round-half-up of s/n microseconds,
               -- then one IEEE division (r13 sf0.1 boundary fix)
               CAST((2 * s + n_gaps) // (2 * n_gaps) AS DOUBLE)
                   / 1000000.0 AS mean_gap_s,
               CASE WHEN mean > 0
                    THEN ROUND(sqrt(var) / mean, 6) END AS cv_r,
               (CASE WHEN mean > 0
                     THEN ROUND(sqrt(var) / mean, 6) END) < 0.5
                   AS is_regular
        FROM z
"""
ORACLES["mm_audio_windows"] = """
        SELECT doc_id,
               CAST(u.i AS BIGINT) AS win_idx,
               CAST(u.i * 16 AS BIGINT) AS start_byte,
               CAST(list_sum(list_transform(
                   [substr(text, u.i * 16 + j, 1)
                    for j in generate_series(1, 32)],
                   ch -> ascii(ch))) AS BIGINT) AS byte_sum,
               md5(substr(text, u.i * 16 + 1, 32)) AS checksum
        FROM documents,
             unnest(generate_series(0, (length(text) - 32) // 16)) AS u(i)
        WHERE text IS NOT NULL AND length(text) >= 32
"""
ORACLES["docs_langid_audit"] = _langid_audit_sql()
# PCA projection: the power-iteration oracle is reused VERBATIM as a
# CTE (zero duplication — the eigenvector the projection replays is
# by construction the one emb_power_iteration verifies), collapsed to
# one ordered list and dotted against each embedding with the same
# left-fold ordering as _dot_sql.
ORACLES["emb_pq_error"] = _PQ_ERROR_SQL_TEMPLATE.format(
    pq=ORACLES["emb_pq_assign"]
)
ORACLES["emb_pca_project"] = (
    "WITH pit AS (" + ORACLES["emb_power_iteration"] + "),\n"
    "vv AS (SELECT list(v_r ORDER BY dim) AS v FROM pit)\n"
    "SELECT e.vec_id, e.label, ROUND("
    + " + ".join(
        f"vv.v[{i}] * CAST(e.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    + ", 6) AS pc1_r FROM embeddings e CROSS JOIN vv"
)
ORACLES["docs_length_outliers"] = """
        WITH docs AS (
            SELECT source, CAST(n_chars AS DOUBLE) AS nc
            FROM documents WHERE text IS NOT NULL
        ), g AS (
            SELECT source,
                   quantile_cont(nc, 0.05) AS p05,
                   quantile_cont(nc, 0.95) AS p95,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM docs GROUP BY source
        ), kept AS (
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM docs d JOIN g ON d.source = g.source
            WHERE d.nc >= g.p05 AND d.nc <= g.p95
            GROUP BY d.source
        )
        SELECT g.source, g.n_docs,
               ROUND(g.p05, 6) AS p05, ROUND(g.p95, 6) AS p95,
               COALESCE(kept.n_kept, 0) AS n_kept,
               ROUND(CAST(COALESCE(kept.n_kept, 0) AS DOUBLE)
                     / CAST(g.n_docs AS DOUBLE), 6) AS kept_share
        FROM g LEFT JOIN kept ON g.source = kept.source
"""

def q_ann_topk_ivfpq(spark, sf_dir):
    """End-to-end IVF-PQ ANN query path with ADC scoring (FAISS-style
    IVFPQ): coarse argmax-cosine cells prune the scan to nprobe=2 of
    16, candidates are scored purely from their 4 PQ codes against a
    per-query ADC lookup table (corpus floats untouched at query
    time), top-5 by approximate distance. Composes the fixed-seed
    coarse quantizer (cosine_topk_ivf_fixed's cell rule) with
    pq_assign_fixed's codebooks so the whole path replays bit-for-bit
    in SQL. Index build is a map-only projection (bucketed by cell at
    scale); scoring is one broadcast join + expression folds; the one
    shuffle is the per-query top-k window."""
    from idr_data_pipelines_spark.llmdata.similarity import ivfpq_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk_fixed(emb, emb.filter(F.col("vec_id") < 8))


def _ivfpq_sql(
    n_centroids: int = 16,
    n_queries: int = 8,
    n_subspaces: int = 4,
    dim: int = 64,
    nprobe: int = 2,
    k: int = 5,
) -> str:
    """SQL replay of ivfpq_topk_fixed: per-subspace squared-L2 chains
    in the emb_pq_assign fold order, cell/probe choice via the
    _COS_LR cosine with lowest-cid ties, ADC sum as the same
    left-associative 4-term chain, rank over the ROUNDED distance."""
    sub_d = dim // n_subspaces

    def sq(lo: int) -> str:
        # compact list_reduce fold, same left-assoc order as the old
        # unrolled chain — see _dot_sql's r08 map-bomb note
        return (
            f"list_reduce(list_transform(range({lo + 1}, {lo + sub_d + 1}), i -> "
            f"(CAST(l.embedding[CAST(i AS INT)] AS DOUBLE)"
            f" - CAST(r.embedding[CAST(i AS INT)] AS DOUBLE))"
            f" * (CAST(l.embedding[CAST(i AS INT)] AS DOUBLE)"
            f" - CAST(r.embedding[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x)"
        )

    # Every CTE here is AS MATERIALIZED: DuckDB inlines plain CTEs, and
    # inlining 8 window-over-cross-join CTEs into the 10-way `scored`
    # join explodes optimizer time (measured: 99 s for the scored CTE
    # at sf0.001 inlined vs 0.4 s materialized end-to-end).
    code_ctes = ",\n".join(
        f"""code{s} AS MATERIALIZED (
            SELECT vec_id, code FROM (
                SELECT l.vec_id AS vec_id, r.cid AS code,
                       row_number() OVER (PARTITION BY l.vec_id
                           ORDER BY {sq(s * sub_d)} ASC, r.cid ASC) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        )"""
        for s in range(n_subspaces)
    )
    adc_ctes = ",\n".join(
        f"""adc{s} AS MATERIALIZED (
            SELECT l.vec_id AS query_id, r.cid AS code,
                   {sq(s * sub_d)} AS d
            FROM q l CROSS JOIN cents r
        )"""
        for s in range(n_subspaces)
    )
    code_joins = "\n".join(
        f"            JOIN code{s} k{s} ON k{s}.vec_id = a.neighbor_id\n"
        f"            JOIN adc{s} a{s} ON a{s}.query_id = p.query_id "
        f"AND a{s}.code = k{s}.code"
        for s in range(n_subspaces)
    )
    adc_sum = "a0.d"
    for s in range(1, n_subspaces):
        adc_sum = f"({adc_sum} + a{s}.d)"
    return f"""
        WITH cents AS MATERIALIZED (
            SELECT vec_id AS cid, embedding FROM embeddings
            WHERE vec_id < {n_centroids}
        ), q AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {n_queries}
        ),
        {code_ctes},
        {adc_ctes},
        assigned AS MATERIALIZED (
            SELECT vec_id AS neighbor_id, cell FROM (
                SELECT l.vec_id AS vec_id, r.cid AS cell,
                       row_number() OVER (PARTITION BY l.vec_id
                           ORDER BY {{cos}} DESC, r.cid ASC) AS rn
                FROM embeddings l CROSS JOIN cents r
            ) WHERE rn = 1
        ),
        probes AS MATERIALIZED (
            SELECT query_id, cell FROM (
                SELECT l.vec_id AS query_id, r.cid AS cell,
                       row_number() OVER (PARTITION BY l.vec_id
                           ORDER BY {{cos}} DESC, r.cid ASC) AS rn
                FROM q l CROSS JOIN cents r
            ) WHERE rn <= {nprobe}
        ),
        scored AS MATERIALIZED (
            SELECT p.query_id AS query_id, a.neighbor_id AS neighbor_id,
                   ROUND({adc_sum}, 6) AS adc_r
            FROM assigned a
            JOIN probes p ON a.cell = p.cell
                         AND a.neighbor_id <> p.query_id
{code_joins}
        )
        SELECT query_id, neighbor_id, adc_r, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, neighbor_id, adc_r,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_r ASC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """.replace("{cos}", _COS_LR)


QUERIES["ann_topk_ivfpq"] = q_ann_topk_ivfpq
ORACLES["ann_topk_ivfpq"] = _ivfpq_sql()


def q_split_cluster_safe(spark, sf_dir):
    """Leakage-safe train/holdout split: near-duplicate documents
    NEVER straddle the split boundary. ``split_train_holdout`` alone
    hashes each doc_id independently, so two near-identical documents
    can land one in train and one in holdout — the eval-contamination
    failure mode Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") measure. Here the hash key is the
    document's dedup-cluster representative (min doc_id reachable
    through verified MinHash near-dup pairs; own id for singletons),
    the GroupShuffleSplit discipline applied corpus-scale.

    Plan shape at 100 TB: pair generation is the banded-LSH path
    (bucketed band join, never all-pairs); the transitive closure runs
    pointer-doubling over the CLUSTERED vertex set only (near-dups are
    sparse); the corpus then takes ONE left equi-join against that
    small map plus a pure hash projection — no extra corpus shuffle
    beyond the join itself. Split stability: a doc's split changes
    only if its cluster membership changes, and a fresh salt yields a
    fresh decorrelated split."""
    from idr_data_pipelines_spark.llmdata.dedup import (
        connected_components,
        minhash_md5_lsh_pairs,
    )
    from idr_data_pipelines_spark.llmdata.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_md5_lsh_pairs(
        docs, num_perm=16, bands=4, shingle_k=3, jaccard_threshold=0.5
    )
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    keyed = docs.select("doc_id").join(comp, "doc_id", "left")
    holdout = f"{hash_bucket('split_key', 1_000_000, 'split')} < 200000"
    return keyed.selectExpr(
        "doc_id",
        "coalesce(component, doc_id) AS split_key",
        "component IS NOT NULL AS is_clustered",
    ).selectExpr(
        "doc_id",
        "split_key",
        "is_clustered",
        f"CASE WHEN {holdout} THEN 'holdout' ELSE 'train' END AS split",
    )


def q_ann_ivfpq_recall(spark, sf_dir):
    """Recall@5 of the IVF-PQ ADC path against exact brute-force
    ground truth — the eval that closes the ANN quality matrix
    (`ann_recall_eval` scores the float IVF probe; this scores the
    further loss from 4-byte PQ quantization on top of the same
    coarse pruning). You don't ship a quantized index without this
    number: ADC distance error can reorder near neighbors even when the
    probe finds the right cells. Same scale shape as
    `ann_recall_eval`: bounded query sample, brute-force side is the
    one justified all-pairs baseline, index side is the production
    probe plan; hit counting is an exact integer left-join aggregate."""
    from idr_data_pipelines_spark.llmdata.similarity import ivfpq_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    gt = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ap = ivfpq_topk_fixed(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        gt.join(ap, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"))
        .select(
            "query_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.col("n_hits") / F.lit(5.0), 6).alias("recall_r"),
        )
    )


def q_evt_did_readout(spark, sf_dir):
    """Difference-in-differences experiment readout: the causal
    contrast when treatment and control differ BEFORE the
    intervention — DiD = (treat_post − treat_pre) − (ctrl_post −
    ctrl_pre) nets out both the stable arm gap and the common time
    trend (Card & Krueger 1994's design). Arms reuse evt_ab_test's
    deterministic md5 assignment, the period cutoff is evt_ab_cuped's
    as-of; every cell moment is an exact e6-integer sum (order-free),
    so the whole readout is ONE pass over events collapsing to a
    single row of eight conditional aggregates — no shuffle beyond
    the global agg, trivially parallel at any scale."""
    e = _events(spark, sf_dir)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    v6 = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    treat = _ab_parity() == 1
    pre = F.col("ts") < cutoff

    def cell(p, t):
        cond = (pre if p else ~pre) & (treat if t else ~treat)
        return (
            F.sum(F.when(cond, v6).otherwise(0)),
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint"),
        )

    (s_cp, n_cp), (s_co, n_co) = cell(True, False), cell(False, False)
    (s_tp, n_tp), (s_to, n_to) = cell(True, True), cell(False, True)
    agg = e.agg(
        s_cp.alias("s_cp"), n_cp.alias("n_ctrl_pre"),
        s_co.alias("s_co"), n_co.alias("n_ctrl_post"),
        s_tp.alias("s_tp"), n_tp.alias("n_treat_pre"),
        s_to.alias("s_to"), n_to.alias("n_treat_post"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double") / 1000000.0

    m_cp, m_co = mean("s_cp", "n_ctrl_pre"), mean("s_co", "n_ctrl_post")
    m_tp, m_to = mean("s_tp", "n_treat_pre"), mean("s_to", "n_treat_post")
    return agg.select(
        "n_ctrl_pre", "n_ctrl_post", "n_treat_pre", "n_treat_post",
        F.round(m_cp, 6).alias("mean_ctrl_pre_r"),
        F.round(m_co, 6).alias("mean_ctrl_post_r"),
        F.round(m_tp, 6).alias("mean_treat_pre_r"),
        F.round(m_to, 6).alias("mean_treat_post_r"),
        F.round((m_to - m_tp) - (m_co - m_cp), 6).alias("did_r"),
    )


QUERIES["evt_did_readout"] = q_evt_did_readout
ORACLES["evt_did_readout"] = """
        WITH base AS (
            SELECT CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v6,
                   ts < TIMESTAMP '2024-01-16' AS pre,
                   CAST(('0x' || substring(
                       md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 2 = 1 AS treat
            FROM events
        ), a AS (
            SELECT
                SUM(CASE WHEN pre AND NOT treat THEN v6 ELSE 0 END) AS s_cp,
                CAST(SUM(CASE WHEN pre AND NOT treat THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_ctrl_pre,
                SUM(CASE WHEN NOT pre AND NOT treat THEN v6 ELSE 0 END) AS s_co,
                CAST(SUM(CASE WHEN NOT pre AND NOT treat THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_ctrl_post,
                SUM(CASE WHEN pre AND treat THEN v6 ELSE 0 END) AS s_tp,
                CAST(SUM(CASE WHEN pre AND treat THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_treat_pre,
                SUM(CASE WHEN NOT pre AND treat THEN v6 ELSE 0 END) AS s_to,
                CAST(SUM(CASE WHEN NOT pre AND treat THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_treat_post
            FROM base
        )
        SELECT n_ctrl_pre, n_ctrl_post, n_treat_pre, n_treat_post,
               ROUND(CAST(s_cp AS DOUBLE) / CAST(n_ctrl_pre AS DOUBLE)
                     / 1000000.0, 6) AS mean_ctrl_pre_r,
               ROUND(CAST(s_co AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE)
                     / 1000000.0, 6) AS mean_ctrl_post_r,
               ROUND(CAST(s_tp AS DOUBLE) / CAST(n_treat_pre AS DOUBLE)
                     / 1000000.0, 6) AS mean_treat_pre_r,
               ROUND(CAST(s_to AS DOUBLE) / CAST(n_treat_post AS DOUBLE)
                     / 1000000.0, 6) AS mean_treat_post_r,
               ROUND((CAST(s_to AS DOUBLE) / CAST(n_treat_post AS DOUBLE)
                      / 1000000.0
                      - CAST(s_tp AS DOUBLE) / CAST(n_treat_pre AS DOUBLE)
                        / 1000000.0)
                     - (CAST(s_co AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE)
                        / 1000000.0
                        - CAST(s_cp AS DOUBLE) / CAST(n_ctrl_pre AS DOUBLE)
                          / 1000000.0), 6) AS did_r
        FROM a
"""


# Benford expected first-digit shares, computed ONCE driver-side and
# injected as identical literals into the Spark query and the SQL
# oracle — engine libm log10 could differ in the last ulp at a 6dp
# rounding boundary, a divergence literals cannot have.
_BENFORD_E6: dict[int, float] = {
    d: round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)
}


def q_orders_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen (Benford 1938; standard in fraud and
    data-quality review): naturally occurring multiplicative amounts
    put ~30.1% of leading digits at 1, falling to 4.6% at 9, and a
    synthetic or truncated feed shows up as deviation from that
    curve. One scan-agg to 9 digit rows; shares ride a window over
    the COLLAPSED 9-row frame; expected shares are injected literals
    (identical in the oracle, see _BENFORD_E6)."""
    o = _t(spark, sf_dir, "orders")
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("string"), "[1-9]", 0
    ).cast("int")
    counts = (
        o.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy()
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_E6.items() for x in kv]
    )[F.col("digit")]
    share = F.col("n").cast("double") / F.sum("n").over(total).cast("double")
    return counts.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(share, 6).alias("share_r"),
        expected.alias("expected_r"),
        F.round(F.abs(F.round(share, 6) - expected), 6).alias("abs_dev_r"),
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {_BENFORD_E6[d]!r}" for d in range(1, 10)
)
QUERIES["orders_benford_audit"] = q_orders_benford_audit
ORACLES["orders_benford_audit"] = f"""
        WITH c AS (
            SELECT CAST(regexp_extract(
                       CAST(o_totalprice AS VARCHAR), '[1-9]') AS INT)
                       AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders WHERE o_totalprice > 0 GROUP BY 1
        )
        SELECT digit, n,
               ROUND(CAST(n AS DOUBLE)
                     / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share_r,
               CASE digit {_BENFORD_CASE} END AS expected_r,
               ROUND(ABS(ROUND(CAST(n AS DOUBLE)
                               / CAST(SUM(n) OVER () AS DOUBLE), 6)
                         - CASE digit {_BENFORD_CASE} END), 6) AS abs_dev_r
        FROM c
"""


def q_evt_attribution_markov(spark, sf_dir):
    """Markov removal-effect attribution (Anderl et al. 2016): per
    channel, how much total conversion probability disappears when
    the channel is removed from the first-order journey chain — the
    data-driven credit model beside `evt_attribution`'s last-touch
    rule. One user-key window + one bounded |states|² count; the
    absorption iterations run on the collected (model-sized)
    transition matrix in integer e6 fixed-point, so the SQL oracle
    replays every value exactly with unrolled iteration CTEs.

    NOTE: like the fixed-seed centroid family, building this query
    EXECUTES the distributed part (window + count + bounded collect)
    — the returned frame is the driver-fit report, so plan-only
    sweeps (the lint gate) see a LocalRelation, not the window
    shuffle. The scale contract is therefore documented here and
    measured in BENCH_SCALE.md (~1.3× wall at 10× events) rather
    than linted."""
    from idr_data_pipelines_spark.streaming.events import (
        markov_removal_attribution,
    )

    e = _events(spark, sf_dir)
    return markov_removal_attribution(e, n_iter=32)


def _markov_attr_sql(n_iter: int = 32, conversion: str = "purchase") -> str:
    """SQL replay of markov_removal_attribution: identical journey
    construction (row_number ties on event_id, first-conversion cut,
    START/CONV/NULL sentinels), identical integer e6 fixed-point —
    transition probs (n·1e6 + tot//2)//tot, per-iteration re-round
    (Σ + 5e5)//1e6 — iterated as ``n_iter`` unrolled CTEs over a
    (removal-scenario × state) grid. Integer sums are order-free, so
    no float-fold order can diverge; the two final ratios are the
    same ROUND(double/double, 6) both engines share."""
    its = []
    prev = "it0"
    for i in range(1, n_iter + 1):
        its.append(f"""it{i} AS MATERIALIZED (
            SELECT g.rm, g.state,
                   CAST((SUM(p.pe6 * CASE
                         WHEN p.t = 'CONV' THEN 1000000
                         WHEN p.t = 'NULL' OR p.t = g.rm THEN 0
                         ELSE COALESCE(pb.p, 0) END) + 500000)
                        // 1000000 AS BIGINT) AS p
            FROM grid g
            JOIN p ON p.f = g.state
            LEFT JOIN {prev} pb ON pb.rm = g.rm AND pb.state = p.t
            GROUP BY g.rm, g.state
        )""")
        prev = f"it{i}"
    iter_ctes = ",\n".join(its)
    return f"""
        WITH seq AS MATERIALIZED (
            SELECT user_id AS u, event_type AS state,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS pos
            FROM events
        ), conv AS MATERIALIZED (
            SELECT u, MIN(pos) AS cpos FROM seq
            WHERE state = '{conversion}' GROUP BY u
        ), users AS MATERIALIZED (
            SELECT DISTINCT u FROM seq
        ), states AS MATERIALIZED (
            SELECT s.u, s.pos, s.state
            FROM seq s LEFT JOIN conv c USING (u)
            WHERE c.cpos IS NULL OR s.pos < c.cpos
            UNION ALL
            SELECT u, 0, 'START' FROM users
            UNION ALL
            SELECT us.u, 4611686018427387904,
                   CASE WHEN c.u IS NULL THEN 'NULL' ELSE 'CONV' END
            FROM users us LEFT JOIN conv c USING (u)
        ), tr AS MATERIALIZED (
            SELECT state AS f,
                   lead(state) OVER (PARTITION BY u ORDER BY pos) AS t
            FROM states
        ), cnt AS MATERIALIZED (
            SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
            FROM tr WHERE t IS NOT NULL GROUP BY 1, 2
        ), tot AS MATERIALIZED (
            SELECT f, CAST(SUM(n) AS BIGINT) AS tot FROM cnt GROUP BY f
        ), p AS MATERIALIZED (
            SELECT c.f, c.t,
                   (c.n * 1000000 + tot.tot // 2) // tot.tot AS pe6
            FROM cnt c JOIN tot USING (f)
        ), chan AS MATERIALIZED (
            SELECT f AS ch FROM tot WHERE f <> 'START'
        ), grid AS MATERIALIZED (
            SELECT r.rm, s.state
            FROM (SELECT '__none__' AS rm UNION ALL SELECT ch FROM chan) r
            CROSS JOIN (SELECT ch AS state FROM chan
                        UNION ALL SELECT 'START') s
        ), it0 AS MATERIALIZED (
            SELECT rm, state, CAST(0 AS BIGINT) AS p FROM grid
        ),
        {iter_ctes},
        base AS MATERIALIZED (
            SELECT p FROM {prev} WHERE rm = '__none__' AND state = 'START'
        ), drops AS MATERIALIZED (
            SELECT c.ch, (SELECT p FROM base) - i.p AS dr
            FROM chan c JOIN {prev} i ON i.rm = c.ch AND i.state = 'START'
        ), td AS (
            SELECT CAST(SUM(dr) AS BIGINT) AS td FROM drops
        )
        SELECT d.ch AS channel,
               t.tot AS n_touches,
               CASE WHEN b.p > 0 THEN
                   ROUND(CAST(d.dr AS DOUBLE) / CAST(b.p AS DOUBLE), 6)
               END AS removal_effect_r,
               CASE WHEN td.td > 0 THEN
                   ROUND(CAST(d.dr AS DOUBLE) / CAST(td.td AS DOUBLE), 6)
               END AS attribution_share_r
        FROM drops d
        JOIN tot t ON t.f = d.ch
        CROSS JOIN base b CROSS JOIN td
    """


QUERIES["evt_attribution_markov"] = q_evt_attribution_markov
ORACLES["evt_attribution_markov"] = _markov_attr_sql()


def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit over quasi-identifiers — the
    privacy gate a dataset with person-level attributes passes before
    release (Sweeney 2002; Machanavajjhala et al. 2007): every
    (nation, market-segment) quasi-identifier group reports its
    member count (k-anonymous iff ≥ 5 — a group of 2 means those two
    customers are mutually re-identifiable from the published
    attributes alone) and the number of distinct sensitive values it
    contains (account-balance thousands-bucket; l-diverse iff ≥ 2 —
    a k-anonymous group whose members all share one sensitive value
    still leaks it). ONE groupBy shuffle on the QI key; both flags
    are exact integer comparisons, so the audit is a trivially
    parallel scan-agg at any corpus size."""
    cust = _t(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct(sens).alias("n_sensitive"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n_members").cast("bigint").alias("n_members"),
            (F.col("n_members") >= 5).alias("k_anonymous"),
            F.col("n_sensitive").cast("bigint").alias("n_sensitive"),
            (F.col("n_sensitive") >= 2).alias("l_diverse"),
        )
    )


QUERIES["privacy_k_anonymity"] = q_privacy_k_anonymity
ORACLES["privacy_k_anonymity"] = """
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               COUNT(*) >= 5 AS k_anonymous,
               CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                    AS BIGINT) AS n_sensitive,
               COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) >= 2
                   AS l_diverse
        FROM customer GROUP BY c_nationkey, c_mktsegment
"""


QUERIES["ann_ivfpq_recall"] = q_ann_ivfpq_recall
ORACLES["ann_ivfpq_recall"] = f"""
        WITH exact AS (
            SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id
            FROM embeddings l JOIN embeddings r ON l.vec_id != r.vec_id
            WHERE l.vec_id < 8
            QUALIFY row_number() OVER (
                PARTITION BY l.vec_id
                ORDER BY {{cos}} DESC, r.vec_id ASC
            ) <= 5
        ), ap AS (
            {_ivfpq_sql()}
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
               ROUND(COUNT(a.neighbor_id) / 5.0, 6) AS recall_r
        FROM exact e LEFT JOIN ap a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
""".replace("{cos}", _COS_LR)


QUERIES["split_cluster_safe"] = q_split_cluster_safe
ORACLES["split_cluster_safe"] = f"""
        WITH RECURSIVE mh AS ({_minhash_md5_sql(16, 4, 3, 0.5)}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM mh
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM mh
        ), reach(id, r) AS (
            SELECT a, a FROM edges GROUP BY a
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
        ), comp AS (
            SELECT id, MIN(r) AS component FROM reach GROUP BY id
        ), keyed AS (
            SELECT d.doc_id,
                   COALESCE(comp.component, d.doc_id) AS split_key,
                   comp.id IS NOT NULL AS is_clustered
            FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
        )
        SELECT doc_id, split_key, is_clustered,
               -- no-ELSE form, lockstep with split_train_holdout's
               -- r12 null-key contract (split_key is non-null here by
               -- the COALESCE, so values are unchanged)
               CASE WHEN CAST(('0x' || substring(
                         md5('split' || CAST(split_key AS VARCHAR)), 1, 15))
                         AS BIGINT) % 1000000 < 200000
                    THEN 'holdout'
                    WHEN CAST(('0x' || substring(
                         md5('split' || CAST(split_key AS VARCHAR)), 1, 15))
                         AS BIGINT) % 1000000 >= 200000
                    THEN 'train' END AS split
        FROM keyed
"""


NO_ORACLE: frozenset[str] = frozenset()
# EMPTY since r11: every registry entry now carries a value-hash
# oracle. The ten formerly rows-only entries (xxhash64 minhash/simhash/
# winnowing, DataSketches HLL x3, GK quantiles, Misra-Gries, k-means
# IVF, best-fit packing) are registered through invariant-summary
# forms — the full algorithm runs, then reduces to exact BIGINT counts
# plus 0/1 contract flags whose expected values DuckDB derives from
# the input alone (see the "invariant-summary forms" section above).
# Their deterministic md5/fixed twins (dedup_minhash_md5,
# dedup_simhash_md5, text_winnow_md5, sketch_hll_md5,
# evt_distinct_stream_md5, ann_topk_ivf_fixed, sketch_count_min,
# ann_topk_quantized) continue to value-hash-verify the complete row
# sets of the same pipelines, and the fold-order/accuracy properties
# stay pinned in pytest. The set object survives (empty) because the
# registry partition contract — ORACLES | NO_ORACLE == QUERIES,
# disjoint — is pinned by tests/test_registry.py and the rotation
# tool consults it.


# ------------------------------------------------------------------ r10
# Oracle self-cap policy (VERDICT r09 item 2; graduated from the r09
# ``expr_extract`` experiment, which the driver hash-matched — proof
# that the driver executes multi-statement oracle SQL). Every oracle
# carries its own ``SET memory_limit``, which closes the r08 OOM class
# structurally in ANY driver topology:
#
# - DuckDB's buffer manager allocates 256 KB blocks that glibc serves
#   as one mmap each; an uncapped multi-GB spike costs tens of
#   thousands of memory mappings and races the kernel's
#   vm.max_map_count (65,530) — the r08 failure that err'd 30/50
#   window slots. A 2 GB cap bounds any single oracle to ~8k blocks;
#   the largest sf0.01 oracle peaks well under 1 GB (measured,
#   tests/oracle_harness.py), so the cap never binds a correct oracle.
# - Connection-state leakage (ADVICE r09) is moot by construction:
#   whether the driver uses one shared connection or one per oracle,
#   every oracle re-asserts the same cap, so there is no state an
#   earlier oracle can leak that the next one doesn't overwrite.
#   (A trailing RESET was considered and rejected — it would rely on
#   unspecified which-statement-returns-the-result semantics.)
#
# The CI gates stay honest: tools/window_sweep.py RESETs per oracle
# and then executes the oracle, whose embedded SET re-applies — so
# the sweep measures exactly what any driver process experiences.
# ------------------------------------------------------------------ r11
# Invariant-summary oracles for the formerly rows-only entries: the
# Spark side runs the full seeded/sketch/sequential algorithm and
# reduces to exact counts + contract flags; the oracle derives the
# SAME values from the input alone. A flag literal CAST(1 AS BIGINT)
# is only trivially matchable in isolation — every oracle below also
# recomputes at least one exact input-derived anchor (counts, token
# mass, planted-duplicate pair totals), so a broken operator flips a
# flag OR shifts an anchor and the driver row goes red either way.
ORACLES["pack_bestfit"] = """
    WITH toks AS (
        SELECT source,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[\\t\\n\\v\\f\\r ]+')) END
                    AS BIGINT) AS n_tok
        FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_packed,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
           CAST(0 AS BIGINT) AS over_capacity_bins,
           CAST(0 AS BIGINT) AS shared_oversized_bins,
           CAST(1 AS BIGINT) AS fill_bound_ok,
           CAST(0 AS BIGINT) AS dup_docs
    FROM toks GROUP BY source
"""
ORACLES["ann_topk_ivf"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_queries,
           CAST(1 AS BIGINT) AS rank_contract_ok,
           CAST(1 AS BIGINT) AS cosine_sorted_ok,
           CAST(1 AS BIGINT) AS cosine_range_ok,
           CAST(1 AS BIGINT) AS no_self_ok,
           CAST(1 AS BIGINT) AS top1_bounded_ok,
           -- output-side anchor: every probe query returns >= 1
           -- neighbor (its own cell minus self is non-empty at this
           -- scale); an all-empty IVF output flips this to 0 on the
           -- Spark side instead of coalescing to vacuous truth
           CAST(1 AS BIGINT) AS all_queries_answered_ok
    FROM embeddings WHERE vec_id < 8
"""
ORACLES["dedup_minhash_lsh"] = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        -- re-key offset = max(doc_id)+1, lockstep with the Spark
        -- planting (a fixed literal collides with real ids at scale)
        SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
        FROM documents
        WHERE text IS NOT NULL AND doc_id % 10 = 0
    ), grp AS (
        SELECT COUNT(*) AS c FROM corpus
        GROUP BY md5(lower(trim(regexp_replace(text, '[\\t\\n\\v\\f\\r ]+', ' ', 'g'))))
    )
    SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT)
               AS exact_dup_pairs_found,
           CAST(1 AS BIGINT) AS canonical_ok,
           CAST(1 AS BIGINT) AS pairs_unique_ok,
           CAST(1 AS BIGINT) AS jaccard_range_ok
    FROM grp
"""
ORACLES["dedup_simhash"] = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        -- re-key offset = max(doc_id)+1, lockstep with the Spark
        -- planting (a fixed literal collides with real ids at scale)
        SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
        FROM documents
        WHERE text IS NOT NULL AND doc_id % 10 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_sigs,
           CAST(1 AS BIGINT) AS null_iff_null_text_ok,
           CAST(1 AS BIGINT) AS consistent_ok
    FROM corpus
"""
ORACLES["text_winnow_fingerprint"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_fingerprinted,
           CAST(1 AS BIGINT) AS fp_bound_ok
    FROM documents
"""
ORACLES["sketch_approx_distinct"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS within_5pct
    FROM events GROUP BY event_type
"""
ORACLES["sketch_quantiles"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(1 AS BIGINT) AS p50_ok,
           CAST(1 AS BIGINT) AS p95_ok,
           CAST(1 AS BIGINT) AS p99_ok
    FROM orders GROUP BY o_orderpriority
"""
ORACLES["sketch_hll_union"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS within_5pct
    FROM events
"""
ORACLES["sketch_topk_mg"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(1 AS BIGINT) AS k_returned_ok,
           CAST(1 AS BIGINT) AS underestimate_ok,
           CAST(1 AS BIGINT) AS bound_ok
    FROM events WHERE user_id IS NOT NULL
"""
ORACLES["evt_distinct_stream"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS within_5pct
    FROM events GROUP BY event_type
"""


def _sem_exact_oracle(th: float) -> str:
    """Exact semantic-decontamination oracle at threshold ``th`` —
    th=0.8 is the registry twin; the recall eval re-instantiates both
    twins at a data-splitting threshold."""
    return f"""
    WITH bench AS (
        SELECT embedding FROM embeddings
        WHERE vec_id < 8 AND embedding IS NOT NULL
    ), corpus AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8
    ), scored AS (
        SELECT c.vec_id,
               {_dot_sql('c.embedding', 'b.embedding')}
                   / ({_norm_sql('c.embedding')} * {_norm_sql('b.embedding')})
                   AS cos
        FROM corpus c LEFT JOIN bench b ON TRUE
    )
    SELECT vec_id,
           ROUND(MAX(cos), 6) AS max_cos_r,
           CAST(SUM(CASE WHEN cos >= {th} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bench_hits,
           COALESCE(MAX(cos) >= {th}, FALSE) AS contaminated
    FROM scored GROUP BY vec_id
"""


ORACLES["decontaminate_semantic"] = _sem_exact_oracle(0.8)

# The bucketed twin replays candidate generation too: the same
# integer-exact 6-bit sign-LSH bucket split into 2 bands of 3 bits
# (band 0 = bucket % 8, band 1 = (bucket // 8) % 8), LEFT equi-join
# on the band key, exact cosine on candidates only, distinct-hit
# rollup (a pair colliding in both bands scores twice, counts once).
def _sem_bucketed_oracle(th: float) -> str:
    """Bucketed semantic-decontamination oracle at threshold ``th``
    (see _sem_exact_oracle)."""
    return f"""
    WITH cb AS (
        SELECT vec_id, embedding,
               {_int_lsh_bucket_sql('embedding')} AS bucket
        FROM embeddings WHERE vec_id >= 8 AND embedding IS NOT NULL
    ), bb AS (
        SELECT vec_id, embedding,
               {_int_lsh_bucket_sql('embedding')} AS bucket
        FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL
    ), cbands AS (
        SELECT vec_id, embedding, 0 AS band_idx, bucket % 8 AS band_key
        FROM cb
        UNION ALL
        SELECT vec_id, embedding, 1, (bucket // 8) % 8 FROM cb
    ), bbands AS (
        SELECT vec_id, embedding, 0 AS band_idx, bucket % 8 AS band_key
        FROM bb
        UNION ALL
        SELECT vec_id, embedding, 1, (bucket // 8) % 8 FROM bb
    ), scored AS (
        SELECT l.vec_id, r.vec_id AS bid, {_COS_LR} AS cos
        FROM cbands l LEFT JOIN bbands r
          ON l.band_idx = r.band_idx AND l.band_key = r.band_key
    )
    SELECT vec_id,
           ROUND(MAX(cos), 6) AS max_cos_r,
           CAST(COUNT(DISTINCT CASE WHEN cos >= {th} THEN bid END)
                AS BIGINT) AS n_bench_hits,
           COALESCE(MAX(cos) >= {th}, FALSE) AS contaminated
    FROM scored GROUP BY vec_id
    UNION ALL
    SELECT vec_id, CAST(NULL AS DOUBLE), CAST(0 AS BIGINT), FALSE
    FROM embeddings WHERE vec_id >= 8 AND embedding IS NULL
"""


ORACLES["decontaminate_semantic_bucketed"] = _sem_bucketed_oracle(0.8)

# duplicate-span removal: 1-based positional 5-grams (md5 identity),
# df>=2 grams expand to covered token positions, anti-join keeps the
# survivors, string_agg(ORDER BY position) rebuilds the text — the
# same removal decision and rebuilt strings as the Spark HOF filter.
ORACLES["dedup_remove_spans"] = """
    WITH toks AS (
        -- NULL text passes through with NULL outputs (operator
        -- contract, r14): t stays NULL, the unnest CTEs drop the row
        -- from the gram machinery, and the final CASEs project NULLs
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL
                    ELSE regexp_split_to_array(lower(trim(text)), '[\\t\\n\\v\\f\\r ]+')
               END AS t
        FROM documents
    ), pg AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(t) - 5 + 2, 1)),
            i -> struct_pack(p := i,
                             g := md5(array_to_string(t[i:i+4], ' '))))) AS s
        FROM toks
    ), pge AS (
        SELECT doc_id, s.p AS p, s.g AS g FROM pg
    ), dup AS (
        SELECT g FROM pge GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ), remtok AS (
        SELECT DISTINCT doc_id, j FROM (
            SELECT doc_id, unnest(range(p, p + 5)) AS j
            FROM pge WHERE g IN (SELECT g FROM dup))
    ), tp AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
            j -> struct_pack(j := j, tok := t[j]))) AS s
        FROM toks
    ), tpe AS (
        SELECT doc_id, s.j AS j, s.tok AS tok FROM tp
    ), kept AS (
        SELECT tpe.doc_id,
               string_agg(tpe.tok, ' ' ORDER BY tpe.j) AS cleaned_text,
               COUNT(*) AS n_kept
        FROM tpe ANTI JOIN remtok USING (doc_id, j)
        GROUP BY tpe.doc_id
    )
    SELECT toks.doc_id,
           CASE WHEN toks.t IS NULL THEN NULL
                ELSE COALESCE(kept.cleaned_text, '') END AS cleaned_text,
           CAST(len(toks.t) AS BIGINT) AS n_tokens,
           CASE WHEN toks.t IS NULL THEN NULL
                ELSE CAST(len(toks.t) - COALESCE(kept.n_kept, 0) AS BIGINT)
           END AS n_removed
    FROM toks LEFT JOIN kept USING (doc_id)
"""

# recall eval composes the two twins' full oracle SQL (captured here
# BEFORE the self-cap rewrite) — the driver verifies the recall value
ORACLES["decontaminate_semantic_recall"] = f"""
    WITH e AS ({_sem_exact_oracle(0.3)}),
    b AS ({_sem_bucketed_oracle(0.3)}),
    j AS (
        SELECT e.contaminated AS ec, b.contaminated AS bc
        FROM e JOIN b USING (vec_id)
    ), a AS (
        SELECT CAST(SUM(CASE WHEN ec THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_flagged,
               CAST(SUM(CASE WHEN bc THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bucketed_flagged,
               CAST(SUM(CASE WHEN ec AND bc THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_caught
        FROM j
    )
    SELECT n_exact_flagged, n_bucketed_flagged, n_caught,
           CASE WHEN n_exact_flagged > 0
                THEN ROUND(CAST(n_caught AS DOUBLE)
                           / CAST(n_exact_flagged AS DOUBLE), 6)
                END AS recall_r
    FROM a
"""


_ORACLE_SELF_CAP = "SET memory_limit='2GB';"
ORACLES = {
    name: f"{_ORACLE_SELF_CAP}\n{sql}" for name, sql in ORACLES.items()
}


# --- driver-window rotation epilogue (tools/rotate_window.py)
# r14: promote the staged picks into the driver window;
# every other entry keeps its literal order below them.
_WINDOW_R14 = [
    "dedup_remove_spans",
    "decontaminate_semantic_recall",
    "supplier_share_of_nation",
    "text_bm25_topk",
    "text_bpe_pairs",
    "text_chunk_windows",
    "text_dup_chunk_ratio",
    "text_rake_keywords",
    "text_tfidf_topterm",
    "window_ffill",
    "window_range_frame",
    "agg_pivot_sum_case",
    "ann_recall_eval",
    "dedup_minhash_estimate",
    "emb_covariance",
    "emb_hard_negatives",
    "emb_ivf_stats",
    "emb_knn_graph",
    "emb_label_agreement",
    "emb_matryoshka_truncate",
    "emb_norm_outliers",
    "emb_pca_project",
    "emb_power_iteration",
    "emb_pq_assign",
    "emb_pq_error",
    "emb_random_project",
    "emb_sign_hamming",
    "evt_trigger_audit",
    "expr_datediff",
    "src_parquet_dir",
    "text_shared_ngrams",
    "ann_ivfpq_recall",
    "ann_topk_ivfpq",
    "corpus_shuffle_shards",
    "decontaminate_report",
    "dedup_cross_split_leakage",
    "dedup_keep_best",
    "dedup_minhash_clusters",
    "dedup_minhash_incremental",
    "docs_ccnet_buckets",
    "docs_dsir_weights",
    "docs_gopher_rules",
    "docs_langid_audit",
    "docs_length_outliers",
    "docs_ngram_novelty",
    "docs_remove_dup_chunks",
    "docs_source_overlap",
    "docs_zipf_lexical",
    "dq_expectations",
    "evt_ab_cuped",
]
QUERIES = {
    n: QUERIES[n]
    for n in _WINDOW_R14
    + [k for k in QUERIES if k not in set(_WINDOW_R14)]
}
# --- end rotation epilogue
