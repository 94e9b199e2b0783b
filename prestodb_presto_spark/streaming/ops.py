"""Streaming operators: windowed aggregation, sessionization, dedup.

Every transformation here is sink-agnostic and works on both a batch
DataFrame and a streaming one — the watermark is a no-op in batch, so
tests can assert stream(availableNow) == batch on the same input.

Scale posture: state size is bounded by (watermark horizon × key
cardinality); keys are (window, event_type) or user_id — the shuffle
partitioning of stateful operators follows those keys automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# long-nanos events schema — used by tests that stage their own parquet
# micro-batches with raw int64 ts values (the fixture's own schema is probed
# at runtime in read_events_stream; Spark ≥4.1 reads its TIMESTAMP(NANOS)
# column as timestamp_ntz, older Sparks as long via the legacy conf)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


_STREAM_DIRS: dict[str, str] = {}


def _stream_dir(sf_dir: str) -> str:
    """File-stream sources need a *directory*; stage one with a symlink to
    the fixture file (read-only testdata cannot be reorganized)."""
    if sf_dir not in _STREAM_DIRS:
        import os
        import tempfile

        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (ts truncated to micros).

    The fixture stores ts as TIMESTAMP(NANOS).  Older Sparks only read it
    via the nanosAsLong legacy conf (as raw long nanos); Spark ≥4.1
    ignores that conf and reads timestamp_ntz.  File streams need an
    explicit schema, so probe the footer with a batch read and normalize
    either shape to a micros TIMESTAMP.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir))
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, duration: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts+sums per event_type with late-data bound."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts (each event lands in duration/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based), the stateful session operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon
    (streaming dropDuplicatesWithinWatermark; plain dropDuplicates in batch)."""
    with_wm = events.withWatermark("ts", watermark)
    if events.isStreaming:
        return with_wm.dropDuplicatesWithinWatermark(["event_id"])
    return with_wm.dropDuplicates(["event_id"])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    before: str = "30 minutes",
    after: str = "0 seconds",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream (or batch) interval join: right rows with the same
    key whose timestamp falls in [left_ts - before, left_ts + after].

    In streaming both sides carry watermarks and the time-range join
    condition bounds state retention (Spark drops buffered rows older
    than watermark + interval) — the standard stream-stream equi+range
    join; in batch the watermark is a no-op and the same plan is a
    range-condition hash join.  Columns are prefixed l_/r_ to keep the
    output unambiguous.
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    l = lw.select(
        F.col(key).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[F.col(c2).alias(f"l_{c2}") for c2 in left.columns if c2 not in (key, left_ts)],
    )
    r = rw.select(
        F.col(key).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[F.col(c2).alias(f"r_{c2}") for c2 in right.columns if c2 not in (key, right_ts)],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {before}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {after}"))
    )
    return l.join(r, cond)


def enrich_with_dim(events: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static dimension enrichment: join a (possibly streaming)
    events frame against a static dimension table.

    Spark executes stream-static joins without state — the static side
    is (re)broadcast per micro-batch, so at 100 TB-of-stream scale the
    cost is the dim broadcast, never a shuffle of the stream.  This is
    the streaming twin of the reference's LookupJoin against a
    dimension scan; the batch twin is gated as `events_enrich_dim`.
    """
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, how)


def streaming_sketch_rollup(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    key: str = "event_type",
    value: str = "user_id",
) -> DataFrame:
    """Continuous distinct-count SKETCH rollup — the streaming twin of
    hll_sketch.approx_set_by_group: per (window, key), maintain the
    airlift-sketch PRE-AGGREGATE (prefix26, max value26) as an ordinary
    streaming aggregation, so a downstream batch job (or foreachBatch)
    can serialize each group's rows into an airlift-format sketch and
    merge windows later — exactly the pre-aggregate-hourly /
    roll-up-monthly pipeline, running continuously.

    Runs identically in batch (watermark is a no-op), which is how
    tests/test_streaming.py proves stream(availableNow) == batch ==
    the batch sketch builder's estimate.

    Scale posture: state per (window, key) is bounded at one int per
    distinct 26-bit hash prefix (<= 2^26, reached only by ~10^8-ndv
    groups) and evicts at the watermark horizon; the hash is the SQL
    path's clean-room murmur3 parity (a JVM session function for an
    integer value column, one Arrow-vectorized column otherwise);
    prefix/value are native bit expressions; the aggregation is a plain streaming
    max — no flatMapGroupsWithState, no custom state store.
    """
    from prestodb_presto_spark.functions.hll import entry_sql, prefix26_sql
    from prestodb_presto_spark.functions.hll_sketch import approx_set_hash_col

    hashed = (
        events.withWatermark("ts", watermark)
        .select(
            "ts",
            F.col(key).alias("key"),
            approx_set_hash_col(events.sparkSession, value).alias("__h"),
        )
        .select(
            "ts",
            "key",
            F.expr(prefix26_sql("__h")).alias("p26"),
            F.expr(entry_sql("__h")).alias("entry"),
        )
        .filter(F.col("entry").isNotNull())
    )
    return (
        hashed.groupBy(F.window("ts", duration).alias("w"), "key", "p26")
        .agg(F.max("entry").alias("entry"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "key",
            "p26",
            "entry",
        )
    )


def sketch_rows_to_estimates(rollup: DataFrame) -> DataFrame:
    """Finish streaming_sketch_rollup's pre-aggregate rows into
    per-(window, key) cardinality estimates (batch side / foreachBatch):
    the same estimator as the batch twins — linear counting while
    sparse, the HLL++ dense estimate past the cutoff."""
    import numpy as np
    import pandas as pd

    from prestodb_presto_spark.functions.hll import APPROX_SET_P
    from prestodb_presto_spark.functions.hll_sketch import (
        serialize_from_entries,
        cardinality_serialized,
    )

    def _finish(pdf: pd.DataFrame) -> pd.DataFrame:
        ent = np.sort(pdf["entry"].to_numpy(dtype=np.uint32))
        sk = serialize_from_entries(ent, APPROX_SET_P)
        return pd.DataFrame(
            {
                "window_start": [pdf["window_start"].iloc[0]],
                "key": [pdf["key"].iloc[0]],
                "n_distinct_est": [cardinality_serialized(sk)],
            }
        )

    return rollup.groupBy("window_start", "key").applyInPandas(
        _finish, "window_start long, key string, n_distinct_est long"
    )


def dedup_stream_against_index(
    docs_stream: DataFrame,
    index_table: str,
    corpus_table: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous-ingestion near-dup filtering: the streaming twin of
    the batch incremental dedup (text/minhash.check_batch), the pattern
    a 100 TB training-data pipeline runs as documents ARRIVE rather
    than nightly.

    Per micro-batch (foreachBatch):
      1. dedup within the batch itself (LSH + exact-Jaccard verify,
         lowest id wins — batches are micro, so this stays tiny);
      2. check survivors against the PERSISTED corpus index (band-
         bucket equi-join + exact verify on the candidate slice only —
         the corpus is never re-shingled);
      3. append unique docs to the parquet sink AND self-maintain the
         state: survivors' band rows append to the index and their text
         to the corpus table, so batch N+1 dedups against everything
         through batch N.

    The streaming index table appends per batch and is therefore plain
    (unbucketed) — the bucketed layout (write_dedup_index) is the
    snapshot-rebuild optimization; compact into it periodically.
    Exactly-once: foreachBatch replays a failed epoch, so every write
    must be replay-safe — the sink via epoch-tagged overwrite
    subdirectories, the state appends via an anti-join on ids already
    present, and the corpus check via a new_id != old_id guard (a
    replayed doc finds its own prior append and must not self-dup).

    Returns the StreamingQuery (availableNow semantics are the
    caller's choice via the source).
    """
    from prestodb_presto_spark.text.minhash import (
        build_dedup_index,
        check_batch,
        verified_near_dup_pairs,
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        # the micro-batch runs in a CLONED session; reads must go through
        # it (and refresh) — the previous epoch's appends invalidated the
        # clone-of-that-epoch's relation cache, not this one's
        spark = batch.sparkSession
        spark.catalog.refreshTable(index_table)
        spark.catalog.refreshTable(corpus_table)
        from prestodb_presto_spark.operators.materialize import (
            materialization_scope,
            materialize,
        )

        # r14 (ADVICE): every materialize() of this epoch — including the
        # ones nested inside the LSH operators — is tagged with an
        # epoch-unique owner scope, so the end-of-epoch release cannot
        # unpersist frames a concurrent pipeline of the SAME session is
        # still reading.
        scope_token = f"dedup-stream:{checkpoint}:{epoch_id}"
        with materialization_scope(scope_token):
            batch = materialize(batch)
            # (1) within-batch dedup: keep the lowest id of each dup pair
            intra = verified_near_dup_pairs(
                batch, threshold, id_col, text_col
            ).select(F.col("id_b").alias(id_col)).distinct()
            survivors = batch.join(intra, id_col, "left_anti")
            # (2) against the persisted index (+ corpus text for verify)
            index = spark.table(index_table)
            corpus = spark.table(corpus_table)
            # REPLAY SAFETY: if this epoch already ran partially (state
            # appended, checkpoint commit lost), the replayed batch's own
            # docs are in the corpus — new_id != old_id drops the
            # self-match (Jaccard 1.0) so the replay REPRODUCES the output
            # instead of marking every survivor a dup and overwriting the
            # epoch directory with an empty result
            dups = (
                check_batch(survivors, index, corpus, threshold, id_col, text_col)
                .filter(F.col("new_id") != F.col("old_id"))
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            keep = materialize(survivors.join(dups, id_col, "left_anti"))
            # (3) sink + self-maintaining state.  The sink is idempotent via
            # the epoch-tagged overwrite; the state appends are made
            # idempotent by anti-joining on ids already present, so a
            # replayed epoch never duplicates index/corpus rows
            keep.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
            fresh = materialize(
                keep.join(spark.table(corpus_table).select(id_col), id_col, "left_anti")
            )
            build_dedup_index(fresh, id_col, text_col).write.mode("append").saveAsTable(
                index_table
            )
            fresh.write.mode("append").saveAsTable(corpus_table)
        # r13 (ADVICE): under the persist strategy the frames above are
        # epoch-scoped — release them here or a long-running stream
        # accumulates executor/disk storage without bound (the
        # CacheManager holds strong refs; ContextCleaner cannot reclaim
        # them).  r14: release THIS epoch's scope only.
        from prestodb_presto_spark.operators.materialize import (
            release_materialized,
        )

        release_materialized(spark, scope=scope_token)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
