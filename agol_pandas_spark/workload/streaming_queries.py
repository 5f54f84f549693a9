"""Structured Streaming query surface (``streaming/windows.py``), run in
batch-equivalent mode: file-source stream → watermarked event-time window
agg → memory sink, drained with an ``availableNow`` trigger so the result
is deterministic and the batch SQL oracle applies.

The reference is batch-only (SURVEY §2b); this is north-star scope. The
same ``windowed_counts`` expression runs unchanged against a live
file-landing stream — ``availableNow`` is the standard backfill trigger.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.streaming.windows import (
    adaptive_state_partitions,
    scoped_shuffle_partitions,
    stream_from_directory,
    windowed_counts,
    write_stream_to_memory,
)
from agol_pandas_spark.workload import register


@register(
    "stream_tumbling_counts",
    tags=("streaming", "window", "events"),
    oracle="""
    SELECT (epoch_ms(ts) // 3600000) * 3600 AS window_start_s,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round((value) * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS total_value
    FROM events
    GROUP BY window_start_s, event_type
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows over the events table consumed
    as a file stream. Complete output mode + availableNow: every window is
    emitted once the source drains, so the batch oracle matches exactly.

    Scale shape: the streaming agg shuffles on (window, event_type) exactly
    like the batch agg; the 2-hour watermark bounds state in a live run.
    """
    cat = Catalog(spark, sf_dir)  # sets nanosAsLong/UTC session confs
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    # the file stream source consumes a landing DIRECTORY; the test corpus
    # is a single parquet file, so stage a symlink landing zone
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_landing_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))
    ev = stream_from_directory(spark, landing, schema)
    if isinstance(schema["ts"].dataType, T.LongType):
        # parquet TIMESTAMP(NANOS) arrives as long ns under nanosAsLong;
        # truncate to µs exactly like Catalog.table does for batch
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    wc = windowed_counts(ev, window_len="1 hour", watermark="2 hours")
    out = wc.select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "n_events",
        "total_value",
    )
    name = f"stream_wc_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = write_stream_to_memory(out, name, output_mode="complete")
    q.awaitTermination()
    return spark.table(name)


_SESSION_ORACLE = """
    WITH t AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM t
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sess_id
"""


@register(
    "events_session_window_agg",
    headline=True,
    tags=("streaming-compatible", "session-window", "events"),
    oracle=_SESSION_ORACLE,
)
def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-minute gap) in batch mode — the same
    ``F.session_window`` expression runs under Structured Streaming with a
    watermark. Session boundary: an event at exactly last_ts + gap starts
    a new session (windows are [start, last+gap))."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
        )
    )


@register(
    "stream_sessionize_stateful",
    tags=("streaming", "stateful", "applyInPandasWithState"),
    oracle=_SESSION_ORACLE,
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``) consuming the
    events file stream: gap sessionization with one open-session state row
    per user. Draining the finite corpus with availableNow yields exactly
    the batch sessionization, so the SQL oracle applies (closed flag is
    dropped: the final open session of each user is still a session)."""
    from agol_pandas_spark.streaming.stateful import sessionize_stateful

    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_sess_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))
    ev = stream_from_directory(spark, landing, schema)
    if isinstance(schema["ts"].dataType, T.LongType):
        ts_us = F.expr("ts div 1000")
    else:
        ts_us = F.unix_micros("ts")
    stream = ev.select("user_id", ts_us.alias("ts_us"))
    sessions = sessionize_stateful(stream.groupBy("user_id"))
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    # deliberately NOT byte-sized down like the other drains
    # (adaptive_state_partitions): this drain's cost is per-GROUP Python
    # compute in applyInPandasWithState, which parallelizes across
    # partitions — shrinking to input-byte-derived partitions serializes
    # the Python workers and measured 65-150% SLOWER (2.42 s at session
    # default vs 4.0-6.0 s at 1 partition); its state-store count is not
    # the bottleneck the byte-derivation exists to cut
    q = write_stream_to_memory(sessions, name, output_mode="update")
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.col("session_start_us"),
        "n_events",
    )


@register(
    "stream_interval_join_click_purchase",
    tags=("streaming", "stream-stream-join", "events"),
    oracle="""
    SELECT c.user_id,
           epoch_us(c.ts) AS click_us,
           c.event_id AS click_id,
           epoch_us(p.ts) AS purchase_us,
           p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join: purchases within 30 minutes of a
    click by the same user, both sides consumed as watermarked streams.
    The event-time range bound in the join condition is what bounds the
    buffered state (see ``streaming/joins.py``); draining the finite
    corpus with availableNow yields exactly the batch interval join, so
    the SQL oracle applies."""
    from agol_pandas_spark.streaming.joins import stream_interval_join

    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_ssj_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))

    # ONE stream source feeds both join sides (a supported stream-stream
    # self-join): the two-source formulation read and decoded the landing
    # files twice per micro-batch — 2x source input for identical rows
    # (guide §1.2: don't compute things twice)
    ev = stream_from_directory(spark, landing, schema)
    if isinstance(schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    def side(event_type: str, prefix: str) -> DataFrame:
        return ev.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
            F.col("event_id").alias(f"{prefix}_id"),
        )

    joined = stream_interval_join(
        side("click", "c"),
        side("purchase", "p"),
        equi_keys=F.col("c_user") == F.col("p_user"),
        left_ts="c_ts",
        right_ts="p_ts",
        interval="30 MINUTE",
        watermark="2 hours",
    )
    out = joined.select(
        F.col("c_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"),
        F.col("c_id").alias("click_id"),
        F.unix_micros("p_ts").alias("purchase_us"),
        F.col("p_id").alias("purchase_id"),
    )
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    # state partitions sized to the bounded landing dir (4 state stores
    # per partition for a stream-stream join, each with per-batch commit
    # latency); the session setting stays the ceiling at scale
    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = write_stream_to_memory(out, name, output_mode="append")
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_dedup_at_least_once",
    tags=("streaming", "dedup", "events"),
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round((value) * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_at_least_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup under at-least-once delivery
    (``streaming/windows.py:stream_dedup_within_watermark``): the landing
    directory holds the SAME events file twice (a simulated redelivery),
    so every record arrives exactly two times; ``dropDuplicatesWithinWatermark``
    on event_id admits each once, and the per-type totals equal the
    single-copy batch aggregation.

    State holds one 8-byte key per event inside the watermark horizon and
    is evicted as event time advances — bounded at any corpus size by the
    watermark, not the stream length.
    """
    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_dedup_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    # two links to one file = every record delivered twice
    os.symlink(os.path.abspath(path), os.path.join(landing, "events_a.parquet"))
    os.symlink(os.path.abspath(path), os.path.join(landing, "events_b.parquet"))
    ev = stream_from_directory(spark, landing, schema)
    if isinstance(schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    from agol_pandas_spark.streaming.windows import stream_dedup_within_watermark

    deduped = stream_dedup_within_watermark(
        ev, keys=["event_id"], ts_col="ts", watermark="2 hours"
    ).select("event_id", "event_type", "value")
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = write_stream_to_memory(deduped, name, output_mode="append")
    q.awaitTermination()
    sunk = spark.table(name)
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 10000).cast("long")).cast("double")
            / 10000.0
        ).alias("total_value"),
    )


@register(
    "stream_foreachbatch_upsert",
    tags=("streaming", "sink", "foreachBatch", "events"),
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS ts_us
    FROM (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merge sink (``streaming/sinks.py:stream_merge_into_catalog``):
    the events file stream upserts into a temp catalog table keyed by
    user_id via ``foreachBatch``, latest event winning *within* each batch
    before the merge (the upsert key must be unique per batch). Draining
    with availableNow leaves the table equal to the batch
    latest-event-per-user compaction, which the oracle computes directly —
    an end-to-end check of stream -> merge -> atomic table swap.

    Cross-batch caveat: plain upsert is last-WRITE-wins, so with multiple
    micro-batches an out-of-order source would need a ts-conditional merge
    to stay latest-EVENT-wins; the single-landing-file drain here is one
    batch, so the oracle holds exactly.
    """
    import shutil

    from agol_pandas_spark.operators.dedup import latest_wins_dedup

    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_fb_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))
    ev = stream_from_directory(spark, landing, schema)
    if isinstance(schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ev = ev.select("user_id", "event_id", "event_type", "ts")

    sink_root = tempfile.mkdtemp(prefix="stream_fb_cat_")
    sink_cat = Catalog(spark, sink_root)

    from agol_pandas_spark.streaming.sinks import stream_merge_into_catalog

    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = stream_merge_into_catalog(
            ev,
            sink_cat,
            "latest_events",
            key="user_id",
            prepare=lambda batch: latest_wins_dedup(
                batch, keys=["user_id"], ts_col="ts",
                tie_breakers=[F.col("event_id").desc()],
            ),
        )
    q.awaitTermination()
    out = sink_cat.table("latest_events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    # materialize before the temp catalog disappears
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(sink_root, ignore_errors=True)
    return out


@register(
    "stream_static_dim_join",
    tags=("streaming", "stream-static-join", "events"),
    oracle="""
    WITH type_dim(event_type, channel) AS (
      VALUES ('click', 'web'), ('view', 'web'),
             ('purchase', 'checkout'), ('signup', 'onboarding'),
             ('error', 'ops')
    )
    SELECT d.channel, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(e.value * 10000) AS BIGINT)) AS BIGINT)
               AS value_scaled
    FROM events e JOIN type_dim d ON e.event_type = d.event_type
    GROUP BY d.channel
    """,
)
def stream_static_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events file stream joins a
    static in-memory dimension (broadcast — the static side is planned
    per micro-batch like any batch join, no streaming state needed),
    then aggregates per channel in complete mode. Draining with
    availableNow equals the batch join, which the oracle computes. This
    is THE standard streaming enrichment shape: dimension tables stay
    static/slowly-refreshed, only facts stream.
    """
    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_dim_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))
    ev = stream_from_directory(spark, landing, schema)
    dim = spark.createDataFrame(
        [("click", "web"), ("view", "web"), ("purchase", "checkout"),
         ("signup", "onboarding"), ("error", "ops")],
        "event_type string, channel string",
    )
    joined = ev.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("value_scaled"),
    )
    name = f"stream_dim_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = write_stream_to_memory(agg, name, output_mode="complete")
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_paged_sink_upload",
    tags=("streaming", "sink", "paged", "connector"),
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM events GROUP BY event_type
    """,
)
def stream_paged_sink_upload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upload to a paged service
    (``streaming/sinks.py:stream_to_paged_sink``): the events file
    stream lands on a mock offset-paged sink via foreachBatch →
    ``write_paged`` — per-partition parallel batched uploads with
    executor-side retry, the streaming replacement for the reference's
    sequential driver chunk loop. The service's post-drain contents are
    read back and must reassemble the table exactly.
    """
    import glob
    import json as _json
    import shutil

    from agol_pandas_spark.sources.paged import RetryPolicy
    from agol_pandas_spark.sources.paged_mock import DirectoryJsonSink
    from agol_pandas_spark.streaming.sinks import stream_to_paged_sink

    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_ps_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))
    ev = stream_from_directory(spark, landing, schema).select(
        "event_id", "event_type"
    )
    svc_root = tempfile.mkdtemp(prefix="paged_svc_")
    # checkpoint is scoped to this drain-once run (the sink dir is also
    # temporary); a durable pipeline points both at stable storage
    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = stream_to_paged_sink(
            ev,
            DirectoryJsonSink(svc_root),
            checkpoint_dir=os.path.join(svc_root, "_ckpt"),
            page_size=1000,
            policy=RetryPolicy(max_attempts=3, max_backoff=0.01),
        )
    q.awaitTermination()
    rows = []
    for f in glob.glob(f"{svc_root}/batch_*.jsonl"):
        with open(f) as fh:
            rows.extend(tuple(_json.loads(line)) for line in fh)
    shutil.rmtree(svc_root, ignore_errors=True)
    uploaded = spark.createDataFrame(rows, "event_id long, event_type string")
    return uploaded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("id_checksum"),
    )


@register(
    "stream_drift_token_tv",
    tags=("streaming", "drift", "foreachBatch", "documents"),
    oracle=f"""
    WITH tok AS (
      SELECT source AS grp,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS token
      FROM documents),
    per AS (
      SELECT grp, token, COUNT(*) AS c FROM tok GROUP BY grp, token),
    gtok AS (SELECT token, CAST(SUM(c) AS BIGINT) AS c_all
             FROM per GROUP BY token),
    totals AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_grp
               FROM per GROUP BY grp),
    alln AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM per),
    terms AS (
      SELECT p.grp, t.n_grp, a.n_all - t.n_grp AS n_rest,
             g.c_all - p.c AS c_rest,
             abs(p.c * (a.n_all - t.n_grp) - (g.c_all - p.c) * t.n_grp)
                 AS term
      FROM per p
      JOIN gtok g ON g.token = p.token
      JOIN totals t ON t.grp = p.grp
      CROSS JOIN alln a),
    agg AS (
      SELECT grp, MAX(n_grp) AS n_grp, MAX(n_rest) AS n_rest,
             CAST(SUM(term) + (MAX(n_rest) - SUM(c_rest)) * MAX(n_grp)
                  AS BIGINT) AS tv_num
      FROM terms GROUP BY grp)
    SELECT grp AS source, n_grp, n_rest, tv_num,
           tv_num * 1000000 // (2 * n_grp * n_rest) AS tv_ppm
    FROM agg
    """,
)
def stream_drift_token_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental vocabulary-drift monitor: the documents corpus lands
    as THREE files consumed one per micro-batch (maxFilesPerTrigger=1);
    each batch's (source, token) partial counts APPEND into a state
    table via foreachBatch — counts are additive, so no read-modify-
    write — and after the drain the exact TV distance is computed from
    the compacted sums (``textops.token_tv_from_counts``). Because the
    final counts equal the batch counts regardless of how rows split
    into micro-batches, the batch SQL oracle holds exactly; the same
    topology runs unchanged against a live landing zone, recomputing
    drift after every batch.

    Scale shape: per-batch partial counts are map-side combined before
    the append (the state table grows by per-batch vocabulary, not
    corpus rows); compaction is one groupBy at read time.
    """
    import shutil

    from pyspark.sql import functions as F  # noqa: F811 - local clarity

    from agol_pandas_spark.functions.text import tokens as tok_fn
    from agol_pandas_spark.operators.textops import token_tv_from_counts

    cat = Catalog(spark, sf_dir)
    docs_path = cat.path("documents")
    schema = spark.read.parquet(docs_path).schema

    # stage a 3-file landing zone so availableNow drains 3 micro-batches
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_tv_{uuid.uuid4().hex[:8]}"
    )
    (
        spark.read.parquet(docs_path)
        .repartition(3)
        .write.mode("overwrite")
        .parquet(landing)
    )
    docs = stream_from_directory(spark, landing, schema)

    state_root = tempfile.mkdtemp(prefix="stream_tv_state_")

    def accumulate(batch_df, batch_id):
        counts = (
            batch_df.select(
                F.col("source"),
                F.explode(tok_fn(F.lower(F.col("text")))).alias("token"),
            )
            .groupBy("source", "token")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        counts.write.mode("append").parquet(
            os.path.join(state_root, "tok_counts")
        )

    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = (
            docs.writeStream.foreachBatch(accumulate)
            .option(
                "checkpointLocation", os.path.join(state_root, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()

    compacted = (
        spark.read.parquet(os.path.join(state_root, "tok_counts"))
        .groupBy("source", "token")
        .agg(F.sum("c").alias("c"))
    )
    out = token_tv_from_counts(compacted, "source").localCheckpoint(
        eager=True
    )
    shutil.rmtree(state_root, ignore_errors=True)
    shutil.rmtree(landing, ignore_errors=True)
    return out


@register(
    "stream_pruned_cdc_upsert",
    tags=("streaming", "sink", "foreachBatch", "prune", "copy-on-write"),
    oracle="""
    WITH bounds AS (
      SELECT MIN(user_id) + (MAX(user_id) - MIN(user_id)) * 0.05 AS thr
      FROM events
    ),
    latest AS (
      SELECT user_id, event_id, event_type, ts FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    )
    SELECT l.user_id, l.event_id,
           CASE WHEN l.user_id <= b.thr THEN l.event_type
                ELSE 'SEED' END AS event_type,
           epoch_us(l.ts) AS ts_us
    FROM latest l, bounds b
    """,
)
def stream_pruned_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into a key-pruned copy-on-write table (r6 — the
    composition of ``stream_merge_into_catalog`` with
    ``merge_pruned``): a range-partitioned target is seeded with every
    user's latest event (event_type masked to 'SEED'), then the events
    stream — filtered to the lowest 5% of the user-key span — drains via
    foreachBatch with ``prune=True``. Each micro-batch rewrites ONLY the
    files whose footer key span can contain a batch key; the in-query
    raise proves untouched files carried into the post-drain snapshot by
    inode. The oracle computes the post-merge table directly: low-key
    users show their true latest event_type, everyone else stays SEED.
    This is the continuous-ingestion shape for a 100 TB table: per
    trigger, write cost ~ O(dirty files), not O(table)."""
    import shutil

    from agol_pandas_spark.operators.dedup import latest_wins_dedup
    from agol_pandas_spark.streaming.sinks import stream_merge_into_catalog

    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    schema = spark.read.parquet(path).schema
    ev = cat.table("events").select("user_id", "event_id", "event_type", "ts")
    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).first()
    thr = lo + (hi - lo) * 0.05

    latest = latest_wins_dedup(
        ev, keys=["user_id"], ts_col="ts",
        tie_breakers=[F.col("event_id").desc()],
    )
    seed = latest.withColumn("event_type", F.lit("SEED"))

    sink_root = tempfile.mkdtemp(prefix="stream_cow_cat_")
    sink_cat = Catalog(spark, sink_root)
    sink_cat.write(
        seed.repartitionByRange(8, "user_id").sortWithinPartitions("user_id"),
        "cdc_target",
        mode="error",
    )
    inodes_before = {
        os.path.basename(f): os.stat(f).st_ino
        for f in sink_cat.data_files("cdc_target")
    }

    landing = os.path.join(
        tempfile.gettempdir(), f"stream_cow_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    os.symlink(os.path.abspath(path), os.path.join(landing, "events.parquet"))
    sev = stream_from_directory(spark, landing, schema)
    if isinstance(schema["ts"].dataType, T.LongType):
        sev = sev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    sev = sev.select("user_id", "event_id", "event_type", "ts").filter(
        F.col("user_id") <= F.lit(thr)
    )

    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = stream_merge_into_catalog(
            sev,
            sink_cat,
            "cdc_target",
            key="user_id",
            prepare=lambda batch: latest_wins_dedup(
                batch, keys=["user_id"], ts_col="ts",
                tie_breakers=[F.col("event_id").desc()],
            ),
            prune=True,
        )
    q.awaitTermination()

    inodes_after = {
        os.path.basename(f): os.stat(f).st_ino
        for f in sink_cat.data_files("cdc_target")
    }
    carried = [
        b for b, i in inodes_before.items() if inodes_after.get(b) == i
    ]
    if not carried:
        raise RuntimeError(
            "pruned CDC upsert carried no files by reference — "
            f"before={len(inodes_before)} after={len(inodes_after)}"
        )
    out = sink_cat.table("cdc_target").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    ).localCheckpoint(eager=True)
    shutil.rmtree(sink_root, ignore_errors=True)
    return out


@register(
    "stream_watermark_late_routing",
    tags=("streaming", "watermark", "dead-letter", "events"),
    oracle="""
    WITH b AS (
      SELECT event_type, event_id, ts, event_id % 3 AS batch FROM events),
    wm AS (SELECT batch, MAX(ts) AS mx FROM b GROUP BY batch),
    prev AS (
      SELECT k.batch, MAX(w.mx) AS prev_max
      FROM (SELECT DISTINCT batch FROM b) k
      LEFT JOIN wm w ON w.batch < k.batch
      GROUP BY k.batch),
    r AS (
      SELECT b.event_type, b.event_id,
             CASE WHEN p.prev_max IS NOT NULL
                   AND b.ts < p.prev_max - INTERVAL 1 HOUR
                  THEN TRUE ELSE FALSE END AS is_late
      FROM b JOIN prev p ON p.batch = b.batch)
    SELECT event_type, is_late, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM r GROUP BY 1, 2
    """,
)
def stream_watermark_late_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data DEAD-LETTER routing under an explicit watermark: the
    events corpus lands as three files (split by event_id mod 3, mtimes
    forcing batch order), each micro-batch classifies rows against the
    watermark ``max event time of PRIOR batches − 1h`` kept in a tiny
    driver-side state file, and routes them to on-time/late partitions of
    an accounting table. Unlike the built-in watermark (which drops late
    rows silently), every row stays accounted — the dead-letter pattern a
    100 TB ingest needs for replay/debugging. The explicit watermark rule
    makes the split deterministic BY CONSTRUCTION, so the batch oracle
    replays it exactly from the event_id split.

    Scale shape: per-batch classification is a map stage (one broadcast
    scalar); partial counts append map-side-combined; state is one
    integer per batch.
    """
    import shutil

    cat = Catalog(spark, sf_dir)
    events = cat.table("events")

    landing = os.path.join(
        tempfile.gettempdir(), f"stream_late_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    stage_root = tempfile.mkdtemp(prefix="stream_late_stage_")
    base_mtime = 1_700_000_000
    for k in range(3):
        part_dir = os.path.join(stage_root, f"b{k}")
        (
            events.filter(F.pmod(F.col("event_id"), F.lit(3)) == k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        src = next(
            os.path.join(part_dir, f)
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        )
        dst = os.path.join(landing, f"{k:02d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (base_mtime + 10 * k, base_mtime + 10 * k))
    shutil.rmtree(stage_root, ignore_errors=True)

    schema = spark.read.parquet(landing).schema
    stream = stream_from_directory(spark, landing, schema)

    state_root = tempfile.mkdtemp(prefix="stream_late_state_")
    wm_dir = os.path.join(state_root, "wm")
    os.makedirs(wm_dir)
    delay_us = 3_600 * 1_000_000

    def route(batch_df, batch_id):
        prior = [
            int(open(os.path.join(wm_dir, f)).read())
            for f in os.listdir(wm_dir)
        ]
        prev_max = max(prior) if prior else None
        if prev_max is None:
            is_late = F.lit(False)
        else:
            is_late = F.unix_micros(F.col("ts")) < F.lit(prev_max - delay_us)
        (
            batch_df.withColumn("is_late", is_late)
            .groupBy("event_type", "is_late")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("event_id").alias("id_checksum"),
            )
            .write.mode("append")
            .parquet(os.path.join(state_root, "routed"))
        )
        bmax = batch_df.agg(F.unix_micros(F.max("ts"))).first()[0]
        if bmax is not None:
            new_max = bmax if prev_max is None else max(prev_max, bmax)
            with open(os.path.join(wm_dir, f"{batch_id}.txt"), "w") as fh:
                fh.write(str(new_max))

    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = (
            stream.writeStream.foreachBatch(route)
            .option(
                "checkpointLocation", os.path.join(state_root, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()

    out = (
        spark.read.parquet(os.path.join(state_root, "routed"))
        .groupBy("event_type", "is_late")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("id_checksum").cast("long").alias("id_checksum"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(state_root, ignore_errors=True)
    shutil.rmtree(landing, ignore_errors=True)
    return out


@register(
    "stream_hll_incremental_distinct",
    tags=("streaming", "sketch", "hll", "approx"),
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
)
def stream_hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-user counting through MERGEABLE HLL
    sketches: the events corpus drains as three micro-batches, each
    batch appends ONE Datasketches HLL row per event type to a state
    table — a few KB per batch regardless of batch size, the property
    that lets a 100 TB stream track distinct counts without ever
    holding the key set — and the final estimate unions the per-batch
    sketches (``hll_union_agg``, order-insensitive by construction).
    The estimate is bounded against the exact distinct count with the
    registry's approx contract (within-5% boolean the oracle
    hash-checks); lgConfigK=14 keeps the expected error ≈0.8%.
    """
    import shutil

    cat = Catalog(spark, sf_dir)
    ev_path = cat.path("events")
    schema = spark.read.parquet(ev_path).schema
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_hll_{uuid.uuid4().hex[:8]}"
    )
    (
        spark.read.parquet(ev_path)
        .repartition(3)
        .write.mode("overwrite")
        .parquet(landing)
    )
    ev = stream_from_directory(spark, landing, schema)

    state_root = tempfile.mkdtemp(prefix="stream_hll_state_")
    sketch_dir = os.path.join(state_root, "sketches")

    def accumulate(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
            .write.mode("append")
            .parquet(sketch_dir)
        )

    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = (
            ev.writeStream.foreachBatch(accumulate)
            .option(
                "checkpointLocation", os.path.join(state_root, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()

    est = (
        spark.read.parquet(sketch_dir)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("sketch"), F.lit(True))
            ).alias("approx_users")
        )
    )
    exact = (
        spark.read.parquet(ev_path)
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    )
    out = exact.join(est, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("approx_users") - F.col("n_exact"))
            <= F.col("n_exact") * 0.05
        ).alias("within_tol"),
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(state_root, ignore_errors=True)
    shutil.rmtree(landing, ignore_errors=True)
    return out


@register(
    "stream_wap_quarantine",
    tags=("streaming", "wap", "governance", "events"),
    oracle="""
    WITH split AS (
      SELECT *, user_id % 3 AS part,
             CASE WHEN user_id % 3 = 1 AND event_type = 'error'
                  THEN NULL ELSE value END AS v
      FROM events)
    SELECT CASE WHEN part = 1 THEN 'quarantined' ELSE 'published' END
             AS status,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(COALESCE(v, -1) * 10000) AS BIGINT))
                AS BIGINT) AS value_scaled
    FROM split GROUP BY 1
    """,
)
def stream_wap_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Write-Audit-Publish
    (``streaming/sinks.stream_wap_into_catalog``): three landing files
    drain as three micro-batches through the WAP gate; the poisoned
    batch (NULL values injected into its error events) fails the
    ``value IS NULL`` audit and is QUARANTINED — appended to a
    dead-letter table tagged with the violated rule — while the stream
    keeps publishing the clean batches. The live table only ever
    advances by audited atomic snapshots; the oracle reproduces both
    populations exactly, proving nothing leaked across the gate in
    either direction.
    """
    import shutil

    from agol_pandas_spark.streaming.sinks import stream_wap_into_catalog

    cat = Catalog(spark, sf_dir)
    ev = cat.table("events").select(
        "event_id", "user_id", "event_type", "value",
        (F.col("user_id") % 3).alias("part"),
    )
    poisoned = ev.withColumn(
        "value",
        F.when(
            (F.col("part") == 1) & (F.col("event_type") == "error"),
            F.lit(None).cast("double"),
        ).otherwise(F.col("value")),
    )
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_wap_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    for p in range(3):
        staged = os.path.join(landing, f"__stage_{p}")
        poisoned.filter(F.col("part") == p).drop("part").coalesce(
            1
        ).write.parquet(staged)
        part_file = next(
            f for f in os.listdir(staged) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(staged, part_file),
            os.path.join(landing, f"batch_{p}.parquet"),
        )
        shutil.rmtree(staged, ignore_errors=True)

    schema = spark.read.parquet(
        os.path.join(landing, "batch_0.parquet")
    ).schema
    stream = stream_from_directory(spark, landing, schema)

    sink_root = tempfile.mkdtemp(prefix="stream_wap_cat_")
    sink = Catalog(spark, sink_root)
    with scoped_shuffle_partitions(
        spark, adaptive_state_partitions(spark, landing)
    ):
        q = stream_wap_into_catalog(
            stream,
            sink,
            "published",
            audits={"value_present": "value IS NOT NULL"},
            quarantine="dead_letter",
            mode="append",
        )
    q.awaitTermination()

    def summarize(df: DataFrame, status: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(-1.0)) * 10000)
                .cast("long")
            ).cast("long").alias("value_scaled"),
        ).select(F.lit(status).alias("status"), "n_events", "value_scaled")

    out = summarize(sink.table("published"), "published").unionByName(
        summarize(sink.table("dead_letter").drop("audit_rule"), "quarantined")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(sink_root, ignore_errors=True)
    shutil.rmtree(landing, ignore_errors=True)
    return out


@register(
    "stream_idempotent_redelivery",
    tags=("streaming", "exactly-once", "events"),
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
             AS value_scaled
    FROM events GROUP BY event_type
    """,
)
def stream_idempotent_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once TABLE STATE on top of at-least-once delivery
    (``streaming/sinks.append_once``): the same landing files drain
    TWICE — a second run with a fresh checkpoint redelivers every
    micro-batch, the crash-recovery worst case — and the
    content-fingerprint commit key (count/sum/bitxor per batch,
    partition-order independent, carried IN the data so marker and
    rows share one atomic snapshot) makes every redelivered batch a
    no-op. The query raises if the second drain appended anything; the
    oracle checks the final table equals exactly-once semantics.
    """
    import shutil

    from agol_pandas_spark.streaming.sinks import append_once

    cat = Catalog(spark, sf_dir)
    ev = cat.table("events").select(
        "event_id", "user_id", "event_type", "value",
        (F.col("user_id") % 3).alias("part"),
    )
    landing = os.path.join(
        tempfile.gettempdir(), f"stream_idem_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(landing)
    for p in range(3):
        staged = os.path.join(landing, f"__stage_{p}")
        ev.filter(F.col("part") == p).drop("part").coalesce(1).write.parquet(
            staged
        )
        part_file = next(
            f for f in os.listdir(staged) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(staged, part_file),
            os.path.join(landing, f"batch_{p}.parquet"),
        )
        shutil.rmtree(staged, ignore_errors=True)

    schema = spark.read.parquet(os.path.join(landing, "batch_0.parquet")).schema
    sink_root = tempfile.mkdtemp(prefix="stream_idem_cat_")
    sink = Catalog(spark, sink_root)

    def drain() -> None:
        stream = stream_from_directory(spark, landing, schema)
        with scoped_shuffle_partitions(
            spark, adaptive_state_partitions(spark, landing)
        ):
            q = (
                stream.writeStream.foreachBatch(
                    lambda b, _id: b.isEmpty()
                    or append_once(sink, b, "t", ["event_id"])
                )
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()

    drain()
    n_first = sink.table("t").count()
    drain()  # fresh checkpoint -> full redelivery of all three batches
    n_second = sink.table("t").count()
    if n_first != n_second:
        raise RuntimeError(
            f"redelivery appended rows: {n_first} -> {n_second}"
        )

    out = (
        sink.table("t")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("id_checksum"),
            F.sum(F.round(F.col("value") * 10000).cast("long"))
            .cast("long")
            .alias("value_scaled"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(sink_root, ignore_errors=True)
    shutil.rmtree(landing, ignore_errors=True)
    return out


@register(
    "stream_cdf_tail_summary",
    tags=("streaming", "cdf", "ivm", "catalog"),
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                    + CASE WHEN o_orderkey % 11 = 0
                           THEN 100000 ELSE 0 END) AS BIGINT)
               AS price_scaled_sum
    FROM orders WHERE o_orderkey % 5 <> 0
    GROUP BY o_orderstatus
    """,
)
def stream_cdf_tail_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF as a STREAMING SOURCE feeding continuous IVM (VERDICT r7 item
    3): a versioned table takes three commits (v1: 20% of keys missing,
    stale zero prices on the %7 keys; v2: prices corrected, the %5==0
    keys dropped, the %5==4 keys new; v3: a +1000.00 adjustment on the
    %11 keys), and ``CdfTail`` spools each landed transition — computed
    by ``Catalog.table_changes(v, v+1)``, O(changed files) through the
    manifest pruning — into a file-source stream. Per micro-batch,
    ``apply_cdf_to_summary`` maintains a per-status count/sum summary
    table; no batch ever rescans a snapshot. The tail is created
    mid-history (after v2's commit) and advanced incrementally, proving
    the watermark bookkeeping; the oracle recomputes the final summary
    from scratch. Measures are pre-quantized BIGINT, so the signed-delta
    algebra is exact across any micro-batch split (additive deltas
    commute). Delta Lake's ``readChangeFeed`` is the public analogue;
    the reference has no changefeed at all."""
    import shutil

    from agol_pandas_spark.streaming.cdf_source import (
        CdfTail,
        stream_cdf_into_summary,
    )

    base = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    scaled = F.round(F.col("o_totalprice") * 100).cast("long")
    v1 = base.where(k % 5 != 4).select(
        "o_orderkey", "o_orderstatus",
        F.when(k % 7 == 0, F.lit(0)).otherwise(scaled)
        .cast("long").alias("price_scaled"),
    )
    v2 = base.where(k % 5 != 0).select(
        "o_orderkey", "o_orderstatus", scaled.alias("price_scaled")
    )
    v3 = base.where(k % 5 != 0).select(
        "o_orderkey", "o_orderstatus",
        (scaled + F.when(k % 11 == 0, F.lit(100000)).otherwise(F.lit(0)))
        .cast("long").alias("price_scaled"),
    )

    root = tempfile.mkdtemp(prefix="cdf_tail_cat_")
    try:
        cat = Catalog(spark, root)
        cat.write(v1, "t")
        cat.write(v2, "t", mode="overwrite", keep_versions=4)
        # summary seeded from v1 — maintenance must carry it to v3
        cat.write(
            v1.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("price_scaled").cast("long").alias("price_scaled_sum"),
            ),
            "summary",
        )
        tail = CdfTail(cat, "t", key="o_orderkey")
        if tail.advance() != 0:  # one archive: no completed pair yet
            raise RuntimeError("tail spooled a transition prematurely")
        cat.write(v3, "t", mode="overwrite", keep_versions=4)
        if tail.advance() != 1:  # archived pair v1 -> v2 landed
            raise RuntimeError("tail missed the v1->v2 transition")
        if tail.advance(include_current=True) != 1:  # v2 -> current (v3)
            raise RuntimeError("tail missed the catch-up to HEAD")
        with scoped_shuffle_partitions(
            spark, adaptive_state_partitions(spark, tail.spool_dir)
        ):
            q = stream_cdf_into_summary(
                tail, spark, cat, "summary",
                keys=["o_orderstatus"],
                sums={"price_scaled_sum": "price_scaled"},
            )
        q.awaitTermination()
        out = cat.table("summary").localCheckpoint(eager=True)
        tail.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "pipeline_paged_cdc_ivm",
    tags=("pipeline", "paged", "cdf", "ivm", "merge", "auth"),
    oracle="""
    WITH bounds AS (
      SELECT MIN(c_custkey) AS lo,
             MIN(c_custkey) + (MAX(c_custkey) - MIN(c_custkey)) * 0.02
                 AS upd_hi,
             MIN(c_custkey) + (MAX(c_custkey) - MIN(c_custkey)) * 0.01
                 AS ins_hi
      FROM customer
    ),
    base AS (
      SELECT c_custkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ),
    v2 AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey <= (SELECT upd_hi FROM bounds)
                  THEN bal + 100000 ELSE bal END AS bal
      FROM base
      UNION ALL
      SELECT c_custkey + 1000000, 'INSERTED', bal + 50000
      FROM base WHERE c_custkey <= (SELECT ins_hi FROM bounds)
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bal) AS BIGINT) AS bal_sum
    FROM v2 GROUP BY c_mktsegment
    """,
)
def pipeline_paged_cdc_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest-to-dashboard story, end-to-end in one query
    (VERDICT r9 item 5) — every round-8 surface COMPOSED rather than
    proven piecewise:

    1. a remote CDC batch arrives through the PAGED HTTP SOURCE under
       the full auth lifecycle (``TokenProvider`` against the loopback
       ``generateToken`` contract; tokens die every 3 requests, so the
       paged read MUST refresh mid-pagination — asserted);
    2. the delta lands in a MANIFEST-identity catalog via the KEY-PRUNED
       copy-on-write merge (``merge_pruned``): clean files carried by
       reference, dirty files rewritten — asserted engaged;
    3. ``CdfTail`` spools the resulting version transition as a change
       feed, computed O(changed files) through the manifest pruning;
    4. the streaming IVM loop (``stream_cdf_into_summary``) maintains a
       per-segment count/sum dashboard from the signed deltas — never
       rescanning the table, exactly-once via the snapshot-props batch
       marker.

    The oracle recomputes the final dashboard from scratch. Updates are
    confined to the lowest 2% of the key span (the pruned-merge shape);
    inserts are fresh high keys in a new segment. Measures are
    pre-quantized BIGINT end-to-end (wire → merge → deltas), so the
    additive algebra is exact. The reference runs this pipeline as four
    disconnected manual steps (export, diff by hand, re-publish
    ``src/agol_pandas.py:396``, re-aggregate)."""
    import shutil

    from agol_pandas_spark.operators.merge import merge_pruned
    from agol_pandas_spark.sources.http_client import (
        HttpPagedClient,
        TokenProvider,
    )
    from agol_pandas_spark.sources.http_mock import serve_layer
    from agol_pandas_spark.sources.paged import RetryPolicy, read_paged
    from agol_pandas_spark.streaming.cdf_source import (
        CdfTail,
        stream_cdf_into_summary,
    )

    base = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    lo, hi = base.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    upd_hi = lo + (hi - lo) * 0.02
    ins_hi = lo + (hi - lo) * 0.01

    # the CDC batch the "remote service" holds: low-key updates + new
    # high-key inserts (collected to host in the loopback mock only —
    # the engine consumes it over the wire, paged + tokened)
    cdc_rows = [
        {
            "c_custkey": int(r["c_custkey"]),
            "c_mktsegment": r["c_mktsegment"],
            "bal": int(r["bal"]) + 100000,
        }
        for r in base.where(F.col("c_custkey") <= upd_hi).collect()
    ] + [
        {
            "c_custkey": int(r["c_custkey"]) + 1_000_000,
            "c_mktsegment": "INSERTED",
            "bal": int(r["bal"]) + 50000,
        }
        for r in base.where(F.col("c_custkey") <= ins_hi).collect()
    ]
    fields = [
        {"name": "c_custkey", "type": "esriFieldTypeOID"},
        {"name": "c_mktsegment", "type": "esriFieldTypeString"},
        {"name": "bal", "type": "esriFieldTypeInteger"},
    ]
    srv, seen = serve_layer(
        cdc_rows, fields,
        auth={"username": "svc", "password": "pw", "ttl_requests": 3},
    )
    root = tempfile.mkdtemp(prefix="cdc_ivm_")
    tail = q = None
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        delta = read_paged(
            spark,
            HttpPagedClient(url, token=TokenProvider(
                f"{url}/generateToken", "svc", "pw",
            )),
            page_size=max(50, len(cdc_rows) // 8),
            policy=RetryPolicy(max_attempts=3, max_backoff=0.01),
        ).select("c_custkey", "c_mktsegment", "bal")

        cat = Catalog(spark, root)
        cat.write(
            base.repartitionByRange(8, "c_custkey")
            .sortWithinPartitions("c_custkey"),
            "c",
        )
        cat.write(
            base.groupBy("c_mktsegment").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("bal").cast("long").alias("bal_sum"),
            ),
            "summary",
        )
        tail = CdfTail(cat, "c", key="c_custkey")
        stats = merge_pruned(
            cat, delta, "c", mode="upsert", key="c_custkey",
            keep_versions=2,
        )
        if not (
            stats["pruned"]
            and 0 < stats["files_rewritten"] < stats["files_total"]
        ):
            raise RuntimeError(f"pruning did not engage: {stats}")
        mints = [q for q in seen if q.get("op") == "generateToken"]
        if len(mints) < 2:
            raise RuntimeError(
                f"token expiry never forced a refresh ({len(mints)} mints)"
            )
        if tail.advance(include_current=True) != 1:
            raise RuntimeError("tail missed the CDC commit")
        q = stream_cdf_into_summary(
            tail, spark, cat, "summary",
            keys=["c_mktsegment"], sums={"bal_sum": "bal"},
        )
        q.awaitTermination()
        out = (
            cat.table("summary")
            .select("c_mktsegment", "n_rows", "bal_sum")
            .localCheckpoint(eager=True)
        )
    finally:
        # failure-path hygiene: the spool dir is a tempdir OUTSIDE root
        # and the query keeps running unless stopped — leak neither
        if q is not None and q.isActive:
            q.stop()
        if tail is not None:
            tail.close()
        srv.shutdown()
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "pipeline_join_view_ivm",
    tags=("pipeline", "cdf", "ivm", "join", "views"),
    oracle="""
    WITH fact1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_scaled
      FROM orders WHERE o_orderkey % 15 = 0
    ),
    fact2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 45 = 15 THEN price_scaled + 500
                  ELSE price_scaled END AS price_scaled
      FROM fact1 WHERE o_orderkey % 45 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'NEW', price_scaled + 77
      FROM fact1 WHERE o_orderkey % 45 = 30
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.price_scaled,
           c.c_mktsegment
    FROM fact2 f JOIN customer c ON f.o_custkey = c.c_custkey
    """,
)
def pipeline_join_view_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a materialized FACT ⋈ DIM join view from the fact
    table's change feed (VERDICT r9 item 4) — the retraction-capable
    sibling of the summary IVM: the fact commit UPSERTS and DELETES
    rows, ``table_changes`` recovers the signed feed (O(changed files)
    through the manifest pruning), and ``apply_cdf_to_join_view`` folds
    it into the stored view with one broadcast anti-join on the touched
    keys plus one delta-sized dimension join — no fact-history rejoin,
    no view rescan. The oracle recomputes the post-commit join from
    scratch; the maintained view must equal it row-for-row (the driver
    value-hashes the full view). ``refresh_join_view`` covers only
    append-only deltas; deletes/updates are exactly what it could not
    express. Delta Lake CDF + MERGE-maintained gold tables are the
    public analogue; the reference re-uploads full result sets
    (src/agol_pandas.py:396)."""
    import shutil

    from agol_pandas_spark.operators.views import apply_cdf_to_join_view

    k = F.col("o_orderkey")
    fact1 = Catalog(spark, sf_dir).table("orders").where(k % 15 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("price_scaled"),
    )
    dim = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_mktsegment"
    )
    # v2: delete the %45==0 class, bump the %45==15 class, insert fresh
    # high keys derived from the %45==30 class — all three CDF shapes
    fact2 = fact1.where(k % 45 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(k % 45 == 15, F.col("price_scaled") + 500)
        .otherwise(F.col("price_scaled")).alias("price_scaled"),
    ).unionByName(
        fact1.where(k % 45 == 30).select(
            (k + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            F.lit("NEW").alias("o_orderstatus"),
            (F.col("price_scaled") + 77).alias("price_scaled"),
        )
    )

    root = tempfile.mkdtemp(prefix="join_ivm_")
    try:
        cat = Catalog(spark, root)
        cat.write(fact1, "f")
        cat.write(
            fact1.join(dim, fact1["o_custkey"] == dim["c_custkey"], "inner")
            .select(
                "o_orderkey", "o_custkey", "o_orderstatus",
                "price_scaled", "c_mktsegment",
            ),
            "v",
        )
        cat.write(fact2, "f", mode="overwrite", keep_versions=2)
        feed = cat.table_changes("f", from_version=1, key="o_orderkey")
        maintained = apply_cdf_to_join_view(
            cat.table("v"), feed, dim,
            on=F.col("o_custkey") == F.col("c_custkey"),
            fact_key="o_orderkey",
        )
        cat.write(maintained, "v", mode="overwrite")
        out = cat.table("v").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "pipeline_join_view_bilateral_ivm",
    tags=("pipeline", "cdf", "ivm", "join", "views"),
    oracle="""
    WITH fact1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_scaled
      FROM orders WHERE o_orderkey % 15 = 0
    ),
    fact2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 45 = 15 THEN price_scaled + 500
                  ELSE price_scaled END AS price_scaled
      FROM fact1 WHERE o_orderkey % 45 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'NEW', price_scaled + 77
      FROM fact1 WHERE o_orderkey % 45 = 30
    ),
    dim2 AS (
      SELECT c_custkey AS o_custkey,
             CASE WHEN c_custkey % 10 = 1 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 2
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.price_scaled,
           d.c_mktsegment
    FROM fact2 f JOIN dim2 d ON f.o_custkey = d.o_custkey
    """,
)
def pipeline_join_view_bilateral_ivm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BILATERAL join-view IVM — fact AND dimension change feeds folded
    into one materialized fact ⋈ dim view
    (``views.apply_cdf_to_join_view_bilateral``): the fact commit
    upserts/deletes/inserts orders while the dim commit re-segments
    customers ('MOVED'), deletes a key class, and INSERTS a class the
    view had never matched (its fact rows must now appear). The keyed
    delta algebra attributes every affected view row to touched fact
    keys or touched dim join keys, re-deriving exactly those rows: the
    fact snapshot contributes one TD-semi-joined slice (the targeted
    ``rescan`` shape), never a history rejoin. Oracle recomputes the
    post-commit join from scratch; the driver value-hashes the full
    maintained view. DBSP/differential dataflow are the public analogues
    — Delta dashboards re-derive instead."""
    import shutil

    from agol_pandas_spark.operators.views import (
        apply_cdf_to_join_view_bilateral,
    )

    k = F.col("o_orderkey")
    fact1 = Catalog(spark, sf_dir).table("orders").where(k % 15 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("price_scaled"),
    )
    fact2 = fact1.where(k % 45 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(k % 45 == 15, F.col("price_scaled") + 500)
        .otherwise(F.col("price_scaled")).alias("price_scaled"),
    ).unionByName(
        fact1.where(k % 45 == 30).select(
            (k + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            F.lit("NEW").alias("o_orderstatus"),
            (F.col("price_scaled") + 77).alias("price_scaled"),
        )
    )
    cust = Catalog(spark, sf_dir).table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    ck = F.col("o_custkey")
    dim1 = cust.where(ck % 10 != 3)  # one key class starts UNMATCHED
    dim2 = cust.where(ck % 10 != 2).select(
        "o_custkey",
        F.when(ck % 10 == 1, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
    )

    root = tempfile.mkdtemp(prefix="join_ivm2_")
    try:
        cat = Catalog(spark, root)
        cat.write(fact1, "f")
        cat.write(dim1, "d")
        cat.write(
            fact1.join(dim1, "o_custkey", "inner").select(
                "o_orderkey", "o_custkey", "o_orderstatus",
                "price_scaled", "c_mktsegment",
            ),
            "v",
        )
        cat.write(fact2, "f", mode="overwrite", keep_versions=2)
        cat.write(dim2, "d", mode="overwrite", keep_versions=2)
        f_feed = cat.table_changes("f", from_version=1, key="o_orderkey")
        d_feed = cat.table_changes("d", from_version=1, key="o_custkey")
        maintained = apply_cdf_to_join_view_bilateral(
            cat.table("v"), f_feed, d_feed,
            fact=cat.table("f"), dim=cat.table("d"),
            join_key="o_custkey", fact_key="o_orderkey",
        )
        cat.write(maintained, "v", mode="overwrite")
        out = cat.table("v").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "pipeline_join_view_tailed",
    tags=("pipeline", "cdf", "ivm", "join", "views", "streaming"),
    oracle="""
    WITH fact1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_scaled
      FROM orders WHERE o_orderkey % 15 = 0
    ),
    fact2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 45 = 15 THEN price_scaled + 500
                  ELSE price_scaled END AS price_scaled
      FROM fact1 WHERE o_orderkey % 45 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'NEW', price_scaled + 77
      FROM fact1 WHERE o_orderkey % 45 = 30
    ),
    dim2 AS (
      SELECT c_custkey AS o_custkey,
             CASE WHEN c_custkey % 10 = 1 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 2
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.price_scaled,
           d.c_mktsegment
    FROM fact2 f JOIN dim2 d ON f.o_custkey = d.o_custkey
    """,
)
def pipeline_join_view_tailed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE tailed refresh (the second half of VERDICT r9
    "missing" item 4): TWO ``CdfTail``\\ s — fact and dimension — drive
    one materialized join view through
    ``refresh_join_view_from_tails`` across three refresh rounds with
    commits interleaved: (1) a fact upsert/delete/insert batch;
    (2) a dim re-segmentation + delete + attract-insert AND a fact
    selective compaction — whose declared row-preserving transition the
    fact tail must skip outright (``applied_fact == 0`` asserted);
    (3) a quiescent round that must not commit (``committed is False``
    asserted — the per-table applied watermarks ride the view's own
    snapshot props). Re-derivation joins each tail's
    ``spooled_snapshot`` — the state aligned with its feed — so racing
    commits can never produce a mixed view. Oracle recomputes the final
    join from scratch (shared with ``pipeline_join_view_bilateral_ivm``
    — the tailed path must land the identical view)."""
    import shutil

    from agol_pandas_spark.streaming.cdf_source import (
        CdfTail,
        refresh_join_view_from_tails,
    )

    k = F.col("o_orderkey")
    fact1 = Catalog(spark, sf_dir).table("orders").where(k % 15 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("price_scaled"),
    )
    fact2 = fact1.where(k % 45 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(k % 45 == 15, F.col("price_scaled") + 500)
        .otherwise(F.col("price_scaled")).alias("price_scaled"),
    ).unionByName(
        fact1.where(k % 45 == 30).select(
            (k + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            F.lit("NEW").alias("o_orderstatus"),
            (F.col("price_scaled") + 77).alias("price_scaled"),
        )
    )
    cust = Catalog(spark, sf_dir).table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    ck = F.col("o_custkey")
    dim1 = cust.where(ck % 10 != 3)
    dim2 = cust.where(ck % 10 != 2).select(
        "o_custkey",
        F.when(ck % 10 == 1, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
    )

    root = tempfile.mkdtemp(prefix="join_ivm3_")
    f_tail = d_tail = None
    try:
        cat = Catalog(spark, root)
        cat.write(fact1.repartition(4), "f")
        cat.write(dim1, "d")
        cat.write(
            fact1.join(dim1, "o_custkey", "inner").select(
                "o_orderkey", "o_custkey", "o_orderstatus",
                "price_scaled", "c_mktsegment",
            ),
            "v",
        )
        f_tail = CdfTail(cat, "f", key="o_orderkey")
        d_tail = CdfTail(cat, "d", key="o_custkey")

        def refresh():
            return refresh_join_view_from_tails(
                spark, cat, "v", f_tail, d_tail,
                join_key="o_custkey", fact_key="o_orderkey",
            )

        # round 1: the fact batch
        cat.write(fact2.repartition(4), "f", mode="overwrite",
                  keep_versions=4)
        s1 = refresh()
        if not (s1["committed"] and s1["applied_fact"] >= 1):
            raise RuntimeError(f"round-1 refresh misbehaved: {s1}")
        # round 2: the dim batch + fact housekeeping the tail must skip
        cat.write(dim2, "d", mode="overwrite", keep_versions=4)
        stats = cat.compact_selective(
            "f", min_file_bytes=1 << 30, keep_versions=4
        )
        if not stats["rewritten"]:
            raise RuntimeError(f"compaction was a no-op: {stats}")
        s2 = refresh()
        if not (s2["committed"] and s2["applied_dim"] >= 1
                and s2["applied_fact"] == 0):
            raise RuntimeError(f"round-2 refresh misbehaved: {s2}")
        # round 3: quiescent — watermarks must suppress any rework
        s3 = refresh()
        if s3["committed"]:
            raise RuntimeError(f"quiescent refresh committed: {s3}")
        out = (
            cat.table("v")
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    "price_scaled", "c_mktsegment")
            .localCheckpoint(eager=True)
        )
    finally:
        if f_tail is not None:
            f_tail.close()
        if d_tail is not None:
            d_tail.close()
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "pipeline_join_view_star",
    tags=("pipeline", "cdf", "ivm", "join", "views", "streaming"),
    oracle="""
    WITH fact1 AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_scaled
      FROM orders WHERE o_orderkey % 15 = 0
    ),
    fact2 AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CASE WHEN o_orderkey % 45 = 15 THEN price_scaled + 500
                  ELSE price_scaled END AS price_scaled
      FROM fact1 WHERE o_orderkey % 45 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderpriority,
             price_scaled + 77
      FROM fact1 WHERE o_orderkey % 45 = 30
    ),
    dim1 AS (
      SELECT c_custkey AS o_custkey,
             CASE WHEN c_custkey % 10 = 1 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 2
    ),
    dim2 AS (
      SELECT DISTINCT o_orderpriority,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 'U'
                  ELSE substr(o_orderpriority, 1, 1) END AS prio_label
      FROM orders WHERE o_orderpriority <> '3-MEDIUM'
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderpriority, f.price_scaled,
           d1.c_mktsegment, d2.prio_label
    FROM fact2 f
    JOIN dim1 d1 ON f.o_custkey = d1.o_custkey
    JOIN dim2 d2 ON f.o_orderpriority = d2.o_orderpriority
    """,
)
def pipeline_join_view_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAR-SCHEMA tailed refresh (VERDICT r10 item 3): THREE
    ``CdfTail``\\ s — one fact, two dimensions — drive a materialized
    fact ⋈ dim1 ⋈ dim2 view through
    ``refresh_join_view_from_tails_star`` across three rounds:
    (1) a fact upsert/delete/insert batch; (2) BOTH dim batches in one
    round — a customer-segment relabel + key-class delete + attract-
    insert on dim1, and a priority-class delete + relabel on dim2 —
    each re-deriving through per-dim touched-key sets with ONE combined
    drop; (3) a quiescent round that must not commit (per-table
    watermarks ride the view's snapshot props as
    ``jv_dim_<table>_through``). Commits are COPY-ON-WRITE
    (``views.commit_join_view_delta``): only view files whose footer
    spans intersect the touched keys rewrite, the rest hard-link
    forward. Oracle recomputes the final 3-way join from scratch; the
    driver value-hashes the full maintained view. The bilateral form is
    the N=1 case (``pipeline_join_view_tailed``); the reference
    re-uploads full result sets instead (src/agol_pandas.py:396)."""
    import shutil

    from agol_pandas_spark.streaming.cdf_source import (
        CdfTail,
        refresh_join_view_from_tails_star,
    )

    k = F.col("o_orderkey")
    fact1 = Catalog(spark, sf_dir).table("orders").where(k % 15 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("price_scaled"),
    )
    fact2 = fact1.where(k % 45 != 0).select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.when(k % 45 == 15, F.col("price_scaled") + 500)
        .otherwise(F.col("price_scaled")).alias("price_scaled"),
    ).unionByName(
        fact1.where(k % 45 == 30).select(
            (k + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            "o_orderpriority",
            (F.col("price_scaled") + 77).alias("price_scaled"),
        )
    )
    cust = Catalog(spark, sf_dir).table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    ck = F.col("o_custkey")
    dim1a = cust.where(ck % 10 != 3)
    dim1b = cust.where(ck % 10 != 2).select(
        "o_custkey",
        F.when(ck % 10 == 1, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    prio = Catalog(spark, sf_dir).table("orders").select(
        "o_orderpriority"
    ).distinct()
    dim2a = prio.select(
        "o_orderpriority",
        F.substring("o_orderpriority", 1, 1).alias("prio_label"),
    )
    dim2b = prio.where(F.col("o_orderpriority") != "3-MEDIUM").select(
        "o_orderpriority",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("U"))
        .otherwise(F.substring("o_orderpriority", 1, 1))
        .alias("prio_label"),
    )

    cols = ["o_orderkey", "o_custkey", "o_orderpriority",
            "price_scaled", "c_mktsegment", "prio_label"]
    root = tempfile.mkdtemp(prefix="join_star_")
    f_tail = d1_tail = d2_tail = None
    try:
        cat = Catalog(spark, root)
        cat.write(fact1.repartition(4), "f")
        cat.write(dim1a, "d1")
        cat.write(dim2a, "d2")
        cat.write(
            fact1.join(dim1a, "o_custkey", "inner")
            .join(dim2a, "o_orderpriority", "inner").select(*cols),
            "v",
        )
        f_tail = CdfTail(cat, "f", key="o_orderkey")
        d1_tail = CdfTail(cat, "d1", key="o_custkey")
        d2_tail = CdfTail(cat, "d2", key="o_orderpriority")

        def refresh():
            return refresh_join_view_from_tails_star(
                spark, cat, "v", f_tail,
                [(d1_tail, "o_custkey"), (d2_tail, "o_orderpriority")],
                fact_key="o_orderkey",
            )

        # round 1: the fact batch
        cat.write(fact2.repartition(4), "f", mode="overwrite",
                  keep_versions=4)
        s1 = refresh()
        if not (s1["committed"] and s1["applied_fact"] >= 1):
            raise RuntimeError(f"round-1 refresh misbehaved: {s1}")
        # round 2: both dim batches in one round
        cat.write(dim1b, "d1", mode="overwrite", keep_versions=4)
        cat.write(dim2b, "d2", mode="overwrite", keep_versions=4)
        s2 = refresh()
        if not (s2["committed"] and all(n >= 1 for n in s2["applied_dims"])
                and s2["applied_fact"] == 0):
            raise RuntimeError(f"round-2 refresh misbehaved: {s2}")
        # round 3: quiescent — per-table watermarks suppress any rework
        s3 = refresh()
        if s3["committed"]:
            raise RuntimeError(f"quiescent refresh committed: {s3}")
        out = cat.table("v").select(*cols).localCheckpoint(eager=True)
    finally:
        for t in (f_tail, d1_tail, d2_tail):
            if t is not None:
                t.close()
        shutil.rmtree(root, ignore_errors=True)
    return out
