"""Streaming: continuous ingestion beyond the reference's micro-batches.

The reference has no continuous streaming — each ``pipeline.run()`` is a
micro-batch with a persisted cursor (SURVEY §2.J).  This module provides
both halves:

- :func:`run_incremental_batches` — the reference-equivalent
  Trigger.AvailableNow-style loop: repeated ``pipeline.run`` with the
  cursor state carrying across runs;
- :class:`StreamingPipeline` — true Structured Streaming:
  ``readStream`` file/rate sources -> (optional normalize) ->
  ``foreachBatch`` into the same TableStore dispositions, giving
  exactly-once loads via the idempotent load-id commit (the streaming
  analog of the reference's load-package protocol);
- :func:`watermark_dedup` — late-data dedup within a watermark
  (reference boundary dedup, ``transform.py:104``);
- :func:`sessionize_stream` — session windows (``session_window``), the
  operator class the reference lacks entirely.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..incremental import Incremental
from ..load import control
from ..pipeline.pipeline import LoadInfo, Pipeline


def run_incremental_batches(
    pipe: Pipeline,
    batches: Sequence[Any],
    table_name: str,
    incremental: Incremental,
    **run_kwargs: Any,
) -> list:
    """Reference-style micro-batching: each batch flows through
    ``pipeline.run`` and the cursor persists in `_dlt_pipeline_state`
    between batches (no duplicate loading across overlapping batches)."""
    infos = []
    for batch in batches:
        infos.append(
            pipe.run(batch, table_name=table_name, incremental=incremental, **run_kwargs)
        )
    return infos


def watermark_dedup(
    stream_df: DataFrame,
    event_time_col: str,
    keys: Sequence[str],
    delay: str = "1 hour",
) -> DataFrame:
    """Drop duplicate events within the watermark window — Structured
    Streaming keeps per-key state only for `delay`, so memory is bounded
    regardless of stream length."""
    return stream_df.withWatermark(event_time_col, delay).dropDuplicates(
        [*keys, event_time_col]
    )


def watermark_dedup_within(
    stream_df: DataFrame,
    event_time_col: str,
    keys: Sequence[str],
    delay: str = "1 hour",
) -> DataFrame:
    """Drop RE-DELIVERIES of the same logical event whose event times
    differ slightly (retries stamped at send time): unlike
    :func:`watermark_dedup`, the event-time column is NOT part of the
    key — ``dropDuplicatesWithinWatermark`` keeps one row per key set
    among rows whose times fall within the watermark delay of each
    other, with state bounded by the delay (Spark 3.5+)."""
    return stream_df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_counts(
    stream_df: DataFrame,
    event_time_col: str,
    window_duration: str = "10 minutes",
    slide: Optional[str] = None,
    delay: str = "1 hour",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling/sliding windowed aggregation with late-data allowance."""
    win = F.window(F.col(event_time_col), window_duration, slide)
    return (
        stream_df.withWatermark(event_time_col, delay)
        .groupBy(win, *[F.col(c) for c in group_cols])
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(c) for c in group_cols],
            "n",
        )
    )


def sessionize_stream(
    stream_df: DataFrame,
    event_time_col: str,
    gap: str = "30 minutes",
    delay: str = "1 hour",
    group_cols: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Session windows with an inactivity gap (the streaming twin of the
    batch sessionization query in __spark_entry__)."""
    win = F.session_window(F.col(event_time_col), gap)
    return (
        stream_df.withWatermark(event_time_col, delay)
        .groupBy(win, *[F.col(c) for c in group_cols])
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *[F.col(c) for c in group_cols],
            "n_events",
        )
    )


def stream_conversations(
    stream_df: DataFrame,
    user_col: str,
    ts_col: str,
    role_col: str,
    id_col: str,
    gap: str = "30 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of
    :func:`dlt_spark.dataops.conversation.assemble_conversations`:
    session-windowed conversation records assembled AS THE EVENTS LAND —
    one row per closed conversation with message/turn counts,
    alternation-QC violations, and the ordered transcript.

    Built on native ``session_window`` + watermark (state bounded by
    open sessions, emission on window close), with the turn structure
    computed from the ordered collected messages via array expressions —
    no Python in the stream, fully incremental, late data within
    ``delay`` merges into its session."""
    win = F.session_window(F.col(ts_col), gap)
    msgs = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(id_col).alias("id"),
                F.col(role_col).alias("role"),
            )
        )
    )
    roles = F.transform(F.col("_msgs"), lambda m: m["role"])
    # adjacent same-role count: zip roles with roles[1:]; zip_with pads
    # the shorter side with NULL, and NULL comparisons drop out of the
    # filter — so the trailing pad never counts
    same_adj = F.size(
        F.filter(
            F.zip_with(
                roles,
                F.slice(roles, 2, F.greatest(F.size(roles) - 1, F.lit(1))),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(win, F.col(user_col).alias("user"))
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.min(ts_col).alias("started_at"),
            F.max(ts_col).alias("ended_at"),
            msgs.alias("_msgs"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user",
            "n_messages",
            "started_at",
            "ended_at",
            (F.col("n_messages") - same_adj).alias("n_turns"),
            same_adj.alias("n_violations"),
            F.array_join(roles, ">").alias("transcript"),
        )
    )


def stateful_running_agg(
    stream_df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    timeout_minutes: int = 60,
):
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY §2.J): a per-key running (count, sum) that survives across
    micro-batches — the operator class the reference cannot express at
    all.  State is a single row per key; the timeout reaps idle keys so
    state size tracks the active key set, not stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    output_schema = f"{', '.join(k + ' string' for k in keys)}, n bigint, total double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {**{k: [str(v)] for k, v in zip(keys, key)}, "n": [n], "total": [total]}
        )

    return (
        stream_df.groupBy(*[F.col(k) for k in keys])
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


class StreamingPipeline:
    """Structured-Streaming loader: each micro-batch commits through the
    batch pipeline's LoadStage, so write dispositions, schema evolution,
    and the `_dlt_loads` protocol apply unchanged (exactly-once via
    checkpoint + idempotent load ids)."""

    def __init__(self, pipe: Pipeline, checkpoint_dir: str) -> None:
        import hashlib

        self.pipe = pipe
        self.checkpoint_dir = checkpoint_dir
        # stable stream identity: the checkpoint IS the stream (Spark ties
        # batch_id progression to it), so derive the load-id prefix from it
        self.stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]

    def _batch_load_id(self, batch_id: int) -> str:
        return f"stream-{self.stream_id}-{batch_id:012d}"

    def write_stream(
        self,
        stream_df: DataFrame,
        table_name: str,
        write_disposition: str = "append",
        trigger_available_now: bool = True,
        **run_kwargs: Any,
    ):
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # exactly-once under replay: the load id is a deterministic
            # function of (stream, batch); a micro-batch re-delivered
            # after a sink failure finds its id already committed in
            # `_dlt_loads` and becomes a no-op instead of a double load
            lid = self._batch_load_id(batch_id)
            if lid in control.load_ids(self.pipe.store):
                return
            self.pipe.run(
                batch_df, table_name=table_name, write_disposition=write_disposition,
                load_id=lid, **run_kwargs,
            )

        writer = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def stream_files(
    spark: "SparkSession",
    path: str,
    format: str = "parquet",
    schema: Optional["StructType"] = None,
    **options: str,
) -> DataFrame:
    """File-watch streaming source (the auto-ingest/auto-loader pattern):
    ``readStream`` over a growing directory — new files become
    micro-batches, checkpoint tracks which files were consumed, so
    drop-files-in-a-bucket ingestion is exactly-once end to end when
    paired with :class:`StreamingPipeline`.

    Structured Streaming requires an explicit schema; when omitted it is
    inferred from the files already present (one driver-side metadata
    read, not a data scan for parquet)."""
    if schema is None:
        schema = spark.read.format(format).options(**options).load(path).schema
    return spark.readStream.format(format).schema(schema).options(**options).load(path)


def monitor_stream(
    pipe: Pipeline,
    stream_df: DataFrame,
    checks,
    checkpoint_dir: str,
    table_name: str = "_stream",
    trigger_available_now: bool = True,
):
    """Per-micro-batch data-quality monitoring: run the expectation set
    (``dlt_spark.dataops.expectations``) against every micro-batch and
    append the stamped report to the pipeline's ``_dlt_dq_reports``
    system table — the streaming half of ``Pipeline.check``, sharing
    the same report schema so batch and streaming DQ history is ONE
    queryable table.

    The report aggregation is the same single-scan shape as the batch
    form (row-local checks fold into one wide conditional agg), so the
    monitor adds one narrow pass per micro-batch, not a per-check job.
    Failing checks never stop the stream — alerting belongs on the
    report table (``passed = false``), because killing ingestion on a
    null spike loses the very data needed to debug it."""
    from ..dataops.expectations import run_checks

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..dataops.expectations import persist_report

        rows = run_checks(batch_df, checks).collect()
        persist_report(
            pipe.store, rows, table_name, f"stream-batch-{batch_id:012d}"
        )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _sync_dedup_index(
    pipe: Pipeline,
    table_name: str,
    fp_table: str,
    bk_table: str,
    mk_table: str,
    id_col: str,
    text_col: str,
    idx_params: dict,
) -> tuple:
    """Bring the persisted dedup index up to date with the data table
    and return ``(fingerprints, buckets)``.

    Completeness is tracked by a MARKER table (``mk_table``): one row
    per load id, appended only AFTER both the fingerprint and bucket
    generations commit.  A crash between any of the three appends
    leaves the marker absent, so the next batch re-signs that load FROM
    THE STORED ROWS — the index converges to the table, never the other
    way, so a lagging index can only cause extra work, never a wrong
    dedup verdict.  (Keying on the fp rows themselves would break two
    ways: a crash between the fp and bucket appends would mark a load
    complete with no buckets, and a load whose rows all have NULL text
    appends zero fp rows and would be re-signed forever.)"""
    from pyspark.sql import functions as F

    store = pipe.store
    have: set = set()
    if mk_table in store.list_tables():
        mk_rows = store.read(mk_table).collect()
        have = {r["_load_id"] for r in mk_rows}
        # the hash family is PERSISTED with every marker: an index built
        # with different params must never silently band-join against
        # new-batch buckets (restarting with changed num_hashes would
        # otherwise drop the near-dup layer to ~zero candidates)
        stored = {
            (r["num_hashes"], r["bands"], r["shingle_n"])
            for r in mk_rows
            if "num_hashes" in r.asDict()
        }
        want = (
            idx_params["num_hashes"], idx_params["bands"], idx_params["shingle_n"]
        )
        if stored and stored != {want}:
            raise ValueError(
                f"persisted dedup index for {table_name!r} was built with"
                f" (num_hashes, bands, shingle_n) in {sorted(stored)} but this"
                f" stream is configured with {want}; drop the"
                f" {fp_table}/{bk_table}/{mk_table} tables to rebuild"
            )
    # candidate lids come from pipeline METADATA (tiny), not a corpus
    # scan; lids that loaded other tables yield empty generations plus a
    # marker, so each is reconciled exactly once
    all_lids = set(control.load_ids(pipe.store))
    missing = sorted(all_lids - have)
    if missing:
        data = store.read(table_name)
        for lid in missing:
            # a crash may have left PARTIAL generations for this lid
            # (fp appended, no marker): drop them first so the re-sign
            # is idempotent — duplicate bucket rows would multiply the
            # candidate-join fan-out on every later batch
            for t in (fp_table, bk_table):
                if t in store.list_tables():
                    existing = store.read(t)
                    if existing.filter(F.col("_load_id") == lid).limit(1).count():
                        store.overwrite(
                            existing.filter(F.col("_load_id") != lid), t
                        )
            rows = data.filter(F.col("_dlt_load_id") == lid).select(id_col, text_col)
            _append_index_generation(pipe, rows, lid, fp_table, bk_table, mk_table, id_col, text_col, idx_params)
    fp = store.read(fp_table).select("_fp")
    bk = store.read(bk_table).select("_id", "_bucket")
    # re-stamp the hash family so dedup_against's same-process guard
    # also fires for the persisted path
    bk._dlt_index_params = (
        idx_params["num_hashes"], idx_params["bands"], idx_params["shingle_n"]
    )
    return fp, bk


def _append_index_generation(
    pipe: Pipeline,
    rows: DataFrame,
    lid: str,
    fp_table: str,
    bk_table: str,
    mk_table: str,
    id_col: str,
    text_col: str,
    idx_params: dict,
) -> None:
    """Sign one load's rows into the index: fp + bucket generations,
    then the completeness marker LAST (see :func:`_sync_dedup_index`)."""
    from pyspark.sql import functions as F

    from ..dataops.dedup import build_dedup_index

    fp, bk = build_dedup_index(rows, id_col, text_col, **idx_params)
    pipe.store.append(fp.withColumn("_load_id", F.lit(lid)), fp_table)
    pipe.store.append(bk.withColumn("_load_id", F.lit(lid)), bk_table)
    pipe.store.append_rows(
        [{
            "_load_id": lid,
            "num_hashes": idx_params["num_hashes"],
            "bands": idx_params["bands"],
            "shingle_n": idx_params["shingle_n"],
        }],
        mk_table,
    )


def dedup_ingest(
    pipe: Pipeline,
    stream_df: DataFrame,
    checkpoint_dir: str,
    table_name: str,
    id_col: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    trigger_available_now: bool = True,
    use_index: bool = True,
    **dedup_kwargs,
):
    """Streaming dedup ingestion: every micro-batch is deduplicated
    within itself (exact) AND against everything already loaded into
    ``table_name`` (exact + MinHash near-dup via
    :func:`dlt_spark.dataops.dedup.dedup_against`), then the survivors
    commit through the batch pipeline with a replay-idempotent load id.

    The "dedup the crawl as it lands" operator: the reference corpus is
    the destination table itself, so the invariant — no two near-
    duplicate documents in the table — holds after every batch without
    a full-corpus recompute.

    With ``use_index`` (default), the corpus fingerprint + MinHash
    bucket tables are PERSISTED alongside the data
    (``_dlt_<table>_dedup_fp`` / ``_buckets``, one generation per load
    id) and only the new batch is fingerprinted and signed — per-batch
    cost is independent of corpus size, the 100 TB ingest-loop form.
    The index is self-healing: load ids missing from it (crash between
    data commit and index append) are re-signed from the stored rows on
    the next batch (see :func:`_sync_dedup_index`).  Results are
    identical with or without the index (same hash family and banding —
    pinned by tests).  Pass ``bloom_bits`` to prefilter the exact layer.
    """
    import hashlib

    from ..dataops.dedup import dedup_against, drop_exact_dups

    stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]
    fp_table = f"_dlt_{table_name}_dedup_fp"
    bk_table = f"_dlt_{table_name}_dedup_buckets"
    mk_table = f"_dlt_{table_name}_dedup_loads"
    idx_params = {
        "num_hashes": dedup_kwargs.get("num_hashes", 64),
        "bands": dedup_kwargs.get("bands", 16),
        "shingle_n": dedup_kwargs.get("shingle_n", 5),
        "use_arrow": dedup_kwargs.get("use_arrow", True),
    }

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        lid = f"dstream-{stream_id}-{batch_id:012d}"
        if lid in control.load_ids(pipe.store):
            return
        fresh = drop_exact_dups(batch_df, id_col, text_col)
        # explicit existence check, NOT a broad except: a read/schema
        # error must fail the batch loudly, never silently skip the
        # cross-corpus dedup (which would load duplicates)
        ref = None
        if table_name in pipe.store.list_tables():
            ref = pipe.store.read(table_name).select(id_col, text_col)
        if ref is not None:
            idx = (
                _sync_dedup_index(
                    pipe, table_name, fp_table, bk_table, mk_table,
                    id_col, text_col, idx_params,
                )
                if use_index
                else None
            )
            fresh = dedup_against(
                fresh, ref, id_col, text_col,
                jaccard_threshold=jaccard_threshold, ref_index=idx, **dedup_kwargs,
            )
        # dedup_against persists its input and exposes the handle for
        # the caller to release — a long-running stream must not leak
        # one cached batch per micro-batch
        to_release = list(getattr(fresh, "_dlt_persisted", []))
        if use_index:
            # pin the survivors once: the SAME materialized rows feed the
            # load AND the index signing — no post-commit corpus re-scan,
            # and the index provably matches what was committed
            fresh = fresh.localCheckpoint(eager=True)
            to_release.append(fresh)
        try:
            pipe.run(fresh, table_name=table_name, load_id=lid)
            if use_index:
                _append_index_generation(
                    pipe, fresh.select(id_col, text_col), lid,
                    fp_table, bk_table, mk_table, id_col, text_col, idx_params,
                )
        finally:
            for h in to_release:
                try:
                    h.unpersist()
                except Exception:
                    pass

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sample_ingest(
    pipe: Pipeline,
    stream_df: DataFrame,
    checkpoint_dir: str,
    table_name: str,
    key_col: str,
    k: int,
    salt: str = "samplek",
    trigger_available_now: bool = True,
):
    """Streaming deterministic reservoir: maintain EXACTLY the ``k``
    rows with the smallest salted key hashes across the whole stream —
    the distributed, replayable form of reservoir sampling (the
    hash-min selection is a mergeable monotone: union then re-take-k
    gives the same set as sampling the concatenated stream in one shot,
    so per-batch maintenance is exact, order-independent, and restart-
    safe).  Bounded turnover on growth, like consistent hashing.

    Per batch: union the stored sample with the new batch, keep the k
    smallest hashes (TakeOrdered, no global sort), overwrite the sample
    table with a replay-idempotent load id.  The stored table never
    exceeds ``k`` rows, so per-batch cost is the new batch scan plus an
    O(k) merge."""
    import hashlib

    from ..dataops.sampling import hash_fraction

    stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        lid = f"sstream-{stream_id}-{batch_id:012d}"
        if lid in control.load_ids(pipe.store):
            return
        cand = batch_df
        if table_name in pipe.store.list_tables():
            prev = pipe.store.read(table_name).select(*batch_df.columns)
            cand = cand.unionByName(prev)
        sample = (
            cand.withColumn("_hf", hash_fraction(F.col(key_col), salt))
            .orderBy(F.col("_hf").asc(), F.col(key_col).asc())
            .limit(k)
            .drop("_hf")
            .localCheckpoint(eager=True)
        )
        try:
            pipe.run(
                sample, table_name=table_name, write_disposition="replace",
                load_id=lid,
            )
        finally:
            sample.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decayed_ingest(
    pipe: Pipeline,
    stream_df: DataFrame,
    checkpoint_dir: str,
    table_name: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    half_life_hours: float = 168.0,
    trigger_available_now: bool = True,
):
    """Incrementally maintained exponentially-decayed scores: the
    freshness-weighted engagement table kept current as events land.

    Exponential decay is not mergeable like a sum, but it IS decayable:
    ``score(t2) = score(t1) * 0.5^((t2-t1)/hl) + batch_contrib(t2)``.
    Each batch advances the stored table's reference instant to the
    batch's max event time, decays every stored score by the elapsed
    factor (one narrow projection), and adds the new batch's decayed
    sums (:func:`dlt_spark.dataops.timeseries.decayed_sum` shape) —
    per-batch cost is the batch scan plus O(|keys|), never a replay of
    history.  Commits are replay-idempotent by load id.

    The stored table is ``(key, score_nano, as_of)``; scores agree with
    a from-scratch :func:`decayed_sum` over the full history at the
    same reference instant up to integer-nano rounding per batch
    (bounded drift: one rounding per key per batch)."""
    import hashlib

    stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]
    hl_ms = float(half_life_hours) * 3600000.0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        lid = f"dcstream-{stream_id}-{batch_id:012d}"
        if lid in control.load_ids(pipe.store):
            return
        batch = batch_df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        ref_row = batch.agg(F.max(ts_col).alias("m")).collect()[0]
        if ref_row["m"] is None:
            return
        ref = ref_row["m"]
        ref_ms = F.unix_millis(F.lit(ref))
        age_h = (ref_ms - F.unix_millis(F.col(ts_col))).cast("double") / F.lit(
            3600000.0
        )
        term = F.round(
            F.col(value_col).cast("double")
            * F.pow(F.lit(0.5), age_h / F.lit(float(half_life_hours)))
            * F.lit(1000000000.0)
        ).cast("bigint")
        contrib = batch.groupBy(F.col(key_col).alias("key")).agg(
            F.sum(term).alias("score_nano")
        )
        if table_name in pipe.store.list_tables():
            prev = pipe.store.read(table_name).select("key", "score_nano", "as_of")
            decay = F.pow(
                F.lit(0.5),
                (ref_ms - F.unix_millis(F.col("as_of"))).cast("double")
                / F.lit(hl_ms),
            )
            prev = prev.select(
                "key",
                F.round(F.col("score_nano").cast("double") * decay)
                .cast("bigint")
                .alias("score_nano"),
            )
            contrib = (
                contrib.unionByName(prev)
                .groupBy("key")
                .agg(F.sum("score_nano").alias("score_nano"))
            )
        out = contrib.withColumn("as_of", F.lit(ref)).localCheckpoint(eager=True)
        try:
            pipe.run(
                out, table_name=table_name, write_disposition="replace", load_id=lid
            )
        finally:
            out.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def index_ingest(
    pipe: Pipeline,
    stream_df: DataFrame,
    checkpoint_dir: str,
    index_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Incrementally maintained BM25 inverted index: each micro-batch's
    postings ``(token, id, tf)`` and doc-lengths ``(id, dl)`` append as
    a new generation (batches carry DISJOINT doc ids, so the union of
    generations IS the full-corpus index — counts never need
    re-aggregation), tracked by a marker table appended LAST for
    replay-idempotence (same protocol as the dedup index).

    Query with
    :func:`dlt_spark.dataops.search.bm25_from_index` over
    ``store.read(f"_dlt_{index_name}_postings")`` /
    ``..._doclens`` — the search path never re-tokenizes the corpus."""
    import hashlib

    from ..dataops.search import inverted_index

    stream_id = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]
    p_table = f"_dlt_{index_name}_postings"
    d_table = f"_dlt_{index_name}_doclens"
    m_table = f"_dlt_{index_name}_loads"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        lid = f"istream-{stream_id}-{batch_id:012d}"
        if m_table in pipe.store.list_tables():
            done = {r["_load_id"] for r in pipe.store.read(m_table).collect()}
            if lid in done:
                return
        # a crash between the postings/doclens appends and the marker
        # append leaves PARTIAL generations for this lid; the replayed
        # batch must drop them first or (token, doc, tf) / (doc, dl)
        # rows duplicate and inflate tf/df/n_docs for every later
        # bm25_from_index score (same re-sign protocol as
        # _sync_dedup_index above)
        for t in (p_table, d_table):
            if t in pipe.store.list_tables():
                existing = pipe.store.read(t)
                if existing.filter(F.col("_load_id") == lid).limit(1).count():
                    pipe.store.overwrite(
                        existing.filter(F.col("_load_id") != lid), t
                    )
        postings, doc_lens = inverted_index(
            batch_df.filter(F.col(text_col).isNotNull()), id_col, text_col
        )
        pipe.store.append(postings.withColumn("_load_id", F.lit(lid)), p_table)
        pipe.store.append(doc_lens.withColumn("_load_id", F.lit(lid)), d_table)
        pipe.store.append_rows([{"_load_id": lid}], m_table)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
