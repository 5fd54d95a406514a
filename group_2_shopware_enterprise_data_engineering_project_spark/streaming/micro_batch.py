"""Micro-batch streaming core (ST1 triggers, ST4 DLQ split, K1 sink,
ST7 accumulating KPI with exactly-once batch guard).

The reference's streaming is Kinesis records -> Lambda -> parquet
files, i.e. repeated small batches with no operator state (SURVEY
§1.1.2). Structured Streaming's file source + ``foreachBatch``
reproduces that exactly, and the ``availableNow`` trigger makes every
pipeline testable as a finite run.

ST1 parity: the reference flushes on count>=100 OR 10s elapsed
(reference src/streaming/WEB/services/scripts/api.py:22-23,169-181).
Spark's equivalents are ``maxFilesPerTrigger`` (size-bound) and
``trigger(processingTime=...)`` (time-bound) — both exposed here.

ST8: at-least-once retries are Spark's task retry + the checkpoint
dir; the KPI merge adds a batch-id guard so at-least-once delivery
still accumulates each batch exactly once (the additive MERGE is NOT
idempotent, so the guard is correctness, not hygiene).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate
from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
    write_hour_partitioned,
)


def stream_json_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """ST1 — file-based micro-batch source: each trigger consumes up to
    N newly-arrived files (the size-bound flush). Kinesis/Kafka swap in
    by replacing this one reader; everything downstream is unchanged."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def stage_ordered_batches(
    df: DataFrame,
    src_dir: str,
    n_batches: int,
    assign,
) -> None:
    """Test/backfill harness: write ``df`` into ``src_dir`` as
    ``n_batches`` single-file JSON drops with strictly increasing
    mtimes, so FileStreamSource (which orders by mtime) replays them
    as ordered micro-batches under ``maxFilesPerTrigger=1``.
    ``assign`` is a Column expression mapping each row to its batch in
    [0, n_batches). An empty batch writes only _SUCCESS and is
    skipped (fewer files; membership semantics unchanged). This is
    THE staging idiom for the stN queries — one copy, so fixes (like
    the empty-class skip st14 needed) propagate everywhere."""
    import os
    import shutil

    os.makedirs(src_dir, exist_ok=True)
    for b in range(n_batches):
        stage = f"{src_dir}/_stage_{b}"
        df.filter(assign == b).repartition(1).write.mode("overwrite").json(stage)
        part = next(
            (f for f in os.listdir(stage) if f.endswith(".json")), None
        )
        if part is not None:
            dest = os.path.join(src_dir, f"b{b}.json")
            shutil.move(os.path.join(stage, part), dest)
            t = os.path.getmtime(dest)
            os.utime(dest, (t + 10 * b, t + 10 * b))
        shutil.rmtree(stage, ignore_errors=True)


def source_bytes(path: str) -> int:
    """Total bytes staged under a file-stream source dir (local FS —
    the staging harness writes locally). Drives
    `state_shuffle_partitions` below."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


#: Staged input bytes per stateful shuffle partition, and the floor.
STATE_PARTITION_BYTES = 2 << 20
STATE_PARTITION_FLOOR = 4


def state_shuffle_partitions(spark: SparkSession, src_bytes: int) -> int:
    """Scale-adaptive partition count for STATEFUL streaming shuffles.

    A stateful operator (stream-stream join, windowed agg,
    dropDuplicates, applyInPandasWithState) instantiates one state
    store per shuffle partition — a stream-stream join keeps FOUR per
    partition per side — and every micro-batch pays an open + commit
    (delta-file write) per store instance, data or no data. AQE
    coalesces post-shuffle partitions for batch plans but NOT for
    stateful streaming exchanges (the count is pinned into the
    checkpoint at the first batch), so a core-count-sized default
    means megabyte-scale streams pay hundreds of empty state-store
    commits per batch; that fixed cost dominates small-stream wall
    time.

    Sizing rule: one partition per STATE_PARTITION_BYTES of staged
    input, never fewer than STATE_PARTITION_FLOOR, never more than the
    session's configured ``spark.sql.shuffle.partitions`` (which scales
    with the deployment, so the cap binds — and this becomes a no-op —
    for any input past ``default * STATE_PARTITION_BYTES``; the rule
    only shrinks the state-store count for small streams). The values
    are
    MEASURED, not guessed: a 5-point partition sweep at sf0.1
    (PERF.md r12) put every stateful headline query's optimum at 4-8
    partitions — below 4 the per-batch state commits stop dominating
    but real per-batch work serializes (worst for Python stateful
    functions); above ~8 the empty-store commits dominate again.
    Results are partition-count invariant; only the state-store
    instance count changes.
    """
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = max(STATE_PARTITION_FLOOR, -(-src_bytes // STATE_PARTITION_BYTES))
    return min(default, derived)


# Serializes scoped shuffle-partition overrides across driver threads
# (see run_available_now docstring).
_STATE_PARTITIONS_LOCK = threading.Lock()


def run_available_now(
    stream_df: DataFrame,
    checkpoint: str,
    batch_fn,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Drain everything currently available through `batch_fn(df, batch_id)`
    and stop — the finite-run harness for tests and backfills.

    ``output_mode``: Update-mode stateful operators (e.g.
    `stateful.running_user_stats`) are rejected by the default Append
    writer — pass "update" for those; with a foreachBatch sink the
    mode only gates which plans Spark accepts, the sink sees the same
    per-batch frames either way.

    ``state_partitions``: scoped override of
    ``spark.sql.shuffle.partitions`` for the duration of the run —
    pass `state_shuffle_partitions(...)` for stateful streams so the
    state-store instance count tracks the data, not the core count.
    The first run's value is pinned into the checkpoint's offset log,
    so Spark keeps it for later runs against the same checkpoint
    regardless of the session conf; passing the same derived value on
    every run keeps intent explicit. Restored in a finally, and the
    set/run/restore triple holds a module lock: without it, two
    overlapping scoped runs in a shared-session thread pool (the
    driver's concurrent harness) could capture each other's override
    as "prev" and leave the session default drifted after both
    restore. Spark.sql.shuffle.partitions has no per-plan override
    for stateful streams (the count is pinned from the conf into the
    checkpoint), so a scoped-and-locked session mutation is the only
    lever; every query's VALUES are partition-count invariant, so a
    concurrent batch query observing the transient override can only
    change plan width, never results (guarded by
    tools/concurrency_hash_check.py)."""
    with _state_partitions_scope(stream_df.sparkSession, state_partitions):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


@contextmanager
def _state_partitions_scope(spark: SparkSession, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` to ``n`` under
    `_STATE_PARTITIONS_LOCK` for the enclosed run, restoring it after;
    no lock and no override when ``n`` is None."""
    if n is None:
        yield
        return
    with _STATE_PARTITIONS_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def hour_partitioned_sink(
    stream_df: DataFrame,
    ts_col: str,
    path: str,
    checkpoint: str,
) -> StreamingQuery:
    """K1-as-stream-sink: every micro-batch lands hour-partitioned
    parquet, exactly the reference lambda's per-batch write."""
    return run_available_now(
        stream_df,
        checkpoint,
        lambda df, _bid: write_hour_partitioned(df, ts_col, path),
    )


def dlq_split_sink(
    stream_df: DataFrame,
    rules: list[validate.Rule],
    valid_fn,
    dlq_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """ST4 — per-batch valid/invalid split: valid rows go to `valid_fn`
    (any writer), invalid rows append to the DLQ path with their
    violation reasons (K7 semantics: reference
    src/streaming/CRM/services/consumer/lambda_function.py:120-156)."""

    def _batch(df: DataFrame, batch_id: int) -> None:
        ok, bad = validate.split(df, rules)
        valid_fn(ok, batch_id)
        validate.write_rejected(bad, dlq_path, "append")

    return run_available_now(stream_df, checkpoint, _batch)


def _stream_app_id(checkpoint: str) -> str:
    """Txn app id for a streaming sink, stored durably INSIDE the
    checkpoint directory (``stream_id`` file) on first use and reused
    ever after. Minted from the full absolute checkpoint path — batch
    ids are scoped to the checkpoint, so two different checkpoints that
    happen to share a leaf name ('<run>/ckpt' is this repo's own
    convention) must never share a txn lane — but PERSISTED so that
    relocating the checkpoint dir (or reaching it via a different
    mount/symlink) keeps the SAME lane: a path-derived id would mint a
    fresh lane on relocation, and the last in-flight batch of a
    non-idempotent additive sink could double-apply on resume."""
    import hashlib

    marker = os.path.join(checkpoint, "stream_id")
    try:
        with open(marker) as f:
            stored = f.read().strip()
        if stored:
            return stored
    except OSError:
        pass
    digest = hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]
    app_id = f"stream:{digest}"
    os.makedirs(checkpoint, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(app_id)
    os.replace(tmp, marker)
    return app_id


def accumulating_kpi_sink(
    stream_df: DataFrame,
    table: ParquetUpsertTable,
    key_cols: tuple[str, ...],
    sum_cols: tuple[str, ...],
    agg_fn,
    checkpoint: str,
) -> StreamingQuery:
    """ST7 — the POS KPI pattern as a stream: per micro-batch, aggregate
    with `agg_fn(df) -> (key_cols + sum_cols) DataFrame`, then additive-
    MERGE into the KPI table (reference transfom_pos.py:140-152).

    Exactly-once: the batch id rides in the table's atomic manifest
    commit (``txn=``) — data and batch id land in one os.replace, so a
    crash can never add a batch without recording it, and a replayed
    batch is a manifest-checked no-op. A txn-guarded merge always takes
    the snapshot path, so this holds on every table layout; on a KPI
    table partitioned by a key column it costs a full-table rewrite per
    batch. The per-stream app id comes from ``_stream_app_id`` (stored
    in the checkpoint dir), matching Structured Streaming's batch-id
    scope: a new checkpoint restarts ids at 0 AND yields a fresh app
    id."""
    app_id = _stream_app_id(checkpoint)

    def _batch(df: DataFrame, batch_id: int) -> None:
        table.upsert_additive(
            agg_fn(df), key_cols, sum_cols, txn=(app_id, batch_id)
        )

    return run_available_now(stream_df, checkpoint, _batch)


def replacing_dim_sink(
    stream_df: DataFrame,
    table: ParquetUpsertTable,
    key_cols: tuple[str, ...],
    order_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming REPLACE-merge (the inventory-dimension pattern as a
    stream, complementing `accumulating_kpi_sink`'s additive K5): per
    micro-batch, keep the latest row per key WITHIN the batch (ordered
    by ``order_col``), then replace-MERGE into the dimension table.
    Replace-merge is idempotent per batch content; the manifest txn
    (``txn=``, committed atomically with the data) additionally skips
    replayed batches so a restart does not
    even pay the merge cost. App id = hash of the full checkpoint path
    (see ``_stream_app_id``)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    app_id = _stream_app_id(checkpoint)

    def _batch(df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        latest = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        table.upsert_replace(latest, key_cols, txn=(app_id, batch_id))

    return run_available_now(stream_df, checkpoint, _batch)


def incremental_dedup_sink(
    stream_docs: DataFrame,
    doc_store: DataFrame,
    index_table: ParquetUpsertTable,
    pairs_table: ParquetUpsertTable,
    checkpoint: str,
    threshold: float = 0.4,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming near-dup ingestion — `minhash.incremental_dedup` as a
    stream: documents arrive in micro-batches, each batch is verified
    against the corpus-so-far via the persistent bucket INDEX table
    (ids + band digests, never text) and against itself, verified
    pairs land in the pairs table, and the batch's own buckets extend
    the index. ``doc_store`` is the id->text lookup side for the
    verify join (touched only for candidate ids).

    The emitted pair SET over a full run equals batch
    `minhash_lsh_dedup` over the whole corpus: a pair whose docs land
    in different batches is found exactly once — by the later batch's
    index probe — and a same-batch pair exactly once by that batch's
    self-join (st14's oracle states this equivalence literally).

    Per micro-batch, in this order:
      1. replay guard: skip if the pairs table already recorded this
         (app_id, batch_id) — the exactly-once gate;
      2. history index = index table MINUS this batch's ids (anti-join;
         makes a replayed or crashed-halfway batch safe — the index may
         already contain this batch's buckets, and probing your own
         entries would emit self-pairs);
      3. `incremental_dedup(batch, doc_store, index=history)` — eager;
      4. append the batch's buckets to the index (at-least-once;
         duplicates are harmless because candidate generation distincts
         on (new_id, ex_id));
      5. replace-MERGE pairs keyed (doc_a, doc_b) under the manifest
         txn — idempotent content + txn stamp = exactly-once.
    A crash between 4 and 5 replays into step 2's anti-join (no
    self-pairs) and step 4's duplicate-tolerant append.

    ``compact_every=N`` rewrites the index as one coalesced snapshot
    every N batches (after the append) — without it an unbounded
    stream accretes one small file per batch forever. Compaction is
    content-preserving and snapshot-atomic, so it is safe at any
    point relative to crashes and replays."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import minhash

    app_id = _stream_app_id(checkpoint)

    def _batch(df: DataFrame, batch_id: int) -> None:
        if pairs_table.last_txn(app_id) >= batch_id:
            return
        spark = df.sparkSession
        # one bucket_index pass per batch: the signature stage is the
        # compute-bound stage of the pipeline, and the SAME frame both
        # probes the history (via incremental_dedup) and lands in the
        # index table below
        buckets = minhash.bucket_index(df).localCheckpoint(eager=True)
        if index_table.exists():
            history = index_table.read().join(
                df.select("doc_id"), "doc_id", "anti"
            )
        else:
            # empty frame with the REAL index schema (derived from the
            # bucket_index plan, not a hand-copied StructType that
            # could drift from band_buckets' output)
            history = spark.createDataFrame([], buckets.schema)

        # Index maintenance (append + periodic compaction) needs only
        # the already-materialized `buckets`, so it runs on a driver
        # thread CONCURRENTLY with the dedup computation (guide §2.6 —
        # the per-batch wall here is many small serialized jobs, not a
        # hot stage). Safe by the same argument as the crash contract
        # above: the batch's buckets landing in the index before its
        # pairs commit is exactly the "crash between 4 and 5" replay
        # state, which step 2's anti-join already tolerates; `history`
        # was planned above, so its file listing predates the append,
        # and compaction's snapshot swap retains the version it reads
        # (prune keeps 2). The pairs merge (the txn commit) still runs
        # strictly LAST.
        maintain_err: list[BaseException] = []

        def _maintain_index() -> None:
            try:
                index_table.append(buckets)
                if compact_every and (batch_id + 1) % compact_every == 0:
                    index_table.compact()
            except BaseException as e:  # re-raised on the batch thread
                maintain_err.append(e)

        t = threading.Thread(
            target=_maintain_index, name="incremental-dedup-index-maintenance"
        )
        t.start()
        try:
            pairs = minhash.incremental_dedup(
                df,
                doc_store,
                index=history,
                threshold=threshold,
                new_buckets=buckets,
            )
        finally:
            t.join()
        if maintain_err:
            # a failed append/compact must fail the batch (streaming
            # retries it; pairs were not committed, so replay is safe)
            raise maintain_err[0]
        pairs_table.upsert_replace(
            pairs, ("doc_a", "doc_b"), txn=(app_id, batch_id)
        )

    return run_available_now(stream_docs, checkpoint, _batch)
