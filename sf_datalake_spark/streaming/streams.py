"""Structured Streaming operators.

The reference has NO streaming surface (SURVEY.md §2.10 — its temporal
logic is all batch windows), so this layer is the forward-looking twin:
the same (entity, time) semantics expressed over unbounded input.

- tumbling/sliding windowed aggregation with watermarks (late data
  bounded state) — the streaming form of the monthly panel rollup;
- ``F.session_window`` aggregation — the streaming form of
  ``operators.intervals.sessionize`` (same gap semantics, verified
  against the batch operator in tests);
- watermarked streaming dedup — the streaming form of exact dedup.

Scale notes: state size is bounded by the watermark horizon × key
cardinality; keys should be the natural entity id so state partitions
evenly. File sources here (what the tests drive); swap ``format`` for
kafka in production — the query shape is identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sf_datalake_spark.session import pinned, scoped_confs


def _state_partitions(spark: SparkSession, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query
    starts, then restore it (a :func:`scoped_confs` special case).

    The number of state-store partitions is fixed by the shuffle
    setting at CHECKPOINT CREATION and never changes afterwards, so it
    must be sized to the stateful workload, not inherited from the
    batch default: each partition costs a store open + snapshot +
    commit per stateful operator per micro-batch, so oversizing burns
    fixed overhead (measured locally: a stream-stream join at 32
    partitions is ~2× the wall-clock of the same join at 8), while
    undersizing caps stateful parallelism for the checkpoint's whole
    lifetime.  Rule of thumb at scale: target state-store partitions ≈
    expected live state bytes / 256 MB, rounded to the executor-core
    multiple — for the local test corpus that is single-digit.
    """
    return scoped_confs(
        spark, {} if n is None else {"spark.sql.shuffle.partitions": str(n)}
    )


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    file_format: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (schema mandatory — streaming never infers)."""
    reader = spark.readStream.schema(schema).format(file_format)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_aggregate(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    slide_duration: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation with a
    watermark bounding late data and state."""
    win = F.window(F.col(ts_col), window_duration, slide_duration)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys, win.alias("window"))
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_aggregate(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation: a session closes after ``gap`` of
    inactivity — the streaming twin of batch ``sessionize`` (same
    strict-greater gap semantics)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(F.col(ts_col), gap).alias("session"))
        .agg(*aggs)
        .withColumn("session_start", F.col("session.start"))
        .withColumn("session_end", F.col("session.end"))
        .drop("session")
    )


def streaming_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop duplicate rows by exactly ``keys`` across micro-batches.

    With ``ts_col``, uses ``dropDuplicatesWithinWatermark`` — the key's
    dedup state is reclaimed once the watermark passes (bounded state);
    ``ts_col`` itself is NOT part of the dedup key. Without it, plain
    ``dropDuplicates`` keeps state forever."""
    if ts_col:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def running_total_alerts(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    threshold: float,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: maintain a
    per-key running total across micro-batches and emit one row whenever
    the total first crosses ``threshold`` (then every further crossing of
    the next multiple). The kind of operator windows can't express —
    state is an arbitrary accumulator, emission is data-dependent.

    State = (total, alerts_emitted). Pass ``timeout_ms`` in long-running
    production streams to reclaim idle-key state; leave ``None`` for
    bounded/availableNow runs (a processing-time timeout keeps scheduling
    micro-batches until every timeout has fired, which stalls an
    availableNow drain). Output: (key..., alert_no, total, ts) rows.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"`{k}` {key_types[k]}" for k in keys)
        + ", alert_no int, total double, ts timestamp"
    )

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        cols = [*keys, "alert_no", "total", "ts"]
        if state.hasTimedOut:
            # idle key: reclaim its state (the whole point of timeout_ms)
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        total, emitted = state.get if state.exists else (0.0, 0)
        rows = []
        for pdf in pdfs:
            sp = pdf.sort_values(ts_col)
            # zip over the two touched columns — iterrows builds a
            # Series per row, ~40x slower (guide §4.2)
            for v, ts in zip(sp[value_col], sp[ts_col]):
                total += float(v)
                while total >= threshold * (emitted + 1):
                    emitted += 1
                    rows.append((*key, emitted, total, ts))
        state.update((total, emitted))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(rows, columns=cols)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="total double, emitted int",
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def event_transitions_stateful(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    seq_col: str,
    type_col: str,
) -> DataFrame:
    """Per-key event-transition emission as a custom stateful operator:
    state = the key's last (ts, seq, type); each micro-batch sorts its
    rows into the (ts, seq) total order, emits one (from_type, to_type)
    row per consecutive pair (bridging the batch boundary through the
    state), and stores the new tail.  Constant-size state per key — the
    streaming twin of the batch lag-window transition matrix, for
    feeds where recomputing the full window over history per refresh
    is the cost being avoided.

    Ordering contract: per-key data must ARRIVE in (ts, seq) order
    across micro-batches (within a batch any order is fine — the batch
    is sorted here).  True for the availableNow replay harness and any
    time-bucketed ingest; genuinely late events need the batch twin
    (or a watermark+sort stage upstream).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"`{k}` {key_types[k]}" for k in keys)
        + ", from_type string, to_type string"
    )

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        cols = [*keys, "from_type", "to_type"]
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        last_type = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            yield pd.DataFrame([], columns=cols)
            return
        # Vectorized pair build: sort once, shift by one; the state's
        # last type seeds position 0 (bridging the batch boundary).
        types = batch.sort_values([ts_col, seq_col])[type_col].reset_index(
            drop=True
        )
        from_types = types.shift(1)
        if last_type is not None:
            from_types.iloc[0] = last_type
        mask = from_types.notna()
        out = pd.DataFrame(
            {
                "from_type": from_types[mask].to_numpy(),
                "to_type": types[mask].to_numpy(),
            }
        )
        for k, v in zip(keys, key):
            out.insert(0, k, v)
        state.update((types.iloc[-1],))
        yield out[cols]

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_total_alerts_tws(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    threshold: float,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """:func:`running_total_alerts` on Spark 4's ``transformWithState``
    API — the successor to ``applyInPandasWithState`` and the form new
    stateful operators should take: state is TYPED and NAMED
    (``ValueState`` here; ``ListState``/``MapState``/timers for richer
    operators), TTL is a per-state declaration instead of hand-rolled
    timeout bookkeeping, and the backing store is RocksDB with
    changelog checkpointing (state no longer bounded by executor heap —
    the property that matters at 100 TB key cardinality).

    Same contract as :func:`running_total_alerts`: per-key running
    total, one row per crossing of each successive ``threshold``
    multiple (the twins are asserted equal in tests).  Requires the
    RocksDB state store provider — :func:`run_to_memory` pins it
    automatically when it sees a TransformWithState plan; set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` when running it yourself.
    Runtime dependency: the Python↔JVM state protocol uses protobuf
    (``google.protobuf``) — environments without it can't start the
    driver worker (the test gates on it; this container lacks it).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"`{k}` {key_types[k]}" for k in keys)
        + ", alert_no int, total double, ts timestamp"
    )
    cols = [*keys, "alert_no", "total", "ts"]

    class RunningTotalProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "running_total", "total double, emitted int", state_ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            got = self._state.get()
            total, emitted = got if got is not None else (0.0, 0)
            out = []
            for pdf in rows:
                sp = pdf.sort_values(ts_col)
                for v, ts in zip(sp[value_col], sp[ts_col]):
                    total += float(v)
                    while total >= threshold * (emitted + 1):
                        emitted += 1
                        out.append((*key, emitted, total, ts))
            self._state.update((total, emitted))
            yield pd.DataFrame(out, columns=cols)

        def close(self) -> None:
            pass

    # TTL state is only legal in ProcessingTime mode — Spark's
    # validateTTLConfig rejects a TTL'd getValueState under
    # timeMode="None", so the mode must follow the TTL request.
    return df.groupBy(*keys).transformWithStateInPandas(
        RunningTotalProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None" if state_ttl_ms is None else "ProcessingTime",
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_to_memory(
    stream: DataFrame,
    query_name: str,
    output_mode: str = "append",
    state_partitions: int | None = 8,
    final_watermark_batch: bool = True,
) -> DataFrame:
    """Run a streaming query to completion (availableNow trigger) into an
    in-memory table; returns the batch DataFrame of results. Test/debug
    sink — production uses parquet/kafka sinks with checkpointing.

    ``state_partitions`` sizes the state stores for the fresh
    checkpoint this run creates (see :func:`_state_partitions`); pass
    ``None`` to inherit the session's shuffle setting.  A
    TransformWithState plan additionally gets the RocksDB provider
    pinned (the API requires it; the default HDFS-backed store is
    rejected).

    ``final_watermark_batch`` (r10, guide §1.2 "don't compute things
    you throw away"): after the last data batch, Spark schedules one
    extra NO-DATA micro-batch so watermark-gated operators can emit
    final results and evict state — every state store instance pays a
    full open+snapshot+commit cycle for zero new rows (measured: 0.7–
    1.1 s of a 2.1 s stream-stream join drain at sf0.1).  Operators
    that emit EAGERLY (inner stream-stream joins, dropDuplicates,
    NoTimeout applyInPandasWithState, complete-mode aggregations whose
    result cannot change without input) produce a bit-identical result
    table without it — callers in that class pass False and the drain
    pins ``spark.sql.streaming.noDataMicroBatches.enabled=false``.
    Keep the default True for anything append-mode whose EMISSION
    (not just state cleanup) is watermark-triggered: append-mode
    windowed/session aggregations would lose their final windows.
    """
    extra: dict[str, str] = {}
    if not final_watermark_batch:
        extra["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if "TransformWithState" in stream._jdf.queryExecution().logical().toString():
        extra["spark.sql.streaming.stateStore.providerClass"] = _ROCKSDB_PROVIDER
    with scoped_confs(stream.sparkSession, extra), _state_partitions(
        stream.sparkSession, state_partitions
    ):
        q = (
            stream.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream.sparkSession.table(query_name)


def run_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    query_name: str = "upsert_sink",
    state_partitions: int | None = 8,
) -> None:
    """Maintain a keyed table under a stream with MERGE semantics: each
    micro-batch upserts into the parquet target via
    ``operators.merge.merge_upsert`` inside ``foreachBatch`` — the
    standard lakehouse streaming-MERGE pattern.

    ``stream`` must be an aggregated streaming frame in update/complete
    mode semantics (one row per key per batch). The target here is
    rewritten per batch (plain parquet has no transactional row
    updates); at production scale the same ``foreachBatch`` body writes
    through a transactional table format or partition-overwrites only
    the touched partitions — the merge PLAN is the part this engine
    owns, and it is one shuffle either way.
    """
    import os
    import shutil

    from sf_datalake_spark.operators.merge import merge_upsert

    keys = list(keys)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = batch_df.columns
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path).select(*cols)
            merged = merge_upsert(target, batch_df, keys)
        else:
            merged = batch_df
        # stage-and-swap: the merge reads the path it will replace, so
        # write the new version next to it and move it into place (the
        # local-FS stand-in for a table format's atomic commit)
        staging = f"{target_path}.staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        shutil.rmtree(target_path, ignore_errors=True)
        os.replace(staging, target_path)

    with _state_partitions(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_near_dup_gate(
    stream: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    query_name: str = "near_dup_gate",
    state_partitions: int | None = 8,
) -> None:
    """Streaming near-duplicate ADMISSION GATE: each micro-batch of
    documents is MinHash-LSH matched against the stored corpus
    (``dedup.lsh_pairs_against`` — batch-cost, never corpus²) AND
    against itself; only novel documents are appended to the corpus,
    so the stored table stays deduplicated as the stream grows.

    This is the streaming composition of the incremental-dedup
    operator: the corpus side persists signatures (``signature`` array
    column) so matching a batch re-reads kilobytes of stored signature
    per band bucket, not document text.  Batch-vs-batch duplicates
    resolve to the minimum id (the earliest admitted wins ties within
    one batch; across batches the stored copy always wins).

    At production scale the corpus write-through is a transactional
    append (the stage-and-swap below is the local-parquet stand-in,
    same as :func:`run_upsert_sink`), and the signature table is
    bucketed by band hash so the candidate join is exchange-free on
    the stored side.
    """
    import os
    import shutil

    from sf_datalake_spark.operators.dedup import (
        lsh_pairs_against,
        minhash_signature,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col)
        with pinned(minhash_signature(
            batch, id_col, text_col, num_hashes=num_hashes, shingle_n=3
        )) as sig_new:
            if os.path.exists(corpus_path):
                sig_base = spark.read.parquet(corpus_path)
                matches = lsh_pairs_against(
                    sig_new, sig_base, id_col,
                    bands=bands, rows_per_band=rows_per_band,
                    signature_length=num_hashes,
                )
            else:
                sig_base = None
                matches = lsh_pairs_against(
                    sig_new, sig_new.limit(0), id_col,
                    bands=bands, rows_per_band=rows_per_band,
                    signature_length=num_hashes,
                )
            # a doc is a duplicate if it matched the corpus (drop the
            # batch doc, new_id) OR a LOWER-id doc in its own batch
            # (within-batch pairs are emitted with new_id < match_id,
            # so the higher id — match_id — is the one dropped)
            dup_ids = (
                matches.filter(F.col("match_side") == "base")
                .select(F.col("new_id").alias(id_col))
                .unionByName(
                    matches.filter(F.col("match_side") == "new")
                    .select(F.col("match_id").alias(id_col))
                )
                .distinct()
            )
            novel = sig_new.join(dup_ids, id_col, "left_anti")
            appended = (
                sig_base.unionByName(novel) if sig_base is not None else novel
            )
            staging = f"{corpus_path}.staging-{batch_id}"
            appended.write.mode("overwrite").parquet(staging)
            shutil.rmtree(corpus_path, ignore_errors=True)
            os.replace(staging, corpus_path)

    with _state_partitions(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.foreachBatch(gate)
            .outputMode("append")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: each left event matches right events
    with the same keys whose timestamp falls in
    ``[left.ts, left.ts + max_delay]`` — the click→purchase attribution
    shape.  Both sides carry a watermark so Spark can bound the join
    state: a buffered left row is dropped once the right watermark
    passes ``left.ts + max_delay`` (and vice versa), which is what
    makes the operator runnable forever at 100 TB/day rather than
    accumulating both streams.

    Output columns: key cols, ``ts_l``, ``ts_r`` and the non-key
    payload columns of each side suffixed ``_l`` / ``_r``.
    """
    lw = left.withWatermark(ts_col, watermark)
    rw = right.withWatermark(ts_col, watermark)
    key_set = set(key_cols)
    lsel = [F.col(c).alias(c) for c in key_cols] + [
        F.col(c).alias(f"{c}_l") for c in left.columns if c not in key_set
    ]
    rsel = [F.col(c).alias(c) for c in key_cols] + [
        F.col(c).alias(f"{c}_r") for c in right.columns if c not in key_set
    ]
    lw, rw = lw.select(*lsel), rw.select(*rsel)
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & (lw[c] == rw[c])
    cond = (
        cond
        & (F.col(f"{ts_col}_r") >= F.col(f"{ts_col}_l"))
        & (
            F.col(f"{ts_col}_r")
            <= F.col(f"{ts_col}_l") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return (
        lw.alias("l")
        .join(rw.alias("r"), cond, "inner")
        .select(
            *[F.col(f"l.{c}") for c in key_cols],
            *[F.col(c) for c in lw.columns if c not in key_set],
            *[F.col(c) for c in rw.columns if c not in key_set],
        )
    )


def run_bloom_gate(
    stream: DataFrame,
    corpus_path: str,
    sketch_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 16,
    num_hashes: int = 4,
    query_name: str = "bloom_gate",
    state_partitions: int | None = 8,
) -> None:
    """Streaming EXACT-dedup admission gate with a Bloom pre-filter.

    Each micro-batch fingerprints its documents (md5 of text), probes
    the STORED corpus Bloom sketch, and splits: definitely-new
    fingerprints (the steady-state majority) are admitted without
    touching the corpus at all; maybe-members pay one exact
    verification join against the stored fingerprint table.  Admitted
    rows append to the corpus, and the sketch is OR-merged with the
    admitted fingerprints' bits — both via the same stage-and-swap the
    other sinks use.  Zero false rejections by construction (the Bloom
    filter has no false negatives, and maybe-members are verified
    exactly), so the admitted set equals batch exact-dedup-keep-first —
    which is what the SQL oracle replays.

    The scale contract: per-batch corpus I/O is the SKETCH (kilobytes,
    m/8 bytes regardless of corpus size) plus the exact join for just
    the maybe-member sliver — the stored fingerprint table is read
    only for that sliver's buckets, never scanned per batch.
    """
    import os
    import shutil

    from sf_datalake_spark.operators.bloom import (
        bloom_maybe_contains,
        bloom_merge,
        bloom_sketch,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, F.md5(F.col(text_col)).alias("fp"))
        # within-batch exact dedup: earliest id per fingerprint wins
        with pinned(
            batch.groupBy("fp").agg(F.min(id_col).alias(id_col))
        ) as batch:
            if os.path.exists(sketch_path):
                sketch = spark.read.parquet(sketch_path)
                gated = bloom_maybe_contains(
                    batch, "fp", sketch, m_bits, num_hashes
                )
                maybe = gated.filter(F.col("maybe_member")).drop("maybe_member")
                certain_new = gated.filter(~F.col("maybe_member")).drop(
                    "maybe_member"
                )
                stored = spark.read.parquet(corpus_path).select("fp")
                verified_new = maybe.join(stored, "fp", "left_anti")
                admitted = certain_new.unionByName(verified_new)
                new_sketch = bloom_merge(
                    sketch, bloom_sketch(admitted, "fp", m_bits, num_hashes)
                )
                appended = spark.read.parquet(corpus_path).unionByName(admitted)
            else:
                admitted = batch
                new_sketch = bloom_sketch(admitted, "fp", m_bits, num_hashes)
                appended = admitted
            # write BOTH stagings while the old corpus/sketch still
            # exist (the plans read them lazily), THEN swap — swapping
            # one before staging the other would let a recomputed
            # partition observe the new corpus mid-write
            stagings = []
            for path, frame in ((corpus_path, appended), (sketch_path, new_sketch)):
                staging = f"{path}.staging-{batch_id}"
                frame.write.mode("overwrite").parquet(staging)
                stagings.append((staging, path))
            for staging, path in stagings:
                shutil.rmtree(path, ignore_errors=True)
                os.replace(staging, path)

    with _state_partitions(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.foreachBatch(gate)
            .outputMode("append")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_sample_admissions(
    df: DataFrame,
    shard_col: str,
    sk_col: str,
    k: int,
) -> DataFrame:
    """Streaming exact-k sampling, shard stage: per shard, admit every
    row whose shuffle key is among the k smallest that shard has seen
    so far.  State per shard = the sorted array of (at most) k admitted
    shuffle keys — bounded regardless of stream length.

    Correctness: a row in the FINAL global top-k is by definition among
    its shard's k smallest at every later point, in particular at
    arrival — so re-ranking the admitted superset (≤ shards·k plus
    later-evicted early admissions) by the shuffle key and cutting at k
    yields exactly the batch ``exact_k_sample`` answer.  The consumer
    does that cut batch-side; this operator never needs retractions.

    Scale: admissions decay geometrically once shards warm up (a random
    arrival beats the current k-th smallest with probability k/n_seen),
    so sink volume is O(shards·k·log n), not O(n).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    dtypes = dict(df.dtypes)
    out_schema = ", ".join(f"`{c}` {t}" for c, t in df.dtypes)

    def fn(key, pdfs, state: GroupState):
        import bisect

        import pandas as pd

        cols = [c for c, _ in dtypes.items()]
        sk_idx = cols.index(sk_col)
        kept = list(state.get[0]) if state.exists else []
        admitted = []
        for pdf in pdfs:
            # name=None → plain tuples: itertuples would RENAME
            # underscore-prefixed columns (like a __sk shuffle key)
            for row in pdf[cols].sort_values(sk_col).itertuples(
                index=False, name=None
            ):
                sk = row[sk_idx]
                if len(kept) < k or sk < kept[-1]:
                    bisect.insort(kept, sk)
                    if len(kept) > k:
                        kept.pop()
                    admitted.append(row)
        state.update(([int(x) for x in kept],))
        yield pd.DataFrame(admitted, columns=cols)

    return df.groupBy(shard_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="kept array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_scd2_sink(
    stream: DataFrame,
    log_path: str,
    dim_path: str,
    key_cols: Sequence[str],
    seq_col: str,
    attr_cols: Sequence[str],
    tiebreak_col: str | None = None,
    query_name: str = "scd2_sink",
    state_partitions: int | None = 8,
) -> None:
    """Maintain a type-2 dimension under a change-log stream.

    Each micro-batch is appended to a keyed LOG store, then the SCD2
    dimension is rebuilt ONLY for the keys the batch touched
    (``operators.scd.scd2_build`` over the affected slice of the log)
    and swapped into the dimension table alongside the untouched rows.

    Rebuild-from-log makes the commit ORDER-INDEPENDENT: the dimension
    equals ``scd2_build`` over the entire accumulated log after every
    batch, even when a key's changes arrive across batches out of
    sequence order — the property version-append schemes only get
    under in-order delivery.  Per-batch cost is the touched keys'
    history (affected-key set is broadcast into both the log filter
    and the dimension anti-join), never the full log; at production
    scale the same ``foreachBatch`` body writes through a
    transactional table format, exactly like ``run_upsert_sink``.
    """
    import os
    import shutil

    from sf_datalake_spark.operators.scd import scd2_build

    keys = list(key_cols)

    def rebuild(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.write.mode("append").parquet(log_path)
        affected = batch_df.select(*keys).distinct()
        log = spark.read.parquet(log_path)
        aff_log = log.join(F.broadcast(affected), keys)
        rebuilt = scd2_build(
            aff_log, keys, seq_col, list(attr_cols), tiebreak_col
        )
        if os.path.exists(dim_path):
            untouched = spark.read.parquet(dim_path).join(
                F.broadcast(affected), keys, "left_anti"
            )
            new_dim = untouched.unionByName(rebuilt)
        else:
            new_dim = rebuilt
        staging = f"{dim_path}.staging-{batch_id}"
        new_dim.write.mode("overwrite").parquet(staging)
        shutil.rmtree(dim_path, ignore_errors=True)
        os.replace(staging, dim_path)

    with _state_partitions(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.foreachBatch(rebuild)
            .outputMode("append")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_skyline_sink(
    stream: DataFrame,
    target_path: str,
    max_col: str,
    min_col: str,
    query_name: str = "skyline_sink",
    state_partitions: int | None = 8,
) -> None:
    """Maintain a 2-D Pareto frontier under an insert stream.

    Dominance is transitive, so ``skyline(S ∪ B) = skyline(skyline(S)
    ∪ B)`` — each micro-batch only re-skylines the STORED FRONTIER
    plus the batch, never the full history.  Per-batch cost is
    ``|frontier| + |batch|`` (the frontier of a 2-D set is its
    distinct-maximized-value staircase — tiny), which is what makes a
    continuously-maintained skyline viable when the accumulated input
    is unbounded.  Stage-and-swap parquet commit like the other
    foreachBatch sinks; deletions would need the full history (a
    dominated-once point never returns under inserts — the monotone
    property this sink exploits).
    """
    import os
    import shutil

    from sf_datalake_spark.operators.skyline import skyline_2d

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = batch_df.columns
        if os.path.exists(target_path):
            union = (
                spark.read.parquet(target_path)
                .select(*cols)
                .unionByName(batch_df)
            )
        else:
            union = batch_df
        front = skyline_2d(union, max_col, min_col)
        staging = f"{target_path}.staging-{batch_id}"
        front.write.mode("overwrite").parquet(staging)
        shutil.rmtree(target_path, ignore_errors=True)
        os.replace(staging, target_path)

    with _state_partitions(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.foreachBatch(step)
            .outputMode("append")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
