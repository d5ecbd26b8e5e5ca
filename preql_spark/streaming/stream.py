"""Structured Streaming surface — additive scope (the reference has no
streaming at all, SURVEY.md §2.11); designed so the batch operators in
preql_spark.table compose onto streaming DataFrames where Spark allows.

Patterns: ``readStream`` sources, watermarked tumbling / sliding /
session windows, and a memory-sink test harness driven by the
``availableNow`` trigger (bounded replay of a parquet directory, which
is how the tests exercise real micro-batch execution offline).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from preql_spark.parquet_io import (_hadoop_fs_path, _jpath_cls,
                                    hadoop_dir_has_files)


def read_event_stream(spark: SparkSession, path: str,
                      schema=None, ts_col: str = "ts",
                      watermark: str = "1 hour") -> DataFrame:
    """File-based stream over a parquet directory with a watermark for
    late-data handling.  ``schema`` defaults to the static footprint of
    the same path (streaming reads require an explicit schema)."""
    if os.path.isfile(path):
        # the file-stream source requires a directory; expose a single
        # parquet file through a symlinked staging dir.  The staging
        # path is DETERMINISTIC per source file (content-addressed by
        # abspath) so a checkpointed restart resolves to the same
        # source path the offset log recorded.
        import hashlib
        digest = hashlib.md5(
            os.path.abspath(path).encode()).hexdigest()[:12]
        staging = os.path.join(tempfile.gettempdir(),
                               f"preql_stream_{digest}")
        os.makedirs(staging, exist_ok=True)
        link = os.path.join(staging, os.path.basename(path))
        if not os.path.islink(link):
            os.symlink(os.path.abspath(path), link)
        path = staging
    from preql_spark.parquet_io import NANOS_CONF, nanos_timestamp_cols, \
        normalize_event_ts
    # the NTZ→LTZ cast in normalize_event_ts is wall-clock-preserving
    # only under UTC; default_session pins it, but this function accepts
    # any SparkSession — pin here too so a caller-supplied session can't
    # silently shift event instants across window/watermark boundaries
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(NANOS) parquet needs the nanos-as-long bridge; only
    # touch the session conf when such columns actually exist (the
    # schema check is the same one Engine.load_dir uses)
    if nanos_timestamp_cols(path):
        spark.conf.set(NANOS_CONF, "true")
    if schema is None:
        static = spark.read.parquet(path)
        schema = static.schema
    sdf = spark.readStream.schema(schema).parquet(path)
    sdf = normalize_event_ts(sdf, ts_col)
    return sdf.withWatermark(ts_col, watermark)


def tumbling_agg(stream: DataFrame, duration: str, ts_col: str = "ts",
                 keys: list[str] | None = None, **aggs) -> DataFrame:
    """Tumbling-window aggregate: one result row per (window, keys)."""
    group = [F.window(F.col(ts_col), duration)] + [F.col(k) for k in (keys or [])]
    out = stream.groupBy(*group).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(F.col("window.start").alias("window_start"),
                      F.col("window.end").alias("window_end"),
                      *(keys or []), *aggs.keys())


def sliding_agg(stream: DataFrame, duration: str, slide: str,
                ts_col: str = "ts", keys: list[str] | None = None,
                **aggs) -> DataFrame:
    """Sliding-window aggregate (window length ``duration``, advancing
    every ``slide``)."""
    group = [F.window(F.col(ts_col), duration, slide)] \
        + [F.col(k) for k in (keys or [])]
    out = stream.groupBy(*group).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(F.col("window.start").alias("window_start"),
                      F.col("window.end").alias("window_end"),
                      *(keys or []), *aggs.keys())


def session_agg(stream: DataFrame, gap: str, ts_col: str = "ts",
                keys: list[str] | None = None, **aggs) -> DataFrame:
    """Session-window aggregate: windows close after ``gap`` of
    inactivity per key (the streaming form of q44_sessionize)."""
    group = [F.session_window(F.col(ts_col), gap)] \
        + [F.col(k) for k in (keys or [])]
    out = stream.groupBy(*group).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(F.col("session_window.start").alias("session_start"),
                      F.col("session_window.end").alias("session_end"),
                      *(keys or []), *aggs.keys())


def stateful_counter(stream: DataFrame, key_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-key running event count + last-seen timestamp carried in
    explicit GroupState across micro-batches — the pattern for
    operators that watermarked windows can't express (running totals,
    custom session logic, online features)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "key long, n_events long, last_epoch double"
    state_schema = "n long, last double"

    def update(key, pdfs, state: GroupState):
        n, last = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            mx = pdf[ts_col].max()
            if pd.notna(mx):
                last = max(last, mx.timestamp())
        state.update((n, last))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n],
                            "last_epoch": [last]})

    return (stream.groupBy(F.col(key_col))
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_dedup(stream: DataFrame, keys: list[str],
                 within_watermark: bool = True) -> DataFrame:
    """Exactly-once event dedup on a stream: drop rows whose ``keys``
    were already seen.  With ``within_watermark`` (Spark 3.5+
    ``dropDuplicatesWithinWatermark``) the dedup state is EVICTED once
    the watermark passes — bounded state, the only formulation that
    survives an unbounded 100 TB/day stream.  Plain
    ``dropDuplicates`` keeps every key forever and is only safe on
    bounded backfills."""
    if within_watermark:
        try:
            return stream.dropDuplicatesWithinWatermark(keys)
        except AttributeError:  # pragma: no cover - pre-3.5 fallback
            pass
    return stream.dropDuplicates(keys)


def stream_join(left: DataFrame, right: DataFrame, keys: list[str],
                how: str = "inner",
                left_ts: str = "ts", right_ts: str = "ts",
                within: str | None = None) -> DataFrame:
    """Stream-stream equi-join.  ``within`` adds the event-time range
    constraint (right.ts in [left.ts - within, left.ts + within])
    that lets Spark EVICT join state as the watermarks advance —
    without it, inner-join state grows forever and outer joins are
    rejected outright.  Both inputs must be watermarked
    (read_event_stream does this)."""
    r = right
    for k in keys:
        r = r.withColumnRenamed(k, f"__r_{k}")
    if right_ts == left_ts:
        r = r.withColumnRenamed(right_ts, f"__r_{right_ts}")
        right_ts = f"__r_{right_ts}"
    cond = None
    for k in keys:
        c = left[k] == r[f"__r_{k}"]
        cond = c if cond is None else (cond & c)
    if within is not None:
        lo = F.expr(f"{right_ts} >= {left_ts} - INTERVAL {within}")
        hi = F.expr(f"{right_ts} <= {left_ts} + INTERVAL {within}")
        cond = cond & lo & hi
    out = left.join(r, cond, how)
    return out.drop(*[f"__r_{k}" for k in keys])


def stream_to_parquet(result: DataFrame, path: str, checkpoint: str,
                      output_mode: str = "append",
                      available_now: bool = True):
    """Durable streaming sink: exactly-once parquet append driven by
    the checkpoint (offset + commit log).  With ``available_now`` the
    query drains the currently-available input and stops — the batch
    backfill pattern; pass False for a continuously-running query.
    Returns the StreamingQuery (caller owns awaitTermination)."""
    w = (result.writeStream.format("parquet")
         .option("path", path)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def incremental_rollup(spark: SparkSession, src_path: str, dest_path: str,
                       checkpoint: str, duration: str = "1 hour",
                       ts_col: str = "ts", keys: list[str] | None = None,
                       watermark: str = "0 seconds", **aggs):
    """Continuous aggregate (hypertable-rollup shape): maintain a
    time-bucketed rollup of an append-only event directory, processing
    ONLY files that arrived since the last run (the checkpoint's file
    log is the incremental state).  Append mode emits a window once
    the watermark passes its end, so each window lands in the rollup
    exactly once — re-running against unchanged input is a no-op, and
    a 100 TB/day feed costs each day's delta, not a full recompute.
    Windows still inside the watermark stay pending until a later run
    closes them.  Returns after draining currently-available input."""
    stream = read_event_stream(spark, src_path, ts_col=ts_col,
                               watermark=watermark)
    agg = tumbling_agg(stream, duration, ts_col=ts_col, keys=keys, **aggs)
    q = stream_to_parquet(agg, dest_path, checkpoint, output_mode="append")
    q.awaitTermination()
    return spark.read.parquet(dest_path)


def run_to_memory(result: DataFrame, name: str,
                  output_mode: str = "complete") -> DataFrame:
    """Execute a streaming query to completion over the currently
    available data (availableNow trigger) into a memory sink, and
    return the materialized result as a batch DataFrame — the offline
    test harness for streaming plans."""
    q = (result.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return result.sparkSession.table(name)


# ---- the ingest skeleton ---------------------------------------------------
# Every incremental_*_ingest below drains its source through _drain
# with its own foreachBatch sink.  The sinks share two per-epoch
# bodies: _epoch_fold (ids anti-join → fold → (run_id, batch_id)-
# guarded state append → ids append LAST) and _sidecar_epoch (the
# ids-sidecar + intent crash protocol).  _drop_seen is the ids-only
# anti-join every idempotence contract here rests on.


def _drain(spark: SparkSession, src_path: str, checkpoint: str, schema,
           sink) -> None:
    """Run ``sink(batch, batch_id)`` as the ``foreachBatch`` body of an
    availableNow file stream over ``src_path`` and block until the
    currently-available input is drained.  The checkpoint's file log
    is the incremental state: a re-run sees only files that arrived
    since, and an epoch that crashed re-delivers under its batch id."""
    (spark.readStream.schema(schema).parquet(src_path)
     .writeStream.foreachBatch(sink)
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def _read_if_any(s: SparkSession, path: str, depth: int = 0,
                 refresh: bool = False) -> DataFrame | None:
    """The parquet store at ``path``, or None while it has no files
    (``depth=1`` for a partitioned store).  ``refresh`` drops cached
    file listings first: a recovery read must see files appended by a
    CRASHED previous attempt — possibly another process, or an
    earlier in-session try whose write did not route through this
    session's cache invalidation — or its anti-join silently misses
    them."""
    if not hadoop_dir_has_files(s, path, depth=depth):
        return None
    if refresh:
        s.catalog.refreshByPath(path)
    return s.read.parquet(path)


def _drop_seen(frame: DataFrame, key: str, store: DataFrame | None,
               col: str | None = None) -> DataFrame:
    """``frame`` minus the rows whose ``key`` appears in column ``col``
    (default ``key``) of ``store``: a left-anti join against the
    store's column-pruned distinct ids.  A None store (no files yet)
    drops nothing."""
    if store is None:
        return frame
    seen = store.select(F.col(col or key).alias("__seen")).distinct()
    return frame.join(seen, frame[key] == seen["__seen"], "left_anti")


def _epoch_fold(state_path: str, ids_path: str, id_col: str, run_id: str,
                fold, extra=None, dedup: bool = True):
    """The foreachBatch sink of an epoch-guarded fold ingest (the
    value histograms, data card, gate rate, HLL and t-digest).  Per
    epoch, in order:

    1. anti-join the ids store (a re-delivered id folds nothing);
    2. drop in-batch duplicate ids, first writer wins — a duplicate
       would double-fold (skip with ``dedup=False`` where the fold
       ignores repeats: HLL);
    3. persist the batch — one scan feeds every consumer;
    4. ``fold(batch)`` builds the epoch's state rows, stamped with
       ``batch_id`` and the lineage's ``run_id``;
    5. anti-join them against the state's committed ``(run_id,
       batch_id)`` set: counter sums and digest merges are NOT
       re-apply-idempotent, so an epoch re-delivered after a crash
       between the state and ids appends must not fold twice;
    6. append them as ONE file, so a crash mid-append cannot freeze a
       PARTIAL wave behind the epoch guard;
    7. ``extra(s, batch)``, if given (the data card's inventory);
    8. append the batch ids LAST — the fold must run before it,
       because foreachBatch re-resolves parquet listings per action
       and a later action would anti-join the batch's own ids away;
    9. unpersist, also when a step raises.

    The state reads through :func:`_read_state` with the writer's
    schema, so pre-guard legacy files bridge to the closed
    ``('__legacy__', -1)`` lineage."""
    def _sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        batch = _drop_seen(batch, id_col, _read_if_any(s, ids_path))
        if dedup:
            batch = batch.dropDuplicates([id_col])
        batch = batch.persist()
        try:
            rows = (fold(batch)
                    .withColumn("batch_id",
                                F.lit(int(batch_id)).cast("long"))
                    .withColumn("run_id", F.lit(run_id)))
            if hadoop_dir_has_files(s, state_path):
                st = _read_state(s, state_path, schema=rows.schema)
                rows = rows.join(
                    st.select("run_id", "batch_id").distinct(),
                    ["run_id", "batch_id"], "left_anti")
            rows.coalesce(1).write.mode("append").parquet(state_path)
            if extra is not None:
                extra(s, batch)
            batch.select(id_col).write.mode("append").parquet(ids_path)
        finally:
            batch.unpersist(blocking=False)
    return _sink


def _sidecar_epoch(s: SparkSession, rows: DataFrame, batch_id: int,
                   ids_path: str, run_id: str, key: str, seen,
                   append) -> None:
    """One epoch of the ids-sidecar crash protocol shared by
    :func:`incremental_ivf_ingest` and
    :func:`incremental_curation_ingest` (``ids_path`` given).
    ``rows`` is the epoch's in-batch-deduped frame keyed by ``key``;
    ``seen(s)`` reads the caller's ground-truth store (None while it
    is empty) and ``append(rows)`` writes the survivors to it.  The
    sidecar holds ``(__id, run_id, batch_id)`` rows; the intent store
    ``<ids_path>__intent`` holds one ``(run_id, batch_id)`` row per
    started epoch, written BEFORE the store append:

    - epoch already in the SIDECAR → the whole batch committed; the
      replay is a no-op.
    - epoch in the INTENT store only → the previous attempt crashed
      around the store append; this recovery epoch anti-joins the
      ground-truth store (which holds exactly the rows that must not
      double-append), then completes the ids row.
    - epoch in neither → fast path: intent row, then anti-join the
      sidecar only."""
    this_epoch = ((F.col("run_id") == run_id)
                  & (F.col("batch_id") == int(batch_id)))
    ids = _read_if_any(s, ids_path)
    if ids is not None and not ids.filter(this_epoch).isEmpty():
        return   # epoch fully committed; checkpoint replay no-op
    intent_path = ids_path.rstrip("/") + "__intent"
    intent = _read_if_any(s, intent_path)
    crashed = intent is not None and not intent.filter(this_epoch).isEmpty()
    all_ids = rows.select(F.col(key).alias("__id"))   # full deduped set
    if crashed:
        rows = _drop_seen(rows, key, seen(s))   # store is ground truth
    else:
        # JVM-side one-row frame: createDataFrame(...).coalesce(1)
        # costs seconds (one task evaluating every parent Python-RDD
        # partition); range(1) writes one file in ms
        (s.range(1)
         .select(F.lit(run_id).alias("run_id"),
                 F.lit(int(batch_id)).cast("long").alias("batch_id"))
         .write.mode("append").parquet(intent_path))
        rows = _drop_seen(rows, key, ids, "__id")
    # eager localCheckpoint, NOT persist: the survivors feed TWO
    # actions (store append, then ids append), and in recovery the
    # anti-join reads the very store the first action appends to —
    # foreachBatch re-resolves parquet listings per action, so a
    # recomputed second action would see the batch's own rows in the
    # store and anti-join ITSELF away (no ids row written — caught by
    # the crash-injection pytest).  The checkpoint cuts the lineage
    # so both actions read the materialized survivors
    rows = rows.localCheckpoint(eager=True)
    append(rows)
    # the sidecar row set: on the fast path the survivors suffice
    # (non-survivors were dropped BY the sidecar, so they are in it
    # already) — but in RECOVERY the anti-join ran against the STORE,
    # and ids the crashed attempt already appended (or that the
    # caller's append filters out, like curation's gate-rejects) are
    # NOT in the sidecar; writing only survivors would leave them
    # sidecar-invisible forever, so a LATER epoch re-delivering them
    # would fast-path anti-join the sidecar alone and re-append them.
    # Recovery therefore writes the FULL deduped batch id set; the
    # sidecar probe distincts, so overlap with other epochs' rows is
    # harmless.  Every epoch ALSO writes one NULL-__id epoch-marker
    # row: an all-duplicates batch (at-least-once re-delivery as new
    # files) would otherwise commit ZERO sidecar rows, leaving replay
    # detection hanging on its intent row forever — the marker makes
    # "epoch committed" sidecar-decidable, so the intent store prunes
    # to EMPTY in steady state (:func:`compact_ingest_ids`).  NULL
    # never equi-joins, so the dedup probe is blind to markers
    id_t = rows.schema[key].dataType
    mark = (all_ids if crashed
            else rows.select(F.col(key).alias("__id"))).unionByName(
        s.range(1).select(F.lit(None).cast(id_t).alias("__id")))
    (mark
     .withColumn("run_id", F.lit(run_id))
     .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
     .coalesce(1).write.mode("append").parquet(ids_path))


def incremental_dedup_ingest(spark: SparkSession, src_path: str,
                             store_path: str, checkpoint: str,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Incremental corpus ingestion with dedup against everything
    already ingested — the streaming face of exact dedup: each
    micro-batch of new files is fingerprinted, deduped within itself
    (min id per fingerprint), anti-joined against the store's
    fingerprint column, and appended to the store.

    ``foreachBatch`` is the deliberate escape hatch here: the
    anti-join targets a batch table that GROWS as the query runs,
    which no pure streaming operator expresses.  Idempotence is
    content-addressed — a replayed batch (checkpoint recovery) finds
    its fingerprints already in the store and appends nothing, so the
    sink is exactly-once at content level without transactional
    writes.

    Scale shape per batch: one batch scan + one fingerprint-keyed
    anti-join whose store side is column-pruned to the 8-byte
    fingerprint; the store's text is never re-read.  Returns the
    store as a batch DataFrame after draining available input.

    The "store already has files?" probe goes through the Hadoop
    FileSystem API (:func:`preql_spark.parquet_io.hadoop_dir_has_files`),
    so the store may live on any URI Spark can write —
    ``hdfs://``/``s3a://`` included, not just the local disk."""
    from preql_spark.operators.text import fingerprint64

    schema = _source_schema(spark, src_path, checkpoint)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        b = batch.withColumn("__fp", fingerprint64(F.col(text_col)))
        winners = (b.groupBy("__fp").agg(F.min(id_col).alias(id_col))
                   .select(id_col))
        b = b.join(winners, id_col, "left_semi")
        b = _drop_seen(b, "__fp", _read_if_any(batch.sparkSession,
                                               store_path))
        b.write.mode("append").parquet(store_path)

    _drain(spark, src_path, checkpoint, schema, _sink)
    return spark.read.parquet(store_path)


def incremental_neardup_ingest(spark: SparkSession, src_path: str,
                               store_path: str, checkpoint: str,
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               n_hashes: int = 16, bands: int = 8,
                               shingle_k: int = 3,
                               threshold: float = 0.9,
                               max_bucket: int = 200,
                               state_path: str | None = None,
                               shingle_mode: str = "string") -> DataFrame:
    """Incremental corpus ingestion that drops NEAR-duplicates (not
    just exact ones) against everything already seen — the streaming
    face of :func:`preql_spark.operators.dedup.minhash_lsh_pairs`.

    Contract: a new document is rejected iff it has a verified
    near-duplicate (exact shingle-Jaccard >= ``threshold``) with a
    LOWER id among all documents seen so far, or ANY already-seen
    document from an earlier wave (first-seen-wins — a new document
    is rejected against state witnesses regardless of id order, and
    an accepted document is never retroactively dropped).  When waves
    arrive in id order — the append-only ingestion shape — the two
    rules coincide and the surviving store equals the one-shot batch
    rule "drop id_b of every minhash near-dup pair", which is what
    the q126 oracle replays.

    State (``state_path``, default ``<store>_state``) holds one row
    per SEEN document — kept or dropped — with its ``bands`` band
    keys (8 bytes each) and distinct shingle set.  Scale shape per
    batch: candidate generation joins the batch's NARROW (id, band,
    key) rows against the state's equally narrow exploded band
    columns; shingle arrays are only joined for the candidate ids
    (the band join, not the corpus, bounds that fan-in).  Dropped
    documents must stay in the state: they can still be the witness
    that rejects a later near-copy of themselves.

    Idempotence: a replayed batch (checkpoint recovery) is id-anti-
    joined against the state first, so it appends nothing.

    ``shingle_mode`` sets what the state's per-document shingle set
    stores for the exact-Jaccard verify: ``"string"`` (default) keeps
    the shingle text — byte-exact equality with the batch operators;
    ``"hash"`` keeps 8-byte xxhash64 values — the 100 TB path (state
    size per doc drops to 8 B × distinct shingles, and set-Jaccard
    over hashes equals string-Jaccard up to a ~2⁻⁶⁴-per-pair
    collision; pytest asserts the two modes agree on the fixtures)."""
    from pyspark.sql import Window

    from preql_spark.operators.dedup import (minhash_signature_df,
                                             shingles_from_tokens)
    from preql_spark.operators.text import tokens

    if shingle_mode not in ("string", "hash"):
        raise ValueError(
            f"shingle_mode must be string/hash, got {shingle_mode!r}")
    if bands < 1 or n_hashes % bands:
        raise ValueError(
            f"bands must divide n_hashes, got {n_hashes}/{bands}")
    state_path = state_path or store_path.rstrip("/") + "_state"
    rows_per_band = n_hashes // bands
    # a state built under the other shingle_mode must be rejected, not
    # coerced: unionByName would silently cast the state's sh column
    # (array<long> vs array<string>) to strings, making every
    # cross-wave Jaccard 0 — near-dups of earlier waves get ACCEPTED
    if hadoop_dir_has_files(spark, state_path):
        from pyspark.sql.types import ArrayType, LongType, StringType
        have = spark.read.parquet(state_path).schema["sh"].dataType
        want = ArrayType(StringType() if shingle_mode == "string"
                         else LongType(), True)
        if not isinstance(have, ArrayType) or \
                have.elementType != want.elementType:
            raise ValueError(
                f"state at {state_path} stores sh: {have.simpleString()}"
                f" but shingle_mode={shingle_mode!r} needs "
                f"{want.simpleString()} — re-invoke with the mode the "
                "state was built with, or point at a fresh state_path")
    schema = _source_schema(spark, src_path, checkpoint)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        st = _read_if_any(s, state_path)
        batch = _drop_seen(batch, id_col, st)
        # tokenize in its own projection: shingling slices the token
        # array per shingle, and an inline tokens() expression would
        # re-run the regex split for every slice
        sh_text = shingles_from_tokens(F.col("__t"), shingle_k)
        sh_col = sh_text if shingle_mode == "string" else \
            F.array_distinct(F.transform(sh_text,
                                         lambda x: F.xxhash64(x)))
        sh = (batch.select(F.col(id_col).alias("__id"),
                           tokens(F.coalesce(F.col(text_col), F.lit("")))
                           .alias("__t"))
              .select("__id", sh_col.alias("__sh")).persist())
        new_state = None
        try:
            sig = minhash_signature_df(sh, "__id", "__sh", n_hashes,
                                       portable=False)
            band_arr = F.array(*[
                F.hash(F.slice("__sig", b * rows_per_band + 1,
                               rows_per_band))
                for b in range(bands)])
            # LEFT join + empty-array coalesce: a doc whose text
            # yields no shingles (NULL/empty) has no signature rows,
            # but it is still SEEN — it must land in the state (replay
            # idempotence) even though it can never band-match
            new_state = sig.select("__id", band_arr.alias("__bands")) \
                .join(sh, "__id", "right") \
                .select(F.col("__id").alias(id_col),
                        F.coalesce(F.col("__bands"),
                                   F.array().cast("array<int>"))
                        .alias("bands"),
                        F.coalesce(F.col("__sh"), F.array().cast(
                            "array<string>" if shingle_mode == "string"
                            else "array<long>"))
                        .alias("sh")).persist()
            batch_banded = new_state.select(
                F.col(id_col).alias("__id"), F.lit(False).alias("__st"),
                F.posexplode("bands").alias("__band", "__bkey"))
            all_banded, all_sh = batch_banded, sh
            if st is not None:
                all_banded = all_banded.unionByName(st.select(
                    F.col(id_col).alias("__id"), F.lit(True).alias("__st"),
                    F.posexplode("bands").alias("__band", "__bkey")))
                all_sh = all_sh.unionByName(st.select(
                    F.col(id_col).alias("__id"), F.col("sh").alias("__sh")))
            wb = Window.partitionBy("__band", "__bkey")
            all_banded = (all_banded
                          .withColumn("__bn", F.count(F.lit(1)).over(wb))
                          .filter(F.col("__bn") <= max_bucket).drop("__bn"))
            # the witness side (a) is any STATE doc — first-seen-wins
            # regardless of id order — or a lower-id doc of this batch
            a, b = all_banded.alias("a"), batch_banded.alias("b")
            cands = (a.join(b, (F.col("a.__band") == F.col("b.__band"))
                            & (F.col("a.__bkey") == F.col("b.__bkey"))
                            & (F.col("a.__st")
                               | (F.col("a.__id") < F.col("b.__id")))
                            & (F.col("a.__id") != F.col("b.__id")))
                     .select(F.col("a.__id").alias("id_a"),
                             F.col("b.__id").alias("id_b"))
                     .dropDuplicates(["id_a", "id_b"]))
            cands = (cands
                     .join(all_sh.select(F.col("__id").alias("id_a"),
                                         F.col("__sh").alias("sh_a")),
                           "id_a")
                     .join(all_sh.select(F.col("__id").alias("id_b"),
                                         F.col("__sh").alias("sh_b")),
                           "id_b"))
            inter = F.size(F.array_intersect("sh_a", "sh_b"))
            union = F.size("sh_a") + F.size("sh_b") - inter
            drops = (cands.filter((inter / union).cast("double")
                                  >= threshold)
                     .select(F.col("id_b").alias("__drop")).distinct())
            survivors = batch.join(
                drops, batch[id_col] == drops["__drop"], "left_anti")
            # crash-window idempotence: a replay that died between the
            # two appends re-derives the same survivors — anti-join
            # against the store's ids so they are not appended twice
            survivors = _drop_seen(survivors, id_col,
                                   _read_if_any(s, store_path))
            survivors.write.mode("append").parquet(store_path)
            # every seen doc (kept or dropped) becomes state for later
            # waves
            new_state.write.mode("append").parquet(state_path)
        finally:
            if new_state is not None:
                new_state.unpersist()
            sh.unpersist()

    _drain(spark, src_path, checkpoint, schema, _sink)
    return spark.read.parquet(store_path)


def incremental_postings_ingest(spark: SparkSession, src_path: str,
                                index_path: str, checkpoint: str,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Streaming maintenance of the positional inverted index
    (:func:`preql_spark.operators.text.postings`): each availableNow
    batch appends the postings of its NEW documents.  Documents are
    immutable and append-only, so indexing a batch never touches
    existing posting rows — the incremental index equals the one-shot
    ``postings`` over the full corpus (that identity IS the q141
    oracle).

    Idempotence: the batch is anti-joined against the DISTINCT doc
    ids already in the index (a column-pruned scan of the id column
    only), so a checkpoint-replayed batch appends nothing.  Scale
    shape per batch: the batch's own (term, doc) shuffle plus one
    ids-only anti-join — the corpus-sized index is never re-shuffled.
    Docs whose text yields no terms (NULL/empty) simply produce no
    posting rows; re-examining them on replay is a no-op."""
    from preql_spark.operators.text import postings

    schema = _source_schema(spark, src_path, checkpoint)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        batch = _drop_seen(batch, id_col,
                           _read_if_any(batch.sparkSession, index_path))
        (postings(batch, id_col=id_col, text_col=text_col)
         .write.mode("append").parquet(index_path))

    _drain(spark, src_path, checkpoint, schema, _sink)
    return spark.read.parquet(index_path)


def incremental_ivf_ingest(spark: SparkSession, src_path: str,
                           checkpoint: str, index_path: str,
                           centroids: list,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           ids_path: str | None = None) -> DataFrame:
    """Streaming maintenance of an IVF vector index against FROZEN
    centroids — the production ANN split: the coarse quantizer
    retrains OFFLINE (:func:`preql_spark.operators.similarity.
    ivf_build`, one batch job), while new vectors assign ONLINE.
    Each availableNow batch drops in-batch duplicate ids (the
    immutable-id contract enforced mechanically, first writer wins),
    anti-joins the ids already ingested, assigns the survivors to
    their nearest centroid with the build's EXACT hof argmin
    (:func:`preql_spark.operators.similarity.assign_cells_hof` —
    online assignment bit-identical to offline), and appends
    ``(__cid, __id, __v)`` rows PARTITIONED BY ``__cid`` so probe
    reads prune to the probed cell directories
    (:func:`preql_spark.operators.similarity.ivf_topk_from_store`).

    **The ids sidecar (pass ``ids_path``)**: without it, the per-batch
    anti-join scans the whole index for ``__id`` — column-pruned, but
    it pays the full store's file listing (O(cells × batches) files
    until :func:`compact_partitioned_store` runs) and couples dedup
    cost to the index layout.  With ``ids_path`` the ids live in a
    dedicated sidecar (rows ``(__id, run_id, batch_id)``, one file
    per epoch, compactable to ONE file via
    :func:`compact_ingest_ids`), so the steady-state per-batch cost
    is one small-file read — the sibling-ingest pattern.  Each
    epoch's ids append also carries one NULL-``__id`` epoch-marker
    row (invisible to the equi-join dedup probe), so even an
    all-duplicates epoch is sidecar-decidable as committed — which
    lets :func:`compact_ingest_ids` prune the intent store to empty.
    Crash windows stay closed via that tiny intent store
    (``<ids_path>__intent``, one row per epoch, written BEFORE the
    index append; the ids row is written AFTER) — the ids-sidecar
    protocol of :func:`_sidecar_epoch`, shared with
    :func:`incremental_curation_ingest`:

    - epoch already in the SIDECAR → the whole batch committed;
      replay is a no-op.
    - epoch in the INTENT store only → the previous attempt crashed
      somewhere around the index append; this one recovery batch
      falls back to the self-guarding anti-join against the index's
      own ``__id`` (which holds exactly the rows that must not
      double-append), then completes the ids row.
    - epoch in neither → fast path: anti-join the sidecar only.

    The incremental index therefore equals the one-shot assignment
    over the full corpus, and with ``nprobe = len(centroids)`` a
    search against it equals brute-force cosine top-k exactly —
    the end-to-end completeness identity q202 grades against a
    DuckDB brute-force oracle.  Scale shape per batch: one
    scan-local assignment + one ids-only anti-join against one
    compacted sidecar file; the corpus-sized index is never
    re-shuffled and (on the fast path) never re-listed."""
    from preql_spark.operators.similarity import assign_cells_hof

    intent_path = (ids_path.rstrip("/") + "__intent"
                   if ids_path else None)
    _guard_stranded(spark, index_path, ids_path, intent_path)
    schema = _source_schema(spark, src_path, checkpoint)
    run_id = _ingest_run_id(spark, checkpoint) if ids_path else None

    def _index(s: SparkSession) -> DataFrame | None:
        # depth=1: the index is cell-partitioned (__cid=*/...), so a
        # direct-children probe would read it as EMPTY and silently
        # skip the self-guarding anti-join (latent until the r11
        # crash-injection test caught it)
        return _read_if_any(s, index_path, depth=1, refresh=True)

    def _append(rows: DataFrame) -> None:
        (assign_cells_hof(rows, centroids)
         .select("__cid", "__id", "__v")
         .write.mode("append").partitionBy("__cid")
         .parquet(index_path))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        rows = (batch.select(F.col(id_col).alias("__id"),
                             F.col(vec_col).alias("__v"))
                .dropDuplicates(["__id"]))
        if ids_path is None:
            # legacy self-guarding path: anti-join the index itself
            _append(_drop_seen(rows, "__id", _index(s)))
        else:
            _sidecar_epoch(s, rows, batch_id, ids_path, run_id, "__id",
                           _index, _append)

    _drain(spark, src_path, checkpoint, schema, _sink)
    return (spark.read.parquet(index_path)
            .groupBy(F.col("__cid").cast("int").alias("cell"))
            .agg(F.count(F.lit(1)).alias("n_vectors")))


#: commons-io IOUtils JavaClass per JVM view (see _read_marker_text)
_JIOUTILS_CACHE: dict = {}


def _read_marker_text(spark: SparkSession, fs, marker,
                      limit: int = 65536) -> str:
    """Read a small marker FILE (run-id, gate fingerprint) in ONE
    py4j round trip.  The naive ``FSDataInputStream.read()``
    byte-at-a-time loop costs one JVM gateway call PER BYTE —
    ~0.1 ms each, so a ~200-byte fingerprint read burned ~20-60 ms
    on every ingest call's hot path; ``IOUtils.toByteArray`` (the
    commons-io shipped in Spark's own jars) pulls the whole stream
    across the gateway once.  The IOUtils JavaClass is cached per
    JVM view — the ``jvm.org.apache...`` package-chain lookup costs
    py4j reflection round trips (~4 ms) on every resolve."""
    key = spark._jsc._target_id
    cls = _JIOUTILS_CACHE.get(key)
    if cls is None:
        cls = spark._jvm.org.apache.commons.io.IOUtils
        _JIOUTILS_CACHE[key] = cls
    ins = fs.open(marker)
    try:
        data = bytes(cls.toByteArray(ins))
    finally:
        ins.close()
    return data[:limit].decode("utf-8", errors="replace").strip()


def _source_schema(spark: SparkSession, src_path: str,
                   checkpoint: str, schema=None):
    """Source schema pinned per CHECKPOINT LINEAGE: inferred from the
    parquet dir once (a batch-read relation resolve costs ~100 ms of
    driver work even for a one-file dir — measured r14) and stored as
    ``<checkpoint>/__source_schema``; every later ingest call under
    the same checkpoint reads the marker back in one FS round trip.

    Pinning is a CONTRACT, not just a cache: the states and stores an
    ingest maintains were built under this schema, and a later call
    silently adopting a drifted source schema mid-lineage (the old
    per-call re-infer behavior) would feed the same state from a
    different shape.  A fresh checkpoint re-infers — delete the
    checkpoint (which also resets epochs/run-id) to restart under a
    new source schema.

    ``schema``: callers that already KNOW the source schema (they
    wrote the source, or hold the producing frame) pass it to skip
    the ~170 ms first-call batch-relation infer entirely; an existing
    marker still wins (the pin is the contract, the argument is only
    the infer shortcut).

    The marker write is ATOMIC (temp file + rename): a crash
    mid-write can no longer strand a truncated marker that every
    later call chokes on — and if one exists from a pre-atomic
    release, the unparseable read falls through to re-infer and
    rewrite instead of raising forever."""
    import json

    from pyspark.sql.types import StructType

    fs, cp = _hadoop_fs_path(spark, checkpoint)
    jpath = _jpath_cls(spark)
    mpath = checkpoint.rstrip("/") + "/__source_schema"
    marker = jpath(mpath)
    if fs.exists(marker):
        try:
            return StructType.fromJson(
                json.loads(_read_marker_text(spark, fs, marker,
                                             limit=1 << 24)))
        except Exception:
            # empty/truncated/corrupt marker (crash mid-write in a
            # pre-atomic release): json/StructType parse errors, or a
            # read-side ChecksumException from Hadoop's checksummed
            # local FS (a torn write tears the .crc sidecar too).
            # Either way the pin is unusable — re-infer and re-pin.
            fs.delete(marker, False)
    if schema is None:
        schema = spark.read.parquet(src_path).schema
    fs.mkdirs(cp)
    tmp = jpath(mpath + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(schema.jsonValue()).encode()))
    finally:
        out.close()
    if not fs.rename(tmp, marker):
        # lost a (benign) creation race: another call pinned first —
        # same lineage, same source, same schema; drop the temp
        fs.delete(tmp, False)
    return schema


def _ingest_run_id(spark: SparkSession, checkpoint: str) -> str:
    """Stable id for THIS checkpoint lineage: a uuid minted once and
    stored inside the checkpoint dir, so the append-only ingest
    states can key their replay guards on (run_id, batch_id).  Epoch
    ids alone are not enough — a recreated/relocated checkpoint
    restarts epochs at 0, and a bare batch_id guard would then drop
    NEW data as "already folded" while still marking it ingested.
    A fresh checkpoint mints a fresh run_id, so its epochs can never
    collide with state written under the old lineage."""
    import uuid

    fs, cp = _hadoop_fs_path(spark, checkpoint)
    marker = _jpath_cls(spark)(
        checkpoint.rstrip("/") + "/__ingest_run_id")
    if fs.exists(marker):
        return _read_marker_text(spark, fs, marker, limit=64)
    rid = uuid.uuid4().hex
    fs.mkdirs(cp)
    out = fs.create(marker, True)
    try:
        out.write(bytearray(rid.encode()))
    finally:
        out.close()
    return rid


def _bridge_legacy_state(st: DataFrame) -> DataFrame:
    """Migration shim for ingest states written by the pre-guard
    release (no ``run_id``/``batch_id`` columns): stamp them as a
    closed legacy lineage — ``run_id='__legacy__'``, ``batch_id=-1``
    — so resume neither throws AnalysisException on the guard's
    column select nor collides with any real lineage (real run_ids
    are uuid4 hexes, real epochs are >= 0).  Handles both an
    all-legacy directory (columns absent entirely) and a MIXED one
    (legacy files merged-schema'd in as nulls after new-schema waves
    appended — read states via :func:`_read_state` so the merge
    happens).  New-schema rows pass through untouched: every real
    row is stamped with literal guard values at write time, so a
    null there can only mean a legacy file."""
    if "batch_id" not in st.columns:
        st = st.withColumn("batch_id", F.lit(-1).cast("long"))
    else:
        st = st.withColumn(
            "batch_id", F.coalesce(F.col("batch_id").cast("long"),
                                   F.lit(-1).cast("long")))
    if "run_id" not in st.columns:
        st = st.withColumn("run_id", F.lit("__legacy__"))
    else:
        st = st.withColumn(
            "run_id", F.coalesce(F.col("run_id"), F.lit("__legacy__")))
    return st


def _read_state(spark: SparkSession, state_path: str,
                schema=None) -> DataFrame:
    """Read an append-only ingest state and bridge legacy rows to the
    closed ``('__legacy__', -1)`` lineage.  A state dir can mix
    pre-guard legacy files with new-schema waves, and without help
    Spark may pick the legacy file's schema and silently drop the
    guard columns from every NEW file — so either pass the writer's
    ``schema`` explicitly (parquet fills the legacy files' missing
    guard columns with nulls; ONE footer read — use this on the hot
    per-micro-batch guard path, where ``mergeSchema`` would re-read
    every state file's footer per batch) or fall back to a
    ``mergeSchema`` read (fine once per report)."""
    if schema is not None:
        st = spark.read.schema(schema).parquet(state_path)
    else:
        st = spark.read.option("mergeSchema", "true").parquet(state_path)
    return _bridge_legacy_state(st)


def _guard_stranded(spark: SparkSession, *paths) -> None:
    """Fail LOUDLY if any of ``paths`` has a stranded
    ``<path>__pre_compact`` sibling — the backup a compaction
    (:func:`compact_ingest_state` / :func:`compact_ingest_ids`)
    renames aside before swapping the compacted rewrite in.  A crash
    between the two renames leaves the live path ABSENT and the
    backup holding the only copy; a crash after the swap but before
    the backup delete leaves both.  Either way, an ingest that
    proceeded would silently diverge (worst case: no state + a full
    ids store = every prior wave vanishes from reports while dedup
    still drops its rows), so every ingest checks this FIRST and
    raises with the recovery recipe instead.  Recovery: if the live
    dir is missing, rename ``<path>__pre_compact`` back to
    ``<path>`` (the backup IS the pre-compaction state, complete and
    committed); if the live dir exists and reads fine, the
    compaction finished and only the backup delete was lost — delete
    ``<path>__pre_compact``.

    Also refuses while a FRESH cross-session compaction lock
    (:class:`_compaction_lock`) is held on any of the paths — the
    mechanical other half of the RUN-ONLY-WHILE-STOPPED contract:
    in-session the compactor checks for active streams; cross-session
    the ingest checks for an active compactor.  Stale locks (crashed
    holder) are ignored here — the crash's real damage, if any, is
    the backup this guard already catches."""
    for p in paths:
        if p is None:
            continue
        if _lock_is_live(spark, p):
            raise RuntimeError(
                f"compaction lock {_lock_file(p)} is held: a "
                "compaction of this store is in progress (possibly "
                "in another session); refusing to ingest against a "
                "store that may be mid-swap.  Wait for it, or if its "
                "process is known dead, delete the lock file")
        bak = p.rstrip("/") + "__pre_compact"
        fs, bkp = _hadoop_fs_path(spark, bak)
        if fs.exists(bkp):
            _, live = _hadoop_fs_path(spark, p)
            what = ("the live dir is MISSING — rename the backup "
                    f"back:  mv {bak} {p}"
                    if not fs.exists(live) else
                    "the live dir exists — if it reads fine the "
                    f"compaction completed; delete the backup: "
                    f"rm -r {bak}")
            raise IOError(
                f"stranded compaction backup {bak}: a previous "
                f"compact crashed mid-swap; refusing to ingest "
                f"against an ambiguous state.  Recovery: {what}")


def _require_no_active_streams(spark: SparkSession, what: str) -> None:
    """Mechanical enforcement of the RUN-ONLY-WHILE-STOPPED
    compaction contract: refuse to run while ANY streaming query is
    active in this session.  Conservative on purpose — the
    session-local ``StreamingQueryManager`` cannot attribute a query
    to a checkpoint path, and every ingest in this module is a
    synchronous ``availableNow`` run, so an active query during
    compaction is always a contract violation in-session.  The
    cross-session half is the sentinel lock
    (:class:`_compaction_lock`, held by every compactor) plus the
    ingest-side lock check in :func:`_guard_stranded` — a foreign
    session's ingest refuses while a compaction holds the lock, and
    a foreign compaction refuses while another holds it."""
    active = list(spark.streams.active)
    if active:
        names = ", ".join((q.name or q.id and str(q.id) or "?")
                          for q in active)
        raise RuntimeError(
            f"{what} must run while the stream is STOPPED, but this "
            f"session has {len(active)} active streaming "
            f"quer{'y' if len(active) == 1 else 'ies'} ({names}); "
            "stop them first")


#: a compaction lock older than this is STALE (its holder crashed —
#: a live compaction of these stores is seconds-to-minutes of work)
COMPACTION_LOCK_STALE_S = 3600


def _lock_file(path: str) -> str:
    return path.rstrip("/") + "__compact_lock"


def _read_lock_ts(fs, p) -> int | None:
    """Epoch-millis of the lock file per the FILESYSTEM's own clock
    (``getFileStatus().getModificationTime()``), or None if the file
    vanished mid-check.  The holder also stamps its local epoch-millis
    INSIDE the file (diagnostics: ``cat`` the lock to see when/who),
    but staleness decisions deliberately use the fs mtime — the one
    clock every contending session observes identically — so
    cross-machine clock skew can neither break a live lock early nor
    honor a crashed holder's forever (a zero-byte lock from a crash
    mid-create still carries a valid mtime and ages out normally)."""
    try:
        return int(fs.getFileStatus(p).getModificationTime())
    except Exception:
        return None


def _lock_is_live(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` has a FRESH compaction lock (some session —
    this one or another — is compacting right now)."""
    import time

    fs, p = _hadoop_fs_path(spark, _lock_file(path))
    if not fs.exists(p):
        return False
    ts = _read_lock_ts(fs, p)
    return (ts is not None
            and time.time() * 1000 - ts < COMPACTION_LOCK_STALE_S * 1000)


class _compaction_lock:
    """Cross-session sentinel lock for a store compaction: an
    atomic create-fail-if-exists file ``<path>__compact_lock``
    holding the holder's epoch-millis, deleted on completion.  A
    second session's compaction (or ingest — via
    :func:`_guard_stranded`) refuses while the lock is FRESH; a lock
    older than :data:`COMPACTION_LOCK_STALE_S` is a crashed holder
    (live compactions take seconds-to-minutes) and is broken and
    retaken — the crashed holder's actual damage, if any, is the
    stranded ``__pre_compact`` backup, which stays loudly guarded
    independently of the lock.  This makes the RUN-ONLY-WHILE-
    STOPPED contract mechanical ACROSS sessions, not just within
    one (:func:`_require_no_active_streams` covers in-session).

    Staleness is judged by the lock file's MODIFICATION TIME per the
    store's own filesystem (:func:`_read_lock_ts`) — the one clock
    every contending session observes identically — never by the
    holder's self-stamped content, which cross-machine clock skew
    could make look arbitrarily old (breaking a LIVE lock mid-swap)
    or arbitrarily fresh (honoring a crashed one forever).  Mutual
    exclusion itself rests on the filesystem's atomic
    create-fail-if-exists: HDFS and local filesystems provide it;
    on object stores without atomic create (plain S3 without a
    consistency layer) the lock degrades to advisory and the
    ``__pre_compact`` guard remains the hard backstop."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path

    def __enter__(self):
        import time

        fs, p = _hadoop_fs_path(self.spark, _lock_file(self.path))
        now = int(time.time() * 1000)
        if fs.exists(p):
            ts = _read_lock_ts(fs, p)
            if (ts is not None
                    and now - ts < COMPACTION_LOCK_STALE_S * 1000):
                age = (now - ts) // 1000
                raise RuntimeError(
                    f"compaction lock {_lock_file(self.path)} is held "
                    f"(age {age}s): another session is compacting "
                    "this store; wait for it (or, if its process is "
                    "known dead, delete the lock file)")
            fs.delete(p, False)          # stale: holder crashed
        try:
            out = fs.create(p, False)    # atomic fail-if-exists
        except Exception as e:
            raise RuntimeError(
                f"compaction lock {_lock_file(self.path)}: lost the "
                f"creation race to another session ({e}); retry after "
                "it finishes") from None
        try:
            out.write(bytearray(str(now).encode()))
        finally:
            out.close()
        self._fs, self._p = fs, p
        return self

    def __exit__(self, *exc):
        self._fs.delete(self._p, False)
        return False


def incremental_frequent_items_ingest(
        spark: SparkSession, src_path: str, store_path: str,
        checkpoint: str, id_col: str = "doc_id",
        text_col: str = "text", phi: float = 0.005,
        capacity: int | None = None,
        state_path: str | None = None) -> DataFrame:
    """Streaming maintenance of the EXACT phi-frequent-token report
    (:func:`preql_spark.operators.sketch.frequent_items`): each
    availableNow batch appends its new documents to the store and
    folds their per-partition Misra-Gries summaries into a kilobyte
    summary-state file; the returned report recounts the summary's
    candidates exactly over the store, so two-wave ingestion equals
    the one-shot batch operator equals a plain GROUP BY ... HAVING
    over the full corpus (that identity IS the q151 oracle).

    Why the state earns its keep at 100 TB: the candidate set and the
    corpus token count n are maintained incrementally — answering
    "which tokens clear phi now?" after each wave costs one
    candidate-bounded recount scan of the store, never a
    full-vocabulary shuffle, and the state holds <= capacity rows PER
    WAVE (capacity = ceil(2/phi) by default).  Completeness of the
    wave-summary union is a pigeonhole corollary of the per-wave
    Misra-Gries bound: a token with total count > ceil(phi*n) must
    clear the summary threshold n_i/(capacity+1) in at least ONE
    wave (if it cleared none, its total would be <= n/(capacity+1)
    < ceil(phi*n)/2), so every phi-frequent token appears in some
    wave's summary and the exact recount decides every count.

    Idempotence — including the crash windows: wave summaries are
    APPEND-ONLY rows keyed by the micro-batch epoch id (stable
    across checkpoint replays) and guarded by a batch_id check, the
    same contract as the t-digest and histogram ingests — a batch
    re-delivered after a crash between the state and store appends
    rebuilds the same summary, the guard drops it, and only the
    store append completes.  State rows are ``(item, est,
    batch_id)`` plus one ``(NULL, n, batch_id)`` carrier row per
    wave."""
    import math

    from preql_spark.operators.sketch import mg_merge, mg_summaries
    from preql_spark.operators.text import ensure_parallelism, tokens

    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    cap = (int(capacity) if capacity is not None
           else int(math.ceil(2.0 / phi)))
    if cap < 1:
        raise ValueError(f"capacity must be >= 1, got {cap}")
    state_path = state_path or store_path.rstrip("/") + "_state"
    _guard_stranded(spark, state_path)
    schema = _source_schema(spark, src_path, checkpoint)
    run_id = _ingest_run_id(spark, checkpoint)

    def _items(df: DataFrame) -> DataFrame:
        return (ensure_parallelism(df)
                .select(F.explode(tokens(F.col(text_col))).alias("item"))
                .filter(F.col("item") != ""))

    state_schema = "item string, est bigint, batch_id bigint, run_id string"

    def _fold(s: SparkSession, batch: DataFrame, batch_id: int) -> None:
        rows = mg_summaries(_items(batch), cap).collect()
        counts: dict = {}
        n = 0
        for r in rows:
            if r["item"] is None:
                n += int(r["est"])
            else:
                counts[r["item"]] = counts.get(r["item"], 0) + int(r["est"])
        if len(counts) > cap:
            counts = mg_merge(counts, (), cap)
        # single-slice parallelize: the summary is one driver-held
        # dict, and coalesce(1) over a default-sliced parallelize
        # would evaluate 32 empty Python-RDD partitions in ONE task
        # (a Python-worker round-trip each, seconds per epoch)
        s.createDataFrame(
            s.sparkContext.parallelize(
                [(k, int(v), int(batch_id), run_id)
                 for k, v in counts.items()]
                + [(None, int(n), int(batch_id), run_id)], 1),
            schema=state_schema).write.mode("append").parquet(state_path)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        batch = _drop_seen(batch, id_col, _read_if_any(s, store_path))
        # in-batch duplicate ids would double-fold their tokens AND
        # double-append the doc to the store — dedup first (the
        # curation-ingest contract).
        # Two consumers (summary fold + store append) — one batch
        # scan.  The summary fold MUST run before the append: the
        # anti-join's store side re-resolves the parquet listing per
        # action (the micro-batch plan is re-planned, the cache is
        # not guaranteed to carry across actions), so a post-append
        # action would see the batch's own ids in the store and
        # anti-join the whole batch away — zero tokens folded.
        batch = batch.dropDuplicates([id_col]).persist()
        try:
            done = set()
            if hadoop_dir_has_files(s, state_path):
                done = {(r["run_id"], r["batch_id"]) for r in
                        _read_state(s, state_path, schema=state_schema)
                        .select("run_id", "batch_id").distinct()
                        .collect()}
            if (run_id, int(batch_id)) not in done:
                _fold(s, batch, batch_id)   # else: a replayed wave
            batch.write.mode("append").parquet(store_path)
        finally:
            batch.unpersist(blocking=False)

    _drain(spark, src_path, checkpoint, schema, _sink)

    state = _read_state(spark, state_path)
    n = (state.filter(F.col("item").isNull())
         .agg(F.sum("est")).collect()[0][0] or 0)
    store_items = _items(spark.read.parquet(store_path))
    if n == 0:
        return (store_items.groupBy("item")
                .agg(F.count(F.lit(1)).alias("cnt")).limit(0))
    t = int(math.ceil(phi * float(n)))
    cand = (state.filter(F.col("item").isNotNull())
            .select("item").distinct())
    return (store_items.join(F.broadcast(cand), "item", "leftsemi")
            .groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= F.lit(t)))


def incremental_quantile_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str = "source", value_expr: str = "length(text)",
        id_col: str = "doc_id",
        qs: tuple = (0.5, 0.9)) -> DataFrame:
    """Streaming maintenance of EXACT per-group quantiles of an
    integer metric (lengths, token counts, scores-in-ticks): each
    availableNow batch appends its ``(group, value) -> count``
    histogram rows to the state, and the report sums the counters and
    computes exact percentiles FROM THE STATE via Spark's
    frequency-weighted ``percentile`` — identical to percentile over
    the raw rows, so two-wave ingestion == one-shot == plain
    ``quantile_cont`` over the full corpus (the q158 oracle).

    Why this state earns its keep at 100 TB: "what is p50/p90 document
    length per source right now?" costs a scan of the STATE — bounded
    by groups x distinct metric values (thousands of rows for integer
    metrics), never the corpus — and histogram merge is a plain
    counter sum, exactly mergeable across any wave boundaries.

    Idempotence — including the crash windows: the state is
    APPEND-ONLY per-batch histogram rows ``(g, v, cnt, batch_id)``
    keyed by the micro-batch epoch id (stable across checkpoint
    replays) and guarded by a distributed anti-join on that key (the
    :func:`_epoch_fold` skeleton), the same contract as
    :func:`incremental_tdigest_ingest` — a batch
    re-delivered after a crash between the state and ids appends
    rebuilds identical rows that the guard drops (counter sums,
    like digest merges, are NOT re-apply-idempotent, so an
    overwrite-merged state would double-count that window).  The
    histogram never crosses the driver: the per-batch partial agg,
    the guard, and the append all run distributed; the report sums
    counters per (g, v) across waves and takes the exact
    frequency-weighted percentile.  The value domain must be
    discrete — quantize continuous metrics to ticks first (or use
    the t-digest ingest)."""
    merged = _value_histogram_ingest(
        spark, src_path, checkpoint, state_path, ids_path,
        group_col, value_expr, id_col)
    aggs = [F.sum("cnt").alias("n")]
    for p in qs:
        aggs.append(F.percentile("v", F.lit(float(p)), F.col("cnt"))
                    .alias(f"p{int(round(p * 100)):02d}"))
    return (merged.groupBy(F.col("g").alias(group_col)).agg(*aggs))


def _value_histogram_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str, value_expr: str, id_col: str,
        sides: tuple | None = None) -> DataFrame:
    """Shared state machinery for the streaming value-histogram
    monitors — per group (:func:`incremental_quantile_ingest`,
    :func:`incremental_z_monitor_ingest`) and two-sample drift
    (:func:`incremental_psi_ingest`, :func:`incremental_ks_ingest`,
    :func:`incremental_chi_square_ingest`, with ``sides = (side_a,
    side_b)`` restricting ``group_col`` to the two sides).  All of
    them maintain ONE state shape, so they can share a state: the
    EXACT per-(group, value) integer histogram — APPEND-ONLY
    per-batch rows ``(g, v, cnt, batch_id, run_id)`` folded by
    :func:`_epoch_fold` (ids anti-join first, the (run_id, batch_id)
    epoch guard, ids append LAST); :func:`compact_ingest_state` kind
    ``"histogram"`` compacts it.  The state is lossless, which is
    what makes every report bit-identical to its batch operator over
    the raw corpus.

    Returns the merged ``(g, v, cnt)`` frame — or, with ``sides``,
    the per-value ``(v, ca, cb)`` side counts the drift statistics
    read."""
    _guard_stranded(spark, state_path, ids_path)
    schema = _source_schema(spark, src_path, checkpoint)
    run_id = _ingest_run_id(spark, checkpoint)

    def _fold(batch: DataFrame) -> DataFrame:
        if sides is not None:
            batch = batch.filter(F.col(group_col).isin(list(sides)))
        return (batch.select(F.col(group_col).alias("g"),
                             F.expr(value_expr).cast("long").alias("v"))
                .groupBy("g", "v")
                .agg(F.count(F.lit(1)).alias("cnt")))

    _drain(spark, src_path, checkpoint, schema,
           _epoch_fold(state_path, ids_path, id_col, run_id, _fold))
    merged = (_read_state(spark, state_path)
              .groupBy("g", "v").agg(F.sum("cnt").alias("cnt"))
              .filter(F.col("cnt") > 0))   # drop per-run carrier rows
    if sides is None:
        return merged
    return (merged.groupBy("v")
            .agg(*[F.sum(F.when(F.col("g") == F.lit(side),
                                F.col("cnt")).otherwise(0))
                   .cast("long").alias(name)
                   for side, name in zip(sides, ("ca", "cb"))]))


def incremental_z_monitor_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str = "source", value_expr: str = "length(text)",
        id_col: str = "doc_id", k: float = 3.0) -> DataFrame:
    """Streaming metric monitor from state — the two-moment sibling
    of the drift-from-state family (PSI/KS/chi² watch distribution
    SHAPE; this watches which observed VALUES are outliers): maintain
    the exact per-(group, value) integer histogram
    (:func:`_value_histogram_ingest` — the SAME state, sink,
    guard, and compaction as :func:`incremental_quantile_ingest`;
    the two monitors can share one state) and report each distinct
    observed value's z-score against its group's mean/stddev computed
    FROM THE STATE — ``(g, v, cnt, z, is_anomaly)``, flagging
    ``|z| > k``.

    Exactness: the state is lossless, and the report's moments are
    exact int64 sums (n, Σv·cnt, Σv²·cnt) pushed through a FIXED
    sequence of double ops (:func:`preql_spark.operators.events.
    z_outliers_from_value_counts`) — so two-wave ingestion ==
    one-shot == the batch :func:`preql_spark.operators.events.
    z_outliers` over the raw corpus, bit-identically (both spell the
    identical arithmetic; that identity is the oracle).  Contract:
    discrete integer values (quantize first), and Σv² must fit int64
    — |v| ≤ ~3e6 at a billion rows per group.

    Scale shape per batch: one partial agg + the guard anti-join;
    the report is arithmetic over state rows (groups × distinct
    values), never the corpus."""
    from preql_spark.operators.events import z_outliers_from_value_counts
    merged = _value_histogram_ingest(
        spark, src_path, checkpoint, state_path, ids_path,
        group_col, value_expr, id_col)
    return z_outliers_from_value_counts(merged, k=k)


def incremental_psi_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        side_a, side_b, side_col: str = "source",
        value_expr: str = "length(text)", id_col: str = "doc_id",
        n_buckets: int = 10) -> DataFrame:
    """Streaming drift monitor: maintain the exact per-(side, value)
    integer histogram incrementally and report the Population
    Stability Index between the two sides FROM THE STATE — one row
    ``(n_a, n_b, psi)``, bit-identical to
    :func:`preql_spark.operators.events.psi` over the raw corpus.

    The state is LOSSLESS (exact value counts, not bucket counts),
    so the report can re-derive the combined min/max bounds and the
    equal-width buckets from the state alone — two-wave ingestion ==
    one-shot == batch PSI over all rows, with no fixed-bounds
    registration step; that identity IS the oracle.  The value
    domain must be discrete (the batch operator's quantize-first
    contract), which also bounds the state by |sides| x |distinct
    values|, never the corpus.  State contract and crash-window
    idempotence: see :func:`_value_histogram_ingest`."""
    from preql_spark.operators.events import psi_from_value_counts
    vc = _value_histogram_ingest(
        spark, src_path, checkpoint, state_path, ids_path,
        side_col, value_expr, id_col, sides=(side_a, side_b))
    return psi_from_value_counts(vc, n_buckets=n_buckets)


def incremental_ks_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        side_a, side_b, side_col: str = "source",
        value_expr: str = "length(text)",
        id_col: str = "doc_id") -> DataFrame:
    """Streaming drift monitor, ordinal flavor: the same lossless
    per-(side, value) histogram state as
    :func:`incremental_psi_ingest` (the two can even SHARE a state —
    identical sink, identical guard), reported as the two-sample
    Kolmogorov-Smirnov statistic — one row ``(n_a, n_b, d_stat,
    at_value)``, bit-identical to
    :func:`preql_spark.operators.events.ks_statistic` over the raw
    corpus (exact integer CDFs from the summed counters).  NULL
    values are excluded by the report (batch KS ignores them; the
    state may hold null-v rows when ``value_expr`` is NULL).
    State contract and crash-window idempotence: see
    :func:`_value_histogram_ingest`."""
    from preql_spark.operators.events import ks_from_value_counts
    vc = _value_histogram_ingest(
        spark, src_path, checkpoint, state_path, ids_path,
        side_col, value_expr, id_col, sides=(side_a, side_b))
    return ks_from_value_counts(vc)


def incremental_chi_square_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        side_a, side_b, side_col: str = "source",
        value_expr: str = "length(text)",
        id_col: str = "doc_id") -> DataFrame:
    """Streaming drift monitor, categorical flavor — completing the
    drift-from-state family (PSI :func:`incremental_psi_ingest` for
    numeric shares, KS :func:`incremental_ks_ingest` for ordinal
    shift, chi-square for categorical independence): the SAME
    lossless per-(side, value) histogram state (identical sink,
    identical (run_id, batch_id) guard — the three monitors can
    SHARE one state), reported as the chi-square independence test
    between side membership and the value — one row ``(n, dof, chi2,
    cramers_v)``, bit-identical to batch
    ``chi_square(df.filter(side.isin(a, b)), side_col, value_col)``
    (:func:`preql_spark.operators.events.chi_square`) over the raw
    corpus.  NULL ``value_expr`` categories are their own level,
    matching batch null-safe grouping (the state stores null-v
    rows).  ``value_expr`` must be discrete/categorical — the
    bounded-state contract of the family.  State contract and
    crash-window idempotence: see
    :func:`_value_histogram_ingest`."""
    from preql_spark.operators.events import chi_square_from_value_counts
    vc = _value_histogram_ingest(
        spark, src_path, checkpoint, state_path, ids_path,
        side_col, value_expr, id_col, sides=(side_a, side_b))
    return chi_square_from_value_counts(vc, side_a, side_b)


def incremental_datacard_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, pairs_path: str, ids_path: str,
        group_cols: tuple = ("source", "lang"),
        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Streaming maintenance of the corpus DATA CARD — the report a
    pipeline publishes next to every corpus snapshot (docs / tokens /
    bytes / exact-dup ratio for every CUBE cell of the grouping
    dims), kept current incrementally so "what does the corpus look
    like right now?" never costs a corpus scan.  Two states, ONE
    batch scan per epoch:

    - counters state (``state_path``): per-(epoch, group) rows
      ``(*group_cols, n_docs, total_tokens, total_bytes, batch_id,
      run_id)`` — APPEND-ONLY with the (run_id, batch_id) epoch
      guard (counter sums are not re-apply-idempotent; the quantile
      ingest's contract).  Bounded by waves × groups.
    - fingerprint inventory (``pairs_path``): ``(*group_cols, fp)``
      rows, one per distinct (group, fingerprint) — the
      :func:`incremental_distinct_ingest` contract (anti-join
      against itself, inherently replay-idempotent).  Bounded by the
      true distinct cardinality — exactly what ``n_distinct``
      reports.

    The report rebuilds every CUBE cell FROM THE STATES: additive
    metrics cube over the counter sums; ``n_distinct`` cubes over
    the inventory (a fingerprint spanning two sources counts ONCE at
    the rolled-up cell, which a sum of finer cells cannot express —
    the inventory can).  Both cubes carry ``grouping_id()`` (output
    column ``gid``, ANSI ``GROUPING(cols...)`` bit semantics) in the
    cube-join key, so a genuine NULL group value — a document whose
    ``lang`` was never detected, routine in crawl metadata — stays a
    distinct cell from the rollup over that column.  Two-wave
    ingestion == one-shot == batch
    :func:`preql_spark.operators.text.corpus_datacard` over the full
    corpus, cell for cell — that identity is the oracle.

    Crash windows (the :func:`_epoch_fold` skeleton): ids anti-join
    first, appends ordered counters → inventory → ids; a replay
    re-delivers the batch, the epoch guard drops the counter rows,
    the inventory anti-join drops its rows, and only the ids append
    completes.  Scale shape per batch: ONE
    scan of the batch (persisted across the three consumers), one
    tiny grouped agg, one inventory anti-join keyed on (group, fp)
    — the corpus is never re-read.

    State lifecycle at corpus scale: the counters state folds with
    :func:`compact_datacard_state` (waves × groups → one row per
    group plus lineage carriers).  The fingerprint INVENTORY and the
    ids store are plain append-only stores — one file per epoch —
    and compact with :func:`compact_ingest_ids` (distinct rewrite to
    ONE file via the checked swap; the inventory is distinct by
    contract, so the rewrite is purely a file-layout change —
    report-identity pytest-pinned).  The inventory's ROW count is
    the corpus's true distinct-fingerprint cardinality — that is the
    floor exact ``n_distinct`` requires; if approximate counts are
    acceptable at 100 TB, switch the distinct side to the
    kilobyte-state :func:`incremental_hll_ingest` instead.  Pruning
    (:func:`prune_ingest_ids` on the ids store) re-opens the dedup
    window for pruned ids — same retention contract as every ingest
    here."""
    from preql_spark.operators.text import fingerprint64, token_count

    gc = list(group_cols)
    _guard_stranded(spark, state_path, pairs_path, ids_path)
    schema = _source_schema(spark, src_path, checkpoint)
    run_id = _ingest_run_id(spark, checkpoint)

    def _fold(batch: DataFrame) -> DataFrame:
        return (batch.groupBy(*[F.col(c) for c in gc])
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(token_count(F.col(text_col)))
                     .alias("total_tokens"),
                     F.sum(F.length(text_col)).alias("total_bytes")))

    def _inventory(s: SparkSession, batch: DataFrame) -> None:
        prs = (batch.select(*gc, fingerprint64(F.col(text_col))
                            .alias("fp"))
               .filter(F.col("fp").isNotNull()).distinct())
        if hadoop_dir_has_files(s, pairs_path):
            prs = prs.join(s.read.parquet(pairs_path),
                           gc + ["fp"], "left_anti")
        prs.write.mode("append").parquet(pairs_path)

    _drain(spark, src_path, checkpoint, schema,
           _epoch_fold(state_path, ids_path, id_col, run_id, _fold,
                       extra=_inventory))

    st = (_read_state(spark, state_path).drop("run_id", "batch_id")
          # drop per-run lineage carrier rows (NULL metrics) that
          # compaction leaves for the epoch guard — they must not
          # become NULL-group cube cells
          .filter(F.col("n_docs").isNotNull()))
    # both cubes carry grouping_id(): a genuine NULL group value (a
    # doc with no detected lang — routine in crawl metadata) is
    # otherwise indistinguishable from the rollup cell over that
    # column, and a gc-only null-safe join would cross-match the two
    # (duplicated, mispaired cells).  gid in the join key keeps
    # data-NULL and rollup cells distinct; it also rides along in the
    # output, matching batch corpus_datacard's schema
    c1 = (st.cube(*[F.col(c) for c in gc])
          .agg(F.sum("n_docs").alias("n_docs"),
               F.sum("total_tokens").alias("total_tokens"),
               F.sum("total_bytes").alias("total_bytes"),
               F.grouping_id().cast("long").alias("gid")))
    c2 = (spark.read.parquet(pairs_path)
          .cube(*[F.col(c) for c in gc])
          .agg(F.count_distinct("fp").alias("n_distinct"),
               F.grouping_id().cast("long").alias("__gid2")))
    cond = c1["gid"] == c2["__gid2"]
    for g in gc:
        cond = cond & c1[g].eqNullSafe(c2[g])
    nd = F.coalesce(F.col("n_distinct"), F.lit(0).cast("long"))
    return (c1.join(c2, cond, "left")
            .select(*[c1[g] for g in gc], "n_docs", "total_tokens",
                    "total_bytes", nd.alias("n_distinct"), c1["gid"])
            .withColumn("dup_ratio",
                        (1 - F.col("n_distinct")
                         / F.col("n_docs").cast("double"))))


def _gate_fingerprint_guard(spark: SparkSession, path: str,
                            gate: str, gate_kwargs: dict) -> None:
    """Gate-config drift guard for a gate-derived state/store: the
    first ingest stamps ``<path>__gate_fp`` with a canonical
    fingerprint of (gate, **gate_kwargs); every later ingest
    compares and RAISES on mismatch — counters folded under one
    threshold must never silently mix with waves gated under
    another (a changed ``min_words`` between runs would corrupt the
    keep-rate report with no visible symptom).  Callable kwargs
    (e.g. a classifier ``scorer``) fingerprint by ``__qualname__``
    (stable across runs, unlike an object repr's address);
    ``functools.partial`` scorers by wrapped-function qualname plus
    their bound arguments; other qualname-less callables by type
    identity.  The callers fold their column bindings (group/id/text
    cols) into the kwargs too — a changed grouping is drift.  To
    re-monitor under NEW parameters, delete the state AND the
    ``__gate_fp`` marker — the fingerprint protects the state, it
    is not a config store.

    The marker is a plain filesystem FILE written through the Hadoop
    FS API (the :func:`_ingest_run_id` shape), NOT a parquet write:
    a one-row ``createDataFrame(...).coalesce(1)`` parquet write
    costs SECONDS on local[32] — the single coalesced task evaluates
    every parent Python-RDD partition, one Python-worker round-trip
    each (bench-measured ~5 s) — while the FS call is milliseconds
    on the per-ingest hot path."""
    import functools
    import json

    def _enc(o):
        # functools.partial / callable instances carry no
        # __qualname__ and their str() embeds a memory address — a
        # fingerprint built from that would raise a spurious drift
        # error on every later run.  Partials encode the wrapped
        # function AND the bound arguments (re-binding a different
        # threshold IS a different gate; json recurses into the
        # returned dict, re-applying this encoder to any
        # non-serializable leaf); other callables encode by stable
        # type identity.
        if isinstance(o, functools.partial):
            return {"partial": _enc(o.func), "args": list(o.args),
                    "keywords": o.keywords or {}}
        qn = getattr(o, "__qualname__", None)
        if qn:
            return qn
        if callable(o):
            return type(o).__qualname__
        return str(o)

    fp = json.dumps({"gate": gate, **gate_kwargs},
                    sort_keys=True, default=_enc)
    fp_file = path.rstrip("/") + "__gate_fp"
    fs, marker = _hadoop_fs_path(spark, fp_file)
    if fs.exists(marker):
        old = _read_marker_text(spark, fs, marker)
        if old != fp:
            raise ValueError(
                f"gate-config drift: the state at {path} was built "
                f"with {old} but this run passes {fp}.  Mixing two "
                f"gate definitions in one monitor corrupts the "
                f"report; keep the original parameters, or delete "
                f"the state and {fp_file} to restart under the new "
                f"ones.")
        return
    out = fs.create(marker, True)
    try:
        out.write(bytearray(fp.encode()))
    finally:
        out.close()


def incremental_gate_rate_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str = "source", id_col: str = "doc_id",
        text_col: str = "text", gate: str = "gopher",
        source_schema=None,
        **gate_kwargs) -> DataFrame:
    """Streaming KEEP-RATE monitor for a rule-based quality gate —
    the observability half of corpus curation: as batches of crawl
    land, maintain per-``group_col`` counters of documents seen and
    documents the gate would keep, so "what fraction of each source
    survives the gate, and is it drifting?" never costs a corpus
    re-scan.  ``gate``: any key of
    :data:`preql_spark.operators.text.GATES` (the shared gate
    registry — ``"gopher"``, ``"c4"``, ``"classifier"``, ...), with
    ``gate_kwargs`` forwarded; the rule gates are single scan-local
    Projects, so the per-batch cost is ONE batch scan + a
    groups-bounded agg.

    State shape: the data-card counters contract exactly — one
    ``(group, n_docs, n_keep, batch_id, run_id)`` row per (epoch,
    group), append-only with the (run_id, batch_id) epoch guard of
    :func:`_epoch_fold` (counter sums are not re-apply-idempotent);
    compacts with :func:`compact_datacard_state`
    (``metric_cols=("n_docs", "n_keep")``), ids store with
    :func:`compact_ingest_ids`.  The report sums the state per group:
    two-wave ingestion == one-shot == the batch gate + GROUP BY over
    the full corpus — that identity is the oracle (q217).  The state
    carries a params-fingerprint marker (:func:`_gate_fingerprint_guard`):
    re-ingesting with changed gate parameters RAISES instead of
    silently folding two gate definitions into one monitor."""
    from preql_spark.operators.text import GATES

    if gate not in GATES:
        raise ValueError(f"unknown gate {gate!r}: "
                         f"expected one of {sorted(GATES)}")
    gate_fn, _ = GATES[gate]
    _guard_stranded(spark, state_path, ids_path)
    # the column bindings are part of the monitor's identity too: a
    # changed group_col (or id/text col) between runs would fold a
    # DIFFERENT grouping into the same counters — the exact silent
    # mix the guard exists to prevent
    _gate_fingerprint_guard(spark, state_path, gate, {
        **gate_kwargs, "group_col": group_col, "id_col": id_col,
        "text_col": text_col})
    schema = _source_schema(spark, src_path, checkpoint,
                            schema=source_schema)
    run_id = _ingest_run_id(spark, checkpoint)

    def _fold(batch: DataFrame) -> DataFrame:
        gated = gate_fn(batch.select(id_col, group_col, text_col),
                        id_col=id_col, text_col=text_col,
                        **gate_kwargs)
        return (gated.groupBy(F.col(group_col))
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.col("keep").cast("long"))
                     .alias("n_keep")))

    _drain(spark, src_path, checkpoint, schema,
           _epoch_fold(state_path, ids_path, id_col, run_id, _fold))

    st = (_read_state(spark, state_path).drop("run_id", "batch_id")
          .filter(F.col("n_docs").isNotNull()))
    return (st.groupBy(F.col(group_col))
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("n_keep").alias("n_keep"))
            .withColumn("keep_rate",
                        F.col("n_keep")
                        / F.col("n_docs").cast("double")))


def incremental_curation_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        store_path: str,
        group_col: str = "source", id_col: str = "doc_id",
        text_col: str = "text", gate: str = "c4",
        ids_path: str | None = None,
        source_schema=None,
        **gate_kwargs) -> DataFrame:
    """Streaming MATERIALIZATION of a curated corpus — the
    production shape of rule-based curation: as crawl batches land,
    documents that pass the gate are appended (id, group, text) to
    the curated store, exactly once, with the C4 gate contributing
    its CLEANED text (the kept lines) and every other gate the raw
    text of keepers (``gate``: any key of
    :data:`preql_spark.operators.text.GATES`, the shared registry —
    each entry declares its materialized-text column there).  The
    downstream trainer reads the store; the raw crawl is never
    re-scanned.  The store carries a params-fingerprint marker
    (:func:`_gate_fingerprint_guard`): re-ingesting with changed
    gate parameters RAISES instead of silently mixing two gate
    definitions in one corpus.

    WITHOUT ``ids_path``, idempotence is CONTENT-ADDRESSED on the
    store itself (the :func:`incremental_distinct_ingest` contract):
    each batch drops in-batch duplicate ids, anti-joins the store's
    own id column (column-pruned read), and appends survivors — one
    store, one append, so there is NO crash window between a data
    append and a separate ids append; a replayed batch's ids are
    already present and the anti-join drops them.  The catch at
    100 TB: the gate KEEPS only a fraction of documents, so the
    store's id column cannot remember the documents the gate
    DROPPED — those are re-gated on every re-delivery — and the
    per-batch anti-join scans the whole (growing) curated store.

    WITH ``ids_path``, dedup moves to a dedicated sidecar — the
    ids-sidecar protocol of :func:`_sidecar_epoch`, shared with
    :func:`incremental_ivf_ingest` (same schema
    ``(__id, run_id, batch_id)``, same NULL-``__id`` epoch-marker
    row per epoch, same ``<ids_path>__intent`` crash-marker store,
    same :func:`compact_ingest_ids` compaction and
    :func:`prune_ingest_ids` retention contract): the sidecar
    remembers EVERY delivered id — keepers and gate-rejects alike —
    so re-deliveries are dropped by one small-file anti-join and
    never re-gated, and the corpus-sized store is never re-read for
    dedup.  Enabling ``ids_path`` on a GROWN legacy store is the
    supported migration: on first use (sidecar empty, store
    non-empty) the sidecar is seeded with the store's distinct id
    column under a reserved ``batch_id = -1`` migration epoch, so
    already-curated keepers are never re-appended; legacy
    gate-rejects re-gate deterministically to rejection and are
    remembered from their next delivery on.  Crash recovery is the
    shared protocol, with the curated store as ground truth: epoch
    in the sidecar → committed, replay no-op; epoch in the intent
    store only → the previous attempt crashed around the store
    append, recovery self-guards by anti-joining the STORE's id
    column (ground truth for appended keepers; rejects re-gate
    deterministically to rejection), then completes the ids row
    with the FULL deduped batch id set; epoch in neither → fast
    path.

    Store lifecycle: the curated store accumulates one file per
    epoch either way; :func:`compact_ingest_ids` collapses it (rows
    are unique by id, so the distinct rewrite is a pure file-layout
    change — pytest-pinned), and the sidecar/intent stores compact
    and prune under the IVF contracts — EXCEPT that pruning a
    curation sidecar must pass the linked ``store_path`` to
    :func:`prune_ingest_ids`, which then keeps stored keepers' ids
    unconditionally: a pruned-then-redelivered keeper would
    otherwise be appended again (see the prune docstring).

    Returns the curated-store report: per-group kept-doc count and
    total curated characters — two-wave ingestion == one-shot ==
    the batch gate + filter + GROUP BY over the full corpus (the
    q218 oracle, graded on the sidecar path)."""
    from preql_spark.operators.text import GATES

    if gate not in GATES:
        raise ValueError(f"unknown gate {gate!r}: "
                         f"expected one of {sorted(GATES)}")
    gate_fn, out_col = GATES[gate]
    out_text = out_col or text_col
    intent_path = (ids_path.rstrip("/") + "__intent"
                   if ids_path else None)
    _guard_stranded(spark, store_path, ids_path, intent_path)
    # column bindings join the fingerprint (see
    # incremental_gate_rate_ingest); sidecar-mode deliberately does
    # NOT — enabling ids_path on a grown legacy store is the
    # documented migration, made safe by the first-epoch store
    # seeding below
    _gate_fingerprint_guard(spark, store_path, gate, {
        **gate_kwargs, "group_col": group_col, "id_col": id_col,
        "text_col": text_col})
    schema = _source_schema(spark, src_path, checkpoint,
                            schema=source_schema)
    run_id = _ingest_run_id(spark, checkpoint) if ids_path else None

    if (ids_path is not None
            and not hadoop_dir_has_files(spark, ids_path)
            and hadoop_dir_has_files(spark, store_path)):
        # legacy -> sidecar MIGRATION (the docstring's "grown legacy
        # store" upgrade): an empty sidecar next to a non-empty store
        # means the store's keepers predate the sidecar — without
        # seeding, a re-delivered legacy keeper would sail through
        # the sidecar anti-join and be appended AGAIN (a duplicate
        # training document).  Seed the sidecar once, driver-side
        # before the stream starts, with the store's distinct id
        # column under a reserved migration epoch (batch_id -1 —
        # real epochs are >= 0, so the commit probe never matches
        # it).  Legacy gate-REJECTS are unknowable (the legacy path
        # never recorded them); they re-gate deterministically to
        # rejection, so they cannot duplicate, and are remembered
        # from their next delivery on.  The seed is one parquet
        # append job (visible only on job commit): a crash before
        # commit leaves the sidecar empty and the next run re-seeds.
        (spark.read.parquet(store_path)
         .select(F.col(id_col).alias("__id")).distinct()
         .withColumn("run_id", F.lit(run_id))
         .withColumn("batch_id", F.lit(-1).cast("long"))
         .coalesce(1).write.mode("append").parquet(ids_path))

    def _store(s: SparkSession) -> DataFrame | None:
        return _read_if_any(s, store_path, refresh=True)

    def _append(rows: DataFrame) -> None:
        (gate_fn(rows, id_col=id_col, text_col=text_col, **gate_kwargs)
         .filter(F.col("keep"))
         .select(id_col, group_col, F.col(out_text).alias(text_col))
         .write.mode("append").parquet(store_path))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        rows = (batch.select(id_col, group_col, text_col)
                .dropDuplicates([id_col]))
        if ids_path is None:
            # legacy content-addressed path: the store is the memory
            _append(_drop_seen(rows, id_col, _store(s)))
        else:
            # the store is the recovery ground truth for appended
            # keepers; gate-rejects re-gate deterministically to
            # rejection
            _sidecar_epoch(s, rows, batch_id, ids_path, run_id, id_col,
                           _store, _append)

    _drain(spark, src_path, checkpoint, schema, _sink)

    if not hadoop_dir_has_files(spark, store_path):
        # no batch ever ran (empty source): an empty report, not a
        # missing-store read error
        return spark.createDataFrame(
            [], f"{group_col} string, n_docs bigint, "
                "total_chars bigint")
    return (spark.read.parquet(store_path)
            .groupBy(F.col(group_col))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length(text_col)).alias("total_chars")))


def incremental_distinct_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str = "source", value_expr: str = "text",
        id_col: str = "doc_id") -> DataFrame:
    """Streaming maintenance of an EXACT per-group distinct-value
    inventory: each availableNow batch appends the (group, value)
    pairs it is the first to contribute, and the report counts the
    state — so two-wave ingestion == one-shot ==
    ``count(DISTINCT expr)`` over the full corpus.  NULL expression
    values are ignored (SQL COUNT(DISTINCT) semantics).

    Unlike the histogram/Misra-Gries states, this state never crosses
    the driver: the new-pair detection is a distributed left-anti
    join against the pair store and the merge is a parquet APPEND of
    the survivors — appending to the anti-join's own read path is
    safe because the scan's file listing snapshots before the write
    job commits new part files.  At 100 TB the state is bounded by
    the true distinct cardinality (the thing being reported), and a
    batch costs one batch-keyed distinct + one state anti-join —
    both prunable by group if the store is written partitioned.

    Idempotence: ids are anti-joined first and appended LAST (the
    fold-before-append ordering every ingest here follows, because
    foreachBatch actions re-resolve parquet listings per action);
    replayed batches contribute no pairs and no ids."""
    _guard_stranded(spark, state_path, ids_path)
    schema = _source_schema(spark, src_path, checkpoint)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        batch = _drop_seen(batch, id_col, _read_if_any(s, ids_path))
        batch = batch.persist()
        try:
            pairs = (batch
                     .select(F.col(group_col).alias("g"),
                             F.expr(value_expr).cast("string").alias("v"))
                     .filter(F.col("v").isNotNull()).distinct())
            if hadoop_dir_has_files(s, state_path):
                st = s.read.parquet(state_path)
                pairs = pairs.join(st, ["g", "v"], "left_anti")
            pairs.write.mode("append").parquet(state_path)
            batch.select(id_col).write.mode("append").parquet(ids_path)
        finally:
            batch.unpersist(blocking=False)

    _drain(spark, src_path, checkpoint, schema, _sink)

    return (spark.read.parquet(state_path)
            .groupBy(F.col("g").alias(group_col))
            .agg(F.count(F.lit(1)).alias("n_distinct")))


def incremental_hll_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str = "source", value_expr: str = "text",
        id_col: str = "doc_id", lg_k: int = 12) -> DataFrame:
    """Streaming maintenance of an APPROXIMATE per-group distinct
    count with BOUNDED state: each availableNow batch sketches its
    values (DataSketches HLL, ``hll_sketch_agg``), the per-group
    sketches union with the state (register-wise max — exactly
    mergeable across any wave boundaries), and the report estimates
    from the state — ``(group, n_distinct_approx)``.

    Two-wave ingestion is IDENTICAL to one-shot sketching of the full
    corpus (sketch union is associative/commutative, pytest-pinned),
    so unlike :func:`incremental_distinct_ingest` — whose state grows
    with the true cardinality — this state is bounded by 2^lg_k
    registers per group per wave (compact long histories with
    :func:`compact_ingest_state`, kind ``"hll"``): the 100 TB path
    when the inventory itself no longer fits.  NULL values are
    ignored (COUNT DISTINCT semantics).

    Idempotence — including the crash windows: the state is
    APPEND-ONLY per-batch sketch rows keyed by the micro-batch epoch
    id (stable across checkpoint replays) plus the checkpoint
    lineage's run_id, guarded by a distributed anti-join on that key —
    the same contract as the histogram / t-digest / frequent-items
    siblings (here the :func:`_epoch_fold` skeleton).  The previous
    overwrite-merged state had a crash window: ``mode("overwrite")``
    deletes the ONLY state copy before the new file commits, so a
    crash inside the write silently lost every prior wave's sketch
    while the ids append made the replay look complete.  Append-only
    closes it: a batch re-delivered after a crash between the state
    and ids appends rebuilds the same rows, the (run_id, batch_id)
    guard drops them, and only the ids append completes.  Nothing ever
    crosses the driver — batch sketching, the guard, and the append
    all run distributed; the report unions all wave rows per group
    (``hll_union_agg``)."""
    _guard_stranded(spark, state_path, ids_path)
    schema = _source_schema(spark, src_path, checkpoint)
    run_id = _ingest_run_id(spark, checkpoint)

    def _fold(batch: DataFrame) -> DataFrame:
        return (batch.select(F.col(group_col).alias("g"),
                             F.expr(value_expr).cast("string").alias("v"))
                .filter(F.col("v").isNotNull())
                .groupBy("g")
                .agg(F.hll_sketch_agg("v", F.lit(int(lg_k)))
                     .alias("sketch")))

    # no in-batch dedup: a sketch union ignores repeated values
    _drain(spark, src_path, checkpoint, schema,
           _epoch_fold(state_path, ids_path, id_col, run_id, _fold,
                       dedup=False))

    return (_read_state(spark, state_path)
            .filter(F.col("sketch").isNotNull())
            .groupBy(F.col("g").alias(group_col))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch"))
                 .alias("n_distinct_approx")))


def incremental_tdigest_ingest(
        spark: SparkSession, src_path: str, checkpoint: str,
        state_path: str, ids_path: str,
        group_col: str = "source", value_expr: str = "length(text)",
        id_col: str = "doc_id", delta: float = 100.0,
        qs: tuple = (0.5, 0.9)) -> DataFrame:
    """Streaming maintenance of per-group quantiles over a
    CONTINUOUS metric with BOUNDED state: each availableNow batch
    compresses its values into t-digest partials, merges them with
    the state digests (centroid concat + one deterministic
    re-compress), and the report interpolates quantiles from the
    state — ``(group, n, pXX...)``.

    This is the continuous-domain sibling of
    :func:`incremental_quantile_ingest` (whose exact histogram state
    requires discrete values): state is ~delta centroids per group
    PER WAVE regardless of the value domain or corpus size.  Digest
    builds are deterministic (stable sorts, fixed fold order), so a
    re-run over the same waves reproduces the state bit-for-bit;
    accuracy vs the exact percentile is pinned by pytest at
    sub-percent rank error.

    Idempotence — including the crash windows: the state is
    APPEND-ONLY per-batch digest rows keyed by the micro-batch epoch
    id (stable across checkpoint replays), and every append is
    guarded by a distributed anti-join on that key (the
    :func:`_epoch_fold` skeleton).  A batch
    re-delivered after a crash between the state append and the ids
    append re-builds the same rows, the batch_id anti-join drops
    them, and only the ids append completes — t-digest merge is NOT
    a union-idempotent fold (unlike HLL), so a plain
    merge-and-overwrite state would double-count exactly that
    window.  The report merges all wave rows per group
    (:func:`~preql_spark.operators.sketch.tdigest_merge`); compact
    long histories offline by rewriting the merged rows."""
    from preql_spark.operators.sketch import (tdigest, tdigest_merge,
                                              tdigest_quantiles)

    _guard_stranded(spark, state_path, ids_path)
    schema = _source_schema(spark, src_path, checkpoint)
    run_id = _ingest_run_id(spark, checkpoint)

    def _fold(batch: DataFrame) -> DataFrame:
        return tdigest(batch.select(F.col(group_col).alias("g"),
                                    F.expr(value_expr).cast("double")
                                    .alias("v")),
                       "g", "v", delta=delta)

    _drain(spark, src_path, checkpoint, schema,
           _epoch_fold(state_path, ids_path, id_col, run_id, _fold))

    merged = tdigest_merge(
        _read_state(spark, state_path).filter(F.col("n") > 0)
        .drop("run_id", "batch_id"),     # n == 0: per-run carriers
        "g", delta=delta)
    est = tdigest_quantiles(merged, "g", qs)
    return (est.join(merged.select("g", "n"), "g")
            .select(F.col("g").alias(group_col), "n",
                    *[c for c in est.columns if c.startswith("p")]))


def compact_ingest_state(spark: SparkSession, state_path: str,
                         kind: str = "histogram",
                         delta: float = 100.0,
                         capacity: int | None = None) -> int:
    """Offline compaction for the append-only ingest states: fold all
    wave rows into one merged wave and swap it in place, returning
    the new row count.  ``kind``: ``"histogram"``
    (:func:`incremental_quantile_ingest` — counters sum per (g, v)),
    ``"tdigest"`` (:func:`incremental_tdigest_ingest` — digest
    merge), ``"frequent"``
    (:func:`incremental_frequent_items_ingest` — Misra-Gries
    mergeable fold at ``capacity``, which preserves the candidate
    bound), or ``"hll"`` (:func:`incremental_hll_ingest` — sketch
    union per group).

    Replay-guard preservation: the merged data rows are stamped with
    the GLOBALLY max committed (run_id, batch_id); every OTHER
    run_id present in the state keeps one zero-weight CARRIER row
    holding its own max batch_id.  Per-run carriers matter because
    the guard is an exact (run_id, batch_id) membership test and the
    crash-window epoch that can replay belongs to whichever lineage
    resumes: with a single global carrier, an older lineage holding
    the higher epoch number would erase the CURRENT lineage's max
    epoch and let its replayed crash-window batch double-fold.
    Carrier rows are inert by construction (cnt = 0 / n = 0 / est 0
    on the NULL item / NULL sketch) and filtered by every report.
    Pre-guard legacy states bridge to the closed ``('__legacy__',
    -1)`` lineage before folding.

    RUN ONLY WHILE THE STREAM IS STOPPED — enforced mechanically
    in-session: any active streaming query in this session raises
    before anything is read (:func:`_require_no_active_streams`).
    Compaction rewrites committed waves; an in-flight uncommitted
    batch is unaffected (its epoch id is greater than the kept max),
    but the swap is not atomic against a concurrent writer, so
    cross-session writers are fenced mechanically: this compactor
    holds the sentinel lock (:class:`_compaction_lock`) and every
    ingest's :func:`_guard_stranded` refuses while it is held.
    The swap itself
    is the CHECKED backup-rename dance of :func:`_checked_swap`; a
    crash between its two renames leaves the ``__pre_compact``
    backup on disk, which every subsequent ingest detects LOUDLY
    with the rename-back recovery recipe
    (:func:`_guard_stranded`) instead of silently starting fresh.
    Reports are unchanged by construction — each fold is exactly the
    merge the report already performs."""
    _require_no_active_streams(spark, "compact_ingest_state")
    _guard_stranded(spark, state_path)
    with _compaction_lock(spark, state_path):
        return _compact_ingest_state_locked(spark, state_path, kind,
                                            delta, capacity)


def _lineage_carriers(st: DataFrame) -> tuple:
    """The compactors' lineage rule over a guarded ingest state:
    ``(top_run, top_bid, others)`` — the run holding the globally max
    committed ``(batch_id, run_id)``, its max batch_id (the stamp of
    the merged rows), and ``(run_id, max batch_id)`` of every OTHER
    run, sorted by run_id (one carrier row each, so the epoch guard
    still sees every run's high-water mark)."""
    tops = {r["run_id"]: int(r["mb"]) for r in
            st.groupBy("run_id")
              .agg(F.max("batch_id").alias("mb")).collect()}
    top_run = max(tops, key=lambda k: (tops[k], k))
    return (top_run, tops[top_run],
            [(r, tops[r]) for r in sorted(tops) if r != top_run])


def _compact_ingest_state_locked(spark: SparkSession, state_path: str,
                                 kind: str, delta: float,
                                 capacity: int | None) -> int:
    st = _read_state(spark, state_path)
    top_run, top_bid, others = _lineage_carriers(st)
    bid = F.lit(top_bid).cast("long").alias("batch_id")
    rid = F.lit(top_run).alias("run_id")
    g_type = (st.schema["g"].dataType.simpleString()
              if "g" in st.columns else None)
    if kind == "histogram":
        out = (st.groupBy("g", "v").agg(F.sum("cnt").alias("cnt"))
               .filter(F.col("cnt") > 0)     # old carriers, if any
               .select("g", "v", "cnt", bid, rid))
        if others:
            out = out.unionByName(spark.createDataFrame(
                [(None, None, 0, b, r) for r, b in others],
                schema=f"g {g_type}, v bigint, cnt bigint,"
                       " batch_id bigint, run_id string"))
    elif kind == "tdigest":
        from preql_spark.operators.sketch import tdigest_merge
        out = (tdigest_merge(st.filter(F.col("n") > 0)
                             .drop("run_id", "batch_id"), "g",
                             delta=delta)
               .select("g", "means", "weights", "vmin", "vmax", "n",
                       bid, rid))
        if others:
            out = out.unionByName(spark.createDataFrame(
                [(None, [], [], None, None, 0, b, r)
                 for r, b in others],
                schema=f"g {g_type}, means array<double>,"
                       " weights array<double>, vmin double,"
                       " vmax double, n bigint, batch_id bigint,"
                       " run_id string"))
    elif kind == "frequent":
        from preql_spark.operators.sketch import mg_merge
        rows = st.collect()          # summary state: kilobytes
        n = sum(int(r["est"]) for r in rows if r["item"] is None)
        cap = (int(capacity) if capacity is not None
               else max(1, len({r["item"] for r in rows
                                if r["item"] is not None})))
        counts = mg_merge({}, ((r["item"], int(r["est"]))
                               for r in rows
                               if r["item"] is not None), cap)
        out = spark.createDataFrame(
            [(k, int(v), top_bid, top_run)
             for k, v in counts.items()]
            + [(None, int(n), top_bid, top_run)]
            # per-run carriers: item NULL / est 0 adds nothing to n
            + [(None, 0, b, r) for r, b in others],
            schema="item string, est bigint, batch_id bigint,"
                   " run_id string")
    elif kind == "hll":
        out = (st.filter(F.col("sketch").isNotNull())
               .groupBy("g")
               .agg(F.hll_union_agg("sketch").alias("sketch"))
               .select("g", "sketch", bid, rid))
        if others:
            out = out.unionByName(spark.createDataFrame(
                [(None, None, b, r) for r, b in others],
                schema=f"g {g_type}, sketch binary,"
                       " batch_id bigint, run_id string"))
    else:
        raise ValueError(f"unknown state kind {kind!r}")
    return _checked_swap(spark, state_path, out)


def _checked_swap(spark: SparkSession, path: str, out: DataFrame,
                  partition_col: str | None = None,
                  max_file_rows: int | None = None) -> int:
    """Write ``out`` as the compacted rewrite of ``path`` (one file —
    or, with ``partition_col``, one file per partition directory) and
    swap it in via the CHECKED backup-rename dance shared by
    :func:`compact_ingest_state` / :func:`compact_ingest_ids` /
    :func:`compact_partitioned_store`: the old dir renames to
    ``<path>__pre_compact``, the rewrite renames in, and only then
    does the backup delete — a failed rename restores the backup and
    raises (never a silent half-state); a crash between the two
    renames leaves the backup on disk, which every ingest detects
    LOUDLY (:func:`_guard_stranded`) with the rename-back recovery
    recipe.  Returns the rewrite's row count."""
    tmp = path.rstrip("/") + "__compact"
    bak = path.rstrip("/") + "__pre_compact"
    if partition_col is not None and max_file_rows is not None:
        # mega-cell split: a skewed partition value larger than
        # max_file_rows rewrites as ~ceil(n/max) files instead of ONE
        # task/file — salt rows into per-cell file groups and spread
        # the groups across tasks.  Hash collisions can merge a few
        # groups (a file up to ~2x target occasionally); the knob
        # bounds the one-giant-file/one-stuck-task failure mode, not
        # exact file sizes
        # NULL-safe join key: rows with a NULL partition value live in
        # the __HIVE_DEFAULT_PARTITION__ directory and must survive the
        # rewrite like any other cell — a plain inner join on the
        # column name would silently drop them (data loss at
        # compaction time)
        cnts = (out.groupBy(partition_col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .withColumn("__nf", F.greatest(
                    F.lit(1),
                    F.ceil(F.col("__n") / F.lit(int(max_file_rows))))
                    .cast("int"))
                .drop("__n")
                .withColumnRenamed(partition_col, "__pc"))
        total = cnts.agg(F.sum("__nf")).collect()[0][0] or 1
        salted = (out.join(
                      F.broadcast(cnts),
                      F.col(partition_col).eqNullSafe(F.col("__pc")))
                  .drop("__pc")
                  .withColumn("__salt", F.pmod(
                      F.xxhash64(*[F.col(c) for c in out.columns]),
                      F.col("__nf"))))
        (salted.repartition(int(total) * 2, F.col(partition_col),
                            F.col("__salt"))
         .drop("__nf", "__salt")
         .write.mode("overwrite").partitionBy(partition_col)
         .parquet(tmp))
    elif partition_col is not None:
        # repartition BY the partition column: every partition value
        # lands in exactly one task, so each directory rewrites as
        # one file
        (out.repartition(F.col(partition_col))
            .write.mode("overwrite").partitionBy(partition_col)
            .parquet(tmp))
    else:
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
    n_rows = spark.read.parquet(tmp).count()
    fs, old = _hadoop_fs_path(spark, path)
    _, new = _hadoop_fs_path(spark, tmp)
    _, bkp = _hadoop_fs_path(spark, bak)
    fs.delete(bkp, True)                     # stale backup, if any
    if not fs.rename(old, bkp):
        raise IOError(f"compact: cannot move {path} aside")
    if not fs.rename(new, old):
        fs.rename(bkp, old)                  # restore, then fail
        raise IOError(f"compact: cannot swap in {tmp}; "
                      f"state restored from backup")
    fs.delete(bkp, True)
    return int(n_rows)


def compact_ingest_ids(spark: SparkSession, ids_path: str) -> int:
    """Offline compaction for an ingest ids store: rewrite the
    append-only per-batch id files as ONE distinct file and swap it
    in with the same checked backup-rename dance as
    :func:`compact_ingest_state`, returning the new row count.

    Why it matters at scale: every ingest micro-batch anti-joins
    against the FULL ids store, which otherwise accumulates one
    small file per batch forever — the per-batch read pays the file
    listing + footer cost of the whole history, and in-batch
    duplicate ids (several rows per id in one wave) append
    duplicate rows the anti-join then re-reads every batch.
    Compaction collapses both; the anti-join is semantically a set
    probe, so a distinct rewrite changes NO ingest decision (pytest:
    replay after compaction ingests nothing, reports unchanged).

    Retention contract: the ids store answers "was this id EVER
    ingested", so it grows with the true id cardinality of the
    corpus — that is the floor, and compaction reaches it.  If the
    pipeline can bound re-delivery (e.g. sources replay at most N
    days), the store can additionally be pruned to that horizon by
    rewriting it filtered — do that with the same swap, NOT by
    deleting part files in place.

    If the store has a ``<ids_path>__intent`` sibling (the
    :func:`incremental_ivf_ingest` crash-marker store — one tiny row
    per epoch, written BEFORE the index append), it is compacted in
    the same pass: an intent row whose (run_id, batch_id) has a
    matching SIDECAR row is redundant (the sink's committed-epoch
    check returns before ever consulting intent), so only rows for
    epochs with NO sidecar row — still-pending crash markers — are
    kept.  In steady state that is zero rows, so the per-batch
    crashed-epoch probe stops paying the one-file-per-epoch history.

    RUN ONLY WHILE THE STREAM IS STOPPED — enforced mechanically
    in-session (:func:`_require_no_active_streams`), like
    :func:`compact_ingest_state`."""
    intent_path = ids_path.rstrip("/") + "__intent"
    _require_no_active_streams(spark, "compact_ingest_ids")
    _guard_stranded(spark, ids_path, intent_path)
    with _compaction_lock(spark, ids_path):
        ids = spark.read.parquet(ids_path).distinct()
        n = _checked_swap(spark, ids_path, ids)
        if hadoop_dir_has_files(spark, intent_path):
            committed = (spark.read.parquet(ids_path)
                         .select("run_id", "batch_id").distinct())
            pending = (spark.read.parquet(intent_path).distinct()
                       .join(committed, ["run_id", "batch_id"],
                             "left_anti"))
            _checked_swap(spark, intent_path, pending)
        return n


def compact_datacard_state(spark: SparkSession, state_path: str,
                           group_cols: tuple = ("source", "lang"),
                           metric_cols: tuple = ("n_docs",
                                                 "total_tokens",
                                                 "total_bytes")) -> int:
    """Offline compaction for a per-(epoch, group) COUNTERS state
    (:func:`incremental_datacard_ingest`'s, and any sibling with the
    same shape — pass ``metric_cols`` for the summed columns, e.g.
    ``("n_docs", "n_keep")`` for
    :func:`incremental_gate_rate_ingest`): fold all wave rows into
    one summed wave per group, keeping the max committed (run_id,
    batch_id) plus a zero-metric carrier row per other run (the
    :func:`compact_ingest_state` lineage rule — the epoch guard must
    still see every run's high-water mark), and swap via the checked
    backup-rename dance.  Counter sums are exactly mergeable, so the
    report is unchanged by construction (pytest-pinned).  The
    fingerprint INVENTORY side needs no dedicated compactor —
    :func:`compact_ingest_ids` already rewrites any append-only
    store as one distinct file, and the inventory is distinct by
    contract.  RUN ONLY WHILE THE STREAM IS STOPPED — enforced
    in-session and cross-session like the other compactors."""
    gc, mc = list(group_cols), list(metric_cols)
    _require_no_active_streams(spark, "compact_datacard_state")
    _guard_stranded(spark, state_path)
    with _compaction_lock(spark, state_path):
        st = _read_state(spark, state_path)
        top_run, top_bid, others = _lineage_carriers(st)
        out = (st.filter(F.col(mc[0]).isNotNull())
               .groupBy(*[F.col(c) for c in gc])
               .agg(*[F.sum(m).alias(m) for m in mc])
               .withColumn("batch_id", F.lit(top_bid).cast("long"))
               .withColumn("run_id", F.lit(top_run)))
        if others:
            gt = {f.name: f.dataType.simpleString()
                  for f in st.schema.fields}
            schema = (", ".join(f"{c} {gt[c]}" for c in gc)
                      + "".join(f", {m} bigint" for m in mc)
                      + ", batch_id bigint, run_id string")
            out = out.unionByName(spark.createDataFrame(
                [tuple([None] * len(gc)) + tuple([None] * len(mc))
                 + (b, r) for r, b in others], schema=schema))
        return _checked_swap(spark, state_path, out)


def prune_ingest_ids(spark: SparkSession, ids_path: str,
                     keep_expr: str, store_path: str | None = None,
                     store_id_col: str = "doc_id") -> int:
    """Retention pruning for an ingest ids store — the mechanical
    form of the documented retention contract (see
    :func:`compact_ingest_ids`): rewrite the store keeping only rows
    matching ``keep_expr`` (a SQL predicate over the store's own
    columns, e.g. ``"doc_id >= 1000000"`` or a date horizon), via
    the same checked backup-rename swap and cross-session lock as
    the compactors.  Returns the kept (distinct) row count.

    THE CONTRACT: pruning an id RE-OPENS its dedup window — a source
    that later re-delivers a pruned id will be re-ingested as new
    (pytest-pinned).  Only prune to a horizon the sources can no
    longer replay.  NULL-``__id`` epoch-marker rows (the
    :func:`incremental_ivf_ingest` sidecar writes one per committed
    epoch) are KEPT unconditionally: a user predicate over ``__id``
    evaluates to NULL on them, and silently pruning a marker would
    demote its committed epoch back to "pending" in the intent store
    forever (clutter, not data loss — but :func:`compact_ingest_ids`
    could then never prune that intent row).

    CURATION SIDECARS (:func:`incremental_curation_ingest` with
    ``ids_path``) MUST pass ``store_path`` (and ``store_id_col``,
    the curated store's id column): ids still present in the linked
    curated store are then kept UNCONDITIONALLY, whatever
    ``keep_expr`` says.  Re-opening the dedup window is harmless for
    an IVF index (a re-ingested vector is just re-indexed) but
    catastrophic for a curated corpus — a pruned-then-redelivered
    KEEPER would sail through the sidecar anti-join and be appended
    AGAIN, a duplicate training document (the exact failure the
    pipeline exists to prevent; pytest-pinned both ways).  With
    ``store_path``, only ids the store does not hold (gate-rejects —
    the bulk of sidecar growth) actually prune, which is the
    retention win the knob exists for.  RUN ONLY WHILE THE
    STREAM IS STOPPED — enforced in-session and cross-session like
    the compactors."""
    _require_no_active_streams(spark, "prune_ingest_ids")
    _guard_stranded(spark, ids_path)
    with _compaction_lock(spark, ids_path):
        src = spark.read.parquet(ids_path)
        keep = F.expr(keep_expr)
        idc = "__id" if "__id" in src.columns else None
        if idc:
            keep = keep | F.col(idc).isNull()
        kept = src.filter(keep)
        if store_path is not None:
            sid = idc or store_id_col
            stored = (spark.read.parquet(store_path)
                      .select(F.col(store_id_col).alias(sid))
                      .distinct())
            kept = kept.unionByName(
                src.join(stored, [sid], "left_semi"))
        ids = kept.distinct()
        return _checked_swap(spark, ids_path, ids)


def compact_partitioned_store(spark: SparkSession, path: str,
                              partition_col: str = "__cid",
                              max_file_rows: int | None = None) -> int:
    """Offline small-file compaction for a partitioned append store
    (the :func:`incremental_ivf_ingest` layout — every micro-batch
    appends one file per touched cell directory, so a long-lived
    stream accumulates O(batches) files per cell and probe reads pay
    the listing + footer cost of all of them): rewrite each
    partition directory as ONE file (repartition by the partition
    column, so every partition value lands in exactly one write
    task) and swap via the checked backup-rename dance.  Contents
    are row-identical; only the file layout changes — searches and
    the ingest's ids anti-join read the same rows from fewer files.
    Returns the rewrite's row count.

    Mega-cell guard: the default one-task-per-cell rewrite means a
    skewed partition value (a hot IVF centroid that swallowed a few
    GB) rewrites as ONE task and ONE file — a straggler at compaction
    and an unsplittable read afterwards.  Pass ``max_file_rows`` to
    split any cell larger than that into ~ceil(n/max) files
    (hash-salted groups — approximate sizes, bounded worst case;
    the knob trades "exactly one file per cell" for "no file beyond
    ~2x the cap").  Cells under the cap still compact to one file.

    RUN ONLY WHILE THE STREAM IS STOPPED — enforced mechanically
    in-session (:func:`_require_no_active_streams`) and cross-session
    via the sentinel lock (:class:`_compaction_lock`); a crash
    mid-swap strands the ``__pre_compact`` backup, which the next
    ingest detects loudly (:func:`_guard_stranded`)."""
    _require_no_active_streams(spark, "compact_partitioned_store")
    _guard_stranded(spark, path)
    with _compaction_lock(spark, path):
        df = spark.read.parquet(path)
        return _checked_swap(spark, path, df,
                             partition_col=partition_col,
                             max_file_rows=max_file_rows)
