"""Structured Streaming surface — the reference is batch-only, but its
incremental protocol (SURVEY §2.12) maps onto exactly these shapes, so
the engine exposes them as first-class operators:

- ``stream_ingest``: watch a directory for sacct-shaped CSV drops and
  continuously append transformed rows to the parquet table. The
  ``availableNow`` trigger gives the reference's catch-up-then-stop
  batch semantics with streaming's exactly-once file tracking (the
  checkpoint replaces the hand-rolled watermark for this path).
- ``windowed_job_counts``: event-time tumbling-window aggregation with
  a lateness watermark — submit-rate monitoring over the stream.
- ``streaming_dedup``: drop duplicate JobIDs within the watermark
  horizon (the streaming analog of the keyed upsert).

All three are thin, testable plan builders: they return the streaming
DataFrame/query so callers pick sinks and triggers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from slurm2sql_spark.operators.transform import slurm_transform
from slurm2sql_spark.schema import RAW_FIELDS

__all__ = [
    "read_sacct_stream",
    "stream_ingest",
    "windowed_job_counts",
    "streaming_dedup",
    "job_state_transitions",
    "decontaminate_stream",
    "boilerplate_stream",
    "quality_stream",
    "scrub_stream",
    "export_stream",
    "heavy_hitters_stream",
    "lang_id_stream",
    "tokenize_stream",
    "tokenize_stream_batched",
]


def read_sacct_stream(
    spark: SparkSession,
    input_dir: str,
    delimiter: str = ",",
    fields: tuple[str, ...] | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming read of sacct-shaped CSV files landing in a directory.

    Schema must be declared up front for streams, and CSV columns bind
    by POSITION under a declared schema — so ``fields`` must list the
    columns the files actually contain, in file order (default: the
    full sacct request list). Everything is string; the typed
    projection is the transform's job, same as batch.
    ``max_files_per_trigger`` bounds each micro-batch (1 = one file per
    batch, the knob that makes watermark progression across batches
    observable/testable).
    """
    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in (fields or RAW_FIELDS)]
    )
    return (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("sep", delimiter)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(input_dir)
    )


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    now: int | None = None,
    available_now: bool = True,
    fields: tuple[str, ...] | None = None,
):
    """File-drop -> transform -> parquet append, exactly-once via the
    checkpoint's file log. Returns the started StreamingQuery.

    Append mode means replayed *files* are deduped by the checkpoint but
    replayed *keys* are not — run ``parquet_sink.upsert``-style
    compaction or ``streaming_dedup`` upstream when JobIDs can repeat
    across files.
    """
    raw = read_sacct_stream(spark, input_dir, fields=fields)
    typed = slurm_transform(raw, now=now)
    writer = (
        typed.writeStream.format("parquet")
        .option("path", table_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_job_counts(
    typed_stream: DataFrame,
    window: str = "1 hour",
    lateness: str = "1 day",
) -> DataFrame:
    """Tumbling event-time window over Submit with a lateness watermark:
    jobs submitted per (window, Partition). State for windows older than
    the watermark is dropped — bounded memory on an unbounded stream."""
    with_ts = typed_stream.withColumn(
        "submit_ts", F.to_timestamp(F.from_unixtime(F.col("Submit")))
    )
    return (
        with_ts.withWatermark("submit_ts", lateness)
        .groupBy(F.window("submit_ts", window).alias("w"), F.col("Partition"))
        .agg(
            F.count(F.lit(1)).alias("n_jobs"),
            F.sum("NCPUS").alias("cpus_requested"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "Partition",
            "n_jobs",
            "cpus_requested",
        )
    )


def streaming_dedup(
    typed_stream: DataFrame, lateness: str = "1 day"
) -> DataFrame:
    """Drop repeated JobIDs within the watermark horizon — the streaming
    analog of the reference's INSERT OR REPLACE key (first-wins here;
    use the batch upsert for last-wins semantics)."""
    with_ts = typed_stream.withColumn(
        "submit_ts", F.to_timestamp(F.from_unixtime(F.col("Submit")))
    )
    return with_ts.withWatermark("submit_ts", lateness).dropDuplicatesWithinWatermark(
        ["JobID"]
    )


def job_state_transitions(
    typed_stream: DataFrame, state_ttl_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator: emit one row per observed JobID state
    CHANGE across micro-batches (``prev_state`` is NULL on first sight).

    This is the streaming twin of the history re-ingest story (SURVEY
    §2.12): the reference re-fetches whole days to catch RUNNING ->
    terminal flips (slurm2sql.py:826-848); a stream with per-key state
    surfaces exactly those flips as they arrive. Built on
    ``applyInPandasWithState`` — per-JobID state is one string (the
    last seen state), stored in the state store, so memory is O(live
    jobs), not O(events).

    ``state_ttl_ms`` arms a PROCESSING-time timeout per key: a JobID
    silent for that long has its state evicted, bounding the store on
    an unbounded stream (an evicted job that reappears re-emits with
    ``prev_state`` NULL — same contract as first sight). Default keeps
    state forever, which is only sane for bounded/test streams.
    Caveat for ``availableNow`` catch-up runs: ProcessingTimeTimeout
    makes the operator request another batch unconditionally, so Spark
    schedules no-data "cleaning up state" micro-batches forever and
    the query never self-terminates; TTL mode is meant for continuous
    triggers, or set ``spark.sql.streaming.noDataMicroBatches.enabled=
    false`` so eviction fires on the next DATA batch only (measured
    r16; the no-TTL default is unaffected).

    Ordering note: rows WITHIN one micro-batch arrive per-key in
    arbitrary order; transitions are taken in (End, Start, State)
    sort order inside the batch to make replay deterministic.
    """

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = ["JobID", "prev_state", "new_state"]
    empty = pd.DataFrame([], columns=cols)

    def _null_first(v):
        # sort key with NULLs first (the na_position="first" contract):
        # False sorts before True, so None -> (False, "") leads
        return (v is not None, v if v is not None else "")

    def track(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # TTL fired with no new rows for this key: drop the state,
            # emit nothing (the job went quiet — nothing changed).
            state.remove()
            yield empty
            return
        last = state.get[0] if state.exists else None
        # Per-key cost is THE scaling term of a stateful operator (one
        # call per live key per micro-batch). The original pandas shape
        # (concat + sort_values + column iteration) measured 1.67 ms
        # per ~33-row group; plain-list zip + tuple sort is 0.3 ms for
        # the same rows (r15 micro-bench, equivalence pinned on 200
        # random trials incl. NULL keys) — 5x less Python per key.
        rows = []
        for c in pdfs:
            rows.extend(
                zip(c["End"].tolist(), c["Start"].tolist(), c["State"].tolist())
            )
        rows.sort(
            key=lambda r: (
                _null_first(r[0]),
                _null_first(r[1]),
                _null_first(r[2]),
            )
        )
        out = []
        for _, _, s in rows:
            if s != last:
                out.append((key[0], last, s))
                last = s
        state.update((last,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(out, columns=cols) if len(out) else empty

    src = typed_stream
    for c in ("Start", "End"):  # sort keys; tolerate pre-transform input
        if c not in src.columns:
            src = src.withColumn(c, F.lit(None).cast("string"))
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        src.select("JobID", "State", "Start", "End")
        .groupBy("JobID")
        .applyInPandasWithState(
            track,
            outputStructType="JobID string, prev_state string, new_state string",
            stateStructType="last string",
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def decontaminate_stream(
    doc_stream: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,  # same default as the batch twin dedup.decontaminate
) -> DataFrame:
    """Stream-static decontamination: flag streaming documents that
    share any word-``n``-gram with a STATIC benchmark frame — the
    continuous-ingest twin of ``dedup.decontaminate`` (L33), for
    pipelines that must reject contaminated documents as they land
    rather than in a nightly sweep.

    The benchmark reduces once to a DISTINCT shingle set and rides into
    every micro-batch as a broadcast (stream-static equi-join — Spark
    re-resolves the static side per batch, so a benchmark refresh is
    picked up on the next trigger). The stream side shingles inside the
    micro-batch with the same Arrow kernel semantics as the batch
    operator (RE2-parity tokenization, per-doc shingle SETS) but
    WITHOUT the batch ``fan_out`` seam — micro-batch partitioning is
    the trigger's concern (``maxFilesPerTrigger``), not a repartition's.
    Output is a streaming aggregation (``id``, ``n_hits``): run it in
    ``update``/``complete`` mode, or bound it with a watermark upstream
    for append sinks.
    """

    from slurm2sql_spark.operators.dedup import _re2_tokens, shingles

    b_sh = F.broadcast(
        shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    )

    @F.pandas_udf("array<string>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            w = _re2_tokens(s)
            out.append(
                list({" ".join(w[i:i + n]) for i in range(len(w) - n + 1)})
                if len(w) >= n
                else []
            )
        return pd.Series(out)

    posts = doc_stream.select(
        F.col(id_col).alias("id"), F.explode(_sh(F.col(text_col))).alias("shingle")
    )
    return posts.join(b_sh, "shingle").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def boilerplate_stream(
    doc_stream: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_col: str = "para_hash",
) -> DataFrame:
    """Stream-static boilerplate flagging: count the paragraphs of each
    streaming document that hit a STATIC blocklist — the
    continuous-ingest twin of the L39 batch pass
    (``dedup.paragraph_stats``), for pipelines that score documents for
    repeated-span share as they land.

    ``blocklist`` is the corpus-built boilerplate table
    (``dedup.repeated_paragraphs`` output, or anything with a
    ``hash_col`` of md5'd normalized paragraphs). It reduces to its
    hash column once and rides into every micro-batch as a BROADCAST
    (stream-static equi-join; the static side is re-resolved per
    trigger, so a nightly blocklist rebuild is picked up on the next
    batch). The stream side splits/normalizes/hashes with the exact
    batch-operator expressions (same blank-line ``PARAGRAPH_SEP``, same
    ``normalize_text``), so a document scores identically in the sweep
    and on the stream.

    Output is a streaming aggregation per document id:
    ``n_paras`` (non-empty), ``n_boiler`` (blocklist hits), and
    ``boiler_chars`` — run in ``update``/``complete`` mode or put a
    watermark upstream for append sinks. Broadcast posture matches the
    batch design rule: the FILTERED blocklist is the small side (it was
    thresholded by min_docs at build time), never the unbounded
    paragraph vocabulary.
    """
    from slurm2sql_spark.operators.dedup import PARAGRAPH_SEP, normalize_text

    b = F.broadcast(blocklist.select(F.col(hash_col).alias("_bh")).distinct())
    paras = (
        doc_stream.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), PARAGRAPH_SEP)).alias("_p"),
        )
        .select("id", normalize_text(F.col("_p")).alias("_pn"))
        .filter(F.length("_pn") > 0)
        .select("id", F.md5("_pn").alias("_h"), F.length("_pn").alias("_c"))
    )
    hit = F.col("_bh").isNotNull()
    return (
        paras.join(b, paras._h == F.col("_bh"), "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_boiler"),
            F.sum(F.when(hit, F.col("_c")).otherwise(F.lit(0))).alias(
                "boiler_chars"
            ),
        )
    )


def quality_stream(
    doc_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **thresholds: float,
) -> DataFrame:
    """Streaming quality filtering: the Gopher-rule keep/drop decision
    (L41, ``textstats.quality_filter``) applied to documents as they
    land — the continuous-ingest twin of the batch curation pass.

    Unlike the two stream-static twins above, this one is STATELESS:
    the whole rule set is a single scan-stage projection (no join, no
    aggregation), so it runs in **append** output mode with no
    watermark, no state store, and per-row latency — the decision for
    a document depends only on that document. A landing pipeline can
    therefore route kept/dropped docs with ``foreachBatch`` partitioned
    writes at full ingest parallelism; per-micro-batch cost is linear
    in batch bytes with zero shuffle (the same plan the batch operator
    shows in PLANS.md).

    Thresholds forward to the batch operator, so a document scores
    identically on the stream and in the sweep — the batch/stream
    parity pytest pins that row-for-row.
    """
    from slurm2sql_spark.operators.textstats import quality_filter

    return quality_filter(doc_stream, id_col, text_col, **thresholds)


def classifier_stream(
    doc_stream: DataFrame,
    weights: dict[int, float],
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Streaming quality-classifier scoring: a model trained offline
    (``classifier.hashed_classifier_fit``) applied to documents as
    they land — the deployment posture of the CCNet/fastText family
    (train on a curated snapshot, filter the live crawl).

    STATELESS like :func:`quality_stream`: the inline scorer folds the
    m-entry weight map, bucket lookups, length normalization and
    sigmoid into one scan-stage projection (no join, no aggregation,
    no state store), so it runs in **append** mode with per-row
    latency and zero shuffle. A document scores identically on the
    stream and in the batch sweep — the parity gate entry pins that
    hash-for-hash. Extra kwargs forward to the scorer (m, salt,
    threshold, ...)."""
    from slurm2sql_spark.operators.classifier import (
        hashed_classifier_score_inline,
    )

    return hashed_classifier_score_inline(
        doc_stream, id_col, text_col, weights, bias, **kwargs
    )


def scrub_stream(
    doc_stream: DataFrame,
    blocked_hashes: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming boilerplate REMOVAL: apply a driver-held blocklist to
    documents as they land — the continuous-ingest twin of
    ``dedup.scrub_paragraphs_inline`` and the natural deployment shape
    for the scrub stage (the blocklist is rebuilt nightly by the batch
    sweep, collected once, and every arriving document is cleaned in
    the scan).

    Because the inline scrub is a PURE PROJECTION (split, isin-set
    match on the normalized-paragraph md5, reassemble, counts — no
    join, no aggregation, no state), it runs in plain APPEND mode with
    no watermark and no state store, and a document's cleaned text is
    byte-identical to the batch operator's (parity pytest). Stateless
    like ``quality_stream``; contrast ``boilerplate_stream``, whose
    per-doc aggregation needs update mode or a watermark.
    """
    from slurm2sql_spark.operators.dedup import scrub_paragraphs_inline

    return scrub_paragraphs_inline(
        doc_stream, id_col, text_col, blocked_hashes
    )


def heavy_hitters_stream(
    item_stream: DataFrame,
    item_col: str,
    summaries_path: str,
    m: int = 4096,
):
    """Pass 1 of the EXACT heavy-hitter protocol over a stream
    (operators/heavyhitters.py): each micro-batch lands its per-task
    Misra-Gries summaries ``(item, mg, d)`` in an append parquet
    sink. MG summaries are MERGEABLE (Agarwal et al. 2013) across
    tasks and micro-batches identically — the global bounds
    ``mg(x) <= true(x) <= mg(x) + D`` hold with ``D`` summed over
    every (task x batch) sentinel row — so after the stream drains,
    ``exact_topk_from_summaries`` finishes with the UNCHANGED
    merge -> threshold -> candidate -> rescan proof. This is the
    continuous-top-k shape: the summary sink stays summary-scale
    (<= m+1 rows per task per batch) no matter how long the stream
    runs or how open the vocabulary is.

    Delivery contract: foreachBatch may re-run a batch on failure;
    the sink is a per-batch subdirectory written with mode=overwrite,
    so a replayed batch id overwrites its own summaries instead of
    double-counting them — idempotent per batch, exactly-once
    end-to-end under availableNow.

    Returns the ``DataStreamWriter`` (caller picks trigger/checkpoint
    and calls ``start()``).
    """
    from slurm2sql_spark.operators.heavyhitters import (
        misra_gries_summaries,
    )

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        misra_gries_summaries(batch_df, item_col, m).write.mode(
            "overwrite"
        ).parquet(f"{summaries_path}/batch={batch_id}")

    return item_stream.writeStream.foreachBatch(_land)


#: most kept rows per micro-batch that export_stream packs driver-locally
_EXPORT_LOCAL_CAP = 1_000_000


def export_stream(
    doc_stream: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    budget: int = 2048,
    n_shards: int = 8,
    n_groups: int = 4,
    salt: str = "",
    **thresholds: float,
):
    """Streaming sharded EXPORT — the foreachBatch twin of the batch
    ``export_pipeline`` composition (VERDICT r11 #3: the last pipeline
    stage with no streaming path). Each micro-batch runs the full
    export tail: Gopher quality gate (L41) -> sequence packing into
    ``budget``-token bins per source (L20) -> deterministic
    size-balanced shard write (L60, ``write_sharded``) into
    ``{path}/batch=<id>/shard=<k>/`` parquet.

    Delivery contract: every kept document lands EXACTLY once.
    ``foreachBatch`` may re-run a batch on failure, but the sink is a
    per-batch directory written with mode=overwrite, so a replayed
    batch id overwrites its own output instead of appending —
    idempotent per batch, exactly-once end-to-end under availableNow
    (file-source checkpointing never re-issues a committed batch id on
    a clean restart).

    Scale shape per micro-batch: the quality gate is a zero-exchange
    scan projection. Below ``_EXPORT_LOCAL_CAP`` (1M) kept rows the
    packing + serpentine assignment run DRIVER-LOCAL on the collected
    ``(id, src, n_words)`` triples — bit-identical by
    ``sharding.pack_assign_local``'s pytest-pinned equivalence — so a micro-batch costs ONE zero-exchange collect plus
    one local-relation write instead of three chained shuffles (pack
    window on source, serpentine window on grp, write repartition;
    optimization r16, guide §2.4 — at gate scale those exchanges were
    pure scheduling latency over a few thousand rows). Batches above
    the cap keep the distributed shape: one window keyed by
    ``source_col``, one partitioned window + one repartition — all
    bounded-key shuffles over batch-sized (not corpus-sized) data.
    Packing offsets restart per micro-batch by construction (a stream
    cannot know future arrivals); bin numbering is therefore
    batch-local while the keep decision and per-doc token counts are
    byte-identical to the batch pipeline (the parity gate pins those).

    Returns the ``DataStreamWriter`` (caller picks trigger/checkpoint
    and calls ``start()``).
    """
    from pyspark.sql import types as T

    from slurm2sql_spark.operators.packing import pack_sequences
    from slurm2sql_spark.operators.sharding import (
        pack_assign_local,
        write_sharded,
    )
    from slurm2sql_spark.operators.textstats import quality_filter

    def _export_batch(batch_df: DataFrame, batch_id: int) -> None:
        qf = quality_filter(
            batch_df, id_col, text_col,
            keep_cols=(source_col,), **thresholds,
        )
        kept = qf.filter(F.col("keep")).select(
            id_col, source_col, "n_words"
        )
        out_dir = f"{path}/batch={int(batch_id)}"
        cap = _EXPORT_LOCAL_CAP
        f_id, f_src = kept.schema.fields[0], kept.schema.fields[1]
        # the local write maps id/src to these Arrow types; any other
        # dtype takes the distributed path, which is dtype-agnostic
        arrow_of = {"long": "int64", "integer": "int32", "string": "string"}
        id_t = arrow_of.get(f_id.dataType.typeName())
        src_t = arrow_of.get(f_src.dataType.typeName())
        local = id_t is not None and src_t is not None
        rows = kept.limit(cap + 1).collect() if local else None
        if rows is not None and len(rows) <= cap:
            import pyarrow as pa

            assigned = pack_assign_local(
                [tuple(r) for r in rows],
                budget=budget,
                n_shards=n_shards,
                n_groups=n_groups,
                salt=salt,
            )
            schema = T.StructType(
                [
                    T.StructField("id", f_id.dataType, True),
                    T.StructField("src", f_src.dataType, True),
                    T.StructField("n_tokens", T.LongType(), True),
                    T.StructField("offset", T.LongType(), True),
                    T.StructField("bin", T.LongType(), True),
                    T.StructField("shard", T.LongType(), True),
                ]
            )
            # pa.Table input keeps createDataFrame on the Arrow path
            # regardless of arrow.pyspark.enabled (the round driver's
            # plain session has it off; the pickled-tuples relation
            # measured 7.6 s to write vs 0.8 via Arrow — python-worker
            # round trips per partition). coalesce(1): one task writes
            # the <= n_shards dirs of a bounded batch — no exchange.
            cols = (
                list(zip(*assigned)) if assigned else [[]] * 6
            )
            tbl = pa.table(
                {
                    "id": pa.array(cols[0], id_t),
                    "src": pa.array(cols[1], src_t),
                    "n_tokens": pa.array(cols[2], pa.int64()),
                    "offset": pa.array(cols[3], pa.int64()),
                    "bin": pa.array(cols[4], pa.int64()),
                    "shard": pa.array(cols[5], pa.int64()),
                }
            )
            (
                batch_df.sparkSession.createDataFrame(tbl, schema)
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(out_dir)
            )
            return
        packed = pack_sequences(
            kept, id_col, "n_words", budget=budget, shard_col=source_col
        ).withColumnRenamed("shard", "src")
        write_sharded(
            packed,
            "id",
            "n_tokens",
            out_dir,
            n_shards=n_shards,
            n_groups=n_groups,
            salt=salt,
        )

    return doc_stream.writeStream.foreachBatch(_export_batch)


def lang_id_stream(
    doc_stream: DataFrame,
    classes: list[str],
    weights: dict[str, dict[int, float]],
    biases: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Streaming TRAINED language ID: a softmax model fitted offline
    (``classifier.softmax_classifier_fit``) applied to documents as
    they land — the per-class twin of :func:`classifier_stream` and
    the deployment posture for multilingual routing (train on a
    labeled slice, tag the live crawl).

    STATELESS: the inline scorer folds the (k x m) weight map, the
    k-array score accumulation, softmax and argmax into one scan-stage
    projection (no join, no aggregation, no state store), so it runs
    in **append** mode with per-row latency and zero shuffle. A
    document tags identically on the stream and in the batch sweep —
    the inline-vs-join parity pytest pins that. Extra kwargs forward
    to the scorer (m, salt, bigrams, quantize)."""
    from slurm2sql_spark.operators.classifier import (
        softmax_classifier_score_inline,
    )

    return softmax_classifier_score_inline(
        doc_stream, id_col, text_col, classes, weights, biases, **kwargs
    )


def tokenize_stream(
    doc_stream: DataFrame,
    merges: list[tuple[str, str]],
    eow: str | None = "</w>",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming tokenization under a FROZEN BPE vocabulary: a merge
    table trained offline (``bpe.bpe_train``) and persisted
    (``bpe.save_bpe_model``) applied to documents as they land —
    completing the train-once/tokenize-many deployment loop on the
    streaming side (the tokenizer analog of ``classifier_stream``).

    STATELESS: the whole tokenizer — word split, per-word char
    symbols, the k greedy-leftmost merge rules, token counting — folds
    into ONE scan-stage projection of nested array expressions (no
    join, no aggregation, no state store), so it runs in **append**
    mode with per-row latency and zero shuffle. Where the batch
    operator (``bpe.bpe_token_counts``) routes through a
    vocabulary-sized distinct + broadcast join (the right shape when
    the corpus is at rest), a stream has no corpus-wide word set to
    deduplicate per micro-batch — per-row expression tokenization IS
    the latency-optimal shape, and the merge rules are identical
    expressions, so counts match the batch operator row-for-row (the
    parity gate pins that). Docs with zero words produce no row,
    matching the batch word grain. ``eow`` mirrors ``bpe.EOW``;
    pass the value ``load_bpe_model`` returns (None = no end-of-word
    marker in the trained artifact).
    """
    from slurm2sql_spark.operators.bpe import bpe_apply
    from slurm2sql_spark.operators.textstats import WS_RE2

    words = F.filter(
        F.split(
            F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
            WS_RE2,
        ),
        lambda w: w != F.lit(""),
    )
    n_tok = F.aggregate(
        F.transform(words, lambda w: F.size(bpe_apply(w, merges, eow))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        doc_stream.select(
            F.col(id_col),
            F.size(words).cast("long").alias("n_words"),
            n_tok.cast("long").alias("n_bpe_tokens"),
        )
        .filter(F.col("n_words") > 0)
    )


def tokenize_stream_batched(
    doc_stream: DataFrame,
    path: str,
    merges: list[tuple[str, str]],
    eow: str | None = "</w>",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming tokenization, THROUGHPUT path: each micro-batch runs
    the batch operator's vocabulary-join shape (``bpe.bpe_token_counts``
    — merge expressions over the batch's DISTINCT words, broadcast
    word->tokens map, map-side-combined per-doc sums) and lands
    ``(id, n_words, n_bpe_tokens)`` under ``{path}/batch=<id>/``.

    This is the production twin of :func:`tokenize_stream` (the
    stateless inline projection): a micro-batch IS a batch, so the
    vocabulary dedup that makes corpus tokenization cheap applies
    per batch — the inline path tokenizes every word INSTANCE through
    interpreted higher-order expressions (fine for per-row-latency
    composition, measured ~4x slower at equal data), while this path
    tokenizes each distinct word once per batch. Same counts
    row-for-row (identical merge expressions — the parity gate pins
    it against the batch chained-CTE oracle).

    Exactly-once: per-batch directory + mode=overwrite (the
    ``export_stream`` idempotent-replay contract). Returns the
    ``DataStreamWriter`` (caller picks trigger/checkpoint and calls
    ``start()``).
    """
    from slurm2sql_spark.operators.bpe import bpe_token_counts

    def _tok_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = bpe_token_counts(batch_df, id_col, text_col, merges, eow=eow)
        out.write.mode("overwrite").parquet(f"{path}/batch={int(batch_id)}")

    return doc_stream.writeStream.foreachBatch(_tok_batch)
