"""Structured Streaming surface: file-drop ingest, windowed counts,
streaming dedup (SURVEY §2.12 extensions)."""

from __future__ import annotations

import pytest

from slurm2sql_spark.schema import RAW_FIELDS
from slurm2sql_spark.streaming.stream import (
    read_sacct_stream,
    stream_ingest,
    streaming_dedup,
    windowed_job_counts,
)


FIELDS = ("JobID", "JobIDRaw", "State", "Submit", "NCPUS", "Partition")


def _write_csv(path, rows):
    header = list(FIELDS)
    lines = [",".join(header)]
    for r in rows:
        lines.append(",".join(str(v) for v in r))
    path.write_text("\n".join(lines) + "\n")


@pytest.fixture()
def drop_dir(tmp_path):
    d = tmp_path / "drops"
    d.mkdir()
    _write_csv(
        d / "a.csv",
        [
            ("100", "100", "COMPLETED", "2021-01-01T10:00:00", "4", "cpu"),
            ("100.batch", "100.batch", "COMPLETED", "2021-01-01T10:00:00", "4", "cpu"),
            ("101", "101", "RUNNING", "2021-01-01T11:30:00", "8", "gpu"),
        ],
    )
    _write_csv(
        d / "b.csv",
        [
            ("102", "102", "COMPLETED", "2021-01-01T11:45:00", "2", "gpu"),
            ("101", "101", "RUNNING", "2021-01-01T11:30:00", "8", "gpu"),  # dup key
        ],
    )
    return d


def test_stream_ingest_available_now(spark, tmp_path, drop_dir):
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest(spark, str(drop_dir), table, ckpt, now=1_700_000_000, fields=FIELDS)
    q.awaitTermination(120)
    out = spark.read.parquet(table)
    assert out.count() == 5
    assert set(out.columns) >= {"JobID", "JobStep", "Submit", "NCPUS"}
    # restart with no new files: checkpoint must not re-ingest
    q2 = stream_ingest(spark, str(drop_dir), table, ckpt, now=1_700_000_000, fields=FIELDS)
    q2.awaitTermination(120)
    assert spark.read.parquet(table).count() == 5


def test_windowed_job_counts(spark, drop_dir, tmp_path):
    from slurm2sql_spark.operators.transform import slurm_transform

    stream = read_sacct_stream(spark, str(drop_dir), fields=FIELDS)
    counts = windowed_job_counts(
        slurm_transform(stream, now=1_700_000_000), window="1 hour"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.Partition): (r.n_jobs, r.cpus_requested, r.window_end - r.window_start)
        for r in spark.sql("select * from win_counts").collect()
    }
    # (collected datetimes render in the driver's zone — assert on
    # partition keys, counts, and window width, not wall-clock hours)
    import datetime as dt

    hour = dt.timedelta(hours=1)
    assert rows["cpu"] == (2, 8, hour)
    assert rows["gpu"] == (3, 18, hour)


def test_streaming_dedup(spark, drop_dir):
    from slurm2sql_spark.operators.transform import slurm_transform

    stream = read_sacct_stream(spark, str(drop_dir), fields=FIELDS)
    deduped = streaming_dedup(slurm_transform(stream, now=1_700_000_000))
    q = (
        deduped.select("JobID")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r.JobID for r in spark.sql("select JobID from dedup_out").collect()]
    assert sorted(ids) == ["100", "100.batch", "101", "102"]


def test_raw_fields_cover_stream_schema():
    assert "JobID" in RAW_FIELDS and "Submit" in RAW_FIELDS


def test_job_state_transitions_stateful(spark, tmp_path):
    """applyInPandasWithState keeps per-JobID state across RUNS (the
    state store lives in the checkpoint): run 1 sees job 200 RUNNING,
    run 2 sees it COMPLETED -> exactly two transition rows total, the
    second with prev_state=RUNNING."""
    from slurm2sql_spark.streaming.stream import job_state_transitions

    drops = tmp_path / "drops2"
    drops.mkdir()
    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "out2")

    def run_once():
        stream = read_sacct_stream(spark, str(drops), fields=FIELDS)
        q = (
            job_state_transitions(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_csv(
        drops / "t1.csv",
        [("200", "200", "RUNNING", "2021-01-01T10:00:00", "4", "cpu")],
    )
    run_once()
    _write_csv(
        drops / "t2.csv",
        [
            ("200", "200", "COMPLETED", "2021-01-01T10:00:00", "4", "cpu"),
            ("201", "201", "PENDING", "2021-01-01T12:00:00", "1", "cpu"),
        ],
    )
    run_once()

    rows = {
        (r.JobID, r.prev_state, r.new_state)
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {
        ("200", None, "RUNNING"),
        ("200", "RUNNING", "COMPLETED"),
        ("201", None, "PENDING"),
    }


def test_windowed_counts_drop_late_data(spark, tmp_path):
    """Bounded-state proof: an event older than the watermark must be
    DROPPED, not merged into its (already finalized) window. Two RUNS
    over one checkpoint (the watermark persists in the checkpoint, so
    the batch boundary is deterministic): run 1 sees events at 10:00
    and 13:00 — the watermark commits at 12:30 (13:00 - 30 min
    lateness) and the [10:00, 11:00) window finalizes with n_jobs=1.
    Run 2 delivers a 10:15 straggler, below the persisted watermark ->
    dropped; the finalized window must NOT grow to 2."""
    from slurm2sql_spark.operators.transform import slurm_transform

    d = tmp_path / "late_drops"
    d.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    _write_csv(
        d / "a.csv",
        [
            ("200", "200", "COMPLETED", "2021-01-01T10:00:00", "4", "cpu"),
            ("201", "201", "COMPLETED", "2021-01-01T13:00:00", "4", "cpu"),
        ],
    )

    def run():
        stream = read_sacct_stream(spark, str(d), fields=FIELDS)
        counts = windowed_job_counts(
            slurm_transform(stream, now=1_700_000_000),
            window="1 hour",
            lateness="30 minutes",
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")  # append: windows emit once, when closed
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = spark.read.parquet(out).collect()
    assert len(first) == 1 and first[0].n_jobs == 1  # [10,11) closed

    _write_csv(
        d / "b.csv",
        [("202", "202", "COMPLETED", "2021-01-01T10:15:00", "4", "cpu")],
    )
    run()
    rows = spark.read.parquet(out).collect()
    # straggler below the persisted 12:30 watermark: dropped — no new
    # row for the already-finalized window, no count growth
    assert len(rows) == 1 and rows[0].n_jobs == 1, f"late row leaked: {rows}"


def test_job_state_transitions_ttl_eviction(spark, tmp_path):
    """state_ttl_ms arms a processing-time timeout: a key silent past
    the TTL has its state evicted (bounding the store on unbounded
    streams), and the job reappearing is treated as first sight
    (prev_state NULL) — the documented re-emit contract."""
    import time

    from slurm2sql_spark.streaming.stream import job_state_transitions

    drops = tmp_path / "drops3"
    drops.mkdir()
    ckpt = str(tmp_path / "ckpt3")
    out = str(tmp_path / "out3")

    # ProcessingTimeTimeout makes the stateful operator report
    # shouldRunAnotherBatch=true unconditionally, so availableNow keeps
    # scheduling no-data "cleaning up state" batches FOREVER (probed:
    # ~1 batch/s, never terminates) and awaitTermination(120) burned
    # its full timeout 3x (r16; 361 s of the suite's wall). Eviction
    # itself fires inside the next DATA batch — which is what this test
    # exercises across runs — so disabling no-data micro-batches keeps
    # the contract while letting each availableNow run terminate in ~1 s.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_nodata = spark.conf.get(nodata_key, "true")
    spark.conf.set(nodata_key, "false")
    try:
        def run_once():
            stream = read_sacct_stream(spark, str(drops), fields=FIELDS)
            q = (
                job_state_transitions(stream, state_ttl_ms=1)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            terminated = q.awaitTermination(120)
            assert terminated, "availableNow TTL replay failed to terminate"

        _write_csv(
            drops / "t1.csv",
            [("300", "300", "RUNNING", "2021-01-01T10:00:00", "4", "cpu")],
        )
        run_once()
        time.sleep(0.2)  # let the 1 ms TTL lapse
        # an unrelated batch advances processing time -> 300's timeout fires
        _write_csv(
            drops / "t2.csv",
            [("301", "301", "PENDING", "2021-01-01T11:00:00", "1", "cpu")],
        )
        run_once()
        _write_csv(
            drops / "t3.csv",
            [("300", "300", "COMPLETED", "2021-01-01T12:00:00", "4", "cpu")],
        )
        run_once()

        rows = sorted(
            (r.JobID, r.prev_state, r.new_state)
            for r in spark.read.parquet(out).collect()
        )
        assert rows == [
            ("300", None, "COMPLETED"),  # state evicted -> first sight again
            ("300", None, "RUNNING"),
            ("301", None, "PENDING"),
        ]
    finally:
        spark.conf.set(nodata_key, old_nodata)


def test_decontaminate_stream_flags_as_docs_land(spark, tmp_path):
    """Stream-static decontamination: documents dropped into the watch
    dir are flagged against the static benchmark shingle set; clean
    docs never appear; the static side joins as a broadcast."""
    from pyspark.sql import types as T

    from slurm2sql_spark.streaming.stream import decontaminate_stream

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.csv").write_text(
        "doc_id,text\n"
        '10,"x alpha beta gamma delta epsilon zeta y"\n'
        '11,"totally clean document with different words entirely okay"\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.IntegerType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", True)
        .csv(str(d))
    )
    flagged = decontaminate_stream(stream, bench, "doc_id", "text", n=5)
    q = (
        flagged.writeStream.format("memory")
        .queryName("decontam")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["id"]: r["n_hits"] for r in spark.sql("SELECT * FROM decontam").collect()}
    assert rows == {10: 2}


def test_boilerplate_stream_flags_against_static_blocklist(spark, tmp_path):
    """Stream-static boilerplate flagging: the blocklist built by the
    batch repeated_paragraphs pass flags streaming docs' paragraphs;
    per-doc counts and char sums match the batch normalization."""
    from slurm2sql_spark.operators.dedup import repeated_paragraphs
    from slurm2sql_spark.streaming.stream import boilerplate_stream

    corpus = spark.createDataFrame(
        [
            (1, "subscribe now\n\nunique alpha"),
            (2, "SUBSCRIBE  NOW\n\nunique beta"),
        ],
        "doc_id int, text string",
    )
    blocklist = repeated_paragraphs(corpus, "doc_id", "text", min_docs=2)

    # parquet drops (not CSV): the docs carry embedded blank-line
    # paragraph breaks, which non-multiLine CSV would split into records
    d = tmp_path / "docs"
    spark.createDataFrame(
        [
            (10, "fresh content here\n\nSubscribe  Now\n\nmore fresh content"),
            (11, "no boilerplate at all"),
        ],
        "doc_id int, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d))
    stream = spark.readStream.schema(
        "doc_id int, text string"
    ).parquet(str(d))

    out = boilerplate_stream(stream, blocklist, "doc_id", "text")
    q = (
        out.writeStream.format("memory")
        .queryName("boiler")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["id"]: (r["n_paras"], r["n_boiler"], r["boiler_chars"])
        for r in spark.sql("SELECT * FROM boiler").collect()
    }
    assert rows[10] == (3, 1, len("subscribe now"))
    assert rows[11] == (1, 0, 0)


def test_quality_stream_append_mode_matches_batch(spark, tmp_path):
    """The streaming quality filter is stateless, so it must run in
    APPEND mode (no watermark, no state) and land the exact batch
    decision for every document."""
    from slurm2sql_spark.operators.textstats import quality_filter
    from slurm2sql_spark.streaming.stream import quality_stream

    rows = [
        (1, "the quick brown fox jumps over that lazy dog and more " * 5),
        (2, "too short"),
        (3, "zzzz yyyy xxxx qqqq " * 15),  # no stopword hits
        (4, None),
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id int, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(d))

    stream = spark.readStream.schema("doc_id int, text string").parquet(str(d))
    out = quality_stream(stream, "doc_id", "text", min_words=30)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("qstream")
        .outputMode("append")  # stateless: append works, no watermark
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["keep"], r["fail_reasons"])
        for r in spark.sql("SELECT * FROM qstream").collect()
    }
    want = {
        r["doc_id"]: (r["keep"], r["fail_reasons"])
        for r in quality_filter(
            spark.read.parquet(str(d)), "doc_id", "text", min_words=30
        ).collect()
    }
    assert got == want and len(got) == 4
    assert got[1][0] is True and got[4 - 2][0] is False


def test_scrub_stream_append_mode_matches_batch(spark, tmp_path):
    """The streaming scrub is a pure projection (isin-set match on the
    normalized-paragraph md5), so it runs in APPEND mode with no state
    and lands byte-identical cleaned text to the batch operator."""
    from slurm2sql_spark.operators.dedup import (
        repeated_paragraphs,
        scrub_paragraphs_inline,
    )
    from slurm2sql_spark.streaming.stream import scrub_stream

    rows = [
        (1, "shared footer line\n\nUnique Body ONE"),
        (2, "shared   FOOTER line\n\nunique body two\n\nshared footer line"),
        (3, "no boilerplate at all"),
        (4, ""),
    ]
    batch = spark.createDataFrame(rows, "doc_id int, text string")
    hashes = [
        r["para_hash"]
        for r in repeated_paragraphs(batch, "doc_id", "text", 2).collect()
    ]
    d = tmp_path / "docs"
    batch.coalesce(1).write.mode("overwrite").parquet(str(d))
    stream = spark.readStream.schema("doc_id int, text string").parquet(str(d))
    out = scrub_stream(stream, hashes)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("scrubstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM scrubstream").collect())
    )
    want = sorted(
        map(
            tuple,
            scrub_paragraphs_inline(batch, "doc_id", "text", hashes).collect(),
        )
    )
    assert got == want and len(got) == 4
    by_id = dict((t[0], t) for t in got)
    assert by_id[1][1] == "Unique Body ONE" and by_id[1][3] == 1
    assert by_id[2][3] == 2


def test_export_stream_exactly_once_and_balanced(spark, tmp_path):
    """foreachBatch sharded export: every quality-kept doc lands
    exactly once across batch=*/shard=* dirs, per-batch shard loads
    respect the balance bound, and a retried batch id overwrites its
    own directory instead of appending."""
    _export_stream_round_trip(spark, tmp_path, "int")


def test_export_stream_unmapped_id_dtype_falls_back(spark, tmp_path):
    """An id dtype the driver-local write has no Arrow mapping for
    (double) takes the distributed pack/shard path instead of raising
    KeyError inside foreachBatch."""
    _export_stream_round_trip(spark, tmp_path, "double")


def _export_stream_round_trip(spark, tmp_path, id_type):
    import os

    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.textstats import quality_filter
    from slurm2sql_spark.streaming.stream import export_stream

    text = " ".join(
        "the quick brown fox jumps over a lazy dog and then some"
        .split() * 8
    )
    rows = [(i, text if i % 4 else "short", "s" + str(i % 2))
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, source string"
    ).withColumn("doc_id", F.col("doc_id").cast(id_type))
    src = tmp_path / "src"
    src.mkdir()
    import glob as _glob

    for name, part in (
        ("000.parquet", df.filter(F.col("doc_id") < 30)),
        ("001.parquet", df.filter(F.col("doc_id") >= 30)),
    ):
        stage = str(tmp_path / f"stage_{name}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        [pf] = _glob.glob(stage + "/part-*.parquet")
        os.rename(pf, str(src / name))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "out")
    q = (
        export_stream(
            stream, out, n_shards=4, n_groups=2, salt="t",
            min_words=30, min_stop_hits=1,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    landed = spark.read.parquet(out)
    kept = quality_filter(
        df, "doc_id", "text", keep_cols=("source",),
        min_words=30, min_stop_hits=1,
    ).filter(F.col("keep"))
    got = sorted(r["id"] for r in landed.select("id").collect())
    want = sorted(r["doc_id"] for r in kept.collect())
    assert got == want  # exactly once, nothing lost

    per = {
        (r["batch"], r["shard"]): r["tot"]
        for r in landed.groupBy("batch", "shard")
        .agg(F.sum("n_tokens").alias("tot"))
        .collect()
    }
    batches = {b for b, _ in per}
    assert len(batches) >= 2
    mx = landed.agg(F.max("n_tokens")).first()[0]
    for b in batches:
        loads = [v for (bb, s), v in per.items() if bb == b]
        assert max(loads) - min(loads) <= 2 * mx

    # retry idempotence: re-driving one batch id overwrites its dir
    from slurm2sql_spark.operators.packing import pack_sequences
    from slurm2sql_spark.operators.sharding import write_sharded

    b0 = sorted(batches)[0]
    before = landed.filter(F.col("batch") == b0).count()
    first_file = sorted(os.listdir(src))[0]
    replay = spark.read.parquet(str(src / first_file))
    qf = quality_filter(
        replay, "doc_id", "text", keep_cols=("source",),
        min_words=30, min_stop_hits=1,
    ).filter(F.col("keep")).select("doc_id", "source", "n_words")
    packed = pack_sequences(
        qf, "doc_id", "n_words", budget=2048, shard_col="source"
    ).withColumnRenamed("shard", "src")
    write_sharded(
        packed, "id", "n_tokens", f"{out}/batch={b0}",
        n_shards=4, n_groups=2, salt="t",
    )
    after = spark.read.parquet(out).filter(F.col("batch") == b0).count()
    assert after == before
