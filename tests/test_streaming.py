"""Stream-vs-batch parity for the Structured Streaming layer.

Each test replays the events parquet as a file stream (AvailableNow),
drains it to a memory sink, and asserts the result equals the same
helper applied to the identical data read as a batch frame — the
batch/stream-unified contract of streaming/windows.py et al.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fugue_warehouses_spark.sources.star import normalize_event_time
from fugue_warehouses_spark.streaming import (
    dedup_within_watermark,
    read_parquet_stream,
    run_available_now,
    running_totals,
    session_agg,
    sliding_agg,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def events_path(sf_dir):
    return f"{sf_dir}/events.parquet"


def _batch(spark, path):
    return normalize_event_time(spark.read.parquet(path))


def _stream(spark, path):
    return normalize_event_time(read_parquet_stream(spark, path))


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


AGG = {"n": "count(1)", "total": "round(sum(value), 2)"}


def test_tumbling_stream_matches_batch(spark, events_path):
    batch = _batch(spark, events_path)
    stream = _stream(spark, events_path)
    b = tumbling_agg(batch, "ts", "15 minutes", AGG, keys=["event_type"])
    s = run_available_now(
        tumbling_agg(
            stream, "ts", "15 minutes", AGG, keys=["event_type"],
            watermark="1 minute",
        ),
        output_mode="complete",
    )
    cols = ["window_start", "window_end", "event_type", "n", "total"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)
    assert len(_sorted_rows(b, cols)) > 0


def test_sliding_stream_matches_batch(spark, events_path):
    batch = _batch(spark, events_path)
    stream = _stream(spark, events_path)
    b = sliding_agg(batch, "ts", "30 minutes", "15 minutes", AGG)
    s = run_available_now(
        sliding_agg(
            stream, "ts", "30 minutes", "15 minutes", AGG, watermark="1 minute"
        ),
        output_mode="complete",
    )
    cols = ["window_start", "window_end", "n", "total"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)
    # every event lands in exactly duration/slide = 2 windows
    n_events = batch.count()
    assert sum(r[2] for r in _sorted_rows(b, cols)) == 2 * n_events


def test_session_stream_matches_batch(spark, events_path):
    batch = _batch(spark, events_path)
    stream = _stream(spark, events_path)
    b = session_agg(batch, "ts", "30 minutes", AGG, keys=["user_id"])
    s = run_available_now(
        session_agg(
            stream, "ts", "30 minutes", AGG, keys=["user_id"],
            watermark="1 minute",
        ),
        output_mode="complete",
    )
    cols = ["session_start", "session_end", "user_id", "n", "total"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_session_agg_matches_gaps_and_islands(spark, events_path):
    """session_window must agree with the lag/cumsum sessionization."""
    batch = _batch(spark, events_path)
    sess = session_agg(batch, "ts", "30 minutes", {"n": "count(1)"}, keys=["user_id"])
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n").alias("n_events")
    )
    from fugue_warehouses_spark.queries import QUERIES

    import os

    oracle = QUERIES["events_sessionization"](
        spark, os.path.dirname(events_path)
    ).withColumn("n_events", F.col("n_events").cast("long"))
    cols = ["user_id", "n_sessions", "n_events"]
    assert _sorted_rows(per_user, cols) == _sorted_rows(oracle, cols)


def test_dedup_within_watermark(spark, events_path, tmp_path):
    # replay the same file twice -> every event_id duplicated across files
    batch = _batch(spark, events_path)
    dup_dir = str(tmp_path / "dup")
    batch.write.parquet(dup_dir, mode="overwrite")
    batch.write.mode("append").parquet(dup_dir)

    stream = normalize_event_time(read_parquet_stream(spark, dup_dir))
    deduped = run_available_now(
        dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
    )
    assert deduped.count() == batch.count()
    # batch fallback path
    assert (
        dedup_within_watermark(
            normalize_event_time(spark.read.parquet(dup_dir)), ["event_id"], "ts", "1 hour"
        ).count()
        == batch.count()
    )


def test_running_totals_stateful(spark, events_path):
    batch = _batch(spark, events_path)
    expected = running_totals(batch, "user_id", "value")

    stream = _stream(spark, events_path)
    emitted = run_available_now(
        running_totals(stream, "user_id", "value"), output_mode="update"
    )
    # last emission per key == final totals (single AvailableNow batch
    # may still split; keep the max-n row per key)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    cols = ["user_id", "n_events"]
    assert _sorted_rows(final, cols) == _sorted_rows(expected, cols)
    tot_s = {r[0]: r[1] for r in final.select("user_id", "total_value").collect()}
    tot_b = {r[0]: r[1] for r in expected.select("user_id", "total_value").collect()}
    assert set(tot_s) == set(tot_b)
    assert all(abs(tot_s[k] - tot_b[k]) < 1e-6 for k in tot_s)


def test_parquet_sink_with_checkpoint_resume(spark, events_path, tmp_path):
    """Production sink path: parquet sink + checkpointLocation. A second
    run over an extended source must process ONLY the new file
    (exactly-once file-source tracking via the checkpoint)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch = _batch(spark, events_path)
    half1 = batch.filter(F.col("event_id") % 2 == 0)
    half2 = batch.filter(F.col("event_id") % 2 == 1)
    half1.write.parquet(src, mode="overwrite")

    def run_once():
        stream = normalize_event_time(read_parquet_stream(spark, src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()

    half2.write.mode("append").parquet(src)
    run_once()
    sunk = spark.read.parquet(out)
    assert sunk.count() == batch.count()  # no re-processing of file 1
    assert sunk.select("event_id").distinct().count() == batch.count()


def test_stream_static_join_matches_batch(spark, events_path):
    """Stream-static join (standard enrichment pattern): the streaming
    events join a static dimension built in-session; result must equal
    the batch join. Static side broadcasts per micro-batch — no
    watermark or state needed for stream-static equi-joins."""
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )

    def enrich(df):
        return (
            df.join(weights, "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                    "weighted"
                ),
            )
        )

    b = enrich(_batch(spark, events_path))
    s = run_available_now(
        enrich(_stream(spark, events_path)), output_mode="complete"
    )
    cols = ["event_type", "n", "weighted"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_stream_stream_interval_join_matches_batch(spark, events_path):
    from fugue_warehouses_spark.streaming import interval_join

    def signups(df):
        return df.filter(F.col("event_type") == "signup").select(
            "user_id", F.col("ts").alias("s_ts")
        )

    def purchases(df):
        return df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("p_ts"), "value"
        )

    batch = _batch(spark, events_path)
    b = interval_join(
        signups(batch), purchases(batch), "user_id", "s_ts", "p_ts", "1 hour"
    )
    s = run_available_now(
        interval_join(
            signups(_stream(spark, events_path)),
            purchases(_stream(spark, events_path)),
            "user_id", "s_ts", "p_ts", "1 hour", watermark="2 hours",
        )
    )
    cols = ["user_id", "s_ts", "p_ts", "value"]
    rows_b, rows_s = _sorted_rows(b, cols), _sorted_rows(s, cols)
    assert rows_b == rows_s
    assert len(rows_b) > 0


def test_tumbling_append_drops_late_data(spark, tmp_path):
    """Watermark semantics under micro-batch replay: an event older
    than the advanced watermark is excluded from its (already-closed)
    window; on-time processing of the same rows includes it."""
    import time as _time

    d = tmp_path / "late_feed"
    d.mkdir()

    def write_batch(rows, name):
        df = spark.createDataFrame(rows, "ts_s string, event_type string, value double")
        df.select(
            F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type", "value"
        ).coalesce(1).write.mode("overwrite").parquet(str(d / name))

    # Four micro-batches: Spark's two-watermark scheme (SPARK-40925)
    # filters late events with the watermark as of the PREVIOUS batch
    # (eviction uses the current one), so the late row must arrive two
    # full batches after the event that advanced the watermark past
    # its window: b1 advances to 11:59, b2 makes 11:59 the *previous*
    # watermark, b3's late row is then filtered.
    write_batch(
        [("2024-01-01 10:00:10", "click", 1.0), ("2024-01-01 10:14:00", "click", 2.0)],
        "b0",
    )
    _time.sleep(1.1)  # file-source ordering is by modification time
    write_batch([("2024-01-01 12:00:00", "click", 9.0)], "b1")  # wm -> 11:59
    _time.sleep(1.1)
    write_batch([("2024-01-01 12:30:00", "click", 7.0)], "b2")
    _time.sleep(1.1)
    write_batch([("2024-01-01 10:05:00", "click", 5.0)], "b3")  # late -> dropped

    stream = read_parquet_stream(
        spark, f"{d}/*/", schema="ts timestamp_ntz, event_type string, value double",
        max_files_per_trigger=1,
    )
    out = run_available_now(
        tumbling_agg(stream, "ts", "15 minutes", AGG, watermark="1 minute"),
        output_mode="append",
    )
    first_window = [r for r in out.collect() if r.window_start.minute == 0
                    and r.window_start.hour == 10]
    assert len(first_window) == 1
    assert first_window[0].n == 2  # the late 10:05 row was dropped
    # on-time (batch) processing of the identical rows keeps all three
    allrows = spark.read.parquet(f"{d}/b0", f"{d}/b1", f"{d}/b2", f"{d}/b3")
    b = tumbling_agg(allrows, "ts", "15 minutes", AGG)
    bw = [r for r in b.collect() if r.window_start.hour == 10 and r.window_start.minute == 0]
    assert bw[0].n == 3


def test_merge_sink_applies_cdc_stream(spark, tmp_path):
    """foreachBatch MERGE sink: replaying a keyed change feed in two
    micro-batches converges the target to last-write-wins state."""
    import time as _time

    from fugue_warehouses_spark.streaming import read_parquet_stream, run_merge_sink

    feed = tmp_path / "cdc_feed"
    feed.mkdir()

    def write_batch(rows, name):
        spark.createDataFrame(rows, "k int, v string").coalesce(1).write.parquet(
            str(feed / name)
        )

    write_batch([(1, "a0"), (2, "b0"), (3, "c0")], "b0")
    _time.sleep(1.1)
    write_batch([(2, "b1"), (4, "d0")], "b1")  # update k=2, insert k=4

    stream = read_parquet_stream(
        spark, f"{feed}/*/", schema="k int, v string", max_files_per_trigger=1
    )
    out = run_merge_sink(
        stream,
        str(tmp_path / "merged_target"),
        on=["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert {(r.k, r.v) for r in out.collect()} == {
        (1, "a0"), (2, "b1"), (3, "c0"), (4, "d0"),
    }


def test_bucket_locf_stream_matches_batch_gapfill(spark, events_path):
    """The stateful streaming downsampler must emit exactly the rows of
    the batch gapfill over the same data (finalized buckets + the final
    open-bucket snapshot)."""
    from fugue_warehouses_spark.streaming import bucket_locf

    batch = _batch(spark, events_path).filter(F.col("user_id") < 6)
    expected = bucket_locf(batch, "user_id", "ts", "value", 3_600_000_000)

    stream = _stream(spark, events_path).filter(F.col("user_id") < 6)
    emitted = run_available_now(
        bucket_locf(stream, "user_id", "ts", "value", 3_600_000_000),
        output_mode="update",
    )
    # multiple micro-batches re-emit open buckets; keep the final (max
    # n_events) emission per (key, bucket)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("n_events").desc()
    )
    final = (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    cols = ["user_id", "bucket", "n_events", "locf_sum"]
    assert _sorted_rows(final, cols) == _sorted_rows(expected, cols)
    assert expected.filter("n_events = 0").count() > 0  # real gaps exist


def test_bucket_locf_batch_equals_oracle_checked_gapfill(spark, events_path):
    """Closes the stream->oracle chain for §2.D: the stateful
    streaming downsampler's batch collapse must equal gapfill_locf
    (operators/timeseries.py) — the implementation behind the
    DuckDB-oracle-checked events_gapfill_5m registry row. Together
    with test_bucket_locf_stream_matches_batch_gapfill this proves
    stream == batch == oracle."""
    from fugue_warehouses_spark.operators.timeseries import gapfill_locf
    from fugue_warehouses_spark.streaming import bucket_locf

    batch = _batch(spark, events_path).filter(F.col("user_id") < 8)
    via_stateful = bucket_locf(batch, "user_id", "ts", "value", 300_000_000)
    via_batch = gapfill_locf(batch, "user_id", "ts", "value", 300_000_000)
    cols = ["user_id", "bucket", "n_events", "locf_sum"]
    assert _sorted_rows(via_stateful, cols) == _sorted_rows(via_batch, cols)


def test_incremental_ingest_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming continuous-ingest dedup: the fingerprints surviving
    the streamed run equal the batch incremental_dedup twin's (ids may
    differ on within-stream ties — first-arrival vs min-id — so the
    contract is over content, which is what dedup is about)."""
    from fugue_warehouses_spark.functions.text import fingerprint
    from fugue_warehouses_spark.streaming import incremental_ingest_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    thr = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    history = docs.filter(F.col("doc_id") < thr)
    batch_feed = docs.filter(F.col("doc_id") >= thr).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    feed_path = str(tmp_path / "feed")
    batch_feed.write.parquet(feed_path)

    stream = read_parquet_stream(spark, feed_path)
    kept_stream = run_available_now(
        incremental_ingest_dedup(stream, history, "text", "doc_id", "ts")
    )
    kept_batch = incremental_ingest_dedup(
        spark.read.parquet(feed_path), history, "text", "doc_id", "ts"
    )
    fps = lambda df: sorted(
        r[0] for r in df.select(fingerprint("text")).distinct().collect()
    )
    assert fps(kept_stream) == fps(kept_batch)
    assert kept_stream.count() == kept_batch.count() > 0
    # nothing kept may collide with history content
    hist_fps = set(fps(history))
    assert not set(fps(kept_stream)) & hist_fps


def _near_dedup_corpus(spark):
    """30 docs in 3 chunks of 10: ids 0-19 unique (distinct token
    streams — no cross shingles), ids 20-24 exact copies of 0-4, ids
    25-29 near copies of 5-9 (one token changed). Chunk k = ids with
    id % 3 == k, so copies land in different micro-batches than their
    sources."""
    uniq = [
        " ".join(f"tok{d}x{j}" for j in range(40)) for d in range(20)
    ]
    texts = dict(enumerate(uniq))
    for i in range(5):
        texts[20 + i] = uniq[i]
    for i in range(5):
        toks = uniq[5 + i].split()
        toks[17] = "CHANGED"
        texts[25 + i] = " ".join(toks)
    rows = [(i, texts[i]) for i in sorted(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_run_near_dedup_ingest_rolling_corpus(spark, tmp_path):
    """Rolling-corpus streaming near-dedup: replay 3 micro-batches
    through run_near_dedup_ingest; exactly one doc per duplicate class
    survives — the FIRST to arrive, even when its twin is in a later
    batch (that is the persisted-index half) — no two survivors are
    near-dups, and the index store accumulates versions."""
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    # one file per chunk, written in order (mtime-ordered replay)
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    stream = read_parquet_stream(spark, feed, max_files_per_trigger=1)
    survivors = run_near_dedup_ingest(
        stream,
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    kept = {r["doc_id"] for r in survivors.collect()}
    # one survivor per duplicate class, FIRST ARRIVAL wins (greedy
    # streaming semantics): the class member in the earliest chunk
    # (chunk = id % 3), min id on a same-chunk tie. Classes: {i, 20+i}
    # exact for i<5, {5+i, 25+i} near for i<5, singletons 10..19.
    expected = set(range(10, 20))
    for a, b in [(i, 20 + i) for i in range(5)] + [
        (5 + i, 25 + i) for i in range(5)
    ]:
        expected.add(
            min(a, b) if a % 3 == b % 3 else (a if a % 3 < b % 3 else b)
        )
    assert kept == expected
    # survivor set is pairwise near-dup-free at the same threshold
    assert (
        D.near_dup_pairs_minhash(
            survivors, "doc_id", "text", threshold=0.5
        ).count()
        == 0
    )
    # the index is an append-only delta log: one version per non-empty
    # batch, whose union covers exactly the survivors
    assert len(V.list_versions(spark, str(tmp_path / "idx"))) == 3
    idx = V.read_all_versions(spark, str(tmp_path / "idx"))
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == kept


def test_ingest_greedy_vs_batch_cc_divergence_bound(spark, tmp_path):
    """Quantified bound on greedy-streaming vs batch-CC resolution.

    The streaming ingest drops any doc with a pair to an earlier doc
    (greedy); the batch resolver keeps one min-id representative per
    connected component. The provable relationship, asserted here on a
    seeded corpus that exercises both regimes:

    1. every component's min-id doc survives greedy (it has no earlier
       neighbor), so greedy_survivors ⊇ cc_survivors — greedy can
       UNDER-dedup but never loses a duplicate class entirely, and
       never drops a doc CC would keep;
    2. the over-keep is confined to NON-CLIQUE components (docs whose
       every near-neighbor has a larger id — transitive-only
       similarity); clique classes (exact/uniform near dups) resolve
       identically;
    3. both survivor sets are pairwise-independent in the pair graph
       (no two survivors are detectable near-dups) — the guarantee the
       pipeline actually promises.

    Corpus: 3 clique classes (identical pairs), 1 transitive chain
    {1~3, 2~3, 1!~2} where greedy keeps {1,2} and CC keeps {1}, and
    singletons."""
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    import random

    rng = random.Random(7)
    word = lambda: "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
    words = [word() for _ in range(600)]
    doc = lambda toks: " ".join(toks)

    rows = []
    # transitive chain over char-5-gram Jaccard: with 9/60 words
    # replaced at opposite ends, J(1,3)=J(2,3)≈(1-f)/(1+f)≈0.74 and
    # J(1,2)≈(1-2f)/(1+2f)≈0.54 — threshold 0.62 separates. Narrow
    # bands (r=2) make candidate RECALL reliable in this mid-J regime;
    # the exact-Jaccard verify then draws the line.
    base = words[:60]
    rows += [
        (1, doc(words[100:109] + base[9:])),
        (2, doc(base[:51] + words[110:119])),
        (3, doc(base)),
    ]
    # clique classes: exact duplicates (ids 10/11/12, 20/21, 30/31)
    for cls, ids in [(0, (10, 11, 12)), (1, (20, 21)), (2, (30, 31))]:
        text = doc(words[150 + cls * 60 : 150 + cls * 60 + 60])
        rows += [(i, text) for i in ids]
    # singletons
    rows += [(40 + i, doc(words[400 + i * 50 : 400 + i * 50 + 50])) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lsh = dict(threshold=0.62, num_hashes=64, bands=32)

    # sanity: pair graph has the intended shape
    pairs = D.near_dup_pairs_minhash(docs, "doc_id", "text", **lsh)
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got_pairs and (2, 3) in got_pairs
    assert (1, 2) not in got_pairs

    # batch CC resolution
    cc_kept = {
        r["doc_id"] for r in D.dedup_near(docs, pairs, "doc_id").collect()
    }

    # greedy streaming resolution (single batch replays the same corpus)
    feed = str(tmp_path / "feed")
    docs.coalesce(1).write.parquet(feed)
    greedy = run_near_dedup_ingest(
        read_parquet_stream(spark, feed),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        **lsh,
    )
    greedy_kept = {r["doc_id"] for r in greedy.collect()}

    # (1) greedy ⊇ CC: every class keeps its first arrival
    assert cc_kept <= greedy_kept
    # (2) divergence is exactly the transitive chain's doc 2
    assert greedy_kept - cc_kept == {2}
    # cliques resolved identically (min-id per class)
    assert {10, 20, 30} <= cc_kept and {11, 12, 21, 31} & greedy_kept == set()
    # (3) both survivor sets are independent in the pair graph
    for kept in (cc_kept, greedy_kept):
        assert not [
            p for p in got_pairs if p[0] in kept and p[1] in kept
        ]


def test_run_near_dedup_ingest_auto_compact(spark, tmp_path):
    """compact_every=2: same survivor set and same index CONTENT as the
    uncompacted run, but the store's live version count stays bounded
    (listing cost flat in batch count)."""
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    survivors = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
        compact_every=2,
    )
    kept = {r["doc_id"] for r in survivors.collect()}
    # identical survivor semantics to the uncompacted run
    expected = set(range(10, 20))
    for a, b in [(i, 20 + i) for i in range(5)] + [
        (5 + i, 25 + i) for i in range(5)
    ]:
        expected.add(
            min(a, b) if a % 3 == b % 3 else (a if a % 3 < b % 3 else b)
        )
    assert kept == expected
    # 3 batches with compact_every=2: version count stays below 3
    assert len(V.list_versions(spark, str(tmp_path / "idx"))) < 3
    idx = V.read_all_versions(spark, str(tmp_path / "idx"))
    assert {r["doc_id"] for r in idx.select("doc_id").collect()} == kept


def test_run_near_dedup_ingest_rolling_band_store(spark, tmp_path):
    """The default band_store='auto' maintains a rolling LSH band table
    next to the index (one delta per non-empty batch, membership equal
    to the index), survivors identical to the band_store=None legacy
    path — the per-batch index-sized re-banding explode is gone with
    no semantic change."""
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    kept_banded = {
        r["doc_id"]
        for r in run_near_dedup_ingest(
            read_parquet_stream(spark, feed, max_files_per_trigger=1),
            index_store=str(tmp_path / "idx"),
            survivors_path=str(tmp_path / "kept"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            threshold=0.5,
        ).collect()
    }
    kept_legacy = {
        r["doc_id"]
        for r in run_near_dedup_ingest(
            read_parquet_stream(spark, feed, max_files_per_trigger=1),
            index_store=str(tmp_path / "idx2"),
            survivors_path=str(tmp_path / "kept2"),
            checkpoint_dir=str(tmp_path / "ckpt2"),
            threshold=0.5,
            band_store=None,
        ).collect()
    }
    assert kept_banded == kept_legacy
    # auto-placed band store: one delta per batch, ids == index ids,
    # self-describing build params intact
    band_path = str(tmp_path / "idx_bands")
    assert len(V.list_versions(spark, band_path)) == 3
    bands_df = V.read_all_versions(spark, band_path)
    idx_df = V.read_all_versions(spark, str(tmp_path / "idx"))
    assert {r["doc_id"] for r in bands_df.select("doc_id").distinct().collect()} == {
        r["doc_id"] for r in idx_df.select("doc_id").collect()
    }
    assert set(bands_df.columns) >= {"doc_id", "band", "bucket", "__nh", "__bands"}
    # legacy path wrote no band store
    assert not (tmp_path / "idx2_bands").exists()


def test_run_near_dedup_ingest_band_bootstrap(spark, tmp_path):
    """A pre-existing signature index WITHOUT a band table (pre-round-9
    store) is bootstrapped on first touch: one full-index banding
    becomes version 0, batch deltas follow, and cross-batch dedup
    against the old index still works."""
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    # history = chunk 0, indexed the pre-round-9 way (signatures only)
    hist = docs.filter(F.col("doc_id") % 3 == 0)
    V.write_version(
        D.build_minhash_index(hist, "doc_id", "text"),
        str(tmp_path / "idx"),
        spark,
    )
    feed = str(tmp_path / "feed")
    for k in (1, 2):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    survivors = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    kept = {r["doc_id"] for r in survivors.collect()}
    # same expected set as the 3-chunk rolling test, minus the history
    # chunk (its docs are index members, not stream survivors)
    expected = set(range(10, 20))
    for a, b in [(i, 20 + i) for i in range(5)] + [
        (5 + i, 25 + i) for i in range(5)
    ]:
        expected.add(
            min(a, b) if a % 3 == b % 3 else (a if a % 3 < b % 3 else b)
        )
    assert kept == {i for i in expected if i % 3 != 0}
    # bootstrap version + one delta per stream batch
    versions = V.list_versions(spark, str(tmp_path / "idx_bands"))
    assert len(versions) == 3
    bands_df = V.read_all_versions(spark, str(tmp_path / "idx_bands"))
    idx_df = V.read_all_versions(spark, str(tmp_path / "idx"))
    assert bands_df.select("doc_id").distinct().count() == idx_df.count()


def test_run_near_dedup_ingest_empty_stream(spark, tmp_path):
    """An empty feed returns an empty frame with the stream's schema,
    not PATH_NOT_FOUND."""
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    feed = str(tmp_path / "feed")
    _near_dedup_corpus(spark).filter("doc_id < 0").coalesce(1).write.parquet(
        feed
    )
    out = run_near_dedup_ingest(
        read_parquet_stream(spark, feed),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert out.count() == 0
    assert out.columns == ["doc_id", "text"]


def test_run_near_dedup_ingest_replay_fails_loudly(spark, tmp_path):
    """Replaying already-indexed ids (fresh checkpoint over the same
    files) must fail via the disjointness guard, not silently
    double-append."""
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark).filter("doc_id < 10")
    feed = str(tmp_path / "feed")
    docs.coalesce(1).write.parquet(feed)
    kwargs = dict(
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        threshold=0.5,
    )
    run_near_dedup_ingest(
        read_parquet_stream(spark, feed),
        checkpoint_dir=str(tmp_path / "ckpt1"),
        **kwargs,
    )
    with pytest.raises(Exception, match="disjoint"):
        run_near_dedup_ingest(
            read_parquet_stream(spark, feed),
            checkpoint_dir=str(tmp_path / "ckpt2"),
            **kwargs,
        )


def test_reconcile_survivors_restores_batch_cc(spark, tmp_path):
    """Greedy streaming + offline reconciliation == batch CC, EXACTLY.

    The divergence-bound test proves greedy over-keeps only on
    non-clique classes; this is the promised complement: the ingest
    logs dropped docs' signatures (``dropped_store``), and
    reconcile_survivors recomputes the FULL pair graph from stored
    signatures alone (union of index + drop log — no text re-read),
    runs batch connected components, and emits the over-kept ids.
    Removing them from the greedy survivor set must reproduce
    dedup_near's survivor set exactly. The chain is split ACROSS
    micro-batches so cross-batch greedy drops are exercised too."""
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )
    from fugue_warehouses_spark.streaming.dedup import reconcile_survivors

    import random

    rng = random.Random(7)
    word = lambda: "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
    words = [word() for _ in range(600)]
    doc = lambda toks: " ".join(toks)

    rows = []
    # transitive chain: 1~3, 2~3, 1!~2 at threshold 0.62 (same
    # construction as the divergence-bound test)
    base = words[:60]
    rows += [
        (1, doc(words[100:109] + base[9:])),
        (2, doc(base[:51] + words[110:119])),
        (3, doc(base)),
    ]
    # clique classes (exact duplicates) + singletons
    for cls, ids in [(0, (10, 11, 12)), (1, (20, 21)), (2, (30, 31))]:
        text = doc(words[150 + cls * 60 : 150 + cls * 60 + 60])
        rows += [(i, text) for i in ids]
    rows += [(40 + i, doc(words[400 + i * 50 : 400 + i * 50 + 50])) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lsh = dict(threshold=0.62, num_hashes=64, bands=32)

    # batch-CC ground truth
    pairs = D.near_dup_pairs_minhash(docs, "doc_id", "text", **lsh)
    cc_kept = {
        r["doc_id"] for r in D.dedup_near(docs, pairs, "doc_id").collect()
    }

    # stream in TWO ordered micro-batches: chain head in batch 0,
    # chain tail (2, 3) in batch 1 — 3 drops against the index (1) and
    # within-batch against 2; 2 survives with its only neighbor dropped
    feed = str(tmp_path / "feed")
    b0 = {1, 10, 11, 30, 40, 41}
    docs.filter(F.col("doc_id").isin(*b0)).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    docs.filter(~F.col("doc_id").isin(*b0)).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    greedy = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dropped_store=str(tmp_path / "dropped"),
        **lsh,
    )
    greedy_kept = {r["doc_id"] for r in greedy.collect()}
    assert cc_kept < greedy_kept, "corpus must actually exercise divergence"

    overkept = reconcile_survivors(
        spark,
        str(tmp_path / "idx"),
        str(tmp_path / "dropped"),
        **lsh,
    )
    over_ids = {r["doc_id"] for r in overkept.collect()}
    # exact reconciliation: greedy minus over-kept == batch CC
    assert over_ids <= greedy_kept
    assert greedy_kept - over_ids == cc_kept
    assert over_ids == {2}  # the transitive chain's middle survivor

    # without a drop log the survivor set is pairwise clean, so a CC
    # pass over the index alone correctly finds nothing
    assert (
        reconcile_survivors(spark, str(tmp_path / "idx"), **lsh).count() == 0
    )


def test_reconcile_never_over_drops_on_late_min_arrival(spark, tmp_path):
    """The one-representative guarantee must hold when a component's
    MIN-id doc arrives AFTER a larger-id neighbor (advice r6, medium):
    greedy keeps the larger id and drops the min; over-kept computed
    against the raw component min would then flag every survivor of
    that class — deleting them leaves the duplicate class with no
    representative. Over-kept is therefore defined against the min
    SURVIVOR per component: here the late-min class keeps its (sole)
    survivor and reconcile flags nothing, while a min-first class
    still reconciles to exact batch-CC semantics."""
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )
    from fugue_warehouses_spark.streaming.dedup import reconcile_survivors

    import random

    rng = random.Random(11)
    word = lambda: "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8)
    )
    words = [word() for _ in range(300)]
    doc = lambda toks: " ".join(toks)

    late_min_text = doc(words[:60])  # ids 50 ~ 51, min (50) arrives LAST
    min_first_text = doc(words[60:120])  # ids 60 ~ 61, min arrives first
    rows = [
        (50, late_min_text),
        (51, late_min_text),
        (60, min_first_text),
        (61, min_first_text),
        (70, doc(words[120:170])),  # singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lsh = dict(threshold=0.62, num_hashes=64, bands=32)

    feed = str(tmp_path / "feed")
    b0 = {51, 60, 70}  # larger id of the late-min class goes first
    docs.filter(F.col("doc_id").isin(*b0)).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    docs.filter(~F.col("doc_id").isin(*b0)).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    greedy = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dropped_store=str(tmp_path / "dropped"),
        **lsh,
    )
    greedy_kept = {r["doc_id"] for r in greedy.collect()}
    assert greedy_kept == {51, 60, 70}  # 50 dropped vs index, 61 in-batch

    over_ids = {
        r["doc_id"]
        for r in reconcile_survivors(
            spark, str(tmp_path / "idx"), str(tmp_path / "dropped"), **lsh
        ).collect()
    }
    # NOTHING is over-kept: 51 is its component's only survivor (the
    # raw component min, 50, was dropped — flagging 51 would orphan
    # the class), 60 is its component's min survivor, 70 is clean.
    assert over_ids == set()
    # every duplicate class retains exactly one representative
    assert greedy_kept - over_ids == {51, 60, 70}


def test_band_store_coverage_repair_across_runs(spark, tmp_path):
    """Round-9 review: a run with band_store=None appends index deltas
    with NO band rows; a later band_store='auto' run must repair the
    coverage gap at stream start, or duplicates of the unbanded docs
    silently pass through (the banding join just finds no rows)."""
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    idx = str(tmp_path / "idx")

    # run 1: band_store='auto' (default) over chunk 0 — band table born
    feed1 = str(tmp_path / "feed1")
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(feed1)
    run_near_dedup_ingest(
        read_parquet_stream(spark, feed1),
        index_store=idx,
        survivors_path=str(tmp_path / "kept1"),
        checkpoint_dir=str(tmp_path / "ckpt1"),
        threshold=0.5,
    )

    # run 2: band_store=None over chunk 1 — index grows UNBANDED
    feed2 = str(tmp_path / "feed2")
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(feed2)
    run_near_dedup_ingest(
        read_parquet_stream(spark, feed2),
        index_store=idx,
        survivors_path=str(tmp_path / "kept2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        threshold=0.5,
        band_store=None,
    )
    banded_ids = {
        r["doc_id"]
        for r in V.read_all_versions(spark, idx + "_bands")
        .select("doc_id").distinct().collect()
    }
    indexed_ids = {
        r["doc_id"]
        for r in V.read_all_versions(spark, idx).select("doc_id").collect()
    }
    assert banded_ids < indexed_ids  # the gap this test exists for

    # run 3: back to 'auto', feeding chunk 2 — which contains copies
    # of docs indexed in BOTH earlier runs (ids 20-24 copy 0-4, and
    # e.g. 22 copies 1 which arrived in the UNBANDED run 2)
    feed3 = str(tmp_path / "feed3")
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(feed3)
    survivors3 = run_near_dedup_ingest(
        read_parquet_stream(spark, feed3),
        index_store=idx,
        survivors_path=str(tmp_path / "kept3"),
        checkpoint_dir=str(tmp_path / "ckpt3"),
        threshold=0.5,
    )
    kept3 = {r["doc_id"] for r in survivors3.collect()}
    # chunk 2 = {2,5,8,11,14,17,20,23,26,29}. 2/5/8 duplicate docs
    # 22/25/28 — indexed UNBANDED by run 2 (the repair target);
    # 20/23/26/29 duplicate run-1 (banded) docs 0/3/6/9. Only the
    # unique singletons may survive; without the start-time coverage
    # repair, 2/5/8 would wrongly survive too.
    assert kept3 == {11, 14, 17}
    # and the repair delta restored the superset invariant
    banded_after = {
        r["doc_id"]
        for r in V.read_all_versions(spark, idx + "_bands")
        .select("doc_id").distinct().collect()
    }
    indexed_after = {
        r["doc_id"]
        for r in V.read_all_versions(spark, idx).select("doc_id").collect()
    }
    assert indexed_after <= banded_after


def test_compacted_band_store_answers_identically_to_fresh_banding(
    spark, tmp_path
):
    """Compaction parity for the rolling band store (round 10, VERDICT
    r9 #6): the band delta-log compacts on the same cadence as the
    index, and the staleness guard covers schema/params but not
    CONTENT — so this is the content check. Ingest 3 batches with
    compact_every=2 (forcing a band-store fold), then probe a NEW
    batch two ways: against the compacted band table read from the
    store, and against a band table rebuilt fresh from the full index.
    The pair sets must be identical — a fold that dropped or
    double-counted band rows would silently skip (or re-verify) dedup
    for exactly the affected docs."""
    from fugue_warehouses_spark.extensions.dedup import (
        build_minhash_band_index,
        near_dup_pairs_against_index,
    )
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
        compact_every=2,
    )
    # the fold actually happened: fewer live band versions than batches
    assert len(V.list_versions(spark, str(tmp_path / "idx_bands"))) < 3

    idx = V.read_all_versions(spark, str(tmp_path / "idx"))
    compacted_bands = V.read_all_versions(spark, str(tmp_path / "idx_bands"))
    # band-table membership == index membership after the fold
    assert sorted(
        r["doc_id"] for r in compacted_bands.select("doc_id").distinct().collect()
    ) == sorted(r["doc_id"] for r in idx.select("doc_id").collect())

    # a NEW crawl batch: near-copies of surviving uniques 10..14 (one
    # token changed), plus two genuinely new docs
    uniq = [" ".join(f"tok{d}x{j}" for j in range(40)) for d in range(20)]
    rows = []
    for i in range(5):
        toks = uniq[10 + i].split()
        toks[3] = "MUTATED"
        rows.append((100 + i, " ".join(toks)))
    rows += [(200, " ".join(f"new{j}" for j in range(40))),
             (201, " ".join(f"other{j}" for j in range(40)))]
    batch = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(bands_df):
        out = near_dup_pairs_against_index(
            batch, idx, "doc_id", "text", threshold=0.5,
            index_bands_df=bands_df,
        )
        return sorted(
            (r["id_new"], r["id_match"], round(r["jaccard_sim"], 6))
            for r in out.collect()
        )

    with_compacted = pairs(compacted_bands)
    with_fresh = pairs(build_minhash_band_index(idx, "doc_id"))
    assert with_compacted == with_fresh
    # and the probe genuinely found the planted near-dups
    assert {p[0] for p in with_compacted} == {100, 101, 102, 103, 104}


def test_compact_survivors_materializes_exactly_once(spark, tmp_path):
    """compact_survivors (round 10, VERDICT r9 #7): the survivor log is
    at-least-once — simulate a crash replay by re-appending one
    batch's survivor rows — then the compaction rewrite must leave one
    row per id, identical content otherwise, and the raw path readable
    exactly-once."""
    from fugue_warehouses_spark.streaming import (
        compact_survivors,
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    kept_path = str(tmp_path / "kept")
    survivors = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=kept_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    expected = sorted(
        (r["doc_id"], r["text"]) for r in survivors.collect()
    )

    # crash replay: one micro-batch's survivors append a second time
    replayed = spark.read.parquet(kept_path).filter(
        F.col("doc_id") % 3 == 1
    )
    replayed.write.mode("append").parquet(kept_path)
    raw = spark.read.parquet(kept_path)
    assert raw.count() > len(expected)  # duplicates really on disk

    out = compact_survivors(spark, kept_path)
    assert sorted((r["doc_id"], r["text"]) for r in out.collect()) == expected
    # the path itself is exactly-once now, not just the returned frame
    reread = spark.read.parquet(kept_path)
    assert reread.count() == len(expected)
    assert reread.groupBy("doc_id").count().filter("count > 1").count() == 0
    # no swap debris left behind
    import os as _os

    assert not _os.path.exists(kept_path + "__compact_tmp")
    assert not _os.path.exists(kept_path + "__compact_old")


def test_compact_survivors_refuses_over_crashed_swap(spark, tmp_path):
    """A leftover __compact_old directory means a prior compaction
    crashed mid-swap; compacting over it could destroy the only copy —
    the helper must refuse with recovery instructions."""
    import pytest as _pytest

    from fugue_warehouses_spark.streaming import compact_survivors

    kept = str(tmp_path / "kept")
    spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "doc_id long, text string"
    ).write.parquet(kept)
    spark.createDataFrame(
        [(9, "z")], "doc_id long, text string"
    ).write.parquet(kept + "__compact_old")
    with _pytest.raises(FileExistsError, match="crashed mid-swap"):
        compact_survivors(spark, kept)


def test_compact_survivors_refuses_object_store_schemes(spark):
    """Round-10 ADVICE: the 3-rename swap is only crash-safe where
    directory rename is atomic; object-store connectors rename by
    copy+delete, so a crash mid-swap could leave the log PARTIALLY
    populated — a state the debris check can't detect. Refuse the
    scheme outright, before any read."""
    import pytest as _pytest

    from fugue_warehouses_spark.streaming import compact_survivors

    for scheme in ("s3a", "gs", "abfss"):
        with _pytest.raises(ValueError, match="atomic"):
            compact_survivors(spark, f"{scheme}://bucket/survivors")


def test_run_near_dedup_ingest_signature_mode_end_to_end(spark, tmp_path):
    """verify='signature' streaming ingest (round 11, the 100 TB
    serving mode): same 3-batch replay as the rolling-corpus test, but
    every stored delta is signature-ONLY. The fixture's duplicate
    classes are exact or 1-token-edit near-dups — far above the
    estimator's 4-sigma band at threshold 0.5 — so the survivor set
    must equal the exact-verify run's, every stored delta must lack
    __grams, reconciliation must work in signature mode, and a
    grams-mode ingest against the slim store must be refused."""
    import pytest as _pytest

    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        reconcile_survivors,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    survivors = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
        dropped_store=str(tmp_path / "dropped"),
        verify="signature",
    )
    kept = {r["doc_id"] for r in survivors.collect()}
    expected = set(range(10, 20))
    for a, b in [(i, 20 + i) for i in range(5)] + [
        (5 + i, 25 + i) for i in range(5)
    ]:
        expected.add(
            min(a, b) if a % 3 == b % 3 else (a if a % 3 < b % 3 else b)
        )
    assert kept == expected

    idx = V.read_all_versions(spark, str(tmp_path / "idx"))
    assert "__grams" not in idx.columns and "__sig" in idx.columns
    dropped = V.read_all_versions(spark, str(tmp_path / "dropped"))
    assert "__grams" not in dropped.columns

    # reconciliation from the slim stores, signature mode. NOTE the
    # estimator can add pair edges exact verify would not (unbiased
    # but sigma ~0.0625 at 64 hashes; a ~0.35-exact pair can read
    # >= 0.5) — so unlike the grams-mode sibling test, over-kept need
    # not be empty. The UNCONDITIONAL contract still holds: over-kept
    # is a subset of survivors, and after deleting it every estimated
    # component keeps exactly one representative (its min survivor).
    over = {
        r["doc_id"]
        for r in reconcile_survivors(
            spark, str(tmp_path / "idx"), str(tmp_path / "dropped"),
            threshold=0.5, verify="signature",
        ).collect()
    }
    assert over <= kept
    from fugue_warehouses_spark.extensions.dedup import (
        connected_components,
        near_dup_pairs_from_signatures,
    )

    all_sigs = idx.unionByName(dropped).dropDuplicates(["doc_id"])
    comps = connected_components(
        near_dup_pairs_from_signatures(
            all_sigs, "doc_id", threshold=0.5, verify="signature"
        ).select("id_a", "id_b")
    )
    surv_comp = {
        r["id"]: r["component"]
        for r in comps.collect()
        if r["id"] in kept
    }
    remaining = kept - over
    per_comp = {}
    for doc, comp in surv_comp.items():
        if doc in remaining:
            per_comp.setdefault(comp, []).append(doc)
    # exactly one representative per estimated component, the min
    # survivor; docs in no component (no estimated edges) all remain
    for comp, docs_in in per_comp.items():
        members = [d for d, c in surv_comp.items() if c == comp]
        assert docs_in == [min(members)], (comp, docs_in, members)
    assert (kept - set(surv_comp)) <= remaining
    # ...and grams mode refuses the slim stores with guidance
    with _pytest.raises(ValueError, match="signature"):
        reconcile_survivors(
            spark, str(tmp_path / "idx"), str(tmp_path / "dropped"),
            threshold=0.5,
        ).count()

    # a later grams-mode ingest against the slim store: refused
    with _pytest.raises(Exception, match="one verify mode"):
        run_near_dedup_ingest(
            read_parquet_stream(spark, feed, max_files_per_trigger=1),
            index_store=str(tmp_path / "idx"),
            survivors_path=str(tmp_path / "kept2"),
            checkpoint_dir=str(tmp_path / "ckpt2"),
            threshold=0.5,
        )


def _write_two_batch_feed(docs, feed):
    """Batch 1 holds ids 0-14 plus 20 and 21 (exact copies of 0 and 1:
    dropped within the first batch, against an empty index); batch 2
    holds the rest (copies of 2-4 and near copies of 5-9: dropped
    against the index)."""
    first = (F.col("doc_id") < 15) | F.col("doc_id").isin(20, 21)
    for part in (docs.filter(first), docs.filter(~first)):
        part.coalesce(1).write.mode("append").parquet(feed)


@pytest.mark.parametrize("verify", ["grams", "signature"])
def test_ingest_deltas_equal_signed_survivors_and_drops(
    spark, tmp_path, verify
):
    """Each micro-batch is signed once and its index and drop-log
    deltas are cut from that signed frame. Row for row they must equal
    signing the survivors and the dropped docs from text, in both
    verify modes, from the first batch (empty index) on."""
    from fugue_warehouses_spark.extensions import dedup as D
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    feed = str(tmp_path / "feed")
    _write_two_batch_feed(docs, feed)
    survivors = run_near_dedup_ingest(
        read_parquet_stream(spark, feed, max_files_per_trigger=1),
        index_store=str(tmp_path / "idx"),
        survivors_path=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
        dropped_store=str(tmp_path / "dropped"),
        verify=verify,
    )
    dropped = docs.join(survivors.select("doc_id"), "doc_id", "left_anti")
    keep_grams = verify == "grams"

    def rows(df):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        )

    # both batches dropped docs: a drop-log version each
    assert len(V.list_versions(spark, str(tmp_path / "dropped"))) == 2
    assert rows(V.read_all_versions(spark, str(tmp_path / "idx"))) == rows(
        D.build_minhash_index(survivors, keep_grams=keep_grams)
    )
    assert rows(
        V.read_all_versions(spark, str(tmp_path / "dropped"))
    ) == rows(D.build_minhash_index(dropped, keep_grams=keep_grams))


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, read from the status
    store: a streaming query runs its jobs under its own job group, so
    the status tracker's no-group lookup would miss them."""
    sc = spark.sparkContext._jsc.sc()

    def job_ids() -> set:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    fn()
    return len(job_ids() - before)


def test_near_dedup_job_counts_stay_pinned(spark, tmp_path):
    """Job counts of one steady-state index probe fetched as Arrow and
    of one ingest round against an existing index, at fixture scale.
    Counts do not depend on host load, so a rise is a structural
    regression: an extra signing pass, emptiness test or verify
    stage."""
    from fugue_warehouses_spark.extensions.dedup import (
        near_dup_pairs_against_index,
    )
    from fugue_warehouses_spark.plans import versioned as V
    from fugue_warehouses_spark.streaming import (
        read_parquet_stream,
        run_near_dedup_ingest,
    )

    docs = _near_dedup_corpus(spark)
    staged, feed = str(tmp_path / "staged"), str(tmp_path / "feed")
    _write_two_batch_feed(docs, staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    os.makedirs(feed)
    index = str(tmp_path / "idx")

    def ingest_next():
        name = files.pop(0)
        os.rename(os.path.join(staged, name), os.path.join(feed, name))
        run_near_dedup_ingest(
            read_parquet_stream(spark, feed, max_files_per_trigger=1),
            index_store=index,
            survivors_path=str(tmp_path / "kept"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            threshold=0.5,
        )

    ingest_next()  # first round: builds the index and its band table
    query = docs.filter("doc_id >= 20").select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )

    def probe():
        near_dup_pairs_against_index(
            query, V.read_all_versions(spark, index), threshold=0.5,
            index_bands_df=V.read_all_versions(spark, index + "_bands"),
        ).toArrow()

    probe()  # warm
    probe_jobs = _jobs_started(spark, probe)
    ingest_jobs = _jobs_started(spark, ingest_next)
    assert probe_jobs <= 12, probe_jobs
    assert ingest_jobs <= 26, ingest_jobs
