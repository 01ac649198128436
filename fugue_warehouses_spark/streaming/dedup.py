"""Streaming deduplication with bounded state.

The batch engine's exact dedup (extensions/dedup.py) is a hash groupBy;
unbounded streams need the watermarked variant so the state store can
evict: ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only
until the watermark passes it, trading unbounded-history exactness for
bounded state — the standard choice for at-least-once ingest dedup
(e.g. replayed events with stable event_ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_within_watermark(
    df: DataFrame,
    subset: list[str],
    time_col: str,
    delay: str,
) -> DataFrame:
    """Drop rows whose ``subset`` key was already seen within the
    watermark horizon. Batch frames fall back to plain dropDuplicates
    (same result on bounded data, where 'history' is the whole input).
    """
    if not df.isStreaming:
        return df.dropDuplicates(subset)
    ntz = dict(df.dtypes).get(time_col) == "timestamp_ntz"
    if ntz:
        # watermarks need TIMESTAMP; UTC session TZ makes this lossless
        df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    out = df.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(subset)
    if ntz:
        out = out.withColumn(time_col, F.col(time_col).cast("timestamp_ntz"))
    return out


def incremental_ingest_dedup(
    stream_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Continuous-ingest content dedup as a STREAMING job: each
    arriving document is dropped if its normalized-text fingerprint
    (functions.text.fingerprint — the same 16-byte key the batch
    pipeline shuffles) is already in the static history table, or was
    already seen on the stream within the watermark horizon.

    The history side is a stream-static ``left_anti`` join — Spark
    re-plans the static side per micro-batch, so the history frame can
    point at the versioned fingerprint store and new versions are
    picked up without restarting the query. Within-stream dedup is
    ``dropDuplicatesWithinWatermark`` on the fingerprint: state holds
    one 16-byte key per unseen document within the horizon, evicted as
    the watermark passes — bounded regardless of stream length.

    On a batch frame this degrades to exactly
    ``extensions.dedup.incremental_dedup`` (min-id representative) —
    the batch twin the oracle checks.
    """
    from fugue_warehouses_spark.extensions.dedup import incremental_dedup
    from fugue_warehouses_spark.functions.text import fingerprint

    if not stream_df.isStreaming:
        return incremental_dedup(stream_df, history_df, text_col, id_col)
    seen = history_df.select(fingerprint(text_col).alias("__fp")).distinct()
    fresh = stream_df.withColumn("__fp", fingerprint(text_col)).join(
        seen, "__fp", "left_anti"
    )
    return dedup_within_watermark(fresh, ["__fp"], time_col, delay).drop(
        "__fp"
    )


def run_near_dedup_ingest(
    stream_df: DataFrame,
    index_store: str,
    survivors_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    shingle: int = 5,
    bands: int = 8,
    max_bucket_size: int | None = None,
    update_index: bool = True,
    timeout_sec: int = 300,
    compact_every: int | None = None,
    dropped_store: str | None = None,
    band_store: str | None = "auto",
    verify: str = "grams",
) -> DataFrame:
    """Rolling-corpus NEAR-dedup ingest: drain a document stream where
    each micro-batch is near-deduped (MinHash-LSH) against the
    persisted signature index, survivors are appended to
    ``survivors_path``, and (by default) their signatures are folded
    into a NEW index version — so later batches dedup against
    everything that survived before them, across restarts.

    The streaming analog of the batch
    :func:`extensions.dedup.near_dup_pairs_against_index` loop, run
    through ``foreachBatch`` because the match set derives from the
    stream itself (a stream-stream anti-join shape no watermark can
    bound for arbitrary replays). Per micro-batch:

    1. read the accumulated index (plans/versioned.read_all_versions —
       the store is an append-only DELTA LOG: each version is one
       batch's signatures, so per-batch index writes stay BATCH-sized,
       not corpus-sized; ``plans.versioned.compact_versions`` folds
       the log — inline via ``compact_every``, or in a maintenance
       window) and its rolling LSH BAND table (``band_store``, below);
    2. ``near_dup_pairs_against_index`` flags batch docs that
       near-match the index or an earlier (smaller-id) doc of the same
       batch — only the batch pays signing cost, the index contributes
       stored signatures/grams, and with the band table the
       index-side banding explode is PRECOMPUTED;
    3. ``update_index``: the SURVIVORS' band rows are written as a new
       ``band_store`` delta FIRST, then their signatures as a new
       index delta;
    4. survivors append to ``survivors_path``.

    ``verify`` (round 11): verification mode, plumbed to
    :func:`extensions.dedup.near_dup_pairs_against_index`. The default
    ``"grams"`` is exact; ``"signature"`` estimates Jaccard from the
    MinHash components alone AND makes every stored delta (index and
    drop log) signature-ONLY (``keep_grams=False``, ~11x smaller) —
    the rolling 100 TB ingest mode where executor memory and per-batch
    verify IO hold signatures, not corpus text. A store keeps ONE
    verify mode for its lifetime (delta logs are single-schema;
    mixing is refused loudly); reconcile such stores with
    ``reconcile_survivors(..., verify="signature")``. Estimator
    variance can flip pairs near ``threshold`` relative to exact
    verification — see the estimator contract on
    near_dup_pairs_against_index.

    ``band_store`` (round 9): delta-log store holding the index's
    precomputed LSH band table (:func:`extensions.dedup.
    build_minhash_band_index` rows). The default ``"auto"`` places it
    at ``index_store + "_bands"``; pass ``None`` to disable (each
    batch then re-bands the whole index inline — the pre-round-9
    behavior, an index-length explode + xxhash PER MICRO-BATCH that
    grows with the corpus; with the band table the per-batch plan is
    batch-sized except the band join and the colliding grams, the
    term that dominates a rolling 100 TB crawl). Maintained as a
    rolling delta log: each batch appends its survivors' band rows
    next to the index delta and compacts under the same
    ``compact_every``. An existing index WITHOUT a band table (a
    pre-round-9 store) is bootstrapped on first touch: one full-index
    banding builds version 0, after which batches pay only deltas.
    Band deltas commit BEFORE index deltas so the committed band table
    is always a SUPERSET of the index — a stale band table would
    silently miss every cross pair against the missing docs, whereas
    a superset's orphan rows are dropped by the verify join (no grams)
    or trip the replay guard (own ids). With ``update_index=False``
    the band table is still bootstrapped once (a derived cache of the
    static index) and reused unchanged; pass ``band_store=None`` when
    the store location must not be written at all.

    Resolution is GREEDY, not connected-component: any batch doc with a
    pair is dropped, even when its only neighbor was itself dropped —
    the streaming-friendly convention (CC over an unbounded stream is
    unbounded state; run the batch
    :func:`extensions.dedup.dedup_near` over a bounded corpus when CC
    semantics are required). Guarantee preserved: no two SURVIVORS are
    LSH-detectable near-dups of each other — within a batch both sides
    of a pair can't survive, and across batches the index match drops
    the later doc.

    Delivery is at-least-once with LOUD replay detection: the band and
    index deltas commit BEFORE the survivors append, so any crash
    window (between the delta writes and the append, or between append
    and checkpoint commit) leaves the batch's ids banded/indexed — the
    replay then collides with its own stored copies and the in-plan
    disjointness guard fails the query instead of silently
    double-appending. Recover by deleting the newest band-store and
    index versions (a crash between the two delta writes leaves only
    the band version to delete; with ``dropped_store`` set, also the
    newest dropped_store version — a replayed batch re-logs its
    dropped docs' signatures, and duplicate drop-log rows inflate
    :func:`reconcile_survivors`'s candidate set; for the post-append
    window, also the duplicated append). Reconcile also
    dedups ids defensively on read, so a missed cleanup costs verify
    work, never correctness. The guard is
    best-effort by nature: it fires when the replayed doc still
    COLLIDES with its index copy, which identical text does unless
    every one of its buckets is dropped by ``max_bucket_size`` —
    globally-unique ids remain the caller's contract. With
    ``update_index=False`` replays are NOT detected; the sink is then
    plain at-least-once. Returns the survivors table as a batch frame
    (empty, with the stream's schema, if nothing ever arrived).

    Scale: per batch, one Python MinHash pass signs the batch ONCE
    (checkpointed; the probe, the index delta and the drop-log delta
    all read it), then one banding shuffle on (band, bucket) and one
    verify join — a broadcast join when the candidate set is small,
    see :func:`extensions.dedup.near_dup_pairs_against_index` — both
    batch-sized on the probe side; the index is never re-signed, never
    re-banded (band_store deltas), and never rewritten (deltas only).
    Do not
    ``vacuum`` the index store (versions are data, not history).
    After N micro-batches the store holds N version directories; probe
    reads stay one multi-path scan but the LISTING cost grows with N.
    ``compact_every=K`` bounds it: whenever the store reaches K live
    versions, ``plans.versioned.compact_versions`` folds them into one
    (crash-safe — the ``_COMPACTS`` marker commits atomically with the
    folded version, so readers never double-count a half-swept store).
    The fold rewrites index-sized bytes, so K trades listing overhead
    against periodic rewrite cost (K ~ tens is sensible); ``None``
    (default) never compacts inline — run ``compact_versions`` in a
    maintenance window instead.

    ``dropped_store``: optional second delta-log store receiving the
    signatures of the docs each batch DROPPED. Greedy resolution's
    over-keeps arise exclusively through dropped docs' edges (a doc
    whose only near-neighbor was itself dropped), and dropped docs
    never enter the index — so without this log, no post-hoc pass can
    reconstruct the full pair graph. With it,
    :func:`reconcile_survivors` recomputes batch-CC semantics offline
    from stored signatures alone (no text re-read, no re-signing).
    Costs one signature write per batch: the dropped docs' rows are
    taken from the batch's signed frame, not signed again; compacted
    under the same ``compact_every``.
    """
    from pyspark.errors import AnalysisException

    from fugue_warehouses_spark.extensions.dedup import (
        _probe_index,
        _sig_checkpoint_level,
        build_minhash_band_index,
        build_minhash_index,
        near_dup_pairs_from_signatures,
    )
    from fugue_warehouses_spark.plans import versioned as V

    spark = stream_df.sparkSession
    band_path = (
        index_store.rstrip("/") + "_bands" if band_store == "auto"
        else band_store
    )

    # ---- one-time band-table COVERAGE repair (round-9 review) ----
    # Within a run the band delta commits before the index delta, so
    # the committed band table is a superset of the index. ACROSS runs
    # that invariant can break: a prior run with band_store=None
    # appended index deltas with no band rows, and a crash recovery
    # that deleted the wrong band version leaves index docs uncovered.
    # An under-covered band table silently disables cross-batch
    # near-dedup for exactly the missing docs (the banding join simply
    # finds no rows — no error), so coverage is verified ONCE per
    # stream start: index ids absent from the band table are re-banded
    # and appended as one repair delta. Cost: one anti-join over ids
    # alone per stream START (for an availableNow ingest, every run),
    # never per micro-batch; full index rows are read only for the ids
    # found missing. (A band table missing entirely still bootstraps
    # with a full banding on first batch.)
    if band_path is not None:
        try:
            idx0 = V.read_all_versions(spark, index_store)
            bands0 = V.read_all_versions(spark, band_path)
        except FileNotFoundError:
            idx0 = None
        if idx0 is not None:
            missing = idx0.select(id_col).join(
                bands0.select(id_col), id_col, "left_anti"
            )
            if not missing.isEmpty():
                V.write_version(
                    build_minhash_band_index(
                        idx0.join(missing, id_col, "left_semi"),
                        id_col, num_hashes, bands,
                    ),
                    band_path,
                    spark,
                )

    def _compact_if_due(store: str) -> None:
        if (
            compact_every is not None
            and len(V.list_versions(spark, store)) >= compact_every
        ):
            V.compact_versions(spark, store)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # every per-batch localCheckpoint block (batch copy, signed
        # batch, candidate pairs, survivors) is garbage the moment this
        # batch's writes commit; without the scope they accumulate in
        # the one long-lived stream JVM across micro-batches —
        # unbounded block growth on a rolling crawl, and the round-9
        # 320k ingest probe OOM'd exactly there. Blocks persisted
        # before the batch (cached handles) are untouched by contract.
        # The scope diffs the JVM-wide persistent-RDD set, so it
        # assumes one streaming query per process (the same contract
        # as similarity._rotate_broadcast); concurrent queries would
        # release each other's in-flight batch blocks — correctness
        # holds (localCheckpoint blocks ARE the data, a released block
        # fails loudly, and each batch re-reads its inputs), but run
        # ingests in separate processes.
        from fugue_warehouses_spark.plans.checkpoint import released_after

        with released_after(spark):
            _apply_inner(batch_df)

    def _apply_inner(batch_df: DataFrame) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        try:
            # not checkpointed: with a band table the probe scans the
            # index once, for (id, grams) only, and every reader of the
            # probe's result runs before this batch's writes
            idx = V.read_all_versions(spark, index_store)
        except FileNotFoundError:
            idx = None
        if idx is not None and ("__grams" in idx.columns) != (
            verify != "signature"
        ):
            # delta-log stores must keep ONE schema across versions
            # (plans/versioned.read_all_versions): appending slim
            # deltas to a grams store (or vice versa) would silently
            # drift the multi-path scan's schema. Refuse the mix.
            raise ValueError(
                f"index store at {index_store} was built with "
                f"{'grams' if '__grams' in idx.columns else 'signature-only'}"
                f" deltas but this ingest runs verify={verify!r} — a "
                "store keeps one verify mode for its lifetime; compact/"
                "rebuild the store or match the ingest's verify param"
            )
        # the batch is signed ONCE: the probe, the index delta and the
        # drop-log delta all read this frame (lazy, so the probe's
        # first job materializes it)
        sig = build_minhash_index(
            batch_df, id_col, text_col, num_hashes, shingle
        ).localCheckpoint(
            eager=False, storageLevel=_sig_checkpoint_level(spark)
        )
        if idx is None:
            # first batch, empty store: only within-batch near-dedup,
            # verified exactly from the grams whatever ``verify`` is
            # (the function checkpoints its input again: one more
            # batch-sized block copy, once per store)
            pairs = near_dup_pairs_from_signatures(
                sig, id_col, threshold, num_hashes, bands, max_bucket_size,
            ).select(F.col("id_b").alias("__dup"))
        else:
            idx_bands = None
            if band_path is not None:
                try:
                    idx_bands = V.read_all_versions(spark, band_path)
                except FileNotFoundError:
                    # pre-existing index without a band table (a
                    # pre-round-9 store, or a previous run with
                    # band_store=None): bootstrap it with ONE
                    # full-index banding — the last time the
                    # index-sized explode ever runs
                    idx_bands = build_minhash_band_index(
                        idx, id_col, num_hashes, bands
                    )
                    V.write_version(idx_bands, band_path, spark)
                    idx_bands = V.read_all_versions(spark, band_path)
            pairs = _probe_index(
                sig, idx, id_col, threshold, num_hashes, bands,
                max_bucket_size, index_bands_df=idx_bands, verify=verify,
            ).select(F.col("id_new").alias("__dup"))
        survivors = batch_df.join(
            pairs.distinct(),
            batch_df[id_col] == F.col("__dup"),
            "left_anti",
        ).localCheckpoint()
        # the deltas are the signed frame split by survival; signature
        # mode stores signature-ONLY rows
        delta = sig if verify != "signature" else sig.drop("__grams")
        kept_ids = survivors.select(id_col)
        if update_index:
            # deltas FIRST (band, then index): any crash after this
            # point leaves the batch ids banded/indexed, so a replay
            # trips the disjointness guard loudly instead of silently
            # double-appending. Band before index keeps the committed
            # band table a SUPERSET of the index — orphan band rows
            # are harmless (no grams to verify against / replay
            # guard), missing ones would silently skip dedup.
            kept = delta.join(kept_ids, id_col, "left_semi")
            if band_path is not None:
                V.write_version(
                    build_minhash_band_index(
                        kept, id_col, num_hashes, bands
                    ),
                    band_path,
                    spark,
                )
                _compact_if_due(band_path)
            V.write_version(kept, index_store, spark)
            _compact_if_due(index_store)
        if dropped_store is not None:
            dropped = delta.join(kept_ids, id_col, "left_anti")
            if not dropped.isEmpty():
                V.write_version(dropped, dropped_store, spark)
                _compact_if_due(dropped_store)
        survivors.write.mode("append").parquet(survivors_path)
        # delivery-contract marker for raw-path readers (hidden to
        # parquet scans; idempotent)
        from fugue_warehouses_spark.streaming.io import (
            write_at_least_once_marker,
        )

        write_at_least_once_marker(spark, survivors_path)

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"near-dedup ingest did not drain within {timeout_sec}s — "
                "partial survivors are on disk; rerun with the same "
                "checkpoint_dir to continue from the committed offset"
            )
    finally:
        q.stop()
    try:
        return spark.read.parquet(survivors_path)
    except AnalysisException:
        # nothing ever arrived: the legitimate empty-stream case
        return spark.createDataFrame([], stream_df.schema)


def reconcile_survivors(
    spark,
    index_store: str,
    dropped_store: str | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 8,
    max_bucket_size: int | None = None,
    max_iter: int = 15,
    verify: str = "grams",
) -> DataFrame:
    """Offline reconciliation of greedy streaming near-dedup to batch
    connected-component semantics: returns the (small) set of
    OVER-KEPT survivor ids — docs :func:`run_near_dedup_ingest` kept
    that the batch resolver (:func:`extensions.dedup.dedup_near`)
    would have dropped. Delete these from the survivors table and
    every duplicate class keeps EXACTLY ONE representative: the
    minimum SURVIVING id of its component. When each component's
    global min-id doc arrived before its neighbors (so greedy kept
    it), that representative IS the batch-CC survivor and the result
    equals the batch-CC survivor set exactly; when a smaller-id doc
    arrived late and was greedily dropped, the class is represented
    by its min survivor instead — reconciliation over-keeps relative
    to batch CC but NEVER over-drops (the one-representative
    guarantee is unconditional).

    Why this shape: greedy resolution provably keeps a superset of the
    CC minima (test_streaming's divergence bound), and the over-keep
    is confined to docs whose every near-neighbor was itself dropped —
    edges that run THROUGH dropped docs. Survivors are pairwise
    non-near-dup by the ingest guarantee, so a CC pass over the index
    alone finds nothing; the full pair graph needs the dropped docs'
    signatures too, which is what the ingest's ``dropped_store`` log
    records. Reconciliation then runs entirely from storage:

    1. union the survivor index and the drop log (both delta-log
       stores, one multi-path parquet scan each);
    2. :func:`extensions.dedup.near_dup_pairs_from_signatures` —
       banding + exact-Jaccard verify straight from the stored arrays
       (no text re-read, no re-signing; candidate-sized verify with
       the same computed SHUFFLE_HASH partition sizing as the text
       path);
    3. connected components over the pair graph (label propagation,
       O(diameter) rounds — dedup graphs are near-cliques);
    4. over-kept = survivor ids that are NOT the minimum SURVIVOR of
       their component. Computing against the min survivor (not the
       raw component min, which may be a dropped doc) is what makes
       the one-representative guarantee unconditional: flagging every
       non-min survivor of a component whose min was dropped would
       delete the whole class.

    The index/drop-log union is deduplicated on id before banding:
    a crash-replayed batch re-logs its dropped docs (see the recovery
    note on :func:`run_near_dedup_ingest`), and duplicate signature
    rows would otherwise inflate the candidate set.

    ``threshold`` / ``num_hashes`` / ``bands`` / ``max_bucket_size``
    must match the ingest's params — the stored signature length is
    guarded in-plan, the rest is the caller's contract (a different
    threshold answers a different question, not a wrong one). An
    ingest run with ``verify="signature"`` logs signature-ONLY deltas,
    so reconcile with ``verify="signature"`` too (round 11) — the
    grams default refuses such stores with guidance.

    Scale: pair graph is corpus-wide but signature-sized; CC state is
    two longs per paired doc. Run it in the same maintenance windows
    as index compaction. With an empty/missing drop log the result is
    correctly empty (nothing to reconcile through).
    """
    from fugue_warehouses_spark.extensions.dedup import (
        connected_components,
        near_dup_pairs_from_signatures,
    )
    from fugue_warehouses_spark.plans import versioned as V

    idx = V.read_all_versions(spark, index_store)
    all_sigs = idx
    if dropped_store is not None:
        try:
            all_sigs = all_sigs.unionByName(
                V.read_all_versions(spark, dropped_store)
            )
        except FileNotFoundError:
            pass  # nothing was ever dropped: no edges beyond the index
    all_sigs = all_sigs.dropDuplicates([id_col])
    pairs = near_dup_pairs_from_signatures(
        all_sigs, id_col, threshold, num_hashes, bands, max_bucket_size,
        verify=verify,
    )
    comps = connected_components(pairs.select("id_a", "id_b"), max_iter)
    # component labels of SURVIVORS only, then per-component min
    # survivor — the unconditional representative. A component whose
    # min id was dropped (late arrival) keeps its min survivor.
    surv_comps = comps.join(
        idx.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    keep = surv_comps.groupBy("component").agg(
        F.min("id").alias("__keep")
    )
    return (
        surv_comps.join(keep, "component")
        .filter(F.col("id") != F.col("__keep"))
        .select(F.col("id").alias(id_col))
    )
