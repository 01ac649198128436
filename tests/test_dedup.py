import pytest
from pyspark.sql import functions as F

from fugue_warehouses_spark.extensions import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs away "
        "into the deep dark forest to find some food for the winter"
    )
    near = base.replace("winter", "summer")
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "completely different text about spark shuffles and joins ok"),
        (4, "another unrelated document mentioning embeddings and vectors"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    assert D.exact_dedup(docs, ["text"]).count() == 4


def test_fingerprint_dedup_keeps_min_id(spark, docs):
    out = D.fingerprint_dedup(docs, "text", "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0, 2, 3, 4}


def test_ngram_jaccard_pairs(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert all(r["jaccard_sim"] <= 1.0 for r in pairs)
    exact = [r for r in pairs if (r["id_a"], r["id_b"]) == (0, 1)][0]
    assert exact["jaccard_sim"] == 1.0


def test_minhash_near_dup_pairs(spark, docs):
    pairs = D.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got
    assert not any(3 in p or 4 in p for p in got)


def test_simhash_near_dup_pairs(spark, docs):
    pairs = D.near_dup_pairs_simhash(docs, "doc_id", "text", max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got
    assert not any((3 in p and 4 in p) for p in got)


def test_connected_components_and_dedup(spark, docs):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    comps = {r["id"]: r["component"] for r in D.connected_components(edges).collect()}
    assert comps == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    kept = D.dedup_near(docs, edges, "doc_id")
    assert {r["doc_id"] for r in kept.collect()} == {0, 3}


def test_dedup_near_canonical_policy(spark):
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [
            # component {0,1,2}: doc 1 is longest -> survives over min-id 0
            (0, "a" * 10),
            (1, "b" * 30),
            (2, "c" * 20),
            # component {3,4}: equal length -> tie broken to min id 3
            (3, "d" * 15),
            (4, "e" * 15),
            # unpaired -> passes through as a size-1 cluster
            (5, "f" * 5),
        ],
        "doc_id long, text string",
    ).withColumn("n_chars", F.length("text"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    kept = {
        r["doc_id"]: r["sz"]
        for r in D.dedup_near_canonical(
            rows,
            edges,
            "doc_id",
            order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
            cluster_size_col="sz",
        ).collect()
    }
    assert kept == {1: 3, 3: 2, 5: 1}
    # without cluster_size_col the size column is dropped
    cols = D.dedup_near_canonical(
        rows, edges, "doc_id", order_by=[F.col("doc_id").asc()]
    ).columns
    assert cols == rows.columns


def test_chain_components_converge(spark):
    # a 6-node chain exercises multi-round propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    comps = {r["id"]: r["component"] for r in D.connected_components(edges).collect()}
    assert set(comps.values()) == {0}


def test_minhash_on_real_documents(spark, tables):
    docs = tables["documents"]
    pairs = D.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.9)
    # deterministic: run twice, same result
    a = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert a == b


def test_minhash_lsh_full_recall_on_fixture(spark, tables):
    """LSH recall is 1.0 on the fixture corpus: the banded MinHash
    pipeline finds EXACTLY the pairs exact all-pairs Jaccard finds.

    This is the load-bearing claim behind doc_minhash_near_dups'
    DuckDB oracle (queries.py) — true near-dups in the fixture sit at
    J>=0.9 where the (r=8, b=8) S-curve capture probability is ~1.
    If the fixture's similarity profile ever drifts toward the 0.6
    threshold, this test catches it before the oracle gate does.
    """
    docs = tables["documents"]
    lsh = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 6))
        for r in D.near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.6
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 6))
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.6
        ).collect()
    }
    assert lsh == exact


def test_minhash_string_ids(spark):
    rows = [("da", "the quick brown fox jumps over the lazy dog " * 4),
            ("db", "the quick brown fox jumps over the lazy dog " * 4),
            ("dc", "a completely different document about spark engines")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = D.near_dup_pairs_minhash(df, "doc_id", "text", threshold=0.6)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {("da", "db")}


def test_simhash_banding_complete_vs_bruteforce(spark, tables):
    """Pigeonhole completeness: banded SimHash (4 bands, hamming<=3)
    equals brute-force exact Hamming over all pairs — the claim that
    makes doc_simhash_near_dups exact rather than approximate."""
    from fugue_warehouses_spark.extensions.dedup import (
        _simhash_bits_numpy,
        hamming,
    )

    docs = tables["documents"]
    banded = {
        (r["id_a"], r["id_b"], r["hamming_dist"])
        for r in D.near_dup_pairs_simhash(
            docs, "doc_id", "text", max_hamming=3, bands=4
        ).collect()
    }
    bits = _simhash_bits_numpy(docs, "doc_id", "text", 64)
    a = bits.select(F.col("doc_id").alias("id_a"), F.col("__bits").alias("__ba"))
    b = bits.select(F.col("doc_id").alias("id_b"), F.col("__bits").alias("__bb"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming_dist"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming_dist", hamming(F.col("__ba"), F.col("__bb")))
        .filter(F.col("hamming_dist") <= 3)
        .collect()
    }
    assert banded == brute


def test_lsh_mega_bucket_cap(spark):
    """max_bucket_size drops degenerate buckets before the self-join:
    a clique of identical docs produces zero candidates under a cap
    smaller than the clique, and the full pair set without it."""
    rows = [(i, "identical boilerplate text repeated " * 5) for i in range(5)]
    rows += [(10, "a unique document about engines"),
             (11, "another unique document entirely different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.near_dup_pairs_minhash(df, "doc_id", "text", threshold=0.9)
    assert len(uncapped.collect()) == 10  # 5-clique = C(5,2)
    capped = D.near_dup_pairs_minhash(
        df, "doc_id", "text", threshold=0.9, max_bucket_size=2
    )
    assert capped.collect() == []


def test_duplicate_spans_finds_shared_passage(spark):
    """Two docs sharing an 8-token passage inside otherwise different
    text — whole-doc near-dup would score them low, span dedup hits."""
    passage = "one two three four five six seven eight"
    rows = [
        (0, f"alpha beta {passage} gamma delta epsilon zeta"),
        (1, f"totally different start {passage} and a different end here"),
        (2, "no shared passages in this document at all nine ten eleven"),
        (3, "short doc"),  # < window tokens: contributes no spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = D.duplicate_spans(df, window=8).collect()
    assert {r["span"] for r in spans} == {passage}
    assert spans[0]["n_docs"] == 2 and spans[0]["n_occ"] == 2


def test_duplicate_span_coverage_merges_overlaps(spark):
    """Identical 10-token docs: every window duplicates, coverage must
    be ALL 10 tokens (position-distinct merges the overlapping
    windows), not windows*8."""
    text = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(0, text, "s1"), (1, text, "s1"), (2, "unrelated words only", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in D.duplicate_span_coverage(df, window=8).collect()}
    assert out["s1"]["n_docs"] == 2
    assert out["s1"]["n_docs_with_dup"] == 2
    assert out["s1"]["dup_tokens"] == 20  # 10 per doc, fully covered
    assert out["s1"]["total_tokens"] == 20
    assert out["s1"]["dup_token_ppm"] == 1_000_000
    assert out["s2"]["dup_tokens"] == 0 and out["s2"]["n_docs_with_dup"] == 0


def test_duplicate_spans_within_doc_repeat_not_cross_doc(spark):
    """A passage repeated twice INSIDE one doc is not a cross-document
    duplicate (min_docs counts distinct docs)."""
    p = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(
        [(0, f"{p} filler filler {p}"), (1, "nothing in common here at all x y z")],
        "doc_id long, text string",
    )
    assert D.duplicate_spans(df, window=8).count() == 0


def test_incremental_dedup_drops_seen_and_batch_dups(spark):
    hist = spark.createDataFrame(
        [(0, "seen before text"), (1, "also already ingested")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "Seen  Before   text"),   # dup of history after normalize
            (11, "brand new document"),
            (12, "brand NEW    document"), # dup within batch -> keep min id
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in D.incremental_dedup(batch, hist).collect()}
    assert kept == {11, 13}


# --------------------------------------------- incremental LSH index


def test_near_dup_against_index_matches_full_pipeline(spark, tables):
    """Batch-vs-index pairs == full-corpus near-dup pairs restricted to
    pairs whose left side is a batch doc."""
    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    idx = D.build_minhash_index(hist, "doc_id", "text")
    got = {
        (r["id_new"], r["id_match"], round(r["jaccard_sim"], 6))
        for r in D.near_dup_pairs_against_index(
            new, idx, "doc_id", "text", threshold=0.6
        ).collect()
    }
    full = D.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6)
    want = set()
    for r in full.collect():
        a, b, j = r["id_a"], r["id_b"], round(r["jaccard_sim"], 6)
        # full pipeline emits id_a < id_b; restrict to pairs with a
        # batch doc on at least one side and orient batch-side left
        if b % 5 == 4:
            want.add((b, a, j))
        elif a % 5 == 4:
            want.add((a, b, j))
    assert got == want and got, "expected some cross/batch pairs"


def test_near_dup_against_persisted_index(spark, tables, tmp_path):
    """The real rolling-corpus loop: index persisted via the versioned
    store, reloaded, and used for batch dedup — no corpus rescan."""
    from fugue_warehouses_spark.plans import versioned as V

    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    store = str(tmp_path / "minhash_index")
    V.write_version(D.build_minhash_index(hist, "doc_id", "text"), store)
    idx = V.read_version(spark, store)
    live = D.near_dup_pairs_against_index(
        new, D.build_minhash_index(hist, "doc_id", "text"),
        "doc_id", "text", threshold=0.6,
    )
    persisted = D.near_dup_pairs_against_index(
        new, idx, "doc_id", "text", threshold=0.6
    )
    as_set = lambda df: {
        (r["id_new"], r["id_match"], round(r["jaccard_sim"], 6))
        for r in df.collect()
    }
    assert as_set(persisted) == as_set(live)
    # the persisted path must not read the documents table at all on
    # the index side (signatures + grams come from the store)
    files = set(persisted.inputFiles())
    assert any("minhash_index" in f for f in files)


def test_near_dup_against_prebuilt_band_index(spark, tables, tmp_path):
    """A persisted band table (build_minhash_band_index) must answer
    identically to in-call index banding — the round-8 amortization
    that keeps the per-batch plan batch-sized even in the banding
    stage — and the stored-signature length guard moves to build
    time."""
    from fugue_warehouses_spark.plans import versioned as V

    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    store = str(tmp_path / "sigs")
    bstore = str(tmp_path / "bands")
    V.write_version(D.build_minhash_index(hist, "doc_id", "text"), store)
    idx = V.read_version(spark, store)
    V.write_version(D.build_minhash_band_index(idx, "doc_id"), bstore)
    bands = V.read_version(spark, bstore)
    # self-describing: build params ride along for the probe's guard
    assert set(bands.columns) == {"doc_id", "band", "bucket", "__nh", "__bands"}
    as_set = lambda df: {
        (r["id_new"], r["id_match"], round(r["jaccard_sim"], 6))
        for r in df.collect()
    }
    inline = as_set(
        D.near_dup_pairs_against_index(
            new, idx, "doc_id", "text", threshold=0.6
        )
    )
    prebuilt = as_set(
        D.near_dup_pairs_against_index(
            new, idx, "doc_id", "text", threshold=0.6,
            index_bands_df=bands,
        )
    )
    assert prebuilt == inline and prebuilt
    # the length guard fires at band-BUILD time for a mismatched index
    short = D.build_minhash_index(hist.limit(3), num_hashes=32)
    with pytest.raises(Exception, match="num_hashes=64"):
        D.build_minhash_band_index(short, "doc_id", num_hashes=64).count()
    # a stale band table (different build params) must fail LOUDLY in
    # the probe, not silently miss every cross pair (round-8 review)
    stale = D.build_minhash_band_index(idx, "doc_id", bands=4)
    with pytest.raises(Exception, match="different"):
        D.near_dup_pairs_against_index(
            new, idx, "doc_id", "text", threshold=0.6,
            index_bands_df=stale,
        ).count()


def test_near_dup_against_index_rejects_num_hashes_mismatch(spark):
    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    idx = D.build_minhash_index(df, num_hashes=32)
    with pytest.raises(Exception, match="num_hashes=64"):
        D.near_dup_pairs_against_index(df, idx, num_hashes=64).count()


def test_near_dup_against_index_rejects_replayed_batch(spark):
    """A batch id also present in the index (contract violation: the
    batch was replayed after indexing) fails loudly in-plan instead of
    emitting a silent jaccard-1.0 self-pair."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    idx = D.build_minhash_index(df)
    with pytest.raises(Exception, match="disjoint"):
        D.near_dup_pairs_against_index(df, idx).count()


@pytest.mark.parametrize("verify", ["grams", "signature"])
def test_index_probe_broadcast_and_shuffle_verify_agree(
    spark, tables, monkeypatch, verify
):
    """The index probe verifies a candidate set under the byte budget
    by broadcast and a larger one by the sized SHUFFLE_HASH join. Both
    branches must return identical (id_new, id_match, jaccard_sim),
    with and without a prebuilt band table; the bounded.decisions
    record names the branch and its sizing inputs; the replay guard
    fires on both."""
    from fugue_warehouses_spark.plans.bounded import decisions

    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    keep_grams = verify == "grams"
    idx = D.build_minhash_index(
        hist, "doc_id", "text", keep_grams=keep_grams
    ).localCheckpoint()
    bands = D.build_minhash_band_index(idx, "doc_id").localCheckpoint()

    def probe(index_bands_df, budget):
        with monkeypatch.context() as m:
            m.setattr(D, "_PROBE_BROADCAST_BYTES", budget)
            rows = D.near_dup_pairs_against_index(
                new, idx, "doc_id", "text", threshold=0.6,
                index_bands_df=index_bands_df, verify=verify,
            ).collect()
        return sorted(tuple(r) for r in rows), decisions[
            "index_probe_broadcast"
        ]

    for index_bands_df in (None, bands):
        small, d = probe(index_bands_df, D._PROBE_BROADCAST_BYTES)
        assert d["taken"] is True and d["nparts"] is None
        n_cand = d["n_cand_ids"]
        big, d = probe(index_bands_df, -1)
        assert d["taken"] is False
        assert d["n_cand_ids"] == n_cand > 0 and d["nparts"] >= 1
        assert small == big and small

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    replayed = D.build_minhash_index(df, keep_grams=keep_grams)
    for budget, taken in ((D._PROBE_BROADCAST_BYTES, True), (-1, False)):
        with monkeypatch.context() as m:
            m.setattr(D, "_PROBE_BROADCAST_BYTES", budget)
            with pytest.raises(Exception, match="disjoint"):
                D.near_dup_pairs_against_index(
                    df, replayed, verify=verify
                ).count()
        assert decisions["index_probe_broadcast"]["taken"] is taken


def test_incremental_dedup_bloom_matches_exact(spark):
    """The Bloom-prefiltered plan must return EXACTLY the exact plan's
    rows — including when the filter is deliberately undersized so
    false positives are common (they only add exact-join traffic)."""
    hist = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(40)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, f"seen doc {i}") for i in range(10)]  # dups vs history
        + [(200 + i, f"new doc {i}") for i in range(10)]  # novel
        + [(300, "twin text"), (301, "twin text")],  # within-batch dup
        "doc_id long, text string",
    )
    exact = {r["doc_id"] for r in D.incremental_dedup(batch, hist).collect()}
    for m_bits in (1 << 20, 64):  # roomy, and absurdly undersized
        got = {
            r["doc_id"]
            for r in D.incremental_dedup_bloom(
                batch, hist, m_bits=m_bits
            ).collect()
        }
        assert got == exact, m_bits
    assert exact == {200 + i for i in range(10)} | {300}


def test_incremental_dedup_bloom_empty_history(spark):
    hist = spark.createDataFrame([], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in D.incremental_dedup_bloom(batch, hist).collect()}
    assert got == {1, 3}


def test_fingerprint_bloom_is_bounded_and_reusable(spark):
    """The bitset relation is <= m_bits/64 rows regardless of history
    size, and a precomputed bloom_df gives the same answer (the
    persist-across-batches path)."""
    hist = spark.createDataFrame(
        [(i, f"doc number {i % 50}") for i in range(500)],
        "doc_id long, text string",
    )
    bloom = D.fingerprint_bloom(hist, m_bits=1 << 12, k=5)
    assert bloom.count() <= (1 << 12) // 64
    batch = spark.createDataFrame(
        [(1000, "doc number 7"), (1001, "never seen")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in D.incremental_dedup_bloom(
            batch, hist, m_bits=1 << 12, k=5, bloom_df=bloom
        ).collect()
    }
    assert got == {1001}


def test_incremental_dedup_bloom_sparse_probe_path(spark):
    """m_bits above the dense cap routes through the join-based sparse
    probe (no driver bitset materialization) with identical results."""
    hist = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(20)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "seen doc 3"), (101, "brand new")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]
        for r in D.incremental_dedup_bloom(
            batch, hist, m_bits=1 << 30, k=5  # > 2^24 dense cap
        ).collect()
    }
    assert got == {101}


def test_incremental_dedup_bloom_persisted_state(spark):
    """The rolling-corpus shape: precomputed bloom + fingerprint table
    answer identically to the inline rebuild, and the history frame is
    not consulted at all (passing an EMPTY history proves the persisted
    state carries the whole exact check)."""
    from fugue_warehouses_spark.functions.text import fingerprint

    hist = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(30)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "seen doc 3"), (101, "brand new"), (102, "brand new")],
        "doc_id long, text string",
    )
    bloom = D.fingerprint_bloom(hist, m_bits=1 << 12, k=5)
    fps = hist.select(fingerprint("text").alias("__fp")).distinct()
    empty_hist = spark.createDataFrame([], "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in D.incremental_dedup_bloom(
            batch,
            empty_hist,
            m_bits=1 << 12,
            k=5,
            bloom_df=bloom,
            history_fp_df=fps,
        ).collect()
    }
    assert got == {101}


def test_verify_partition_sizing_math():
    """The SHUFFLE_HASH build budget: partition count scales with
    candidate bytes, clamped to [default parallelism, 4096]."""
    # tiny candidate sets never go below the cluster's slot count
    assert D._verify_partitions(25, 1500.0, 32) == 32
    # 100k candidates x ~1.3k grams x 16B ≈ 2.1GB / 32MB → ~66 parts
    n = D._verify_partitions(100_000, 1300.0, 32)
    assert 60 <= n <= 80
    # monotone in both candidate count and gram length
    assert D._verify_partitions(200_000, 1300.0, 32) > n
    assert D._verify_partitions(100_000, 2600.0, 32) > n
    # never exceeds the scheduling-sanity cap
    assert D._verify_partitions(10**9, 10**5, 32) == 4096


def test_jaccard_threshold_cuts_on_rounded_value(spark):
    """Rounded-before-cut boundary: 1-gram Jaccard of 'abc' vs 'ab' is
    2/3 = 0.666666..., which ROUNDS to 0.666667 — a threshold of
    exactly 0.666667 must admit the pair (the oracle twins filter the
    rounded column), and the size prefilter's epsilon relaxation must
    not lose it either. A raw-value cut would drop it."""
    df = spark.createDataFrame(
        [(1, "abc", "s"), (2, "ab", "s")],
        "doc_id long, text string, source string",
    )
    rows = D.ngram_jaccard_pairs(
        df, "doc_id", "text", block_col="source", n=1, threshold=0.666667
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard_sim"]) for r in rows] == [
        (1, 2, 0.666667)
    ]
    # raw cut (round_digits=None) excludes the same pair
    assert (
        D.ngram_jaccard_pairs(
            df, "doc_id", "text", block_col="source", n=1,
            threshold=0.666667, round_digits=None,
        ).count()
        == 0
    )


def test_bloom_params_travel_with_bitset(spark):
    """fingerprint_bloom stamps (m_bits, k) onto the bitset relation;
    a probe given that bitset ADOPTS the stamped params even when the
    caller's m_bits/k arguments drifted (config change / redeploy) —
    the scenario that would otherwise silently break exactness via
    Bloom false negatives. Covered on both probe paths (dense and
    sparse, selected by the ADOPTED m_bits)."""
    hist = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(30)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "seen doc 3"), (101, "brand new")], "doc_id long, text string"
    )
    for built_m in (1 << 12, (1 << 29) + 64):  # dense-path and sparse-path
        bloom = D.fingerprint_bloom(hist, m_bits=built_m, k=3)
        assert {"m_bits", "k"} <= set(bloom.columns)
        got = {
            r["doc_id"]
            for r in D.incremental_dedup_bloom(
                batch, hist, m_bits=1 << 20, k=5, bloom_df=bloom  # wrong args
            ).collect()
        }
        assert got == {101}, built_m


def test_bloom_legacy_param_mismatch_raises(spark):
    """A param-less (legacy) bitset built with LARGER m_bits than the
    probe's must fail loudly on both paths — stored word indices out of
    the probe's range mean the mismatch is corrupting (silent false
    negatives), not suboptimal."""
    hist = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(30)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "seen doc 3")], "doc_id long, text string"
    )
    # dense probe (m_bits=64 -> 1 word) vs filter built at 2^12 bits
    legacy = D.fingerprint_bloom(hist, m_bits=1 << 12, k=5).select(
        "word", "mask"
    )
    with pytest.raises(ValueError, match="CORRUPTING|word index"):
        D.incremental_dedup_bloom(
            batch, hist, m_bits=64, k=5, bloom_df=legacy
        ).collect()
    # sparse probe (m_bits=2^30 > dense cap) vs filter built at 2^32
    legacy_big = D.fingerprint_bloom(hist, m_bits=1 << 32, k=5).select(
        "word", "mask"
    )
    with pytest.raises(ValueError, match="CORRUPTING|word index"):
        D.incremental_dedup_bloom(
            batch, hist, m_bits=1 << 30, k=5, bloom_df=legacy_big
        ).collect()


def test_bloom_mixed_param_bitset_raises(spark):
    """A bitset relation unioned from filters built with DIFFERENT
    (m_bits, k) — e.g. a versioned-store read across a config change —
    has no single correct probe geometry; adopting an arbitrary row's
    params reintroduces the build/probe skew the stamping prevents.
    Probe must refuse loudly."""
    hist = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(10)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "seen doc 3")], "doc_id long, text string"
    )
    mixed = D.fingerprint_bloom(hist, m_bits=1 << 12, k=3).unionByName(
        D.fingerprint_bloom(hist, m_bits=1 << 13, k=5)
    )
    with pytest.raises(ValueError, match="different params"):
        D.incremental_dedup_bloom(batch, hist, bloom_df=mixed).collect()


def test_sig_checkpoint_level_heap_adaptive(spark):
    """The signature-checkpoint storage level is picked from the heap:
    DISK_ONLY below the threshold (tight heaps GC-thrash the verify
    hash build around corpus-sized cached blocks — SCALE_NOTES r5),
    MEMORY_AND_DISK above it (A/B r6: memory wins 3.10 vs 3.62 s warm
    at sf0.1/24g). Cluster shape: spark.executor.memory governs when
    set, since the blocks live on executors."""
    from pyspark import StorageLevel

    from fugue_warehouses_spark.extensions.dedup import _sig_checkpoint_level

    class _Conf:
        def __init__(self, mem):
            self._mem = mem

        def get(self, key, default=None):
            return self._mem if key == "spark.executor.memory" else default

    class _SC:
        def __init__(self, mem):
            self._c = _Conf(mem)

        def getConf(self):
            return self._c

    class _Spark:
        def __init__(self, mem):
            self.sparkContext = _SC(mem)

    assert _sig_checkpoint_level(_Spark("8g")) == StorageLevel.DISK_ONLY
    assert _sig_checkpoint_level(_Spark("14g")) == StorageLevel.DISK_ONLY
    assert _sig_checkpoint_level(_Spark("16g")) == StorageLevel.MEMORY_AND_DISK
    assert _sig_checkpoint_level(_Spark("16384m")) == StorageLevel.MEMORY_AND_DISK
    # suffix-less config: Spark's JavaUtils reads a bare number as MiB
    # ("16384" == 16g) — must NOT land on DISK_ONLY via a bytes reading
    assert _sig_checkpoint_level(_Spark("16384")) == StorageLevel.MEMORY_AND_DISK
    assert _sig_checkpoint_level(_Spark("8192")) == StorageLevel.DISK_ONLY
    # introspection failure degrades to slower, never to OOM
    assert _sig_checkpoint_level(object()) == StorageLevel.DISK_ONLY
    # the live local session must resolve without throwing
    assert _sig_checkpoint_level(spark) in (
        StorageLevel.DISK_ONLY,
        StorageLevel.MEMORY_AND_DISK,
    )


def test_signature_verify_mode_on_grams_free_index(spark, tables):
    """verify='signature' (round 11, the TB-scale serving mode): a
    signature-ONLY index (keep_grams=False, ~11x smaller) must band
    and verify without ever touching a grams column, its Jaccard
    ESTIMATES must track the exact-grams values within the
    estimator's deviation on this deterministic corpus, and exact
    duplicates (estimate provably 1.0) must be found identically in
    both modes."""
    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)

    slim = D.build_minhash_index(hist, "doc_id", "text", keep_grams=False)
    assert "__grams" not in slim.columns

    est_pairs = D.near_dup_pairs_against_index(
        new, slim, "doc_id", "text", threshold=0.6, verify="signature"
    ).collect()
    est = {(r["id_new"], r["id_match"]): r["jaccard_sim"] for r in est_pairs}
    assert est, "signature mode found no pairs on a corpus with dups"

    full = D.build_minhash_index(hist, "doc_id", "text")
    exact = {
        (r["id_new"], r["id_match"]): r["jaccard_sim"]
        for r in D.near_dup_pairs_against_index(
            new, full, "doc_id", "text", threshold=0.6
        ).collect()
    }

    # one-way implication: exact Jaccard 1.0 (identical gram sets)
    # forces identical signatures, so the estimate must be 1.0 too.
    # The CONVERSE is false by design — near-identical docs can
    # collide on all 64 components (est 1.0, exact < 1.0) — which is
    # exactly the estimator's documented variance at the top end.
    for k, v in exact.items():
        if v == 1.0:
            assert est.get(k) == 1.0, (k, est.get(k))

    # every pair BOTH modes report: estimate within 4 sigma of exact
    # (num_hashes=64 -> sigma <= 0.0625); deterministic, not flaky —
    # the hash family is seeded and the corpus fixed
    both = set(est) & set(exact)
    assert both
    for k in both:
        assert abs(est[k] - exact[k]) <= 4 * 0.0625, (k, est[k], exact[k])

    # pairs comfortably above threshold in exact terms must not be
    # lost by the estimator (boundary pairs may flip; these must not)
    for k, v in exact.items():
        if v >= 0.6 + 4 * 0.0625:
            assert k in est, (k, v)


def test_grams_verify_refuses_signature_only_index(spark, tables):
    """Exact verification without stored grams must fail loudly with
    guidance, not with an opaque unresolved-column error."""
    import pytest as _pytest

    docs = tables["documents"]
    slim = D.build_minhash_index(
        docs.filter(F.col("doc_id") % 5 != 4), "doc_id", "text",
        keep_grams=False,
    )
    with _pytest.raises(ValueError, match="signature"):
        D.near_dup_pairs_against_index(
            docs.filter(F.col("doc_id") % 5 == 4), slim,
            "doc_id", "text", threshold=0.6,
        )
    with _pytest.raises(ValueError, match="verify must be"):
        D.near_dup_pairs_against_index(
            docs.filter(F.col("doc_id") % 5 == 4), slim,
            "doc_id", "text", threshold=0.6, verify="exact",
        )


def test_signature_estimate_matches_python_reference(spark, tables):
    """The estimator's arithmetic pinned against an independent
    reference: for every pair signature mode reports, recompute the
    matching-component fraction in plain Python from the collected
    signature arrays — values must match exactly (after the facet
    rounding), not just statistically."""
    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    slim = D.build_minhash_index(hist, "doc_id", "text", keep_grams=False)
    got = D.near_dup_pairs_against_index(
        new, slim, "doc_id", "text", threshold=0.6, verify="signature"
    ).collect()
    assert got

    sigs = {
        r["doc_id"]: list(r["__sig"])
        for r in D.build_minhash_index(docs, "doc_id", "text")
        .select("doc_id", "__sig")
        .collect()
    }
    for r in got:
        sa, sb = sigs[r["id_new"]], sigs[r["id_match"]]
        assert len(sa) == len(sb) == 64
        frac = sum(1 for x, y in zip(sa, sb) if x == y) / 64.0
        assert round(frac, 6) == r["jaccard_sim"], (
            r["id_new"], r["id_match"], frac, r["jaccard_sim"]
        )


def test_reverify_recovers_exact_pair_set_from_estimates(spark, tables):
    """The hybrid recipe's exactness-recovery property (round 11):
    signature capture at threshold-band, then
    reverify_pairs_from_text at threshold with the same band, must
    reproduce the exact grams pipeline's PAIR SET at threshold —
    with band = 4 sigma (0.25 at 64 hashes), which bounds every
    estimator deviation the fixture exhibits. Boundary pairs carry
    exact recomputed values; confident pairs pass through with their
    estimates untouched."""
    docs = tables["documents"]
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    t, band = 0.6, 0.25

    slim = D.build_minhash_index(hist, "doc_id", "text", keep_grams=False)
    captured = D.near_dup_pairs_against_index(
        new, slim, "doc_id", "text", threshold=t - band, verify="signature"
    )
    hybrid = {
        (r["id_new"], r["id_match"]): r["jaccard_sim"]
        for r in D.reverify_pairs_from_text(
            captured, docs, threshold=t, band=band
        ).collect()
    }

    full = D.build_minhash_index(hist, "doc_id", "text")
    exact = {
        (r["id_new"], r["id_match"]): r["jaccard_sim"]
        for r in D.near_dup_pairs_against_index(
            new, full, "doc_id", "text", threshold=t
        ).collect()
    }
    assert set(hybrid) == set(exact) and hybrid

    # boundary pairs (estimated < t+band in the captured set) must
    # carry the exact value; confident ones their untouched estimate
    est_vals = {
        (r["id_new"], r["id_match"]): r["jaccard_sim"]
        for r in captured.collect()
    }
    for k, v in hybrid.items():
        if est_vals[k] < t + band:
            assert v == exact[k], (k, v, exact[k])
        else:
            assert v == est_vals[k], (k, v, est_vals[k])


def test_reverify_missing_doc_fails_loudly(spark, tables):
    """A boundary pair referencing an id absent from docs must raise
    with the recipe's guidance, never silently drop the pair."""
    import pytest as _pytest

    docs = tables["documents"]
    pairs = spark.createDataFrame(
        [(999_999_999, 0, 0.61)],
        "id_new long, id_match long, jaccard_sim double",
    )
    with _pytest.raises(Exception, match="absent from docs"):
        D.reverify_pairs_from_text(
            pairs, docs, threshold=0.6, band=0.25
        ).count()


def test_simhash_batch_kernel_matches_per_token_reference(spark):
    """Round 11: the batch-vectorized SimHash kernel (one reduceat
    pass over the batch's concatenated token bytes) must produce
    bit-identical signatures to the per-token formulation it replaced
    — including wrapping uint64 polynomial hashes, multi-byte UTF-8
    tokens, empty documents and whitespace-only documents."""
    import numpy as np

    from fugue_warehouses_spark.extensions.dedup import _simhash_bits_numpy

    C1 = np.uint64(0xBF58476D1CE4E5B9)
    C2 = np.uint64(0x94D049BB133111EB)

    def mix(h):
        h = (h ^ (h >> np.uint64(30))) * C1
        h = (h ^ (h >> np.uint64(27))) * C2
        return h ^ (h >> np.uint64(31))

    def ref_bits(text, bits=64):
        toks = (text or "").split()
        if not toks:
            hs = np.zeros(1, dtype=np.uint64)
        else:
            hs = np.array(
                [
                    np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                    .astype(np.uint64)
                    .dot(
                        np.uint64(257)
                        ** np.arange(
                            len(t.encode("utf-8")) - 1, -1, -1,
                            dtype=np.uint64,
                        )
                    )
                    for t in toks
                ],
                dtype=np.uint64,
            )
        hs = mix(hs)
        shifts = np.arange(bits, dtype=np.uint64)
        bitmat = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
        return ((2 * bitmat.astype(np.int64) - 1).sum(axis=0) >= 0).astype(
            np.int32
        ).tolist()

    texts = [
        "",                      # empty
        "   \t  ",               # whitespace-only
        "one",                   # single token
        "the quick brown fox jumps over the lazy dog " * 7,
        "çédille ünïcode tökens mixed with ascii and 漢字 字符",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "repeated repeated repeated repeated repeated",
        "x" * 300,               # one long token (pow-table length)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["__bits"])
        for r in _simhash_bits_numpy(df, "doc_id", "text", 64).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref_bits(t), f"doc {i} mismatch"
